package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Same seed, same inputs.
  *
  * CDC events follow the shape of the sf0.1 `events` table: 1500 users per
  * replica, five event types drawn uniformly (signup→c, view→r, error→d,
  * click/purchase→u, the mapping of `Cdc.flatten`), values 0..560 with two
  * decimals, `prop_k` 0..99, source times spread over January 2024. Larger
  * inputs replicate that base with shifted user and event ids, as the
  * repository's scale smoke does. Documents draw from the sf0.1 documents'
  * 30-word vocabulary with the same 10..100-word lengths. */
object Gen {
  val UsersPerReplica = 1500
  val EventIdShift = 1000000L
  val Jan2024Ms = 1704067200000L
  val MonthMs = 30L * 86400000L
  private val Types = Array("signup", "view", "error", "click", "purchase")

  def opOf(eventType: String): String = eventType match {
    case "signup" => "c"
    case "view" => "r"
    case "error" => "d"
    case _ => "u"
  }

  /** The Connect value schema the CDC workloads hand to `startJson`. */
  val SchemaJson: String =
    """{"type":"struct","fields":[
      |{"field":"event_id","type":"int64"},
      |{"field":"user_id","type":"int64"},
      |{"field":"event_type","type":"string"},
      |{"field":"value","type":"float64"},
      |{"field":"prop_k","type":"int64"},
      |{"field":"__op","type":"string"},
      |{"field":"__source_ts_ms","type":"int64","name":"io.debezium.time.Timestamp"},
      |{"field":"__deleted","type":"string"}]}""".stripMargin

  def event(r: SplittableRandom, eventId: Long, userId: Long, ms: Long): Ev = {
    val t = Types(r.nextInt(Types.length))
    Ev(eventId, userId, t, r.nextInt(56022) / 100.0, r.nextInt(100).toLong,
      opOf(t), ms)
  }

  /** A landed input file: its lines, and the events among them (redelivered
    * copies included) in line order. Malformed lines carry no event. */
  final case class CdcFile(lines: Seq[String], events: Seq[Ev])

  /** The catch-up changelog: `replicas` × `perReplica` events, arriving in
    * source-time order cut into `files` files, with `lateShare` of events
    * held back one or two files, `redeliverShare` delivered a second time
    * in a later (or the same) file, and `malformedShare` malformed lines
    * (half unparseable, half without their key). Returns the files and
    * the malformed lines with the dead-letter reason each must get. */
  def spreadChangelog(seed: Long, replicas: Int, perReplica: Int, files: Int,
                      lateShare: Double, redeliverShare: Double,
                      malformedShare: Double)
      : (Seq[CdcFile], Seq[(String, String)]) = {
    val r = new SplittableRandom(seed)
    val evs = (0 until replicas).flatMap { rep =>
      (0 until perReplica).map { i =>
        event(r, rep * EventIdShift + i, rep.toLong * UsersPerReplica +
          r.nextInt(UsersPerReplica), Jan2024Ms + r.nextLong(MonthMs))
      }
    }.sortBy(e => (e.srcMs, e.eventId))
    val per = (evs.size + files - 1) / files
    val slots = Array.fill(files)(ArrayBuffer.empty[Either[String, Ev]])
    evs.zipWithIndex.foreach { case (e, i) =>
      val home = i / per
      val f =
        if (home < files - 1 && r.nextDouble() < lateShare)
          math.min(files - 1, home + 1 + r.nextInt(2))
        else home
      slots(f) += Right(e)
      if (r.nextDouble() < redeliverShare)
        slots(math.min(files - 1, f + r.nextInt(2))) += Right(e)
    }
    val malformed = ArrayBuffer.empty[(String, String)]
    val nBad = math.round(evs.size * malformedShare).toInt
    (0 until nBad).foreach { j =>
      val e = evs(r.nextInt(evs.size))
      val bad =
        if (j % 2 == 0) e.json.take(20 + r.nextInt(30)) + s" #bad$j" -> "malformed_json"
        else e.json.replace(s""""user_id":${e.userId},""", "")
          .replace(s""""event_id":${e.eventId}""", s""""event_id":${-1L - j}""") ->
          "null_required:user_id"
      malformed += bad
      val f = slots(r.nextInt(files))
      f.insert(r.nextInt(f.size + 1), Left(bad._1))
    }
    val out = slots.toSeq.map { s =>
      CdcFile(s.map(_.fold(identity, _.json)).toSeq, s.collect { case Right(e) => e }.toSeq)
    }
    (out, malformed.toSeq)
  }

  /** A bootstrap file: one create per user. */
  def bootstrap(seed: Long, users: Int): CdcFile = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val evs = (0 until users).map { u =>
      val e = event(r, u.toLong, u.toLong, Jan2024Ms + u)
      e.copy(eventType = "signup", op = "c")
    }
    CdcFile(evs.map(_.json), evs)
  }

  val Vocabulary: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** A generated document: `source` is the id it copies or edits (-1 for
    * an original), `kind` one of "base", "resend", "edit". */
  final case class Doc(id: Long, text: String, kind: String, source: Long)

  /** Corpus batches: `batches` × `perBatch` documents with increasing ids.
    * `resendShare` are exact re-sends and `editShare` light edits (1..3
    * word substitutions) of an earlier ORIGINAL, drawn from this or an
    * earlier batch, so both land within and across batches. */
  def corpus(seed: Long, batches: Int, perBatch: Int, resendShare: Double,
             editShare: Double): Seq[Seq[Doc]] = {
    val r = new SplittableRandom(seed ^ 0xd0c5L)
    val originals = ArrayBuffer.empty[Doc]
    var next = 0L
    (0 until batches).map { _ =>
      (0 until perBatch).map { _ =>
        val id = next
        next += 1
        val u = r.nextDouble()
        if (originals.nonEmpty && u < resendShare) {
          val s = originals(r.nextInt(originals.size))
          Doc(id, s.text, "resend", s.id)
        } else if (originals.nonEmpty && u < resendShare + editShare) {
          val s = originals(r.nextInt(originals.size))
          val words = s.text.split(" ")
          (1 to 1 + r.nextInt(3)).foreach { _ =>
            words(r.nextInt(words.length)) = Vocabulary(r.nextInt(Vocabulary.length))
          }
          Doc(id, words.mkString(" "), "edit", s.id)
        } else {
          val n = 10 + r.nextInt(91)
          val d = Doc(id, Array.fill(n)(Vocabulary(r.nextInt(Vocabulary.length)))
            .mkString(" "), "base", -1L)
          originals += d
          d
        }
      }
    }
  }

  /** Distinct word 3-shingles, the tokenization graft's MinHash uses
    * (lower-cased, whitespace-split). */
  def shingles(text: String): Set[String] =
    text.trim.toLowerCase.split("\\s+").sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val x = shingles(a)
    val y = shingles(b)
    if (x.isEmpty && y.isEmpty) 1.0
    else (x intersect y).size.toDouble / (x union y).size
  }
}
