package graftbench

import scala.collection.mutable

/** One change event as the benchmark generates it and as a snapshot row
  * reads back: the MERGE key is `userId`. */
final case class Ev(eventId: Long, userId: Long, eventType: String,
                    value: Double, propK: Long, op: String, srcMs: Long) {
  def deleted: Boolean = op == "d"

  /** The Debezium payload line for this event (flattened envelope). */
  def json: String =
    s"""{"event_id":$eventId,"user_id":$userId,"event_type":"$eventType",""" +
      s""""value":$value,"prop_k":$propK,"__op":"$op",""" +
      s""""__source_ts_ms":$srcMs,"__deleted":"$deleted"}"""
}

/** Plain-Scala model of graft's keyed MERGE, computed apart from Spark:
  * latest-wins per key by (source ms, op priority c<r<u<d, event id), with
  * hard or soft deletes, replayed batch by batch. Hard deletes keep the
  * documented resurrection: a key deleted in one batch and met again by an
  * OLDER change in a later batch comes back, because the tombstone is no
  * longer in the table to win against it. */
final class MergeModel(keepDeletes: Boolean) {
  val state: mutable.HashMap[Long, Ev] = mutable.HashMap.empty

  def applyBatch(batch: Iterable[Ev]): Unit = {
    val latest = mutable.HashMap.empty[Long, Ev]
    batch.foreach { e =>
      latest.get(e.userId) match {
        case Some(o) if !MergeModel.wins(e, o) =>
        case _ => latest(e.userId) = e
      }
    }
    latest.foreach { case (k, e) =>
      val w = state.get(k).filter(MergeModel.wins(_, e)).getOrElse(e)
      if (!keepDeletes && w.deleted) state.remove(k) else state(k) = w
    }
  }
}

object MergeModel {
  def opPriority(op: String): Int = op match {
    case "c" => 1
    case "r" => 2
    case "u" => 3
    case "d" => 4
    case _ => -1
  }

  /** Whether `a` wins latest-wins against `b`. */
  def wins(a: Ev, b: Ev): Boolean =
    if (a.srcMs != b.srcMs) a.srcMs > b.srcMs
    else if (opPriority(a.op) != opPriority(b.op))
      opPriority(a.op) > opPriority(b.op)
    else a.eventId > b.eventId
}

/** Keep-first exact-text model of corpus ingest: a document is accepted
  * iff no earlier document (earlier batch, or smaller id in its batch)
  * carried the same text. Near-duplicate rejection only removes documents
  * from this set, so the program's accepted set must be a subset. */
object KeepFirstModel {
  def accepted(batches: Seq[Seq[(Long, String)]]): Set[Long] = {
    val seen = mutable.HashSet.empty[String]
    batches.flatMap(_.sortBy(_._1).collect {
      case (id, text) if seen.add(text) => id
    }).toSet
  }
}

/** Hand-computed cases for both models; every run checks them first. */
object ModelCases {
  private def ev(id: Long, key: Long, op: String, ms: Long) =
    Ev(id, key, "t", id.toDouble, id, op, ms)

  private def fold(keep: Boolean, batches: Seq[Ev]*): Map[Long, Long] = {
    val m = new MergeModel(keep)
    batches.foreach(m.applyBatch)
    m.state.map { case (k, e) => k -> e.eventId }.toMap
  }

  private def check(what: String, got: Any, want: Any): Unit =
    if (got != want)
      throw new AssertionError(s"model case '$what': got $got, want $want")

  def run(): Unit = {
    // later source time wins, whatever the arrival order within a batch
    check("ts wins", fold(false, Seq(ev(2, 1, "u", 2000), ev(1, 1, "c", 1000))),
      Map(1L -> 2L))
    // equal times: op priority c<r<u<d decides, so the delete wins
    check("op priority", fold(true, Seq(ev(5, 1, "u", 1000), ev(4, 1, "d", 1000))),
      Map(1L -> 4L))
    check("op priority hard", fold(false, Seq(ev(5, 1, "u", 1000), ev(4, 1, "d", 1000))),
      Map())
    // equal time and op: the larger event id wins
    check("id tie-break", fold(false, Seq(ev(7, 1, "u", 1000), ev(9, 1, "u", 1000))),
      Map(1L -> 9L))
    // hard delete, then an older late change: the key comes back
    check("resurrection", fold(false,
      Seq(ev(1, 1, "c", 1000), ev(2, 1, "d", 2000)), Seq(ev(3, 1, "u", 1500))),
      Map(1L -> 3L))
    // soft delete: the tombstone keeps winning against the late change
    check("soft tombstone", fold(true,
      Seq(ev(1, 1, "c", 1000), ev(2, 1, "d", 2000)), Seq(ev(3, 1, "u", 1500))),
      Map(1L -> 2L))
    // an older change arriving later never replaces a newer one
    check("late older", fold(false,
      Seq(ev(4, 2, "u", 4000)), Seq(ev(3, 2, "u", 3000)), Seq(ev(2, 3, "c", 10))),
      Map(2L -> 4L, 3L -> 2L))
    // redelivery of the same event is idempotent
    check("redelivery", fold(true,
      Seq(ev(1, 1, "c", 1000), ev(1, 1, "c", 1000)), Seq(ev(1, 1, "c", 1000))),
      Map(1L -> 1L))
    check("keep-first", KeepFirstModel.accepted(Seq(
      Seq(2L -> "a b", 1L -> "a b", 3L -> "c"), Seq(4L -> "c", 5L -> "d"))),
      Set(1L, 3L, 5L))
  }
}
