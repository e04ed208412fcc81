package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line arguments of the benchmark JVM (run.py passes them). */
final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 15,
                      trace: Boolean = false, slots: Int = 4, work: String = "",
                      out: String = "", traceOut: String = "", t0Ms: Long = 0L,
                      selftest: Boolean = false)

object Args {
  def parse(argv: Array[String]): Args = {
    def go(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case "--selftest" :: t => go(a.copy(selftest = true), t)
      case "--workload" :: v :: t => go(a.copy(workload = v), t)
      case "--seed" :: v :: t => go(a.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(a.copy(seconds = v.toInt), t)
      case "--trace" :: v :: t => go(a.copy(trace = v == "1"), t)
      case "--slots" :: v :: t => go(a.copy(slots = v.toInt), t)
      case "--work" :: v :: t => go(a.copy(work = v), t)
      case "--out" :: v :: t => go(a.copy(out = v), t)
      case "--trace-out" :: v :: t => go(a.copy(traceOut = v), t)
      case "--t0-ms" :: v :: t => go(a.copy(t0Ms = v.toLong), t)
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
    go(Args(), argv.toList)
  }
}

/** One round of a workload: the same operations every time. `loopMs`
  * covers the timed drain, `batchMs` has one time per micro-batch and
  * `readMs` one per read-probe set. Only operations that did not fail
  * contribute times, bytes and checks; `failed` counts the others. */
final case class Round(rows: Long, loopMs: Double, batchMs: Seq[Double], readMs: Seq[Double],
                       bytesWritten: Long, bytesIn: Long, storedBytes: Long,
                       attempted: Long, failed: Long, correct: Boolean)

object Round {
  /** A round whose drain threw: every operation of it counts as failed
    * (the read probes would run against a half-applied table). */
  def failed(ops: Long): Round = Round(0L, 0.0, Nil, Nil, 0L, 0L, 0L, ops, ops, correct = true)
}

/** A workload: set-up (inputs, model, untimed bootstrap and warm-up), a
  * repeatable timed round, and the traced layer replay. */
trait Workload {
  def setup(h: Harness): Unit
  def round(h: Harness, i: Int): Round
  /** Direct calls into each module, under job groups; per-layer metrics. */
  def layerReplay(h: Harness): Map[String, Double]
}

/** Shared machinery: session, listeners, file landing, walks, timing. */
final class Harness(val spark: SparkSession, val args: Args) {
  val recorder = new Recorder
  spark.sparkContext.addSparkListener(recorder)
  val work: Path = Paths.get(args.work)
  private var nBarrier = 0
  /** True while a traced phase of the timed loop runs. */
  @volatile var tracing = false
  val timedStores = scala.collection.mutable.ArrayBuffer.empty[TimedOffsetStore]

  /** The offset store handed to a stream: timed from outside in traced runs. */
  def offsetStore(path: String): graft.state.OffsetStore =
    if (!args.trace) new graft.state.OffsetStore(path, spark)
    else {
      val s = new TimedOffsetStore(path, spark, () => tracing)
      timedStores += s
      s
    }

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  def log(msg: String): Unit = System.err.println(
    f"[graftbench ${(System.currentTimeMillis() - args.t0Ms) / 1000.0}%.2f] $msg")

  /** Run `f` with the main thread's Spark jobs tagged `group`. */
  def inGroup[T](group: String)(f: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try f finally spark.sparkContext.clearJobGroup()
  }

  /** Wait until the listener has seen every job submitted so far. */
  def barrier(): Unit = {
    nBarrier += 1
    val g = s"bench:barrier$nBarrier"
    inGroup(g)(spark.sparkContext.parallelize(Seq(1), 1).count())
    recorder.awaitGroupEnded(g)
  }

  /** Bytes written by Spark tasks so far, after draining the listener bus. */
  def bytesWritten(): Long = { barrier(); recorder.bytesWritten.get() }

  /** Land `lines` as file `name` in `dir`: written aside, then moved in
    * atomically, with modification time `mtimeMs` (the file source orders
    * new files by it). Returns the file's size. */
  def landLines(dir: String, name: String, lines: Seq[String], mtimeMs: Long): Long = {
    val tmp = Paths.get(this.dir("staging"), name)
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    landFile(tmp, dir, name, mtimeMs)
  }

  def landFile(src: Path, dir: String, name: String, mtimeMs: Long): Long = {
    val dst = Paths.get(dir, name)
    src.toFile.setLastModified(mtimeMs)
    Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    Files.size(dst)
  }

  /** Regular files under `root`, with sizes (path relative to root). */
  def walk(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def dirBytes(root: String): Long = walk(root).values.sum

  /** Copy the tree at `src` to `dst` (which must not exist yet). */
  def copyTree(src: String, dst: String): Unit = {
    val from = Paths.get(src)
    val to = Paths.get(dst)
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }
  }

  /** Run one operation of a round; a throw is logged and becomes None, so
    * the round counts it as failed and goes on. */
  def attempt[T](what: String)(f: => T): Option[T] =
    try Some(f)
    catch { case scala.util.control.NonFatal(e) => log(s"FAILED: $what: $e"); None }

  /** Time `f` in milliseconds. */
  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Fully execute `df` without keeping its rows. */
  def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def openFds(): Long = {
    val s = Files.list(Paths.get("/proc/self/fd"))
    try s.count() finally s.close()
  }

  def peakRssBytes(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong * 1024L).getOrElse(0L)

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
