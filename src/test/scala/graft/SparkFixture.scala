package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for the test suite. */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkFixture.session

  /** Smallest test warehouse — correctness only, speed matters here. */
  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the Spark jobs it started, counted per job
    * group (jobs outside any group are not counted). A stream runs its
    * jobs in a group named by its run id. */
  def jobsByGroup[A](body: => A): (A, Map[String, Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val marker = s"jobs-by-group-end-${java.util.UUID.randomUUID()}"
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => groups.put(e.jobId, g))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (groups.get(e.jobId) == marker) done.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val result = try {
      val r = body
      // listener events arrive in order: once the marker job's end is
      // seen, every job `body` started has been recorded
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      if (!done.await(60, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus did not drain")
      r
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (result, groups.values.asScala.filter(_ != marker)
      .groupBy(identity).map { case (g, js) => g -> js.size })
  }

  /** Spark jobs `body` starts when run in job group `group`. */
  def jobsInGroup(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    jobsByGroup {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }._2.getOrElse(group, 0)
  }
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = Tables.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.VectorFunctions.register(s)
    s
  }
}
