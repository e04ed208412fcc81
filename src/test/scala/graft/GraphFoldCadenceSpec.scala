package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Ann

/** r18: the knnKcore checkpoint-cadence change (materialize every
  * SECOND h-index round instead of every round) is a pure
  * materialization-schedule change — this pins the shipped fold
  * byte-equal to the r16 every-round shape ([[everyRoundKcore]]) on a
  * graph with non-trivial coreness structure, including an ODD
  * iteration count (the final round is always materialized regardless
  * of parity). */
class GraphFoldCadenceSpec extends AnyFunSuite with SparkFixture {

  /** K5 clique (coreness 4) + a path of 3 hanging off it (coreness 1)
    * + an isolated mutual pair (coreness 1) + a node with only a
    * one-directional edge (coreness 0), as a DIRECTED knn-style edge
    * list (mutuality is derived inside the fold). */
  private def graph = {
    import spark.implicits._
    val clique = for {
      a <- 0L to 4L; b <- 0L to 4L if a != b
    } yield (a, b)
    val path = Seq((4L, 5L), (5L, 4L), (5L, 6L), (6L, 5L), (6L, 7L), (7L, 6L))
    val pair = Seq((8L, 9L), (9L, 8L))
    val oneway = Seq((10L, 0L))
    (clique ++ path ++ pair ++ oneway).toDF("vec_id", "nbr_id")
  }

  /** The r16 kcore fold over a directed edge list: the h-index round
    * on the mutual-edge adjacency, materialized after EVERY round, then
    * the (coreness, n_nodes, share) histogram. */
  private def everyRoundKcore(edges: DataFrame, iters: Int): DataFrame = {
    val g = Exec.materialize(edges.select(col("vec_id"), col("nbr_id")))
    val rev = g.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id"))
    val universe = g.select(col("vec_id")).distinct()
    val adj = Exec.materialize(g.join(rev, Seq("vec_id", "nbr_id"), "left_semi"))
    var c = Exec.materialize(adj.groupBy(col("vec_id")).agg(count(lit(1)).as("c")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("c").desc)
    for (_ <- 1 to iters)
      c = Exec.materialize(adj
        .join(c.select(col("vec_id").as("nbr_id"), col("c")), Seq("nbr_id"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("vec_id"))
        .agg(max(when(col("c") >= col("rn"), col("rn").cast("bigint"))
          .otherwise(lit(0L))).as("c")))
    val full = universe.join(c, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("c"), lit(0L)).as("c"))
    val tot = broadcast(full.agg(count(lit(1)).as("n_total")))
    full.groupBy(col("c").as("coreness"))
      .agg(count(lit(1)).as("n_nodes"))
      .crossJoin(tot)
      .select(col("coreness"), col("n_nodes"),
        round(col("n_nodes").cast("double") / col("n_total").cast("double"), 4).as("share"))
  }

  test("knnKcore every-2 cadence equals the r16 every-round fold (even and odd iters)") {
    for (iters <- Seq(10, 7)) {
      val shipped = Ann.knnKcore(spark.emptyDataFrame, iters = iters,
        graph = Some(graph)).orderBy("coreness").collect()
      val r16 = everyRoundKcore(graph, iters).orderBy("coreness").collect()
      assert(shipped.toSeq === r16.toSeq, s"iters=$iters")
    }
    // and the absolute values are the hand-derivable coreness layering
    val out = Ann.knnKcore(spark.emptyDataFrame, graph = Some(graph))
      .orderBy("coreness").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // coreness 0: node 10 (unreciprocated edge); 1: path tail 5,6,7 and
    // pair 8,9 (5 nodes); 4: the clique 0..4
    assert(out === Seq((0L, 1L), (1L, 5L), (4L, 5L)))
  }

  test("knnKcore rejects iters = 0 before running any job") {
    val e = intercept[IllegalArgumentException] {
      Ann.knnKcore(spark.emptyDataFrame, iters = 0, graph = Some(graph))
    }
    assert(e.getMessage.contains("iters >= 1"))
  }

  test("knnComponents roundsPerCkpt=2 equals the per-round fold, both exit arms, even and odd iters") {
    for (iters <- Seq(25, 7); ee <- Seq(true, false)) {
      val batched = Ann.knnComponents(spark.emptyDataFrame, iters = iters,
        graph = Some(graph), earlyExit = ee)
        .orderBy("component_size").collect()
      val perRound = Ann.knnComponents(spark.emptyDataFrame, iters = iters,
        graph = Some(graph), earlyExit = ee, roundsPerCkpt = 1)
        .orderBy("component_size").collect()
      assert(batched.toSeq === perRound.toSeq, s"iters=$iters earlyExit=$ee")
    }
    // hand values: mutual components are {0..7} (clique+path, 8 nodes),
    // {8,9}, {10} (self-loop only)
    val out = Ann.knnComponents(spark.emptyDataFrame, graph = Some(graph))
      .orderBy("component_size").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq((1L, 1L), (2L, 1L), (8L, 1L)))
  }
}
