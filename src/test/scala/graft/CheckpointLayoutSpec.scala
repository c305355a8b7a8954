package graft

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two GraftBridge checkpoint primitives the iterative graph
  * loops stand on:
  *
  *  1. `localCheckpointHashPartitioned` — the re-asserted layout is
  *     visible to the planner, an equi-join between two frames asserted
  *     on their join keys plans WITHOUT exchanging either side, and the
  *     results stay correct (the assertion describes the real layout).
  *  2. `releaseLocalCheckpoint` — actually evicts the pinned RDD.
  *     `Dataset.unpersist()` is a CacheManager call that does NOT touch
  *     checkpoint RDDs on this Spark build; if a future Spark version
  *     changes that, the no-op pin below fails and the helper can be
  *     retired.
  */
class CheckpointLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(flatten)
  }

  test("re-asserted checkpoint layout reaches the planner") {
    val df = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
    val p = GraftBridge.localCheckpointHashPartitioned(df, 4, "k")
    assert(p.queryExecution.executedPlan.outputPartitioning.toString
      .startsWith("hashpartitioning(k"))
    GraftBridge.releaseLocalCheckpoint(p)
  }

  test("co-partitioned asserted frames join exchange-free, correctly") {
    val edges = spark.range(20000)
      .select((col("id") % 997).as("src"), (col("id") % 701).as("dst"))
    val e = GraftBridge.localCheckpointHashPartitioned(edges, 4, "src")
    val state0 = edges.select(col("src").as("id")).distinct()
      .select(col("id"), (col("id") * 3 + 1).as("v"))
    val s = GraftBridge.localCheckpointHashPartitioned(
      state0.withColumnRenamed("id", "src"), 4, "src")
    val j = e.join(
        s.withColumnRenamed("src", "id").hint("shuffle_hash"),
        col("src") === col("id"))
      .select(col("dst"), col("v"))
      .groupBy("dst").agg(sum("v").as("sv"))
    // force execution so AQE finalizes, then walk the final tree: the
    // ONLY exchange is the aggregate's own — neither join input moved
    val got = j.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val exchanges = flatten(j.queryExecution.executedPlan)
      .collect { case ex: ShuffleExchangeExec => ex }
    assert(exchanges.length == 1,
      s"join of co-partitioned asserted frames re-exchanged an input:\n" +
        j.queryExecution.executedPlan)
    val want = edges.join(state0, edges("src") === state0("id"))
      .select(col("dst"), col("v")).groupBy("dst").agg(sum("v").as("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
    Seq(e, s).foreach(GraftBridge.releaseLocalCheckpoint)
  }

  test("releaseLocalCheckpoint evicts; Dataset.unpersist does not") {
    val sc = spark.sparkContext
    def pinnedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before = pinnedIds
    val ck = spark.range(1000).select(col("id")).localCheckpoint()
    val mine = (pinnedIds -- before)
    assert(mine.nonEmpty, "localCheckpoint pinned nothing")
    ck.unpersist(blocking = true)
    assert((pinnedIds -- before) == mine,
      "Dataset.unpersist released the checkpoint RDD — Spark behavior " +
        "changed; releaseLocalCheckpoint may be retirable")
    GraftBridge.releaseLocalCheckpoint(ck)
    // non-blocking release: poll briefly for the async drop
    val deadline = System.nanoTime() + 10e9.toLong
    while ((pinnedIds -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert((pinnedIds -- before).isEmpty,
      "releaseLocalCheckpoint did not evict the checkpoint RDD")
  }
}
