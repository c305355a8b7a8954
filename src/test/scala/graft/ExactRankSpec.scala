package graft

import graft.plans.ExactRank
import org.scalatest.funsuite.AnyFunSuite

/** The distributed exact-rank scan vs a global ROW_NUMBER window —
  * the helper now shared by the z-order exact-ntile writer and
  * `cur_token_gini`. */
class ExactRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("withRank equals a global row_number window, any partitioning") {
    val rows = (1L to 5000L).map(i => ((i * 7919) % 101, i)) // heavy ties
    val df = rows.toDF("x", "id").repartition(17)
    val (ranked, n) = ExactRank.withRank(df, 8, Seq($"x", $"id"), "rnk")
    assert(n == 5000L)
    val got = ranked.select($"x", $"id", $"rnk")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val want = rows.sortBy(identity).zipWithIndex
      .map { case ((x, id), i) => (x, id, i + 1L) }
    assert(got.toSeq == want)
  }

  test("rank is dense 1..n and strictly follows the sort order") {
    val df = (1L to 997L).map(i => (i % 13, i)).toDF("x", "id")
    val (ranked, n) = ExactRank.withRank(df, 5, Seq($"x", $"id"), "r")
    val byRank = ranked.select($"r", $"x", $"id")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(byRank.map(_._1).toSeq == (1L to n))
    assert(byRank.map(t => (t._2, t._3)).toSeq ==
      byRank.map(t => (t._2, t._3)).sortBy(identity).toSeq)
  }
}
