package graft

import graft.operators.Ssb
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SsbSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q1 queries return a single non-null revenue row on sf0.001") {
    for (q <- Seq("ssb_q1_1", "ssb_q1_2", "ssb_q1_3")) {
      val rows = SparkEntry.queries(q)(spark, TestSpark.Sf).collect()
      assert(rows.length == 1, q)
      assert(rows(0).getDouble(0) > 0, q)
    }
  }

  test("BETWEEN is inclusive at both bounds (reference README.md:417)") {
    val df = Seq(0.009, 0.01, 0.02, 0.03, 0.031).toDF("d")
    assert(df.filter($"d".between(0.01, 0.03)).count() == 3)
  }

  test("weekofyear is ISO-8601 at year boundaries (reference README.md:435)") {
    val got = Seq("1996-01-01", "1996-02-05", "1995-01-01", "1997-12-29")
      .toDF("s").select(weekofyear(to_date($"s"))).as[Int].collect().toSeq
    // 1996-01-01 is a Monday => week 1; 1996-02-05 opens ISO week 6;
    // 1995-01-01 is a Sunday => ISO week 52 of 1994; 1997-12-29 => week 1 of 1998.
    assert(got == Seq(1, 6, 52, 1))
  }

  test("long sum widening: no 32-bit overflow in revenue math (SURVEY §1.2)") {
    val df = Seq((4000000000L, 2L), (4000000000L, 3L)).toDF("p", "d")
    val s = df.agg(sum($"p" * $"d")).as[Long].head()
    assert(s == 20000000000L)
  }

  test("flagship entry returns rows > 0 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("yearly revenue covers every fixture ship year exactly once") {
    val years = Ssb.yearlyRevenue(spark, TestSpark.Sf)
      .select("ship_year").as[Long].collect().toSeq
    assert(years == years.sorted && years.distinct == years)
    assert(years.head >= 1995 && years.last <= 2001)
  }
}
