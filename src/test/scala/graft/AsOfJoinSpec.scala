package graft

import graft.plans.AsOfJoin
import org.scalatest.funsuite.AnyFunSuite

class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("AsOfJoinExec picks the latest right row at or before each left time") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 5L, 1.0), (1L, 10L, 2.0), (1L, 15L, 3.0), (3L, 1L, 9.0))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.join(left, right, "k", "t", "rt")
      .select($"tag", $"v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out("a").contains(2.0), "t=10 matches rt=10 (<= inclusive)")
    assert(out("b").contains(3.0), "t=20 matches latest rt=15")
    assert(out("c").isEmpty, "no right rows for key 2")
  }

  test("physical plan uses the custom exec with exchanges+sorts from EnsureRequirements") {
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, 1.0)).toDF("k", "rt", "v")
    val plan = AsOfJoin.join(left, right, "k", "t", "rt")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin "), plan) // nodeName drops the Exec suffix
    assert(plan.contains("Sort"), "EnsureRequirements must insert the (key,time) sorts")
  }

  test("agrees with the window-composition implementation on the fixture") {
    val a = graft.operators.Extras.asofLastPurchase(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    val b = graft.operators.Extras.asofCustomOperator(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("forward direction picks the smallest right time >= left time") {
    val left = Seq((1L, 10L, "a"), (1L, 15L, "b"), (1L, 16L, "c"), (2L, 5L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 5L, 1.0), (1L, 15L, 2.0), (1L, 40L, 3.0), (3L, 9L, 9.0))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.join(left, right, "k", "t", "rt",
        direction = AsOfJoin.Forward)
      .select($"tag", $"v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out("a").contains(2.0), "t=10 -> next is rt=15")
    assert(out("b").contains(2.0), "t=15 matches rt=15 (>= inclusive)")
    assert(out("c").contains(3.0), "t=16 -> next is rt=40; rt=15 already passed")
    assert(out("d").isEmpty, "no right rows for key 2")
  }

  test("tolerance masks matches outside the window in both directions") {
    val left = Seq((1L, 100L, "near"), (1L, 200L, "far")).toDF("k", "t", "tag")
    val right = Seq((1L, 95L, 1.0)).toDF("k", "rt", "v")
    def got(tol: Long, dir: AsOfJoin.Direction = AsOfJoin.Backward) =
      AsOfJoin.join(left, right, "k", "t", "rt", dir, tol)
        .select($"tag", $"v").collect()
        .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
    val b = got(10L)
    assert(b("near").contains(1.0), "within 10 ticks backward")
    assert(b("far").isEmpty, "105 ticks back is outside the window")
    val unbounded = got(-1L)
    assert(unbounded("far").contains(1.0), "negative tolerance = unbounded")
    val f = AsOfJoin.join(
        Seq((1L, 90L, "x"), (1L, 50L, "y")).toDF("k", "t", "tag"),
        right, "k", "t", "rt", AsOfJoin.Forward, 10L)
      .select($"tag", $"v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(f("x").contains(1.0), "rt=95 is 5 ahead of t=90: in window")
    assert(f("y").isEmpty, "rt=95 is 45 ahead of t=50: out of window")
  }

  test("null keys/times never match (left gets null padding, right skipped)") {
    val left = Seq[(java.lang.Long, java.lang.Long, String)](
      (null, 10L, "nullkey"), (1L, null, "nulltime"), (0L, 10L, "zerokey"),
      (1L, 10L, "ok")).toDF("k", "t", "tag")
    val right = Seq[(java.lang.Long, java.lang.Long, java.lang.Double)](
      (null, 1L, 111.0), // null right key: must never match left key 0
      (1L, null, 222.0), // null right time: must never be carried
      (0L, 5L, 7.0), (1L, 5L, 8.0)).toDF("k", "rt", "v")
    val out = AsOfJoin.join(left, right, "k", "t", "rt")
      .select($"tag", $"v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out("nullkey").isEmpty, "null left key must not match key-0 rows")
    assert(out("nulltime").isEmpty, "null left time must not match")
    assert(out("zerokey").contains(7.0), "real key 0 still matches its row")
    assert(out("ok").contains(8.0), "null-time right row is skipped, not carried")
  }

  test("random-data equivalence with a plain-Scala reference (both directions, tolerance)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val rowsGen = for {
      nl <- Gen.chooseNum(0, 30)
      nr <- Gen.chooseNum(0, 30)
      lrows <- Gen.listOfN(nl, Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 100L)))
      rrows <- Gen.listOfN(nr, Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 100L)))
    } yield (lrows.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) },
      // unique (key, time) on the right keeps the matched value unambiguous
      rrows.distinct.zipWithIndex.map { case ((k, t), i) => (k, t, i * 10.0) })
    def reference(ls: Seq[(Long, Long, Long)], rs: Seq[(Long, Long, Double)],
        fwd: Boolean, tol: Long): Map[Long, Option[Double]] =
      ls.map { case (k, t, id) =>
        val cands = rs.filter(r => r._1 == k &&
          (if (fwd) r._2 >= t && (tol < 0 || r._2 - t <= tol)
           else r._2 <= t && (tol < 0 || t - r._2 <= tol)))
        id -> (if (cands.isEmpty) None
               else Some((if (fwd) cands.minBy(_._2) else cands.maxBy(_._2))._3))
      }.toMap
    (0 until 5).foreach { i =>
      rowsGen.apply(Gen.Parameters.default, Seed(7L + i)).foreach { case (ls, rs) =>
        val left = ls.toDF("k", "t", "row_id")
        val right = rs.toDF("k", "rt", "v")
        for {
          fwd <- Seq(false, true)
          tol <- Seq(-1L, 10L)
        } {
          val dir = if (fwd) AsOfJoin.Forward else AsOfJoin.Backward
          val got = AsOfJoin.join(left, right, "k", "t", "rt", dir, tol)
            .select($"row_id", $"v").collect()
            .map(r => r.getLong(0) ->
              (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
          assert(got == reference(ls, rs, fwd, tol),
            s"seed=$i fwd=$fwd tol=$tol")
        }
      }
    }
  }

  test("rejects non-long-backed key/time types") {
    val bad = Seq(("x", 1L)).toDF("k", "t")
    val r = Seq(("x", 1L, 2.0)).toDF("k", "rt", "v")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.join(bad, r, "k", "t", "rt")
    }
    assert(e.getMessage.contains("bigint/timestamp"))
  }
}
