package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Curation, Similarity}
import graft.sources.{SessionCache, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

/** The session cache's policy: hits, rewrite invalidation with
  * checkpoint release, session isolation, first-build races, `clear()`,
  * and — through the operators that ride it — rewrite detection for a
  * graph store, a partitioned table and a `file://` dir. */
class SessionCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-session-cache").toString

  private def writeTable(dir: String, n: Long): Unit =
    spark.range(n).write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")

  private def pinnedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Poll for the asynchronous checkpoint drop. */
  private def eventually(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + 10e9.toLong
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    cond
  }

  /** A cached eager checkpoint of table `t`, counting its builds. */
  private def cachedT(dir: String, tag: String, builds: AtomicInteger,
      session: org.apache.spark.sql.SparkSession = spark): DataFrame =
    SessionCache.getOrBuild(session, dir, Seq("t"), tag) {
      builds.incrementAndGet()
      session.read.parquet(s"$dir/t.parquet").localCheckpoint()
    }

  test("(a) a second call hits without rebuilding") {
    val dir = tmpDir()
    writeTable(dir, 10)
    val builds = new AtomicInteger
    val first = cachedT(dir, "spec.a", builds)
    val second = cachedT(dir, "spec.a", builds)
    assert(builds.get == 1)
    assert(first eq second)
    assert(second.count() == 10)
  }

  test("(b) a table rewrite rebuilds and evicts the old checkpoint") {
    val dir = tmpDir()
    writeTable(dir, 10)
    val builds = new AtomicInteger
    val before = pinnedIds
    assert(cachedT(dir, "spec.b", builds).count() == 10)
    val old = pinnedIds -- before
    assert(old.nonEmpty, "the cached checkpoint pinned nothing")
    writeTable(dir, 20)
    assert(cachedT(dir, "spec.b", builds).count() == 20)
    assert(builds.get == 2)
    assert(eventually((pinnedIds & old).isEmpty),
      "the superseded checkpoint RDD is still pinned")
  }

  test("(c) two sessions are isolated") {
    val dir = tmpDir()
    writeTable(dir, 10)
    val other = spark.newSession()
    val mine, theirs = new AtomicInteger
    val a = cachedT(dir, "spec.c", mine)
    val b = cachedT(dir, "spec.c", theirs, other)
    assert(!(a eq b))
    cachedT(dir, "spec.c", mine)
    cachedT(dir, "spec.c", theirs, other)
    assert(mine.get == 1 && theirs.get == 1)
  }

  test("(d) four threads racing a first build leave one pinned checkpoint") {
    val dir = tmpDir()
    writeTable(dir, 1000)
    val builds = new AtomicInteger
    val barrier = new CyclicBarrier(4)
    val before = pinnedIds
    val pool = Executors.newFixedThreadPool(4)
    val got = try {
      val fs = (1 to 4).map(_ => pool.submit(new Callable[DataFrame] {
        def call(): DataFrame =
          SessionCache.getOrBuild(spark, dir, Seq("t"), "spec.d") {
            builds.incrementAndGet()
            barrier.await(60, TimeUnit.SECONDS) // every thread builds
            spark.read.parquet(s"$dir/t.parquet").localCheckpoint()
          }
      }))
      fs.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(builds.get == 4)
    assert(got.forall(_ eq got.head), "racers returned different frames")
    assert(eventually((pinnedIds -- before).size == 1),
      s"pinned after the race: ${(pinnedIds -- before).size}")
    assert(got.head.count() == 1000)
  }

  test("(e) clear() releases everything") {
    val dir = tmpDir()
    writeTable(dir, 10)
    val builds = new AtomicInteger
    val before = pinnedIds
    cachedT(dir, "spec.e1", builds)
    cachedT(dir, "spec.e2", builds)
    assert((pinnedIds -- before).size == 2)
    SessionCache.clear()
    assert(eventually((pinnedIds -- before).isEmpty),
      "clear() left checkpoints pinned")
    cachedT(dir, "spec.e1", builds)
    assert(builds.get == 3)
  }

  test("a missing table is a named error") {
    val err = intercept[java.io.FileNotFoundException] {
      SessionCache.getOrBuild(spark, tmpDir(), Seq("absent"), "spec.missing")(1)
    }
    assert(err.getMessage.contains("'absent'"))
  }

  test("a documents cache hit runs no job") {
    val docs = Tables.documents(spark, TestSpark.Sf) // builds or hits
    assert(docs.queryExecution.analyzed.collectLeaves()
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      "the fixture corpus must take the fanned-out, checkpointed path")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      Tables.documents(spark, TestSpark.Sf)
      GraftBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"a warm documents call ran ${jobs.get} job(s)")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("(f) a lineitem rewrite changes the co-purchase graph result") {
    def writeLineitem(dir: String, orders: Seq[(Long, Long)]): Unit =
      orders.toDF("l_orderkey", "l_partkey")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/lineitem.parquet")
    val triangle = Seq(1L -> 1L, 1L -> 2L, 1L -> 3L)
    val path = Seq(1L -> 1L, 1L -> 2L, 2L -> 2L, 2L -> 3L)
    val dir = tmpDir()
    writeLineitem(dir, triangle)
    val r1 = rows(Curation.triangles(spark, dir))
    writeLineitem(dir, path)
    val r2 = rows(Curation.triangles(spark, dir))
    val fresh = tmpDir()
    writeLineitem(fresh, path)
    val want = rows(Curation.triangles(spark, fresh))
    assert(r1 != want, "the two graphs must differ for this check to mean anything")
    assert(r2 == want, s"stale co-purchase graph after a rewrite: $r2 vs $want")
  }

  /** 64-d embeddings whose principal axis is `axis`, with an
    * axis-dependent off-axis pattern. */
  private def embeddings(axis: Int): DataFrame =
    (0 until 64).map { i =>
      val v = Array.tabulate(64)(d =>
        if (d == axis) 1.0f + i * 0.25f
        else ((i * 7 + d * 3 + axis * d * d) % 11 - 5) * 0.03f)
      (i.toLong, v.toSeq, i % 2)
    }.toDF("vec_id", "embedding", "label")

  private def pcaRows(dir: String): (Seq[String], Seq[String]) =
    (rows(Similarity.pcaProject(spark, dir)),
      rows(Similarity.pcaProjectOf(Tables.embeddings(spark, dir))))

  test("(g) a rewrite of a partitioned embeddings dir retrains the statistic") {
    val dir = tmpDir()
    val path = s"$dir/embeddings.parquet"
    // a partitioned dir whose top level holds only partition subdirs,
    // as a writer that leaves no marker files produces
    def write(axis: Int): Unit = {
      embeddings(axis).write.mode(SaveMode.Overwrite).partitionBy("label")
        .parquet(path)
      Seq("_SUCCESS", "._SUCCESS.crc").foreach(n =>
        Files.deleteIfExists(java.nio.file.Paths.get(path, n)))
    }
    write(axis = 0)
    val (got1, want1) = pcaRows(dir)
    assert(got1 == want1)
    write(axis = 5)
    val (got2, want2) = pcaRows(dir)
    assert(want1 != want2, "the two corpora must differ for this check to mean anything")
    assert(got2 == want2, "stale PCA axis after a partitioned rewrite")
  }

  test("(h) a file:// dir detects a rewrite") {
    val dir = "file://" + tmpDir()
    def write(axis: Int): Unit =
      embeddings(axis).write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/embeddings.parquet")
    write(axis = 0)
    val (got1, want1) = pcaRows(dir)
    assert(got1 == want1)
    write(axis = 5)
    val (got2, want2) = pcaRows(dir)
    assert(want1 != want2, "the two corpora must differ for this check to mean anything")
    assert(got2 == want2, "stale PCA axis after a file:// rewrite")
  }
}
