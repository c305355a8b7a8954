package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Observation, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{bit_xor, count, lit, map_entries, sort_array, sum, xxhash64}
import org.apache.spark.sql.types.MapType

/** Closed-loop client for one benchmark workload: one thread
  * issues `SparkEntry.queries(k)(spark, dir)` calls back to back and
  * records what each one cost. It writes one JSON file of raw
  * observations (`<out>/run.json`); `run.py` turns them into metrics.
  *
  * A call is `fn(spark, dir)` (construction), then forcing the executed
  * plan of the result with an order-independent digest observer on top
  * (planning), then running that plan to completion while discarding
  * the rows, as the `noop` sink does (execution). The observer folds
  * every output column of every row into (rows, sum of 32-bit row
  * hashes, xor of 64-bit row hashes), so no column is pruned and each
  * call's result can be compared with the key's verified digest.
  *
  * `--task verify` runs each key once under a parquet write with the
  * same observer instead; `run.py` compares the files with the DuckDB
  * oracle and keeps the digests of the results that match.
  *
  * Arguments (all `--name value`): task (bench|verify), workload, seed,
  * seconds, trace (0|1), data (input dir), out (output dir), keys (comma
  * list), cores, setups, corrupt (optional key whose calls get one
  * duplicated row, to prove the check fires). */
object Harness {

  private val SpanProp = "perfbench.span"
  private val DigestName = "perfbench_digest"

  def main(args: Array[String]): Unit = {
    val mainEntry = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dir = opt("data")
    val out = opt("out")
    val keys = opt("keys").split(",").toSeq.filter(_.nonEmpty)
    val seed = opt("seed").toLong
    val cores = opt("cores").toInt
    val corrupt = opt.get("corrupt")

    // set-up: several full session set-ups, each one a ready session
    // with the engine's extensions and one completed job. The first is
    // timed from JVM main entry; each later one starts after the previous
    // session has been stopped and cleared, so it times a session
    // re-creation in a warm JVM and no teardown
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until opt("setups").toInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) mainEntry else System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      spark.range(1).count()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val session = spark
    val sc = session.sparkContext

    val queries = graft.SparkEntry.queries
    val missing = keys.filterNot(queries.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"keys listed for workload ${opt("workload")} are not in " +
          s"SparkEntry.queries: ${missing.mkString(", ")}")

    if (opt("task") == "verify") {
      verify(session, keys, dir, out)
      session.stop()
      return
    }

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val tracer = new Tracer
    var callId = 0
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** One call; returns its record (wall and phase times in ns). An
      * unobserved call runs the plan without the digest observer, to
      * price the digest; its result is not checked. */
    def call(key: String, pass: Int, kind: String, trace: Boolean,
        observed: Boolean = true): Map[String, Any] = {
      callId += 1
      val id = callId
      val persistedBefore = if (trace) sc.getPersistentRDDs.keySet else Set.empty[Int]
      val pinnedBefore = if (trace) pinnedBytes(session) else 0L
      val startMs = System.currentTimeMillis()
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      var t1, t2 = t0
      var rec = Map[String, Any]("id" -> id, "key" -> key, "pass" -> pass,
        "kind" -> kind, "traced" -> trace, "start_ms" -> startMs)
      try {
        sc.setLocalProperty(SpanProp, s"$id/construct")
        val df0 = queries(key)(session, dir)
        val df = if (corrupt.contains(key)) df0.union(df0.limit(1)) else df0
        t1 = System.nanoTime()
        sc.setLocalProperty(SpanProp, s"$id/plan")
        val qe = if (observed) {
          val d = digestCols(df)
          df.observe(DigestName, d.head, d.tail: _*).queryExecution
        } else df.queryExecution
        val plan = qe.executedPlan
        t2 = System.nanoTime()
        sc.setLocalProperty(SpanProp, s"$id/run")
        SQLExecution.withNewExecutionId(qe, Some(s"perfbench $key")) {
          qe.toRdd.foreach(_ => ())
        }
        val t3 = System.nanoTime()
        rec ++= Map("wall_ns" -> (t3 - t0), "cpu_ns" -> (os.getProcessCpuTime - cpu0),
          "construct_ns" -> (t1 - t0), "plan_ns" -> (t2 - t1), "run_ns" -> (t3 - t2))
        if (observed)
          rec += ("digest" -> digestOf(qe.observedMetrics(DigestName).getAs[Any]))
        if (trace) {
          def phases(q: org.apache.spark.sql.execution.QueryExecution) =
            q.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }
          val structure = structureOf(plan)
          rec ++= Map(
            "phases_construct" -> phases(df.queryExecution),
            "phases_plan" -> phases(qe),
            "exchanges" -> structure._1, "nodes" -> structure._2,
            "fingerprint" -> structure._3,
            "table_refs" -> tableRefs(df),
            "new_rdds" -> (sc.getPersistentRDDs.keySet -- persistedBefore).size,
            "pinned_delta" -> (pinnedBytes(session) - pinnedBefore))
        }
      } catch {
        case e: Throwable =>
          rec ++= Map("wall_ns" -> (System.nanoTime() - t0),
            "cpu_ns" -> (os.getProcessCpuTime - cpu0),
            "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally sc.setLocalProperty(SpanProp, null)
      if (trace) {
        GraftBridge.drainListenerBus(session)
        rec += ("jobs" -> tracer.takeJobs(id))
      }
      System.err.println(s"[perfbench] $kind $key ${rec("wall_ns")} ns")
      rec
    }

    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(keys)

    // source-resolution probes: each public loader, resolved to a schema
    val probes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def probeSources(): Unit = {
      sc.addSparkListener(tracer)
      val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        "region" -> graft.sources.Tables.region, "nation" -> graft.sources.Tables.nation,
        "customer" -> graft.sources.Tables.customer, "supplier" -> graft.sources.Tables.supplier,
        "part" -> graft.sources.Tables.part, "orders" -> graft.sources.Tables.orders,
        "lineitem" -> graft.sources.Tables.lineitem, "events" -> graft.sources.Tables.events,
        "documents" -> graft.sources.Tables.documents,
        "embeddings" -> graft.sources.Tables.embeddings)
      for (round <- 0 until 5; (t, load) <- loaders) {
        callId += 1
        sc.setLocalProperty(SpanProp, s"$callId/resolve")
        val t0 = System.nanoTime()
        load(session, dir).schema
        val ns = System.nanoTime() - t0
        sc.setLocalProperty(SpanProp, null)
        GraftBridge.drainListenerBus(session)
        probes += Map("table" -> t, "round" -> round, "ns" -> ns,
          "jobs" -> tracer.takeJobs(callId).size)
      }
      sc.removeSparkListener(tracer)
    }

    // warm-up pass: the first call of every key in this JVM, untimed as a
    // call but timed as a pass
    if (traced) sc.addSparkListener(tracer)
    val w0 = System.nanoTime()
    order(0).foreach(k => calls += call(k, 0, "warmup", traced))
    val warmupS = (System.nanoTime() - w0) / 1e9
    if (traced) sc.removeSparkListener(tracer)
    // one more untimed pass: after the first the JIT is still warming.
    // It keeps warming through the first timed passes, which the per-key
    // medians of run.py absorb
    order(-1).foreach(k => calls += call(k, 0, "settle", false))

    // timed passes, closed loop until the deadline; the pass in progress
    // is finished, so every key gets the same number of calls. A traced
    // run alternates traced and untraced passes to price the tracing
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val tStart = System.nanoTime()
    var pass = 0
    var timedCalls = 0
    while (System.nanoTime() < deadline) {
      pass += 1
      val tracePass = traced && pass % 2 == 1
      if (tracePass) sc.addSparkListener(tracer)
      order(pass).foreach { k =>
        calls += call(k, pass, "timed", tracePass)
        timedCalls += 1
      }
      if (tracePass) sc.removeSparkListener(tracer)
    }
    val timedWallS = (System.nanoTime() - tStart) / 1e9
    System.err.println(s"[perfbench] $timedCalls timed calls in $pass passes")
    val pinned = pinnedBytes(session)
    val rdds = sc.getPersistentRDDs.size

    // a traced run prices the digest observer: two more untraced passes
    // call each key with and without it, in alternating order
    if (traced) for (r <- 1 to 2; k <- order(pass + r)) {
      val kinds = if (r == 1) Seq(true, false) else Seq(false, true)
      kinds.foreach { obs =>
        calls += call(k, pass + r, if (obs) "observed" else "bare", false, obs)
      }
    }
    if (traced) probeSources()

    val result = Map[String, Any](
      "workload" -> opt("workload"), "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cores" -> cores, "keys" -> keys,
      "setup_s" -> setupS.toSeq, "warmup_s" -> warmupS,
      "timed_wall_s" -> timedWallS, "timed_calls" -> timedCalls,
      "pinned_bytes" -> pinned, "persisted_rdds" -> rdds,
      "calls" -> calls.toSeq, "probes" -> probes.toSeq)
    writeJson(s"$out/run.json", result)
    session.stop()
  }

  /** Order-independent digest of every row and column of `df`. */
  private def digestCols(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => sort_array(map_entries(c))
        case _ => c
      }
    }
    val h = xxhash64(cols: _*)
    Seq(count(lit(1)).as("n"), sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("s"),
      bit_xor(h).as("x"))
  }
  private def digestOf(field: String => Any): String =
    Seq("n", "s", "x").map(field).mkString(":")

  /** One execution per key, written as parquet for the oracle compare
    * and digested by the same observer the calls use. */
  private def verify(spark: SparkSession, keys: Seq[String], dir: String,
      out: String): Unit = {
    val queries = graft.SparkEntry.queries
    val results = keys.map { k =>
      val path = s"$out/results/$k"
      val v = try {
        val df = queries(k)(spark, dir)
        val obs = Observation(DigestName)
        val d = digestCols(df)
        df.observe(obs, d.head, d.tail: _*).write.mode("overwrite").parquet(path)
        Map("digest" -> digestOf(obs.get), "path" -> path)
      } catch {
        case e: Throwable => Map("error" ->
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      System.err.println(s"[perfbench] verified $k")
      k -> v
    }.toMap
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    writeJson(s"$out/verify.json", Map("results" -> results, "oracle_sql" -> oracles))
  }

  private def writeJson(path: String, v: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(path), v)

  /** Memory plus disk held by persisted and checkpointed RDDs. */
  private def pinnedBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Every node of an executed physical plan: AQE's final plan, the
    * exchanges inside its query stages, and subqueries. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case s: QueryStageExec => allNodes(s.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(allNodes)
  }

  /** (exchanges, nodes, fingerprint) of the plan as it ran: the
    * fingerprint hashes the canonicalized tree with object ids removed. */
  private def structureOf(plan: SparkPlan): (Int, Int, String) = {
    val nodes = allNodes(plan)
    val text = nodes.map(_.canonicalized.simpleString(400)).mkString("\n")
      .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(StandardCharsets.UTF_8))
    (nodes.count(_.isInstanceOf[Exchange]), nodes.size,
      h.take(8).map(b => f"${b & 0xff}%02x").mkString)
  }

  /** Parquet tables the key's analyzed plan reads, with multiplicity. */
  private def tableRefs(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
    }.flatten.map(_.getName.stripSuffix(".parquet"))
}
