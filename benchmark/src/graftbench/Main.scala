package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry
import graft.operators.Caches

/** The benchmark's JVM side: one closed-loop client that runs one
  * workload's keys through `SparkEntry.queries`, one operation in flight.
  * An operation is one full execution of one key (construct, then the
  * action), followed by `Caches.releaseAll()`.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <runDir> <sfDir>
  *             <spawnEpochNanos> <cores>
  *
  * Writes `<runDir>/result.json` (and `<runDir>/spans.json` when traced);
  * `benchmark/run.py` turns it into metrics and checks the oracle keys. */
object Main {
  /** The census keys `batch_mix` runs, by `graft.operators` module
    * (stratified in census proportion; see README.md). */
  val batchMix: Seq[(String, Seq[String])] = Seq(
    "Relational" -> Seq("join_semi", "join_asof"),
    "Analytic" -> Seq("win_rank", "agg_percentile"),
    "EventAnalytics" -> Seq("sessionize_batch", "scd2_history"),
    "TextAnalysis" -> Seq("text_pii_scrub", "token_count"),
    "Similarity" -> Seq("sim_topk"),
    "FormatSources" -> Seq("scan_csv"),
    "Layout" -> Seq("compact_files"))

  /** Streaming keys whose latency is fixed per-micro-batch cost: HDFS- and
    * RocksDB-backed state, a file sink, update mode and foreachBatch. */
  val streamMicro: Seq[String] = Seq(
    "stream_late_data", "stream_sink_files", "stream_transform_state",
    "stream_update_mode", "stream_foreachbatch")

  final case class Workload(name: String, keys: Seq[String], dataDir: String,
      warmupPasses: Int, collect: Boolean)

  final case class Op(key: String, pass: Int, phase: String, traced: Boolean,
      construct_s: Double, action_s: Double, wall_s: Double,
      release_s: Double, error: Option[String],
      microbatch_ms: Seq[Double], layers: Map[String, Double])

  private def now(): Double = System.nanoTime() / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDir, sfDir, spawnNs, coresS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    // process start, on the monotonic clock this JVM times operations by
    val spawnAt = {
      val i = java.time.Instant.now()
      now() - ((i.getEpochSecond * 1000000000L + i.getNano) - spawnNs.toLong) / 1e9
    }
    val excluded = mutable.ArrayBuffer.empty[Double] // input generation, checks
    val result = mutable.LinkedHashMap[String, Any]("workload" -> workload,
      "seed" -> seed, "seconds" -> seconds, "trace" -> trace, "cores" -> cores)
    def excludedTime[T](label: String)(f: => T): T = {
      val t0 = now(); val r = f; val dt = now() - t0
      excluded += dt; result(label) = dt; r
    }

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        math.max(2, cores / 4).toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val tracer = new Tracer
    sc.addSparkListener(tracer)

    // Census guard: every key a workload names must exist.
    val named = batchMix.flatMap(_._2) ++ streamMicro :+ "q6"
    val missing = named.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"keys missing from SparkEntry.queries: ${missing.mkString(",")}")
    result("census_keys") = SparkEntry.queries.size
    result("census_unrun") = (SparkEntry.queries.keySet -- named).toSeq.sorted

    val wl = workload match {
      case "q6_reference" =>
        val dir = s"$runDir/q6data"
        excludedTime("input_s") {
          Q6Data.write(spark, seed, Q6Data.Rows, 4, s"$dir/lineitem.parquet")
        }
        Workload(workload, Seq("q6"), dir, warmupPasses = 30, collect = true)
      case "batch_mix" =>
        Workload(workload, batchMix.flatMap(_._2), sfDir, warmupPasses = 1, collect = false)
      case "stream_micro" =>
        Workload(workload, streamMicro, sfDir, warmupPasses = 1, collect = false)
      case other => sys.error(s"unknown workload $other")
    }
    val q6Expected = if (wl.collect) excludedTime("oracle_s") {
      Q6Data.selfCheck().foreach(msg => sys.error(msg))
      Some(Q6Data.oracle(seed, Q6Data.Rows))
    } else None
    q6Expected.foreach(e => result("q6_expected") =
      Map("revenue_units" -> e.revenueUnits, "n_rows" -> e.rows))
    val noOracle = wl.keys.filterNot(SparkEntry.oracleSql.contains).toSet

    // ---- one operation ----
    val spans = mutable.ArrayBuffer.empty[Span]
    var lastSpanId = 0L
    def spanId(): Long = { lastSpanId += 1; lastSpanId }
    def span(parent: Long, name: String, a: Double, b: Double,
        attrs: Map[String, Any] = Map.empty): Long = {
      val id = spanId()
      if (trace) spans += Span(id, parent, name, a, b, attrs)
      id
    }
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def ms(t: Double): Double = t * 1e3 + epochOffsetMs
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcSeconds(): Double = gcBeans.map(_.getCollectionTime).sum / 1e3
    def storedBytes(): Long =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    /** Waits (bounded) for the block manager to drop released blocks;
      * an operation must start on empty storage. */
    def assertStorageEmpty(): Unit = {
      val deadline = now() + 5
      var b = storedBytes()
      while (b > 0 && now() < deadline) { Thread.sleep(10); b = storedBytes() }
      if (b > 0) throw new IllegalStateException(
        s"$b bytes of cached blocks left in storage at operation start")
    }

    var opCount = 0
    def runOp(key: String, pass: Int, phase: String, passSpan: Long,
        action: DataFrame => Unit): Op = {
      opCount += 1
      val traced = tracer.on
      var err: Option[String] =
        try { assertStorageEmpty(); None }
        catch { case e: Throwable => Some(e.getMessage) }
      tracer.take(sc)
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcSeconds()
      @volatile var peakStored = 0L
      @volatile var sampling = traced
      val sampler = if (!traced) None else Some {
        val t = new Thread(() => while (sampling) {
          peakStored = math.max(peakStored, storedBytes()); Thread.sleep(20)
        })
        t.setDaemon(true); t.start(); t
      }
      sc.setJobGroup(s"op-$opCount", s"${wl.name} $key pass $pass", false)
      val t0 = now(); var t1 = t0
      if (err.isEmpty) try {
        val df = SparkEntry.queries(key)(spark, wl.dataDir)
        t1 = now()
        action(df)
      } catch { case e: Throwable =>
        err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      val t2 = now()
      sc.clearJobGroup()
      sampling = false
      sampler.foreach(_.join())
      val r0 = now(); Caches.releaseAll(); val r1 = now()
      val rec = tracer.take(sc)
      val mb = rec.batches.map(_.triggerMs)
      val layers = if (!traced) Map.empty[String, Double] else {
        val (a, b) = (ms(t0), ms(t2))
        val opId = span(passSpan, "operation", a, b, Map("key" -> key))
        span(opId, "construct", a, ms(t1))
        span(opId, "action", ms(t1), b)
        span(passSpan, "Caches.release", ms(r0), ms(r1))
        val jobSpan = mutable.Map.empty[Int, Long]
        val jobIv = rec.jobs.map { case (id, s, e, stageIds) =>
          val sp = span(opId, "job", s, e, Map("job" -> id))
          stageIds.foreach(jobSpan(_) = sp)
          (s, e)
        }
        rec.stages.foreach { case (id, s, e, n) =>
          span(jobSpan.getOrElse(id, opId), "stage", s, e, Map("stage" -> id, "tasks" -> n)) }
        rec.phases.foreach { case (n, s, e) => span(opId, s"plan.$n", s, e) }
        rec.batches.foreach { m =>
          val id = span(opId, "microbatch", m.startMs, m.startMs + m.triggerMs)
          m.durations.foreach { case (n, d) =>
            if (n != "triggerExecution") span(id, n, m.startMs, m.startMs + d) }
        }
        val self = Layers.selfTimes(a, b,
          Seq(("construct", a, ms(t1)), ("action", ms(t1), b)) ++
            jobIv.map { case (s, e) => ("job", s, e) } ++
            rec.stages.map { case (_, s, e, _) => ("stage", s, e) } ++
            rec.phases.map { case (_, s, e) => ("plan", s, e) } ++
            rec.batches.map(m => ("microbatch", m.startMs, m.startMs + m.triggerMs)))
        val c = rec.counters.withDefaultValue(0.0)
        def phase(n: String) = rec.phases.collect { case (`n`, s, e) => (e - s) / 1e3 }.sum
        def mbSum(k: String) = rec.batches.map(_.durations.getOrElse(k, 0.0)).sum
        val wall = t2 - t0
        self.map { case (l, v) => s"self.${l}_s" -> v } ++ Map(
          "SparkEntry.construct_s" -> (t1 - t0),
          "SparkEntry.construct_jobs" -> rec.jobs.count(_._2 < ms(t1)).toDouble,
          "plan.analysis_s" -> phase("analysis"),
          "plan.optimization_s" -> phase("optimization"),
          "plan.planning_s" -> phase("planning"),
          "plan.queries" -> c("plan.queries"),
          "sched.jobs" -> rec.jobs.size.toDouble,
          "sched.stages" -> rec.stages.size.toDouble,
          "sched.tasks" -> c("sched.tasks"),
          "sched.task_delay_s" -> c("sched.task_delay_s"),
          "sched.driver_gap_s" -> (wall - Layers.covered(a, b, jobIv)),
          "exec.run_s" -> c("exec.run_s"),
          "exec.cpu_s" -> c("exec.cpu_s"),
          "exec.gc_s" -> c("exec.gc_s"),
          "scan.rows" -> c("scan.rows"),
          "scan.bytes" -> c("scan.bytes"),
          "scan.tasks" -> c("scan.tasks"),
          "shuffle.write_bytes" -> c("shuffle.write_bytes"),
          "shuffle.read_bytes" -> c("shuffle.read_bytes"),
          "shuffle.fetch_wait_s" -> c("shuffle.fetch_wait_s"),
          "spill.bytes" -> c("spill.bytes"),
          "Caches.release_s" -> (r1 - r0),
          "Caches.stored_bytes_peak" -> peakStored.toDouble,
          "write.bytes" -> c("write.bytes"),
          "write.files" -> c("write.files"),
          "streaming.batches" -> rec.batches.size.toDouble,
          "streaming.trigger_ms" -> mb.sum,
          "streaming.addBatch_ms" -> mbSum("addBatch"),
          "streaming.queryPlanning_ms" -> mbSum("queryPlanning"),
          "streaming.walCommit_ms" -> mbSum("walCommit"),
          "streaming.commitOffsets_ms" -> mbSum("commitOffsets"),
          "streaming.latestOffset_ms" -> mbSum("latestOffset"),
          "streaming.state_commit_ms" -> rec.batches.map(_.stateCommitMs).sum,
          "streaming.state_rows" -> rec.batches.map(_.stateRows).sum,
          "jvm.gc_s" -> (gcSeconds() - gc0),
          "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
      }
      Op(key, pass, phase, traced, t1 - t0, t2 - t1, t2 - t0, r1 - r0, err, mb, layers)
    }

    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(wl.keys)
    def rowsHash(rows: Array[Row]): (Int, String) = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
      (rows.length, md.digest().map(b => f"$b%02x").mkString)
    }
    val firstHash = mutable.Map.empty[String, (Int, String)]
    val checks = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val q6Check = (df: DataFrame) => {
      val e = q6Expected.get
      val Array(row) = df.collect()
      val units = math.round(row.getDouble(0) * 1e4)
      if (units != e.revenueUnits || row.getLong(1) != e.rows)
        throw new IllegalStateException(s"q6 result ($units units, " +
          s"${row.getLong(1)} rows) != expected (${e.revenueUnits}, ${e.rows})")
    }
    val noop = (df: DataFrame) =>
      df.write.format("noop").mode("overwrite").save()
    val timedAction = if (wl.collect) q6Check else noop

    val ops = mutable.ArrayBuffer.empty[Op]
    val runSpan = spanId()
    val runStartMs = ms(now())

    // ---- set-up: the warm-up passes (untimed) ----
    (1 to wl.warmupPasses).foreach { p =>
      order(-p).foreach { key =>
        ops += runOp(key, -p, "warmup", runSpan, df =>
          if (noOracle(key)) firstHash(key) = rowsHash(df.collect())
          else timedAction(df))
      }
    }
    result("setup_s") = now() - spawnAt - excluded.sum

    // ---- check pass: every key's second execution is checked (state
    // carried over from the first is covered); it also warms the keys a
    // second time before the window. Excluded from set-up time. ----
    excludedTime("check_s") {
      val outDir = s"$runDir/out"
      if (!wl.collect) order(0).foreach { key =>
        val op = runOp(key, 0, "check", runSpan, df =>
          if (noOracle(key)) {
            val (n, h) = rowsHash(df.collect())
            val (n0, h0) = firstHash.getOrElse(key, (-1, ""))
            checks(key) = Map("kind" -> "repeat", "rows" -> n,
              "ok" -> (n > 0 && h == h0 && n == n0),
              "detail" -> s"rows=$n first=$n0 hash_equal=${h == h0}")
          } else {
            df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$key")
            checks(key) = Map("kind" -> "oracle", "path" -> s"$outDir/$key",
              "sql" -> SparkEntry.oracleSql(key))
          })
        ops += op
        op.error.foreach(e => checks(key) = Map("kind" -> "error", "ok" -> false, "detail" -> e))
      }
    }

    // ---- timed window: whole passes, while the next one is predicted to
    // end inside `seconds` (always at least one). A traced run times each
    // key twice per pass, traced and untraced back to back in alternating
    // order, so the two medians compare like with like. ----
    val w0 = now()
    var pass = 0
    var passS = 0.0
    while (pass == 0 || now() - w0 + passS <= seconds) {
      pass += 1
      val p0 = now()
      val passSpan = spanId()
      order(pass).zipWithIndex.foreach { case (key, i) =>
        val modes = if (!trace) Seq(false)
          else if ((i + pass) % 2 == 0) Seq(false, true) else Seq(true, false)
        modes.foreach { m =>
          tracer.on = m
          ops += runOp(key, pass, "timed", passSpan, timedAction)
        }
        tracer.on = false
      }
      passS = now() - p0
      if (trace) spans += Span(passSpan, runSpan, "pass", ms(p0), ms(now()),
        Map("pass" -> pass))
    }
    result("window_s") = now() - w0
    result("passes") = pass

    if (trace) spans += Span(runSpan, 0, "run", runStartMs, ms(now()))

    result("peak_rss_mb") = {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    }
    result("checks") = checks
    result("ops") = ops
    spark.stop()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    if (trace) json.writeValue(new java.io.File(s"$runDir/spans.json"), spans)
    json.writeValue(new java.io.File(s"$runDir/result.json"), result)
  }
}
