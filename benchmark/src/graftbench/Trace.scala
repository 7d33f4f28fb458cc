package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.BenchAccess
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** A span: a named interval (epoch milliseconds) under a parent span. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double,
    endMs: Double, attrs: Map[String, Any] = Map.empty)

/** One micro-batch's `StreamingQueryProgress`, reduced to what the
  * benchmark reports. */
final case class MicroBatch(startMs: Double, triggerMs: Double,
    durations: Map[String, Double], stateCommitMs: Double, stateRows: Double)

/** Spark listener that records, for the operation in flight, every job,
  * stage, task-metric total, planned query and micro-batch. Only
  * micro-batch progress is recorded while tracing is off (the
  * `stream_micro` latency metrics need it). The benchmark runs one
  * operation at a time, so everything the listener sees between two
  * [[take]] calls belongs to one operation. */
final class Tracer extends SparkListener {
  @volatile var on = false

  private val jobs = mutable.LinkedHashMap.empty[Int, (Array[Double], Seq[Int])]
  private val stages = mutable.ArrayBuffer.empty[(Int, Double, Double, Int)]
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  private val batches = mutable.ArrayBuffer.empty[MicroBatch]

  private def add(k: String, v: Double): Unit = counters(k) += v

  override def onJobStart(j: SparkListenerJobStart): Unit = if (on) synchronized {
    jobs(j.jobId) = (Array(j.time.toDouble, Double.NaN), j.stageIds)
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = if (on) synchronized {
    jobs.get(j.jobId).foreach(_._1(1) = j.time.toDouble)
  }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    if (on) synchronized {
      val i = s.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime)
        stages += ((i.stageId, a.toDouble, b.toDouble, i.numTasks))
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (on && t.taskMetrics != null) synchronized {
      val m = t.taskMetrics; val info = t.taskInfo
      add("sched.tasks", 1)
      val overhead = m.executorDeserializeTime + m.resultSerializationTime
      add("sched.task_delay_s", math.max(0L, info.duration - overhead -
        m.executorRunTime - info.gettingResultTime) / 1e3)
      add("exec.run_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      val in = m.inputMetrics
      add("scan.rows", in.recordsRead.toDouble)
      add("scan.bytes", in.bytesRead.toDouble)
      if (in.recordsRead > 0) add("scan.tasks", 1)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("write.bytes", m.outputMetrics.bytesWritten.toDouble)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      val pr = p.progress
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      d.get("triggerExecution").foreach { trig =>
        val ops = Option(pr.stateOperators).toSeq.flatten
        batches += MicroBatch(java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble,
          trig, d, ops.map(_.commitTimeMs.toDouble).sum,
          ops.map(_.numRowsUpdated.toDouble).sum)
      }
    }
    case x: SparkListenerSQLExecutionEnd if on =>
      BenchAccess.queryExecution(x).foreach { qe => synchronized {
        add("plan.queries", 1)
        qe.tracker.phases.foreach { case (name, ph) =>
          if (name != "parsing")
            phases += ((name, ph.startTimeMs.toDouble, ph.endTimeMs.toDouble))
        }
        val files = qe.executedPlan.collect {
          case n if n.metrics.contains("numFiles") => n.metrics("numFiles").value
        }
        add("write.files", files.sum.toDouble)
      }}
    case _ =>
  }

  /** What the listener saw since the previous call; resets it. */
  def take(sc: SparkContext): Recorded = {
    BenchAccess.drainListenerBus(sc)
    synchronized {
      val r = Recorded(
        jobs.toSeq.map { case (id, (a, st)) => (id, a(0), a(1), st) },
        stages.toSeq, counters.toMap, phases.toSeq, batches.toSeq)
      jobs.clear(); stages.clear(); counters.clear(); phases.clear()
      batches.clear()
      r
    }
  }
}

final case class Recorded(
    jobs: Seq[(Int, Double, Double, Seq[Int])],
    stages: Seq[(Int, Double, Double, Int)],
    counters: Map[String, Double],
    phases: Seq[(String, Double, Double)],
    batches: Seq[MicroBatch])

object Layers {
  /** Self-time layers, innermost first: an instant of an operation's wall
    * belongs to the first layer with a span covering it, else `other`. */
  val order: Seq[String] =
    Seq("stage", "job", "plan", "microbatch", "construct", "action")

  /** Per-layer self time (seconds) over [start, end]; the values,
    * `other` included, sum to the interval's length. */
  def selfTimes(start: Double, end: Double,
      spans: Seq[(String, Double, Double)]): Map[String, Double] = {
    val clipped = spans.flatMap { case (l, a, b) =>
      val (s, e) = (math.max(a, start), math.min(b, end))
      if (e > s) Some((order.indexOf(l), s, e)) else None
    }
    val cuts = (clipped.flatMap { case (_, s, e) => Seq(s, e) } ++ Seq(start, end))
      .distinct.sorted
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val mid = (a + b) / 2
        val hits = clipped.collect { case (i, s, e) if s <= mid && mid < e => i }
        acc(if (hits.isEmpty) "other" else order(hits.min)) += (b - a) / 1e3
      case _ =>
    }
    (order :+ "other").map(l => l -> acc(l)).toMap
  }

  /** Length (seconds) of the union of intervals, clipped to [start, end]. */
  def covered(start: Double, end: Double, iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var reach = start
    iv.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total / 1e3
  }
}
