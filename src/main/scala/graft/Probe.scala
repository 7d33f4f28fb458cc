package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.operators.Caches

/** Per-key cost decomposition: is a key data-bound or scheduling-bound,
  * and which jobs eat its wall? Each pass is ONE full execution —
  * construct, noop write, `Caches.releaseAll()` — under a job group named
  * for key and pass. It prints a `JOB` line per Spark job (wall, declared
  * stages, description) and a `PASS` line: construct vs action seconds,
  * then [[Counts]], including the bytes the pass left stored after the
  * release. With `planDir`, `<planDir>/<key>.txt` gets the formatted plan.
  *
  * Usage: scripts/run_main.sh graft.Probe <sfDir> <key,...> [passes=2] [planDir]
  * Spill rehearsal: `SPARK_GRAFT_JAVA_OPTS=-Dspark.memory.fraction=0.15`
  * (not a session-factory key, so the system property reaches the pool).
  */
object Probe {
  val Counts = Seq("jobs", "stages", "tasks", "shuffle_read", "shuffle_write",
    "mem_spill", "disk_spill", "stored_after")

  final case class Job(id: Int, wallS: Double, stages: Int, description: String)
  final case class Pass(key: String, pass: Int, constructS: Double,
      actionS: Double, jobs: Seq[Job], counts: Map[String, Long],
      error: Option[String]) {
    def line: String =
      f"PASS $key%-24s #$pass construct $constructS%.3f s action $actionS%.3f s " +
        Counts.map(k => s"$k=${counts(k)}").mkString(" ") +
        error.fold("")(e => s" error=$e")
  }

  /** Everything the bus delivers while attached: the probe drains the bus
    * before attaching and runs one pass at a time, so that is one pass —
    * streaming micro-batch jobs (their own job group) included. */
  private final class Census extends SparkListener {
    val starts = mutable.LinkedHashMap.empty[Int, (Long, Int, String)]
    val ends = mutable.Map.empty[Int, Long]
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      starts(j.jobId) = (j.time, j.stageIds.size, Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("").replaceAll("\\s+", " "))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      ends(j.jobId) = j.time; notifyAll()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { counts("stages") += 1 }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(t.taskMetrics).foreach(m => synchronized {
        counts("tasks") += 1
        counts("shuffle_read") += m.shuffleReadMetrics.totalBytesRead
        counts("shuffle_write") += m.shuffleWriteMetrics.bytesWritten
        counts("mem_spill") += m.memoryBytesSpilled
        counts("disk_spill") += m.diskBytesSpilled
      })

    /** Waits (bounded) for every started job's end event. */
    def awaitJobs(timeoutMs: Long): Seq[Job] = synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      def open = starts.keySet.exists(!ends.contains(_))
      while (open && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      starts.toSeq.map { case (id, (t0, n, desc)) =>
        Job(id, ends.get(id).fold(Double.NaN)(t1 => (t1 - t0) / 1e3), n, desc)
      }
    }
  }

  private def runPass(spark: SparkSession, sfDir: String, key: String, pass: Int): Pass = {
    val sc = spark.sparkContext
    val census = new Census
    val persistedBefore = sc.getPersistentRDDs.keySet
    GraftSqlBridge.drainListenerBus(sc)
    sc.addSparkListener(census)
    val group = s"probe:$key:$pass"
    sc.setJobGroup(group, s"$key pass $pass", interruptOnCancel = false)
    val t0 = System.nanoTime()
    var t1 = t0
    val error =
      try {
        val df = SparkEntry.queries(key)(spark, sfDir)
        t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable =>
        sc.cancelJobGroup(group)
        Some(Option(e.getMessage).getOrElse(e.getClass.getName)
          .replaceAll("\\s+", " ").take(200))
      }
    val t2 = System.nanoTime()
    sc.clearJobGroup()
    GraftSqlBridge.drainListenerBus(sc)
    val jobs = census.awaitJobs(60000)
    sc.removeSparkListener(census)
    Caches.releaseAll()
    val stored = sc.getRDDStorageInfo.filterNot(i => persistedBefore(i.id))
      .map(i => i.memSize + i.diskSize).sum
    val seen = census.synchronized(census.counts.toMap) ++
      Map("jobs" -> jobs.size.toLong, "stored_after" -> stored)
    Pass(key, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9, jobs,
      Counts.map(k => k -> seen.getOrElse(k, 0L)).toMap, error)
  }

  def run(spark: SparkSession, sfDir: String, keys: Seq[String], passes: Int,
      planDir: Option[String] = None): Seq[Pass] = {
    Caches.releaseAll()
    keys.flatMap { key =>
      val done = (1 to passes).map { p =>
        val r = runPass(spark, sfDir, key, p)
        r.jobs.foreach(j => println(f"JOB ${j.id}%5d ${j.wallS}%8.3f s " +
          f"stages=${j.stages}%-3d ${j.description.take(90)}"))
        println(r.line)
        r
      }
      planDir.foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, s"$key.txt"), SparkEntry.queries(key)(
          spark, sfDir).queryExecution.explainString(FormattedMode))
        Caches.releaseAll()
      }
      done
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Probe <sfDir> <key,...> [passes=2] [planDir]")
    val spark = Session()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args(0), args(1).split(",").toSeq,
      args.lift(2).fold(2)(_.toInt), args.lift(3))
    finally spark.stop()
  }
}
