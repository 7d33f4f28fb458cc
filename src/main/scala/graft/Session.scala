package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration: Bench times it, Verify's oracle dump
  * checks it, Probe decomposes it and the test suites assert against it
  * (SessionSpec pins this file as the only builder under `src/main`).
  * Other `spark.*` confs reach the session as `-D` system properties
  * (`SPARK_GRAFT_JAVA_OPTS`); runtime SQL confs can be set afterwards. */
object Session {

  /** Session parallelism: `SPARK_GRAFT_CPUS`, else every host core. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** getOrCreate: the first caller's config wins for the JVM.
    * `SPARK_GRAFT_MASTER` replaces `local[cores]` for the multi-process
    * rehearsal (VERIFY_cluster.md). */
  def apply(cores: Int = defaultCores): SparkSession =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floor = cores/4 (r19, measured): the advisory-
      // size coalescer collapses every small shuffle to ONE partition,
      // so each CPU-heavy post-shuffle stage (interpreted variant
      // consumers, HOF projections above a terminal sort) ran
      // single-core while 31 cores idled — variant_explode 2.7 → 1.2 s,
      // win_running 1.0 → 0.5 s in the same window. The floor is
      // DERIVED (a quarter of session parallelism, min 2), not a tuned
      // constant: at production volumes byte-targeted partition counts
      // sit far above core count and the floor never binds; it binds
      // exactly in the small-shuffle regime where partitions are
      // compute-bound, not byte-bound. A quarter rather than all cores
      // because the floor also taxes every genuinely tiny stage with
      // task overhead — the 4-arm A/B (floor 1/8/16/32 over a mixed
      // 22-key sample, same window) read 19.4 / 15.8 / 16.7 / 16.3 s:
      // cores/4 keeps ~all of the heavy-stage win at a quarter of the
      // overhead.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        Tables.spread(cores).toString)
      // Let AQE re-plan (and coalesce) shuffles above cached plans too —
      // the iterative CC loop's per-round joins read persisted frames,
      // which this conf otherwise pins at the static partition count.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
