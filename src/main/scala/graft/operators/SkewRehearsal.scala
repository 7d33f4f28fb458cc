package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew rehearsal at scale (VERDICT r8 item 5): `join_skew_aqe` is
  * plan-asserted at sf0.1 with toy thresholds (2 KB), where the "skew"
  * is symbolic. This main runs the SAME hot-key workload (90% of
  * lineitem funnels into one join key) at the ScaleGen sf1/sf10
  * decades with CLUSTER-REALISTIC thresholds (64 MB advisory/skew
  * threshold — Spark's production defaults' order of magnitude), and
  * times three plans:
  *
  *   unsalted  — AQE skew-join OFF: the naive plan whose hot reduce
  *               partition serializes one task;
  *   aqe       — AQE skew-join ON: the knob a 100 TB user turns first;
  *               the split count is read back from the final adaptive
  *               plan;
  *   salted    — the ×8 manual recipe (join_salted's shape on this
  *               workload): the fallback when AQE can't see the skew.
  *
  * All three must return identical rows (asserted) — the rehearsal
  * measures pure plan surgery. SCALING.md records the table; the done
  * bar is aqe ≤ unsalted and aqe within ~1.5× of salted at sf10.
  *
  * Usage: SPARK_GRAFT_CPUS=16 scripts/run_main.sh \
  *          graft.operators.SkewRehearsal target/scale/sf1 [S]
  */
object SkewRehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/scale/sf1")
    val salt = if (args.length > 1) args(1).toInt else 8
    val spark = graft.Session()
    val cpus = spark.sparkContext.defaultParallelism
    Seq(
      // a 100 TB fact never broadcasts; keep every variant a shuffle join
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // Cluster-realistic skew thresholds (not the sf0.1 2 KB toys),
      // scaled to the decade under test: the skew test is
      // size > max(threshold, factor × median), sized against
      // COMPRESSED shuffle bytes — the sf1 hot partition is ~30 MB
      // compressed, the sf10 one ~300 MB, so the threshold must sit
      // between "median" and "hot" at each decade just as a production
      // conf sits between its median and its whales.
      // without force, OptimizeSkewedJoin's extra-shuffle heuristic can
      // veto the split even when the downstream agg re-shuffles anyway —
      // the declared key (join_skew_aqe) sets the same flag
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_SKEW_THRESHOLD", "64MB"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_SKEW_ADVISORY", "16MB")
    ).foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("WARN")

    // the join_skew_aqe workload (Relational.joinSkewPlan), map tasks
    // scaled to the host so the skew split has boundaries to cut at
    def fact: DataFrame = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .repartition(cpus)
      .select(
        when(pmod(col("l_orderkey"), lit(100)) < 90, lit(0L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_extendedprice"))
    def dim: DataFrame = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    def aggd(j: DataFrame): DataFrame = j
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice")) / 1000000.0, 2).as("revenue_m"))

    def unsalted: DataFrame =
      aggd(fact.join(dim, col("k") === col("o_orderkey")))
    def salted: DataFrame = {
      val f = fact.withColumn("fsalt",
        pmod(hash(col("l_extendedprice"), col("k")), lit(salt)))
      val d = dim.withColumn("dsalt",
        explode(sequence(lit(0), lit(salt - 1))))
      aggd(f.join(d,
        col("k") === col("o_orderkey") && col("fsalt") === col("dsalt")))
    }

    def withSkew[T](on: Boolean)(body: => T): T = {
      val key = "spark.sql.adaptive.skewJoin.enabled"
      val prior = spark.conf.get(key)
      spark.conf.set(key, on.toString)
      try body
      finally spark.conf.set(key, prior)
    }

    /** Executes df, returns (seconds, canonical rows, skew-split slice
      * count from the FINAL adaptive plan: PartialReducerPartitionSpec
      * entries are exactly the sub-reads a skewed partition was cut
      * into). Canonical rows carry (priority, exact count) only — the
      * revenue sum is float and the three variants accumulate it in
      * different partition orders, so at sf10 magnitudes (~1e12) the
      * 2-dp rounding granule can flip between variants on identical
      * data; it is compared separately with a tolerance. */
    def timeIt(df: => DataFrame): (Double, Set[String], Int, Map[String, Double]) = {
      val d = df
      val t0 = System.nanoTime()
      val collected = d.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = collected.map(r => s"${r.get(0)}|${r.get(1)}").toSet
      val rev = collected.map(r =>
        r.get(0).toString -> r.getDouble(2)).toMap
      (sec, rows, skewSlices(d.queryExecution.executedPlan), rev)
    }
    def best(n: Int)(run: => (Double, Set[String], Int, Map[String, Double])) = {
      val rs = Seq.fill(n)(run)
      rs.minBy(_._1)
    }

    // warm the parquet footers/page cache once so variant order doesn't bias
    unsalted.write.format("noop").mode("overwrite").save()

    val (tPlain, rPlain, _, vPlain) = best(2)(withSkew(false)(timeIt(unsalted)))
    val (tAqe, rAqe, slices, vAqe) = best(2)(withSkew(true)(timeIt(unsalted)))
    val (tSalt, rSalt, _, vSalt) = best(2)(withSkew(false)(timeIt(salted)))
    require(rPlain == rAqe && rPlain == rSalt,
      "skew rehearsal variants disagree — plan surgery changed the result")
    // revenue compared with a relative tolerance, not string equality:
    // summation order differs per plan, exact equality would abort a
    // half-hour rehearsal over one reassociated ulp at the granule edge
    for (k <- vPlain.keys) {
      val (a, b, c) = (vPlain(k), vAqe(k), vSalt(k))
      require(math.abs(a - b) <= math.abs(a) * 1e-9 + 0.011 &&
        math.abs(a - c) <= math.abs(a) * 1e-9 + 0.011,
        s"revenue_m diverges beyond rounding tolerance at $k: $a / $b / $c")
    }
    println(f"[skew] unsalted=${tPlain}%.2f s  aqe=${tAqe}%.2f s  " +
      f"salted(x$salt)=${tSalt}%.2f s  skew_slices=$slices")
    println(s"""{"skew_rehearsal":{"sf":"$sfDir","unsalted_sec":${r3(tPlain)},""" +
      s""""aqe_sec":${r3(tAqe)},"salted_sec":${r3(tSalt)},"salt":$salt,""" +
      s""""skew_slices":$slices}}""")
    spark.stop()
  }

  private def r3(d: Double): Double = math.round(d * 1000) / 1000.0

  /** Counts PartialReducerPartitionSpec entries (the sub-reads a skewed
    * reduce partition was split into) across the WHOLE adaptive plan.
    * A plain `plan.collect` cannot see them: materialized
    * `QueryStageExec` nodes are leaves whose inner plan hangs off a
    * member, not `children` — so the walk descends through stages and
    * nested adaptive plans explicitly. */
  private def skewSlices(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
    val here = p match {
      case r: AQEShuffleReadExec => r.partitionSpecs.count(
        _.isInstanceOf[org.apache.spark.sql.execution.PartialReducerPartitionSpec])
      case _ => 0
    }
    val inner = p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => Nil
    }
    here + (p.children ++ inner).map(skewSlices).sum
  }
}
