package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Analytic layer — SURVEY.md §2B Q14–Q29: approximate/multi-dimensional
  * aggregation, window functions, top-k, set operations, and the scalar
  * function suites (string/date/math).
  *
  * Everything here is Catalyst built-ins (whole-stage-codegen eligible;
  * SURVEY.md §4 "no custom work needed"). Cross-engine determinism
  * conventions as in SparkEntry: terminal ORDER BY on unique keys,
  * round(·,4) on computed floats, integer-typed results cast to long
  * (Spark's int vs DuckDB's BIGINT), rollup/cube NULL keys coalesced to
  * 'ALL' sentinels.
  *
  * Scale notes: window functions shuffle once on partitionBy keys —
  * partition keys chosen with bounded cardinality per key (user_id,
  * custkey) so a single key's rows fit an executor; top-k uses
  * TakeOrderedAndProject (per-partition heap + driver merge of k rows,
  * never a global sort); rollup/cube expand via a single Expand node with
  * partial aggregation before the exchange.
  */
object Analytic {

  // Q14 `agg_approx_distinct` — HyperLogLog++ distinct. At 100 TB this is
  // the only sane distinct: fixed-size sketch, merged map-side, no
  // shuffle of distinct values. Unit-tested vs exact (±5%), no SQL
  // oracle — and provably CAN'T have one, even in an exactness regime
  // (adjudicated r18, SURVEY §2B Q14): Spark's implementation omits
  // HLL++'s sparse (exact-below-threshold) mode, so there is no
  // cardinality at which the estimate is contractually exact, and
  // DuckDB's HLL uses a different hash besides.
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  // Q15 `agg_rollup` — hierarchical totals with grouping_id.
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n_rows"), col("gid"))
      .orderBy("gid", "rf", "ls")

  // Q16 `agg_cube` — all 2^k grouping combinations.
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        // exact cents (r15 flip-class audit: the grand-total cell sums
        // EVERY order into one double)
        round(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .cast("double") / 100, 4).as("sum_price"),
        count(lit(1)).as("n_orders"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("sum_price"), col("n_orders"), col("gid"))
      .orderBy("gid", "status", "priority")

  // Q17 `agg_grouping_sets` — explicit grouping sets via SQL (the DSL has
  // no grouping-sets method; this also exercises the SQL entry path).
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("gs_lineitem")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       count(*) AS n_rows
        |FROM gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin)
  }

  // Q18 `win_rank` — ranking family. w1 has a unique total order (ties
  // broken by c_custkey) for row_number/ntile determinism; w2 ranks over a
  // low-cardinality key so rank/dense_rank actually see ties (tied rows
  // get equal rank → deterministic output regardless of intra-tie order).
  def winRank(spark: SparkSession, dir: String): DataFrame = {
    val w1 = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val w2 = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_mktsegment"))
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"), col("c_nationkey"),
        row_number().over(w1).cast("long").as("rn"),
        ntile(4).over(w1).cast("long").as("quartile"),
        rank().over(w2).cast("long").as("seg_rank"),
        dense_rank().over(w2).cast("long").as("seg_dense_rank"))
      .orderBy("c_custkey")
  }

  // Q19 `win_running` — cumulative frame rowsBetween(unboundedPreceding,
  // current). Both engines accumulate left-to-right over the same unique
  // order → identical float sequence; round(·,4) belt-and-braces.
  def winRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"), col("o_custkey"),
        round(sum(col("o_totalprice")).over(w), 4).as("running_total"),
        count(lit(1)).over(w).as("running_n"))
      .transform(Tables.contractSort(spark, dir, "orders", _,
        col("o_orderkey")))
  }

  // Q20 `win_lag_lead` — offset functions; NULL at partition edges in both
  // engines (values pass through exactly, no rounding needed).
  def winLagLead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"))
      .orderBy("event_id")
  }

  // Q21 `win_moving_avg` — bounded sliding frame rowsBetween(-2, 0).
  def winMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        round(avg(col("value")).over(w), 4).as("moving_avg"))
      .transform(Tables.contractSort(spark, dir, "events", _,
        col("event_id")))
  }

  // `win_range_frames` — event-time RANGE frame (VERDICT r9 item 4):
  // per-user rolling 1-hour count + sum over `events`, the time-based
  // sibling of the ROWS frames above (win_running / win_moving_avg).
  // A RANGE frame bounds by ORDER-BY VALUE distance, not row offset, so
  // it is insensitive to tie order: all ts peers enter the frame
  // together, making the result deterministic without a tiebreak column
  // in the frame spec. Arithmetic is integer microseconds (unix_micros,
  // the sessionize_batch convention) so the 1-hour bound compares
  // exactly in both engines — no interval/timestamp coercion. At scale:
  // one shuffle on user_id, then a per-partition sort and a sliding
  // two-pointer frame evaluation — same economics as any window; the
  // frame never materializes (running aggregate with retraction).
  def winRangeFrames(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-hourUs, 0L)
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .select(
        col("user_id"), col("ts_us"), col("event_id"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum(col("value")).over(w), 4).as("sum_1h"))
      .transform(Tables.contractSort(spark, dir, "events", _,
        col("user_id"), col("ts_us"), col("event_id")))
  }

  // Q22 `sort_limit_topk` — global top-k. orderBy+limit plans as
  // TakeOrderedAndProject: per-partition heap of k, driver merges k·p rows
  // — no global sort/shuffle, the only top-k that works at 100 TB.
  def sortLimitTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  private def setLeft(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))

  private def setRight(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 250000.0)
      .select(col("o_custkey").as("custkey"))

  // Q23–Q26 set operations on projected key sets.
  def setUnionAll(spark: SparkSession, dir: String): DataFrame =
    setLeft(spark, dir).unionAll(setRight(spark, dir)).orderBy("custkey")

  def setUnionDistinct(spark: SparkSession, dir: String): DataFrame =
    setLeft(spark, dir).union(setRight(spark, dir)).distinct().orderBy("custkey")

  def setIntersect(spark: SparkSession, dir: String): DataFrame =
    setLeft(spark, dir).intersect(setRight(spark, dir)).orderBy("custkey")

  def setExcept(spark: SparkSession, dir: String): DataFrame =
    setLeft(spark, dir).except(setRight(spark, dir)).orderBy("custkey")

  // `set_multiset` — the ALL (bag-semantics) half of the set-op
  // family Q23–Q26 leaves open: EXCEPT ALL (multiplicity difference)
  // and INTERSECT ALL (multiplicity minimum) over the same duplicated
  // custkey streams. The distinct-semantics siblings erase HOW MANY
  // times a key survives — for workloads where the count is the
  // signal (order streams, event logs), the ALL variants are the
  // correct algebra. Output aggregated to (tag, custkey, n): the
  // per-value multiplicity IS the multiset, rendered deterministically.
  // Scale: Spark plans both as a single hash aggregation on the key
  // computing per-side counts then a map-side multiplicity expression —
  // one shuffle each, no join.
  def setMultiset(spark: SparkSession, dir: String): DataFrame = {
    val ex = setLeft(spark, dir).exceptAll(setRight(spark, dir))
      .groupBy("custkey").agg(count(lit(1)).as("n"))
      .withColumn("tag", lit("except_all"))
    val in = setLeft(spark, dir).intersectAll(setRight(spark, dir))
      .groupBy("custkey").agg(count(lit(1)).as("n"))
      .withColumn("tag", lit("intersect_all"))
    ex.unionByName(in)
      .select(col("tag"), col("custkey"), col("n"))
      .orderBy("tag", "custkey")
  }

  // `win_top_per_group` — per-group top-N via a rank filter, the shape
  // Spark optimizes with WindowGroupLimit: because the downstream
  // filter is `rn <= 3`, each map task keeps only its local top-3 PER
  // GROUP BEFORE the window shuffle (a partial group-limit below the
  // exchange, then a final one above) — so the exchange carries
  // O(groups × N), not the full table. At 100 TB this is the
  // difference between shuffling every customer and shuffling 3 per
  // nation; PlanSpec pins BOTH WindowGroupLimit operators (partial +
  // final) in the plan. Tie-break on custkey keeps the cut
  // deterministic cross-engine.
  def winTopPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("c_nationkey", "rn")
  }

  // Q27 `str_funcs` — string expression suite over part.
  def strFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("lname"),
        upper(col("p_brand")).as("ubrand"),
        substring(col("p_name"), 1, 8).as("prefix8"),
        length(col("p_name")).cast("long").as("name_len"),
        trim(col("p_name")).as("trimmed"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        col("p_name").like("%an%").as("has_an"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        size(split(col("p_name"), " ")).cast("long").as("n_tokens"))
      .orderBy("p_partkey")

  // `str_funcs2` — second string suite: padding, case/translate
  // transforms, repetition, reversal, and Levenshtein edit distance
  // (the per-pair primitive behind fuzzy matching; at scale it runs
  // only on candidate pairs from a blocking stage, never all-pairs —
  // here applied per-row between related columns).
  def strFuncs2(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "_").as("padded"),
        translate(col("p_name"), "aeiou", "AEIOU").as("devoweled"),
        repeat(col("p_brand"), 2).as("doubled"),
        reverse(col("p_name")).as("reversed"),
        levenshtein(col("p_brand"), col("p_type")).cast("long").as("edit_dist"),
        left(col("p_name"), lit(5)).as("head5"),
        right(col("p_name"), lit(5)).as("tail5"))
      .orderBy("p_partkey")

  // Q28 `date_funcs` — datetime expression suite over orders.
  // date_trunc cast to date (DuckDB returns DATE at month granularity,
  // Spark TIMESTAMP); extraction fields cast to long.
  def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate"))
          .cast("long").as("days_to_2002"),
        date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
      .orderBy("o_orderkey")

  // `agg_stats` — statistical aggregates: sample stddev/variance,
  // correlation, covariance. All stream as single-pass moment sketches
  // with map-side partials (Welford-style merge) — the right statistics
  // at 100 TB.
  def aggStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qp"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  // `agg_moments` — EXACT per-group skewness and excess kurtosis from
  // raw integer power sums, extending agg_stats' 2nd-moment family to
  // the 3rd/4th moments distribution-drift monitors chart. The
  // built-in skewness()/kurtosis() sketches are float AND the two
  // engines disagree on sample-adjustment conventions, so this key
  // computes the population moments from first principles:
  //   S_p = Σ qᵖ (q = exact integer l_quantity, p = 1..4) — BIGINT,
  //   order-independent, map-side partial;
  // then denominator-cleared central numerators in DECIMAL(38,0)
  // (DuckDB HUGEINT — both 128-bit-exact):
  //   A = n·S2 − S1²                            (= n²·m2)
  //   B = n²·S3 − 3n·S1·S2 + 2·S1³              (= n³·m3)
  //   C = n³·S4 − 4n²·S1·S3 + 6n·S1²·S2 − 3·S1⁴ (= n⁴·m4)
  // The n-powers CANCEL in the ratios: g1 = m3/m2^1.5 = B/A^1.5 and
  // g2 = m4/m2² − 3 = C/A² − 3 — no n anywhere in the render. A^1.5
  // is spelled A·√A (sqrt is IEEE-exact; pow() would call libm), the
  // exact integers cast to double once, one fixed-order IEEE ratio,
  // floor(1e6·x) render (floor, not div: g1/g2 go negative, and floor
  // agrees across engines where truncating div does not). Bounds:
  // S1⁴ ≤ (50n)⁴ stays inside 38 digits to n ≈ 10⁹ rows/group.
  def aggMoments(spark: SparkSession, dir: String): DataFrame = {
    val q = col("l_quantity").cast("long") // integral by fixture contract
    val dec = "decimal(38,0)"
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(q).as("s1"),
        sum(q * q).as("s2"), sum(q * q * q).as("s3"),
        sum(q * q * q * q).as("s4"))
      .select(col("l_returnflag"), col("n"), col("s1"), col("s2"),
        col("s3"), col("s4"),
        (col("n").cast(dec) * col("s2").cast(dec)
          - col("s1").cast(dec) * col("s1").cast(dec)).as("a"),
        (col("n").cast(dec) * col("n").cast(dec) * col("s3").cast(dec)
          - lit(3).cast(dec) * col("n").cast(dec) * col("s1").cast(dec)
            * col("s2").cast(dec)
          + lit(2).cast(dec) * col("s1").cast(dec) * col("s1").cast(dec)
            * col("s1").cast(dec)).as("b"),
        (col("n").cast(dec) * col("n").cast(dec) * col("n").cast(dec)
            * col("s4").cast(dec)
          - lit(4).cast(dec) * col("n").cast(dec) * col("n").cast(dec)
            * col("s1").cast(dec) * col("s3").cast(dec)
          + lit(6).cast(dec) * col("n").cast(dec) * col("s1").cast(dec)
            * col("s1").cast(dec) * col("s2").cast(dec)
          - lit(3).cast(dec) * col("s1").cast(dec) * col("s1").cast(dec)
            * col("s1").cast(dec) * col("s1").cast(dec)).as("c"))
      .select(col("l_returnflag"), col("n"), col("s1"), col("s2"),
        col("s3"), col("s4"),
        // nullif(a,0) guard (ADVICE r14): a zero-variance group makes
        // A = 0 and the ratios 0/0 — Spark's non-ANSI float path and
        // DuckDB's CAST('nan') diverge; rendering NULL identically in
        // both engines removes the latent cross-engine split. The
        // fixture has no constant-quantity group today; the guard is
        // for the day one appears.
        floor(lit(1e6) * col("b").cast("double") /
          (expr("CAST(nullif(a, 0) AS DOUBLE)") *
            sqrt(expr("CAST(nullif(a, 0) AS DOUBLE)"))))
          .cast("long").as("skew_micro"),
        floor(lit(1e6) * (col("c").cast("double") /
          (expr("CAST(nullif(a, 0) AS DOUBLE)") *
            expr("CAST(nullif(a, 0) AS DOUBLE)")) - lit(3.0)))
          .cast("long").as("kurt_micro"))
      .orderBy("l_returnflag")
  }

  // `agg_regression` — per-group ordinary-least-squares fit via the
  // SQL-standard regr_* aggregate family (slope, intercept, R²,
  // count, mean-x, mean-y): the one-pass linear-model primitive —
  // trend estimation, sensitivity analysis, drift detection — that
  // completes the statistical family agg_stats opens (stddev/corr/
  // covar). Like those, every regr_* aggregate streams as a
  // single-pass numerically-stable central-moment sketch with
  // map-side partial merge (Welford-style): fixed O(1) state per
  // (group, agg), only moment tuples cross the shuffle — the right
  // regression at 100 TB, never a two-pass mean-then-residual scan.
  // Cross-engine determinism as agg_stats: round(·,4) on the model
  // outputs (both engines use stable single-pass moment algebra; the
  // 3-row output space keeps last-ulp boundary risk negligible, and
  // AnalyticSpec pins slope ≡ covar_pop/var_pop and the intercept
  // identity against independently-computed moments).
  def aggRegression(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4)
          .as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4)
          .as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 4).as("r2"),
        expr("CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)")
          .as("n_pairs"),
        round(expr("regr_avgx(l_extendedprice, l_quantity)"), 4)
          .as("avg_x"),
        round(expr("regr_avgy(l_extendedprice, l_quantity)"), 4)
          .as("avg_y"))
      .orderBy("l_returnflag")

  // `agg_multi_distinct` — several exact COUNT(DISTINCT ·) over
  // DIFFERENT columns in one aggregate, mixed with plain aggregates:
  // the cardinality-profiling query every dataset audit starts with
  // (how many parts / suppliers / orders per flag, in one pass). The
  // planner surface is the point: a single distinct column folds into
  // a two-phase aggregate, but multiple distinct columns are
  // irreconcilable in one hash table — Catalyst rewrites through
  // EXPAND (RewriteDistinctAggregates): each input row replicates
  // once per distinct group with a grouping id, partial DEDUP runs
  // map-side on (group, gid, value), and only the deduplicated
  // expansion crosses the shuffle. At 100 TB the ×k expansion is
  // priced map-side (distinct values per partition, not rows);
  // the alternative — k self-joined single-distinct aggregates —
  // scans the table k times. PlanSpec pins the Expand + no join;
  // approx sibling: agg_approx_distinct (HLL, one pass, no Expand).
  // Read fanned: the EXPAND ×4 + partial dedup is the scan stage's
  // compute (isolated warm 2.11 s → 1.66 s).
  def aggMultiDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.fanned(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        countDistinct(col("l_orderkey")).as("nd_order"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  // `agg_weighted` — weighted aggregation (weight = quantity, value =
  // price): the survey-statistics / importance-sampling primitive —
  // weighted mean plus the Kish effective sample size n_eff =
  // (Σw)²/Σw², the number every weighted-sampling pipeline (corpus
  // temperature mixing, deduped-with-multiplicity corpora) reports to
  // know how much statistical power the weights left behind. Shape:
  // three plain BIGINT sums (Σw, Σw·x_cents, Σw²) in ONE partial+
  // final hash aggregate — weighted stats need no special machinery,
  // just moment sums, so map-side combine and O(1) per-group state
  // hold at any scale. All sums exact integers (quantity is integral
  // in TPC-H, price in cents): order-independent, each double render
  // computed once from exact sums with the division sequence written
  // identically in both engines (single IEEE ops over exactly-
  // representable ints — deterministic cross-engine).
  def aggWeighted(spark: SparkSession, dir: String): DataFrame = {
    val w  = col("l_quantity").cast("long")
    val xc = expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        sum(w).as("sum_w"),
        sum(w * xc).as("wx_cents"),
        sum(w * w).as("sum_w2"))
      .select(col("l_returnflag"), col("sum_w"),
        round(col("wx_cents") / 1e2 / col("sum_w"), 4).as("wavg_price"),
        round((col("sum_w") * col("sum_w")).cast("double") /
          col("sum_w2").cast("double"), 4).as("n_eff"))
      .orderBy("l_returnflag")
  }

  // `agg_percentile` — exact interpolated percentiles (the
  // quantile_cont definition both engines share). The approximate
  // sketch variant (approx_percentile) is asserted against this exact
  // result in ApproxDistinctSpec.
  def aggPercentile(spark: SparkSession, dir: String): DataFrame =
    // fanned: exact percentile's map-side partial buffers EVERY value
    // of its group; the shuffle carries the same value multiset either
    // way (partials concatenate)
    Tables.fanned(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"),
        round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
      .orderBy("o_orderpriority")

  // `agg_quantile_bucket` — equal-frequency binning (quartile
  // bucketize), the feature-engineering partner of agg_hist's
  // equal-WIDTH bins: edges adapt to the distribution so every bucket
  // carries ~25% of the mass, which is what score normalization and
  // monotonic-feature binning actually want. Two passes, both
  // distributed: (1) edges come from an exact percentile over a
  // DETERMINISTIC md5-hash sample of orders (the corpus_mix draw on
  // o_orderkey, rate 1/50) — exact `percentile` buffers every
  // distinct value of its group, so running it over the FULL table in
  // one global group is the textbook scale cliff (measured: OOM at
  // ScaleGen mult 100, 15M orders — the decade protocol caught it);
  // the sampled edge estimate carries ~1/√m quantile error (m ≈
  // n/50), which is noise against the 25% bucket widths, keeps the
  // percentile buffer 50× smaller, and — unlike approx_percentile's
  // engine-specific sketch — replays EXACTLY in the oracle (same md5
  // filter, same quantile); at true 100 TB the rate is the knob that
  // keeps the sample bounded. (2) the 1-row edge frame broadcasts and
  // bucket assignment is a map-side comparison chain, then one
  // bounded (priority × 4) group agg. Cross-engine determinism: edges
  // round to 4 decimals BEFORE bucketing (the agg_percentile key
  // proves percentile ↔ quantile_cont agree to 4dp; comparing against
  // the ROUNDED edge removes the last-ulp interpolation hazard at the
  // boundary), and the per-bucket sum uses exact integer cents — a
  // ~37k-row double sum carries ~1e-2 associativity error at this
  // magnitude, which round(4) cannot hide (the r8 join_skew_aqe
  // lesson).
  def aggQuantileBucket(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val sampled = o.filter(
      conv(substring(md5(col("o_orderkey").cast("string")), 1, 6), 16, 10)
        .cast("double") / lit(16777216.0) < 0.02)
    val edges = sampled.agg(
      round(expr("percentile(o_totalprice, 0.25)"), 4).as("e1"),
      round(expr("percentile(o_totalprice, 0.5)"), 4).as("e2"),
      round(expr("percentile(o_totalprice, 0.75)"), 4).as("e3"))
    o.crossJoin(edges)
      .withColumn("bucket",
        (lit(1)
          + when(col("o_totalprice") > col("e1"), 1).otherwise(0)
          + when(col("o_totalprice") > col("e2"), 1).otherwise(0)
          + when(col("o_totalprice") > col("e3"), 1).otherwise(0))
          .cast("long"))
      .groupBy("o_orderpriority", "bucket")
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"),
        round(min(col("o_totalprice")), 4).as("min_price"),
        round(max(col("o_totalprice")), 4).as("max_price"))
      .orderBy("o_orderpriority", "bucket")
  }

  // `agg_argmax` — the argmax family: max_by/min_by pick the orderkey
  // at the extreme price per group in ONE pass (no self-join-back, no
  // window): a (value, key) struct-max merged map-side. EXACT-TIE
  // handling (r15, caught by the full-census mult-10 sweep): at 1.5M
  // orders the generated prices DO collide at the group extremes, and
  // engines document last-write-wins on ties — order-dependent. The
  // ordering struct therefore carries the unique orderkey as a
  // deterministic tie-break: on equal price, both extremes resolve to
  // the SMALLEST orderkey (ties are exact bit-equal doubles read from
  // the same parquet, so both engines see the identical tie set).
  def aggArgmax(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        expr("max_by(o_orderkey, struct(o_totalprice, -o_orderkey))")
          .as("best_order"),
        expr("min_by(o_orderkey, struct(o_totalprice, o_orderkey))")
          .as("worst_order"),
        round(max(col("o_totalprice")), 4).as("best_price"))
      .orderBy("o_orderpriority")

  // `pivot_status` — pivot (wide aggregation): order totals per
  // priority, one column per order status. Explicit value list ⇒ a
  // single pass, no extra distinct-values job; plans as one
  // HashAggregate over (priority) with conditional partials.
  def pivotStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")))
      .select(
        col("o_orderpriority"),
        // exact cents per cell (r15 flip-class audit), identity render
        round(coalesce(col("F"), lit(0L)).cast("double") / 100, 4)
          .as("f_total"),
        round(coalesce(col("O"), lit(0L)).cast("double") / 100, 4)
          .as("o_total"),
        round(coalesce(col("P"), lit(0L)).cast("double") / 100, 4)
          .as("p_total"))
      .orderBy("o_orderpriority")

  // `win_extra` — the remaining window family: percent_rank, cume_dist,
  // first/last/nth value over an explicit full-partition frame, all on
  // a unique total order for cross-engine determinism.
  def winExtra(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume"),
        first(col("c_custkey")).over(full).as("poorest"),
        last(col("c_custkey")).over(full).as("richest"),
        nth_value(col("c_custkey"), 3).over(full).as("third"))
      .orderBy("c_custkey")
  }

  // `win_ntile` — equal-height bucketing via the ntile window
  // function: decile assignment per market segment over a TOTAL order
  // (acctbal cents, custkey tie-break — a partial order would make
  // bucket boundaries nondeterministic), rolled up to per-(segment,
  // decile) stats. ntile's remainder rule (earlier buckets get the
  // extra rows) is identical in Spark and DuckDB given the same total
  // order. Scale note: ntile needs its partition's total row count
  // before assigning, so each segment partition sorts whole — fine
  // for bounded-cardinality partitions like the 5 segments here, but
  // the VALUE-bucketed sibling (`agg_quantile_bucket`: percentile
  // boundaries broadcast into a map-side bucket assignment) is the
  // declared scale path when partitions are fact-sized; this key pins
  // the rank-exact API surface. The rollup lands on a 5×10 key space.
  def winNtile(spark: SparkSession, dir: String): DataFrame = {
    val cents = expr("CAST(round(c_acctbal * 100) AS BIGINT)")
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("bal_cents"), col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), cents.as("bal_cents"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("c_mktsegment"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("bal_cents")).as("lo_cents"),
        max(col("bal_cents")).as("hi_cents"))
      .select(col("c_mktsegment"), col("decile"), col("n"),
        round(col("lo_cents") / 1e2, 2).as("lo_bal"),
        round(col("hi_cents") / 1e2, 2).as("hi_bal"))
      .orderBy("c_mktsegment", "decile")
  }

  // `date_funcs2` — second datetime suite: calendar fields and
  // month-arithmetic. Engine-numbering notes: Spark dayofweek is 1-7
  // Sunday-first vs DuckDB dow 0-6 Sunday-first (oracle adds 1);
  // add_months and interval-month addition both clamp to month end in
  // the two engines; weekofyear is ISO in both.
  def dateFuncs2(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
        last_day(col("o_orderdate")).as("month_end"),
        add_months(col("o_orderdate").cast("date"), 3).as("plus3mo"),
        date_trunc("quarter", col("o_orderdate")).cast("date").as("qtr_start"))
      .orderBy("o_orderkey")

  // `cond_exprs` — conditional expression suite: CASE, if, nullif,
  // nvl/coalesce, greatest/least. All codegen'd branch expressions.
  def condExprs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000.0, "big")
          .when(col("o_totalprice") > 150000.0, "mid")
          .otherwise("small").as("size_band"),
        expr("if(o_orderstatus = 'F', 'final', 'open')").as("status_word"),
        nullif(col("o_orderstatus"), lit("P")).as("status_or_null"),
        coalesce(nullif(col("o_orderstatus"), lit("P")), lit("PENDING"))
          .as("status_filled"),
        round(greatest(col("o_totalprice"), lit(100000.0)), 4).as("floor_price"),
        round(least(col("o_totalprice"), lit(400000.0)), 4).as("capped_price"))
      .orderBy("o_orderkey")

  // Q29 `math_funcs` — math expression suite over lineitem. sqrt/pow/ln
  // rounded to 4 (libm last-ulp differences across engines); ceil/floor
  // cast to long (Spark) / from double (DuckDB). The key carries a
  // scale-invariant 10% modulo slice (the unpivot_melt convention):
  // the functions are map-only and fully exercised on the slice, while
  // an unfiltered key spends its whole budget on the terminal
  // determinism sort of the full corpus (measured 2.7 s at sf0.1, the
  // suite's 3rd-slowest key, ~90% of it the 600 k-row ORDER BY).
  def mathFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select(
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        round(abs(col("l_discount") - 0.05), 4).as("abs_d"),
        ceil(col("l_extendedprice")).cast("long").as("ceil_price"),
        floor(col("l_extendedprice")).cast("long").as("floor_price"),
        round(sqrt(col("l_extendedprice")), 4).as("sqrt_price"),
        round(pow(col("l_quantity"), 1.5), 4).as("qty_pow"),
        (col("l_orderkey") % 7).as("mod7"),
        round(log(col("l_extendedprice")), 4).as("ln_price"))
      .orderBy(Tables.lineitemKey.map(col): _*)

  // `unpivot_melt` — wide→long reshape, the inverse of pivot_status:
  // the four lineitem measures melt into (measure, value) rows via the
  // native unpivot operator (plans as a single Expand node — one pass,
  // map-only, no shuffle before the contract sort; the same node the
  // rollup/cube family uses). The melt is the standard feature-table →
  // training-example-stream reshape; output is 4× the filtered input,
  // so the key keeps a scale-invariant modulo slice of the corpus
  // (2% of orderkeys at every sf, never a fixed row count).
  def unpivotMelt(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 50 === 0)
      .select(
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("measure"))

  // `agg_mode` — per-group most-frequent value (mode) with an EXPLICIT
  // deterministic tie-break (count desc, then value asc): the native
  // mode() aggregate in both engines documents arbitrary tie order, so
  // the contract formulation is the two-stage count + row_number pick —
  // one shuffle on the (group, value) pair with map-side partials, then
  // a window over the tiny aggregated set (|groups|·|values| rows, not
  // the corpus). The same shape computes "dominant language per source"
  // over a 100 TB crawl.
  def aggMode(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val pick = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("n").desc, col("o_orderpriority"))
    counts
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("c_mktsegment"), col("o_orderpriority").as("mode_priority"),
        col("n"))
      .orderBy("c_mktsegment")
  }

  // `win_distinct_count` — distinct count over a window frame. Spark has
  // no native count(DISTINCT) OVER (Catalyst rejects it), so the engine
  // formulation is size(collect_set() OVER frame) — semantically equal
  // and still a single window pass; the oracle replays DuckDB's native
  // count(DISTINCT …) OVER. Per-row state is the frame's distinct SET:
  // frame-bounded (≤ 10 values) for the rolling ROWS-9 variant, and
  // bounded by per-partition event_type cardinality — a small fixed
  // domain, NOT the frame — for the UNBOUNDED PRECEDING cumulative
  // variant (don't run the cumulative form over an unbounded-domain
  // column at scale). The partition key (user_id) keeps any one
  // partition's sort local; both variants share one (partition, sort)
  // pass.
  def winDistinctCount(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("user_id") % 20 === 0)
      .select(
        col("event_id"), col("user_id"),
        size(collect_set(col("event_type"))
          .over(w.rowsBetween(-9, Window.currentRow))).cast("long")
          .as("distinct_types_10"),
        size(collect_set(col("event_type"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .cast("long").as("distinct_types_cum"))
      .orderBy("event_id")
  }

  // `agg_filtered` — FILTER-clause aggregation (SQL:2003 `agg(...)
  // FILTER (WHERE ...)`): several differently-conditioned aggregates
  // of ONE table in ONE pass — the idiom that replaces N self-joined
  // subqueries or a forest of CASE WHEN wrappers in every reporting
  // query. Catalyst plans it as conditional partial aggregation: one
  // scan, one (group)-keyed shuffle of partial buffers, each FILTER
  // evaluated map-side inside codegen. Deliberately no filtered AVG:
  // an average of cent-grid values can land EXACTLY on the 4-dp
  // half-boundary (cents/(100·count) hits odd/2·10⁴ whenever the
  // count divides out), the ts_interpolate lesson — counts, sums and
  // extremes are boundary-safe on this data.
  def aggFiltered(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("af_orders")
    spark.sql(
      """SELECT o_orderpriority,
        |       count(*) AS n_all,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        |       count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
        |       round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'),
        |             4) AS sum_open,
        |       round(max(o_totalprice) FILTER (WHERE o_orderstatus = 'F'),
        |             4) AS max_finished
        |FROM af_orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  // `rollup_time_grain` — multi-grain time rollup: day, week and month
  // aggregates of the event log in ONE pass via grouping sets over
  // pre-derived truncations (the materialized-rollup build every
  // metrics store runs nightly). The alternative — three separate
  // queries — scans the corpus three times; this plans a single scan
  // whose Expand node replicates each row once per grain BEFORE the
  // partial aggregation, so the shuffle carries |days|+|weeks|+|months|
  // aggregated buckets, not 3× the log. grouping() disambiguates the
  // grain (a NULL day can't: day IS the grouping key).
  def rollupTimeGrain(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("tg_events")
    spark.sql(
      """WITH e AS (
        |  SELECT date_trunc('day', ts)   AS d,
        |         date_trunc('week', ts)  AS w,
        |         date_trunc('month', ts) AS m,
        |         value
        |  FROM tg_events
        |)
        |SELECT CASE WHEN grouping(d) = 0 THEN 'day'
        |            WHEN grouping(w) = 0 THEN 'week'
        |            ELSE 'month' END AS grain,
        |       coalesce(d, w, m) AS grain_start,
        |       count(*) AS n,
        |       round(sum(value), 4) AS sum_value
        |FROM e
        |GROUP BY GROUPING SETS ((d), (w), (m))
        |ORDER BY grain, grain_start""".stripMargin)
  }

  // `agg_hist` — fixed-width HISTOGRAM per group (the distribution
  // summary every feature audit and data-quality dashboard computes,
  // and the binning step of equal-width feature bucketization):
  // o_totalprice binned at an explicit width per orderpriority, with
  // per-bin count and observed min/max. Explicit (lo, width) literals
  // rather than data-derived bounds — at 100 TB the bounds come from
  // table statistics, not an extra full pass, and explicit edges make
  // the bins STABLE across corpus versions (a data-derived range
  // re-bins everything when one outlier lands). Binning is a map-side
  // projection (floor of a subtraction+division — codegen arithmetic,
  // no UDF); the shuffle carries only (group, bin) partial aggregates,
  // |groups|·|bins| rows. Same two-level key shape as agg_mode.
  def aggHist(spark: SparkSession, dir: String): DataFrame = {
    val lo = 0.0
    val width = 50000.0
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"),
        floor((col("o_totalprice") - lit(lo)) / lit(width)).cast("long")
          .as("bin"),
        col("o_totalprice"))
      .groupBy("o_orderpriority", "bin")
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 4).as("bin_min"),
        round(max(col("o_totalprice")), 4).as("bin_max"))
      .withColumn("bin_lo", round(lit(lo) + col("bin") * lit(width), 4))
      .select(col("o_orderpriority"), col("bin"), col("bin_lo"), col("n"),
        col("bin_min"), col("bin_max"))
      .orderBy("o_orderpriority", "bin")
  }

  // `agg_listagg` — per-group string concatenation (LISTAGG / string_agg).
  // Both engines' native listagg documents arbitrary element order unless
  // given an explicit ORDER BY, so the contract formulation sorts inside
  // the aggregate: collect_set → array_sort → array_join here, string_agg
  // (DISTINCT … ORDER BY …) in the oracle. The aggregated set (nations a
  // segment's customers come from) is bounded by the 25-nation dimension —
  // the precondition for listagg at scale: the concatenated string must be
  // bounded by a DIMENSION's cardinality, never by event volume, or one
  // group materializes an unbounded row. One shuffle on c_mktsegment with
  // map-side partial collect_set (each partial ≤ 25 entries).
  def aggListagg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_mktsegment")
      .agg(
        array_join(array_sort(collect_set(col("n_name"))), ",").as("nations"),
        countDistinct(col("n_name")).as("n_nations"))
      .orderBy("c_mktsegment")

  // `agg_bitwise` — bit_and / bit_or / bit_xor aggregates: flag-mask
  // rollups (permission masks, feature flags, bloom-ish presence words)
  // folded per group. Associative + commutative, so Spark runs them as
  // partial+final hash aggregates — the shuffle carries one 8-byte word
  // per (group, agg), the cheapest aggregate family there is at 100 TB.
  // Masks derive deterministically from orderkey (low 12 bits) so the
  // oracle replays bit-identically; n pins the group populations.
  def aggBitwise(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"),
        (col("o_orderkey") % 4096L).as("mask"))
      .groupBy("o_orderpriority")
      .agg(
        expr("bit_and(mask)").as("mask_and"),
        expr("bit_or(mask)").as("mask_or"),
        expr("bit_xor(mask)").as("mask_xor"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  // `win_ignore_nulls` — IGNORE NULLS window navigation: carry the last
  // non-null observation forward (the gap-fill / last-observation-
  // carried-forward pattern every sparse time series needs). The
  // observation column is sparse BY CONSTRUCTION (value only on
  // 'purchase' events, null otherwise); last(…, ignoreNulls = true)
  // over ROWS UNBOUNDED PRECEDING scans each partition once carrying
  // one scalar of state — per-row cost O(1), state O(1), exactly the
  // shape that survives an unbounded event stream. lag(…, ignoreNulls)
  // shares the same single (user_id, ts, event_id) sort pass. The
  // user_id partitioning bounds any one partition to one user's
  // events; the % 20 slice keeps the contract output scale-invariant.
  def winIgnoreNulls(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // last() takes an explicit running frame; lag() is an offset function
    // and REQUIRES the implicit (-1,-1) frame — same sort pass, two
    // WindowExpressions sharing one Window node.
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sparse = when(col("event_type") === "purchase", col("value"))
    Tables.events(spark, dir)
      .filter(col("user_id") % 20 === 0)
      .select(col("event_id"), col("user_id"), col("ts"),
        sparse.as("purchase_value"))
      .select(col("event_id"), col("user_id"),
        round(coalesce(
          last(col("purchase_value"), ignoreNulls = true).over(running),
          lit(0.0)), 4).as("last_purchase"),
        round(coalesce(
          lag(col("purchase_value"), 1, null, ignoreNulls = true).over(order),
          lit(0.0)), 4).as("prev_purchase"))
      .orderBy("event_id")
  }

  // `str_collation` — Spark 4 COLLATION-aware comparison (the other
  // flagship 4.x type feature next to VARIANT): `collate(c,
  // 'UTF8_LCASE')` makes equality, GROUP BY, DISTINCT and
  // startsWith case-insensitive AT THE TYPE LEVEL — no lower()
  // materialization of the group key, no double-evaluation of the fold
  // in every predicate, and (on sources that support it) pushdown-safe
  // because the column value is untouched. The query groups a
  // deliberately case-mangled p_type column under UTF8_LCASE: case
  // variants land in ONE group (n_case_variants counts the surviving
  // binary-distinct spellings per group — 2 where the mangle bit,
  // 1 where it didn't), and a collated startsWith drives a filtered
  // count. Output keys are folded + re-collated to UTF8_BINARY so the
  // parquet/oracle surface carries no collation metadata. Scale:
  // ordinary partial+final hash aggregation on the collated key —
  // collation changes the key's equality fn, not the plan shape.
  def strCollation(spark: SparkSession, dir: String): DataFrame = {
    val messy = when(pmod(col("p_partkey"), lit(2)) === 0,
      lower(col("p_type"))).otherwise(col("p_type"))
    Tables.part(spark, dir)
      .select(col("p_partkey"), messy.as("messy"))
      .groupBy(collate(col("messy"), "UTF8_LCASE").as("kc"))
      .agg(
        count(lit(1)).as("n_parts"),
        count_distinct(col("messy")).as("n_case_variants"),
        count(when(collate(col("messy"), "UTF8_LCASE")
          .startsWith(lit("PROMO")), 1)).as("n_promo"))
      .select(
        collate(lower(col("kc")), "UTF8_BINARY").as("p_type_folded"),
        col("n_parts"), col("n_case_variants"), col("n_promo"))
      .orderBy("p_type_folded")
  }

  // `agg_approx_percentile` — the GK (Greenwald–Khanna) quantile sketch
  // as a first-class key, completing the mergeable-sketch family
  // (HLL distinct / count-min top-k / GK percentile): a fixed-size
  // per-partition summary with rank error ≤ N/accuracy, combined
  // map-side — the ONLY way to get percentiles at 100 TB without
  // sorting the corpus (exact `percentile` holds all values per
  // group; GK holds O(accuracy·log N) summary tuples). ORACLE-ABLE by
  // the agg_approx_topk argument: while a group's row count stays
  // under `accuracy` (1e5 — true at every driver SF), the summary
  // never compresses, so the sketch provably returns the EXACT
  // discrete order statistic and DuckDB's quantile_disc replays it;
  // beyond that the same query degrades gracefully to the bounded-
  // error estimate (the sketch's entire point — AnalyticSpec pins the
  // rank-error bound in the genuinely-approximate regime).
  // `set_union_evolving` — schema-drift union (unionByName with
  // allowMissingColumns): the in-memory sibling of scan_evolving's
  // mergeSchema read — batch N of a feed gains a column batch N-1
  // never had, and the union must align BY NAME (positional union
  // silently mis-binds columns — the classic drift bug) and
  // null-fill the missing side in either direction. At 100 TB feeds
  // evolve weekly; every long-lived union job needs this alignment.
  // Map-only (union is a plan concatenation, no shuffle before the
  // contract sort); the null-filled column coalesces to a sentinel
  // for the deterministic output order.
  def setUnionEvolving(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val v1 = o.filter(pmod(col("o_orderkey"), lit(7)) === 1)
      .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("price"))
    val v2 = o.filter(pmod(col("o_orderkey"), lit(7)) === 2)
      .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("price"),
        col("o_orderpriority").as("prio"))
    v1.unionByName(v2, allowMissingColumns = true)
      .select(col("o_orderkey"), col("price"),
        coalesce(col("prio"), lit("~missing~")).as("prio"))
      .orderBy("o_orderkey")
  }

  // `ansi_try_funcs` — the try_* error-safe function family under
  // ANSI mode (ON by default since Spark 4 — every graft session runs
  // ANSI): plain `/`, `CAST`, `+` now THROW on division-by-zero /
  // malformed input / overflow instead of silently returning
  // NULL-or-wrong — correct for accounting, fatal for a 100 TB
  // best-effort ingest where one malformed row of ten billion must
  // not kill the job. try_divide / try_cast / try_to_date / try_add
  // are the per-expression opt-outs: NULL on the failing ROW, errors
  // everywhere else still surface (AnalyticSpec pins both halves —
  // the non-try division really throws, the try_ forms really
  // null). All map-side codegen; the oracle replays each NULL with
  // explicit CASE guards (DuckDB's non-ANSI semantics made explicit).
  def ansiTryFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(pmod(col("o_orderkey"), lit(20)) === 0)
      .select(
        col("o_orderkey"),
        round(expr("try_divide(o_totalprice, o_custkey % 7)"), 4)
          .as("per_bucket"),
        expr("try_cast(CASE WHEN o_orderkey % 3 = 0 THEN 'x' " +
          "ELSE CAST(o_orderkey AS STRING) END AS BIGINT)").as("parsed"),
        expr("try_to_date(CASE WHEN o_orderkey % 5 = 0 THEN 'not-a-date' " +
          "ELSE date_format(o_orderdate, 'yyyy-MM-dd') END, 'yyyy-MM-dd')")
          .as("parsed_date"),
        expr("try_add(9223372036854775807, o_custkey % 2)").as("near_max"))
      .orderBy("o_orderkey")

  def aggApproxPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(expr(
        "approx_percentile(o_totalprice, array(0.25, 0.5, 0.9), 100000)")
        .as("pcts"))
      .select(col("o_orderpriority"),
        round(element_at(col("pcts"), 1), 4).as("p25"),
        round(element_at(col("pcts"), 2), 4).as("p50"),
        round(element_at(col("pcts"), 3), 4).as("p90"))
      .orderBy("o_orderpriority")

  // `ts_timezone` — timezone-aware timestamp conversion
  // (convert_timezone): the event log lands in UTC (the only sane
  // 100 TB storage convention — one linear, comparable, DST-free
  // timeline on disk) and every LOCAL question (peak-hour dashboards,
  // "same local day" sessionization, regional SLA windows) converts at
  // READ time per analysis, never at write time: a log stored in local
  // wall time can't be re-localized after the fact (DST folds two UTC
  // instants onto one wall time). Map-side codegen conversion to two
  // zones + local-grain derivations (hour / date) off each; the
  // session pins UTC (graft convention), so the stored micros ARE the
  // UTC timeline. The oracle replays with DuckDB's two-step
  // AT TIME ZONE idiom over the same stored micros (ICU zone rules in
  // both engines; fixture instants avoid no DST edge — January has
  // fixed offsets -5/+9, making zone-rule drift impossible).
  def tsTimezone(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("user_id") % 50 === 0)
      .select(
        col("event_id"),
        convert_timezone(lit("UTC"), lit("America/New_York"), col("ts"))
          .as("ny_local"),
        convert_timezone(lit("UTC"), lit("Asia/Tokyo"), col("ts"))
          .as("tokyo_local"))
      .select(col("event_id"), col("ny_local"), col("tokyo_local"),
        hour(col("ny_local")).cast("long").as("ny_hour"),
        to_date(col("tokyo_local")).as("tokyo_date"))
      .orderBy("event_id")

  // `agg_boolean` — boolean aggregate family (every / any / count_if /
  // any_value): predicate rollups ("did ALL rows pass", "did ANY row
  // trip", "how many tripped") as single-pass grouped aggregates — the
  // data-quality assertion shape that otherwise gets written as three
  // self-joined subqueries; every/any fold commutatively (one boolean
  // per partial state, the cheapest aggregate after bit_*), count_if
  // is the conditional counter, and any_value is used THE one way it's
  // deterministic — over a per-group-CONSTANT expression (picking the
  // constant without a spurious min() sort-semantic; the general
  // any_value is engine-arbitrary and excluded from the contract).
  def aggBoolean(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(
        expr("every(c_acctbal > -500)").as("all_above_floor"),
        expr("any(c_acctbal > 9000)").as("any_premium"),
        expr("count_if(c_acctbal < 0)").as("n_negative"),
        // per-group-constant expression: the deterministic any_value use
        expr("any_value(upper(c_mktsegment))").as("seg_upper"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  // `win_median_smooth` — rolling MEDIAN smoothing (the robust
  // moving-average: win_moving_avg's mean is dragged by the very
  // spikes a smoother exists to suppress — one 1000× reading pollutes
  // the whole window; the rolling median rejects it outright, the
  // anomaly_mad argument applied to smoothing). Spark has no median
  // window aggregate, so the engine formulation is collect_list over
  // the ROWS frame + sort_array + the lower-median pick — legal
  // because the frame is 9 rows by CONTRACT (per-row state is the
  // frame, never the partition; a RANGE/unbounded variant would need
  // the Q148 sketch instead — that boundary is the documented
  // contract). One user-keyed sort shared with the lag that computes
  // the spike flag; DuckDB replays with its native windowed
  // quantile_disc, whose floor-interpolation equals the lower-median
  // pick at every frame parity.
  def winMedianSmooth(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-8, 0)
    val arr = sort_array(collect_list(col("value")).over(w))
    Tables.events(spark, dir)
      .filter(col("user_id") % 20 === 0)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        element_at(arr, ((size(arr) + 1) / 2).cast("int")).as("med_raw"))
      .select(col("event_id"), col("user_id"),
        round(col("med_raw"), 4).as("smoothed"),
        (col("value") > col("med_raw") * 3).as("spike"))
      .orderBy("event_id")
  }

  // `table_transpose` — Dataset.transpose (Spark 4.0 API): rows ⇄
  // columns over an AGGREGATED summary frame — the report-shaping last
  // mile (metrics-as-rows × groups-as-columns, the layout every
  // metrics dashboard and model-eval table wants). The contract is
  // deliberately summary-scale: transpose must enumerate the index
  // column's values to MINT THE OUTPUT SCHEMA (schema is fixed before
  // execution — necessarily a driver-side enumeration, which is why no
  // engine transposes a fact table; Spark caps it at 1000 index
  // values). The 100 TB shape is therefore aggregate-first (5
  // dimension-bounded rows here), transpose the summary — the heavy
  // pass is the ordinary grouped agg, the pivot costs nothing. All
  // value columns cast to a common double type (transpose requires a
  // least-common type across the melted columns).
  def tableTranspose(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).cast("double").as("n_orders"),
        // exact cents; avg renders from the same exact sum (r15 audit)
        round(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .cast("double") / 100, 4).as("total_price"),
        round(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .cast("double") / 100 / count(lit(1)), 4).as("avg_price"))
      .orderBy("o_orderpriority")
      .transpose()
      .withColumnRenamed("key", "metric")
      .orderBy("metric")

  // `agg_decimal` — exact DECIMAL money aggregation end-to-end (r12
  // verdict missing item 4: the §1.3 type-surface gap). The suite's
  // float keys dodge summation-order drift with integer-cents tricks;
  // this key exercises the type system's OWN answer: DecimalType
  // arithmetic is exact base-10 — sums are order-independent, scale 2
  // money never drifts, and Spark's unscaled-Long fast path keeps
  // precision ≤ 18 decimals codegen-cheap. Every output precision/
  // scale is PINNED identically in both engines (Spark's sum/multiply
  // widening rules vs DuckDB's differ, so the oracle CASTs to Spark's
  // result types: sum(12,2) → (22,2), (12,2)×(3,2) → (16,4), summed →
  // (26,4)); the one double column (avg) converts the exact decimal
  // sum once, identically on both sides. Scale shape: plain partial
  // aggregation on a 3-value key — decimal sums are map-side
  // combinable exactly like longs, the whole point of using them for
  // money at 100 TB.
  def aggDecimal(spark: SparkSession, dir: String): DataFrame = {
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val rate = lit("1.07").cast("decimal(3,2)")
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), price.as("price"),
        (price * rate).as("taxed")) // decimal(16,4), exact
      .groupBy("l_returnflag")
      .agg(
        sum(col("price")).as("sum_price"),   // decimal(22,2)
        min(col("price")).as("min_price"),
        max(col("price")).as("max_price"),
        sum(col("taxed")).as("sum_taxed"),   // decimal(26,4)
        count(lit(1)).as("n"))
      .withColumn("avg_price",
        round(col("sum_price").cast("double") / col("n"), 4))
      .orderBy("l_returnflag")
  }
}
