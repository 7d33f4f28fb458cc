package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md /
  * FIXTURES.md). One parquet file per table under the sf dir; the
  * vectorized parquet reader + Catalyst column pruning replace the
  * reference's hand-rolled columnar Page model
  * (reference: Page.java:5-30, TpchDataGenerator.java:19-27).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized loader (r19): `spark.read.parquet` pays datasource
    * resolution + a driver footer read for the schema on EVERY call —
    * ~50-100 ms each, several calls per key, on every bench pass. A
    * DataFrame is an immutable plan, so the per-(session, dir, table)
    * instance is shared; no DATA is cached (the scan still reads
    * parquet on every action) and the file index stays Spark's own
    * session-level cache. Keyed on the session too: the streaming
    * demos run child sessions, and a plan born on one session cannot
    * execute on another. */
  private val loadMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadMemo.getOrElseUpdate((spark, dir, name),
      spark.read.parquet(s"$dir/$name.parquet"))

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** `events.ts` normalized to a microsecond TimestampType regardless
    * of the fixture's physical encoding — the driver has shipped it
    * two ways across rounds (TIMESTAMP(NANOS), which Spark's
    * vectorized reader only admits as a long via the nanosAsLong
    * conf; and plain non-UTC-adjusted TIMESTAMP(MICROS), which scans
    * as TIMESTAMP_NTZ). Every graft entry point pins
    * spark.sql.session.timeZone=UTC, so the NTZ→TIMESTAMP cast is
    * value-preserving and every downstream consumer (window(),
    * unix_micros, watermarks) sees the identical instants either way.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    // The TIMESTAMP(NANOS) fixture variant is only scannable with
    // spark.sql.legacy.parquet.nanosAsLong=true (set by every graft
    // entry point); without it Spark throws an opaque "Illegal Parquet
    // type: INT64 (TIMESTAMP(NANOS,...))" at schema resolution.
    // Rephrase that case so a bare-session caller learns the fix.
    val raw =
      try load(spark, dir, "events")
      catch { case e: Exception
        if Option(e.getMessage).exists(_.contains("TIMESTAMP(NANOS")) =>
          throw new IllegalStateException(
            s"events.parquet in $dir uses TIMESTAMP(NANOS); set " +
            "spark.sql.legacy.parquet.nanosAsLong=true on the session " +
            "(all graft mains do) so it scans as a long", e)
      }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>   // legacy ns fixture
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw                                  // already TIMESTAMP
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** The unique row key of `lineitem` in this synthetic data
    * (verified: (l_orderkey, l_linenumber) alone is NOT unique here).
    * Used as the deterministic terminal ORDER BY for row-level queries.
    */
  val lineitemKey: Seq[String] =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")

  /** The fan-out width: a quarter of session parallelism, at least 2.
    * Also the AQE coalescing floor (`Session`), where the cores/4
    * calibration is measured: full-width spreads taxed the light
    * consumers of every shared frame more than the heavy stages gained. */
  def spread(cores: Int): Int = math.max(2, cores / 4)

  /** THE LAYOUT POLICY for the single-row-group fixtures.
    *
    * Parquet assigns each row group to one scan task, and the driver
    * fixtures hold one row group per table, so every scan stage runs its
    * map-side compute on one core (optimization guide §2.5, "one huge
    * unsplittable file"). The reference never meets this: its 5,000
    * in-memory pages are 5,000 parallel units (TpchDataGenerator.java:
    * 16-27). One decision, [[narrow]], says whether a table is in that
    * regime; the operators only choose which lever to pull, and each
    * lever is a provable no-op when the table can already split to
    * [[spread]] scan tasks — no exchange, width or persist of this
    * policy ever reaches a 100 TB plan (FannedSpec pins that on a
    * multi-file layout).
    *
    *  - [[fanned]]: hash-spread the rows on the table's row key right
    *    after the read, so the heavy expressions above the scan (expand,
    *    dedup, parse_json, tokenize HOFs) run wide. A stable high-
    *    cardinality key, not a rand-derived one: deterministic under
    *    task retry (SPARK-38388). Filters and pruning still push through
    *    the RepartitionByExpression to the scan.
    *  - [[contractSort]]: the terminal contract sort. On the fixture the
    *    post-sort stage would be sized by AQE's byte-targeted coalescer,
    *    which lands tiny-bytes/heavy-CPU consumers on the cores/4 floor;
    *    an explicit cores-wide range partition count bypasses the
    *    coalescer so the consumers above the sort run machine-wide. The
    *    total order is identical: range partitions concatenate in index
    *    order, and every consumer (noop sink, Verify's coalesce(1)
    *    write) preserves partition order. The range sampler executes
    *    the child a second time per action; when the child does work
    *    beyond Project/Filter over its scans (windows, joins,
    *    aggregates, generators, mapPartitions) it is persisted first, so
    *    the sample pass fills the cache and the sort reads it — one
    *    subtree execution per action. A bare scan projection is cheaper
    *    to re-scan than to cache (measured: url_funcs +37%, json_funcs
    *    +29% with the persist). */
  private def narrow(spark: SparkSession, dir: String, table: String): Boolean =
    !splittableTo(spark, s"$dir/$table.parquet",
      spread(spark.sparkContext.defaultParallelism))

  /** The unique row key [[fanned]] spreads each table on. */
  private val rowKey = Map(
    "documents" -> "doc_id", "events" -> "event_id",
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey")

  /** `table` through its plain accessor (so `events` keeps its ts
    * normalization), hash-spread on its row key when [[narrow]]. */
  def fanned(spark: SparkSession, dir: String, table: String): DataFrame = {
    val df = if (table == "events") events(spark, dir) else load(spark, dir, table)
    if (!narrow(spark, dir, table)) df
    else df.repartition(spread(spark.sparkContext.defaultParallelism),
      org.apache.spark.sql.functions.col(rowKey(table)))
  }

  /** `df.orderBy(cols)`, or when `table` is [[narrow]] the same total
    * order as a cores-wide range sort over a persisted child. */
  def contractSort(spark: SparkSession, dir: String, table: String,
      df: DataFrame, cols: Column*): DataFrame =
    if (!narrow(spark, dir, table)) df.orderBy(cols: _*)
    else {
      import org.apache.spark.sql.catalyst.plans.logical._
      val work = df.queryExecution.analyzed.exists {
        case _: Project | _: Filter | _: SubqueryAlias | _: View |
            _: LeafNode => false
        case _ => true
      }
      val child =
        if (work) graft.operators.Caches.register(df.persist()) else df
      child.repartitionByRange(spark.sparkContext.defaultParallelism, cols: _*)
        .sortWithinPartitions(cols: _*)
    }

  /** Whether the parquet input under `path` (file or directory) can
    * split into at least `want` scan tasks — driver-side footer reads,
    * memoized per (path, want) for the JVM. Parquet assigns each row
    * group to ONE scan task, so a single-row-group file is
    * unsplittable however the split math slices it. Footers are read
    * only until the threshold is proven, so a 10k-part production
    * table costs a handful of footer reads, once. */
  private val rowGroupMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Boolean]
  private def splittableTo(spark: SparkSession, path: String,
      want: Int): Boolean =
    rowGroupMemo.getOrElseUpdate((path, want), {
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      try {
        val conf = spark.sessionState.newHadoopConf()
        val p = new Path(path)
        val fs = p.getFileSystem(conf)
        // RECURSIVE listing (ADVICE r19): a hive-partitioned production
        // layout (date=.../part-*.parquet) has no .parquet files at the
        // top level — a flat listing read groups=0 and classified a huge
        // table unsplittable, inserting a narrow repartition where the
        // 100 TB contract promises a no-op. listFiles(p, true) is a lazy
        // RemoteIterator, and the loop below stops at the first `want`
        // row groups, so a 10k-file table still costs a handful of
        // footer reads. Like Spark's own file index, the probe skips
        // every path with a `_`- or `.`-prefixed component below the
        // table root (`_temporary/` of an uncommitted write, `.staging`):
        // row groups Spark never reads must not count as splittable.
        val rootDepth = fs.makeQualified(p).depth
        def visible(f: Path): Boolean =
          Iterator.iterate(f)(_.getParent)
            .takeWhile(q => q != null && q.depth > rootDepth)
            .forall(q => !q.getName.startsWith("_") && !q.getName.startsWith("."))
        val files: Iterator[Path] =
          if (fs.getFileStatus(p).isDirectory) {
            val remote = fs.listFiles(p, true)
            new Iterator[org.apache.hadoop.fs.LocatedFileStatus] {
              def hasNext: Boolean = remote.hasNext
              def next(): org.apache.hadoop.fs.LocatedFileStatus =
                remote.next()
            }.map(_.getPath)
              .filter(f => f.getName.endsWith(".parquet") && visible(f))
          } else Iterator(p)
        var groups = 0
        while (groups < want && files.hasNext) {
          val r = ParquetFileReader.open(
            HadoopInputFile.fromPath(files.next(), conf))
          try groups += r.getFooter.getBlocks.size()
          finally r.close()
        }
        groups >= want
      } catch { case _: Exception => true } // unknown layout: assume splittable
    })
}
