package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** The `Tables` layout policy: `fanned` and `contractSort`, both gated
  * by the one footer-probe decision. Pins (1) row identity vs the plain
  * loader and vs `orderBy`, (2) that the levers fire on the
  * single-row-group fixture files, with a persist only under a child
  * that does work beyond Project/Filter, and (3) the SCALE no-op
  * contract — on an input that can already split to the spread target
  * (a multi-file directory), no lever adds an exchange, an explicit
  * width or a persist, so the policy provably never reaches a
  * production plan. */
class FannedSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def cached(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[InMemoryRelation])

  /** A child with an aggregate (persisted on the fixture) and a bare
    * scan projection (never persisted), both over `documents`. */
  private def children(dir: String): Seq[(DataFrame, Column)] = Seq(
    Tables.documents(spark, dir)
      .groupBy((col("doc_id") % 7).as("b")).agg(count(lit(1)).as("n")) ->
      col("b"),
    Tables.documents(spark, dir).select("doc_id", "text")
      .filter(col("doc_id") % 3 =!= 0) -> col("doc_id"))

  /** `documents` written as 8 part files: splittable to any spread. */
  private lazy val multiFile: String = {
    val tmp = java.nio.file.Files.createTempDirectory("fanned_spec_").toString
    Tables.documents(spark, sf).repartition(8) // 8 part files -> >= 8 row groups
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("fanned returns exactly the loader's rows (documents, events)") {
    val a = Tables.fanned(spark, sf, "documents").orderBy("doc_id").collect()
    val b = Tables.documents(spark, sf).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
    val c = Tables.fanned(spark, sf, "events")
      .select("event_id").orderBy("event_id").collect()
    val d = Tables.events(spark, sf)
      .select("event_id").orderBy("event_id").collect()
    assert(c.toSeq == d.toSeq)
  }

  test("fanned fires on the single-row-group fixture: rows spread wide") {
    // the fixture file is one row group — unsplittable, so the wrapper
    // must add the hash spread (more than one non-empty partition)
    val parts = Tables.fanned(spark, sf, "lineitem").rdd.getNumPartitions
    assert(parts >= 2, s"expected fan-out on a 1-row-group file, got $parts")
  }

  test("fanned is a NO-OP on a splittable (multi-file) input") {
    val fanned = Tables.fanned(spark, multiFile, "documents")
    // no exchange of any kind: the splittability probe must prove the
    // layout and return the bare scan
    assert(!planOf(fanned).contains("Exchange"),
      s"fan-out must not reach a splittable input's plan:\n${planOf(fanned)}")
    assert(fanned.count() == Tables.documents(spark, sf).count())
  }

  test("contractSort returns exactly orderBy's rows on the fixture " +
      "(persisted child and scan-projection child)") {
    operators.Caches.releaseAll()
    for ((child, key) <- children(sf)) {
      val a = Tables.contractSort(spark, sf, "documents", child, key).collect()
      assert(a.toSeq == child.orderBy(key).collect().toSeq)
    }
    operators.Caches.releaseAll()
  }

  test("contractSort on the fixture: an explicit cores-wide range " +
      "exchange, and a persist only under a child that does work") {
    operators.Caches.releaseAll()
    val cores = spark.sparkContext.defaultParallelism
    val Seq((agg, aggKey), (scan, scanKey)) = children(sf)
    val sortedAgg = Tables.contractSort(spark, sf, "documents", agg, aggKey)
    val sortedScan = Tables.contractSort(spark, sf, "documents", scan, scanKey)
    for (df <- Seq(sortedAgg, sortedScan)) {
      val p = planOf(df)
      assert(s"rangepartitioning\\(.*, $cores\\), REPARTITION_BY_NUM".r
        .findFirstIn(p).nonEmpty,
        s"expected a $cores-wide range exchange:\n$p")
    }
    assert(cached(sortedAgg), "an aggregate child must be persisted")
    assert(!cached(sortedScan), "a bare scan projection must not be persisted")
    operators.Caches.releaseAll()
  }

  test("every lever is a NO-OP on a splittable (multi-file) input: no " +
      "explicit width, no persist") {
    operators.Caches.releaseAll()
    val levers = Tables.fanned(spark, multiFile, "documents") +:
      children(multiFile).map { case (child, key) =>
        Tables.contractSort(spark, multiFile, "documents", child, key)
      }
    for (df <- levers) {
      val p = planOf(df)
      assert(!p.contains("REPARTITION_BY_NUM") && !cached(df),
        s"a lever reached a splittable input's plan:\n$p")
    }
    // nothing registered for release either: the children's plans are
    // absent from the session's cache
    for ((child, _) <- children(multiFile))
      assert(spark.sharedState.cacheManager.lookupCachedData(
        child.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty,
        "a lever persisted a frame at scale")
    // the sorts stay plain global orderBys with their exact rows
    for ((child, key) <- children(multiFile))
      assert(Tables.contractSort(spark, multiFile, "documents", child, key)
        .collect().toSeq == child.orderBy(key).collect().toSeq)
  }

  test("the splittability probe skips `_temporary/`: row groups Spark " +
      "never reads must not suppress the fan-out") {
    val tmp = java.nio.file.Files
      .createTempDirectory("fanned_tmp_spec_").toString
    val table = s"$tmp/documents.parquet"
    Tables.documents(spark, sf).coalesce(1) // one file, one row group
      .write.mode("overwrite").parquet(table)
    // an uncommitted write's leftovers: 8 more row groups, all hidden
    Tables.documents(spark, sf).repartition(8)
      .write.mode("overwrite").parquet(s"$table/_temporary/0")
    val fanned = Tables.fanned(spark, tmp, "documents")
    assert(planOf(fanned).contains("Exchange"),
      s"expected fan-out over the one visible row group:\n${planOf(fanned)}")
    assert(fanned.count() == Tables.documents(spark, sf).count())
  }
}
