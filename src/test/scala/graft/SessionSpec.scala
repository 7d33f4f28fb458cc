package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** One session factory: every main and the test suites run the config
  * Bench times, and no future main can bring back a drifted builder. */
class SessionSpec extends SparkSpec {

  test("src/main holds exactly one SparkSession builder, in graft.Session") {
    val root = Paths.get("src/main/scala")
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => Files.readString(f).contains("SparkSession.builder()"))
      .map(root.relativize(_).toString).toSeq
    assert(hits === Seq("graft/Session.scala"))
  }

  test("the test session runs the factory's config (4 cores)") {
    Map("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "2",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true"
    ).foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
  }
}
