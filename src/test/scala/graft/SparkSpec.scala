package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** ONE session for every test entry point (the scalatest trait below and
  * the scalacheck Properties object), built by the same factory Bench
  * and Verify use — the specs assert against the config the bench
  * times. getOrCreate means the first caller's config wins for the JVM. */
object TestSession {
  lazy val spark: SparkSession = {
    // a private warehouse per test JVM; spark.* system properties reach
    // the session the factory builds
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh_").toString)
    Session(cores = 4)
  }
}

/** Shared test fixture: one session per JVM (getOrCreate), sf0.001
  * testdata. Sessions are never stopped per-suite — suites share it. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"
}
