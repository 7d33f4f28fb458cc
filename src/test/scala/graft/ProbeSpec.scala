package graft

/** `graft.Probe`: every pass is one full execution whose jobs the census
  * sees, and the release leaves the block manager empty, so a later pass
  * never reads blocks an earlier one persisted (`win_running` persists
  * its pre-sort frame through Caches). */
class ProbeSpec extends SparkSpec {

  test("Probe: two passes, jobs per pass, storage empty after each, plan file") {
    val dir = java.nio.file.Files.createTempDirectory("probe_plans_")
    val out = new java.io.ByteArrayOutputStream()
    val passes = Console.withOut(out) {
      Probe.run(spark, sf, Seq("win_running"), 2, Some(dir.toString))
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.count(_.startsWith("PASS win_running")) === 2, lines.mkString("\n"))
    assert(lines.count(_.startsWith("JOB")) === passes.map(_.jobs.size).sum)
    assert(passes.map(_.pass) === Seq(1, 2))
    passes.foreach { p =>
      assert(p.error.isEmpty && p.jobs.nonEmpty, p.line)
      assert(p.counts("stages") > 0 && p.counts("tasks") > 0, p.line)
      assert(p.jobs.forall(!_.wallS.isNaN), p.line)
      assert(p.counts("stored_after") === 0L, p.line)
    }
    assert(java.nio.file.Files.readString(dir.resolve("win_running.txt"))
      .contains("== Physical Plan =="))
  }
}
