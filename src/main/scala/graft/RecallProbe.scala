package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-envelope instrument for the ANN tier (VERDICT r16 item 1):
  * measures recall@10 vs brute force (`sim_topk`) for each named tier
  * on an arbitrary corpus dir — the harness behind the per-tier
  * recall tables in VERIFY_sf1.md (sf0.1 / mult-10 / mult-100).
  *
  * Usage: scripts/run_main.sh graft.RecallProbe <dir> <tier>[,<tier>…]
  * Tiers: nndescent graph_search hnsw ivfpq pq ann topk
  * Prints one JSON line per tier: {"tier":…,"recall":…,"secs":…}.
  * Combine with GRAFT_NND_TRACE=1 / GRAFT_NND_CAP=n for per-round
  * build traces (see Similarity.buildKnnGraphFrom).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val tiers =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq("nndescent", "graph_search", "hnsw", "ivfpq")
    val spark = Session()
    spark.sparkContext.setLogLevel("WARN")
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(operators.Similarity.simTopk(spark, dir))
    val fns: Map[String, (SparkSession, String) => DataFrame] = Map(
      "topk" -> (operators.Similarity.simTopk _),
      "ann" -> (operators.Similarity.simAnn _),
      "pq" -> (operators.Similarity.simPq _),
      "ivfpq" -> (operators.Similarity.simIvfPq _),
      "nndescent" -> (operators.Similarity.simNndescent _),
      "graph_search" -> (operators.Similarity.simGraphSearch _),
      "hnsw" -> (operators.Similarity.simHnsw _))
    // filtered_graph grades against ITS OWN ground truth (the exact
    // FILTERED top-10, sim_filtered) — the unfiltered truth would
    // penalize it for honoring the predicate
    lazy val truthFiltered = pairs(operators.Similarity.simFiltered(spark, dir))
    tiers.foreach { t =>
      val t0 = System.nanoTime()
      val (got, base) = t match {
        case "filtered_graph" =>
          (pairs(operators.Similarity.simFilteredGraph(spark, dir)),
            truthFiltered)
        case _ => (pairs(fns(t)(spark, dir)), truth)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val rec = (base & got).size.toDouble / base.size
      println(f"""{"tier":"$t","recall":$rec%.4f,"secs":$secs%.1f}""")
    }
    spark.stop()
  }
}
