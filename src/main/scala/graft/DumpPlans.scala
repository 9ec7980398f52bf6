package graft
import java.nio.file.{Files, Paths}

/** Dev tool: regenerate docs/PLANS.md — physical plans of the headline
  * queries with the properties PlanSpec asserts. Run:
  * `sbt "runMain graft.DumpPlans"` after plan-affecting changes.
  *
  * With query names (`sbt "runMain graft.DumpPlans q141_zorder_cdc_merge
  * q75_pagerank"`) it writes each named query's formatted plan to
  * `plans/<query>.txt` instead. */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    graft.functions.ArrayExprs.register(spark)
    val d = "/root/testdata/sf0.001"
    val picks: Seq[(String, String)] = Seq(
      "q24_point_lookup" -> "key inverted driver-side -> event_id pushed to the parquet scan",
      "q02_revenue_by_nation" -> "pre-aggregated fact side; fixed dims (nation/region) hint-broadcast, SF-scaled customer AQE-planned (broadcast only because it's tiny at this SF)",
      "q03_top_orders" -> "pre-agg + join; top-k is TakeOrderedAndProject (no global sort)",
      "q80_asof_join" -> "native AsofJoin exec: co-partitioned children, local (key, ts) sorts, streaming merge",
      "q42_dedup_minhash_lsh" -> "banded LSH self-join over the persisted signature table; arrays rejoin only for deduped candidate pairs",
      "q50_knn_brute" -> "query literal scoring (narrow pass) + bounded TopKHits partial aggregation",
      "q92_sequence_packing" -> "distributed prefix sum: per-bucket window cumsums in parallel; the only unpartitioned window sorts the tiny bucket-totals aggregate; broadcast joins the prefixes back",
      "q93_range_frame" -> "value-based RANGE frame (trailing 6h) — one user_id shuffle serves both window functions",
      "q46_decontaminate" -> "benchmark grams folded into a native BloomFilterAggregate (scalar subquery); corpus grams prefiltered by the codegen'd might_contain BEFORE the exact semi-join shuffle",
      "q44_dedup_embed" -> "IVF-cell-blocked near-dup: 2-probe cell explode, cosine threshold inside the join condition, distinct over survivors only",
      "q48_record_linkage" -> "PassJoin segment pigeonhole: segments join shifted substrings on (lang, band, seg, content); bounded levenshtein verifies inside the join condition",
      "q121_pq_index" -> "IVF-PQ two-stage: pruned codes-only scan scored by plan-literal ADC LUTs, shortlist checkpoint bounds the cold-store fetch, exact-cosine re-rank window",
      "q128_knn_join" -> "corpus x corpus KNN: both sides distributed, one cell-keyed equi-join (no cartesian), per-query rank window",
      "q129_semantic_dedup" -> "SemDeDup: k-means clusters as blocking; cosine threshold inside the within-cluster pair join's condition; per-victim MIN aggregate",
    )
    if (args.nonEmpty) {
      Files.createDirectories(Paths.get("plans"))
      SparkEntry.registry.filter(r => args.contains(r.name)).foreach { r =>
        val out = Paths.get(s"plans/${r.name}.txt")
        Files.writeString(out, r.fn(spark, d).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        println(s"[plans] wrote $out")
      }
    } else {
      val qs = SparkEntry.queries
      val sb = new StringBuilder
      sb.append("# Physical plans — headline queries\n\n")
      sb.append("Generated by `graft.DumpPlans` at sf0.001 (plan SHAPE is what\n")
      sb.append("matters; sizes differ at scale). PlanSpec asserts the key\n")
      sb.append("properties in CI; this file is the human-readable snapshot.\n")
      picks.foreach { case (name, note) =>
        val df = qs(name)(spark, d)
        sb.append(s"\n## $name\n\n_${note}_\n\n```\n")
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode).trim)
        sb.append("\n```\n")
      }
      // a streaming sink's executed plan, which its query's result plan
      // (the read-back) does not show
      qs("q57_stream_sink_roundtrip")(spark, d)
      graft.streaming.Streaming.lastPlans.get("q57_sink").foreach { p =>
        sb.append("\n## q57_sink\n\n_q57's graft-shards sink: the write's " +
          "required distribution shuffles by key into one task per shard_\n\n```\n")
        sb.append(p.toString.trim)
        sb.append("\n```\n")
      }
      Files.createDirectories(Paths.get("docs"))
      Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
      println(s"[plans] wrote docs/PLANS.md (${picks.size} queries)")
    }
    spark.stop()
  }
}
