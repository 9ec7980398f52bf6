package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth probe for the dedup/ANN family (q41/q42/q44/q45/q48):
  * generates a 1× and a 10× corpus with the SAME deterministic generator
  * (documents from the sf0.1 vocabulary with a constant near-dup rate,
  * embeddings as label clusters + per-vector noise), runs each operator at
  * both scales, and prints one JSON line with per-query seconds and the
  * 10×/1× growth factor. Sub-quadratic means growth ≪ 100; the
  * density-tracking designs should sit near the data growth (~10).
  *
  * Both scales use the generated corpus — NOT the driver's sf0.1 tables —
  * so the growth factor isolates data VOLUME: same generator, same dup
  * density per doc, 10× the rows. q44 runs through its explicit scale knob
  * (cells grow with the corpus, 16 → 160) — that is the documented design,
  * the knob exists precisely so per-cell pair work stays put at 10×.
  *
  * Usage: `sbt "runMain graft.ScaleProbe"` (env: SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SF_DIR for the vocabulary source).
  */
object ScaleProbe {
  val BaseDocs = 5000L
  val BaseVecs = 2000L
  val Factor = 10

  /** Deterministic synthetic documents: ~40–70 words from `vocab`, lang and
    * source hash-assigned at sf0.1's proportions, plus a constant 2%
    * near-dup rate (≈8% word substitutions against the previous doc) and
    * 0.16% exact dups — so duplicate DENSITY per doc is scale-invariant.
    * Near-dups inherit the seed doc's lang/length (the blocking keys). */
  def genDocuments(s: SparkSession, vocab: Seq[String], n: Long): DataFrame = {
    val v = typedLit(vocab)
    val vs = lit(vocab.size)
    def h(c: Column*) = hash(c: _*)
    s.range(n).toDF("doc_id")
      .withColumn("is_near",
        pmod(h(col("doc_id"), lit(1)), lit(50)) === 0 && col("doc_id") > 0)
      .withColumn("is_exact",
        pmod(h(col("doc_id"), lit(2)), lit(625)) === 0 && col("doc_id") > 0 &&
          !col("is_near"))
      .withColumn("seed", when(col("is_near") || col("is_exact"),
        col("doc_id") - 1).otherwise(col("doc_id")))
      .withColumn("len", lit(40) + pmod(h(col("seed"), lit(3)), lit(31)))
      .withColumn("w", transform(sequence(lit(0), col("len") - 1),
        i => element_at(v, pmod(h(col("seed"), i, lit(4)), vs) + 1)))
      .withColumn("w", when(col("is_near"),
        zip_with(col("w"), sequence(lit(0), col("len") - 1), (w, i) =>
          when(pmod(h(col("doc_id"), i, lit(5)), lit(12)) === 0,
            element_at(v, pmod(h(col("doc_id"), i, lit(6)), vs) + 1))
            .otherwise(w)))
        .otherwise(col("w")))
      .withColumn("text", array_join(col("w"), " "))
      .withColumn("lang",
        when(pmod(h(col("seed"), lit(7)), lit(100)) < 41, "en")
          .otherwise(element_at(typedLit(Seq("zh", "es", "fr", "de")),
            pmod(h(col("seed"), lit(8)), lit(4)) + 1)))
      .withColumn("source",
        concat(lit("src"), pmod(h(col("doc_id"), lit(9)), lit(20))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
  }

  /** Deterministic synthetic embeddings: 10 label clusters, each vector =
    * its label centroid + per-vector noise (float32[64], like sf0.1). */
  def genEmbeddings(s: SparkSession, n: Long): DataFrame = {
    val dim = 64
    def h(c: Column*) = hash(c: _*)
    s.range(n).toDF("vec_id")
      .withColumn("lbl", pmod(h(col("vec_id"), lit(11)), lit(10)))
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)), d =>
        (((pmod(h(col("lbl"), d, lit(12)), lit(2001)) - 1000) / lit(1000.0)) +
          ((pmod(h(col("vec_id"), d, lit(13)), lit(2001)) - 1000) / lit(3333.0)))
          .cast("float")))
      .select(col("vec_id"), col("embedding"), col("lbl").cast("int").as("label"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(cpus)

    // the real corpus's 31-word vocabulary seeds the generator
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .distinct().orderBy("w").collect().map(_.getString(0)).toSeq

    def writeCorpus(scale: Int): String = {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft-scaleprobe/x$scale"
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      genDocuments(spark, vocab, BaseDocs * scale)
        .repartition(cpus).write.parquet(s"$dir/documents.parquet")
      genEmbeddings(spark, BaseVecs * scale)
        .repartition(cpus).write.parquet(s"$dir/embeddings.parquet")
      dir
    }
    val x1 = writeCorpus(1)
    val x10 = writeCorpus(Factor)

    // VERIFY-PLANE LIVENESS probes (r16 — the r15 verdict's item 2b: at
    // x10 verified == candidates, so a silently-dead cosine filter would
    // have gone unnoticed). Three planted vectors ±η·ones / 2η·ones at
    // the top of the id space land in the SAME two probe cells (η=1e-6:
    // the ±2η·c·v score perturbation is far below inter-seed score gaps,
    // so all three rank cells identically) with cosines −1/+1/−1 —
    // the anti-parallel pairs MUST be refused by the verify plane and
    // the parallel pair MUST pass, at both scales, or the probe aborts.
    import graft.dedup.{Dedup => DedupOps}
    def plantVerifyProbes(dir: String, n: Long): Unit =
      spark.range(3).select((col("id") + n).as("vec_id"),
          expr("array_repeat(CAST(CASE id WHEN 0 THEN 1e-6 WHEN 1 " +
            "THEN -1e-6 ELSE 2e-6 END AS FLOAT), 64)").as("embedding"),
          lit(-1).as("label"))
        .coalesce(1).write.mode("append").parquet(s"$dir/embeddings.parquet")
    def checkVerifyPlane(dir: String, scale: Int): Unit = {
      val n = BaseVecs * scale
      val cells = graft.sim.Similarity.NumCells * scale
      val cand = DedupOps.embedCellCandidates(spark, dir, cells)
        .filter(col("vec_a") >= n).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      require(cand == Set((n, n + 1L), (n, n + 2L), (n + 1L, n + 2L)),
        s"planted verify probes missed the candidate plane at x$scale " +
          s"($cand) — the liveness check is vacuous; re-derive the cell " +
          "geometry")
      val ver = DedupOps.embedNearDupPairs(spark, dir, cells)
        .filter(col("vec_a") >= n).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      require(ver == Set((n, n + 2L)),
        s"cosine verify plane vacuous or broken at x$scale: planted " +
          "anti-parallel pairs must NOT verify, the parallel pair " +
          s"must (got $ver)")
    }
    plantVerifyProbes(x1, BaseVecs)
    plantVerifyProbes(x10, BaseVecs * Factor)
    checkVerifyPlane(x1, 1)
    checkVerifyPlane(x10, Factor)
    DedupOps.clearCaches()
    // per-cell occupancy (r16 item 2a): recorded beside candidate rows
    // so super-linear candidate growth is attributable — pair_sum is the
    // exact pre-distinct candidate bound
    val occ1 = DedupOps.embedCellOccupancy(spark, x1,
      graft.sim.Similarity.NumCells)
    val occ10 = DedupOps.embedCellOccupancy(spark, x10,
      graft.sim.Similarity.NumCells * Factor)
    def occJson(o: (Long, Long, Double, Long)) =
      s"""{"cells":${o._1},"max_occ":${o._2},""" +
        s""""mean_occ":${math.rint(o._3 * 10) / 10},"pair_sum":${o._4}}"""

    // prebuilt z-store for the q144 metadata-aggregate probe: the build
    // is deliberately OUTSIDE the timed passes (q123_zorder_knob measures
    // it) so the probe isolates the metadata plane itself
    def buildZMeta(dir: String, scale: Int): Unit = {
      val t = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          pmod(hash(col("doc_id"), lit(1)), lit(100000)).cast("long").as("k1"),
          pmod(hash(col("doc_id"), lit(2)), lit(100000)).cast("long").as("k2"))
      graft.sources.ZOrder.writeZOrdered(t, s"$dir/zmeta", Seq("k1", "k2"),
        32 * scale)
    }
    buildZMeta(x1, 1)
    buildZMeta(x10, Factor)

    // prebuilt BUCKETED store pair for the q161 SPJ probe (build
    // untimed — q123_zorder_knob owns build cost): both sides
    // bucket(16, k), so the probe isolates the JOIN plane
    def buildBucketed(dir: String, scale: Int): Unit = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      Seq("zspj_a", "zspj_b").foreach(n =>
        graft.sources.ZLog.recordBucketing(spark, s"$dir/$n", "k", 16))
      graft.sources.ZOrder.writeZOrdered(
        docs.select(col("doc_id").as("k"), col("n_chars").as("v")),
        s"$dir/zspj_a", Seq("k"), 32 * scale)
      graft.sources.ZOrder.writeZOrdered(
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("k"),
            length(col("lang")).cast("long").as("w")),
        s"$dir/zspj_b", Seq("k"), 32 * scale)
    }
    buildBucketed(x1, 1)
    buildBucketed(x10, Factor)

    // prebuilt store + one FIXED-SIZE band update for the q160 CDF
    // probe: the feed's cost should track the DELTA (constant here),
    // never the store
    def buildCdf14(dir: String, scale: Int): Unit = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.ZOrder.writeZOrdered(docs, s"$dir/zcdf14",
        Seq("doc_id"), 32 * scale)
      // change recording is the Delta opt-in since r14 wave 3 — without
      // it the update records no change set and readChangeFeed refuses
      graft.sources.ZOrder.setChangeFeedEnabled(spark, s"$dir/zcdf14",
        on = true)
      graft.sources.ZOrder.updateZRange(spark, s"$dir/zcdf14",
        Seq(("doc_id", 0L, 499L)), Map("n_chars" -> "n_chars + 1"),
        Seq("doc_id"))
    }
    buildCdf14(x1, 1)
    buildCdf14(x10, Factor)

    def spjProbe(d: String, bucketing: Boolean): DataFrame = {
      val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set(keys(0), bucketing.toString)
        spark.conf.set(keys(1), "-1")
        spark.conf.set(keys(2), "-1")
        val a = spark.read.format("graft-z").load(s"$d/zspj_a").hint("merge")
        val b = spark.read.format("graft-z").load(s"$d/zspj_b")
        a.join(b, "k")
          .groupBy(pmod(col("k"), lit(97L)).as("g"))
          .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("sv"))
          .localCheckpoint(true) // eager: the join runs under the confs
      } finally saved.foreach { case (k, v) =>
        v match { case Some(x) => spark.conf.set(k, x)
                  case None => spark.conf.unset(k) }
      }
    }

    import graft.dedup.Dedup
    val probes: Seq[(String, (String, Int) => DataFrame)] = Seq(
      "q41_jaccard" -> ((d, _) => Dedup.q41DedupJaccard.fn(spark, d)),
      "q42_minhash_lsh" -> ((d, _) => Dedup.q42DedupMinhashLsh.fn(spark, d)),
      "q44_embed_cells_knob" -> ((d, scale) =>
        Dedup.embedNearDupPairs(spark, d, graft.sim.Similarity.NumCells * scale)),
      // r15 decomposition of q44's growth (verdict item 6, the q48
      // discipline): the CANDIDATE plane alone — same-cell id-ordered
      // pair structure, vectors projected away, NO cosine verify
      "q44_candidates_knob" -> ((d, scale) =>
        Dedup.embedCellCandidates(spark, d,
          graft.sim.Similarity.NumCells * scale)),
      // q45 now runs the md5-LSH candidates→verify→CC composition itself
      // (round-5 change — the fixed lang×band generator measured 24.8× at
      // 10× here in round 4); q45_cc_over_lsh keeps the xxhash64 twin
      // (q42 candidates → CC) for comparison
      "q45_dup_groups" -> ((d, _) => Dedup.q45DupGroups.fn(spark, d)),
      "q45_cc_over_lsh" -> ((d, _) =>
        Dedup.connectedComponents(Dedup.q42DedupMinhashLsh.fn(spark, d))),
      "q48_record_linkage" -> ((d, _) => Dedup.q48RecordLinkage.fn(spark, d)),
      // r13 decomposition of q48's growth (the r12 verdict's `weak`):
      // the CANDIDATE plane alone (segment-content join + the
      // shift-consistency filter, NO levenshtein) — its timed count and
      // result rows split candidate generation from verify, so a growth
      // drift is attributable instead of a single opaque number
      "q48_candidates" -> ((d, _) =>
        Dedup.linkagePairs(Dedup.linkageKeyed(spark, d), verify = false)),
      // linear-by-design text curation ops (round-5 post-gate additions):
      // measured here to keep the "no silent super-linear path" claim honest
      "q97_span_dedup" -> ((d, _) => Dedup.q97SpanDedup.fn(spark, d)),
      "q99_lm_cross_entropy" -> ((d, _) =>
        graft.text.TextAnalysis.q99LmCrossEntropy.fn(spark, d)),
      // round-6 persisted stores: timed = build + incremental use (both
      // scale-relevant halves; the store caches are cleared between passes)
      "q106_dedup_incremental" -> ((d, _) =>
        graft.dedup.LshIndex.q106DedupIncremental.fn(spark, d)),
      "q108_stream_ingest" -> ((d, _) =>
        graft.dedup.LshIndex.q108DedupStreamIngest.fn(spark, d)),
      "q114_vec_ingest" -> ((d, _) =>
        graft.sim.VecIndex.q114AnnStreamIngest.fn(spark, d)),
      "q109_sequence_packing" -> ((d, _) =>
        graft.pipeline.TrainingPipeline.q109SequencePacking.fn(spark, d)),
      "q111_merge_learning" -> ((d, _) =>
        graft.text.TextAnalysis.q111MergeLearning.fn(spark, d)),
      // round-10: BPE APPLY at its merge-table knob (3 → 30 merges on the
      // 10× corpus): the single-pass fold's cost is one corpus pass
      // regardless of table size, so growth should track the corpus
      // (~linear) — the per-merge window rounds it replaced would grow
      // another 10× with the table
      "q131_bpe_apply_knob" -> ((d, scale) =>
        graft.text.TextAnalysis.bpeApplyPass(spark, d, 3 * scale)),
      // round-7: the LSH store's partition knobs exercised at the values a
      // 10× deployment would pin (pfxLen 1→2 = 16→256 band dirs, docPfxMod
      // 16→64 feature dirs) — the "grow with the cluster" claim measured,
      // not just documented; results are knob-invariant (LshIndexSpec)
      "q106_idx_knob" -> ((d, scale) => {
        graft.functions.ArrayExprs.register(spark)
        val root = java.nio.file.Files
          .createTempDirectory("graft-sp-lshidx").toString
        val corpus = Tables.documents(spark, d)
          .filter(col("doc_id") % 10 =!= 9).select(col("doc_id"), col("text"))
        val (pfxLen, mod) = if (scale == 1) (1, 16L) else (2, 64L)
        graft.dedup.LshIndex.write(graft.dedup.Dedup.lshFeatures(corpus),
          s"$root/idx", s"$root/feat",
          org.apache.spark.sql.SaveMode.Overwrite, pfxLen, mod)
        graft.dedup.LshIndex.dedupAgainst(spark, s"$root/idx", s"$root/feat",
          Tables.documents(spark, d).filter(col("doc_id") % 10 === 9)
            .select(col("doc_id"), col("text")))
      }),
      // round-7 streaming text-index ingest (the q108/q114 sibling)
      "q117_text_ingest" -> ((d, _) =>
        graft.text.TextIndex.q117TextStreamIngest.fn(spark, d)),
      // round-7 second wave: PQ-index streaming ingest (the family's
      // fourth exactly-once loop)
      "q127_pq_ingest" -> ((d, _) =>
        graft.sim.PqIndex.q127PqStreamIngest.fn(spark, d)),
      // round-9: z-store streaming ingest (the fifth exactly-once loop;
      // tag-idempotent appends + marker recipe)
      "q132_zorder_ingest" -> ((d, _) =>
        graft.sources.ZQueries.q132ZOrderStreamIngest.fn(spark, d)),
      // round-10: the CDC-apply merge loop (sixth exactly-once ingest) —
      // per-batch cost is O(affected files + batch), so growth should
      // track the CDC volume, never batches × table
      "q141_cdc_merge" -> ((d, _) =>
        graft.sources.ZQueries.q141ZOrderCdcMerge.fn(spark, d)),
      // round-10: change-feed stream consume and the continuous IVM over
      // it — cost is O(delta files) reads + per-version folds (view rows
      // ≤ #langs), so growth should track data volume
      "q140_zcdf_stream" -> ((d, _) =>
        graft.sources.ZQueries.q140ZcdfStream.fn(spark, d)),
      "q143_zcdf_ivm" -> ((d, _) =>
        graft.sources.ZQueries.q143ZcdfIvm.fn(spark, d)),
      // round-10: bloom point-index lifecycle at the file-count knob
      // (32→320): build = one distributed pass + O(files) sidecars; the
      // probe itself opens O(matches) files at either scale
      "q142_zbloom_knob" -> ((d, scale) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-sp-zbloom").toString
        val t = Tables.documents(spark, d).select(col("doc_id"),
          ((col("doc_id") * lit(2654435761L)) % lit(100003L)).as("uk"),
          pmod(hash(col("doc_id"), lit(1)), lit(100000)).cast("long").as("k1"))
        graft.sources.ZOrder.writeZOrdered(t, dir, Seq("k1", "doc_id"),
          32 * scale)
        graft.sources.ZOrder.buildBloomIndex(spark, dir, "uk")
        graft.sources.ZOrder.readZPoint(spark, dir, "uk",
          (42L * 2654435761L) % 100003L)
      }),
      // round-10: the metadata-only aggregate plane (q139 COUNT + q144
      // MIN/MAX) over the PREBUILT zmeta store (build excluded — the
      // build cost is q123_zorder_knob's number): the aggregates read the
      // manifest + band-edge boundary files only, so cost should stay
      // ~flat as the table grows 10x (32->320 files)
      "q144_zmeta_agg_knob" -> ((d, _) => {
        val zd = s"$d/zmeta"
        val band = Seq(("k1", 20000L, 30000L): (String, Any, Any))
        val n = graft.sources.ZOrder.countZRange(spark, zd, band)
        graft.sources.ZOrder.minMaxZRange(spark, zd, Seq("k2"), band)
          .withColumn("n", lit(n))
      }),
      "q107_ann_index_knob" -> ((d, scale) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-sp-vecidx").toString
        graft.sim.VecIndex.write(Tables.embeddings(spark, d), dir,
          graft.sim.Similarity.NumCells * scale)
        graft.sim.VecIndex.topK(spark, dir,
          Tables.embeddings(spark, d).filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"),
              transform(col("embedding"), x => x.cast("double")).as("qv")))
      }),
      // round-7 second wave: the IVF-PQ store at ITS scaled knobs (cells
      // 16→160, cold-store mod 16→64; codebook size stays fixed — PQ's
      // 8×16 is per-subspace vocabulary, not a corpus knob), timed =
      // build + one 8-query probe, the q107 shape
      "q121_pq_index_knob" -> ((d, scale) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-sp-pqidx").toString
        graft.sim.PqIndex.write(Tables.embeddings(spark, d), dir,
          graft.sim.Similarity.NumCells * scale, 16L * scale)
        graft.sim.PqIndex.topK(spark, dir,
          Tables.embeddings(spark, d).filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"),
              transform(col("embedding"), x => x.cast("double")).as("qv")))
      }),
      // round-7 third wave: the distributed KNN join at its cell knob
      // (candidates ~ n²·nprobe/cells — the knob holds the per-cell term
      // flat at 10×)
      "q128_knn_join_knob" -> ((d, scale) =>
        graft.sim.Similarity.knnJoin(spark, d,
          graft.sim.Similarity.NumCells * scale, 3)),
      // round-7 third wave: SemDeDup at its cluster knob (8→80 — the
      // per-cluster n²/k pair term stays put at 10×)
      "q129_semantic_dedup_knob" -> ((d, scale) =>
        graft.sim.Similarity.semanticDedup(spark, d, 8 * scale, 0.25)),
      // r15 decomposition of q129's growth: kmeans + same-cluster pair
      // structure, NO cosine verify (the clustering IS the blocking, so
      // it belongs to the candidate plane)
      "q129_candidates_knob" -> ((d, scale) =>
        graft.sim.Similarity.semanticDedupCandidates(spark, d, 8 * scale)),
      // round-7 second wave: z-order OPTIMIZE + one two-band pruned read;
      // file count grows with the corpus (32→320) so per-file sizes stay
      // put — cost should track the one range shuffle (~linear)
      "q123_zorder_knob" -> ((d, scale) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-sp-zorder").toString
        val t = Tables.documents(spark, d).select(col("doc_id"),
          pmod(hash(col("doc_id"), lit(1)), lit(100000)).cast("long").as("k1"),
          pmod(hash(col("doc_id"), lit(2)), lit(100000)).cast("long").as("k2"))
        graft.sources.ZOrder.writeZOrdered(t, dir, Seq("k1", "k2"),
          32 * scale)
        graft.sources.ZOrder.readZRange(spark, dir,
          Seq(("k1", 20000L, 30000L), ("k2", 40000L, 50000L)))
      }),
      // round-9: the APPEND lifecycle at scale — 5 incremental batches
      // into a 10x-bigger base, then a manifest-only compaction and a
      // pruned read; per-append cost is O(batch files) by design (the
      // batch dir is the only thing listed/harvested), so growth should
      // track the base build, never the append count x table size
      "q123_zappend_knob" -> ((d, scale) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-sp-zappend").toString
        val t = Tables.documents(spark, d).select(col("doc_id"),
          pmod(hash(col("doc_id"), lit(1)), lit(100000)).cast("long").as("k1"),
          pmod(hash(col("doc_id"), lit(2)), lit(100000)).cast("long").as("k2"))
        graft.sources.ZOrder.writeZOrdered(
          t.filter(col("doc_id") % 2 === 0), dir, Seq("k1", "k2"),
          32 * scale)
        for (m <- 0 until 5)
          graft.sources.ZOrder.appendZOrdered(
            t.filter(col("doc_id") % 2 === 1 && col("doc_id") % 5 === m),
            dir, Seq("k1", "k2"), math.max(3 * scale, 1))
        graft.sources.ZOrder.compactManifest(spark, dir)
        graft.sources.ZOrder.readZRange(spark, dir,
          Seq(("k1", 20000L, 30000L), ("k2", 40000L, 50000L)))
      }),
      // round-9 second wave: copy-on-write DELETE at scale — a fixed 10%
      // k1-band delete against a 10x-bigger store (file count 32→320, so
      // per-file sizes stay put); cost should track the AFFECTED file
      // volume (stats prune the rewrite set, unaffected files carry by
      // reference), then a pruned read over the post-delete epoch
      "q133_zdelete_knob" -> ((d, scale) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-sp-zdelete").toString
        val t = Tables.documents(spark, d).select(col("doc_id"),
          pmod(hash(col("doc_id"), lit(1)), lit(100000)).cast("long").as("k1"),
          pmod(hash(col("doc_id"), lit(2)), lit(100000)).cast("long").as("k2"))
        graft.sources.ZOrder.writeZOrdered(t, dir, Seq("k1", "k2"),
          32 * scale)
        graft.sources.ZOrder.deleteZRange(spark, dir,
          Seq(("k1", 20000L, 30000L)), Seq("k1", "k2"))
        graft.sources.ZOrder.readZRange(spark, dir,
          Seq(("k2", 40000L, 50000L)))
      }),
      // round-11: copy-on-write UPDATE at scale — the delete twin: a
      // fixed 10% k1-band SET against a 10x-bigger store (files 32→320);
      // cost should track the AFFECTED file volume (stats prune the
      // rewrite set, unaffected files carry by reference), then a pruned
      // read over the post-update epoch
      "q147_zupdate_knob" -> ((d, scale) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-sp-zupdate").toString
        val t = Tables.documents(spark, d).select(col("doc_id"),
          pmod(hash(col("doc_id"), lit(1)), lit(100000)).cast("long").as("k1"),
          pmod(hash(col("doc_id"), lit(2)), lit(100000)).cast("long").as("k2"))
        graft.sources.ZOrder.writeZOrdered(t, dir, Seq("k1", "k2"),
          32 * scale)
        graft.sources.ZOrder.updateZRange(spark, dir,
          Seq(("k1", 20000L, 30000L)), Map("k2" -> "k2 + 1"),
          Seq("k1", "k2"))
        graft.sources.ZOrder.readZRange(spark, dir,
          Seq(("k2", 40000L, 50000L)))
      }),
      // round-11: the graft-z DSv2 table over the PREBUILT zmeta store
      // (build excluded — q123_zorder_knob owns that number): a fixed
      // 10% k1-band filter plans only the band's files, so cost should
      // track the BAND's volume (result rows grow 10x with the corpus),
      // never table-minus-band
      "q148_ztable_knob" -> ((d, _) =>
        spark.read.format("graft-z").load(s"$d/zmeta")
          .filter(col("k1").between(20000L, 30000L))),
      // round-12: FULL-STORE decode throughput through the DSv2 table vs
      // `spark.read.parquet` over the same manifest-listed files — the
      // r11 verdict's `weak` gate (row-at-a-time Group decode replaced
      // by Spark's vectorized reader: the pair should now sit within
      // ~1.5x of each other). Every column feeds a per-row hash so
      // neither side can answer from footer metadata.
      "q148_ztable_fullscan" -> ((d, _) => {
        val df = spark.read.format("graft-z").load(s"$d/zmeta")
        df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
          .agg(sum(col("h")))
      }),
      "q148_parquet_fullscan" -> ((d, _) => {
        val zd = s"$d/zmeta"
        val files = graft.sources.ZOrder.listDataFiles(spark, zd)
        val df = spark.read.parquet(files.map(f => s"$zd/$f"): _*)
        df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
          .agg(sum(col("h")))
      }),
      // round-13 wave 2: join-driven DYNAMIC FILE PRUNING over the
      // PREBUILT zmeta store — a 2-key parquet dim (the filter must
      // survive as a relation for DPP; a LocalRelation constant-folds)
      // joins the table on k1, so the scan receives the keys at runtime
      // and plans only their files: expected ~flat-ish at 10x files
      // (keyed file count is ~constant; only manifest planning grows)
      "q159_dpp_knob" -> ((d, _) => {
        val zd = s"$d/zmeta"
        val keys = spark.read.format("graft-z").load(zd)
          .select(col("k1")).limit(2).collect().map(_.getLong(0)).distinct
        val dimDir = java.nio.file.Files
          .createTempDirectory("graft-sp-dpp").toString
        spark.createDataFrame(
            keys.map(k => (k, "a")).toSeq :+ ((-1L, "b")))
          .toDF("kk", "tag").write.mode("overwrite").parquet(dimDir)
        val dim = spark.read.parquet(dimDir).filter(col("tag") === "a")
        val fact = spark.read.format("graft-z").load(zd)
        fact.join(dim, fact("k1") === dim("kk"))
          .groupBy(col("kk")).agg(count(lit(1)).as("n"))
      }),
      // round-14 row-level CDF: the change feed over the PREBUILT
      // zcdf14 store (one fixed-size band UPDATE recorded) — cost must
      // track the DELTA (constant here), never store size: ~flat
      "q160_cdf_knob" -> ((d, _) =>
        graft.sources.ZOrder.readChangeFeed(spark, s"$d/zcdf14", 0, 0)),
      // round-14 STORAGE-PARTITIONED JOIN over the prebuilt bucketed
      // pair vs the same join with v2 bucketing off (the shuffled
      // control): both run under merge-join + no-broadcast so the only
      // delta is the exchanges; confs are scoped inside the probe (the
      // join executes eagerly via localCheckpoint) so later probes see
      // the session defaults
      "q161_spj_knob" -> ((d, _) => spjProbe(d, bucketing = true)),
      "q161_shuffle_control" -> ((d, _) => spjProbe(d, bucketing = false)),
    )

    // ad-hoc iteration knob: SPARK_GRAFT_PROBE_FILTER=q48 (or a
    // comma-separated list, q148,q159) runs only the matching probes
    // (substring match); unset = the full committed record
    val probeFilter = sys.env.get("SPARK_GRAFT_PROBE_FILTER")
    val selected = probeFilter match {
      case Some(f) =>
        val subs = f.split(",").map(_.trim).filter(_.nonEmpty)
        probes.filter(p => subs.exists(p._1.contains))
      case None => probes
    }
    def pass(dir: String, scale: Int): Seq[(String, Double, Long)] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val rows = fn(dir, scale).count()
        (name, (System.nanoTime() - t0) / 1e9, rows)
      }

    // COLD at both scales: the cross-call caches (signature table, CC
    // labels) would otherwise hand the timed 1× pass precomputed results
    // and fabricate the growth factor; codegen/shuffle warmup still comes
    // from the untimed pass (plans are scale-invariant)
    def clearAll(): Unit = {
      Dedup.clearCaches()
      graft.dedup.LshIndex.clearCaches()
      graft.sim.VecIndex.clearCaches()
      graft.sim.PqIndex.clearCaches()
      graft.sources.ZQueries.clearCaches()
      graft.text.TextIndex.clearCaches()
    }
    pass(x1, 1)
    clearAll()
    val base = pass(x1, 1)
    clearAll()
    val big = pass(x10, Factor)
    def fmt(r: Seq[(String, Double, Long)]) =
      r.map { case (k, t, _) => s"\"$k\":${math.rint(t * 1000) / 1000}" }
        .mkString("{", ",", "}")
    val growth = base.zip(big).map { case ((k, t1, _), (_, t10, _)) =>
      s"\"$k\":${math.rint(t10 / t1 * 10) / 10}"
    }.mkString("{", ",", "}")
    val rows = (base.map { case (k, _, n) => s"\"${k}_x1\":$n" } ++
      big.map { case (k, _, n) => s"\"${k}_x10\":$n" }).mkString("{", ",", "}")
    val filteredTag = probeFilter.map(f => s""""filtered":"$f",""").getOrElse("")
    println(s"""{"probe":"dedup_scale_growth",$filteredTag"docs_x1":$BaseDocs,"docs_x10":${BaseDocs * Factor},"vecs_x1":$BaseVecs,"vecs_x10":${BaseVecs * Factor},"q44_occupancy_x1":${occJson(occ1)},"q44_occupancy_x10":${occJson(occ10)},"q44_verify_plane":"alive (planted anti-parallel pairs refused, parallel pair passed, both scales)","secs_x1":${fmt(base)},"secs_x10":${fmt(big)},"growth_x10_over_x1":$growth,"result_rows":$rows,"note":"cold at both scales; same generator, constant per-doc dup density; q44 runs its cell knob 16->160; q41/q45 are the md5-LSH candidates->verify forms (round 5), q45_cc_over_lsh the xxhash64 twin; q106_idx_knob builds the LSH store at pfxLen=2/docPfxMod=64 for the 10x pass (the documented grow-with-the-cluster values), q107_ann_index_knob scales cells 16->160; q121_pq_index_knob scales cells 16->160 and the cold-store mod 16->64; q123_zorder_knob scales the file count 32->320; q123_zappend_knob is the r9 append lifecycle (base build + 5 appends + manifest compaction + pruned read); q133_zdelete_knob is the r9 copy-on-write delete (build + fixed 10pct-band delete + pruned read; rewrite set stats-pruned, rest carried by reference); q131_bpe_apply_knob scales the merge table 3->30 with the corpus (single-pass apply: growth should track the corpus, never the table); q141_cdc_merge is the CDC-apply merge loop; q142_zbloom_knob is the bloom point-index lifecycle at 32->320 files; q144_zmeta_agg_knob is COUNT+MIN/MAX through the metadata plane of a PREBUILT 32->320-file store (build excluded) - expected ~flat; q147_zupdate_knob is the copy-on-write update (delete twin: build + fixed 10pct-band SET + pruned read); q148_ztable_knob is the graft-z DSv2 table read over the PREBUILT store (build excluded) - expected to track band volume (result rows grow 10x); q148_ztable_fullscan vs q148_parquet_fullscan is the r12 vectorized-decode gate - full-store hash-agg through the DSv2 table vs spark.read.parquet over the same files, expected within ~1.5x at both scales; q159_dpp_knob is the r13 runtime-filter join (2-key parquet dim, DPP plans only the keyed files) - expected ~flat; q160_cdf_knob is the r14 row-level change feed over a PREBUILT store with one fixed-size band update - cost tracks the DELTA, expected ~flat at 10x store size; q161_spj_knob vs q161_shuffle_control is the r14 storage-partitioned join over a prebuilt bucket(16,k) pair vs the same merge join with v2 bucketing off - both no-broadcast so the only plan delta is the exchanges; expected both ~flat, spj carries ~1.5s of COLD metadata planning (caches cleared between passes; commit-keyed memos make steady-state repeats free - measured warm spj == warm control); q44_candidates_knob / q129_candidates_knob are the r15 decompositions of the two largest r14 growers (q48 discipline): the structural same-cell / same-cluster pair plane with NO cosine verify - r16: the growth model is MEASURED, not asserted: q44_occupancy_x* records the per-cell fanout occupancy (pair_sum = sum n_c(n_c-1)/2, the exact pre-distinct candidate bound), so super-linear candidate rows decompose into occupancy SKEW (max/mean drift) vs knob miscalibration (mean drift); three planted +-eta*ones vectors (ids >= vec count, eta=1e-6) prove the cosine verify plane FILTERS at both scales - the r15 observation 'verified == candidates at x10' was a data property of cluster-structured synthetic vectors, not a dead filter; a q44/q129 time drift beyond its candidates row is verify-cost, not blocking","cpus":$cpus}""")
    spark.stop()
  }
}
