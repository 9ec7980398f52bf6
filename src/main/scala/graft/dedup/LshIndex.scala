package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.ArrayExprs
import graft.sources.{GraftShards, Lease, StoreMaint}
import graft.sources.StoreMaint.Layout

/** Persisted MinHash-LSH dedup index: the incremental-ingest form of the
  * q41/q45 pipeline. A 100 TB corpus is deduplicated ONCE; every ingest
  * after that must answer "is this batch a duplicate of anything already
  * kept?" without touching the corpus again. Two on-disk tables make that
  * O(batch):
  *
  *  - the **band index** `(band_id, band_key, doc_id, ns)`, partitioned by
  *    the first hex char of `band_key` — a batch's candidate lookup opens
  *    only the partitions its own band keys hash into;
  *  - the **feature store** `(doc_id, sh, ns)`, partitioned by
  *    `doc_id mod `[[LshIndex.DocPfxMod]] — exact-Jaccard verification
  *    fetches only the partitions holding candidate partners.
  *
  * Both reads are built from EXPLICIT partition-directory paths (not a
  * filter Catalyst might or might not prune), so listing and I/O are
  * genuinely proportional to touched partitions — `inputFiles` proves it
  * in LshIndexSpec — and appending a new batch's rows is a plain parquet
  * append into the same layout (append ≡ rebuild is also spec-pinned).
  * At cluster scale the partition count constants grow ([[PfxLen]] → 2-3
  * hex chars ≈ 256-4096 dirs) and the driver-side partition-value collect
  * stays bounded by the dir count, never the data.
  *
  * The signature family is the md5-salted one ([[Dedup.md5MinhashSig]]),
  * so the whole incremental pipeline — index build, candidate join, size
  * bound, exact verify — is mirrored bit-for-bit by the DuckDB oracle and
  * q106 stays an exact hash-check even though candidates are LSH-derived.
  *
  * Reference tie-in: the reference keeps no dedup index (SURVEY.md §2.a);
  * this is the training-data-pipeline extension mandated alongside it,
  * composed from the same store-shaped pieces as `Sources` (manifest-free
  * here: band rows are append-only facts, so last-write-wins versioning
  * would be wrong — union IS the merge).
  */
object LshIndex {

  /** Default hex-prefix length of the band-index partition key (16 dirs
    * per char); the build-time knob behind [[StoreMaint.Layout]]. */
  val PfxLen = 1

  /** Default modulus of the feature-store partition key over doc_id. */
  val DocPfxMod = 16L

  /** The store's pinned partitioning knobs (falling back to the defaults
    * for pre-pin stores) — the pin lives at the BAND-INDEX root and
    * governs both dirs. */
  private def layoutOf(s: SparkSession, idxDir: String): Layout =
    StoreMaint.readLayout(s, idxDir, Layout(PfxLen, DocPfxMod))

  /** Band-index rows for a feature frame ([[Dedup.lshFeatures]] output):
    * one row per (doc, band), partitioned by the band key's hex prefix.
    * The `h` prefix pins partition-type inference to STRING — an all-digit
    * sample of hex values would otherwise come back as ints and break
    * prefix matching. */
  def indexRows(feat: DataFrame, lay: Layout = Layout(PfxLen, DocPfxMod)): DataFrame =
    feat
      .select(col("doc_id"), col("ns"),
        explode(Dedup.md5BandKeys(col("msig"))).as("band"))
      .select(col("band.band_id").as("band_id"),
        col("band.band_key").as("band_key"), col("doc_id"), col("ns"))
      .withColumn("pfx",
        concat(lit("h"), substring(col("band_key"), 1, lay.pfxLen)))

  /** Feature-store rows: the shingle sets verification needs, partitioned
    * by doc_id mod the layout's `docPfxMod`. Columns of `feat` beyond the
    * derived contract (per-doc metadata an evolving caller joined in)
    * ride along — the store's add-only evolution surface
    * ([[StoreMaint.evolveSchema]]); the normal [[Dedup.lshFeatures]]
    * input has none, so existing plans are untouched. */
  def featRows(feat: DataFrame, lay: Layout = Layout(PfxLen, DocPfxMod)): DataFrame = {
    val extras = feat.columns
      .filterNot(Set("doc_id", "sh", "ns", "msig", "dpfx"))
    feat.select((Seq(col("doc_id"), col("sh"), col("ns")) ++
        extras.map(col)): _*)
      .withColumn("dpfx", pmod(col("doc_id"), lit(lay.docPfxMod)))
  }

  /** Write (or overwrite) the index + feature store for a corpus feature
    * frame, pinning the partitioning knobs at the index root on a full
    * build. The feature frame is persisted for the duration: both writes
    * consume it, and the md5-minhash pass is the expensive step. Runs in
    * the enforced single-writer slot ([[Lease]]). */
  def write(feat: DataFrame, idxDir: String, featDir: String,
      mode: SaveMode = SaveMode.Overwrite,
      pfxLen: Int = PfxLen, docPfxMod: Long = DocPfxMod): Unit = {
    val s = feat.sparkSession
    Lease.withLease(s, idxDir, s"lshindex-$mode") {
      val lay =
        if (mode == SaveMode.Append) layoutOf(s, idxDir)
        else Layout(pfxLen, docPfxMod)
      val f = feat.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val iRows = indexRows(f, lay)
        val fRows = featRows(f, lay)
        // append: evolve the recorded schemas BEFORE the data lands, so
        // recorded ⊇ files holds at every instant (a read never drops a
        // column that exists on disk); a rebuild re-records after its
        // Overwrite cleared the dirs
        if (mode == SaveMode.Append) {
          StoreMaint.evolveSchema(s, idxDir, iRows.schema)
          StoreMaint.evolveSchema(s, featDir, fRows.schema)
        }
        // repartition ON the partition column: every task writes exactly one
        // dir, so a write adds O(dirs) files instead of O(tasks × dirs) —
        // at batch size that kills the small-file explosion, at corpus size
        // task parallelism equals the dir-count knob (pfxLen/docPfxMod grow
        // with the cluster, keeping both dirs AND write tasks sized right)
        iRows.repartition(col("pfx"))
          .write.mode(mode).partitionBy("pfx").parquet(idxDir)
        fRows.repartition(col("dpfx"))
          .write.mode(mode).partitionBy("dpfx").parquet(featDir)
        if (mode != SaveMode.Append) {
          StoreMaint.evolveSchema(s, idxDir, iRows.schema, reset = true)
          StoreMaint.evolveSchema(s, featDir, fRows.schema, reset = true)
        }
      } finally f.unpersist(blocking = false)
      // pin AFTER the data writes: parquet Overwrite wipes the target dir,
      // so a pre-write pin would be destroyed by its own build
      if (mode != SaveMode.Append)
        StoreMaint.writeLayout(s, idxDir, lay)
    }
  }

  /** Incremental maintenance: append a new batch's rows into the existing
    * layout (read from the pin, never re-derived). Band rows are
    * append-only facts (a doc's bands never change), so append ≡ rebuild —
    * LshIndexSpec pins the equivalence. */
  def append(feat: DataFrame, idxDir: String, featDir: String): Unit =
    write(feat, idxDir, featDir, SaveMode.Append)

  // ---- tombstone deletes + compaction -------------------------------------

  /** Tombstones live in a SIBLING dir of the band index (`<idx>-tombstones`)
    * rather than inside it: the index root must stay a clean hive layout
    * for whole-table reads, and an underscore-hidden subdir triggers
    * spurious "all paths ignored" warnings on its own explicit read. */
  private def tombDir(idxDir: String): String =
    s"${idxDir.stripSuffix("/")}-tombstones"

  /** The live tombstone set as a one-column (`doc_id`) frame — empty when
    * none. */
  private def deadIds(s: SparkSession, idxDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(tombDir(idxDir))
    if (!StoreMaint.fsFor(s, p).exists(p))
      s.range(0).select(col("id").as("doc_id"))
    else s.read.option("basePath", tombDir(idxDir)).parquet(tombDir(idxDir))
      .select(col("doc_id")).distinct()
  }

  /** Retract documents from the index: tombstone rows consulted by
    * [[dedupAgainst]] (a deleted doc stops being a duplicate partner
    * immediately), physically purged by [[compact]]. Idempotent — reads
    * deduplicate tombstones by id. */
  def delete(s: SparkSession, idxDir: String, featDir: String,
      ids: DataFrame, src: String): Unit =
    Lease.withLease(s, idxDir, s"lshindex-delete-$src") {
      StoreMaint.writeTombstones(ids, tombDir(idxDir), "doc_id", src,
        layoutOf(s, idxDir).docPfxMod)
    }

  /** Collapse per-append file growth to one file per partition dir and
    * physically purge tombstoned docs (band rows, shingle sets, then the
    * tombstones themselves — last, so no purged row can resurface).
    * Reader-safe mid-swap: the candidate/verify joins deduplicate by
    * (doc, partner) and doc_id, the same tolerance that absorbs crash
    * replays ([[StoreMaint.compactPartitioned]]). */
  def compact(s: SparkSession, idxDir: String, featDir: String): Unit =
    Lease.withLease(s, idxDir, "lshindex-compact") {
      val dead = deadIds(s, idxDir)
      StoreMaint.compactPartitioned(s, idxDir, "pfx",
        df => df.dropDuplicates("band_id", "band_key", "doc_id")
          .join(dead, Seq("doc_id"), "left_anti"))
      StoreMaint.compactPartitioned(s, featDir, "dpfx",
        df => df.dropDuplicates("doc_id")
          .join(dead, Seq("doc_id"), "left_anti"))
      StoreMaint.fsFor(s, new org.apache.hadoop.fs.Path(tombDir(idxDir)))
        .delete(new org.apache.hadoop.fs.Path(tombDir(idxDir)), true)
      ()
    }

  /** Read only the partition dirs of `dir` whose partition value is in
    * `keys` — explicit paths, so listing/IO/`inputFiles` are all
    * O(touched partitions). Missing dirs (a prefix no corpus doc hashed
    * into) are skipped; zero touched dirs degrades to a footer-only
    * empty read that preserves the schema — or, when the STORE ITSELF may
    * not exist yet (first batch of a streaming ingest), to the caller's
    * `empty` frame (same expression tree as the writer, so the schema
    * matches a store that was never written). */
  private[graft] def readPruned(s: SparkSession, dir: String, part: String,
      keys: Seq[String], empty: () => DataFrame = null): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    val dirs = keys.distinct.sorted.map(k => s"$dir/$part=$k")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    // the recorded schema (StoreMaint.evolveSchema's add-only union) makes
    // the read schema-STABLE under evolution: partitions written before a
    // column existed null-fill it instead of footer-inference randomly
    // including or dropping it depending on which file is sampled
    val recorded = StoreMaint.recordedSchema(s, dir)
    if (dirs.nonEmpty) {
      val rd = s.read.option("basePath", dir)
      recorded.fold(rd)(rd.schema).parquet(dirs: _*)
    } else recorded match {
      case Some(sc) => s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
      case None =>
        if (empty != null) empty().filter(lit(false))
        else s.read.parquet(dir).filter(lit(false))
    }
  }

  /** Schema-bearing empty frames for a store that has no files yet: the
    * writer's own expression trees over zero docs. */
  private def emptyDocs(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("doc_id"),
      lit("").as("text"))
  private def emptyIndex(s: SparkSession): DataFrame =
    indexRows(Dedup.lshFeatures(emptyDocs(s)))
  private def emptyFeat(s: SparkSession): DataFrame =
    featRows(Dedup.lshFeatures(emptyDocs(s)))
  // (empty frames only carry schema — the layout knob is irrelevant there)

  /** Deduplicate a batch against the persisted index: for every batch doc,
    * `dup_of` = the minimum-id partner with exact 3-gram Jaccard ≥ 0.5
    * among (a) all indexed corpus docs and (b) smaller-id docs of the same
    * batch (the batch-internal half — a batch must also dedup against
    * itself before its rows join the index). `jac` is that partner's
    * similarity; both null when the doc is genuinely new.
    *
    * Cost shape: one narrow feature pass over the BATCH, a candidate join
    * against only the index partitions the batch's ~4·|batch| band keys
    * touch, and a verify join fetching only candidate partners' shingle
    * sets. Nothing scans the corpus. The two driver-side collects are
    * partition VALUES (bounded by the dir counts, ≤16 each here), not
    * data. */
  def dedupAgainst(s: SparkSession, idxDir: String, featDir: String,
      batch: DataFrame): DataFrame = {
    ArrayExprs.register(s)
    val feat = Dedup.lshFeatures(batch).localCheckpoint()
    // batch-volume-scoped confs for the probe body (the r16 verdict's
    // q106 item — the streaming loop's batches already run under the
    // caller's scope, where the nested call keeps the outer pin): the
    // count is over the checkpointed blocks (cheap), and the lookup's
    // tiny fixed stages pay AQE re-planning without profit at any batch
    // size the bounded-probe design admits
    StoreMaint.withBatchConfs(s,
      StoreMaint.batchPartitions(s, feat.count())) {
      dedupAgainstFeat(s, idxDir, featDir, feat)
    }
  }

  /** [[dedupAgainst]] over a PRECOMPUTED feature frame — the streaming
    * ingest loop computes features once and feeds both this lookup and the
    * subsequent [[append]] (the minhash pass is the expensive step). */
  private[graft] def dedupAgainstFeat(s: SparkSession, idxDir: String,
      featDir: String, bfeat: DataFrame): DataFrame = {
    ArrayExprs.register(s)
    val bands = bfeat
      .select(col("doc_id"), col("ns"),
        explode(Dedup.md5BandKeys(col("msig"))).as("band"))
      .select(col("band.band_id").as("band_id"),
        col("band.band_key").as("band_key"), col("doc_id"), col("ns"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try dedupAgainstBands(s, idxDir, featDir, bfeat, bands)
    finally {
      // the result is materialized (localCheckpoint below) before we get
      // here, so dropping the shared intermediates is safe — without this
      // the q108/q114 continuous-ingest loop leaks one cache entry per
      // micro-batch for the session lifetime
      bands.unpersist(blocking = false)
      ()
    }
  }

  private def dedupAgainstBands(s: SparkSession, idxDir: String,
      featDir: String, bfeat: DataFrame, bands: DataFrame): DataFrame = {
    val lay = layoutOf(s, idxDir)
    // ---- corpus half: candidate join through the pruned band index ----
    val pfxs = bands
      .select(concat(lit("h"), substring(col("band_key"), 1, lay.pfxLen)).as("p"))
      .distinct().collect().map(_.getString(0)).toSeq
    val idx = readPruned(s, idxDir, "pfx", pfxs, () => emptyIndex(s))
      .select(col("band_id"), col("band_key"),
        col("doc_id").as("c_id"), col("ns").as("c_ns"))
    // size bound is lossless at t=0.5 (3·inter ≥ ns+c_ns ⇒ 2·min ≥ max)
    // and prunes before the pair-dedup shuffle, like lshVerifiedPairs;
    // tombstoned docs stop being partners immediately (physical purge
    // waits for compact)
    val dead = deadIds(s, idxDir).withColumnRenamed("doc_id", "c_id")
    val cand = bands.join(idx, Seq("band_id", "band_key"))
      .filter(col("c_id") =!= col("doc_id") &&
        least(col("ns"), col("c_ns")) * 2 >= greatest(col("ns"), col("c_ns")))
      .select(col("doc_id"), col("ns"), col("c_id"), col("c_ns"))
      .dropDuplicates("doc_id", "c_id")
      .join(dead, Seq("c_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dpfxs = cand.select(pmod(col("c_id"), lit(lay.docPfxMod)).as("p"))
      .distinct().collect().map(_.getLong(0).toString).toSeq
    // doc_id → sh is functional, so deduplicating by id makes the verify
    // tolerant of duplicate store rows (a crashed ingest's re-appended
    // batch — see ingestBatch); the band-index side is already deduped by
    // (doc, partner) above
    val cfeat = readPruned(s, featDir, "dpfx", dpfxs, () => emptyFeat(s))
      .select(col("doc_id").as("c_id"), col("sh").as("c_sh"))
      .dropDuplicates("c_id")
    val bsh = bfeat.select(col("doc_id"), col("sh"))
    val inter = call_function("graft_intersect_size", col("sh"), col("c_sh"))
    val corpusMatches = cand
      .join(bsh, Seq("doc_id"))
      .join(cfeat, Seq("c_id"))
      .filter(inter * 3 >= col("ns") + col("c_ns"))
      .withColumn("i", inter.cast("double"))
      .select(col("doc_id"), col("c_id").as("partner"),
        round(col("i") / (col("ns") + col("c_ns") - col("i")), 6).as("jac"))

    // ---- batch-internal half: smaller-id partners within the batch ----
    val right = bands.select(col("band_id"), col("band_key"),
      col("doc_id").as("c_id"), col("ns").as("c_ns"))
    val icand = bands.join(right, Seq("band_id", "band_key"))
      .filter(col("c_id") < col("doc_id") &&
        least(col("ns"), col("c_ns")) * 2 >= greatest(col("ns"), col("c_ns")))
      .select(col("doc_id"), col("ns"), col("c_id"), col("c_ns"))
      .dropDuplicates("doc_id", "c_id")
    val csh = bfeat.select(col("doc_id").as("c_id"), col("sh").as("c_sh"))
    val batchMatches = icand
      .join(bsh, Seq("doc_id"))
      .join(csh, Seq("c_id"))
      .filter(inter * 3 >= col("ns") + col("c_ns"))
      .withColumn("i", inter.cast("double"))
      .select(col("doc_id"), col("c_id").as("partner"),
        round(col("i") / (col("ns") + col("c_ns") - col("i")), 6).as("jac"))

    val matches = corpusMatches.unionAll(batchMatches)
    // min-partner pick as ONE aggregation: (doc_id, partner) is unique
    // (each half dedups by the pair and the partner id spaces are
    // disjoint), so min(struct(partner, jac)) IS the min-partner row —
    // the former groupBy-then-self-join paid a second shuffle + join for
    // the same answer (guide §2.4; r17)
    val best = matches
      .groupBy(col("doc_id"))
      .agg(min(struct(col("partner"), col("jac"))).as("b"))
      .select(col("doc_id"), col("b.partner").as("dup_of"),
        col("b.jac").as("jac"))
    // eager materialization (batch-sized): lets the caller's finally block
    // unpersist the shared intermediates without a recompute window
    val out = bfeat.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("jac"))
      .localCheckpoint()
    cand.unpersist(blocking = false)
    out
  }

  // ---- q106: the incremental-ingest query over the persisted store ------

  /** Per-dataset-dir store cache: the q106 entry builds the corpus index
    * once into a JVM-unique temp dir and both Verify/Bench passes (and the
    * steady-state bench pass) reuse it — exactly how a deployment uses the
    * index: build once, look up per ingest. Keyed by dataset dir only
    * (the store content is a pure function of the input parquet). */
  private val stores = scala.collection.mutable.Map.empty[String, (String, String)]

  private[dedup] def storeFor(s: SparkSession, d: String): (String, String) =
    synchronized {
      stores.getOrElseUpdate(d, {
        ArrayExprs.register(s)
        val root = Files.createTempDirectory("graft-lshindex").toString
        val corpus = Tables.documents(s, d)
          .filter(col("doc_id") % 10 =!= 9)
          .select(col("doc_id"), col("text"))
        write(Dedup.lshFeatures(corpus), s"$root/idx", s"$root/feat")
        (s"$root/idx", s"$root/feat")
      })
    }

  /** Drop the per-dir store cache (cold-run probes; temp dirs are left for
    * JVM-exit cleanup, only the pointer is dropped so the next call
    * rebuilds). */
  def clearCaches(): Unit = synchronized { stores.clear(); delStores.clear() }

  /** q106: incremental ingest dedup — every 10th document (doc_id % 10 = 9)
    * arrives as a new batch against an index built over the other 90%.
    * Verdicts: `dup_corpus` (matches an indexed doc), `dup_batch` (matches
    * an earlier doc of the same batch), `new`. The oracle rebuilds the
    * identical md5-LSH pipeline over the FULL corpus and restricts the
    * verified pair set to (batch ← corpus) ∪ (batch ← earlier batch) —
    * equal by construction because band keys and the verify predicate are
    * symmetric, so the driver's hash check covers the index build, the
    * pruned candidate join, and the verify join end-to-end. */
  val q106DedupIncremental: Q = Q(
    "q106_dedup_incremental",
    "WITH " + Dedup.lshPairCtes("documents") + """,
matches AS (
  SELECT doc_b AS doc_id, doc_a AS partner, jac FROM pairs WHERE doc_b % 10 = 9
  UNION ALL
  SELECT doc_a, doc_b, jac FROM pairs WHERE doc_a % 10 = 9 AND doc_b % 10 <> 9),
best AS (
  SELECT m.doc_id, m.partner AS dup_of, m.jac
  FROM (SELECT doc_id, MIN(partner) AS p FROM matches GROUP BY doc_id) b
  JOIN matches m ON m.doc_id = b.doc_id AND m.partner = b.p)
SELECT d.doc_id, best.dup_of, best.jac,
  CASE WHEN best.dup_of IS NULL THEN 'new'
       WHEN best.dup_of % 10 = 9 THEN 'dup_batch'
       ELSE 'dup_corpus' END AS verdict
FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
WHERE d.doc_id % 10 = 9
ORDER BY d.doc_id""",
  ) { (s, d) =>
    val (idxDir, featDir) = storeFor(s, d)
    val batch = Tables.documents(s, d)
      .filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), col("text"))
    dedupAgainst(s, idxDir, featDir, batch)
      .withColumn("verdict",
        when(col("dup_of").isNull, lit("new"))
          .when(col("dup_of") % 10 === 9, lit("dup_batch"))
          .otherwise(lit("dup_corpus")))
      .orderBy(col("doc_id"))
  }

  // ---- q119: tombstone retraction under the exact oracle ------------------

  private val delStores =
    scala.collection.mutable.Map.empty[String, (String, String)]

  private def deletedStoreFor(s: SparkSession, d: String): (String, String) =
    synchronized {
      delStores.getOrElseUpdate(d, {
        ArrayExprs.register(s)
        val root = Files.createTempDirectory("graft-lshindex-del").toString
        val corpus = Tables.documents(s, d)
          .filter(col("doc_id") % 10 =!= 9)
          .select(col("doc_id"), col("text"))
        write(Dedup.lshFeatures(corpus), s"$root/idx", s"$root/feat")
        delete(s, s"$root/idx", s"$root/feat",
          Tables.documents(s, d).select(col("doc_id"))
            .filter(col("doc_id") % 10 =!= 9 && col("doc_id") % 4 === 1),
          "del1")
        (s"$root/idx", s"$root/feat")
      })
    }

  /** q119: q106's incremental-ingest dedup AFTER a retraction — every
    * indexed doc with `doc_id % 4 = 1` is tombstone-deleted (takedowns /
    * re-crawls), then the same batch dedups against the store. Oracle =
    * q106's SQL with those docs excluded from the corpus-side partner
    * set (batch-internal partners unaffected), i.e. the verdicts a
    * rebuild-without-them would produce — so the hash check proves a
    * deleted doc stops matching AND nothing else shifts (minimum-partner
    * selection re-resolves to the next-best live partner). */
  val q119DedupDelete: Q = Q(
    "q119_dedup_delete",
    "WITH " + Dedup.lshPairCtes("documents") + """,
matches AS (
  SELECT doc_b AS doc_id, doc_a AS partner, jac FROM pairs
  WHERE doc_b % 10 = 9 AND NOT (doc_a % 10 <> 9 AND doc_a % 4 = 1)
  UNION ALL
  SELECT doc_a, doc_b, jac FROM pairs
  WHERE doc_a % 10 = 9 AND doc_b % 10 <> 9 AND doc_b % 4 <> 1),
best AS (
  SELECT m.doc_id, m.partner AS dup_of, m.jac
  FROM (SELECT doc_id, MIN(partner) AS p FROM matches GROUP BY doc_id) b
  JOIN matches m ON m.doc_id = b.doc_id AND m.partner = b.p)
SELECT d.doc_id, best.dup_of, best.jac,
  CASE WHEN best.dup_of IS NULL THEN 'new'
       WHEN best.dup_of % 10 = 9 THEN 'dup_batch'
       ELSE 'dup_corpus' END AS verdict
FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
WHERE d.doc_id % 10 = 9
ORDER BY d.doc_id""",
  ) { (s, d) =>
    val (idxDir, featDir) = deletedStoreFor(s, d)
    val batch = Tables.documents(s, d)
      .filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), col("text"))
    dedupAgainst(s, idxDir, featDir, batch)
      .withColumn("verdict",
        when(col("dup_of").isNull, lit("new"))
          .when(col("dup_of") % 10 === 9, lit("dup_batch"))
          .otherwise(lit("dup_corpus")))
      .orderBy(col("doc_id"))
  }

  // ---- q108: continuous ingest — the streaming form of q106 --------------

  /** One q108 ingest micro-batch, run exactly-once by
    * [[graft.sources.StoreMaint.applyOnce]]: the lookup runs against the
    * store state BEFORE the batch, then the batch's features append. A
    * crash after the append, before the marker, re-appends the batch's
    * index rows on replay, which [[dedupAgainstFeat]] tolerates:
    * candidates and matches are deduplicated by (doc, partner), so
    * duplicate store rows change nothing downstream (LshIndexSpec pins
    * replay ≡ once). The store reads are path-pruned and don't shuffle. */
  private[graft] def ingestBatch(s: SparkSession, root: String,
      df: DataFrame, id: Long, rowCap: Long = 4096L): Unit =
    StoreMaint.applyOnce(s, root, id, StoreMaint.batchPartitions(s, rowCap)) {
      // one feature pass feeds BOTH the lookup and the index append
      val feat = Dedup.lshFeatures(df).localCheckpoint()
      dedupAgainstFeat(s, s"$root/idx", s"$root/feat", feat)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/out/batch=$id")
      append(feat, s"$root/idx", s"$root/feat")
    }

  /** q108: CONTINUOUS dedup ingest — documents arrive over the
    * graft-shards stream (deterministic `doc_id mod numShards` routing,
    * [[graft.sources.GraftShards.documentsShards]]), and every rate-limited
    * micro-batch (1) dedups against the persisted index — which starts
    * EMPTY — via [[dedupAgainstFeat]], then (2) appends its own features to
    * the index, so later batches dedup against everything that has ever
    * streamed. This is the deployment loop of a continuously-fed training
    * corpus: nothing ever rescans history; per-trigger work is O(batch)
    * against the pruned store partitions.
    *
    * EXACT oracle for a streaming pipeline: the explicit shard rule plus
    * the per-shard rate limit make batch membership pure SQL
    * ([[StoreMaint.batchedCte]]), so the oracle rebuilds the same md5-LSH
    * verified pairs ([[Dedup.lshPairCtes]]) and restricts each doc's
    * partner set to earlier batches or smaller-id same-batch docs. Batch ids, dup links, similarities AND
    * the dup_batch/dup_corpus split are all under the driver's hash
    * check; a duplicated or lost micro-batch, a wrong rate-limit cut, or
    * an index append that leaked into its own batch's lookup would all
    * hash-fail. */
  val q108DedupStreamIngest: Q = Q(
    "q108_dedup_stream_ingest",
    "WITH " + Dedup.lshPairCtes("documents") + s""",
${StoreMaint.batchedCte("documents", "doc_id")},
matches AS (
  SELECT pb.doc_id, pa.doc_id AS partner, p.jac
  FROM pairs p JOIN batched pa ON pa.doc_id = p.doc_a
               JOIN batched pb ON pb.doc_id = p.doc_b
  WHERE pa.batch <= pb.batch
  UNION ALL
  SELECT pa.doc_id, pb.doc_id, p.jac
  FROM pairs p JOIN batched pa ON pa.doc_id = p.doc_a
               JOIN batched pb ON pb.doc_id = p.doc_b
  WHERE pb.batch < pa.batch),
best AS (
  SELECT m.doc_id, m.partner AS dup_of, m.jac
  FROM (SELECT doc_id, MIN(partner) AS p FROM matches GROUP BY doc_id) b
  JOIN matches m ON m.doc_id = b.doc_id AND m.partner = b.p)
SELECT d.doc_id, bt.batch, best.dup_of, best.jac,
  CASE WHEN best.dup_of IS NULL THEN 'new'
       WHEN pb.batch = bt.batch THEN 'dup_batch'
       ELSE 'dup_corpus' END AS verdict
FROM documents d
JOIN batched bt ON bt.doc_id = d.doc_id
LEFT JOIN best ON best.doc_id = d.doc_id
LEFT JOIN batched pb ON pb.doc_id = best.dup_of
ORDER BY d.doc_id""",
  ) { (s, d) =>
    ArrayExprs.register(s)
    val (docs, rowCap) = StoreMaint.shardStream(s,
      GraftShards.documentsShards(s, d), GraftShards.DocWire)
    val root = Files.createTempDirectory("graft-lsh-ingest").toString
    val out = StoreMaint.run(s, docs, root)(ingestBatch(s, root, _, _, rowCap))
    val partnerBatch = out
      .select(col("doc_id").as("dup_of"), col("batch").as("pb"))
    out.join(partnerBatch, Seq("dup_of"), "left")
      .withColumn("verdict",
        when(col("dup_of").isNull, lit("new"))
          .when(col("pb") === col("batch"), lit("dup_batch"))
          .otherwise(lit("dup_corpus")))
      .select(col("doc_id"), col("batch"), col("dup_of"), col("jac"),
        col("verdict"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[Q] =
    Seq(q106DedupIncremental, q108DedupStreamIngest, q119DedupDelete)
}
