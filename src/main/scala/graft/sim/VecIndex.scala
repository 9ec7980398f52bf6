package graft.sim

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.ArrayExprs
import graft.sources.{GraftShards, Lease, StoreMaint}

/** Persisted IVF vector index: the incremental-ingest form of the q53/q44
  * similarity machinery, sibling of [[graft.dedup.LshIndex]]. A 100 TB
  * corpus is embedded and indexed ONCE; every ANN query after that must
  * touch O(probed cells) of the corpus, and every ingest batch must join
  * the index without re-reading it. Two on-disk pieces:
  *
  *  - the **quantizer** `(cid, c, cn2)` — the index's CONTRACT, persisted
  *    at build time. Append-time assignment reuses it verbatim (never
  *    recomputed: a re-derived quantizer would silently re-cell the
  *    existing postings and break every subsequent probe);
  *  - the **postings** `(vec_id, label, v, n2)` partitioned by `cell` —
  *    a query reads ONLY the partition dirs its probe cells name.
  *
  * Postings reads go through [[graft.dedup.LshIndex.readPruned]]'s
  * explicit-path discipline, so listing and I/O are proportional to probed
  * cells (`inputFiles`-proven in VecIndexSpec), and ingest is a plain
  * parquet append into the same layout (append ≡ rebuild is spec-pinned).
  * At cluster scale `numCells` grows with the corpus (the q44 knob rule,
  * per-cell postings stay bounded) and quantizer delivery flips from plan
  * literals to a broadcast row past [[Similarity.LiteralCellLimit]] —
  * same assignments, [[Similarity.withProbeCells]]'s documented contract.
  *
  * The quantizer is the SEED form (deterministic, SQL-mirrorable), so
  * q107's whole store path — build, persisted-quantizer probe, pruned
  * candidate join, exact-cosine re-rank — sits under an exact DuckDB
  * oracle, unlike the Lloyd-trained q53 (rows-only by design).
  *
  * Reference tie-in: the reference has no vector surface (SURVEY.md §2.b
  * north-star); this is the similarity-search scale path the mandate adds.
  */
object VecIndex {

  val K = 5
  val NumProbe = 2
  private val NumQueries = 8

  private def asDouble(c: org.apache.spark.sql.Column) =
    transform(c, x => x.cast("double"))

  /** (vec_id, label, v, n2) working form of the embeddings table. Extra
    * columns beyond the wire contract (per-vector metadata an evolving
    * caller added) ride along — the store's add-only evolution surface. */
  private def working(e: DataFrame): DataFrame = {
    val extras = e.columns
      .filterNot(Set("vec_id", "label", "embedding", "v", "n2"))
    e.select((Seq(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v")) ++ extras.map(col)): _*)
      .withColumn("n2", graft.dedup.Dedup.sqNorm(col("v")))
  }

  /** Build the store: persist the seed quantizer, then the cell-partitioned
    * postings. `e` is the raw embeddings frame (vec_id, label, embedding). */
  def write(e: DataFrame, dir: String, numCells: Int): Unit = {
    writeQuantizer(e, dir, numCells)
    append(e, dir, SaveMode.Overwrite)
  }

  /** Persist ONLY the quantizer — the offline-training half of a streamed
    * deployment (q114): the quantizer is derived once from a training
    * corpus, then postings arrive incrementally. */
  def writeQuantizer(e: DataFrame, dir: String, numCells: Int): Unit =
    Lease.withLease(e.sparkSession, dir, "vecindex-quantizer") {
      val plain = working(e).select(col("vec_id"), col("v"))
      // the quantizer parquet IS the contract — derived once, here only
      Similarity.centroidRow(plain, numCells)
        .select(posexplode(col("__cents")).as(Seq("pos", "c")),
          col("__cn2s").as("n2s"))
        .select((col("pos")).cast("int").as("cid"), col("c"),
          element_at(col("n2s"), col("pos") + 1).as("cn2"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/quantizer")
    }

  /** Assign cells with the PERSISTED quantizer and add a batch's postings
    * to the layout — the ingest path (and, with Overwrite, the build's own
    * data pass: one code path, so append ≡ rebuild by construction). */
  def append(e: DataFrame, dir: String,
      mode: SaveMode = SaveMode.Append): Unit =
    appendWorking(working(e), dir, mode)

  /** [[append]] over the working form (vec_id, label, v, n2) — the
    * streaming ingest loop arrives already double-typed (wire contract:
    * GraftShards.embeddingsShards). Runs in the enforced single-writer
    * slot ([[Lease]]); idempotent under replay because [[topK]]'s reads
    * deduplicate by the row's functional key. */
  private def appendWorking(w: DataFrame, dir: String, mode: SaveMode): Unit = {
    val s = w.sparkSession
    Lease.withLease(s, dir, s"vecindex-$mode") {
      val extras = w.columns
        .filterNot(Set("vec_id", "label", "v", "n2", "probe", "cell"))
      val rows = withStoreProbeCells(s, dir, Tables.fanOut(w), 1,
          col("v"), "probe")
        .withColumn("cell", element_at(col("probe"), 1).cast("int"))
        .select((Seq(col("vec_id"), col("label"), col("v"), col("n2"),
          col("cell")) ++ extras.map(col)): _*)
      // append: evolve the recorded postings schema BEFORE data lands
      // (recorded ⊇ files); a rebuild re-records after its Overwrite
      // cleared the dir (StoreMaint.evolveSchema's add-only contract)
      if (mode == SaveMode.Append)
        StoreMaint.evolveSchema(s, s"$dir/postings", rows.schema)
      rows.repartition(col("cell"))
        .write.mode(mode).partitionBy("cell").parquet(s"$dir/postings")
      if (mode != SaveMode.Append)
        StoreMaint.evolveSchema(s, s"$dir/postings", rows.schema, reset = true)
    }
  }

  // ---- tombstone deletes + compaction -------------------------------------

  /** Modulus of the tombstone partition key over vec_id. */
  private val TombMod = 16L

  /** The live tombstone set as a one-column (`vec_id`) frame. */
  private def deadIds(s: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    if (!StoreMaint.fsFor(s, p).exists(p))
      s.range(0).select(col("id").as("vec_id"))
    else s.read.option("basePath", s"$dir/tombstones")
      .parquet(s"$dir/tombstones").select(col("vec_id")).distinct()
  }

  /** Retract vectors from the index: tombstones consulted by [[topK]]
    * (a deleted vector stops being a neighbor immediately), physically
    * purged by [[compact]]. Idempotent — reads deduplicate by id. */
  def delete(s: SparkSession, dir: String, ids: DataFrame,
      src: String): Unit =
    Lease.withLease(s, dir, s"vecindex-delete-$src") {
      StoreMaint.writeTombstones(ids, s"$dir/tombstones", "vec_id", src,
        TombMod)
    }

  /** Collapse per-append file growth to one file per cell dir and
    * physically purge tombstoned vectors; the quantizer (the contract) is
    * never touched. Reader-safe mid-swap via the duplicate-tolerant reads
    * ([[StoreMaint.compactPartitioned]]). */
  def compact(s: SparkSession, dir: String): Unit =
    Lease.withLease(s, dir, "vecindex-compact") {
      val dead = deadIds(s, dir)
      StoreMaint.compactPartitioned(s, s"$dir/postings", "cell",
        df => df.dropDuplicates("vec_id")
          .join(dead, Seq("vec_id"), "left_anti"))
      val t = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
      StoreMaint.fsFor(s, t).delete(t, true)
      ()
    }

  /** Schema-bearing empty postings frame: what [[topK]] reads when the
    * store has no postings yet (first batch of a streaming ingest). */
  private def emptyPostings(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("vec_id"),
      lit(0).cast("int").as("label"),
      typedLit(Seq.empty[Double]).as("v"),
      lit(0.0).as("n2"), lit(0).cast("int").as("cell"))

  /** Attach each row's `nprobe` probe cells from the PERSISTED quantizer,
    * scale-switched like [[Similarity.withProbeCells]]: a small quantizer
    * ships as plan literals (one tiny driver collect); a large one rides a
    * broadcast single-row join straight off its parquet — no driver
    * materialization of the centroid matrix at all. */
  /** Collected small-quantizer LUT per (dir, file identity) — the
    * quantizer is an immutable store CONTRACT (trained offline, never
    * touched by append/compact), yet every probe used to pay its
    * count+collect as two fresh Spark jobs; the identity key (file
    * names/lengths/mtimes, one fs listing) invalidates on any rebuild
    * (r17 — guide §1.2 don't recompute what can't have changed). */
  private val quantizerCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Seq[Seq[Double]], Seq[Double])]()

  private def quantizerIdentity(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/quantizer")
    StoreMaint.fsFor(s, p).listStatus(p).filter(_.isFile)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
  }

  private[graft] def withStoreProbeCells(s: SparkSession, dir: String, df: DataFrame,
      nprobe: Int, v: org.apache.spark.sql.Column, out: String,
      literalLimit: Int = Similarity.LiteralCellLimit): DataFrame = {
    ArrayExprs.register(s)
    val key = s"$dir|$literalLimit|${quantizerIdentity(s, dir)}"
    val hit = quantizerCache.get(key)
    if (hit != null) {
      val (cents, cn2s) = hit
      return df.withColumn(out, Similarity.probeCells(cents, cn2s, nprobe)(v))
    }
    val q = s.read.parquet(s"$dir/quantizer")
    val n = q.count()
    if (n <= literalLimit) {
      val rows = q.orderBy(col("cid")).collect()
      val cents: Seq[Seq[Double]] =
        rows.map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
      val cn2s: Seq[Double] = rows.map(_.getDouble(2)).toIndexedSeq
      if (quantizerCache.size() > 64) quantizerCache.clear()
      quantizerCache.put(key, (cents, cn2s))
      df.withColumn(out, Similarity.probeCells(cents, cn2s, nprobe)(v))
    } else {
      val row = q.agg(
        array_sort(collect_list(struct(col("cid"), col("c"), col("cn2")))).as("p"))
        .select(transform(col("p"), x => x.getField("c")).as("__cents"),
          transform(col("p"), x => x.getField("cn2")).as("__cn2s"))
      df.crossJoin(broadcast(row))
        .withColumn(out,
          Similarity.probeCellsCol(col("__cents"), col("__cn2s"), nprobe)(v))
        .drop("__cents", "__cn2s")
    }
  }

  /** ANN top-k against the store: probe cells from the persisted quantizer,
    * read ONLY those postings partitions, exact-cosine re-rank. `queries`
    * is (query_id, qv) — a bounded batch (the q50 shape); its distinct
    * probe cells drive the pruned read, a driver-side collect bounded by
    * the CELL COUNT, never the corpus.
    *
    * `where` is the FILTERED-search form (q122): a metadata predicate over
    * the postings columns, applied to the pruned scan itself — Catalyst
    * pushes it into the parquet read (PushedFilters, pinned in
    * VecIndexSpec), so non-matching postings are skipped at the source and
    * never materialize as candidates. Top-k then ranks WITHIN the
    * predicate (vacated ranks re-fill), the pre-filtered semantics real
    * vector stores document — not a post-filter of the unfiltered top-k,
    * which could return fewer than k survivors. */
  def topK(s: SparkSession, dir: String, queries: DataFrame,
      nprobe: Int = NumProbe, k: Int = K,
      where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val probed = withStoreProbeCells(s, dir,
        queries.withColumn("qn2", graft.dedup.Dedup.sqNorm(col("qv"))),
        nprobe, col("qv"), "probe")
      .select(col("query_id"), col("qv"), col("qn2"),
        explode(col("probe")).as("cell0"))
      .select(col("query_id"), col("qv"), col("qn2"),
        col("cell0").cast("int").as("cell"))
      .localCheckpoint()
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0).toString).toSeq
    val posts0 = graft.dedup.LshIndex.readPruned(s, s"$dir/postings", "cell",
        cells, () => emptyPostings(s))
    val posts = where.fold(posts0)(posts0.filter)
      .select(col("cell").cast("int").as("cell"), col("vec_id"),
        col("label"), col("v"), col("n2"))
      // tombstoned vectors stop being neighbors immediately (physical
      // purge waits for compact); duplicate store rows — crash replays,
      // in-flight compaction — collapse via the (query, neighbor) dedup
      // below, vec_id → row being functional
      .join(deadIds(s, dir), Seq("vec_id"), "left_anti")
    val cos = round(graft.dedup.Dedup.cosineFromDot(
      call_function("graft_dot", col("qv"), col("v")),
      col("qn2"), col("n2")), 6)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probed.join(posts,
        probed("cell") === posts("cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
        cos.as("cos"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  // ---- q107: the exact-oracle query over the persisted store --------------

  /** Per-dataset-dir store cache (the [[graft.dedup.LshIndex.storeFor]]
    * discipline): built once per JVM, reused by every Verify/Bench pass —
    * build once, probe per query batch, exactly how a deployment uses it. */
  private val stores = scala.collection.mutable.Map.empty[String, String]

  private[sim] def storeFor(s: SparkSession, d: String): String =
    synchronized {
      stores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-vecindex").toString
        write(Tables.embeddings(s, d), dir, Similarity.NumCells)
        dir
      })
    }

  /** Drop the store-pointer cache (cold-run probes; dirs are left for
    * JVM-exit cleanup). */
  def clearCaches(): Unit = synchronized {
    stores.clear(); delStores.clear(); quantizerCache.clear()
  }

  /** q107: ANN top-k through the PERSISTED index — build (quantizer +
    * cell-partitioned postings), persisted-quantizer probing, pruned
    * candidate read, exact-cosine re-rank, all under one exact oracle: the
    * DuckDB side rebuilds the seed quantizer from the same table
    * (list_reduce folds ≡ graft_dot bit-for-bit, ROW_NUMBER over
    * (score, cid) ≡ the sorted-struct probe slice — the q44 recipe), so a
    * store that mis-assigned, mis-pruned, or lost a posting hash-fails. */
  val q107AnnIndex: Q = Q(
    "q107_ann_index",
    s"""WITH e AS (SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cid, v AS c,
       |    list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*v[i]),
       |                (a, b) -> a + b) AS cn2
       |  FROM e WHERE vec_id < ${Similarity.NumCells}),
       |sc AS (
       |  SELECT e.vec_id, c.cid,
       |    c.cn2 - 2 * list_reduce(
       |      list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.c[i]),
       |      (a, b) -> a + b) AS s
       |  FROM e, cents c),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM sc) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM sc WHERE vec_id < $NumQueries) WHERE rn <= $NumProbe),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a
       |    ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT c.query_id, c.neighbor_id, n.label,
       |    ROUND(list_cosine_similarity(q.v, n.v), 6) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY c.query_id
       |      ORDER BY ROUND(list_cosine_similarity(q.v, n.v), 6) DESC,
       |               c.neighbor_id) AS rank
       |  FROM cand c
       |  JOIN e q ON q.vec_id = c.query_id
       |  JOIN e n ON n.vec_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, label, cos, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
  ) { (s, d) =>
    val dir = storeFor(s, d)
    val queries = working(Tables.embeddings(s, d))
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    topK(s, dir, queries).orderBy(col("query_id"), col("rank"))
  }

  // ---- q122: filtered ANN (predicate pushed into the postings scan) -------

  /** The q122 metadata predicate's bound (labels are 0-9 uniform, so half
    * the candidates are filtered — non-vacuous at every SF). Declared
    * before the Q val: object init order would otherwise interpolate 0. */
  private val FilterLabelMax = 4

  /** q122: ANN top-k WITHIN a metadata predicate (`label <= 4`) — the
    * filtered-search form every production vector store exposes (and the
    * training-data shape: "nearest neighbors among documents of source X").
    * The predicate rides [[topK]]'s `where` hook into the pruned postings
    * scan as a parquet PushedFilter, so at 100 TB the non-matching half of
    * every probed cell is skipped by row-group stats instead of surfacing
    * as candidates; ranks then re-fill within the predicate. Oracle =
    * q107's SQL with the same restriction before the rank window, so
    * filter-then-rank (vs rank-then-filter) semantics are under the hash
    * check. */
  val q122AnnFiltered: Q = Q(
    "q122_ann_filtered",
    s"""WITH e AS (SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cid, v AS c,
       |    list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*v[i]),
       |                (a, b) -> a + b) AS cn2
       |  FROM e WHERE vec_id < ${Similarity.NumCells}),
       |sc AS (
       |  SELECT e.vec_id, c.cid,
       |    c.cn2 - 2 * list_reduce(
       |      list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.c[i]),
       |      (a, b) -> a + b) AS s
       |  FROM e, cents c),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM sc) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM sc WHERE vec_id < $NumQueries) WHERE rn <= $NumProbe),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a
       |    ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT c.query_id, c.neighbor_id, n.label,
       |    ROUND(list_cosine_similarity(q.v, n.v), 6) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY c.query_id
       |      ORDER BY ROUND(list_cosine_similarity(q.v, n.v), 6) DESC,
       |               c.neighbor_id) AS rank
       |  FROM cand c
       |  JOIN e q ON q.vec_id = c.query_id
       |  JOIN e n ON n.vec_id = c.neighbor_id
       |  WHERE n.label <= $FilterLabelMax)
       |SELECT query_id, neighbor_id, label, cos, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
  ) { (s, d) =>
    val dir = storeFor(s, d)
    val queries = working(Tables.embeddings(s, d))
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    topK(s, dir, queries,
        where = Some(col("label") <= FilterLabelMax))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---- q120: tombstone retraction under the exact oracle ------------------

  private val delStores = scala.collection.mutable.Map.empty[String, String]

  private def deletedStoreFor(s: SparkSession, d: String): String =
    synchronized {
      delStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-vecindex-del").toString
        write(Tables.embeddings(s, d), dir, Similarity.NumCells)
        delete(s, dir,
          Tables.embeddings(s, d).select(col("vec_id"))
            .filter(col("vec_id") % 5 === 2), "del1")
        dir
      })
    }

  /** q120: q107's ANN top-k AFTER a retraction — every `vec_id % 5 = 2`
    * vector is tombstone-deleted from the store, then the same query batch
    * probes it. Oracle = q107's SQL with those vectors excluded from the
    * candidate set, i.e. what a rebuild-without-them would rank — so the
    * hash check proves a deleted vector stops being a neighbor AND the
    * vacated rank positions re-fill with the next-best live candidates. */
  val q120AnnDelete: Q = Q(
    "q120_ann_delete",
    s"""WITH e AS (SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cid, v AS c,
       |    list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*v[i]),
       |                (a, b) -> a + b) AS cn2
       |  FROM e WHERE vec_id < ${Similarity.NumCells}),
       |sc AS (
       |  SELECT e.vec_id, c.cid,
       |    c.cn2 - 2 * list_reduce(
       |      list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.c[i]),
       |      (a, b) -> a + b) AS s
       |  FROM e, cents c),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM sc) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM sc WHERE vec_id < $NumQueries) WHERE rn <= $NumProbe),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a
       |    ON a.cell = p.cell AND a.vec_id <> p.query_id
       |  WHERE a.vec_id % 5 <> 2),
       |ranked AS (
       |  SELECT c.query_id, c.neighbor_id, n.label,
       |    ROUND(list_cosine_similarity(q.v, n.v), 6) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY c.query_id
       |      ORDER BY ROUND(list_cosine_similarity(q.v, n.v), 6) DESC,
       |               c.neighbor_id) AS rank
       |  FROM cand c
       |  JOIN e q ON q.vec_id = c.query_id
       |  JOIN e n ON n.vec_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, label, cos, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
  ) { (s, d) =>
    val dir = deletedStoreFor(s, d)
    val queries = working(Tables.embeddings(s, d))
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    topK(s, dir, queries).orderBy(col("query_id"), col("rank"))
  }

  // ---- q114: continuous embedding ingest (the q108 pattern for vectors) ---

  /** One embedding-ingest micro-batch: (1) top-1 indexed neighbor for
    * every arriving vector — the at-ingest near-dup / link step of a
    * vector pipeline — against the store state BEFORE the batch, then
    * (2) the batch's postings append under the persisted quantizer, run
    * exactly-once by [[graft.sources.StoreMaint.applyOnce]]. `df` arrives
    * in the wire shape [[graft.sources.GraftShards.EmbWire]]. */
  private[graft] def ingestBatch(s: SparkSession, root: String,
      df: DataFrame, id: Long, rowCap: Long = 4096L): Unit =
    StoreMaint.applyOnce(s, root, id, StoreMaint.batchPartitions(s, rowCap)) {
      val w = df.select(col("vec_id"), col("label"), col("v"))
        .withColumn("n2", graft.dedup.Dedup.sqNorm(col("v")))
        .localCheckpoint()
      val hits = topK(s, root,
        w.select(col("vec_id").as("query_id"), col("v").as("qv")), NumProbe, 1)
        .select(col("query_id").as("vec_id"),
          col("neighbor_id").as("nn_id"), col("cos"))
      w.select(col("vec_id"))
        .join(hits, Seq("vec_id"), "left")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/out/batch=$id")
      appendWorking(w, root, SaveMode.Append)
    }

  /** q114: continuous embedding ingest — the quantizer is trained OFFLINE
    * (persisted before the stream starts: the index contract), then
    * vectors arrive over graft-shards in two rate-limited micro-batches;
    * each batch links every vector to its top-1 indexed neighbor (store
    * state = strictly earlier batches) and appends its own postings.
    * EXACT oracle by the q108 recipe: explicit vec_id-mod routing makes
    * batch membership SQL ([[graft.sources.StoreMaint.batchedCte]]),
    * and the candidate set is probes(query) ∩ assigned cells restricted
    * to earlier batches — cell assignment, pruning, ranking and the
    * found/null split are all under the driver's hash check. */
  val q114AnnStreamIngest: Q = Q(
    "q114_ann_stream_ingest",
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cid, v AS c,
       |    list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*v[i]),
       |                (a, b) -> a + b) AS cn2
       |  FROM e WHERE vec_id < ${Similarity.NumCells}),
       |sc AS (
       |  SELECT e.vec_id, c.cid,
       |    c.cn2 - 2 * list_reduce(
       |      list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.c[i]),
       |      (a, b) -> a + b) AS s
       |  FROM e, cents c),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM sc) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
       |    FROM sc) WHERE rn <= $NumProbe),
       |${StoreMaint.batchedCte("e", "vec_id")},
       |cand AS (
       |  SELECT DISTINCT p.vec_id, a.vec_id AS nn
       |  FROM probes p JOIN assign a ON a.cell = p.cell
       |  JOIN batched bq ON bq.vec_id = p.vec_id
       |  JOIN batched bn ON bn.vec_id = a.vec_id
       |  WHERE bn.batch < bq.batch),
       |scored AS (
       |  SELECT c.vec_id, c.nn,
       |    ROUND(list_cosine_similarity(q.v, n.v), 6) AS cos
       |  FROM cand c JOIN e q ON q.vec_id = c.vec_id
       |              JOIN e n ON n.vec_id = c.nn),
       |best AS (
       |  SELECT vec_id, nn, cos FROM (
       |    SELECT vec_id, nn, cos,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY cos DESC, nn) AS rn
       |    FROM scored) WHERE rn = 1)
       |SELECT e.vec_id, b.batch, best.nn AS nn_id, best.cos
       |FROM e JOIN batched b ON b.vec_id = e.vec_id
       |LEFT JOIN best ON best.vec_id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin,
  ) { (s, d) =>
    ArrayExprs.register(s)
    val (vecs, rowCap) = StoreMaint.shardStream(s,
      GraftShards.embeddingsShards(s, d), GraftShards.EmbWire)
    val root = Files.createTempDirectory("graft-vec-ingest").toString
    // the offline-trained quantizer: persisted BEFORE any vector streams
    writeQuantizer(Tables.embeddings(s, d), root, Similarity.NumCells)
    StoreMaint.run(s, vecs, root)(ingestBatch(s, root, _, _, rowCap))
      .select(col("vec_id"), col("batch"), col("nn_id"), col("cos"))
      .orderBy(col("vec_id"))
  }

  val all: Seq[Q] =
    Seq(q107AnnIndex, q114AnnStreamIngest, q120AnnDelete, q122AnnFiltered)
}
