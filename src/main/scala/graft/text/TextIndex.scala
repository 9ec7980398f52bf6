package graft.text

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.sources.{GraftShards, Lease, StoreMaint}
import graft.sources.StoreMaint.Layout

/** Persisted inverted text index — the third member of the persisted-index
  * family ([[graft.dedup.LshIndex]] dedup, [[graft.sim.VecIndex]] vectors):
  * a 100 TB corpus is tokenized ONCE; every search after that reads
  * O(query terms + candidate docs) of the store. On-disk pieces:
  *
  *  - **postings** `(tok, doc_id, tf)`, partitioned by the token's md5 hex
  *    prefix — a query opens only the partitions its own terms hash into
  *    (md5, not first letter: uniform dirs, no hot 's'/'t' partition);
  *  - **doc lengths** `(doc_id, dl)`, partitioned by `doc_id mod` the
  *    layout's `docPfxMod`;
  *  - **stats** `(n, tot)` — the corpus-global counts BM25 needs, as ONE
  *    ROW PER WRITE under `stats/src=<tag>/`: each append/delete
  *    contributes its own idempotently-overwritten increment dir, and the
  *    reader sums them. This replaces round 6's read-modify-write single
  *    row, whose torn-append window silently skewed idf/avgdl;
  *  - **tombstones** `(doc_id, src)` — deleted docs; consulted by
  *    [[search]], physically purged (and stats recomputed) by [[compact]];
  *  - `_layout.json` — the partitioning knobs, pinned at build
  *    ([[StoreMaint.Layout]]): appends/lookups follow the store, not a
  *    compile-time constant.
  *
  * CRASH SAFETY (the round-6 gap): every write is idempotent under replay.
  * Postings/dlen/tombstone rows are functional in their keys
  * (`(doc_id, tok) → tf`, `doc_id → dl`), so reads DEDUPLICATE by key and
  * a re-appended batch changes nothing; each write's stats increment lands
  * in its own `src=<tag>` dir with OVERWRITE, so a replay rewrites rather
  * than double-counts. [[ingestBatch]] adds the applied marker of
  * [[StoreMaint.applyOnce]] on top, making the streaming loop
  * (q117) exactly-once end-to-end. A torn non-replayed write can at worst
  * leave stats ahead/behind the data until the caller retries or
  * [[compact]] recomputes them from the surviving rows.
  *
  * SINGLE WRITER — now enforced, not documented: every mutation runs under
  * the store's [[Lease]]; a second concurrent writer refuses loudly.
  * Readers need no coordination (duplicate-tolerant reads are the
  * compaction concurrency token — [[StoreMaint.compactPartitioned]]).
  *
  * Reads go through [[graft.dedup.LshIndex.readPruned]]'s explicit-path
  * discipline (`inputFiles`-proven in TextIndexSpec); scoring reuses the
  * micro-int BM25 expression of [[TextAnalysis.bm25Weights]] on the STORED
  * tf/df/dl/n/tot — the same integers a corpus pass would produce, so
  * q113 answers q102's query through the index under q102's own exact
  * oracle: same result, different physical path. Reference tie-in: no
  * text surface in the reference (SURVEY.md §2.b north-star).
  */
object TextIndex {

  /** Default hex-prefix length of the postings partition key (16 dirs per
    * char); the build-time knob behind [[StoreMaint.Layout]]. */
  val PfxLen = 1

  /** Default modulus of the doc-length/tombstone partition key. */
  val DocPfxMod = 16L

  private def layoutOf(s: SparkSession, dir: String): Layout =
    StoreMaint.readLayout(s, dir, Layout(PfxLen, DocPfxMod))

  /** Postings rows; columns of `docs` beyond (doc_id, text) are per-doc
    * metadata and ride onto every posting (constant per doc → `first`) —
    * the store's add-only evolution surface. The standard callers pass
    * the two-column projection, so existing plans are untouched. */
  private def postingsRows(docs: DataFrame, lay: Layout): DataFrame = {
    val extras = docs.columns.filterNot(Set("doc_id", "text", "tok", "tf"))
    val aggs = count(lit(1)).as("tf") +:
      extras.map(c => first(col(c)).as(c)).toSeq
    docs.select((Seq(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok")) ++
        extras.map(col)): _*)
      .groupBy(col("doc_id"), col("tok")).agg(aggs.head, aggs.tail: _*)
      .withColumn("pfx",
        concat(lit("h"), substring(md5(col("tok")), 1, lay.pfxLen)))
  }

  private def dlenRows(docs: DataFrame, lay: Layout): DataFrame =
    docs.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
      .withColumn("dpfx", pmod(col("doc_id"), lit(lay.docPfxMod)))

  // ---- stats: summed per-write increments ---------------------------------

  /** One stats increment under `stats/src=<tag>` — OVERWRITE of the tag's
    * own dir, so a replayed write is a rewrite, never a double-count.
    * `covers` is set only by [[compact]]'s consolidated row: the src tags
    * it supersedes (readers ignore covered rows mid-collapse). */
  private def writeStatsRow(s: SparkSession, dir: String, src: String,
      n: Long, tot: Long, covers: Seq[String]): Unit =
    s.range(1).select(lit(n).as("n"), lit(tot).as("tot"),
        (if (covers.isEmpty) lit(null).cast("array<string>")
         else typedLit(covers)).as("covers"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/stats/src=$src")

  /** The corpus-global (n, tot): the sum of live increment rows. A
    * compacted row (src `c<k>`) replaces every tag in its `covers` list;
    * mid-collapse a reader may see both — the covers filter keeps the sum
    * right either way. Driver-side by design: the stats dir is METADATA
    * (one tiny row per write since the last compact), the same bound as
    * the partition-value collects. */
  /** Collected stats per (dir, file identity) — stats change with every
    * append/delete/compact, so the key is the stats dir's own file
    * listing (names/lengths/mtimes, two fs listings): a serving loop's
    * repeated searches between writes stop paying a Spark collect job
    * each (r17). */
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def statsIdentity(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): String =
    fs.listStatus(p).filter(_.isDirectory).flatMap(d0 =>
      fs.listStatus(d0.getPath).filter(_.isFile).map(f =>
        s"${d0.getPath.getName}/${f.getPath.getName}:" +
          s"${f.getLen}:${f.getModificationTime}"))
      .sorted.mkString(",")

  private[graft] def readStats(s: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(s"$dir/stats")
    val fs = StoreMaint.fsFor(s, p)
    if (!fs.exists(p)) return (0L, 0L)
    val key = s"$dir|${statsIdentity(fs, p)}"
    val hit = statsCache.get(key)
    if (hit != null) return hit
    val rows = s.read.option("basePath", s"$dir/stats")
      .parquet(s"$dir/stats")
      .select(col("src"), col("n"), col("tot"), col("covers")).collect()
    val cRows = rows.filter(_.getString(0).startsWith("c"))
    val res = if (cRows.isEmpty) {
      (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
    } else {
      val best = cRows.maxBy(_.getString(0).drop(1).toLong)
      val covered: Set[String] =
        (if (best.isNullAt(3)) Set.empty[String]
         else best.getSeq[String](3).toSet) + best.getString(0)
      val live = rows.filter(r => !covered.contains(r.getString(0)))
      (best.getLong(1) + live.map(_.getLong(1)).sum,
        best.getLong(2) + live.map(_.getLong(2)).sum)
    }
    if (statsCache.size() > 64) statsCache.clear()
    statsCache.put(key, res)
    res
  }

  // ---- build / append / delete / compact ----------------------------------

  /** Create an EMPTY store: pin the layout, nothing else — the streaming
    * ingest's starting point (q117). */
  def create(s: SparkSession, dir: String, pfxLen: Int = PfxLen,
      docPfxMod: Long = DocPfxMod): Unit =
    Lease.withLease(s, dir, "textindex-create") {
      StoreMaint.writeLayout(s, dir, Layout(pfxLen, docPfxMod))
    }

  /** Full build: Overwrite semantics — previous store pieces dropped, the
    * layout pinned from the knobs, the corpus written as increment "base". */
  def write(docs: DataFrame, dir: String, pfxLen: Int = PfxLen,
      docPfxMod: Long = DocPfxMod): Unit = {
    val s = docs.sparkSession
    Lease.withLease(s, dir, "textindex-build") {
      val fs = StoreMaint.fsFor(s, new Path(dir))
      Seq("postings", "dlen", "stats", "tombstones")
        .foreach(sub => fs.delete(new Path(dir, sub), true))
      StoreMaint.writeLayout(s, dir, Layout(pfxLen, docPfxMod))
      appendBody(docs, dir, "base", Layout(pfxLen, docPfxMod))
    }
  }

  /** Incremental append, tagged `src` (unique per logical batch; replays
    * of the SAME batch reuse the tag and converge). Idempotent: see the
    * crash-safety contract in the class doc. */
  def append(docs: DataFrame, dir: String, src: String): Unit = {
    val s = docs.sparkSession
    Lease.withLease(s, dir, s"textindex-append-$src") {
      appendBody(docs, dir, src, layoutOf(s, dir))
    }
  }

  private def appendBody(docs: DataFrame, dir: String, src: String,
      lay: Layout): Unit = {
    require(src.nonEmpty && !src.startsWith("c"),
      s"stats tag '$src' collides with the compaction namespace c<k>")
    val s = docs.sparkSession
    val d = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pRows = postingsRows(d, lay)
      // evolve the recorded schema BEFORE data lands (recorded ⊇ files);
      // a full build's write() cleared the piece dirs, so the first
      // append records fresh (StoreMaint.evolveSchema add-only contract)
      StoreMaint.evolveSchema(s, s"$dir/postings", pRows.schema)
      pRows.repartition(col("pfx"))
        .write.mode(SaveMode.Append).partitionBy("pfx")
        .parquet(s"$dir/postings")
      // the batch's (n, tot) stats ride the dlen WRITE as observed
      // metrics — the former separate agg was a third job per append
      // that re-tokenized every doc (r17; guide §1.2 fewer passes)
      val obs = org.apache.spark.sql.Observation()
      dlenRows(d, lay)
        .observe(obs, count(lit(1)).as("n"), sum(col("dl")).as("tot"))
        .repartition(col("dpfx"))
        .write.mode(SaveMode.Append).partitionBy("dpfx")
        .parquet(s"$dir/dlen")
      val m = obs.get
      writeStatsRow(s, dir, src, m("n").asInstanceOf[Long],
        Option(m("tot")).map(_.asInstanceOf[Long]).getOrElse(0L), Nil)
    } finally d.unpersist(blocking = false)
  }

  /** Tombstone-delete `ids` (a (doc_id) frame), tagged `src`: deleted docs
    * stop matching in [[search]] immediately (anti-join), the stats
    * increment for the docs ACTUALLY removed goes negative, and
    * [[compact]] later purges the rows physically. Idempotent per tag:
    * replaying the same delete rewrites the same tombstones (reads dedupe)
    * and overwrites the same stats dir; docs already tombstoned by an
    * EARLIER tag are excluded so their length is never subtracted twice. */
  def delete(s: SparkSession, dir: String, ids: DataFrame,
      src: String): Unit =
    Lease.withLease(s, dir, s"textindex-delete-$src") {
      require(src.nonEmpty && !src.startsWith("c"),
        s"stats tag '$src' collides with the compaction namespace c<k>")
      val lay = layoutOf(s, dir)
      val idsd = ids.select(col("doc_id")).distinct().localCheckpoint()
      val dpfxs = idsd
        .select(pmod(col("doc_id"), lit(lay.docPfxMod)).as("p"))
        .distinct().collect().map(_.getLong(0).toString).toSeq
      val dl = graft.dedup.LshIndex.readPruned(s, s"$dir/dlen", "dpfx",
          dpfxs, () => emptyDlen(s))
        .select(col("doc_id"), col("dl")).dropDuplicates("doc_id")
        .join(idsd, Seq("doc_id")) // only docs actually in the store count
      val prior = deadIds(s, dir, excludeSrc = src)
      val eff = dl.join(prior, Seq("doc_id"), "left_anti").localCheckpoint()
      // tombstones FIRST: a torn delete errs toward the doc disappearing
      // from results while stats lag (repaired by retry or compact) — the
      // reverse order would keep matching a doc the stats already dropped
      StoreMaint.writeTombstones(eff, s"$dir/tombstones", "doc_id", src,
        lay.docPfxMod)
      val agg = eff.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
        .head()
      writeStatsRow(s, dir, src, -agg.getLong(0),
        if (agg.isNullAt(1)) 0L else -agg.getLong(1), Nil)
    }

  /** The live tombstone set (doc_id), distinct; empty frame when none.
    * O(deletions since the last compact) — tombstones are themselves
    * compacted away once purged. */
  private def deadIds(s: SparkSession, dir: String,
      excludeSrc: String = ""): DataFrame = {
    val p = new Path(s"$dir/tombstones")
    if (!StoreMaint.fsFor(s, p).exists(p)) return emptyTombstones(s)
    val t = s.read.option("basePath", s"$dir/tombstones")
      .parquet(s"$dir/tombstones")
    (if (excludeSrc.isEmpty) t else t.filter(col("src") =!= excludeSrc))
      .select(col("doc_id")).distinct()
  }

  /** Collapse per-append file growth and physically purge tombstoned docs:
    * every postings/dlen partition dir becomes one file of canonical rows,
    * stats are RECOMPUTED from the surviving doc lengths (the rebuild's
    * values — which also repairs any torn-write drift) into a consolidated
    * `c<k>` row covering all prior increments, and the tombstones are
    * dropped last (only after no purged row can resurface). Concurrent
    * readers are safe at every step — see [[StoreMaint.compactPartitioned]]
    * and [[readStats]]'s covers rule. */
  def compact(s: SparkSession, dir: String): Unit =
    Lease.withLease(s, dir, "textindex-compact") {
      val dead = deadIds(s, dir)
      StoreMaint.compactPartitioned(s, s"$dir/postings", "pfx",
        df => df.dropDuplicates("doc_id", "tok")
          .join(dead, Seq("doc_id"), "left_anti"))
      StoreMaint.compactPartitioned(s, s"$dir/dlen", "dpfx",
        df => df.dropDuplicates("doc_id")
          .join(dead, Seq("doc_id"), "left_anti"))
      val fs = StoreMaint.fsFor(s, new Path(dir))
      val dlenP = new Path(s"$dir/dlen")
      val (n, tot) =
        if (!fs.exists(dlenP)) (0L, 0L)
        else {
          val r = s.read.parquet(s"$dir/dlen").dropDuplicates("doc_id")
            .agg(count(lit(1)).as("n"), sum(col("dl")).as("tot")).head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
      val statsP = new Path(s"$dir/stats")
      val existing: Seq[String] =
        if (!fs.exists(statsP)) Seq.empty
        else fs.listStatus(statsP)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("src="))
          .map(_.getPath.getName.stripPrefix("src=")).toSeq
      val ck = existing.filter(_.startsWith("c"))
        .map(_.drop(1).toLong).maxOption.getOrElse(0L) + 1
      writeStatsRow(s, dir, s"c$ck", n, tot, existing)
      existing.foreach(src => fs.delete(new Path(s"$dir/stats/src=$src"), true))
      fs.delete(new Path(s"$dir/tombstones"), true)
    }

  /** Drop stats `src=` increment dirs a crashed [[compact]] left behind:
    * every tag in the newest consolidated `c<k>` row's `covers` list is
    * superseded — readers already ignore it ([[readStats]]'s covers
    * rule), so removing the dirs only reclaims metadata growth; a normal
    * compact deletes them itself and leaves nothing here. The
    * retention-sweep companion of [[StoreMaint.retentionSweep]] for this
    * store's third metadata family (markers, out dirs, stats dirs).
    * Returns the removed tags. */
  def purgeCoveredStats(s: SparkSession, dir: String): Seq[String] =
    Lease.withLease(s, dir, "textindex-stats-purge") {
      val p = new Path(s"$dir/stats")
      val fs = StoreMaint.fsFor(s, p)
      if (!fs.exists(p)) Seq.empty
      else {
        val rows = s.read.option("basePath", s"$dir/stats")
          .parquet(s"$dir/stats").select(col("src"), col("covers")).collect()
        val cRows = rows.filter(_.getString(0).startsWith("c"))
        if (cRows.isEmpty) Seq.empty
        else {
          val best = cRows.maxBy(_.getString(0).drop(1).toLong)
          val covered: Set[String] =
            if (best.isNullAt(1)) Set.empty else best.getSeq[String](1).toSet
          val victims = rows.map(_.getString(0))
            .filter(covered.contains).distinct.sorted.toSeq
          victims.foreach(src =>
            fs.delete(new Path(s"$dir/stats/src=$src"), true))
          victims
        }
      }
    }

  // ---- search -------------------------------------------------------------

  /** Schema-bearing empty frames for store pieces that have no files yet. */
  private def emptyPostings(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("doc_id"), lit("").as("tok"),
      lit(0L).as("tf"))
  private def emptyDlen(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("doc_id"), lit(0L).as("dl"))
  private def emptyTombstones(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("doc_id"))

  /** BM25 top-`k` through the index: pruned postings read for the query's
    * terms (deduplicated by key, tombstones anti-joined), df from the
    * complete per-term LIVE postings just read, pruned doc-length fetch
    * for candidate docs only, summed global stats — then the exact
    * [[TextAnalysis.bm25Weights]] scoring expression over the stored
    * integers. Driver-side collects are partition VALUES (bounded by dir
    * counts) plus the metadata-sized stats rows, never data. */
  def search(s: SparkSession, dir: String, terms: Seq[String],
      k: Int): DataFrame = {
    import graft.dedup.LshIndex.readPruned
    val lay = layoutOf(s, dir)
    val pfxs = terms.map(t => "h" + org.apache.commons.codec.digest.DigestUtils
      .md5Hex(t).substring(0, lay.pfxLen)).distinct
    val dead = deadIds(s, dir)
    val posts = readPruned(s, s"$dir/postings", "pfx", pfxs,
        () => emptyPostings(s))
      .filter(col("tok").isin(terms: _*))
      .select(col("doc_id"), col("tok"), col("tf"))
      // duplicate-tolerant read — (doc_id, tok) → tf is functional, so
      // crash-replayed appends and in-flight compaction overlap collapse
      // to the clean set; the anti-join hides tombstoned docs until
      // compact purges them
      .dropDuplicates("doc_id", "tok")
      .join(dead, Seq("doc_id"), "left_anti")
      // lazy persist, not localCheckpoint: three consumers share one read,
      // and the file scan stays in the plan (TextIndexSpec's inputFiles
      // pruning proof inspects it)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfq = posts.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val dpfxs = posts.select(pmod(col("doc_id"), lit(lay.docPfxMod)).as("p"))
      .distinct().collect().map(_.getLong(0).toString).toSeq
    val dlen = readPruned(s, s"$dir/dlen", "dpfx", dpfxs,
        () => emptyDlen(s))
      .select(col("doc_id"), col("dl")).dropDuplicates("doc_id")
    val (n, tot) = readStats(s, dir)
    // the exact q102 weight expression over stored integers; n/tot ride in
    // as literals (same values, same IEEE dag)
    val idf = log(lit(1.0) +
      (lit(n).cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfn = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) *
          (col("dl").cast("double") /
            (lit(tot).cast("double") / lit(n).cast("double")))))
    val scored = posts.join(dlen, "doc_id").join(dfq, "tok")
      .select(col("doc_id"),
        floor(idf * tfn * lit(1000000.0) + lit(0.5)).as("wm"))
      .groupBy(col("doc_id")).agg(sum(col("wm")).as("score_micro"))
    // eager top-k materialization (≤k rows) so the shared posts cache can
    // be dropped here — search in a serving loop must not leak one cache
    // entry per call
    val top = scored.orderBy(col("score_micro").desc, col("doc_id")).limit(k)
      .localCheckpoint()
    posts.unpersist(blocking = false)
    val w = Window.orderBy(col("score_micro").desc, col("doc_id"))
    top.withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("doc_id"),
        (col("score_micro").cast("double") / lit(1000000.0)).as("score"),
        col("rnk"))
      .orderBy(col("rnk"))
  }

  // ---- q113 ---------------------------------------------------------------

  private val stores = scala.collection.mutable.Map.empty[String, String]
  private val delStores = scala.collection.mutable.Map.empty[String, String]

  private[text] def storeFor(s: SparkSession, d: String): String =
    synchronized {
      stores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-textindex").toString
        write(Tables.documents(s, d).select(col("doc_id"), col("text")), dir)
        dir
      })
    }

  def clearCaches(): Unit = synchronized {
    stores.clear(); delStores.clear(); statsCache.clear()
  }

  /** q113: q102's BM25 query answered THROUGH the persisted index — the
    * oracle is q102's own exact SQL (a corpus-pass computation), so the
    * hash check proves the store path (tokenize-once postings, pruned
    * reads, incremental stats) reproduces the from-scratch scores
    * bit-for-bit. */
  val q113Bm25Index: Q = Q(
    "q113_bm25_index",
    TextAnalysis.q102Bm25.oracle.get,
  ) { (s, d) =>
    search(s, storeFor(s, d), TextAnalysis.Bm25QueryTerms, 10)
  }

  // ---- q117: continuous text-index ingest ---------------------------------

  /** One text-ingest micro-batch against the store at `root/index`, run
    * exactly-once by [[StoreMaint.applyOnce]] ON TOP of [[append]]'s own
    * idempotence: a replayed un-markered batch re-runs `append("b<id>")`,
    * whose duplicate rows and rewritten stats dir converge to the clean
    * state, then overwrites its verdict dir with an identical search
    * result. After the append, the batch runs the standing BM25 query over
    * everything that has streamed so far — the index-freshness probe of a
    * live retrieval deployment. */
  private[graft] def ingestBatch(s: SparkSession, root: String,
      df: DataFrame, id: Long, rowCap: Long = 4096L): Unit =
    StoreMaint.applyOnce(s, root, id, StoreMaint.batchPartitions(s, rowCap)) {
      val idx = s"$root/index"
      append(df.select(col("doc_id"), col("text")), idx, s"b$id")
      search(s, idx, TextAnalysis.Bm25QueryTerms, 10)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/out/batch=$id")
    }

  /** q117: CONTINUOUS text-index ingest — documents arrive over the
    * graft-shards stream (explicit `doc_id mod numShards` routing) in two
    * rate-limited micro-batches; each batch appends itself to the
    * persisted inverted index (which starts EMPTY) and then answers the
    * standing BM25 query through the store, so the result records the
    * index state AFTER each batch. EXACT oracle by the q108 recipe: batch
    * membership is SQL ([[StoreMaint.batchedCte]]), and the per-batch
    * scores are BM25 over the docs of batches ≤ b — so the
    * driver's hash check covers the incremental stats sums, the pruned
    * postings reads, df over the partial corpus, AND exactly-once append
    * (a double-appended batch would double tf/df/stats and hash-fail;
    * batch 1's row set must equal q102's full-corpus answer). */
  val q117TextStreamIngest: Q = Q(
    "q117_text_stream_ingest",
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents),
       |dl0 AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
       |${StoreMaint.batchedCte("documents", "doc_id")},
       |b AS (SELECT DISTINCT batch FROM batched),
       |member AS (
       |  SELECT b.batch, bt.doc_id FROM b JOIN batched bt ON bt.batch <= b.batch),
       |dlb AS (SELECT m.batch, m.doc_id, d.dl FROM member m JOIN dl0 d USING (doc_id)),
       |stats AS (SELECT batch, COUNT(*) AS n, SUM(dl) AS tot FROM dlb GROUP BY batch),
       |tf0 AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
       |  WHERE tok IN ('join', 'hash', 'scan') GROUP BY doc_id, tok),
       |tfb AS (SELECT m.batch, t.doc_id, t.tok, t.tf FROM member m JOIN tf0 t USING (doc_id)),
       |dfb AS (SELECT batch, tok, COUNT(*) AS df FROM tfb GROUP BY batch, tok),
       |w AS (SELECT t.batch, t.doc_id,
       |    CAST(FLOOR((LN(1.0 + (CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
       |                        / (CAST(f.df AS DOUBLE) + 0.5))
       |      * ((CAST(t.tf AS DOUBLE) * 2.2)
       |         / (CAST(t.tf AS DOUBLE)
       |            + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
       |                                    / (CAST(s.tot AS DOUBLE) / CAST(s.n AS DOUBLE)))))))
       |      * 1000000.0 + 0.5) AS BIGINT) AS wm
       |  FROM tfb t
       |  JOIN dlb l ON l.batch = t.batch AND l.doc_id = t.doc_id
       |  JOIN dfb f ON f.batch = t.batch AND f.tok = t.tok
       |  JOIN stats s ON s.batch = t.batch),
       |sc AS (SELECT batch, doc_id, CAST(SUM(wm) AS BIGINT) AS score_micro
       |  FROM w GROUP BY batch, doc_id)
       |SELECT batch, doc_id, CAST(score_micro AS DOUBLE) / 1000000.0 AS score, rnk
       |FROM (SELECT batch, doc_id, score_micro,
       |        ROW_NUMBER() OVER (PARTITION BY batch
       |          ORDER BY score_micro DESC, doc_id) AS rnk FROM sc)
       |WHERE rnk <= 10 ORDER BY batch, rnk""".stripMargin,
  ) { (s, d) =>
    val (docs, rowCap) = StoreMaint.shardStream(s,
      GraftShards.documentsShards(s, d), GraftShards.DocWire)
    val root = Files.createTempDirectory("graft-text-ingest").toString
    create(s, s"$root/index")
    StoreMaint.run(s, docs, root)(ingestBatch(s, root, _, _, rowCap))
      .select(col("batch"), col("doc_id"), col("score"), col("rnk"))
      .orderBy(col("batch"), col("rnk"))
  }

  // ---- q118: tombstone delete under the exact oracle ----------------------

  private def deletedStoreFor(s: SparkSession, d: String): String =
    synchronized {
      delStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-textindex-del").toString
        write(Tables.documents(s, d).select(col("doc_id"), col("text")), dir)
        delete(s, dir,
          Tables.documents(s, d).select(col("doc_id"))
            .filter(col("doc_id") % 7 === 3), "del1")
        dir
      })
    }

  /** q118: retraction — every `doc_id % 7 = 3` document is tombstone-
    * deleted from the persisted index, then the standing BM25 query runs.
    * Oracle = q102's SQL over `documents` MINUS the deleted slice, i.e.
    * the from-scratch rebuild without those docs — so the hash check
    * proves deleted docs stop matching AND the statistics (df, n, avgdl)
    * really shrink to the rebuild's values (the negative stats increments,
    * the anti-joined postings, the df-over-live-rows path). */
  val q118Bm25Delete: Q = Q(
    "q118_bm25_delete",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
      |  FROM documents WHERE doc_id % 7 <> 3),
      |dlen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
      |stats AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM dlen),
      |tfq AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      |  WHERE tok IN ('join', 'hash', 'scan') GROUP BY doc_id, tok),
      |dfq AS (SELECT tok, COUNT(*) AS df FROM tfq GROUP BY tok),
      |w AS (SELECT t.doc_id,
      |    CAST(FLOOR((LN(1.0 + (CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
      |                        / (CAST(f.df AS DOUBLE) + 0.5))
      |      * ((CAST(t.tf AS DOUBLE) * 2.2)
      |         / (CAST(t.tf AS DOUBLE)
      |            + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
      |                                    / (CAST(s.tot AS DOUBLE) / CAST(s.n AS DOUBLE)))))))
      |      * 1000000.0 + 0.5) AS BIGINT) AS wm
      |  FROM tfq t JOIN dlen l USING (doc_id) JOIN dfq f USING (tok) CROSS JOIN stats s),
      |sc AS (SELECT doc_id, CAST(SUM(wm) AS BIGINT) AS score_micro FROM w GROUP BY doc_id)
      |SELECT doc_id, CAST(score_micro AS DOUBLE) / 1000000.0 AS score, rnk
      |FROM (SELECT doc_id, score_micro,
      |        ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rnk FROM sc)
      |WHERE rnk <= 10 ORDER BY rnk""".stripMargin,
  ) { (s, d) =>
    search(s, deletedStoreFor(s, d), TextAnalysis.Bm25QueryTerms, 10)
  }

  val all: Seq[Q] = Seq(q113Bm25Index, q117TextStreamIngest, q118Bm25Delete)
}
