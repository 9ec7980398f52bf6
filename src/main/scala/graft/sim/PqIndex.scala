package graft.sim

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.ArrayExprs
import graft.sources.{GraftShards, Lease, StoreMaint}

/** Persisted IVF-PQ vector index: [[VecIndex]]'s layout with q74's
  * product-quantization codes as the RESIDENT half of the store — the
  * shape production ANN serving takes when the raw vectors no longer fit
  * (Jégou et al., TPAMI'11; the IVFADC family). Three on-disk pieces:
  *
  *  - the **coarse quantizer** `(cid, c, cn2)` — [[VecIndex]]'s persisted
  *    contract, verbatim (same file layout, same probe path);
  *  - the **PQ codebooks** `(m, cid, c, cn2)` — 8 sub-quantizers of 16
  *    seed centroids each, derived ONCE at build time and persisted: like
  *    the coarse quantizer they are the store's contract, reused verbatim
  *    by every append (a re-derived codebook would silently re-code the
  *    corpus and break every stored code);
  *  - the **codes** `(vec_id, c0..c7)` partitioned by `cell` — 8 small
  *    ints per vector instead of 64 doubles (512 B → 8 code bytes): this
  *    is what an ANN query SCANS. Raw vectors live in a separate
  *    id-partitioned `vecs` store (the cold half) and are read only for
  *    the per-query shortlist re-rank — O(queries × rerank) point-ish
  *    lookups, never a corpus scan.
  *
  * Query = probe `nprobe` cells through the persisted coarse quantizer →
  * pruned read of ONLY those cells' code partitions → asymmetric-distance
  * shortlist (per-query 8×16 lookup table of exact subspace distances,
  * riding the plan as literals; the scan never touches a raw vector) →
  * exact-cosine re-rank of the ≤`rerank` survivors from the cold store.
  * At 100 TB the codes for a probed cell are ~1/64th the bytes of its raw
  * postings, so the scan is memory-resident where [[VecIndex.topK]] would
  * be I/O-bound — that is the entire point of this store.
  *
  * EXACT oracle despite two approximation layers: coarse assignment /
  * probing are the q107-proven recipe, encode argmin and every LUT entry
  * are the q74-proven fixed-order folds, ADC sums its 8 terms in fixed
  * m-order on both engines, and the shortlist/re-rank cuts tie-break on
  * (dist, vec_id) / (cos, vec_id) — so a store that mis-coded, mis-pruned
  * or lost a vector hash-fails.
  *
  * Reference tie-in: the reference has no vector surface (SURVEY.md §2.b
  * north-star); this is the memory-bound scale path of similarity search.
  */
object PqIndex {

  val K = 5
  val NumProbe = 2
  /** ADC shortlist size handed to the exact re-rank. */
  val Rerank = 10
  /** Default modulus of the cold store's id partition key (layout-pinned,
    * grows with the cluster like every store knob). */
  val VecModDefault = 16L
  private val NumQueries = 8

  import Similarity.{PqCodebook, PqSubDim, PqSubspaces}

  private def asDouble(c: Column) = transform(c, x => x.cast("double"))

  /** (vec_id, label, v, n2) working form of the embeddings table. Extra
    * columns beyond the wire contract ride along — the cold-row store's
    * add-only evolution surface ([[StoreMaint.evolveSchema]]). */
  private def working(e: DataFrame): DataFrame = {
    val extras = e.columns
      .filterNot(Set("vec_id", "label", "embedding", "v", "n2"))
    e.select((Seq(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v")) ++ extras.map(col)): _*)
      .withColumn("n2", graft.dedup.Dedup.sqNorm(col("v")))
  }

  private def vecMod(s: SparkSession, dir: String): Long =
    StoreMaint.readLayout(s, dir,
      StoreMaint.Layout(1, VecModDefault)).docPfxMod

  /** Build the store: layout pin, coarse quantizer, PQ codebooks, then the
    * data pass. The pin is written FIRST — safe here because the data
    * writes target `codes/` and `vecs/` subdirs, never the store root
    * (the LshIndex root-partitioned layout is why ITS pin must come last)
    * — so the build's own append already reads it. */
  def write(e: DataFrame, dir: String, numCells: Int = Similarity.NumCells,
      vecMod: Long = VecModDefault): Unit = {
    writeContracts(e, dir, numCells, vecMod)
    append(e, dir, SaveMode.Overwrite)
  }

  /** Persist ONLY the contracts — the offline-training half of a streamed
    * deployment (q127): layout pin, coarse quantizer, PQ codebooks;
    * postings then arrive incrementally. */
  def writeContracts(e: DataFrame, dir: String,
      numCells: Int = Similarity.NumCells,
      vecMod: Long = VecModDefault): Unit = {
    import graft.sources.ZOrder.prf
    StoreMaint.writeLayout(e.sparkSession, dir, StoreMaint.Layout(1, vecMod))
    prf("pq.writeQuantizer")(VecIndex.writeQuantizer(e, dir, numCells))
    prf("pq.writeCodebooks")(writeCodebooks(working(e), dir))
  }

  /** Persist the PQ codebooks — seed vectors' sub-slices, the q74 rule:
    * deterministic, SQL-mirrorable, derived here only. Norm folds are
    * 0.0-seeded ascending (≡ the oracle's `list_reduce`). */
  private def writeCodebooks(w: DataFrame, dir: String): Unit =
    Lease.withLease(w.sparkSession, dir, "pqindex-codebooks") {
      w.filter(col("vec_id") < PqCodebook)
        .select(col("vec_id").cast("int").as("cid"), col("v"),
          explode(sequence(lit(0), lit(PqSubspaces - 1))).as("m"))
        .select(col("m"), col("cid"),
          slice(col("v"), col("m") * PqSubDim + 1, lit(PqSubDim)).as("c"))
        .withColumn("cn2", aggregate(transform(col("c"), x => x * x),
          lit(0.0), (a, y) => a + y))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/codebooks")
    }

  /** The persisted codebooks as driver arrays — 8×16 centroid sub-vectors,
    * a bounded read (the quantizer-delivery contract: codebooks are tiny,
    * the corpus is not). */
  /** Collected codebook LUT per (dir, file identity) — codebooks are an
    * immutable store CONTRACT like the quantizer, yet both appendWorking
    * and topK paid the collect as a fresh Spark job on every micro-batch
    * (2×/batch on the q127 loop); identity = one fs listing, invalidated
    * by any rebuild (r17). */
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Array[Array[Array[Double]]], Array[Array[Double]])]()

  private[sim] def clearContractCaches(): Unit = codebookCache.clear()

  private def readCodebooks(s: SparkSession, dir: String)
      : (Array[Array[Array[Double]]], Array[Array[Double]]) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/codebooks")
    val ident = StoreMaint.fsFor(s, p).listStatus(p).filter(_.isFile)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
    val key = s"$dir|$ident"
    val hit = codebookCache.get(key)
    if (hit != null) return hit
    val rows = s.read.parquet(s"$dir/codebooks")
      .orderBy(col("m"), col("cid")).collect()
    val cent = Array.ofDim[Array[Double]](PqSubspaces, PqCodebook)
    val cn2 = Array.ofDim[Double](PqSubspaces, PqCodebook)
    rows.foreach { r =>
      cent(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      cn2(r.getInt(0))(r.getInt(1)) = r.getDouble(3)
    }
    if (codebookCache.size() > 64) codebookCache.clear()
    codebookCache.put(key, (cent, cn2))
    (cent, cn2)
  }

  /** One code column per subspace: argmin over the 16 centroids by
    * (score, cid) — struct `array_min` ≡ the oracle's ROW_NUMBER pick; the
    * sub-slice is let-bound so each row does 16 dots and ONE slice. */
  private def codeCols(cent: Array[Array[Array[Double]]],
      cn2: Array[Array[Double]]): Seq[Column] =
    (0 until PqSubspaces).map { m =>
      ArrayExprs.letBind(slice(col("v"), m * PqSubDim + 1, PqSubDim)) { sb =>
        array_min(array((0 until PqCodebook).map { c =>
          struct(
            (lit(cn2(m)(c)) - lit(2.0) *
              call_function("graft_dot", sb, typedLit(cent(m)(c).toSeq)))
              .as("score"),
            lit(c).as("cid"))
        }: _*)).getField("cid")
      }.as(s"c$m")
    }

  /** Encode a batch with the PERSISTED quantizer + codebooks and add its
    * rows to both halves of the layout — the ingest path (and, with
    * Overwrite, the build's own data pass: one code path, so append ≡
    * rebuild by construction). The cold half never needs the probe, so the
    * two writes share only the narrow source scan. */
  def append(e: DataFrame, dir: String,
      mode: SaveMode = SaveMode.Append): Unit =
    appendWorking(working(e), dir, mode)

  /** [[append]] over the working form (vec_id, label, v, n2) — the
    * streaming ingest loop arrives already double-typed (the q114 wire
    * contract). Idempotent under replay because every [[topK]] read
    * deduplicates by the row's functional key. */
  private def appendWorking(w0: DataFrame, dir: String,
      mode: SaveMode): Unit = {
    val s = w0.sparkSession
    ArrayExprs.register(s)
    val (cent, cn2) = readCodebooks(s, dir)
    val mod = vecMod(s, dir)
    Lease.withLease(s, dir, s"pqindex-$mode") {
      val base = Tables.fanOut(w0)
      VecIndex.withStoreProbeCells(s, dir, base, 1, col("v"), "probe")
        .withColumn("cell", element_at(col("probe"), 1).cast("int"))
        .select(Seq(col("vec_id"), col("cell")) ++ codeCols(cent, cn2): _*)
        .repartition(col("cell"))
        .write.mode(mode).partitionBy("cell").parquet(s"$dir/codes")
      // cold rows are the store's evolution surface (codes are pure
      // derived structure): extra metadata columns of the batch ride
      // along under the add-only recorded-schema contract
      val extras = w0.columns
        .filterNot(Set("vec_id", "label", "v", "n2", "vpfx"))
      val vecRows = base.select(
        (Seq(col("vec_id"), col("label"), col("v"), col("n2"),
          pmod(col("vec_id"), lit(mod)).cast("int").as("vpfx")) ++
          extras.map(col)): _*)
      if (mode == SaveMode.Append)
        StoreMaint.evolveSchema(s, s"$dir/vecs", vecRows.schema)
      vecRows.repartition(col("vpfx"))
        .write.mode(mode).partitionBy("vpfx").parquet(s"$dir/vecs")
      if (mode != SaveMode.Append)
        StoreMaint.evolveSchema(s, s"$dir/vecs", vecRows.schema, reset = true)
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

  /** Retract vectors: tombstones consulted by [[topK]] BEFORE the ADC
    * shortlist cut (a dead vector must not occupy a shortlist slot — the
    * vacated slot re-fills, exactly a rebuild-without-it), physically
    * purged by [[compact]]. Idempotent — reads deduplicate by id. */
  def delete(s: SparkSession, dir: String, ids: DataFrame,
      src: String): Unit =
    Lease.withLease(s, dir, s"pqindex-delete-$src") {
      StoreMaint.writeTombstones(ids, s"$dir/tombstones", "vec_id", src,
        TombMod)
    }

  /** Collapse per-append file growth to one file per partition dir in BOTH
    * halves and purge tombstoned vectors; the quantizer and codebooks (the
    * contracts) are never touched. Reader-safe mid-swap via the
    * duplicate-tolerant reads ([[StoreMaint.compactPartitioned]]). */
  def compact(s: SparkSession, dir: String): Unit =
    Lease.withLease(s, dir, "pqindex-compact") {
      val dead = deadIds(s, dir)
      StoreMaint.compactPartitioned(s, s"$dir/codes", "cell",
        df => df.dropDuplicates("vec_id")
          .join(dead, Seq("vec_id"), "left_anti"))
      StoreMaint.compactPartitioned(s, s"$dir/vecs", "vpfx",
        df => df.dropDuplicates("vec_id")
          .join(dead, Seq("vec_id"), "left_anti"))
      val t = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
      StoreMaint.fsFor(s, t).delete(t, true)
      ()
    }

  /** Schema-bearing empties for a store with no data files yet. */
  private def emptyCodes(s: SparkSession): DataFrame =
    s.range(0).select(Seq(col("id").as("vec_id"),
      lit(0).cast("int").as("cell")) ++
      (0 until PqSubspaces).map(m => lit(0).cast("int").as(s"c$m")): _*)

  private def emptyVecs(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("vec_id"), lit(0).cast("int").as("label"),
      typedLit(Seq.empty[Double]).as("v"), lit(0.0).as("n2"),
      lit(0).cast("int").as("vpfx"))

  /** ANN top-k through the store: coarse probe → pruned CODES scan → ADC
    * shortlist → exact-cosine re-rank from the cold store. `queries` is
    * (query_id, qv), a BOUNDED batch (the q50/q74 contract): it is
    * collected once for the per-query lookup tables and re-rank literals —
    * never the corpus. Duplicate store rows (crash replays, in-flight
    * compaction) collapse via the (query, neighbor) dedup, codes being a
    * function of vec_id. */
  /** Ceiling of [[topK]]'s bounded-query-batch contract: past this the
    * plan-literal LUT/when-chain design is wrong (plan size grows with
    * the batch) — refuse loudly instead of silently collecting a corpus
    * onto the driver. */
  val MaxQueryBatch = 1024L

  def topK(s: SparkSession, dir: String, queries: DataFrame,
      nprobe: Int = NumProbe, rerank: Int = Rerank, k: Int = K): DataFrame = {
    ArrayExprs.register(s)
    import s.implicits._
    val (cent, cn2) = readCodebooks(s, dir)
    // ONE bounded collect probes the size AND fetches the batch: limit
    // MaxQueryBatch+1 keeps the driver transfer bounded (the collect the
    // contract prevents can never happen), and a 1025th row refuses
    // exactly like the former separate limit-count job (r17 — the probe
    // and the fetch were two jobs over the same frame)
    val qrows0 = queries.select(col("query_id"), col("qv"))
      .orderBy(col("query_id")).limit((MaxQueryBatch + 1).toInt).collect()
    require(qrows0.length <= MaxQueryBatch,
      s"query batch exceeds the bounded-batch contract ($MaxQueryBatch): " +
        "PqIndex.topK ships per-query ADC LUTs as plan literals; for a " +
        "corpus-scale query side use Similarity.knnJoin (both sides " +
        "distributed)")
    val qrows: Array[(Long, Array[Double])] =
      qrows0.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // LUT entry (m, c) = exact squared L2 of the query's m-th sub-slice to
    // centroid c — ascending folds, the same IEEE sequence as the oracle
    def lutFor(q: Array[Double]): Seq[Double] =
      for { m <- 0 until PqSubspaces; c <- 0 until PqCodebook } yield {
        var acc = 0.0; var i = 0
        while (i < PqSubDim) {
          val d = q(m * PqSubDim + i) - cent(m)(c)(i)
          acc += d * d; i += 1
        }
        acc
      }
    def qn2Of(q: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < q.length) { acc += q(i) * q(i); i += 1 }
      acc
    }
    // probe over the ALREADY-COLLECTED batch (a LocalRelation — the
    // distributed queries plan does not re-execute) and collect the
    // bounded (|q|·nprobe) probe rows once: the cells AND the probed
    // frame both come from that one pass (was: a localCheckpoint job
    // plus a distinct-collect job; r17)
    val qLocal = qrows.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("query_id", "qv")
    val probedRows = VecIndex.withStoreProbeCells(s, dir, qLocal,
        nprobe, col("qv"), "probe")
      .select(col("query_id"), explode(col("probe")).as("cell0"))
      .select(col("query_id"), col("cell0").cast("int").as("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val cells = probedRows.map(_._2).distinct.sorted.map(_.toString).toSeq
    val probed = probedRows.toSeq.toDF("query_id", "cell")
    val codes = graft.dedup.LshIndex.readPruned(s, s"$dir/codes", "cell",
        cells, () => emptyCodes(s))
      .select(Seq(col("cell").cast("int").as("cell"), col("vec_id")) ++
        (0 until PqSubspaces).map(m => col(s"c$m")): _*)
    // ADC distance: fixed m-order sum of 8 LUT lookups; the row's LUT is
    // picked by a when-chain over the bounded query batch (plan literals,
    // codes-only scan — no raw vector in this stage's read schema)
    val dist = qrows.foldRight(lit(Double.NaN): Column) {
      case ((qid, qv), els) =>
        val lutL = typedLit(lutFor(qv))
        val sum = (0 until PqSubspaces)
          .map(m => element_at(lutL, col(s"c$m") + lit(m * PqCodebook) + 1))
          .reduce(_ + _)
        when(col("query_id") === qid, sum).otherwise(els)
    }
    val aw = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("vec_id"))
    // the shortlist is ≤ |queries|·rerank rows by construction: ONE
    // bounded collect materializes it — the pfx set AND the re-rank
    // join's local side both come from it (was: a localCheckpoint job
    // plus a distinct-collect job; r17)
    val slRows = probed.join(codes,
        probed("cell") === codes("cell") &&
          codes("vec_id") =!= probed("query_id"))
      .select(Seq(col("query_id"), col("vec_id")) ++
        (0 until PqSubspaces).map(m => col(s"c$m")): _*)
      .dropDuplicates("query_id", "vec_id")
      // tombstoned vectors drop BEFORE the shortlist cut: a dead vector
      // must not consume a shortlist slot (physical purge waits for
      // compact)
      .join(deadIds(s, dir), Seq("vec_id"), "left_anti")
      .withColumn("dist", dist)
      .withColumn("ar", row_number().over(aw))
      .filter(col("ar") <= rerank)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("dist"))
      .collect()
    val shortlist = slRows.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toDF("query_id", "neighbor_id", "dist")
    val mod = vecMod(s, dir)
    val pfxs = slRows.map(r => java.lang.Math.floorMod(r.getLong(1), mod))
      .distinct.sorted.map(_.toString).toSeq
    val vecs = graft.dedup.LshIndex.readPruned(s, s"$dir/vecs", "vpfx", pfxs,
        () => emptyVecs(s))
      .select(col("vec_id").as("neighbor_id"), col("label"), col("v"),
        col("n2"))
      .dropDuplicates("neighbor_id")
    val dotC = qrows.foldRight(lit(Double.NaN): Column) {
      case ((qid, qv), els) =>
        when(col("query_id") === qid,
          call_function("graft_dot", typedLit(qv.toSeq), col("v")))
          .otherwise(els)
    }
    val qn2C = qrows.foldRight(lit(Double.NaN): Column) {
      case ((qid, qv), els) =>
        when(col("query_id") === qid, lit(qn2Of(qv))).otherwise(els)
    }
    val cos = round(graft.dedup.Dedup.cosineFromDot(dotC, qn2C, col("n2")), 6)
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist.join(vecs, Seq("neighbor_id"))
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("label"),
        round(col("dist"), 6).as("adc_dist"), col("cos"))
  }

  // ---- q121: the exact-oracle query over the persisted store --------------

  /** Per-dataset-dir store cache (the [[VecIndex.storeFor]] discipline):
    * built once per JVM, probed per pass — the deployment profile. */
  private val stores = scala.collection.mutable.Map.empty[String, String]

  private[sim] def storeFor(s: SparkSession, d: String): String =
    synchronized {
      stores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-pqindex").toString
        write(Tables.embeddings(s, d), dir)
        dir
      })
    }

  /** Drop the store-pointer caches (cold-run probes). */
  def clearCaches(): Unit = synchronized {
    stores.clear(); delStores.clear(); clearContractCaches()
  }

  /** The q121/q124 oracle: q107's probe CTEs + q74's encode/LUT/ADC CTEs
    * + the two deterministic rank cuts. `candFilter` restricts the
    * candidate set (q124's tombstone exclusion — applied BEFORE the ADC
    * shortlist, exactly where [[topK]] drops dead ids, so the vacated
    * shortlist slots re-fill like a rebuild). */
  private def pqOracle(candFilter: String): String = {
      val sd = PqSubDim; val cbn = PqCodebook
      val encwCols = (0 until PqSubspaces)
        .map(m => s"MAX(CASE WHEN m=$m THEN code END) AS c$m")
        .mkString(",\n    ")
      val adcExpr = (0 until PqSubspaces)
        .map(m => s"l.ds[${m * cbn}+w.c$m+1]").mkString(" + ")
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
         |cb AS (
         |  SELECT m.m, e.vec_id AS cid, e.v[m.m*$sd+1 : m.m*$sd+$sd] AS c,
         |    list_reduce(list_transform(range(1, $sd+1),
         |      i -> e.v[m.m*$sd+i] * e.v[m.m*$sd+i]), (a,b) -> a+b) AS cn2
         |  FROM e, LATERAL (SELECT unnest(range(0, $PqSubspaces)) AS m) m
         |  WHERE e.vec_id < $cbn),
         |enc AS (
         |  SELECT vec_id, m, cid AS code FROM (
         |    SELECT e.vec_id, cb.m, cb.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.m ORDER BY
         |        cb.cn2 - 2 * list_reduce(list_transform(range(1, $sd+1),
         |          i -> e.v[cb.m*$sd+i] * cb.c[i]), (a,b) -> a+b),
         |        cb.cid) AS rn
         |    FROM e, cb)
         |  WHERE rn = 1),
         |encw AS (SELECT vec_id,
         |    $encwCols
         |  FROM enc GROUP BY vec_id),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
         |lut AS (
         |  SELECT q.qid, cb.m, cb.cid,
         |    list_reduce(list_transform(range(1, $sd+1),
         |      i -> (q.qv[cb.m*$sd+i] - cb.c[i]) * (q.qv[cb.m*$sd+i] - cb.c[i])),
         |      (a,b) -> a+b) AS d2
         |  FROM q, cb),
         |lutq AS (SELECT qid, list(d2 ORDER BY m, cid) AS ds FROM lut GROUP BY qid),
         |cand AS (
         |  SELECT DISTINCT p.query_id AS qid, a.vec_id
         |  FROM probes p JOIN assign a
         |    ON a.cell = p.cell AND a.vec_id <> p.query_id$candFilter),
         |adc AS (
         |  SELECT c.qid, c.vec_id, $adcExpr AS dist
         |  FROM cand c JOIN encw w ON w.vec_id = c.vec_id
         |              JOIN lutq l ON l.qid = c.qid),
         |sl AS (
         |  SELECT qid, vec_id, dist FROM (
         |    SELECT qid, vec_id, dist,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS ar
         |    FROM adc) WHERE ar <= $Rerank),
         |ranked AS (
         |  SELECT sl.qid, sl.vec_id, n.label, ROUND(sl.dist, 6) AS adc_dist,
         |    ROUND(list_cosine_similarity(q.qv, n.v), 6) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY sl.qid
         |      ORDER BY ROUND(list_cosine_similarity(q.qv, n.v), 6) DESC,
         |               sl.vec_id) AS rank
         |  FROM sl JOIN q ON q.qid = sl.qid
         |          JOIN e n ON n.vec_id = sl.vec_id)
         |SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank,
         |  vec_id AS neighbor_id, label, adc_dist, cos
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** q121: IVF-PQ ANN through the PERSISTED index — coarse probe, pruned
    * codes-only ADC shortlist, exact-cosine re-rank from the cold store,
    * all under one exact oracle ([[pqOracle]]) — a store that
    * mis-assigned, mis-coded, mis-pruned or lost a vector hash-fails. */
  val q121PqIndex: Q = Q("q121_pq_index", pqOracle("")) { (s, d) =>
    val dir = storeFor(s, d)
    val queries = working(Tables.embeddings(s, d))
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    topK(s, dir, queries).orderBy(col("query_id"), col("rank"))
  }

  // ---- q124: tombstone retraction under the exact oracle ------------------

  private val delStores = scala.collection.mutable.Map.empty[String, String]

  private def deletedStoreFor(s: SparkSession, d: String): String =
    synchronized {
      delStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-pqindex-del").toString
        write(Tables.embeddings(s, d), dir)
        delete(s, dir,
          Tables.embeddings(s, d).select(col("vec_id"))
            .filter(col("vec_id") % 5 === 2), "del1")
        dir
      })
    }

  /** q124: q121's IVF-PQ ANN AFTER a retraction — every `vec_id % 5 = 2`
    * vector is tombstone-deleted, then the same query batch probes the
    * store. Oracle = [[pqOracle]] with those ids excluded from the
    * candidate set BEFORE the ADC shortlist, i.e. what a
    * rebuild-without-them would shortlist and rank — so the hash check
    * proves a deleted vector stops being a neighbor, stops consuming a
    * shortlist slot, and both the vacated shortlist slots and final ranks
    * re-fill with the next-best live candidates. */
  val q124PqDelete: Q = Q(
    "q124_pq_delete", pqOracle(" AND a.vec_id % 5 <> 2")) { (s, d) =>
    val dir = deletedStoreFor(s, d)
    val queries = working(Tables.embeddings(s, d))
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    topK(s, dir, queries).orderBy(col("query_id"), col("rank"))
  }

  // ---- q127: continuous PQ-index ingest (the q117 pattern for vectors) ----

  /** One PQ-ingest micro-batch: append the batch's codes + cold rows under
    * the persisted contracts, then answer the STANDING query batch through
    * the store — so the dumped result is the index state AFTER each batch
    * (the q117 shape). Run exactly-once by [[StoreMaint.applyOnce]]; the
    * marker-missed replay window is closed by the store reads'
    * (query, neighbor) / vec_id dedup tolerance. `df` arrives in the wire
    * shape [[GraftShards.EmbWire]]. */
  private[graft] def ingestBatch(s: SparkSession, root: String,
      df: DataFrame, id: Long, queries: DataFrame,
      rowCap: Long = 4096L): Unit =
    StoreMaint.applyOnce(s, root, id, StoreMaint.batchPartitions(s, rowCap)) {
      import graft.sources.ZOrder.prf
      val w = prf("pq.ingest.checkpoint")(
        df.select(col("vec_id"), col("label"), col("v"))
          .withColumn("n2", graft.dedup.Dedup.sqNorm(col("v")))
          .localCheckpoint())
      prf("pq.ingest.append")(appendWorking(w, root, SaveMode.Append))
      prf("pq.ingest.topK+dump")(topK(s, root, queries)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/out/batch=$id"))
    }

  /** q127: continuous PQ-index ingest — quantizer AND codebooks trained
    * offline (persisted before the stream: the store's two contracts),
    * vectors arrive over graft-shards in two rate-limited micro-batches;
    * each batch appends its codes + cold rows, then the standing 8-query
    * ANN runs through the store, so batch b's rows are the shortlist and
    * ranks over batches ≤ b. EXACT oracle by the q114/q117 recipe:
    * explicit vec_id-mod routing makes batch membership SQL, and the
    * candidate set, ADC shortlist cut, and re-rank are q121's CTEs
    * restricted to ingested batches — a double-append, lost batch, or
    * code drift hash-fails. Completes the symmetry: all four persisted
    * stores (LSH q108, IVF q114, text q117, PQ here) have exactly-once
    * streaming ingest forms. */
  val q127PqStreamIngest: Q = Q(
    "q127_pq_stream_ingest", {
      val sd = PqSubDim; val cbn = PqCodebook
      val encwCols = (0 until PqSubspaces)
        .map(m => s"MAX(CASE WHEN m=$m THEN code END) AS c$m")
        .mkString(",\n    ")
      val adcExpr = (0 until PqSubspaces)
        .map(m => s"l.ds[${m * cbn}+w.c$m+1]").mkString(" + ")
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
         |cb AS (
         |  SELECT m.m, e.vec_id AS cid, e.v[m.m*$sd+1 : m.m*$sd+$sd] AS c,
         |    list_reduce(list_transform(range(1, $sd+1),
         |      i -> e.v[m.m*$sd+i] * e.v[m.m*$sd+i]), (a,b) -> a+b) AS cn2
         |  FROM e, LATERAL (SELECT unnest(range(0, $PqSubspaces)) AS m) m
         |  WHERE e.vec_id < $cbn),
         |enc AS (
         |  SELECT vec_id, m, cid AS code FROM (
         |    SELECT e.vec_id, cb.m, cb.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.m ORDER BY
         |        cb.cn2 - 2 * list_reduce(list_transform(range(1, $sd+1),
         |          i -> e.v[cb.m*$sd+i] * cb.c[i]), (a,b) -> a+b),
         |        cb.cid) AS rn
         |    FROM e, cb)
         |  WHERE rn = 1),
         |encw AS (SELECT vec_id,
         |    $encwCols
         |  FROM enc GROUP BY vec_id),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
         |lut AS (
         |  SELECT q.qid, cb.m, cb.cid,
         |    list_reduce(list_transform(range(1, $sd+1),
         |      i -> (q.qv[cb.m*$sd+i] - cb.c[i]) * (q.qv[cb.m*$sd+i] - cb.c[i])),
         |      (a,b) -> a+b) AS d2
         |  FROM q, cb),
         |lutq AS (SELECT qid, list(d2 ORDER BY m, cid) AS ds FROM lut GROUP BY qid),
         |${StoreMaint.batchedCte("e", "vec_id")},
         |bb AS (SELECT DISTINCT batch FROM batched),
         |cand AS (
         |  SELECT DISTINCT bb.batch, p.query_id AS qid, a.vec_id
         |  FROM bb CROSS JOIN probes p
         |  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
         |  JOIN batched bn ON bn.vec_id = a.vec_id AND bn.batch <= bb.batch),
         |adc AS (
         |  SELECT c.batch, c.qid, c.vec_id, $adcExpr AS dist
         |  FROM cand c JOIN encw w ON w.vec_id = c.vec_id
         |              JOIN lutq l ON l.qid = c.qid),
         |sl AS (
         |  SELECT batch, qid, vec_id, dist FROM (
         |    SELECT batch, qid, vec_id, dist,
         |      ROW_NUMBER() OVER (PARTITION BY batch, qid
         |        ORDER BY dist, vec_id) AS ar
         |    FROM adc) WHERE ar <= $Rerank),
         |ranked AS (
         |  SELECT sl.batch, sl.qid, sl.vec_id, n.label,
         |    ROUND(sl.dist, 6) AS adc_dist,
         |    ROUND(list_cosine_similarity(q.qv, n.v), 6) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY sl.batch, sl.qid
         |      ORDER BY ROUND(list_cosine_similarity(q.qv, n.v), 6) DESC,
         |               sl.vec_id) AS rank
         |  FROM sl JOIN q ON q.qid = sl.qid
         |          JOIN e n ON n.vec_id = sl.vec_id)
         |SELECT batch, qid AS query_id, CAST(rank AS BIGINT) AS rank,
         |  vec_id AS neighbor_id, label, adc_dist, cos
         |FROM ranked WHERE rank <= $K
         |ORDER BY batch, query_id, rank""".stripMargin
    },
  ) { (s, d) =>
    ArrayExprs.register(s)
    val (vecs, rowCap) = StoreMaint.shardStream(s,
      GraftShards.embeddingsShards(s, d), GraftShards.EmbWire)
    val root = Files.createTempDirectory("graft-pq-ingest").toString
    // the OFFLINE-trained contracts, persisted before any vector streams
    writeContracts(Tables.embeddings(s, d), root)
    val standing = working(Tables.embeddings(s, d))
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .localCheckpoint()
    StoreMaint.run(s, vecs, root)(ingestBatch(s, root, _, _, standing, rowCap))
      .select(col("batch"), col("query_id"), col("rank"), col("neighbor_id"),
        col("label"), col("adc_dist"), col("cos"))
      .orderBy(col("batch"), col("query_id"), col("rank"))
  }

  val all: Seq[Q] = Seq(q121PqIndex, q124PqDelete, q127PqStreamIngest)
}
