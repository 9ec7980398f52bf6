package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Shared lifecycle plumbing for the persisted stores: the exactly-once
  * ingest harness every streaming-ingest loop runs on (LSH q108, IVF
  * q114, text q117, PQ q127, z-store q132/q141, the q143 IVM view, and
  * the shard reader of the q152/q156 native sinks) together with the
  * `applied/<id>` markers, `_retention` watermark and `out/batch=<id>`
  * sweep it writes; the partition-layout pin that makes the partitioning
  * knobs real deployment parameters; and the in-place partition-dir
  * compaction whose reader-safety token is the stores' duplicate-tolerant
  * reads.
  */
object StoreMaint {

  // ---- batch-scoped execution confs ---------------------------------------

  /** Rows of admission cap per shuffle partition of a bounded batch body
    * (the small-row operator bodies the ingest loops run). */
  private val RowsPerPartition = 512L

  /** Fewest shuffle partitions of a bounded batch body: the measured
    * sweet spot for bench-scale batches, so the sf0.1 bench numbers
    * stay comparable. */
  private val MinPartitions = 8L

  /** Shuffle-partition pin for a bounded micro-batch body, derived from
    * the batch's admission-control ROW CAP (the r16 verdict's item: a
    * literal pin serializes a cluster-scale micro-batch): one partition
    * per [[RowsPerPartition]] rows of the cap, floored at
    * [[MinPartitions]] and capped at 4× the session's parallelism (past
    * that, extra tiny partitions are pure scheduling overhead for a
    * BOUNDED body). */
  private[graft] def batchPartitions(s: SparkSession, rowCap: Long): Int = {
    val byCap = math.max(1L,
      (math.max(rowCap, 0L) + RowsPerPartition - 1) / RowsPerPartition)
    val ceil = math.max(s.sparkContext.defaultParallelism.toLong * 4,
      MinPartitions)
    math.min(math.max(byCap, MinPartitions), ceil).toInt
  }

  /** Batch-scoped execution confs for rate-limited micro-batch bodies —
    * pins shuffle partitions to the (bounded, known) batch volume and
    * disables AQE for the body: each body query is a fixed tiny-stage
    * shape whose per-query adaptive re-planning costs more wall-clock
    * than it saves (measured 1.4-1.8× on the six ingest loops at sf0.1:
    * q141 21→12 s, q127 10.5→6.9 s, q117 7.6→5.9 s — JobProf, r16),
    * exactly the pageRank loop discipline (Graph.scala). A cluster
    * deployment keeps AQE for unbounded DML — this wraps ONLY micro-batch
    * bodies whose admission control bounds the input
    * (maxRecordsPerShardPerTrigger / maxVersionsPerTrigger), and the
    * partition pin should be derived from the configured batch cap there.
    * The pins are [[withConf]] scopes, so concurrent and nested bodies
    * share their refcounts. */
  private[graft] def withBatchConfs[T](s: SparkSession, partitions: Int)
      (f: => T): T = withNoAqe(s) {
    withConf(s, "spark.sql.shuffle.partitions", partitions.toString)(f)
  }

  /** AQE-off scope WITHOUT touching shuffle partitions — for fixed-shape
    * operator internals where adaptive re-planning cannot improve the
    * plan at any scale but pays its per-query latency every time: global
    * scalar aggregates (zWrite's bounds pass), writes through an EXPLICIT
    * repartition (AQE respects user-specified partitioning), manifest
    * metadata-plane commits (where replan latency directly extends the
    * `_zcommit` turnstile hold and so caps concurrent-committer
    * throughput). */
  private[graft] def withNoAqe[T](s: SparkSession)(f: => T): T =
    withConf(s, "spark.sql.adaptive.enabled", "false")(f)

  /** (depth, value before the outermost scope) per (session, conf key). */
  private val confScopes =
    scala.collection.mutable.Map.empty[(SparkSession, String), (Int, Option[String])]

  /** Run `f` with the session conf `key` set to `value`, refcounted per
    * (session, key): the first entrant saves the prior value and sets
    * `value`, nested and concurrent entrants keep the OUTERMOST value, and
    * the last exit restores the prior value (or unsets a key that had
    * none), on the failure path too. A naive save/restore interleaved
    * across threads leaks the inner value into the session (the r15
    * outputTimestampType bug class); two refcounts over one key interleave
    * the same way, so every scope on a key goes through this one. */
  private[graft] def withConf[T](s: SparkSession, key: String, value: String)
      (f: => T): T = {
    confScopes.synchronized {
      val (depth, prior) = confScopes.getOrElse((s, key), (0, s.conf.getOption(key)))
      if (depth == 0) s.conf.set(key, value)
      confScopes((s, key)) = (depth + 1, prior)
    }
    try f finally confScopes.synchronized {
      val (depth, prior) = confScopes((s, key))
      if (depth > 1) confScopes((s, key)) = (depth - 1, prior)
      else {
        confScopes.remove((s, key)) // don't retain dead sessions
        prior.fold(s.conf.unset(key))(s.conf.set(key, _))
      }
    }
  }

  // ---- layout pin ----------------------------------------------------------

  /** Partitioning knobs of a store, pinned at build time. `pfxLen` = hex
    * chars of the content-hash partition key (16 dirs per char); `docPfxMod`
    * = modulus of the id-keyed partition key. Both "grow with the cluster":
    * a 1000-executor deployment builds with pfxLen 2-3 / mod 256-4096 so
    * dir count matches write parallelism and per-dir file sizes stay
    * healthy. The pin makes the knob a CONTRACT like VecIndex's persisted
    * quantizer: appends and lookups read the layout the store was built
    * with instead of trusting compile-time constants to agree. */
  final case class Layout(pfxLen: Int, docPfxMod: Long)

  private def layoutPath(root: String) = new Path(root, "_layout.json")

  private[graft] def fsFor(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sessionState.newHadoopConf())

  /** ATOMIC exclusive create with content — the one CAS primitive every
    * claim file (version claims, rebase tickets, leases) must use.
    * Hadoop's LOCAL `create(overwrite = false)` is exists-then-create, a
    * TOCTOU window that seats two claimants under real contention (found
    * by the r15 commit turnstile: the second create TRUNCATES the
    * first's content — a broken lease nonce and a torn high-water-mark
    * read). On `file:` filesystems this goes through NIO's `CREATE_NEW`
    * (kernel O_EXCL); elsewhere (HDFS-like) `create(overwrite=false)`'s
    * exclusivity is enforced server-side and stands. Returns false when
    * the claim already exists (lost the race). */
  private[graft] def createExclusive(fs: FileSystem, p: Path,
      content: Array[Byte]): Boolean =
    try {
      if ("file".equalsIgnoreCase(fs.getUri.getScheme)) {
        val local = java.nio.file.Paths.get(p.toUri.getPath)
        java.nio.file.Files.createDirectories(local.getParent)
        java.nio.file.Files.write(local, content,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      } else {
        val out = fs.create(p, false)
        try { if (content.nonEmpty) out.write(content) } finally out.close()
      }
      true
    } catch { case _: java.io.IOException => false }

  /** Pin `l` at the store root — temp + atomic rename, written once at
    * build time (single-writer slot). */
  def writeLayout(s: SparkSession, root: String, l: Layout): Unit = {
    val p = layoutPath(root)
    val fs = fsFor(s, p)
    fs.mkdirs(p.getParent)
    val tmp = new Path(root, s"._layout.json.tmp")
    val out = fs.create(tmp, true)
    out.write(s"""{"pfxLen":${l.pfxLen},"docPfxMod":${l.docPfxMod}}"""
      .getBytes("UTF-8"))
    out.close()
    fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** Read the pinned layout; `default` for stores predating the pin. */
  def readLayout(s: SparkSession, root: String, default: Layout): Layout = {
    val p = layoutPath(root)
    val fs = fsFor(s, p)
    if (!fs.exists(p)) return default
    val in = fs.open(p)
    val txt = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    def field(k: String): String =
      txt.split(s""""$k":""")(1).takeWhile(c => c.isDigit || c == '-')
    Layout(field("pfxLen").toInt, field("docPfxMod").toLong)
  }

  // ---- monotone add-only schema registry -----------------------------------

  private def schemaPath(dir: String) = new Path(dir, "_schema.ddl")

  /** The recorded table schema of a store piece, deep-nullable (files
    * predating a column null-fill on read); None for pieces predating the
    * registry, which keep the legacy footer-inferred reads. */
  private[graft] def recordedSchema(s: SparkSession,
      dir: String): Option[org.apache.spark.sql.types.StructType] = {
    val p = schemaPath(dir)
    val fs = fsFor(s, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      Some(Sources.deepNullable(
          org.apache.spark.sql.types.StructType.fromDDL(txt))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** Record the monotone ADD-ONLY schema evolution of a store piece — the
    * upsert table's manifest-union contract (Sources), shared by the four
    * index stores: recorded ∪ batch BY NAME (case-insensitive), new batch
    * columns append as nullable and old files read null for them, a batch
    * may omit recorded columns (its rows read null), and a same-name
    * column may NEVER change type — loud refusal, not a silent cast.
    * `reset` (a full rebuild whose write just cleared the dir) records
    * the batch schema outright. Atomic temp+rename under the caller's
    * writer lease; returns the recorded union. */
  /** The pure add-only union under [[evolveSchema]] (also the z-store's
    * per-version recorded DDL): prev ∪ batch by name (case-insensitive),
    * everything nullable, a same-name type change refuses loudly. */
  /** TYPE WIDENING (r16): the two promotions every engine-side reader
    * decodes natively (parquet INT32 under a BIGINT read schema, FLOAT
    * under DOUBLE — Spark's vectorized and row readers both widen at
    * decode, probed on 4.1.2; the int/long stat encodings are already
    * identical, and float was never stats-eligible). Any other type
    * change keeps refusing. Returns the WIDER type for a mixed pair. */
  private def widenedType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (IntegerType, LongType) | (LongType, IntegerType) =>
        Some(LongType)
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      case _ => None
    }
  }

  private[sources] def unionSchemas(what: String,
      prev: Option[org.apache.spark.sql.types.StructType],
      batch: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val widenTo = scala.collection.mutable.Map
      .empty[String, org.apache.spark.sql.types.DataType]
    prev.foreach(_.foreach { f =>
      batch.find(_.name.equalsIgnoreCase(f.name)).foreach { g =>
        val (ft, gt) =
          (Sources.deepNullable(f.dataType), Sources.deepNullable(g.dataType))
        if (ft != gt) widenedType(ft, gt) match {
          case Some(w) =>
            // a widening batch PROMOTES the recorded type; a narrower
            // batch keeps it (its files read widened, like old files
            // after a promotion)
            if (w != ft) widenTo(f.name.toLowerCase) = w
          case None => throw new IllegalArgumentException(
            s"$what: cannot change the type of column ${f.name}: " +
              s"${f.dataType.simpleString} -> ${g.dataType.simpleString} " +
              "(schema evolution is add-only + INT->BIGINT/FLOAT->DOUBLE " +
              "widening)")
        }
      }
    })
    StructType((prev match {
      case Some(ps) => ps.fields.map(f =>
        widenTo.get(f.name.toLowerCase).map(w => f.copy(dataType = w))
          .getOrElse(f)) ++
        batch.fields.filterNot(f =>
          ps.fields.exists(_.name.equalsIgnoreCase(f.name)))
      case None => batch.fields
    }).map(f => f.copy(
      dataType = Sources.deepNullable(f.dataType), nullable = true)).toSeq)
  }

  private[graft] def evolveSchema(s: SparkSession, dir: String,
      batch: org.apache.spark.sql.types.StructType,
      reset: Boolean = false): org.apache.spark.sql.types.StructType = {
    val union = unionSchemas(dir,
      if (reset) None else recordedSchema(s, dir), batch)
    val p = schemaPath(dir)
    val fs = fsFor(s, p)
    fs.mkdirs(p.getParent)
    val tmp = new Path(dir, "._schema.ddl.tmp")
    val out = fs.create(tmp, true)
    out.write(union.toDDL.getBytes("UTF-8"))
    out.close()
    fs.delete(p, false)
    fs.rename(tmp, p)
    union
  }

  // ---- replay-window retention for ingest metadata -------------------------

  /** Every exactly-once ingest loop writes one `applied/<id>` marker (and
    * one `out/batch=<id>` delivery dir) per micro-batch, FOREVER — a year
    * of 15-minute batches is ~35k files per store. [[retentionSweep]]
    * bounds that: it keeps the newest `keepLast` markers — the REPLAY
    * WINDOW — and ages the rest out. The contract that keeps exactly-once
    * exact: the sweep first records the window's lower edge in the
    * `_retention` watermark (atomic temp+rename), THEN deletes; a replay
    * of a swept id hits [[batchAlreadyApplied]]'s watermark check and
    * REFUSES loudly instead of silently re-applying (its marker is gone,
    * so "already applied" can no longer be proven — re-running would
    * double rows).
    *
    * Sizing `keepLast`: foreachBatch re-delivers at most the trailing
    * uncommitted batch, so any small window (≥2) covers normal crash
    * replay; a replay BELOW the window means the streaming checkpoint
    * itself was restored from backup — the refusal is the correct
    * response (rebuild the store or re-point the checkpoint), not a
    * silent double-apply. */
  private def retentionPath(root: String) = new Path(root, "_retention")

  /** Lowest batch id still provably-skippable; ids below it refuse. */
  private[graft] def retentionWatermark(s: SparkSession, root: String): Long = {
    val p = retentionPath(root)
    val fs = fsFor(s, p)
    if (!fs.exists(p)) return Long.MinValue
    val in = fs.open(p)
    val txt = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    txt.trim.toLong
  }

  /** The exactly-once guard of [[applyOnce]]: true = marker present, skip
    * the batch; false = apply it. An id below the retention watermark
    * throws — see [[retentionSweep]]. */
  private[graft] def batchAlreadyApplied(s: SparkSession, root: String,
      id: Long): Boolean = {
    val fs = fsFor(s, new Path(root))
    if (fs.exists(new Path(s"$root/applied/$id"))) true
    else {
      val wm = retentionWatermark(s, root)
      if (id < wm) throw new IllegalStateException(
        s"batch $id of $root replayed OUTSIDE the retention window " +
          s"(markers swept below $wm): already-applied can no longer be " +
          "proven, and re-applying would duplicate rows. The stream's " +
          "checkpoint predates the store's replay window — rebuild the " +
          "store or advance the checkpoint; do not shrink the window " +
          "below the checkpoint-restore horizon.")
      false
    }
  }

  /** Commit a batch's applied marker — the exactly-once commit point,
    * written last by [[applyOnce]]. */
  private[graft] def markApplied(s: SparkSession, root: String,
      id: Long): Unit = {
    val p = new Path(s"$root/applied/$id")
    val fs = fsFor(s, p)
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  /** Age out ingest-loop metadata older than the newest `keepLast`
    * batches: `applied/<id>` markers and `out/batch=<id>` delivery dirs.
    * Watermark FIRST, deletes after — a crash mid-sweep leaves extra
    * markers (harmless), never a refusable id that would re-apply.
    * Returns (new watermark, removed names). Runs under the store's
    * writer lease like every other mutation. */
  def retentionSweep(s: SparkSession, root: String,
      keepLast: Int): (Long, Seq[String]) = {
    require(keepLast >= 2,
      "keepLast must cover at least the trailing replay batch (≥ 2)")
    Lease.withLease(s, root, "retention-sweep") {
      val fs = fsFor(s, new Path(root))
      val appliedDir = new Path(s"$root/applied")
      val ids: Seq[Long] =
        if (!fs.exists(appliedDir)) Seq.empty
        else fs.listStatus(appliedDir)
          .flatMap(st => st.getPath.getName.toLongOption).toSeq.sorted
      val prior = retentionWatermark(s, root)
      if (ids.size <= keepLast) (prior, Seq.empty)
      else {
        val cutoff = math.max(prior, ids.takeRight(keepLast).head)
        val tmp = new Path(root, "._retention.tmp")
        val out = fs.create(tmp, true)
        out.write(cutoff.toString.getBytes("UTF-8"))
        out.close()
        fs.delete(retentionPath(root), false)
        fs.rename(tmp, retentionPath(root))
        val removed = scala.collection.mutable.ArrayBuffer.empty[String]
        ids.filter(_ < cutoff).foreach { id =>
          if (fs.delete(new Path(appliedDir, id.toString), false))
            removed += s"applied/$id"
          val outDir = new Path(s"$root/out/batch=$id")
          if (fs.exists(outDir) && fs.delete(outDir, true))
            removed += s"out/batch=$id"
        }
        (cutoff, removed.toSeq)
      }
    }
  }

  // ---- the exactly-once ingest harness -------------------------------------

  /** Micro-batches per shard the ingest streams' rate limit aims for: the
    * limit is ceil(maxShardCount / 2), so every SF streams in two
    * deterministic batches regardless of corpus size — enough to exercise
    * an empty-store bootstrap and a later batch against appended history;
    * each extra batch costs a full store round-trip, so the count stays
    * minimal. The stream ([[shardStream]]) and the oracle
    * ([[batchedCte]]) both read this one value. */
  private[graft] val TargetBatches = 2L

  /** One ingest micro-batch of the store rooted at `root`, EXACTLY-ONCE
    * under foreachBatch's at-least-once replay contract:
    *  - a batch whose `applied/<id>` marker exists is skipped wholesale
    *    (the crash-after-write-before-checkpoint replay), and an id below
    *    the retention watermark refuses ([[batchAlreadyApplied]]);
    *  - `body` runs under the batch-scoped confs ([[withBatchConfs]],
    *    `partitions` from [[batchPartitions]] of the trigger's row cap);
    *    it writes its delivery to `root/out/batch=<id>` with OVERWRITE,
    *    so a replay that raced the marker rewrites, never appends. The
    *    body owns that write because its place among the lookups and
    *    appends is the store's: q108/q114 answer from the store state
    *    BEFORE the batch, so they write it before appending;
    *  - the marker commits LAST. A body that throws leaves no marker and
    *    the re-delivered batch runs again.
    * The one window left — crash after the body's store writes, before
    * the marker — re-runs the body on replay; each store closes it on its
    * own side (duplicate-tolerant reads for the LSH/IVF/PQ/text stores,
    * the batch TAG riding the z-store commit, the coordinate-keyed view
    * write of q143). */
  private[graft] def applyOnce(s: SparkSession, root: String, id: Long,
      partitions: Int)(body: => Unit): Unit = {
    if (batchAlreadyApplied(s, root, id)) return
    withBatchConfs(s, partitions) {
      body
      markApplied(s, root, id)
    }
  }

  /** The rate-limited graft-shards stream of `shardDir`, parsed by its
    * `wire` schema, plus the trigger's row cap (limit × NumShards) for
    * [[batchPartitions]]. The limit is ceil(maxShardCount /
    * [[TargetBatches]]) read from chunk-name metadata
    * ([[GraftShards.maxShardCount]]), so with an explicit routing rule the
    * batch membership is `seq div limit` — what [[batchedCte]] restates. */
  private[graft] def shardStream(s: SparkSession, shardDir: String,
      wire: StructType): (DataFrame, Long) = {
    val limit =
      (GraftShards.maxShardCount(shardDir) + TargetBatches - 1) / TargetBatches
    val stream = s.readStream.format("graft-shards")
      .option("startingPosition", "TRIM_HORIZON")
      .option("maxRecordsPerShardPerTrigger", limit.toString)
      .load(shardDir)
      .select(from_json(col("data"), wire).as("r"))
      .select(col("r.*"))
    (stream, limit * GraftShards.NumShards)
  }

  /** Drain `stream` through `body` (an [[applyOnce]] batch) with
    * foreachBatch at `root/ckpt` under AvailableNow, then read back the
    * per-batch deliveries under `root/out` — `batch` widened to long (the
    * partition-dir value is discovered as int). */
  private[graft] def run(s: SparkSession, stream: DataFrame, root: String)(
      body: (DataFrame, Long) => Unit): DataFrame = {
    stream.writeStream
      .foreachBatch { (df: DataFrame, id: Long) => body(df, id) }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    s.read.parquet(s"$root/out").withColumn("batch", col("batch").cast("long"))
  }

  /** The oracle's restatement of [[shardStream]]'s batch membership, as
    * three CTEs (`shardseq`, `lim`, `batched`, no trailing comma) over
    * `rel`: rank within shard `key mod NumShards` by `orderBy` (the order
    * the shards were written in; empty = `key`), divided by ceil(max
    * shard count / [[TargetBatches]]). `batched` yields `key`, the
    * `carry` columns and `batch`. */
  private[graft] def batchedCte(rel: String, key: String,
      orderBy: String = "", carry: Seq[String] = Nil): String = {
    val n = GraftShards.NumShards
    val cols = (key +: carry).mkString(", ")
    val sCols = (key +: carry).map("s." + _).mkString(", ")
    s"""shardseq AS (
  SELECT $cols,
    ROW_NUMBER() OVER (PARTITION BY $key % $n
      ORDER BY ${if (orderBy.isEmpty) key else orderBy}) - 1 AS seq
  FROM $rel),
lim AS (SELECT CAST(CEIL(CAST(MAX(c) AS DOUBLE) / $TargetBatches) AS BIGINT) AS r
  FROM (SELECT COUNT(*) AS c FROM $rel GROUP BY $key % $n)),
batched AS (
  SELECT $sCols, CAST(s.seq // l.r AS BIGINT) AS batch
  FROM shardseq s, lim l)"""
  }

  // ---- tombstones ----------------------------------------------------------

  /** Append tombstone rows `(idCol, src, tpfx = id mod `mod`)` for a
    * delete tagged `src`. Append-mode and therefore replay-duplicating —
    * every consumer deduplicates by id, the same tolerance contract as the
    * data rows. Partitioned by id-mod for bounded file counts and
    * compaction parallelism. */
  private[graft] def writeTombstones(ids: DataFrame, dir: String,
      idCol: String, src: String, mod: Long): Unit =
    ids.select(col(idCol)).distinct()
      .select(col(idCol), lit(src).as("src"),
        pmod(col(idCol), lit(mod)).as("tpfx"))
      .repartition(col("tpfx"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("tpfx").parquet(dir)

  // ---- in-place partition-dir compaction -----------------------------------

  /** Compact every `part=value` dir of `table` to one file of canonical
    * rows (`canon` = the store's read-time dedup + tombstone purge),
    * WITHOUT a version manifest: new files are renamed in first, old files
    * deleted after. A concurrent reader therefore sees old-only, old+new,
    * or new-only — and because every read of these stores already
    * deduplicates by the row's functional key (the crash-replay tolerance
    * recipe), the old+new overlap is semantically invisible. The stores'
    * duplicate tolerance IS the concurrency token; no reader coordination.
    *
    * A dir whose rows are all purged (fully tombstoned) is removed once
    * its old files are gone — `readPruned`'s exists-filter then skips it.
    *
    * Driver work is O(partition dirs) FS calls (the same bound as the
    * stores' pruned-read path collection); the data pass is ONE Spark job
    * over the table, repartitioned on the partition column so each live
    * dir receives exactly one compacted file. */
  def compactPartitioned(s: SparkSession, table: String, partCol: String,
      canon: DataFrame => DataFrame): Unit = {
    val root = new Path(table)
    val fs = fsFor(s, root)
    if (!fs.exists(root)) return
    def dataFiles(d: Path): Seq[Path] =
      fs.listStatus(d).filter(st => st.isFile &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(_.getPath).toSeq
    val dirs = fs.listStatus(root)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(partCol + "="))
      .map(_.getPath).toSeq
    if (dirs.isEmpty) return
    // snapshot the pre-compaction file set: these—and only these—are
    // deleted after the swap (the lease guarantees nothing lands between)
    val oldFiles: Map[String, Seq[Path]] =
      dirs.map(d => d.getName -> dataFiles(d)).toMap
    val tmp = new Path(root.getParent, "." + root.getName + "-compact-tmp")
    fs.delete(tmp, true)
    // the recorded table schema (when the piece has evolved) keeps the
    // compaction pass from footer-inferring a pre-evolution file's shape
    // and silently dropping the evolved columns from the rewrite
    val rd = s.read.option("basePath", table)
    canon(recordedSchema(s, table).fold(rd)(rd.schema)
        .parquet(dirs.map(_.toString): _*))
      .repartition(col(partCol))
      .write.partitionBy(partCol).parquet(tmp.toString)
    for (d <- fs.listStatus(tmp)
         if d.isDirectory && d.getPath.getName.startsWith(partCol + "=")) {
      val live = new Path(root, d.getPath.getName)
      fs.mkdirs(live)
      dataFiles(d.getPath).foreach { f =>
        // "compacted-" + the part-file's uuid name: unique vs live files
        fs.rename(f, new Path(live, "compacted-" + f.getName))
      }
    }
    oldFiles.foreach { case (_, files) => files.foreach(fs.delete(_, false)) }
    // drop dirs left with no data files (fully-tombstoned partitions)
    dirs.foreach { d =>
      if (fs.exists(d) && dataFiles(d).isEmpty) fs.delete(d, true)
    }
    fs.delete(tmp, true)
  }
}
