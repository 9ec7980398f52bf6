package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.{Q, Tables}

/** Multi-dimensional clustering + file-level data skipping: the
  * OPTIMIZE-ZORDER shape of the lakehouse world (Delta/Iceberg publish the
  * same recipe — Morton-interleave the clustering keys, range-partition by
  * the interleaved value, keep per-file min/max stats in a manifest the
  * reader prunes against). A single-column sort gives tight file ranges on
  * ONE column; the z-curve gives usefully-tight ranges on EVERY clustered
  * column at once, so a 100 TB fact table serves selective predicates on
  * either key by opening a small fraction of its files — the planted
  * negative in ZOrderSpec shows the linear layout reading 100% of files
  * for the second column where the z-layout prunes.
  *
  * The z-value is layout-internal (never an output), so it needs no oracle
  * mirroring; correctness of the SKIPPING itself is under q123's exact
  * oracle — a manifest that pruned a file containing matching rows would
  * hash-fail against the plain-filter SQL.
  *
  * ON-DISK LAYOUT — the manifest is the COMMIT LOG, epochs make rebuilds
  * a versioned swap:
  * {{{
  *   root/
  *     d-<uuid>/part-*.parquet     one immutable data dir per write batch
  *     _zmanifest/e<E>/v<N>/       per-version stats parquet; committed
  *                                 when its _SUCCESS exists
  * }}}
  * Readers resolve the HIGHEST epoch with a committed `v0`, then union
  * that epoch's committed versions; they trust ONLY manifest-listed files.
  * Version numbers are allocated by exclusive-created `v<N>.claim` files
  * (the CAS behind lock-free concurrent appends — see [[appendZOrdered]]);
  * `v<N>.rolled` tickets arbitrate the rebase of appends that raced an
  * epoch rewrite ([[rollForwardLateAppends]]). So:
  *  - an append becomes visible atomically when its `v<N>` commits; a
  *    crash before that leaves an invisible data dir (never a partial
  *    batch), and the RETRY lands the rows exactly once —
  *    availability-biased "read unknown files too" would double them;
  *  - a rebuild/re-cluster ([[reclusterZOrdered]], [[writeZOrdered]] over
  *    an existing store) writes fresh data dirs and commits a NEW epoch:
  *    a concurrent reader resolves the old epoch or the new one, never a
  *    mix — the torn-rebuild silent-partial-result window of the old
  *    in-place delete-then-rewrite is structurally gone;
  *  - a manifest-listed file that is MISSING fails the read loudly
  *    (Spark's path-existence check on the explicit file list) instead of
  *    silently dropping rows — listed ⇒ present is an invariant of the
  *    append/vacuum flow ([[vacuumOrphans]] deletes only UNlisted dirs
  *    and superseded epochs, under the writer lease).
  *  - the read path never lists the data directories — O(epoch versions)
  *    manifest metadata + the surviving files themselves (ZOrderSpec pins
  *    this with a listing-recording FileSystem), the listing cost the
  *    commit log exists to avoid on object stores.
  *
  * Stats are harvested from the parquet footers the write already
  * produced — a SPARK JOB over the batch's files (O(batch files) work,
  * distributed; an initial 100 TB build harvests thousands of footers in
  * parallel instead of serially on the driver), through the same
  * canonical encoding + soundness rules as the upsert table's manifest
  * ([[Sources.footerColStats]]: long/string/double/timestamp ranges;
  * INT96, NaN-poisoned doubles and surrogate-bearing string bounds
  * degrade to "always read" — skipping is only ever an optimization,
  * never a correctness gamble; an all-null file is prunable by any range
  * predicate).
  */
object ZOrder {

  /** Dev-only section timer (`SPARK_GRAFT_PROF=1`): attributes wall time
    * to named sections of the multi-job write/commit paths. Needed because
    * StreamExecution pins a thread-local call site for the whole stream,
    * so stage-level profilers cannot attribute work inside foreachBatch
    * bodies. Zero-cost when the env var is absent. */
  private val ProfOn = sys.env.get("SPARK_GRAFT_PROF").contains("1")
  @inline private[graft] def prf[A](name: String)(f: => A): A =
    if (!ProfOn) f else {
      val t0 = System.nanoTime()
      try f finally System.err.println(
        f"[zprof] $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

  /** Quantization width per clustered column (16 bits × 2 columns = a
    * 32-bit z-value; plenty below the per-file row counts that matter). */
  val Bits = 16

  /** Rank-normalize a long column into [0, 2^Bits) — monotone, which is
    * all the curve needs. */
  private def quant(c: Column, mn: Long, mx: Long): Column =
    if (mx == mn) lit(0L)
    else floor((c - lit(mn)).cast("double") *
      lit(((1L << Bits) - 1).toDouble / (mx - mn).toDouble)).cast("long")

  /** Morton interleave: bit i of column j lands at position i*n+j, so the
    * curve alternates one bit of each dimension from the top down. n=1
    * degenerates to a plain sort (the linear baseline ZOrderSpec plants). */
  private def interleave(qs: Seq[Column]): Column = {
    val n = qs.length
    val terms = for {
      (q, j) <- qs.zipWithIndex
      i <- 0 until Bits
    } yield shiftleft(q.bitwiseAND(lit(1L << i)), i * (n - 1) + j)
    terms.reduce(_ bitwiseOR _)
  }

  // ---- commit-log plumbing ------------------------------------------------

  /** Manifest row key of the per-version recorded-schema row (`mn` holds
    * the DDL); every other row is a per-(file, column) stat. */
  private val DdlKey = "__ddl__"

  /** Manifest row key of the per-file SIZE row (`mn` holds the byte
    * length): recorded at harvest so maintenance ops ([[compactSmallFiles]])
    * pick their candidates from the manifest instead of issuing O(table
    * files) HEAD calls — the reason Delta keeps sizes in its log. Never a
    * pruning column; [[statRows]] filters it out of the stats plane. */
  private val SizeKey = "__size__"

  /** Manifest row key of the per-file ROW-COUNT row (`mn` holds the
    * count, from block metadata — parquet always records it): harvested
    * so [[countZRange]] answers a fully-covered file from the manifest
    * alone — Delta's metadata-only `SELECT COUNT(*)` (q139's store). */
  private val CountKey = "__count__"

  /** Manifest row-key PREFIX of the per-(file, lowercased column)
    * NULL-COUNT rows (`mn` holds the count, or null when some chunk
    * didn't record numNulls): [[countZRange]] counts a file from
    * metadata only when every predicate column provably holds ZERO
    * nulls — null rows never match a range predicate, so a
    * covered-range file with nulls would overcount. */
  private val NullsPfx = "__nulls__:"

  /** Per-file HASH-BUCKET id of a bucketed store's data files (`mn`
    * slot) — the storage-partitioned-join plane's manifest row
    * ([[recordedBucketing]]); `__`-prefixed like every internal key, so
    * [[statRows]] keeps it out of the pruning plane. */
  private[sources] val BucketKey = "__bucket__"

  /** STABLE ROW IDENTITY (r15 — Delta's row tracking): every row carries
    * a hidden physical `__rid` BIGINT, unique per store, allocated from
    * a high-water mark (`_zschema/ridhw`) under the commit turnstile and
    * stamped by [[zWrite]] at first write; every rewrite READS it
    * alongside the recorded schema ([[ridded]]) and carries it through
    * survivors/updated rows, so a row keeps its identity across
    * delete/update/optimize/recluster — what lets the SQL row-level
    * change feed pair exact pre/postimages instead of multiset diffs
    * (and the deletion-vector prerequisite if that closure reopens).
    * Hidden by construction: the recorded schema (manifest DDL) never
    * contains it, so every schema'd read is unchanged; files predating
    * r15 null-fill (readers fall back to the multiset algebra for
    * null-rid rows). Exposed on the DSv2 table as a METADATA column
    * (`SELECT __rid FROM graftz.ns.t` works; `SELECT *` never shows it —
    * Delta's `_metadata.row_id` shape). */
  private[sources] val RidCol = "__rid"

  /** The recorded schema plus the hidden [[RidCol]] — what rewrite reads
    * use so identity survives the copy-on-write. */
  private[sources] def ridded(schema: StructType): StructType =
    StructType(schema.fields :+
      StructField(RidCol, org.apache.spark.sql.types.LongType,
        nullable = true))

  // ---- COLUMN MAPPING (r16): logical names over stable physical names ----

  /** Manifest row key of the per-version COLUMN-MAPPING row (`mn` holds
    * the encoded mapping) — Delta's column mapping / Iceberg's field
    * ids in the store's grammar. The latest committed row governs a
    * snapshot; epoch rewrites carry it; TIME TRAVEL therefore reads a
    * past snapshot under the names of that time. */
  private val ColmapKey = "__colmap__"

  /** Logical↔physical column mapping of one snapshot. Data files,
    * manifest stats, bloom sidecars, recorded clustering/bucketing
    * policy and change records are all keyed by a column's PHYSICAL
    * name — the name it was created under, immutable for the column's
    * lifetime — while the table surface (schemas, predicates, incoming
    * frames, SQL) speaks LOGICAL names. `ALTER TABLE RENAME COLUMN` =
    * a new mapping entry; `DROP COLUMN` = the physical name marked
    * dropped (hidden from every read plane; the bytes stay — at 100 TB
    * both are a metadata commit, never a table rewrite). The identity
    * mapping (every store that never renamed/dropped) short-circuits
    * all translation to a no-op. Lookups are case-insensitive
    * throughout (the stat plane's discipline). */
  private[sources] final case class ColMap(
      renames: Seq[(String, String)], // (physical, logical), non-identity
      dropped: Seq[String]) {         // physical names, hidden
    def isIdentity: Boolean = renames.isEmpty && dropped.isEmpty
    def isDropped(phys: String): Boolean =
      dropped.exists(_.equalsIgnoreCase(phys))
    /** The surface name of a physical column (identity when unmapped). */
    def logicalOf(phys: String): String =
      renames.find(_._1.equalsIgnoreCase(phys)).map(_._2).getOrElse(phys)
    /** The storage name of a logical column: a mapping entry wins;
      * otherwise the name itself — unless that physical slot is
      * renamed-away or dropped (then the logical name does not exist,
      * and a NEW column may not take the retired slot either: old files
      * still hold its bytes under that name). */
    def physOf(logical: String): Option[String] = {
      val hit = renames.find(_._2.equalsIgnoreCase(logical)).map(_._1)
      hit.orElse {
        if (isDropped(logical) ||
            renames.exists(_._1.equalsIgnoreCase(logical))) None
        else Some(logical)
      }
    }
    def physOfOrRefuse(logical: String, path: String): String =
      physOf(logical).getOrElse(throw new IllegalArgumentException(
        s"column $logical is not in the z-store schema at $path " +
          "(renamed or dropped? see the recorded column mapping)"))
  }

  private[sources] val IdentityColMap: ColMap = ColMap(Seq.empty, Seq.empty)

  /** Wire form: one line per entry — `R<TAB>phys<TAB>logical` /
    * `D<TAB>phys`. Rename targets are validated to be tab/newline-free
    * identifiers, so the encoding never ambiguates. */
  private def encodeColMap(cm: ColMap): String =
    (cm.renames.map { case (p, l) => s"R\t$p\t$l" } ++
      cm.dropped.map(p => s"D\t$p")).mkString("\n")

  private def decodeColMap(s: String): ColMap = {
    val lines = s.split('\n').filter(_.nonEmpty)
    ColMap(
      lines.collect { case l if l.startsWith("R\t") =>
        val Array(_, p, lg) = l.split('\t'); (p, lg) }.toSeq,
      lines.collect { case l if l.startsWith("D\t") =>
        l.split('\t')(1) }.toSeq)
  }

  /** The LOGICAL (surface) schema of a snapshot: renames applied,
    * dropped columns hidden. */
  private[sources] def logicalSchema(physical: StructType,
      cm: ColMap): StructType =
    if (cm.isIdentity) physical
    else StructType(physical.fields.flatMap { f =>
      if (cm.isDropped(f.name)) None
      else Some(f.copy(name = cm.logicalOf(f.name)))
    })

  private def bq(c: String): Column = col(s"`$c`")

  /** Rename a PHYSICAL frame's columns to their logical names and hide
    * dropped ones — the read-boundary translation. Internal columns
    * ([[RidCol]], the CDF metadata columns) can never be mapped (rename
    * refuses them), so they pass through as identity. */
  private def toLogicalDf(df: DataFrame, cm: ColMap): DataFrame =
    if (cm.isIdentity) df
    else df.select(df.schema.fieldNames.flatMap { c =>
      if (cm.isDropped(c)) None
      else Some(bq(c).as(cm.logicalOf(c)))
    }.toSeq: _*)

  /** Rename a LOGICAL frame's columns to their physical names — the
    * write-boundary translation. A column whose name collides with a
    * RETIRED physical slot (renamed-away or dropped) refuses loudly:
    * old files still hold bytes under that name, so landing new data
    * there would silently mix two generations of columns. */
  private def toPhysicalDf(df: DataFrame, cm: ColMap,
      path: String): DataFrame =
    if (cm.isIdentity) df
    else df.select(df.schema.fieldNames.map { c =>
      if (c.equalsIgnoreCase(RidCol)) bq(c)
      else cm.physOf(c) match {
        case Some(p) if p == c => bq(c)
        case Some(p) => bq(c).as(p)
        case None => throw new IllegalArgumentException(
          s"column $c of the incoming batch collides with a RETIRED " +
            s"physical column name of the z-store at $path (renamed " +
            "away or dropped) — old files still hold that column's " +
            "bytes; pick a different name")
      }
    }.toSeq: _*)

  /** Translate the predicate language's column names logical→physical
    * (strict: an unknown logical name refuses, like every read path
    * always has). */
  private def translatePreds(cm: ColMap, path: String,
      preds: Seq[(String, Any, Any)]): Seq[(String, Any, Any)] =
    if (cm.isIdentity) preds
    else preds.map { case (c, lo, hi) =>
      (cm.physOfOrRefuse(c, path), lo, hi) }

  /** Translate a column-name list logical→physical LENIENTLY: a name
    * that is already a live physical name passes through — internal
    * callers hand recorded (physical) clustering/bucketing keys through
    * public entry points, and those must keep resolving after a rename
    * of their logical alias. */
  private def translateColsLenient(cm: ColMap, path: String,
      cols: Seq[String]): Seq[String] =
    if (cm.isIdentity) cols
    else cols.map { c =>
      cm.physOf(c).getOrElse {
        if (cm.isDropped(c)) throw new IllegalArgumentException(
          s"column $c of the z-store at $path is dropped")
        else c // a renamed column's PHYSICAL name from an internal caller
      }
    }

  /** Translate a SQL expression string's single-part attribute
    * references logical→physical (UPDATE SET expressions evaluate over
    * the physical frame). Parse → rename → render; an unknown logical
    * reference refuses like every strict boundary. */
  private def translateExprRefs(cm: ColMap, path: String,
      e: String): String =
    if (cm.isIdentity) e
    else {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(e).transform {
          case a: UnresolvedAttribute if a.nameParts.length == 1 =>
            UnresolvedAttribute(Seq(cm.physOfOrRefuse(a.name, path)))
        }.sql
    }

  /** The single-part attribute names a SQL expression references —
    * what the rename/drop refusal checks against CHECK constraints. */
  private def exprRefNames(e: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(e).collect {
        case a: UnresolvedAttribute => a.nameParts.head
      }
    catch { case _: Exception => Seq.empty }
  }

  /** The current (or time-travel) column mapping of a store — served
    * from the [[manifestMeta]] snapshot cache (the answer only changes
    * with a commit; identity for stores that never mapped). */
  private[sources] def colMapFor(s: SparkSession, path: String,
      at: Option[(Long, Long)] = None): ColMap =
    currentSnapshotOrAt(s, path, at) match {
      case None => IdentityColMap
      case Some(snap) => colMapForSnap(s, path, snap)
    }

  private[sources] def colMapForSnap(s: SparkSession, path: String,
      snap: ZSnapshot): ColMap = manifestMeta(s, snap)._2

  private def currentSnapshotOrAt(s: SparkSession, path: String,
      at: Option[(Long, Long)]): Option[ZSnapshot] = at match {
    case Some((e, v)) => Some(snapshotAt(s, path, e, v))
    case None => currentSnapshot(s, path)
  }

  /** Physical (name, catalog-type) read fields for a LOGICAL field list
    * — what the DSv2 reader factories hand the parquet decode plane
    * (rows are positional, so only the REQUESTED names must be
    * physical). Non-data columns (metadata/_change_type/coordinates)
    * pass through identity. */
  private[sources] def physicalReadFields(s: SparkSession, path: String,
      at: Option[(Long, Long)], fields: Array[(String, String)])
      : Array[(String, String)] = {
    val cm = colMapFor(s, path, at)
    if (cm.isIdentity) fields
    else fields.map { case (n, ddl) => (cm.physOf(n).getOrElse(n), ddl) }
  }

  /** The LOGICAL name of a recorded (physical) layout column — what the
    * DSv2 table reports in partitioning/bucketing surfaces. */
  private[sources] def logicalNameFor(s: SparkSession, path: String,
      phys: String): String = colMapFor(s, path, None).logicalOf(phys)

  /** Apply a snapshot's mapping to a PHYSICAL schema — the table-schema
    * surface for the DSv2/zcdf planes. */
  private[sources] def logicalSchemaFor(s: SparkSession, path: String,
      at: Option[(Long, Long)], physical: StructType): StructType =
    logicalSchema(physical, colMapFor(s, path, at))

  /** Allocate `span` fresh row ids: bump `_zschema/ridhw` under the
    * commit turnstile (tiny critical section — one file read + write).
    * A crash after the bump leaks a gap, never a duplicate.
    *
    * CRASH SAFETY (r16 advisor): the mark is never truncated in place —
    * the new value lands in a sibling `ridhw.new.*` file first and
    * renames over the mark only after a complete flush, so the OLD mark
    * survives every crash window. Read rule: the MAX parseable value
    * across the mark and any leftover `.new` siblings. That max can
    * never mint a duplicate: a torn `.new` numeral is a strict decimal
    * PREFIX of `old + span`, so it is strictly below the value a crashed
    * bump would have returned — and that bump returned to nobody (the
    * crash killed its caller before a single rid was stamped), so any
    * value in [old, old+span] is a safe restart point; max(old, torn)
    * is always in that interval. A store whose ridhw files exist but
    * NONE parse refuses loudly with the recovery recipe instead of
    * silently rewinding to 0 (which would re-mint every id). */
  private def allocateRids(s: SparkSession, path: String,
      span: Long): Long =
    withCommitLock(s, path, "rid-alloc") { _ =>
      val dir = new Path(path, "_zschema")
      val p = new Path(dir, "ridhw")
      val fs = StoreMaint.fsFor(s, p)
      fs.mkdirs(dir)
      def parse(f: Path): Option[Long] =
        try {
          val in = fs.open(f)
          val b = try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
          new String(b, "UTF-8").trim.toLongOption
        } catch { case _: java.io.IOException => None }
      val candidates = (if (fs.exists(dir)) fs.listStatus(dir).toSeq
        else Seq.empty)
        .map(_.getPath)
        .filter(f => f.getName == "ridhw" || f.getName.startsWith("ridhw.new."))
      val parsed = candidates.flatMap(parse)
      require(candidates.isEmpty || parsed.nonEmpty,
        s"$path: the row-id high-water mark (_zschema/ridhw) exists but " +
          "is unreadable — a crashed writer tore it. Recover by writing " +
          "the decimal value (1 + max(__rid) across every data file of " +
          "the store) to _zschema/ridhw; do NOT delete it (a missing " +
          "mark restarts at 0 and re-mints existing row ids)")
      val cur = parsed.maxOption.getOrElse(0L)
      // id-space budget: spans are (partitions+1) << 33, so even a
      // 65536-bucket store exhausts 2^63 only after ~16k writes — but
      // exhaustion must REFUSE loudly, never wrap into duplicate ids
      require(cur <= Long.MaxValue - span,
        s"$path: the row-id high-water mark would overflow Long " +
          s"(hw=$cur, span=$span) — the id space is exhausted; migrate " +
          "the data into a fresh store path (identities restart there)")
      val tmp = new Path(dir, "ridhw.new." +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12))
      val out = fs.create(tmp, true)
      try out.write((cur + span).toString.getBytes("UTF-8"))
      finally out.close()
      if (fs.exists(p)) fs.delete(p, false)
      require(fs.rename(tmp, p),
        s"$path: could not install the new row-id high-water mark " +
          s"($tmp -> $p)")
      // sweep older crash leftovers now that the mark is re-installed
      candidates.filter(_.getName.startsWith("ridhw.new."))
        .foreach(f => if (fs.exists(f)) fs.delete(f, false))
      cur
    }

  /** The per-(file, column) PRUNING stats — excludes the DDL rows and the
    * `__`-prefixed per-file metadata rows (size/count/nulls). */
  private def statRows(man: DataFrame): DataFrame =
    man.filter(!col("c").startsWith("__"))

  private def manifestRoot(path: String) = new Path(path, "_zmanifest")

  private def parseIdx(name: String, pfx: String): Option[Long] =
    if (name.startsWith(pfx)) name.drop(pfx.length).toLongOption else None

  private def isCommitted(fs: org.apache.hadoop.fs.FileSystem,
      v: Path): Boolean = fs.exists(new Path(v, "_SUCCESS"))

  private[sources] final case class ZSnapshot(epoch: Long, epochDir: Path,
      vdirs: Seq[Path])

  /** Resolve the current committed snapshot: the highest epoch whose v0
    * committed, with that epoch's committed versions in order. O(epochs +
    * versions) manifest-dir metadata; the data dirs are never listed. */
  private[sources] def currentSnapshot(s: SparkSession,
      path: String): Option[ZSnapshot] = {
    val mroot = manifestRoot(path)
    val fs = StoreMaint.fsFor(s, mroot)
    if (!fs.exists(mroot)) return None
    val epochs = fs.listStatus(mroot).filter(_.isDirectory)
      .flatMap(st => parseIdx(st.getPath.getName, "e").map(_ -> st.getPath))
      .sortBy(-_._1)
    epochs.find { case (_, p) => isCommitted(fs, new Path(p, "v0")) }
      .map { case (e, edir) =>
        val vdirs = fs.listStatus(edir).filter(_.isDirectory)
          .flatMap(st => parseIdx(st.getPath.getName, "v").map(_ -> st.getPath))
          .filter { case (_, v) => isCommitted(fs, v) }
          .sortBy(_._1).map(_._2).toSeq
        ZSnapshot(e, edir, vdirs)
      }
  }

  /** The snapshot's manifest rows and its recorded table schema (the
    * LATEST committed version's DDL, deep-nullable so files predating a
    * column null-fill — the upsert table's read-schema discipline). */
  private def manifestAndSchema(s: SparkSession,
      snap: ZSnapshot): (DataFrame, StructType) = {
    val (man, schema, _) = manifestSchemaMap(s, snap)
    (man, schema)
  }

  /** The snapshot's manifest rows as a LAZY frame — no job until an
    * actual stat/file scan forces it. */
  private def manifestDf(s: SparkSession, snap: ZSnapshot): DataFrame =
    s.read.parquet(snap.vdirs.map(_.toString): _*)

  /** Collected manifest META of one snapshot: recorded PHYSICAL schema
    * (latest committed DDL, deep-nullable), column mapping, and the full
    * batch-TAG set — memoized per snapshot identity like the scan-plan
    * cache. One snapshot used to pay this collect 2-4× per append/DML
    * (boundary translation, schema union, replay check, landed check,
    * carried tags), each a full Spark job on the hot commit path; the
    * answer only changes with a commit, which changes the key (r17
    * optimization — guide §1.2 "remove passes", §5 driver work). */
  private val manifestMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (StructType, ColMap, Set[String])]()

  private def snapCacheKey(s: SparkSession, snap: ZSnapshot): String =
    s"${snap.epochDir}|i${snapIdentity(s, snap)}|" +
      snap.vdirs.map(_.getName).sorted.mkString(",")

  private def manifestMeta(s: SparkSession, snap: ZSnapshot)
      : (StructType, ColMap, Set[String]) = {
    val key = snapCacheKey(s, snap)
    val hit = manifestMetaCache.get(key)
    if (hit != null) return hit
    val meta = manifestDf(s, snap).filter(col("c").isin(DdlKey, ColmapKey))
      .select(col("ver"), col("c"), col("mn"), col("mx")).collect()
    val ddl = meta.filter(_.getString(1) == DdlKey)
      .sortBy(-_.getLong(0)).headOption.getOrElse(
        throw new IllegalStateException(
          s"manifest of epoch ${snap.epoch} has no recorded schema row"))
      .getString(2)
    val cm = meta.filter(_.getString(1) == ColmapKey)
      .sortBy(-_.getLong(0)).headOption
      .map(r => decodeColMap(r.getString(2))).getOrElse(IdentityColMap)
    val tags = meta.iterator
      .filter(r => r.getString(1) == DdlKey && !r.isNullAt(3))
      .map(_.getString(3)).toSet
    val schema = Sources.deepNullable(StructType.fromDDL(ddl))
      .asInstanceOf[StructType]
    val res = (schema, cm, tags)
    if (manifestMetaCache.size() > 64) manifestMetaCache.clear()
    manifestMetaCache.put(key, res)
    res
  }

  /** Every batch tag recorded in the snapshot's manifest — cached, no
    * job (sorted for deterministic manifest row order downstream). */
  private def manifestTagsOf(s: SparkSession, snap: ZSnapshot): Set[String] =
    manifestMeta(s, snap)._3

  /** The snapshot's manifest rows, recorded PHYSICAL schema, and column
    * mapping — the schema/mapping from the cached meta collect; the
    * manifest frame stays lazy. */
  private def manifestSchemaMap(s: SparkSession,
      snap: ZSnapshot): (DataFrame, StructType, ColMap) = {
    val (schema, cm, _) = manifestMeta(s, snap)
    (manifestDf(s, snap), schema, cm)
  }

  private def requireSnapshot(s: SparkSession, path: String): ZSnapshot =
    currentSnapshot(s, path).getOrElse(throw new IllegalArgumentException(
      s"no committed z-store under $path"))

  /** Is there a committed z-store at `path`? O(epochs) manifest-dir
    * metadata — what the table surface's create-on-write branch checks. */
  private[sources] def storeExists(s: SparkSession, path: String): Boolean =
    currentSnapshot(s, path).nonEmpty

  /** The store's recorded CLUSTERING KEYS — store POLICY like the CHECK
    * constraints (one small `_zschema/clustering` file outside the
    * manifest; epoch rewrites and restores never touch it), written by
    * every epoch-creating op that takes a zcols parameter. What lets a
    * write that does not restate the keys (`INSERT INTO` through the
    * catalog, `df.write` without the option) cluster the way the table
    * was declared. */
  private def zcolsFile(path: String) = new Path(path, "_zschema/clustering")
  private def bucketingFile(path: String) =
    new Path(path, "_zschema/bucketing")

  /** The recorded HASH-BUCKET layout policy (`_zschema/bucketing` =
    * `col:n`, the clustering-policy discipline): when present, every
    * batch routes rows by `pmod(col, n)` into one file per bucket per
    * batch, each file's bucket id rides the manifest ([[BucketKey]]
    * rows), and the DSv2 scan reports `KeyGroupedPartitioning(bucket(n,
    * col), n)` — what lets two graft-z tables bucketed the same way
    * join with ZERO exchange (Iceberg's storage-partitioned join; the
    * r13 verdict's item 2). The bucket function is pmod on the long
    * key ([[ZCatalog]]'s `bucket` V2 function is the engine-visible
    * twin); layout-internal, so it needs no oracle mirroring. */
  private[sources] def recordedBucketing(s: SparkSession,
      path: String): Option[(String, Int)] = {
    val p = bucketingFile(path)
    val fs = StoreMaint.fsFor(s, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      body.split(':') match {
        case Array(c, n) => Some((c, n.toInt))
        case _ => None
      }
    }
  }

  private[graft] def recordBucketing(s: SparkSession, path: String,
      bcol: String, n: Int): Unit = {
    require(n > 0 && n <= 65536, s"bucket count $n out of range (1..65536)")
    val p = bucketingFile(path)
    val fs = StoreMaint.fsFor(s, p)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(s"$bcol:$n".getBytes("UTF-8")) finally out.close()
  }

  private[sources] def recordedZcols(s: SparkSession,
      path: String): Option[Seq[String]] = {
    val p = zcolsFile(path)
    val fs = StoreMaint.fsFor(s, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      Some(body.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
    }
  }

  /** Metadata-only ADD COLUMN — the catalog's `ALTER TABLE … ADD
    * COLUMN` ([[ZCatalog.alterTable]]): commit the evolved DDL as the
    * epoch's next manifest version with NO files (every existing row
    * null-fills through the recorded-schema read, exactly like a file
    * predating an evolved column). Add-only by construction — the same
    * contract the write path's union enforces; existing names refuse.
    * Lease-held so two evolutions serialize; the pre-existing
    * append-vs-append DDL-union race semantics are unchanged. Returns
    * the evolved schema. */
  private[sources] def evolveAddColumns(s: SparkSession, path: String,
      adds: Seq[StructField]): StructType =
    Lease.withLease(s, path, "zorder-evolve") {
      require(adds.nonEmpty, "ADD COLUMN needs at least one column")
      val snap = requireSnapshot(s, path)
      val (_, recorded, cmE) = manifestSchemaMap(s, snap)
      adds.foreach { f =>
        require(!logicalSchema(recorded, cmE)
            .exists(_.name.equalsIgnoreCase(f.name)),
          s"column ${f.name} already exists in $path")
        // a RETIRED physical slot (renamed-away or dropped) may not be
        // re-used: old files still hold its bytes under that name
        require(cmE.physOf(f.name).exists(_.equalsIgnoreCase(f.name)),
          s"column ${f.name} collides with a retired physical column " +
            s"name of $path (renamed away or dropped) — pick another name")
      }
      val union = StructType(recorded.fields ++
        adds.map(_.copy(nullable = true))) // old rows read null
      val ver = claimNextVersion(StoreMaint.fsFor(s, snap.epochDir),
        snap.epochDir)
      writeManifestVersion(s, snap.epochDir, ver, union.toDDL, Seq.empty,
        op = "evolve")
      union
    }

  private def recordZcols(s: SparkSession, path: String,
      zcols: Seq[String]): Unit = {
    val p = zcolsFile(path)
    val fs = StoreMaint.fsFor(s, p)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(zcols.mkString(",").getBytes("UTF-8")) finally out.close()
  }

  /** Manifest-listed relative data-file paths of the current snapshot —
    * ops/spec surface; O(table files) driver rows by nature. */
  def listDataFiles(s: SparkSession, path: String): Seq[String] = {
    val snap = requireSnapshot(s, path)
    val (man, _) = manifestAndSchema(s, snap)
    man.filter(!col("c").isin(DdlKey, ColmapKey)).select(col("f")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
  }

  // ---- write paths --------------------------------------------------------

  /** Build (or REBUILD) `df` z-clustered on `zcols` (long-typed) into
    * `numFiles` range-partitioned files under a NEW EPOCH — over an
    * existing store this is a versioned swap, not an in-place rewrite:
    * old epoch and files stay readable until [[vacuumOrphans]]. Stats for
    * `statCols` (default: the z columns) ride the epoch's v0 manifest. */
  def writeZOrdered(df: DataFrame, path: String, zcols: Seq[String],
      numFiles: Int, statCols: Seq[String] = Seq.empty): Unit = {
    require(!df.schema.fieldNames.exists(_.equalsIgnoreCase(RidCol)),
      s"$RidCol is the store's hidden row-identity column, not a data " +
        "column")
    val s = df.sparkSession
    // bootstrap of a fresh store at a previously-used path restarts the
    // epoch names — drop any cached plans of the old occupant (same-tick
    // mtime collision defense; catalog drop/create invalidate too)
    if (currentSnapshot(s, path).isEmpty)
      invalidateScanPlans(path)
    // a REBUILD over a mapped store keeps the table identity: incoming
    // logical columns land under their physical names, the mapping
    // carries into the new epoch
    val cm = colMapFor(s, path)
    Lease.withLease(s, path, "zorder-write") {
      commitNewEpoch(toPhysicalDf(df, cm, path), path,
        translateColsLenient(cm, path, zcols), numFiles,
        translateColsLenient(cm, path, statCols), colmap = cm)
    }
  }

  /** Bounded RE-PLAN retry for maintenance rewrites (r16 — the verdict's
    * item 3): [[reclusterZOrdered]] / [[compactSmallFiles]] consume every
    * base file, so ANY concurrent DML that commits first wins their
    * optimistic race ([[ConcurrentZRewriteException]] — Delta's
    * OPTIMIZE-loses rule). Delta's OPTIMIZE retries internally with a
    * re-plan; this is that loop: each attempt re-resolves the snapshot
    * and re-runs the whole data plan, so a cron'd OPTIMIZE on a hot
    * table eventually lands without caller intervention. Bounded (6
    * attempts, 200ms..2s exponential backoff) so a table under
    * continuous heavy DML still fails loudly rather than spinning. DML
    * statements do NOT auto-retry — their rebase machinery already
    * absorbs disjoint concurrency, and a true overlap is a user-visible
    * conflict (Delta's contract). */
  private val MaintenanceRetryAttempts = 6

  private def retryMaintenance[T](what: String, path: String)
      (body: => T): T = {
    var attempt = 0
    var backoff = 200L
    while (true) {
      attempt += 1
      try return body
      catch { case e: ConcurrentZRewriteException =>
        if (attempt >= MaintenanceRetryAttempts)
          throw new ConcurrentZRewriteException(
            s"$what on $path lost its optimistic race " +
              s"$MaintenanceRetryAttempts times in a row (steady " +
              s"concurrent DML?) — last conflict: ${e.getMessage}")
        Thread.sleep(backoff)
        backoff = math.min(backoff * 2, 2000L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Re-cluster the CURRENT snapshot into a fresh epoch — the periodic
    * OPTIMIZE that restores clustering quality after appends degrade it.
    * Same versioned-swap commit as [[writeZOrdered]]: concurrent readers
    * see the old snapshot or the new one, never a mix. */
  def reclusterZOrdered(s: SparkSession, path: String, zcols: Seq[String],
      numFiles: Int, statCols: Seq[String] = Seq.empty): Unit = {
    val (zcols0, statCols0) = (zcols, statCols)
    retryMaintenance("recluster", path) {
    recoverUnderCommitLock(s, path)
    val cmR = colMapFor(s, path)
    val zcolsP = translateColsLenient(cmR, path, zcols0)
    val statColsP = translateColsLenient(cmR, path, statCols0)
    // batch tags carry into the new epoch: a replayed tagged append
    // stays a no-op even when the re-cluster already folded its rows in
    // (the OCC helper carries the snapshot's tags)
    val snap = requireSnapshot(s, path)
    val (man, schema) = manifestAndSchema(s, snap)
    val files = man.filter(!col("c").isin(DdlKey, ColmapKey)).select(col("f"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    // rows re-read WITH their hidden identity ([[ridded]]) so a
    // recluster never re-mints row ids
    val df =
      if (files.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
      else s.read.schema(ridded(schema))
        .parquet(files.map(f => s"$path/$f"): _*)
    recordZcols(s, path, zcolsP)
    val stats = zWrite(df, path, zcolsP, numFiles) match {
      case Some(dname) => harvestStats(s, path, dname,
        if (statColsP.nonEmpty) statColsP else zcolsP, schema)
      case None => Seq.empty
    }
    // consumed = EVERY base file: a recluster loses to any concurrent
    // rewrite (Delta's OPTIMIZE-vs-DML resolution) but coexists with
    // appends (rolled forward past the watermark)
    commitRewriteEpoch(s, path, snap, files, schema.toDDL, stats,
      Seq.empty, None, op = "recluster")
    ()
    }
  }

  /** Append a batch: z-sort it by its OWN bounds into a fresh data dir of
    * `numFiles` files, harvest those footers, and commit the stats as the
    * epoch's next manifest version — the batch becomes visible atomically
    * at that commit. An EMPTY batch is a complete no-op (no dir, no
    * version) — the realistic retry/filtered-source edge. Clustering
    * quality degrades as appends accumulate ([[reclusterZOrdered]]
    * restores it); skipping soundness never does: stats are actual footer
    * ranges.
    *
    * `tag` (unique per logical batch) makes the append EXACTLY-ONCE under
    * at-least-once replay: a committed version already carrying the tag
    * turns the replay into a no-op — the z-store has no key-dedup read
    * tolerance to lean on (rows aren't functional in a key), so the tag
    * IS the idempotence mechanism, riding the version commit itself
    * (crash after data, before the version: invisible orphan, retry
    * lands once; crash after the version, before the caller's own
    * marker: the tag skips the re-append).
    *
    * CONCURRENCY — appends are LOCK-FREE (optimistic), rewrites keep the
    * lease: appends write disjoint fresh files, so two can never truly
    * conflict; serializing them on a TTL lock would make the lock the
    * ingest-throughput ceiling at N pipelines per store (the r9 verdict
    * item). The commit CAS is [[claimNextVersion]]'s exclusive-create of
    * the version's claim file: a lost claim re-reads and takes the next
    * number, and each writer lands its own manifest version — the
    * Delta-style optimistic commit for the only operation where
    * conflicts are impossible by construction. Racing a lease-held
    * EPOCH REWRITE (delete/merge/re-cluster/optimize/manifest-compact)
    * is resolved append-wins, never lost: the rewrite rolls late
    * committed versions of the superseded epoch forward into the new
    * epoch ([[rollForwardLateAppends]]), and an appender that observes
    * the swap re-commits itself into the new epoch — the `.rolled`
    * rebase ticket (exclusive-create again) picks exactly ONE of the
    * two, so the rows land once (spec-pinned by racing real threads).
    * Bootstrap of an EMPTY store is the one lease-guarded append path
    * (epoch-0 creation has no claim substrate yet); contenders wait out
    * the bootstrap and proceed optimistically. */
  def appendZOrdered(df: DataFrame, path: String, zcols: Seq[String],
      numFiles: Int, statCols: Seq[String] = Seq.empty,
      tag: Option[String] = None): Unit = {
    val (df0, zcols0, statCols0) = (df, zcols, statCols)
    val s = df0.sparkSession
    require(!df0.schema.fieldNames.exists(_.equalsIgnoreCase(RidCol)),
      s"$RidCol is the store's hidden row-identity column, not a data " +
        "column")
    // column-mapping boundary: incoming LOGICAL columns land under their
    // physical names. OCC-safe by construction: physical names are
    // STABLE across renames, so a mapping commit racing this append can
    // never invalidate the translation (a concurrent DROP merely leaves
    // a hidden column in the batch's files).
    val cmA = colMapFor(s, path)
    val dfP = toPhysicalDf(df0, cmA, path)
    val zcolsP = translateColsLenient(cmA, path, zcols0)
    val statColsP = translateColsLenient(cmA, path, statCols0)
    var attempts = 0
    var done = false
    while (!done) {
      currentSnapshot(s, path) match {
        case Some(snap) =>
          appendOcc(dfP, path, zcolsP, numFiles, statColsP, tag, snap)
          done = true
        case None =>
          attempts += 1
          require(attempts <= 300,
            s"append to $path: could not bootstrap the first epoch " +
              "(another writer holds the lease and has not committed)")
          try {
            Lease.withLease(s, path, "zorder-append-bootstrap") {
              currentSnapshot(s, path) match {
                case None =>
                  commitNewEpoch(dfP, path, zcolsP, numFiles, statColsP,
                    tag.toSeq, op = "append")
                  done = true
                case Some(_) => // bootstrapped meanwhile: loop → OCC path
              }
            }
          } catch {
            case _: Lease.HeldException => Thread.sleep(100) // then re-check
          }
      }
    }
  }

  /** The lock-free append commit against an existing store — see
    * [[appendZOrdered]]'s concurrency contract. */
  private def appendOcc(df: DataFrame, path: String, zcols: Seq[String],
      numFiles: Int, statCols: Seq[String], tag: Option[String],
      snap0: ZSnapshot): Unit = {
    val s = df.sparkSession
    val (recorded0, _, tags0) = manifestMeta(s, snap0)
    val replayed = tag.exists(tags0.contains)
    if (replayed) return
    // the recorded table schema evolves by the same add-only union as the
    // index stores (StoreMaint.unionSchemas): an append may ADD columns
    // (old files null-fill), may OMIT recorded columns (its rows read
    // null — recording only the batch schema here would silently hide
    // carried columns from every later read), and refuses a type change
    // BEFORE any data lands
    StoreMaint.unionSchemas(s"$path (z-store)", Some(recorded0), df.schema)
    zWrite(df, path, zcols, numFiles).foreach { dname =>
      val stats = harvestStats(s, path, dname,
        if (statCols.nonEmpty) statCols else zcols, df.schema)
      // the commit loop: claim a version number in the CURRENT epoch,
      // write it, and re-check the epoch afterwards — a concurrent
      // lease-held rewrite may have swapped epochs under us, superseding
      // the version we just committed
      var lastCommitted: Option[(Long, Path, Long)] = None
      var ticketLost = false
      var commits = 0
      var polls = 0
      var done = false
      while (!done) {
        val snap = requireSnapshot(s, path)
        val (recorded, _, tagsNow) = manifestMeta(s, snap)
        // our dname only ever enters a manifest through OUR OWN
        // writeManifestVersion (fresh UUID) — before the first commit
        // attempt the probe job can't match, so skip it (r17: one fewer
        // manifest job per uncontended append); a concurrent replay of
        // the same logical batch is the TAG check, served from the
        // cached meta collect
        val landed = tag.exists(tagsNow.contains) ||
          (commits > 0 &&
            manifestDf(s, snap).filter(!col("c").isin(DdlKey, ColmapKey) &&
              col("f").startsWith(s"$dname/")).limit(1).count() > 0)
        // a rewrite that RESOLVED ITS BASE after our commit consumed our
        // rows into its rewritten data — the `_rebase` watermark is the
        // only evidence (a re-cluster destroys the dname). Scanned over
        // EVERY later epoch, not just the current one: a second rewrite
        // may already have superseded the one that included us.
        val included = !landed && lastCommitted.exists { case (e, _, v) =>
          wasIncludedInRewrite(s, path, e, v)
        }
        if (landed || included) done = true
        else if (ticketLost) {
          // the rewrite owns the rebase of our superseded commit: WAIT
          // for its rollforward to land rather than trusting it blindly —
          // if the rewrite crashed after claiming the ticket, returning
          // success here would silently lose the batch. Poll, then fail
          // LOUDLY so an at-least-once caller retries the whole append.
          polls += 1
          if (polls > 300) throw new IllegalStateException(
            s"append to $path: a rewrite claimed the rebase of our " +
              "superseded commit but its rollforward never landed " +
              "(crashed mid-rollforward?) — the batch is NOT visible; " +
              "retry the append")
          Thread.sleep(100)
        } else {
          // someone may own the rebase of our superseded commit: the
          // .rolled ticket decides — if the rewrite claimed it, it WILL
          // copy our version; if we claim it, the rewrite skips us
          val mayRecommit = lastCommitted match {
            case None => true
            case Some((_, edir, v)) => claimRebaseTicket(
              StoreMaint.fsFor(s, edir), edir, v, "appender")
          }
          if (!mayRecommit) ticketLost = true
          else {
            commits += 1
            require(commits <= 64,
              s"append to $path: the epoch kept moving for 64 attempts")
            val union = StoreMaint.unionSchemas(s"$path (z-store)",
              Some(recorded), df.schema)
            val fs = StoreMaint.fsFor(s, snap.epochDir)
            val ver = claimNextVersion(fs, snap.epochDir)
            // a re-commit after an epoch swap stamps the [[rebaseTag]]
            // provenance of the superseded commit it replaces, so the
            // recovery sweep can tell it was settled
            val provTags = lastCommitted.map { case (e, _, v) =>
              rebaseTag(e, v) }.toSeq
            writeManifestVersion(s, snap.epochDir, ver, union.toDDL,
              stats, tag.toSeq ++ provTags, op = "append")
            if (requireSnapshot(s, path).epoch == snap.epoch) done = true
            else lastCommitted = Some((snap.epoch, snap.epochDir, ver))
          }
        }
      }
    }
  }

  /** Reserve an epoch's next manifest-version number by EXCLUSIVE-CREATING
    * its claim file — the optimistic-concurrency CAS behind lock-free
    * appends. `FileSystem.create(overwrite = false)` is atomic on HDFS
    * and local filesystems; an object-store deployment backs this one
    * primitive with a conditional PUT (the same slot Delta's S3 LogStore
    * fills). A lost race re-lists and claims the next number; claims and
    * version dirs both reserve their numbers, so a crashed claimant's
    * number is simply skipped (never reused), like crashed version dirs
    * always were. */
  private def claimNextVersion(fs: org.apache.hadoop.fs.FileSystem,
      edir: Path): Long = {
    var attempts = 0
    while (attempts < 256) {
      attempts += 1
      val used = fs.listStatus(edir).flatMap { st =>
        val n = st.getPath.getName
        parseIdx(n, "v").orElse(if (n.endsWith(".claim"))
          parseIdx(n.stripSuffix(".claim"), "v") else None)
      }
      val next = used.maxOption.getOrElse(-1L) + 1
      if (StoreMaint.createExclusive(fs, new Path(edir, s"v$next.claim"),
          Array.emptyByteArray))
        return next
      // lost the claim: re-list and take the next number
    }
    throw new IllegalStateException(
      s"could not claim a manifest version under $edir in 256 attempts")
  }

  /** Epoch rewrites record WHAT THEY CONSUMED in a `_rebase` marker file
    * inside the new epoch dir ("baseEpoch:baseMaxVer"): an appender that
    * observes the swap reads it to distinguish "my committed version was
    * INCLUDED in the rewrite's base" (rows live on in the rewritten
    * data — re-committing would DOUBLE them; the dname check alone can't
    * see this because a re-cluster rewrites rows into new files) from
    * "my version was missed" (the rollforward/ticket path). A rebuild
    * ([[writeZOrdered]] over an existing store) consumed nothing —
    * no marker — so a concurrent append re-commits itself, i.e.
    * serializes AFTER the replace. */
  private def writeRebaseMarker(fs: org.apache.hadoop.fs.FileSystem,
      edir: Path, baseEpoch: Long, baseMaxVer: Long): Unit = {
    val out = fs.create(new Path(edir, "_rebase"), true)
    out.write(s"$baseEpoch:$baseMaxVer".getBytes("UTF-8"))
    out.close()
  }

  private def readRebaseMarker(fs: org.apache.hadoop.fs.FileSystem,
      edir: Path): Option[(Long, Long)] =
    try {
      val p = new Path(edir, "_rebase")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val bytes = try org.apache.commons.io.IOUtils.toByteArray(in)
        finally in.close()
        new String(bytes, "UTF-8").split(':') match {
          case Array(e, v) => Some((e.toLong, v.toLong))
          case _ => None
        }
      }
    } catch { case _: Exception => None } // torn/absent: not included

  private def maxVerOf(snap: ZSnapshot): Long =
    snap.vdirs.flatMap(p => parseIdx(p.getName, "v")).maxOption.getOrElse(-1L)

  /** Did ANY later epoch's rewrite consume version `v` of epoch `e`?
    * (The chain case: the epoch that included us may itself be
    * superseded — its dir, and marker, persist until vacuum, and the
    * vacuum window must exceed an append's duration anyway.) */
  private def wasIncludedInRewrite(s: SparkSession, path: String,
      e: Long, v: Long): Boolean = {
    val mroot = manifestRoot(path)
    val fs = StoreMaint.fsFor(s, mroot)
    fs.listStatus(mroot).filter(_.isDirectory)
      .flatMap(st => parseIdx(st.getPath.getName, "e").map(_ -> st.getPath))
      .filter(_._1 > e)
      .exists { case (_, p) => readRebaseMarker(fs, p).exists {
        case (be, bv) => be == e && v <= bv } }
  }

  /** Exclusive-create the rebase ticket of a superseded epoch's version:
    * exactly one of {the appender that committed it, the rewrite rolling
    * the epoch forward, the recovery sweep} wins and re-commits those
    * rows into the new epoch; the others walk away — the both-copy
    * double-land is structurally impossible. The ticket RECORDS ITS
    * CLAIMANT (`who`): [[recoverLostRollforwards]] may take over a dead
    * "rewrite"/"recovery" claimant's ticket (it runs under the same lease
    * those hold, so the claimant can't still be mid-rollforward), but
    * never an "appender"'s — a live appender owns its own re-commit, and
    * a crashed one never returned success, so its at-least-once caller
    * retries the whole append (tag dedup keeps the retry exactly-once). */
  private def claimRebaseTicket(fs: org.apache.hadoop.fs.FileSystem,
      edir: Path, ver: Long, who: String): Boolean =
    StoreMaint.createExclusive(fs, new Path(edir, s"v$ver.rolled"),
      who.getBytes("UTF-8"))

  /** The recorded claimant of an existing rebase ticket; None when the
    * content is empty/unreadable (a torn write, or a pre-r11 ticket). */
  private def ticketWho(fs: org.apache.hadoop.fs.FileSystem,
      ticket: Path): Option[String] =
    try {
      val in = fs.open(ticket)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in)
      finally in.close()
      Some(new String(bytes, "UTF-8")).filter(_.nonEmpty)
    } catch { case _: Exception => None }

  /** The synthetic PROVENANCE tag every rebase re-commit carries (the
    * appender's self-re-commit, a rewrite's rollforward, and the recovery
    * sweep all stamp it): durable, manifest-carried evidence that version
    * `v` of superseded epoch `e` has been rebased — what lets
    * [[recoverLostRollforwards]] distinguish "already rolled forward"
    * from "the claimant crashed before its rollforward landed" without
    * trusting the ticket alone. Rides the DDL rows' tag slot and carries
    * through every manifest rewrite like user batch tags. */
  private def rebaseTag(e: Long, v: Long): String = s"__rebase:e$e:v$v"

  private val RebaseTagRe = """__rebase:e(\d+):v(\d+)""".r
  private def parseRebaseTag(t: String): Option[(Long, Long)] = t match {
    case RebaseTagRe(e, v) => Some((e.toLong, v.toLong))
    case _ => None
  }

  /** Lease-held epoch rewrites call this AFTER their new-epoch commit:
    * versions that committed into `base`'s epoch after `base` was
    * resolved are concurrent lock-free APPENDS the rewrite never saw —
    * rebase each one into the current epoch by reference (its files are
    * on disk and untouched; only its stat rows and tags re-commit), so
    * an append racing a delete/merge/re-cluster/optimize is never lost:
    * it serializes AFTER the rewrite, exactly Delta's append-vs-rewrite
    * resolution. The `.rolled` ticket arbitrates against the appender's
    * own re-commit path; between the epoch swap and this rollforward a
    * late append is briefly invisible (the two-level log can't merge the
    * two commits atomically) — the window is inside one maintenance
    * call, and the STATE converges with no row lost or doubled
    * (spec-pinned by racing real threads through the slow-rename FS). */
  private def rollForwardLateAppends(s: SparkSession, path: String,
      base: ZSnapshot, lease: Lease.Handle): Unit = {
    val fs = StoreMaint.fsFor(s, base.epochDir)
    val seen = base.vdirs.map(_.getName).toSet
    val late = fs.listStatus(base.epochDir).filter(_.isDirectory)
      .flatMap(st => parseIdx(st.getPath.getName, "v").map(_ -> st.getPath))
      .filter { case (_, p) => !seen.contains(p.getName) && isCommitted(fs, p) }
      .sortBy(_._1)
    late.foreach { case (v, vdir) =>
      if (claimRebaseTicket(fs, base.epochDir, v, "rewrite"))
        rebaseVersionForward(s, path, base.epoch, v, vdir, lease)
    }
  }

  /** Is superseded version (`srcEpoch`, `srcVer`) already re-committed
    * into the given manifest? Two independent evidence planes, either
    * sufficient: the [[rebaseTag]] provenance (carried through every
    * later rewrite), or — for pre-provenance history — ANY of the
    * version's own data files listed (file names are unique per batch
    * dir, so presence proves the roll landed; a later DELETE may prune
    * some, but it can never have listed a version that was never
    * rolled). The r11 advisor's aging finding: without the file
    * evidence, a pre-r11 rolled version with an empty ticket and no tag
    * re-rolls after the grace window, doubling its manifest listings. */
  private def versionSettledIn(s: SparkSession, man: DataFrame,
      srcEpoch: Long, srcVer: Long, vFiles: Seq[String]): Boolean = {
    val tagged = man.filter(col("c") === lit(DdlKey) &&
        col("mx") === lit(rebaseTag(srcEpoch, srcVer)))
      .limit(1).count() > 0
    tagged || (vFiles.nonEmpty && {
      import s.implicits._
      man.filter(!col("c").isin(DdlKey, ColmapKey))
        .join(vFiles.toDF("f"), Seq("f"), "leftsemi")
        .limit(1).count() > 0
    })
  }

  /** Re-commit one superseded-epoch committed version into the CURRENT
    * epoch by reference (files untouched; stat rows, tags and evolved DDL
    * re-commit), stamping the [[rebaseTag]] provenance — the shared body
    * of a rewrite's rollforward, and of [[recoverLostRollforwards]].
    *
    * Double-commit guards (the r11 advisor's expired-lease window: a
    * rewrite slower than the lease TTL, taken over mid-rollforward by a
    * later maintenance op, must not let BOTH land the same version):
    * the settled check re-runs on a FRESH manifest AFTER the version
    * slot is claimed, and the commit aborts loudly unless the caller's
    * lease is verifiably still held ([[Lease.Handle.stillHeld]] is false
    * from [[Lease.ExpiryMarginMs]] before the TTL deadline — before any
    * legitimate takeover can begin — and after any break). An abandoned
    * claimed slot is just a skipped version number, like any crashed
    * claimant's. */
  private def rebaseVersionForward(s: SparkSession, path: String,
      srcEpoch: Long, srcVer: Long, vdir: Path,
      lease: Lease.Handle): Unit = {
    val cur = requireSnapshot(s, path)
    val rows = s.read.parquet(vdir.toString)
    val tags = rows.filter(col("c") === lit(DdlKey) && col("mx").isNotNull)
      .select(col("mx")).distinct().collect().map(_.getString(0)).toSeq
    val vFiles = rows.filter(!col("c").isin(DdlKey, ColmapKey)).select(col("f"))
      .distinct().collect().map(_.getString(0)).toSeq
    // the late append may itself have evolved the schema: carry its
    // recorded DDL through the add-only union, not just the rewrite's
    val lateDdl = rows.filter(col("c") === lit(DdlKey))
      .select(col("mn")).head().getString(0)
    val (_, curSchema) = manifestAndSchema(s, cur)
    val union = StoreMaint.unionSchemas(s"$path (z-store)",
      Some(curSchema), StructType.fromDDL(lateDdl))
    val ver = claimNextVersion(StoreMaint.fsFor(s, cur.epochDir),
      cur.epochDir)
    // settled re-check under the claimed slot: a takeover that landed
    // this rollforward between our candidate scan and here shows up in
    // the fresh manifest (tag or files) — abandon the slot, do not write
    val cur2 = requireSnapshot(s, path)
    if (cur2.epoch == cur.epoch &&
        versionSettledIn(s, manifestAndSchema(s, cur2)._1,
          srcEpoch, srcVer, vFiles)) return
    if (!lease.stillHeld()) throw new IllegalStateException(
      s"rollforward of e$srcEpoch/v$srcVer into $path aborted: the " +
        "maintenance lease expired (or was broken) before the commit — " +
        "a takeover may be rolling this version; the next lease-held op " +
        "completes the recovery")
    writeManifestVersion(s, cur.epochDir, ver, union.toDDL, Seq.empty,
      tags :+ rebaseTag(srcEpoch, srcVer),
      carried = Some(carriedStatsDf(s, rows, Seq.empty)),
      op = "rollforward")
  }

  /** Grace before the recovery sweep trusts an EMPTY/torn rebase ticket
    * to belong to a dead claimant (a pre-r11 ticket, or a crash between
    * the exclusive create and the claimant-name write). Named claimants
    * need no aging: "rewrite"/"recovery" held the lease the sweep now
    * holds, "appender" is never taken over. */
  private val RecoveryGraceMs: Long = 10L * 60L * 1000L

  /** Recover rollforwards a crashed rewrite never completed — the r10
    * advisor's silent-loss window: an appender whose post-commit epoch
    * check passed has already returned success when a racing rewrite
    * flips the epoch; if that rewrite dies after its new-epoch v0 commit
    * but before [[rollForwardLateAppends]], the append's version lives
    * only in the superseded epoch and, without this sweep, nothing would
    * ever revisit it. Every lease-held maintenance op (and the vacuum,
    * BEFORE it deletes anything) runs the sweep first, so "committed ⇒
    * eventually visible" survives any single writer crash.
    *
    * For each superseded epoch named by some later epoch's `_rebase`
    * watermark, each committed version ABOVE the watermark is a late
    * append the consuming rewrite promised to roll forward. It is
    * settled iff the [[rebaseTag]] provenance is in the current manifest
    * (rolled by someone, carried through all later rewrites). Otherwise
    * the ticket decides ownership: unclaimed → the sweep claims and
    * rolls it; claimed by "rewrite"/"recovery" → the claimant held the
    * lease the sweep now holds, so it is dead and the sweep rolls on its
    * behalf (the provenance check above is what makes that re-roll
    * impossible to double); claimed by an "appender" → left alone — a
    * live appender is mid-re-commit, a dead one never returned success
    * and its caller's retry lands the rows (tag-deduped); empty/unknown
    * content → aged by [[RecoveryGraceMs]] before being treated as dead. */
  private[graft] def recoverLostRollforwards(s: SparkSession,
      path: String, lease: Lease.Handle): Unit =
    currentSnapshot(s, path).foreach { cur =>
      val mroot = manifestRoot(path)
      val fs = StoreMaint.fsFor(s, mroot)
      val edirs = fs.listStatus(mroot).filter(_.isDirectory)
        .flatMap(st => parseIdx(st.getPath.getName, "e").map(_ -> st.getPath))
        .toMap
      // highest consumed watermark per superseded base epoch, over ALL
      // later epochs' markers (the chain case: the epoch that consumed a
      // base may itself be superseded)
      val consumed = edirs.values.toSeq
        .flatMap(p => readRebaseMarker(fs, p))
        .groupBy(_._1).map { case (e, vs) => e -> vs.map(_._2).max }
        .filter { case (e, _) => e < cur.epoch && edirs.contains(e) }
      val candidates = consumed.toSeq.sortBy(_._1).flatMap { case (be, bv) =>
        val bdir = edirs(be)
        fs.listStatus(bdir).filter(_.isDirectory)
          .flatMap(st => parseIdx(st.getPath.getName, "v")
            .map(v => (be, bdir, v, st.getPath)))
          .filter { case (_, _, v, p) => v > bv && isCommitted(fs, p) }
          .sortBy(_._3)
      }
      if (candidates.nonEmpty) {
        val (man, _) = manifestAndSchema(s, cur)
        val settled = manifestTagsOf(s, cur)
        candidates.foreach { case (be, bdir, v, vdir) =>
          // settled evidence, either plane: the provenance tag, or ANY of
          // the version's files listed in the current manifest — the
          // latter is what keeps a PRE-provenance rollforward (empty
          // ticket, no tag) from being re-rolled once its ticket ages
          // past the grace window (the r11 advisor finding)
          lazy val vFiles = s.read.parquet(vdir.toString)
            .filter(!col("c").isin(DdlKey, ColmapKey)).select(col("f"))
            .distinct().collect().map(_.getString(0)).toSeq
          def filesListed = versionSettledIn(s, man, be, v, vFiles)
          if (!settled.contains(rebaseTag(be, v)) && !filesListed) {
            // the current manifest shows NO trace of an untagged rolled
            // candidate — but "no trace" is also what a roll that LANDED
            // and was then fully pruned by a later delete/compaction
            // looks like (the r12 advisor's finding: re-rolling it would
            // resurrect deleted rows). Before re-rolling, consult the
            // still-on-disk INTERMEDIATE epochs' manifests for the roll
            // (it landed there if it landed at all); a vacuumed gap in
            // that chain makes the question unanswerable — refuse loudly
            // and surface for manual recovery rather than guess. Only
            // pre-provenance history can reach this branch: every roll
            // since r11 stamps its tag, and tags carry through every
            // manifest rewrite.
            val laterEpochs = ((be + 1) until cur.epoch).map(e =>
              e -> edirs.get(e))
            def rolledIntoIntermediate = laterEpochs.flatMap(_._2)
              .exists { edir =>
                val ivdirs = fs.listStatus(edir).filter(_.isDirectory)
                  .filter(st =>
                    parseIdx(st.getPath.getName, "v").nonEmpty &&
                      isCommitted(fs, st.getPath))
                  .map(_.getPath.toString).toSeq
                ivdirs.nonEmpty && versionSettledIn(s,
                  s.read.parquet(ivdirs: _*), be, v, vFiles)
              }
            if (rolledIntoIntermediate) () // settled; a later rewrite pruned it
            else if (laterEpochs.exists(_._2.isEmpty))
              throw new IllegalStateException(
                s"$path: superseded version e$be/v$v has no provenance " +
                  "tag, none of its files are listed, and part of the " +
                  "epoch chain that could prove whether it was ever " +
                  "rolled forward has been vacuumed — re-rolling could " +
                  "resurrect deleted rows, not rolling could lose an " +
                  "append. Refusing; inspect the batch and either " +
                  "re-append it or delete the stale version dir " +
                  s"($vdir) to clear this.")
            else {
              val owns =
                if (claimRebaseTicket(fs, bdir, v, "recovery")) true
                else ticketWho(fs, new Path(bdir, s"v$v.rolled")) match {
                  case Some("appender") => false
                  case Some(_) => true // dead lease-holder: we hold it now
                  case None => System.currentTimeMillis() - fs.getFileStatus(
                      new Path(bdir, s"v$v.rolled")).getModificationTime >
                    RecoveryGraceMs
                }
              if (owns) rebaseVersionForward(s, path, be, v, vdir, lease)
            }
          }
        }
      }
    }

  /** Next epoch number past EVERY existing epoch dir, committed or
    * crashed — an uncommitted leftover is never reused. */
  private def nextEpoch(s: SparkSession, path: String): Long = {
    val mroot = manifestRoot(path)
    val fs = StoreMaint.fsFor(s, mroot)
    (if (!fs.exists(mroot)) Seq.empty[Long]
     else fs.listStatus(mroot).filter(_.isDirectory).toSeq
       .flatMap(st => parseIdx(st.getPath.getName, "e")))
      .maxOption.getOrElse(-1L) + 1
  }

  private def commitNewEpoch(df: DataFrame, path: String, zcols: Seq[String],
      numFiles: Int, statCols: Seq[String],
      tags: Seq[String] = Seq.empty,
      rebase: Option[(Long, Long)] = None,
      op: String = "create", colmap: ColMap = IdentityColMap): Unit = {
    val s = df.sparkSession
    val mroot = manifestRoot(path)
    recordZcols(s, path, zcols) // the declared keys become store policy
    // data first, then the epoch's v0 manifest: v0/_SUCCESS is the commit
    // point that flips readers to the new epoch.
    val stats = zWrite(df, path, zcols, numFiles) match {
      case Some(dname) => harvestStats(s, path, dname,
        if (statCols.nonEmpty) statCols else zcols, df.schema)
      case None => Seq.empty // empty table: schema-only manifest
    }
    // the epoch number allocates INSIDE the commit turnstile (r15): with
    // rewrites optimistic, two committers may otherwise race the same
    // e<N>. The _rebase marker (what base snapshot a REWRITE consumed)
    // writes before the flip so an OCC appender never mistakes an
    // included commit for a missed one.
    StoreMaint.withNoAqe(s)(withCommitLock(s, path, s"commit-$op") { lease =>
      val nextE = nextEpoch(s, path)
      val edir = new Path(mroot, s"e$nextE")
      rebase.foreach { case (e, v) =>
        writeRebaseMarker(StoreMaint.fsFor(s, edir), edir, e, v) }
      if (!lease.stillHeld()) throw new IllegalStateException(
        s"$op on $path: the epoch-commit lock expired before the " +
          "manifest flip — aborting; retry the statement")
      writeManifestVersion(s, edir, 0L, df.schema.toDDL, stats, tags,
        op = op,
        colmap = if (colmap.isIdentity) None else Some(encodeColMap(colmap)))
    })
  }

  /** Thrown when an OPTIMISTIC rewrite loses its race: between resolving
    * its base snapshot and committing, a concurrent rewrite replaced or
    * deleted files this rewrite consumed, so its prepared outputs
    * describe rows that no longer exist. The statement is safe to RETRY
    * wholesale (the store is untouched by the loser — its orphaned data
    * dir falls to [[vacuumOrphans]]); Delta raises
    * ConcurrentDeleteReadException at the same point. */
  final class ConcurrentZRewriteException(msg: String)
    extends RuntimeException(msg)

  /** The epoch-COMMIT critical section (r15): since rewrites became
    * optimistic, the store `_LEASE` no longer serializes them — only the
    * metadata commit itself (epoch-number allocation → rebase marker →
    * change record → manifest v0 flip → late-append rollforward) runs
    * under this dedicated short lock at `_zcommit/_LEASE`, sized in
    * SECONDS (small single-task manifest jobs), while the expensive data
    * work of delete/update/merge/optimize runs unlocked and concurrent.
    * Contention is expected and brief, so acquisition RETRIES with
    * backoff instead of refusing (the store lease's refuse-loudly
    * contract is for whole-operation slots, not commit turnstiles);
    * a crashed holder is broken by [[Lease]]'s TTL discipline. */
  private def withCommitLock[T](s: SparkSession, path: String,
      who: String)(body: Lease.Handle => T): T = {
    val giveUp = System.currentTimeMillis() + CommitLockWaitMs
    var backoff = 25L
    while (true) {
      // retry ONLY acquisition-time HeldException: a HeldException
      // escaping the BODY (e.g. a future nested lease acquisition inside
      // a commit step) must propagate loudly — silently re-running a
      // body that already wrote its rebase marker / change record would
      // re-apply partial commit work (r15 advisor)
      try return Lease.withLeaseHandle(s,
        new Path(path, "_zcommit").toString, who, CommitTtlMs) { h =>
        try body(h)
        catch { case e: Lease.HeldException => throw new CommitBodyHeld(e) }
      }
      catch {
        case e: CommitBodyHeld => throw e.getCause
        case _: Lease.HeldException =>
          if (System.currentTimeMillis() > giveUp)
            throw new IllegalStateException(
              s"epoch-commit lock of $path not acquirable within " +
                s"${CommitLockWaitMs / 1000}s — a committer is stuck " +
                "(or crashed with most of its TTL ahead); see " +
                s"$path/_zcommit/_LEASE")
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, 1000L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Marker wrapping a [[Lease.HeldException]] thrown from INSIDE a
    * commit body, so the acquisition retry loop can tell it from its own
    * acquisition failures and re-throw instead of re-running the body. */
  private final class CommitBodyHeld(cause: Lease.HeldException)
    extends RuntimeException(cause)

  /** How long a committer queues for the commit lock before erroring —
    * generous (the lock holds for seconds; TTL breaks crashed holders). */
  private val CommitLockWaitMs: Long = 15 * 60 * 1000L

  /** The `_zcommit` lease TTL — the turnstile's documented
    * seconds-scale critical section made REAL (r15 advisor: acquiring
    * with the 10-minute store default meant a crashed committer stalled
    * every commit for the full 10 minutes despite the queue's retry
    * budget). 2 minutes dominates the slowest legitimate commit step
    * (manifest v0 write + rollforward sweep, small single-task jobs)
    * with the [[Lease]] expiry margin to spare, and bounds the
    * crashed-holder stall to the same 2 minutes. */
  private val CommitTtlMs: Long = 2 * 60 * 1000L

  /** Run the crashed-rollforward recovery sweep in the commit slot —
    * what every optimistic rewrite does FIRST (the store lease used to
    * provide the slot; the sweep is a cheap metadata no-op when nothing
    * crashed). */
  private def recoverUnderCommitLock(s: SparkSession, path: String): Unit =
    withCommitLock(s, path, "rollforward-recovery") { lease =>
      recoverLostRollforwards(s, path, lease)
    }

  /** OPTIMISTIC epoch-rewrite commit (r15 — the multi-writer half of the
    * lakehouse): the caller prepared its data work (new data dirs via
    * [[zWrite]], stats, change rows) against `prepared` WITHOUT any
    * store-wide lock; this helper commits it as the next epoch, REBASING
    * across concurrent commits when possible:
    *
    *  - snapshot unchanged → commit directly (marker, change record,
    *    manifest v0 with carried stats, late-append rollforward), all
    *    inside the short [[withCommitLock]] turnstile;
    *  - snapshot moved but every CONSUMED file (the files this rewrite
    *    replaces) is still listed → the outputs are still valid (data
    *    dirs are immutable): rebuild carried rows/tags/DDL-union against
    *    the new snapshot and commit on top of it — two rewrites touching
    *    DISJOINT file sets both land, in either order;
    *  - a consumed file vanished → the race is lost; throw
    *    [[ConcurrentZRewriteException]] (retry re-plans);
    *  - `extraTags` already present in the new snapshot → this rewrite's
    *    replayed twin landed first; return false (exactly-once).
    *
    * Appends racing the commit ride the existing rebase-watermark +
    * rollforward machinery unchanged (they serialize AFTER the rewrite).
    * A concurrent ADD-COLUMN evolution survives via the DDL union
    * (type changes refuse loudly). `changes` rows must derive only from
    * consumed files / caller-persisted inputs — the conflict check is
    * what keeps them valid across a rebase. */
  private def commitRewriteEpoch(s: SparkSession, path: String,
      prepared: ZSnapshot, consumed: Seq[String], ddl: String,
      newStats: Seq[(String, String, Option[String], Option[String], Boolean)],
      extraTags: Seq[String], changes: => Option[DataFrame],
      op: String,
      remap: Option[(ColMap, StructType) => ColMap] = None): Boolean = {
    import s.implicits._
    var attempt = prepared
    var rebased = false
    // The change-record Spark job is the expensive half of a big DML's
    // commit: stage it to a temp dir OUTSIDE the turnstile (it derives
    // only from consumed files / caller-persisted inputs, so it stays
    // valid across a rebase) and make the in-lock step a metadata-only
    // rename — a large delta no longer serializes every other committer
    // for its write (r15 advisor). Memoized by hand: a `lazy val` would
    // re-run the job if forced for cleanup in the finally.
    var stagedMemo: Option[Option[Path]] = None
    def stagedChanges: Option[Path] = {
      if (stagedMemo.isEmpty)
        stagedMemo = Some(prf("commit.stageChanges")(
          if (!changeFeedEnabled(s, path)) None
          else changes.map(c => stageChangeRecord(s, path, c))))
      stagedMemo.get
    }
    var stagedConsumed = false
    try {
    StoreMaint.withNoAqe(s) {
    // metadata-plane commit: fixed tiny-stage manifest shapes; replan
    // latency here extends the _zcommit turnstile hold and so caps
    // concurrent-committer throughput (r16 optimization round)
    while (true) {
      val (attemptSchema, attemptCm, attemptTags) = manifestMeta(s, attempt)
      val man0 = manifestDf(s, attempt)
      // the column mapping CARRIES across every epoch rewrite (like
      // tags); a rename/drop commit TRANSFORMS it — as a function of the
      // attempt-time mapping, not a fixed value, so two concurrent
      // mapping commits COMPOSE across the rebase instead of the second
      // silently clobbering the first (the transform re-validates
      // against the current mapping and refuses if its assumption broke)
      val colmapOut = remap.map(_(attemptCm, attemptSchema))
        .getOrElse(attemptCm)
      val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
      if (rebased) {
        if (extraTags.exists(attemptTags.contains))
          return false
        if (consumed.nonEmpty) {
          val missing = consumed.toDF("f")
            .join(man.select(col("f")).distinct(), Seq("f"), "left_anti")
            .limit(4).collect().map(_.getString(0))
          if (missing.nonEmpty)
            throw new ConcurrentZRewriteException(
              s"$op on $path lost its optimistic race: a concurrent " +
                "rewrite replaced file(s) this statement consumed " +
                s"(e.g. ${missing.take(3).mkString(", ")}) between its " +
                s"snapshot (e${prepared.epoch}) and commit time " +
                s"(e${attempt.epoch}) — the prepared replacement " +
                "describes rows that no longer exist; retry the statement")
        }
      }
      // a concurrent rewrite may have EVOLVED the schema (merge add-only
      // union): committing the base DDL would hide its column — union
      val ddlOut = StoreMaint.unionSchemas(s"$path (z-store)",
        Some(attemptSchema), StructType.fromDDL(ddl)).toDDL
      val carried = carriedStatsDf(s, man, consumed)
      val tags = attemptTags.toSeq.sorted ++ extraTags
      val staged = stagedChanges // forced OUTSIDE the turnstile
      val committed = prf("commit.turnstile")(
        withCommitLock(s, path, s"commit-$op") { lease =>
        val now = requireSnapshot(s, path)
        if (now.epoch != attempt.epoch) { attempt = now; false }
        else {
          val nextE = nextEpoch(s, path)
          val edir = new Path(manifestRoot(path), s"e$nextE")
          writeRebaseMarker(StoreMaint.fsFor(s, edir), edir,
            attempt.epoch, maxVerOf(attempt))
          staged.foreach { t =>
            commitStagedChangeRecord(s, path, nextE, t)
            stagedConsumed = true
          }
          if (!lease.stillHeld()) throw new IllegalStateException(
            s"$op on $path: the epoch-commit lock expired before the " +
              "manifest flip — aborting (a breaker may be committing); " +
              "retry the statement")
          writeManifestVersion(s, edir, 0L, ddlOut, newStats, tags,
            carried = Some(carried), op = op,
            colmap = if (colmapOut.isIdentity) None
              else Some(encodeColMap(colmapOut)))
          rollForwardLateAppends(s, path, attempt, lease)
          true
        }
      })
      if (committed) return true
      rebased = true
    }
    false
    }
    } finally {
      // a lost race / replayed-twin exit leaves the staged record
      // unconsumed — collect it (losers leave the store untouched)
      if (!stagedConsumed) stagedMemo.flatten.foreach { t =>
        val fs = StoreMaint.fsFor(s, t)
        if (fs.exists(t)) { fs.delete(t, true); () }
      }
    }
  }

  /** Write one z-clustered batch into a FRESH data dir; returns its name,
    * or None when the batch has no rows (the empty-append guard — no
    * files, no manifest version, no NPE on the null bounds row). */
  private def zWrite(df: DataFrame, path: String, zcols: Seq[String],
      numFiles: Int): Option[String] = StoreMaint.withNoAqe(df.sparkSession) {
    // AQE-off for the whole batch write: the bounds pass is a global
    // scalar aggregate and the data/bloom passes write through explicit
    // repartitioning — shapes adaptive re-planning cannot improve at any
    // scale, while its per-query latency taxed every z-write ~2x
    // (measured at sf0.1, r16 optimization round).
    // CHECK constraints ride the SAME aggregation pass as the clustering
    // bounds — enforcement costs no extra scan. SQL CHECK semantics: a
    // row violates only when the expression is FALSE (UNKNOWN/null
    // passes); any violation refuses the whole batch BEFORE a byte lands.
    val cons = listCheckConstraints(df.sparkSession, path)
    val conAggs = cons.map { case (n, e) =>
      val violated =
        try not(coalesce(expr(e), lit(true)))
        catch { case ex: Exception => throw new IllegalArgumentException(
          s"CHECK constraint $n ($e) cannot be parsed: ${ex.getMessage}") }
      sum(when(violated, 1L).otherwise(0L)).as(s"__viol_$n")
    }
    val aggs = (count(lit(1)).as("cnt") +:
      zcols.flatMap(c => Seq(min(col(c)), max(col(c))))) ++ conAggs
    val b =
      try prf("zWrite.boundsAgg")(df.agg(aggs.head, aggs.tail: _*).head())
      catch { case ex: org.apache.spark.sql.AnalysisException
          if cons.nonEmpty => throw new IllegalArgumentException(
        s"batch for $path cannot be validated against its CHECK " +
          s"constraints (${cons.map(_._1).mkString(", ")}): " +
          ex.getMessage)
      }
    if (b.getLong(0) == 0L) return None
    cons.zipWithIndex.foreach { case ((n, e), i) =>
      val viol = b.getLong(1 + 2 * zcols.size + i)
      require(viol == 0L,
        s"CHECK constraint $n violated by $viol row(s) of the batch " +
          s"(expression: $e) — nothing was written")
    }
    val qs = zcols.zipWithIndex.map { case (c, i) =>
      // an all-null clustering column contributes a constant (its rows
      // still land; the other dimensions keep clustering)
      if (b.isNullAt(2 * i + 1)) lit(0L)
      else quant(col(c), b.getLong(2 * i + 1), b.getLong(2 * i + 2))
    }
    val dname = "d-" + java.util.UUID.randomUUID().toString.replace("-", "")
      .take(12)
    // STABLE ROW IDENTITY (r15): stamp the hidden [[RidCol]]. A frame
    // arriving WITH the column is a rewrite carrying identity through —
    // preserve it and give fresh ids only to null-rid rows (new rows of
    // a merge/replaceWhere, rows from pre-r15 files); a frame without it
    // is a fresh batch — every row gets one. Ids come from one allocated
    // range; within it, monotonically_increasing_id() over the FINAL
    // write partitioning guarantees uniqueness (partition ordinal is
    // capped far below the 2^33 slot). The reserved names __z/__zb can
    // never be data columns (the write would mis-route).
    Seq("__z", "__zb").foreach(r => require(
      !df.schema.fieldNames.exists(_.equalsIgnoreCase(r)),
      s"$r is a reserved graft-z column name"))
    val hasRid = df.schema.fieldNames.contains(RidCol)
    val parts = recordedBucketing(df.sparkSession, path)
      .map(_._2).getOrElse(math.max(numFiles, 1))
    val ridStart = prf("zWrite.allocateRids")(
      allocateRids(df.sparkSession, path, (parts.toLong + 1L) << 33))
    def stampRid(d: DataFrame): DataFrame = {
      val fresh = lit(ridStart) + monotonically_increasing_id()
      if (hasRid) d.withColumn(RidCol, coalesce(col(RidCol), fresh))
      else d.withColumn(RidCol, fresh)
    }
    // INT64 TIMESTAMP_MICROS, not the legacy INT96 default: INT96 footers
    // carry no usable min/max, which would leave timestamp stat columns
    // permanently unprunable (Sources.writeMicros, same contract)
    prf("zWrite.dataWrite")(Sources.writeMicros(df.sparkSession) {
      recordedBucketing(df.sparkSession, path) match {
        case Some((bcol, n)) =>
          // bucketed layout: one hive-style `__zb=<b>/` dir per bucket,
          // z-sorted WITHIN the bucket. `repartition(n, __zb)` sends all
          // rows of one bucket to one task (hash of equal values), so
          // each batch writes exactly one file per populated bucket; the
          // route matches the V2 `bucket` function bit-for-bit (pmod on
          // the long key; null keys never equi-join, so they park in
          // bucket 0). Explicit leaf-file reads ignore the hive dirs
          // (no partition inference on file-path reads — probed on
          // Spark 4.1.2), so every existing read path is unchanged.
          val route = coalesce(
            pmod(col(bcol).cast("long"), lit(n.toLong)).cast("int"), lit(0))
          stampRid(df.withColumn("__zb", route)
            .withColumn("__z", interleave(qs))
            .repartition(n, col("__zb"))
            .sortWithinPartitions("__zb", "__z")
            .drop("__z"))
            .write.partitionBy("__zb").mode("overwrite")
            .parquet(s"$path/$dname")
        case None =>
          stampRid(df.withColumn("__z", interleave(qs))
            .repartitionByRange(numFiles, col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z"))
            .write.mode("overwrite").parquet(s"$path/$dname")
      }
    })
    // bloom coverage SURVIVES writes (r15): every batch re-covers ITS OWN
    // fresh files on each recorded bloom column it carries, so the
    // point-lookup pruning plane no longer decays with appends/DML until
    // a manual rebuild (the r14 verdict's decay item). One extra agg job
    // per bloom column over just-written files; a write racing the
    // commit leaves at worst orphan sidecars (vacuum collects them).
    val bloomCols = bloomIndexedCols(df.sparkSession, path)
      .filter { case (c, _) => df.schema.exists(_.name.equalsIgnoreCase(c)) }
    if (bloomCols.nonEmpty) prf("zWrite.bloomRecover") {
      val s = df.sparkSession
      // Expected-items sizing from the parquet FOOTERS the write just
      // produced — metadata-only, no row scan (the old per-file count
      // job re-read every written row once, and then each bloom column
      // read the batch AGAIN; guide §6 — the write path paid 1+B data
      // passes for B bloom columns, now exactly one, over only the
      // bloom columns).
      val files = listBatchFiles(s, path, dname)
      val maxPerFile = if (files.isEmpty) 0L else {
        val bc = s.sparkContext.broadcast(
          new org.apache.spark.SerializableWritable(
            s.sessionState.newHadoopConf()))
        try s.sparkContext.parallelize(files.map(_._1),
            math.min(files.size, 32))
          .map { p =>
            val hp = new Path(p)
            val st = hp.getFileSystem(bc.value.value).getFileStatus(hp)
            Sources.footerCounts(Sources.readFooter(st, bc.value.value),
              Seq.empty)._1
          }.fold(0L)(math.max)
        finally bc.destroy()
      }
      val colsWithFpp = bloomCols.map { case (c, fpp) =>
        (df.schema.find(_.name.equalsIgnoreCase(c)).get.name, fpp) }
      writeBloomSidecars(s, path, colsWithFpp,
        s.read.parquet(s"$path/$dname"), math.max(maxPerFile, 1024L))
    }
    Some(dname)
  }

  /** Per-file (relPath, col, mn, mx, allnull) stats of a just-written data
    * dir, from the parquet footers the write produced — as a SPARK JOB
    * over the file list (the driver lists ONE batch dir; footer I/O runs
    * distributed), via the canonical [[Sources.footerColStats]] encoding.
    * Ineligible stat-column types refuse loudly at write time — better
    * than recording stats a reader can't compare. */
  /** Leaf data files of a just-written batch dir as (absolute path,
    * rel-path-from-store-root) — recursive, because a BUCKETED batch
    * nests one `__zb=<b>/` dir per bucket. One driver listing of ONE
    * batch dir (never the whole store). */
  private def listBatchFiles(s: SparkSession, path: String,
      dname: String): Seq[(String, String)] = {
    val ddir = new Path(s"$path/$dname")
    val fs = StoreMaint.fsFor(s, ddir)
    def leaves(p: Path): Seq[(String, String)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) leaves(st.getPath)
        else if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          val abs = st.getPath.toUri.getPath
          val root = fs.makeQualified(ddir).toUri.getPath
          Seq((st.getPath.toString,
            s"$dname${abs.stripPrefix(root)}"))
        } else Seq.empty
      }
    leaves(ddir).sortBy(_._2)
  }

  private def harvestStats(s: SparkSession, path: String, dname: String,
      statCols: Seq[String], schema: StructType)
      : Seq[(String, String, Option[String], Option[String], Boolean)] = {
    val fields = statCols.map { c =>
      val f = schema.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"stat column $c is not in the batch schema"))
      require(Sources.statsEligible(f.dataType),
        s"stat column $c: ${f.dataType.simpleString} has no canonical " +
          "stat encoding (long/int/double/string/timestamp do)")
      f
    }
    val files = listBatchFiles(s, path, dname)
    if (files.isEmpty) return Seq.empty
    val bucketOf = "__zb=(\\d+)/".r
    val bc = s.sparkContext.broadcast(new org.apache.spark.SerializableWritable(
      s.sessionState.newHadoopConf()))
    try {
      s.sparkContext.parallelize(files, math.min(files.size, 32))
        .flatMap { case (p, rel) =>
          val conf = bc.value.value
          val hp = new Path(p)
          val st = hp.getFileSystem(conf).getFileStatus(hp)
          val footer = Sources.readFooter(st, conf)
          val accs = Sources.footerColStats(footer, fields)
          val (rowCnt, nullCnts) = Sources.footerCounts(footer, fields)
          Seq(
            (rel, SizeKey, Option(st.getLen.toString), None: Option[String],
              false),
            (rel, CountKey, Option(rowCnt.toString), None: Option[String],
              false)) ++
            bucketOf.findFirstMatchIn(rel).map(m =>
              (rel, BucketKey, Option(m.group(1)), None: Option[String],
                false)).toSeq ++
            fields.map(f => (rel, NullsPfx + f.name.toLowerCase,
              nullCnts(f.name.toLowerCase).map(_.toString),
              None: Option[String], false)) ++
            fields.map { f =>
              accs(f.name.toLowerCase) match {
                case None => (rel, f.name, None, None, false) // unknown: read
                case Some((None, None)) => (rel, f.name, None, None, true)
                case Some((mn, mx)) => (rel, f.name, mn, mx, false)
              }
            }
        }.collect().toSeq
    } finally bc.destroy()
  }

  /** The DDL rows' otherwise-unused `mx` slot carries batch TAGS — the
    * idempotence tokens [[appendZOrdered]] checks on replay (one row per
    * tag; all carry the same ddl in `mn`, so the schema read is
    * order-insensitive). No extra row kind, so every consumer's
    * `c =!= DdlKey` filter keeps working unchanged. [[compactManifest]]
    * and [[reclusterZOrdered]] CARRY the epoch's tags forward — a
    * replayed append stays a no-op across manifest rewrites. */
  /** `carried` is the CARRY-BY-REFERENCE half of a copy-on-write commit:
    * stat/size/count rows of unaffected files, written manifest→manifest
    * as part of this Spark job — the driver never materializes the
    * O(table-files × stat-cols) row set (the r9 advisor watch item; at
    * 1M files × 5 cols that collect was a multi-GB driver allocation per
    * maintenance commit). Only the affected-file NAME list stays
    * driver-side, bounded by what the rewrite reads anyway. */
  private def writeManifestVersion(s: SparkSession, edir: Path, ver: Long,
      ddl: String,
      stats: Seq[(String, String, Option[String], Option[String], Boolean)],
      tags: Seq[String] = Seq.empty, carried: Option[DataFrame] = None,
      op: String = "unknown", colmap: Option[String] = None): Unit = {
    import s.implicits._
    // the operation AUDIT record ([[describeHistory]]): a `v<N>.op`
    // sidecar beside the version dir, written BEFORE the version's own
    // commit so every committed version carries one (a crash in between
    // leaves an orphan sidecar for a version that never existed —
    // harmless, history only reports committed coordinates)
    locally {
      val fs = StoreMaint.fsFor(s, edir)
      val out = fs.create(new Path(edir, s"v$ver.op"), true)
      try out.write(op.getBytes("UTF-8")) finally out.close()
    }
    val rows = stats.map { case (f, c, mn, mx, an) =>
      (ver, f, c, mn, mx, an)
    } ++ tags.distinct.map(t =>
      (ver, "", DdlKey, Option(ddl), Option(t), false)) ++
      colmap.map(m =>
        (ver, "", ColmapKey, Option(m), None: Option[String], false)) :+
      ((ver, "", DdlKey, Option(ddl), None: Option[String], false))
    val newDf = rows.toDF("ver", "f", "c", "mn", "mx", "allnull")
    val df = carried match {
      case Some(c) => newDf.unionByName(c.select(lit(ver).as("ver"),
        col("f"), col("c"), col("mn"), col("mx"), col("allnull")))
      case None => newDf
    }
    df.coalesce(1).write.mode("overwrite")
      .parquet(new Path(edir, s"v$ver").toString)
  }

  /** The manifest's stat/size/count rows for every file EXCEPT `drop`,
    * as a DataFrame for [[writeManifestVersion]]'s `carried` input —
    * the pruned-out half of a copy-on-write rewrite, re-pointed without
    * a driver collect (an anti-join against the bounded affected-name
    * list). */
  private def carriedStatsDf(s: SparkSession, man: DataFrame,
      drop: Seq[String]): DataFrame = {
    import s.implicits._
    val base = man.filter(!col("c").isin(DdlKey, ColmapKey))
      .select(col("f"), col("c"), col("mn"), col("mx"), col("allnull"))
    if (drop.isEmpty) base
    else base.join(drop.toDF("f"), Seq("f"), "left_anti")
  }

  /** The distinct stat columns recorded anywhere in the snapshot's
    * manifest that still exist in `schema` — the coverage a
    * copy-on-write rewrite preserves for its fresh files. */
  private def recordedStatCols(man: DataFrame,
      schema: StructType): Seq[String] =
    statRows(man).select(col("c")).distinct().collect().map(_.getString(0))
      .filter(c => schema.exists(_.name.equalsIgnoreCase(c))).toSeq.sorted

  // ---- read paths ---------------------------------------------------------

  /** Signed-zero-safe band predicate `c BETWEEN lo AND hi` for a
    * PARQUET-BACKED frame. Spark's own comparisons treat -0.0 = 0.0
    * (primitive IEEE semantics, both interpreted and codegen), but the
    * parquet filter it pushes down compares with Double.compare TOTAL
    * ORDER (-0.0 < 0.0) — so a pushed `d >= 0.0` drops stored -0.0 rows
    * the residual filter would keep (measured on Spark 4.1.2: 10 stored
    * -0.0 rows, `d === 0.0` → 0 with pushdown, 10 without). On the
    * DELETE path that asymmetry silently LOSES rows: the pushable
    * match-count misses them while the non-pushable survivor filter
    * (`coalesce(!match, true)`) excludes them in memory. The fix is in
    * the predicate itself: floating zero bounds take the bit pattern
    * that is WEAKER under total order (lo: 0.0 → -0.0, hi: -0.0 → 0.0)
    * — identical under IEEE comparison, so Spark-side semantics are
    * unchanged while the pushed filter admits both zeros. A zero point
    * probe becomes the two-sided band [-0.0, 0.0] the same way. */
  private[sources] def bandPred(c: String, lo: Any, hi: Any): Column =
    col(c) >= lit(zeroSafeLo(lo)) && col(c) <= lit(zeroSafeHi(hi))

  private[sources] def zeroSafeLo(v: Any): Any = v match {
    case d: Double if d == 0.0d => -0.0d
    case f: Float if f == 0.0f => -0.0f
    case x => x
  }
  private[sources] def zeroSafeHi(v: Any): Any = v match {
    case d: Double if d == 0.0d => 0.0d
    case f: Float if f == 0.0f => 0.0f
    case x => x
  }

  /** Point-equality predicate with the same parquet-pushdown zero
    * discipline: a floating zero probe reads as the [-0.0, 0.0] band
    * (≡ `= 0.0` under Spark semantics); everything else stays `=`. */
  private[sources] def pointPred(c: String, v: Any): Column = v match {
    case d: Double if d == 0.0d => bandPred(c, v, v)
    case f: Float if f == 0.0f => bandPred(c, v, v)
    case _ => col(c) === lit(v)
  }

  /** Typed manifest-vs-bound comparisons in the column's canonical string
    * encoding ([[Sources.encodeBound]]/[[Sources.encodeParquetStat]]). */
  private def statLt(dt: DataType, c: Column, bound: String): Column =
    dt match {
      case DoubleType => c.cast("double") < lit(bound.toDouble)
      case StringType => c < lit(bound)
      case _ => c.cast("long") < lit(bound.toLong) // int/long/ts-micros
    }
  private def statGt(dt: DataType, c: Column, bound: String): Column =
    dt match {
      case DoubleType => c.cast("double") > lit(bound.toDouble)
      case StringType => c > lit(bound)
      case _ => c.cast("long") > lit(bound.toLong)
    }

  /** Range read with manifest skipping: open only the MANIFEST-LISTED
    * files of the current snapshot that no predicate definitively
    * excludes (recorded range disjoint from [lo, hi], or all-null), then
    * apply the predicates as residual filters (a surviving file still
    * holds out-of-range rows — the manifest prunes, the filter decides).
    * Bounds may be long/int/double/string/timestamp, matching
    * [[Sources.readTableRange]]'s encoding. Unknown-stat files are always
    * read; a predicate on a column with NO stats anywhere refuses loudly.
    *
    * The pruning DECISION runs distributed over the manifest; the driver
    * collects column names (bounded by the stat-column count) and
    * SURVIVING file names (bounded by what will be read anyway). The data
    * directories are never listed; a listed-but-missing file fails the
    * read loudly (a store violating the listed ⇒ present invariant must
    * never silently drop rows). */
  def readZRange(s: SparkSession, path: String,
      preds: Seq[(String, Any, Any)]): DataFrame =
    readZRangeSnap(s, path, requireSnapshot(s, path), preds)

  /** [[readZRange]] against a PAST committed snapshot (time travel) —
    * readable until [[vacuumOrphans]] collects it; sizing the vacuum's
    * `minAgeMs` past the travel horizon is the retention contract. */
  def readZRangeAt(s: SparkSession, path: String, epoch: Long, version: Long,
      preds: Seq[(String, Any, Any)]): DataFrame =
    readZRangeSnap(s, path, snapshotAt(s, path, epoch, version), preds)

  private def readZRangeSnap(s: SparkSession, path: String, snap: ZSnapshot,
      preds0: Seq[(String, Any, Any)]): DataFrame = {
    require(preds0.nonEmpty, "readZRange needs at least one predicate")
    val (man0, schema, cm) = manifestSchemaMap(s, snap)
    // predicates arrive in LOGICAL names; stats, files and the physical
    // frame below speak physical — a filter on a RENAMED column prunes
    // via the original physical stats, zero re-harvest
    val preds = translatePreds(cm, path, preds0)
    val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keep =
      try {
        // stat-name matching is case-INSENSITIVE throughout (mergeByKey's
        // discipline): a predicate spelled in a different case than the
        // recorded stat column must still prune, not refuse
        val have = statRows(man).select(lower(col("c"))).distinct()
          .collect().map(_.getString(0)).toSet
        preds.foreach(p => require(have.contains(p._1.toLowerCase),
          s"no manifest stats for column ${p._1} " +
            s"(have ${have.toSeq.sorted.mkString(", ")})"))
        val typed = preds.map { case (c0, lo, hi) =>
          val f = schema.find(_.name.equalsIgnoreCase(c0)).getOrElse(
            throw new IllegalArgumentException(
              s"column $c0 is not in the z-store schema"))
          (c0, f.dataType, Sources.encodeBound(f.dataType, lo),
            Sources.encodeBound(f.dataType, hi))
        }
        // exclusion needs DEFINITE evidence: a known disjoint range, or an
        // all-null file (no row can match a range predicate). Unknown
        // stats — or no stats row for this column in the file's version —
        // keep the file. Sound under per-version statCols drift.
        val excluded = typed.map { case (c0, dt, loE, hiE) =>
          man.filter(lower(col("c")) === c0.toLowerCase && (col("allnull") ||
              (col("mn").isNotNull &&
                (statLt(dt, col("mx"), loE) || statGt(dt, col("mn"), hiE)))))
            .select(col("f"))
        }.reduce(_ union _)
        man.select(col("f")).distinct().except(excluded)
          .collect().map(_.getString(0)).sorted.toSeq
      } finally man.unpersist(blocking = false)
    val base =
      if (keep.nonEmpty)
        s.read.schema(schema).parquet(keep.map(f => s"$path/$f"): _*)
      else s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    toLogicalDf(preds.foldLeft(base) { case (d, (c, lo, hi)) =>
      d.filter(bandPred(c, lo, hi))
    }, cm)
  }

  /** Manifest-pruned (surviving files, recorded schema) for OPTIONAL
    * one-sided bounds — [[readZRange]]'s exclusion rule generalized for
    * the graft-z DSv2 batch scan ([[ZBatch]]): exclusion still needs
    * definite evidence (recorded range disjoint from a present bound, or
    * an all-null file under any bound), unknown stats keep the file, and
    * a bound on a column with no stats anywhere simply excludes nothing —
    * the scan is BEST-EFFORT by contract (Spark re-applies the full
    * filter on top), so unpruned is safe and wrong-pruned is impossible
    * for the same reason it is on the explicit read path. */
  /** Surviving files WITH their recorded byte sizes (null when a
    * pre-size manifest has no `__size__` row) — the graft-z scan packs
    * partitions from these, so planning never HEADs the files. */
  /** Plan cache for the DSv2 table: repeated reads of an UNCHANGED store
    * skip the O(files) manifest job + driver name-list materialization
    * (the r11 advisor watch item — at 1M files that is ~10⁸ bytes of
    * driver strings re-built per query). Keyed on the snapshot's exact
    * committed-version set (a new commit — append, rewrite, even an
    * out-of-order OCC version landing late — changes the key, so writers
    * never need to invalidate) PLUS the store's birth identity (the
    * current epoch's v0 `_SUCCESS` mtime — a DROPPED-and-recreated store
    * restarts at the same e0/v0 coordinates, and without the identity a
    * same-session read would plan the OLD store's deleted files; the r12
    * advisor's medium), plus the pushed bounds.
    *
    * Eviction is WEIGHED by file count, not entry count (the r12
    * verdict's watch item #2): each entry is a driver-resident name
    * list, so 32 entries of a 1M-file store would pin ~GBs. The LRU
    * evicts until the aggregate weight fits [[ScanPlanCacheMaxWeight]];
    * an entry that alone exceeds it is never cached — huge stores fall
    * through to uncached planning instead of monopolizing the cache. */
  /** Total cached file names across all entries (var ONLY so the bound
    * spec can exercise eviction without building a 200k-file store). */
  private[graft] var scanPlanCacheMaxWeight = 200000L
  private def ScanPlanCacheMaxWeight = scanPlanCacheMaxWeight
  /** Entry cap ALONGSIDE the weight bound: weight alone would let tens
    * of thousands of tiny entries (point-query keys embed the pushed
    * literals) accumulate key strings and schemas on the driver. */
  private val ScanPlanCacheMaxEntries = 32
  private val scanPlanCache =
    new java.util.LinkedHashMap[String, (Seq[(String, Option[Long])],
      StructType)](16, 0.75f, true)
  private var scanPlanWeight = 0L
  private def scanPlanPut(key: String,
      v: (Seq[(String, Option[Long])], StructType)): Unit = {
    val w = v._1.size.toLong.max(1L)
    if (w > ScanPlanCacheMaxWeight) return // huge store: plan uncached
    scanPlanCache.synchronized {
      Option(scanPlanCache.remove(key)).foreach(old =>
        scanPlanWeight -= old._1.size.toLong.max(1L))
      scanPlanCache.put(key, v)
      scanPlanWeight += w
      val it = scanPlanCache.entrySet().iterator()
      while ((scanPlanWeight > ScanPlanCacheMaxWeight ||
          scanPlanCache.size() > ScanPlanCacheMaxEntries) && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) { // never evict what was just inserted
          scanPlanWeight -= e.getValue._1.size.toLong.max(1L)
          it.remove()
        }
      }
    }
  }
  /** Drop every cached plan of a store — called by the surfaces that
    * make a path's history discontinuous (DROP TABLE, CREATE at an
    * existing path, create-on-write bootstrap): the birth-identity key
    * already separates store generations by the v0 _SUCCESS instant,
    * but same-tick drop+recreate on a coarse-mtime filesystem could
    * still collide; catalog-driven recreates invalidate explicitly. */
  private[sources] def invalidateScanPlans(path: String): Unit = {
    scanPlanCache.synchronized {
      val it = scanPlanCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(path + "|")) {
          scanPlanWeight -= e.getValue._1.size.toLong.max(1L)
          it.remove()
        }
      }
    }
    // the snapshot-keyed sibling memos share the key prefix and the
    // same drop+recreate collision window
    rowCountsCache.synchronized {
      rowCountsCache.keySet().removeIf(_.startsWith(path + "|")); ()
    }
    bucketMapCache.synchronized {
      bucketMapCache.keySet().removeIf(_.startsWith(path + "|")); ()
    }
    prunableColsCache.keySet().removeIf(_.startsWith(path + "|"))
    ()
  }
  /** Aggregate cached file-name count — the size-bound spec's probe. */
  private[graft] def scanPlanCacheWeight: Long =
    scanPlanCache.synchronized(scanPlanWeight)
  /** Cache-miss counter — the spec's deterministic "2nd read runs zero
    * manifest scans" detector. */
  private[graft] val scanPlanMisses = new java.util.concurrent.atomic.AtomicLong

  /** The store's BIRTH identity for cache keying: the current epoch's v0
    * `_SUCCESS` mtime. Two stores that ever lived at the same path can
    * share (epoch, version) NAMES but never this instant. O(1) metadata. */
  private def snapIdentity(s: SparkSession, snap: ZSnapshot): Long =
    StoreMaint.fsFor(s, snap.epochDir)
      .getFileStatus(new Path(new Path(snap.epochDir, "v0"), "_SUCCESS"))
      .getModificationTime

  private[sources] def pruneFilesForScan(s: SparkSession, path: String,
      bounds: Seq[(String, Option[Any], Option[Any])],
      at: Option[(Long, Long)] = None)
      : (Seq[(String, Option[Long])], StructType) = {
    val snap = at match {
      case Some((e, v)) => snapshotAt(s, path, e, v)
      case None => requireSnapshot(s, path)
    }
    pruneFilesForSnap(s, path, snap, bounds, at)
  }

  private[sources] def pruneFilesForSnap(s: SparkSession, path: String,
      snap: ZSnapshot, bounds0: Seq[(String, Option[Any], Option[Any])],
      at: Option[(Long, Long)])
      : (Seq[(String, Option[Long])], StructType) = {
    // pruning is BEST-EFFORT, so bound translation is too: a bound whose
    // logical name doesn't resolve (can't happen through the table
    // schema, belt-and-braces here) simply prunes nothing
    val cmB = colMapForSnap(s, path, snap)
    val bounds = if (cmB.isIdentity) bounds0
      else bounds0.flatMap { case (c, lo, hi) =>
        cmB.physOf(c).map(p => (p, lo, hi)) }
    val key = s"$path|i${snapIdentity(s, snap)}|e${snap.epoch}|" +
      s"${snap.vdirs.map(_.getName).sorted.mkString(",")}|" +
      bounds.map { case (c, lo, hi) => s"$c:$lo:$hi" }.sorted.mkString(";") +
      s"|$at"
    scanPlanCache.synchronized {
      Option(scanPlanCache.get(key))
    } match {
      case Some(hit) => return hit
      case None => scanPlanMisses.incrementAndGet()
    }
    val (man0, schema) = manifestAndSchema(s, snap)
    val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
    val applicable = bounds.flatMap { case (c0, lo, hi) =>
      schema.find(_.name.equalsIgnoreCase(c0))
        .filter(f => Sources.statsEligible(f.dataType) &&
          (lo.nonEmpty || hi.nonEmpty))
        .map(f => (f.name, f.dataType,
          lo.map(Sources.encodeBound(f.dataType, _)),
          hi.map(Sources.encodeBound(f.dataType, _))))
    }
    val allFiles = man.select(col("f")).distinct()
    val keepDf =
      if (applicable.isEmpty) allFiles
      else {
        val excluded = applicable.map { case (c0, dt, loE, hiE) =>
          val below = loE.map(l => statLt(dt, col("mx"), l))
            .getOrElse(lit(false))
          val above = hiE.map(h => statGt(dt, col("mn"), h))
            .getOrElse(lit(false))
          man.filter(lower(col("c")) === c0.toLowerCase &&
              (col("allnull") ||
                (col("mn").isNotNull && (below || above))))
            .select(col("f"))
        }.reduce(_ union _)
        allFiles.except(excluded)
      }
    val out = (withRecordedSizes(man, keepDf), schema)
    scanPlanPut(key, out)
    out
  }

  /** The `files` frame (one `f` column) left-joined to ONE recorded size
    * per file — the shared sized-files lookup of the scan plan, the
    * change feed and the row-count map. ONE row per file (groupBy, not a
    * raw join): a file that ever carries duplicate `__size__` listings
    * (recovered pre-provenance history) must not fan the left join out —
    * a doubled (f, size) pair would plan the file into TWO partitions
    * and the DSv2 table would return its rows twice (the r11 advisor
    * finding). Max is over the CAST long, not the string — lexicographic
    * max("9", "100") = "9" would silently pick the wrong duplicate. */
  private def withRecordedSizes(man: DataFrame,
      files: DataFrame): Seq[(String, Option[Long])] =
    files.join(
        man.filter(col("c") === lit(SizeKey))
          .groupBy(col("f")).agg(max(col("mn").cast("long")).as("__sz")),
        Seq("f"), "left")
      .select(col("f"), col("__sz"))
      .collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1).toSeq

  private[graft] final case class ZCount(metaRows: Long,
      covered: Seq[String], residual: Seq[String]) {
    def total(residualRows: Long): Long = metaRows + residualRows
  }

  /** Metadata-only COUNT(*) under the [[readZRange]] predicate language —
    * Delta's `SELECT COUNT(*)` fast path: a file the manifest proves
    * FULLY COVERED by every predicate (recorded range inside [lo, hi],
    * provably ZERO nulls in each predicate column, row count recorded)
    * contributes its footer row count WITHOUT being opened; a file some
    * predicate definitively excludes contributes zero; only BOUNDARY
    * files are scanned, with the exact residual filter. At 100 TB a
    * half-table count opens a band of boundary files instead of half the
    * table. The decision plane is the read path's distributed manifest
    * job; soundness mirrors it in both directions: unknown row counts,
    * unknown null counts (some chunk without numNulls), missing stats,
    * or a possibly-null predicate column always degrade to scanning —
    * never to a wrong count (a covered-range file with nulls in the
    * predicate column would overcount, so zero-nulls is REQUIRED
    * evidence). ZOrderSpec pins the no-open claim by physically deleting
    * a covered file and counting anyway. */
  /** EMPTY `preds` = the predicate-less `SELECT COUNT(*)`: every file
    * with a recorded row count charges the manifest directly (null
    * counts are irrelevant without predicates — COUNT(*) counts null
    * rows too); only count-less files (pre-r10 manifests) scan. */
  def countZRange(s: SparkSession, path: String,
      preds0: Seq[(String, Any, Any)]): Long = {
    val preds = translatePreds(colMapFor(s, path), path, preds0)
    val parts = countZRangePartsP(s, path, preds)
    val residualRows =
      if (parts.residual.isEmpty) 0L
      else {
        val (_, schema) = manifestAndSchema(s, requireSnapshot(s, path))
        val base = s.read.schema(schema)
          .parquet(parts.residual.map(f => s"$path/$f"): _*)
        preds.foldLeft(base) { case (d, (c, lo, hi)) =>
          d.filter(bandPred(c, lo, hi))
        }.count()
      }
    parts.total(residualRows)
  }

  private[graft] def countZRangeParts(s: SparkSession, path: String,
      preds0: Seq[(String, Any, Any)]): ZCount =
    countZRangePartsP(s, path,
      translatePreds(colMapFor(s, path), path, preds0))

  private def countZRangePartsP(s: SparkSession, path: String,
      preds: Seq[(String, Any, Any)]): ZCount = {
    val snap = requireSnapshot(s, path)
    val (man0, schema) = manifestAndSchema(s, snap)
    val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val have = statRows(man).select(lower(col("c"))).distinct()
        .collect().map(_.getString(0)).toSet
      preds.foreach(p => require(have.contains(p._1.toLowerCase),
        s"no manifest stats for column ${p._1} " +
          s"(have ${have.toSeq.sorted.mkString(", ")})"))
      val typed = preds.map { case (c0, lo, hi) =>
        val f = schema.find(_.name.equalsIgnoreCase(c0)).getOrElse(
          throw new IllegalArgumentException(
            s"column $c0 is not in the z-store schema"))
        (c0, f.dataType, Sources.encodeBound(f.dataType, lo),
          Sources.encodeBound(f.dataType, hi))
      }
      val excluded =
        if (typed.isEmpty) man.select(col("f")).limit(0)
        else typed.map { case (c0, dt, loE, hiE) =>
          man.filter(lower(col("c")) === c0.toLowerCase && (col("allnull") ||
              (col("mn").isNotNull &&
                (statLt(dt, col("mx"), loE) || statGt(dt, col("mn"), hiE)))))
            .select(col("f"))
        }.reduce(_ union _)
      // coverage needs DEFINITE evidence per predicate: recorded range
      // inside the bounds AND a zero null count — plus a recorded row
      // count to charge to the manifest (with no predicates, the count
      // row alone is the evidence)
      val coveredPer = typed.map { case (c0, dt, loE, hiE) =>
        val rangeIn = man.filter(lower(col("c")) === c0.toLowerCase &&
            !col("allnull") && col("mn").isNotNull &&
            !statLt(dt, col("mn"), loE) && !statGt(dt, col("mx"), hiE))
          .select(col("f"))
        val zeroNulls = man.filter(
            col("c") === lit(NullsPfx + c0.toLowerCase) &&
              col("mn") === lit("0"))
          .select(col("f"))
        rangeIn.intersect(zeroNulls)
      }
      val counted = man.filter(col("c") === lit(CountKey) &&
        col("mn").isNotNull).select(col("f"))
      val covered = (coveredPer :+ counted).reduce(_ intersect _)
        .except(excluded)
      // one count row per file (duplicate listings must not double-count)
      val metaRows = man.filter(col("c") === lit(CountKey))
        .groupBy(col("f")).agg(max(col("mn").cast("long")).as("__n"))
        .join(covered, Seq("f"), "leftsemi")
        .agg(coalesce(sum(col("__n")), lit(0L)))
        .head().getLong(0)
      val coveredNames = covered.collect().map(_.getString(0)).sorted.toSeq
      val residual = man.select(col("f")).distinct().except(excluded)
        .except(covered)
        .collect().map(_.getString(0)).sorted.toSeq
      ZCount(metaRows, coveredNames, residual)
    } finally man.unpersist(blocking = false)
  }

  private[graft] final case class ZMinMax(charged: Seq[String],
      residual: Seq[String])

  /** Decode a manifest stat string to the column's TRUE Spark type (unlike
    * [[decodeStat]]'s comparable form, timestamps come back as timestamps)
    * — what [[minMaxZRange]] surfaces to the caller. */
  private def decodeStatTyped(dt: DataType, c: Column): Column = dt match {
    case DoubleType => c.cast("double")
    case StringType => c
    case org.apache.spark.sql.types.TimestampType =>
      timestamp_micros(c.cast("long"))
    case org.apache.spark.sql.types.IntegerType => c.cast("int")
    case _ => c.cast("long")
  }

  /** Metadata-only MIN/MAX under the [[readZRange]] predicate language —
    * the aggregate sibling of [[countZRange]] (Delta answers
    * `SELECT MIN(x), MAX(x)` from file stats the same way): a file every
    * predicate FULLY COVERS (recorded range inside [lo, hi] + provably
    * zero nulls in each predicate column — covered means ALL its rows
    * match, so its recorded per-column extremes ARE extremes over
    * matching rows) charges its recorded `mn`/`mx` for each requested
    * column WITHOUT being opened; only boundary files are scanned, with
    * the exact residual filter. Returns one row with `mn_<col>` /
    * `mx_<col>` in the column's true type.
    *
    * Exactness rules (a degradation is always to SCANNING, never to a
    * wrong bound):
    *  - predicate columns need the countZRange evidence (range-in + zero
    *    nulls); the AGG columns do NOT need null evidence — SQL MIN/MAX
    *    and parquet footer stats both ignore nulls, so a recorded range
    *    over the non-null values is exactly the answer's contribution.
    *  - an agg column with unknown stats in some covered file sends that
    *    file to the scan set; a definitively ALL-NULL agg column
    *    contributes nothing (exactly SQL's behavior).
    *  - DOUBLE bounds equal to ±0.0 are not trusted as attained values:
    *    parquet-java widens zero bounds (min +0.0 → -0.0, max -0.0 →
    *    +0.0) so a recorded zero may not exist in the data — the file
    *    scans instead.
    * Empty `preds` = the predicate-less `SELECT MIN(x), MAX(x)`: every
    * file with recorded stats for all agg columns charges the manifest.
    * ZOrderSpec pins the no-open claim by physically deleting a charged
    * file and aggregating anyway. */
  def minMaxZRange(s: SparkSession, path: String, aggCols0: Seq[String],
      preds0: Seq[(String, Any, Any)]): DataFrame = {
    require(aggCols0.nonEmpty, "minMaxZRange needs at least one agg column")
    val snap = requireSnapshot(s, path)
    val (man0, schema, cmM) = manifestSchemaMap(s, snap)
    // logical→physical at the boundary; output columns re-labeled with
    // the caller's (logical) names at the end
    val aggCols = aggCols0.map(c =>
      if (cmM.isIdentity) c else cmM.physOfOrRefuse(c, path))
    val preds = translatePreds(cmM, path, preds0)
    val aggFields = aggCols.map { c =>
      val f = schema.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"column $c is not in the z-store schema"))
      require(Sources.statsEligible(f.dataType),
        s"agg column $c: ${f.dataType.simpleString} has no canonical " +
          "min/max order (long/int/double/string/timestamp do)")
      f
    }
    val parts = minMaxZRangePartsP(s, path, aggCols, preds)
    val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
    import s.implicits._
    val chargedRows = man
      .join(parts.charged.toDF("f"), Seq("f"), "leftsemi")
      .filter(!col("allnull"))
    val aggExprs = aggFields.flatMap { f =>
      val a = f.name.toLowerCase
      Seq(
        min(when(lower(col("c")) === a,
          decodeStatTyped(f.dataType, col("mn")))).as(s"cmn_$a"),
        max(when(lower(col("c")) === a,
          decodeStatTyped(f.dataType, col("mx")))).as(s"cmx_$a"))
    }
    val chargedAgg = chargedRows.agg(aggExprs.head, aggExprs.tail: _*)
    val scanBase =
      if (parts.residual.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
      else s.read.schema(schema)
        .parquet(parts.residual.map(f => s"$path/$f"): _*)
    val scanFiltered = preds.foldLeft(scanBase) { case (d, (c, lo, hi)) =>
      d.filter(bandPred(c, lo, hi))
    }
    val scanExprs = aggFields.flatMap { f =>
      val a = f.name.toLowerCase
      Seq(min(col(f.name)).as(s"smn_$a"), max(col(f.name)).as(s"smx_$a"))
    }
    val scanAgg = scanFiltered.agg(scanExprs.head, scanExprs.tail: _*)
    chargedAgg.crossJoin(scanAgg).select(aggFields.flatMap { f =>
      val a = f.name.toLowerCase
      Seq(least(col(s"cmn_$a"), col(s"smn_$a")).as(s"mn_${f.name}"),
        greatest(col(s"cmx_$a"), col(s"smx_$a")).as(s"mx_${f.name}"))
    }: _*).toDF(aggCols0.flatMap(c => Seq(s"mn_$c", s"mx_$c")): _*)
  }

  /** The charged/scan decomposition behind [[minMaxZRange]] — exposed for
    * the spec's no-open pinning, mirroring [[countZRangeParts]]. */
  private[graft] def minMaxZRangeParts(s: SparkSession, path: String,
      aggCols0: Seq[String], preds0: Seq[(String, Any, Any)]): ZMinMax = {
    val cmM = colMapFor(s, path)
    minMaxZRangePartsP(s, path,
      aggCols0.map(c => if (cmM.isIdentity) c else cmM.physOfOrRefuse(c, path)),
      translatePreds(cmM, path, preds0))
  }

  private def minMaxZRangePartsP(s: SparkSession, path: String,
      aggCols: Seq[String], preds: Seq[(String, Any, Any)]): ZMinMax = {
    val snap = requireSnapshot(s, path)
    val (man0, schema) = manifestAndSchema(s, snap)
    val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val have = statRows(man).select(lower(col("c"))).distinct()
        .collect().map(_.getString(0)).toSet
      preds.foreach(p => require(have.contains(p._1.toLowerCase),
        s"no manifest stats for column ${p._1} " +
          s"(have ${have.toSeq.sorted.mkString(", ")})"))
      val typed = preds.map { case (c0, lo, hi) =>
        val f = schema.find(_.name.equalsIgnoreCase(c0)).getOrElse(
          throw new IllegalArgumentException(
            s"column $c0 is not in the z-store schema"))
        (c0, f.dataType, Sources.encodeBound(f.dataType, lo),
          Sources.encodeBound(f.dataType, hi))
      }
      val aggFields = aggCols.map(c =>
        schema.find(_.name.equalsIgnoreCase(c)).get)
      val excluded =
        if (typed.isEmpty) man.select(col("f")).limit(0)
        else typed.map { case (c0, dt, loE, hiE) =>
          man.filter(lower(col("c")) === c0.toLowerCase && (col("allnull") ||
              (col("mn").isNotNull &&
                (statLt(dt, col("mx"), loE) || statGt(dt, col("mn"), hiE)))))
            .select(col("f"))
        }.reduce(_ union _)
      val predCovered = typed.map { case (c0, dt, loE, hiE) =>
        val rangeIn = man.filter(lower(col("c")) === c0.toLowerCase &&
            !col("allnull") && col("mn").isNotNull &&
            !statLt(dt, col("mn"), loE) && !statGt(dt, col("mx"), hiE))
          .select(col("f"))
        val zeroNulls = man.filter(
            col("c") === lit(NullsPfx + c0.toLowerCase) &&
              col("mn") === lit("0"))
          .select(col("f"))
        rangeIn.intersect(zeroNulls)
      }
      val evidencePer = aggFields.map { f =>
        val a = f.name.toLowerCase
        val zeroGuard =
          if (f.dataType == DoubleType)
            col("mn").cast("double") =!= lit(0.0) &&
              col("mx").cast("double") =!= lit(0.0)
          else lit(true)
        man.filter(lower(col("c")) === a && (col("allnull") ||
            (col("mn").isNotNull && col("mx").isNotNull && zeroGuard)))
          .select(col("f"))
      }
      val base = man.select(col("f")).distinct()
      val charged = (predCovered ++ evidencePer)
        .foldLeft(base)(_ intersect _).except(excluded)
      val chargedNames = charged.collect().map(_.getString(0)).sorted.toSeq
      val residual = base.except(excluded).except(charged)
        .collect().map(_.getString(0)).sorted.toSeq
      ZMinMax(chargedNames, residual)
    } finally man.unpersist(blocking = false)
  }

  // ---- bloom point-predicate index (per-file sidecars) --------------------

  private def bloomSidecar(path: String, colLower: String, rel: String) =
    new Path(path, s"_zbloom/$colLower/$rel.bloom")

  /** Build per-file BLOOM sidecars for point predicates on a
    * NON-CLUSTERED column — the pruning plane min/max stats cannot give
    * (an unclustered column's recorded ranges overlap everywhere, so a
    * `key = v` lookup through the z-store otherwise opens every file).
    * This is Delta's OPTIMIZE-time bloom-filter index shape: one small
    * sidecar per data file under `_zbloom/<col>/`, built in ONE
    * distributed pass (group by input file → Spark's native
    * BloomFilterAggregate over xxhash64(col); each executor partition
    * writes its own sidecars — no driver materialization of O(files ×
    * bloomBytes)). [[readZPoint]] consults sidecars DISTRIBUTED over the
    * candidate list, so files opened for data ∝ matching files + the fpp
    * tail, never table size. Soundness is one-directional by
    * construction: a missing sidecar always keeps its file; the bloom
    * never excludes a file that holds the value. Since r15 the build's
    * fpp is recorded COLUMN POLICY and every subsequent [[zWrite]]
    * (append, DML rewrite, optimize, recluster) re-covers its own fresh
    * files in the same pass — coverage no longer decays between manual
    * rebuilds; this build pass only (re)seeds the whole snapshot.
    * Sidecars of vacuumed files are dead weight until the vacuum sweep
    * (they are keyed by data-file name and never consulted for unlisted
    * files). */
  def buildBloomIndex(s: SparkSession, path: String, colName0: String,
      fpp: Double = 0.03): Unit =
    Lease.withLease(s, path, "zorder-bloom-build") {
      val snap = requireSnapshot(s, path)
      val (man0, schema, cmB) = manifestSchemaMap(s, snap)
      val colName = if (cmB.isIdentity) colName0
        else cmB.physOfOrRefuse(colName0, path)
      val f = schema.find(_.name.equalsIgnoreCase(colName)).getOrElse(
        throw new IllegalArgumentException(
          s"column $colName is not in the z-store schema"))
      val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
      // expected items per file from the harvested row counts (the
      // count plane pays off again); conservative max over files
      val maxRows = man.filter(col("c") === lit(CountKey) &&
          col("mn").isNotNull)
        .agg(coalesce(max(col("mn").cast("long")), lit(0L))).head().getLong(0)
      // the fpp becomes COLUMN POLICY (r15): every later zWrite re-covers
      // its own fresh files at this fpp, so the index survives
      // appends/DML instead of decaying until a manual rebuild
      locally {
        val p = new Path(path, s"_zbloom/${f.name.toLowerCase}/_fpp")
        val fs = StoreMaint.fsFor(s, p)
        fs.mkdirs(p.getParent)
        val out = fs.create(p, true)
        try out.write(fpp.toString.getBytes("UTF-8")) finally out.close()
      }
      writeBloomSidecars(s, path, Seq((f.name, fpp)),
        readSnapshotPhysOf(s, path, snap), math.max(maxRows, 1024L))
    }

  /** Bloom-indexed columns of the store = the recorded `_zbloom/<col>`
    * policy dirs (a dir without `_fpp` is pre-r15; default 0.03). */
  private def bloomIndexedCols(s: SparkSession,
      path: String): Seq[(String, Double)] = {
    val bdir = new Path(path, "_zbloom")
    val fs = StoreMaint.fsFor(s, bdir)
    if (!fs.exists(bdir)) Seq.empty
    else fs.listStatus(bdir).filter(_.isDirectory).toSeq
      .map { st =>
        val fppFile = new Path(st.getPath, "_fpp")
        val fpp =
          try {
            val in = fs.open(fppFile)
            val b = try org.apache.commons.io.IOUtils.toByteArray(in)
            finally in.close()
            new String(b, "UTF-8").toDouble
          } catch { case _: Exception => 0.03 }
        (st.getPath.getName, fpp)
      }.sortBy(_._1)
  }

  /** ONE distributed bloom-sidecar pass over `frame` (rows must come
    * only from files under the store root) covering EVERY given column
    * at once: group by input file → one BloomFilterAggregate(xxhash64
    * (col)) per column, each sized for `n` items at its recorded fpp;
    * each executor partition writes its own `_zbloom/<col>/<rel>.bloom`
    * files — no driver materialization of O(files × bloomBytes), and
    * the scan reads only the bloom columns in a single pass (guide §2.3
    * project-early / §6 — one read regardless of column count). Shared
    * by the whole-snapshot [[buildBloomIndex]] and the per-batch
    * re-cover every [[zWrite]] runs for recorded bloom columns. */
  private def writeBloomSidecars(s: SparkSession, path: String,
      cols: Seq[(String, Double)], frame: DataFrame, n: Long): Unit = {
      val shim = org.apache.spark.sql.graftshim.PlanBridge
      import org.apache.spark.sql.catalyst.expressions.Literal
      // signed zeros need no normalization here: XxHash64 canonicalizes
      // -0.0 to 0.0 (and NaN) before hashing, so stored -0.0 and a 0.0
      // probe already collide — pinned in ZOrderSpec
      val aggs = cols.map { case (colName, fpp) =>
        val bits = math.ceil(
          -n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
        shim.column(
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(shim.expression(xxhash64(col(colName))),
              Literal(n), Literal(bits)).toAggregateExpression())
          .as(s"__bf_${colName.toLowerCase}")
      }
      val colLowers = cols.map(_._1.toLowerCase)
      val target = path // stable closure reference
      val overrides = GraftShardsSource.confOverrides(s)
      // sidecars key by the file's path RELATIVE TO THE STORE ROOT (the
      // manifest's `f` column, what readZPoint looks up) — resolved by
      // stripping the qualified root prefix, never by pattern-searching
      // for "/d-": a store path that itself contains "/d-" would key
      // every sidecar wrongly and silently defeat the index (the r10
      // advisor finding). A scanned file outside the root fails loudly.
      val rootAbs = GraftShardsSource.fs(new Path(target),
          GraftShardsSource.hadoopConf(overrides))
        .makeQualified(new Path(target)).toUri.getPath
      frame
        .groupBy(input_file_name().as("__file"))
        .agg(aggs.head, aggs.tail: _*)
        .foreachPartition { (rows: Iterator[Row]) =>
          val fs = GraftShardsSource.fs(new Path(target),
            GraftShardsSource.hadoopConf(overrides))
          rows.foreach { r =>
            val abs = new Path(r.getString(0)).toUri.getPath
            require(abs != null && abs.startsWith(rootAbs + "/"),
              s"bloom build: scanned file ${r.getString(0)} is not under " +
                s"the z-store root $rootAbs")
            val rel = abs.substring(rootAbs.length + 1)
            colLowers.zipWithIndex.foreach { case (cl, i) =>
              val out = fs.create(bloomSidecar(target, cl, rel), true)
              out.write(r.getAs[Array[Byte]](i + 1))
              out.close()
            }
          }
        }
    }

  /** Prune a scan's surviving-file list by the BLOOM sidecars of its
    * pushed POINT equalities — [[readZPoint]]'s pruning plane wired into
    * the graft-z DSv2 table ([[ZBatch]]; the r11 verdict's item 3: an
    * `EqualTo` on a non-clustered column through `spark.read.format
    * ("graft-z")` used to get only min/max bounds, which cannot prune an
    * unclustered column). Per point column with a sidecar root, ONE
    * driver hash (the same engine expression the build hashed with —
    * xxhash64 of the value cast to the column type) and a DISTRIBUTED
    * might-contain pass over the candidates; a column with no sidecars,
    * or a file missing one, keeps its files. Sound for the same reason
    * readZPoint is: bloom negatives are definite, positives cost I/O
    * only (Spark re-applies the full predicate on top), and sidecars
    * describe IMMUTABLE files, so time-travel candidates probe the same
    * way. */
  private[sources] def bloomPruneScan(s: SparkSession, path: String,
      points0: Seq[(String, Any)], schema: StructType,
      candidates: Seq[(String, Option[Long])])
      : Seq[(String, Option[Long])] = {
    if (points0.isEmpty || candidates.isEmpty) return candidates
    // best-effort boundary translation, like the range-bound plane
    val cmP = colMapFor(s, path)
    val points = if (cmP.isIdentity) points0
      else points0.flatMap { case (c, v) => cmP.physOf(c).map((_, v)) }
    if (points.isEmpty) return candidates
    val overrides = GraftShardsSource.confOverrides(s)
    val fs0 = GraftShardsSource.fs(new Path(path),
      GraftShardsSource.hadoopConf(overrides))
    val probes = points.flatMap { case (c0, v) =>
      schema.find(_.name.equalsIgnoreCase(c0)).flatMap { f =>
        val colLower = f.name.toLowerCase
        if (v == null ||
            !fs0.exists(new Path(path, s"_zbloom/$colLower"))) None
        else Some((colLower, pointProbeHashes(s, f.dataType, v)))
      }
    }
    if (probes.isEmpty) candidates
    else bloomProbeFiles(s, path, candidates, probes)
  }

  /** Probe hashes for one point value against a column's bloom sidecars:
    * xxhash64 of the value cast to the column type — EXACTLY the
    * expression [[buildBloomIndex]] hashed stored values with. Signed
    * zeros need no special casing on either side: Spark's XxHash64
    * normalizes -0.0 to 0.0 (and NaN to the canonical NaN) BEFORE
    * hashing, so a -0.0 stored value and a 0.0 probe produce the SAME
    * hash by construction — pinned in ZOrderSpec (the r13 advisor's
    * premise checked and found already-sound; the REAL zero hole was
    * the parquet pushdown comparison, fixed in [[zeroSafeBand]]). */
  private[sources] def pointProbeHashes(s: SparkSession,
      dt: DataType, v: Any): Seq[Long] =
    Seq(s.range(1).select(xxhash64(lit(v).cast(dt))).head().getLong(0))

  /** The ONE distributed bloom-sidecar probe both pruning planes share —
    * keep a file iff EVERY probe's column might contain SOME of its
    * hashes (a point probe is a one-hash set; the runtime IN-set plane
    * passes the whole key set). A missing sidecar keeps the file (must
    * read); a false positive costs I/O, never correctness. Small
    * metadata reads, one task batch over the candidate names. */
  private def bloomProbeFiles(s: SparkSession, path: String,
      candidates: Seq[(String, Option[Long])],
      probes: Seq[(String, Seq[Long])]): Seq[(String, Option[Long])] = {
    if (probes.isEmpty || candidates.isEmpty) return candidates
    val overrides = GraftShardsSource.confOverrides(s)
    val names = candidates.map(_._1)
    val target = path
    val kept = s.sparkContext
      .parallelize(names, math.min(names.size, 32))
      .filter { rel =>
        val fs = GraftShardsSource.fs(new Path(target),
          GraftShardsSource.hadoopConf(overrides))
        probes.forall { case (cl, hs) =>
          val sc = bloomSidecar(target, cl, rel)
          if (!fs.exists(sc)) true // uncovered file: must read
          else {
            val in = fs.open(sc)
            try {
              val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(in)
              hs.exists(bf.mightContainLong)
            } finally in.close()
          }
        }
      }.collect().toSet
    candidates.filter(c => kept(c._1))
  }

  /** The columns a scan can DYNAMICALLY prune files by — recorded stat
    * columns plus bloom-indexed columns, restricted to stats-eligible
    * types: what the DSv2 table reports as its runtime-filter attributes
    * ([[ZBatchScan]]'s `SupportsRuntimeV2Filtering`, the join-driven
    * dynamic file pruning Delta/Iceberg do for DPP). Memoized per
    * snapshot identity: the answer only changes with a commit, and
    * Spark's DPP rule consults it during optimization of every join
    * against the table. */
  private val prunableColsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private[sources] def prunableColumns(s: SparkSession, path: String,
      at: Option[(Long, Long)] = None): Seq[String] = {
    val snap = at match {
      case Some((e, v)) => snapshotAt(s, path, e, v)
      case None =>
        currentSnapshot(s, path) match {
          case Some(sn) => sn
          case None => return Seq.empty
        }
    }
    val key = s"$path|i${snapIdentity(s, snap)}|e${snap.epoch}|" +
      snap.vdirs.map(_.getName).sorted.mkString(",")
    Option(prunableColsCache.get(key)).getOrElse {
      val (man, schema) = manifestAndSchema(s, snap)
      val statCols = statRows(man.filter(!col("c").isin(DdlKey, ColmapKey)))
        .select(lower(col("c"))).distinct()
        .collect().map(_.getString(0)).toSet
      val bdir = new Path(path, "_zbloom")
      val fs = StoreMaint.fsFor(s, bdir)
      val bloomCols =
        if (!fs.exists(bdir)) Set.empty[String]
        else fs.listStatus(bdir).filter(_.isDirectory)
          .map(_.getPath.getName).toSet
      val cmPr = colMapForSnap(s, path, snap)
      val out = schema.fields.toSeq
        .filter(f => Sources.statsEligible(f.dataType) &&
          (statCols(f.name.toLowerCase) || bloomCols(f.name.toLowerCase)) &&
          !cmPr.isDropped(f.name))
        .map(f => cmPr.logicalOf(f.name)) // the scan output speaks logical
      if (prunableColsCache.size > 64) prunableColsCache.clear()
      prunableColsCache.put(key, out)
      out
    }
  }

  /** Runtime IN-SET file pruning — the execution half of the DSv2
    * table's `SupportsRuntimeV2Filtering`: a dynamic-pruning subquery
    * hands the scan the DISTINCT JOIN KEYS of the (already filtered,
    * usually broadcast) other side, and the scan drops every candidate
    * file that provably holds NONE of them. Two planes, both
    * best-effort and sound: recorded ranges first (a file survives iff
    * SOME value lies inside its [mn, mx] — the disjunctive twin of the
    * static band prune), then bloom sidecars (a file survives iff SOME
    * value might-contain; a missing sidecar keeps the file). Value sets
    * beyond `MaxRuntimeValues` skip pruning — the candidate superset is
    * always correct, and a megakey IN-list would cost more to test than
    * it saves; the comparison work is driver-side over the file-name
    * list the scan already materializes (O(files × values), zero extra
    * jobs beyond one stat collect). Null keys never match an equi-join,
    * so an all-null file is excluded and null values are dropped.
    *
    * The cap is count- AND byte-weighed (the scan-plan cache's budget
    * discipline): 511 one-KB string keys cost the same driver compare
    * work as half a million short ones, so a value set over
    * `MaxRuntimeValueBytes` falls through to the unpruned superset just
    * like an over-count one. */
  private[sources] val MaxRuntimeValues = 512
  private[sources] val MaxRuntimeValueBytes = 64L * 1024

  private def runtimeValueWeight(v: Any): Long = v match {
    case s: String => 16L + 2L * s.length
    case b: Array[Byte] => 16L + b.length
    case _ => 16L
  }

  private[sources] def pruneFilesForValueSet(s: SparkSession, path: String,
      colName: String, values: Seq[Any],
      candidates: Seq[(String, Option[Long])],
      at: Option[(Long, Long)] = None): Seq[(String, Option[Long])] = {
    if (candidates.isEmpty || values.size > MaxRuntimeValues ||
        values.iterator.map(runtimeValueWeight).sum > MaxRuntimeValueBytes)
      return candidates
    // -0.0 normalizes to 0.0: the join plane treats them as one key, so
    // the encoded bound and the bloom probe hash must too
    val nonNull = values.filter(_ != null).map {
      case d: java.lang.Double if d.doubleValue() == 0.0 =>
        java.lang.Double.valueOf(0.0d)
      case x => x
    }
    if (nonNull.isEmpty) return Seq.empty // an empty build side joins nothing
    val snap = at match {
      case Some((e, v)) => snapshotAt(s, path, e, v)
      case None => requireSnapshot(s, path)
    }
    val (man0, schema, cmV) = manifestSchemaMap(s, snap)
    val colNameP = if (cmV.isIdentity) colName
      else cmV.physOf(colName).getOrElse(return candidates)
    val fOpt = schema.find(_.name.equalsIgnoreCase(colNameP))
      .filter(f => Sources.statsEligible(f.dataType))
    if (fOpt.isEmpty) return candidates
    val f = fOpt.get
    val colLower = f.name.toLowerCase
    val enc = nonNull.map(v => Sources.encodeBound(f.dataType, v))
    // range plane: driver-side forall over the collected stat rows (the
    // same O(files) driver materialization the scan plan itself is)
    val stats = man0.filter(!col("c").isin(DdlKey, ColmapKey))
      .filter(lower(col("c")) === colLower && !col("c").startsWith("__"))
      .select(col("f"), col("mn"), col("mx"), col("allnull"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)),
        Option(r.getString(2)), r.getBoolean(3)))
      .groupBy(_._1)
    // doubles compare with PRIMITIVE <, not Double.compare: Spark's
    // equi-join matches -0.0 with 0.0 (NormalizeFloatingNumbers), and
    // Double.compare orders them — a [0.0, 0.0] file probed with -0.0
    // would be wrongly pruned and rows silently dropped
    def outOfRange(mn: String, mx: String, e: String): Boolean =
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType =>
          mx.toDouble < e.toDouble || mn.toDouble > e.toDouble
        case _ =>
          Sources.statCompare(f.dataType, mx, e) < 0 ||
            Sources.statCompare(f.dataType, mn, e) > 0
      }
    def rowExcludes(mn: Option[String], mx: Option[String],
        allnull: Boolean): Boolean =
      allnull || (mn.nonEmpty && mx.nonEmpty &&
        enc.forall(e => outOfRange(mn.get, mx.get, e)))
    val rangeKept = candidates.filter { case (fn, _) =>
      stats.get(fn) match {
        case None => true // no stats recorded: must read
        // duplicate listings (recovered history) must agree to exclude
        case Some(rs) => !rs.forall(r => rowExcludes(r._2, r._3, r._4))
      }
    }
    // bloom plane: survivors probed DISJUNCTIVELY (∃ value might-contain)
    val fs0 = GraftShardsSource.fs(new Path(path),
      GraftShardsSource.hadoopConf(GraftShardsSource.confOverrides(s)))
    if (rangeKept.isEmpty || !fs0.exists(new Path(path, s"_zbloom/$colLower")))
      rangeKept
    else {
      val hashes = nonNull.flatMap(v =>
        pointProbeHashes(s, f.dataType, v)).distinct
      bloomProbeFiles(s, path, rangeKept, Seq((colLower, hashes)))
    }
  }

  /** Total recorded row count of `files`, when EVERY file has a
    * `__count__` manifest row — the numRows half of the DSv2 table's
    * reported statistics ([[ZBatchScan]]'s `SupportsReportStatistics`);
    * any count-less file (pre-r10 manifests) degrades to "unknown", and
    * Spark falls back to its size-based estimate — never a wrong count
    * presented as a true one. */
  private[sources] def fileRowCounts(s: SparkSession, path: String,
      files: Seq[String], at: Option[(Long, Long)] = None): Option[Long] = {
    if (files.isEmpty) return Some(0L)
    val counts = fileRowCountMap(s, path, at)
    if (files.forall(counts.contains)) Some(files.map(counts).sum) else None
  }

  /** Per-file recorded row counts (files without a `__count__` row are
    * absent) — shared by the stats report and the pushed-limit file
    * prefix ([[ZBatchScan]]). Memoized per snapshot identity with the
    * scan-plan cache's discipline (commit-keyed, entry- AND
    * weight-bounded, path-invalidated, huge stores fall through
    * uncached): a join's planning consults statistics several times,
    * and the map is O(store files) of driver strings. */
  private val rowCountsCache =
    new java.util.LinkedHashMap[String, Map[String, Long]](16, 0.75f, true)
  private val RowCountsCacheMaxEntries = 8

  private[sources] def fileRowCountMap(s: SparkSession, path: String,
      at: Option[(Long, Long)] = None): Map[String, Long] = {
    val snap = at match {
      case Some((e, v)) => snapshotAt(s, path, e, v)
      case None => requireSnapshot(s, path)
    }
    val key = s"$path|i${snapIdentity(s, snap)}|e${snap.epoch}|" +
      snap.vdirs.map(_.getName).sorted.mkString(",")
    rowCountsCache.synchronized { Option(rowCountsCache.get(key)) } match {
      case Some(hit) => hit
      case None =>
        val (man0, _) = manifestAndSchema(s, snap)
        // duplicate __count__ listings (recovered history) fold with MIN:
        // this map feeds BOTH the stats report and the pushed-limit file
        // prefix (ZBatch.limitPrefix), and an OVERstated duplicate would
        // shorten the prefix — LIMIT n returning fewer than n rows while
        // more exist. An underestimate only widens the prefix (sound)
        // and only nudges the stats estimate down (the r13 advisor
        // finding; duplicates should agree anyway).
        val out = man0
          .filter(col("c") === lit(CountKey) && col("mn").isNotNull)
          .groupBy(col("f")).agg(min(col("mn").cast("long")).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        if (out.size.toLong <= ScanPlanCacheMaxWeight)
          rowCountsCache.synchronized {
            rowCountsCache.put(key, out)
            val it = rowCountsCache.entrySet().iterator()
            while (rowCountsCache.size() > RowCountsCacheMaxEntries &&
                it.hasNext) {
              if (it.next().getKey != key) it.remove()
            }
          }
        out
    }
  }

  /** Per-file bucket ids of the current (or travel) snapshot — the
    * storage-partitioned scan's grouping input ([[ZBatchScan]]); files
    * without a [[BucketKey]] row (pre-bucketing history, or a
    * non-bucketed store) are absent, and the scan falls back to
    * bin-packed partitions for the WHOLE read (partial grouping would
    * report a partitioning the rows don't satisfy). */
  private val bucketMapCache =
    new java.util.LinkedHashMap[String, Map[String, Int]](16, 0.75f, true)
  private val BucketMapCacheMaxEntries = 8

  private[sources] def fileBucketMap(s: SparkSession, path: String,
      at: Option[(Long, Long)] = None): Map[String, Int] = {
    val snap = at match {
      case Some((e, v)) => snapshotAt(s, path, e, v)
      case None => requireSnapshot(s, path)
    }
    // memoized with the rowCountsCache discipline (commit-keyed via the
    // snapshot identity, entry- and weight-bounded, huge stores fall
    // through uncached): Spark creates several scan instances while
    // planning one join, and each would otherwise run its own manifest
    // job — measured ~2 s of fixed per-query planning at 16 buckets
    val key = s"$path|i${snapIdentity(s, snap)}|e${snap.epoch}|" +
      snap.vdirs.map(_.getName).sorted.mkString(",")
    bucketMapCache.synchronized { Option(bucketMapCache.get(key)) } match {
      case Some(hit) => hit
      case None =>
        val (man0, _) = manifestAndSchema(s, snap)
        val out = man0.filter(col("c") === lit(BucketKey) &&
            col("mn").isNotNull)
          .groupBy(col("f")).agg(min(col("mn").cast("int")).as("b"))
          .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
        if (out.size.toLong <= ScanPlanCacheMaxWeight)
          bucketMapCache.synchronized {
            bucketMapCache.put(key, out)
            val it = bucketMapCache.entrySet().iterator()
            while (bucketMapCache.size() > BucketMapCacheMaxEntries &&
                it.hasNext) {
              if (it.next().getKey != key) it.remove()
            }
          }
        out
    }
  }

  /** Bloom-prune a DML rewrite's AFFECTED file list by its POINT-shaped
    * predicates (lo = hi): a file whose bloom sidecar says the key is
    * absent provably holds no matching row, so it carries into the new
    * epoch by reference — what bounds a one-key DELETE/UPDATE on an
    * UNCLUSTERED (bloom-indexed) key to O(matching files) instead of a
    * full-table rewrite (the copy-on-write half of the merge-on-read
    * question, r13 verdict item 5: with clustering bounding banded DML
    * and sidecars bounding point DML, the remaining write amplification
    * is one FILE per matching row-group — the documented COW contract).
    * Sound exactly like the read path: bloom negatives are definite, a
    * missing sidecar keeps its file, false positives cost I/O only. */
  private def bloomPruneAffected(s: SparkSession, path: String,
      preds: Seq[(String, Any, Any)], schema: StructType,
      affected: Seq[String]): Seq[String] = {
    val points = preds.collect {
      case (c, lo, hi) if lo != null && hi != null &&
          schema.find(_.name.equalsIgnoreCase(c)).exists(f =>
            Sources.statsEligible(f.dataType) &&
              Sources.encodeBound(f.dataType, lo) ==
                Sources.encodeBound(f.dataType, hi)) => (c, lo)
    }
    if (points.isEmpty || affected.isEmpty) affected
    else bloomPruneScan(s, path, points, schema,
      affected.map(f => (f, None: Option[Long]))).map(_._1)
  }

  /** Point lookup `col = value` through the z-store with BLOOM file
    * pruning: range stats exclude what they can (nothing, on an
    * unclustered column), then the candidates' bloom sidecars are tested
    * DISTRIBUTED (small metadata reads, one per candidate — the Delta
    * bloom-index read shape) and only might-contain files are opened for
    * data; the exact equality filter stays on top, so a false positive
    * costs I/O, never correctness, and a missing sidecar degrades to
    * reading that file. ZOrderSpec pins files-opened ∝ matches with a
    * planted absent probe. */
  def readZPoint(s: SparkSession, path: String, colName0: String,
      value: Any): DataFrame = {
    val snap = requireSnapshot(s, path)
    val (man0, schema, cm) = manifestSchemaMap(s, snap)
    val colName = if (cm.isIdentity) colName0
      else cm.physOfOrRefuse(colName0, path)
    val f = schema.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(
        s"column $colName is not in the z-store schema"))
    val colLower = f.name.toLowerCase
    val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val kept =
      try {
        val enc = Sources.encodeBound(f.dataType, value)
        // range stats first (free if recorded; an unclustered column's
        // ranges exclude nothing and that is fine — bloom is the plane
        // that prunes here)
        val excluded = man.filter(lower(col("c")) === colLower &&
            !col("c").startsWith("__") && (col("allnull") ||
            (col("mn").isNotNull &&
              (statLt(f.dataType, col("mx"), enc) ||
                statGt(f.dataType, col("mn"), enc)))))
          .select(col("f"))
        val candidates = man.select(col("f")).distinct().except(excluded)
          .collect().map(_.getString(0)).sorted.toSeq
        if (candidates.isEmpty) Seq.empty[String]
        else {
          // the probe hashes EXACTLY as the build hashed the column
          // (plus the signed-zero twin for floating zero probes)
          val probeHashes = pointProbeHashes(s, f.dataType, value)
          val overrides = GraftShardsSource.confOverrides(s)
          val target = path
          s.sparkContext
            .parallelize(candidates, math.min(candidates.size, 32))
            .filter { rel =>
              val fs = GraftShardsSource.fs(new Path(target),
                GraftShardsSource.hadoopConf(overrides))
              val sc = bloomSidecar(target, colLower, rel)
              if (!fs.exists(sc)) true // uncovered file: must read
              else {
                val in = fs.open(sc)
                try {
                  val bf = org.apache.spark.util.sketch.BloomFilter
                    .readFrom(in)
                  probeHashes.exists(bf.mightContainLong)
                } finally in.close()
              }
            }.collect().sorted.toSeq
        }
      } finally man.unpersist(blocking = false)
    val base =
      if (kept.nonEmpty)
        s.read.schema(schema).parquet(kept.map(f0 => s"$path/$f0"): _*)
      else s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    toLogicalDf(base.filter(pointPred(f.name, value)), cm)
  }

  /** Full current-snapshot read (explicit recorded schema, manifest-listed
    * files) — the OPTIMIZE-path input ([[reclusterZOrdered]]) and the
    * no-predicate table read. O(table files) driver file names, like any
    * whole-table plan. */
  def readSnapshot(s: SparkSession, path: String): DataFrame =
    readSnapshotOf(s, path, requireSnapshot(s, path))

  private def readSnapshotOf(s: SparkSession, path: String,
      snap: ZSnapshot): DataFrame =
    toLogicalDf(readSnapshotPhysOf(s, path, snap),
      colMapForSnap(s, path, snap))

  /** The PHYSICAL-named snapshot frame — internal planes that join
    * against physical-keyed sidecars/stats ([[buildBloomIndex]]). */
  private def readSnapshotPhysOf(s: SparkSession, path: String,
      snap: ZSnapshot): DataFrame = {
    val (man, schema, _) = manifestSchemaMap(s, snap)
    val files = man.filter(!col("c").isin(DdlKey, ColmapKey)).select(col("f"))
      .distinct().collect().map(_.getString(0)).sorted
    if (files.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    else s.read.schema(schema).parquet(files.map(f => s"$path/$f"): _*)
  }

  // ---- time travel --------------------------------------------------------

  /** The commit log as data — Delta's `DESCRIBE HISTORY`: one row per
    * committed (epoch, version) with the OPERATION that produced it
    * (create / append / delete / merge / recluster / optimize /
    * manifest-compact / rollforward), read from the `v<N>.op` sidecar
    * each commit writes before its version lands. Metadata-plane only —
    * O(committed versions) sidecar reads, bounded by [[compactManifest]]'s
    * O(1)-versions discipline; vacuumed epochs disappear with their
    * history, exactly like time travel (the audit window IS the retention
    * window). A committed version without a sidecar (pre-r10 store)
    * reads `unknown`. */
  def describeHistory(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    val rows = listVersions(s, path).map { case (e, v) =>
      val edir = new Path(manifestRoot(path), s"e$e")
      val fs = StoreMaint.fsFor(s, edir)
      val opf = new Path(edir, s"v$v.op")
      val op =
        if (!fs.exists(opf)) "unknown"
        else {
          val in = fs.open(opf)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        }
      (e, v, op)
    }
    rows.toDF("epoch", "ver", "op").orderBy(col("epoch"), col("ver"))
  }

  /** Every committed snapshot, as (epoch, version) in commit order — the
    * travel coordinates for [[readSnapshotAt]]/[[readZRangeAt]]. A version
    * of epoch e means "epoch e's state after its first version+1 commits";
    * epochs whose v0 never committed (crashed rebuilds) are not snapshots. */
  def listVersions(s: SparkSession, path: String): Seq[(Long, Long)] = {
    val mroot = manifestRoot(path)
    val fs = StoreMaint.fsFor(s, mroot)
    if (!fs.exists(mroot)) return Seq.empty
    fs.listStatus(mroot).filter(_.isDirectory).toSeq
      .flatMap(st => parseIdx(st.getPath.getName, "e").map(_ -> st.getPath))
      .filter { case (_, p) => isCommitted(fs, new Path(p, "v0")) }
      .flatMap { case (e, edir) =>
        fs.listStatus(edir).filter(_.isDirectory)
          .flatMap(st => parseIdx(st.getPath.getName, "v"))
          .filter(v => isCommitted(fs, new Path(edir, s"v$v")))
          .map(v => (e, v))
      }.sorted
  }

  /** Resolve a PAST committed snapshot — epoch e at version v = the state
    * the store exposed after that commit. Refuses loudly on a
    * never-committed or vacuumed coordinate (a silently-empty past would
    * be the worst possible answer to an audit query). */
  private def snapshotAt(s: SparkSession, path: String, epoch: Long,
      version: Long): ZSnapshot = {
    val edir = new Path(manifestRoot(path), s"e$epoch")
    val fs = StoreMaint.fsFor(s, edir)
    require(fs.exists(edir) && isCommitted(fs, new Path(edir, "v0")),
      s"no committed epoch e$epoch under $path (vacuumed, or never " +
        "committed) — see listVersions")
    val vdirs = fs.listStatus(edir).filter(_.isDirectory)
      .flatMap(st => parseIdx(st.getPath.getName, "v").map(_ -> st.getPath))
      .filter { case (v, p) => v <= version && isCommitted(fs, p) }
      .sortBy(_._1)
    require(vdirs.exists(_._1 == version),
      s"epoch e$epoch has no committed version v$version — see listVersions")
    ZSnapshot(epoch, edir, vdirs.map(_._2).toSeq)
  }

  /** Incremental change feed: the rows ADDED after committed coordinate
    * (`epoch`, `version`) — the z-store's CDF half. The store is
    * append-only within an epoch (inserts only), so the delta is exactly
    * the manifest versions `version+1 .. current` and their files —
    * O(delta files) I/O and metadata, the incremental-view primitive (the
    * upsert table's keyed CDF is q100's `readChanges`; this is the
    * fact-stream form a downstream view tails). A delete, re-cluster,
    * bin-pack or manifest compaction commits a NEW epoch, and incremental
    * consumption across epochs REFUSES loudly: rewritten history can't be
    * expressed as a row delta, so the consumer must full-refresh and
    * resume from the new epoch — Delta's own contract when CDF meets a
    * data rewrite. The base coordinate itself is validated (a bogus base
    * would silently replay the whole store as "changes"). */
  def readChangesSince(s: SparkSession, path: String, epoch: Long,
      version: Long): DataFrame = {
    val (sized, schema) = changeFilesSized(s, path, epoch, version)
    val files = sized.map(_._1)
    toLogicalDf(
      if (files.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
      else s.read.schema(schema).parquet(files.map(f => s"$path/$f"): _*),
      colMapFor(s, path))
  }

  // ---- row-level change feed across DML epochs -----------------------------

  /** Delta's CDF metadata columns: what kind of change a row is, and the
    * commit coordinate that produced it. */
  val ChangeTypeCol = "_change_type"
  val CommitEpochCol = "_commit_epoch"
  val CommitVersionCol = "_commit_version"

  private def changesDir(path: String, epoch: Long): Path =
    new Path(new Path(path, "_zchanges"), s"e$epoch")

  private def changeFeedFile(path: String): Path =
    new Path(path, "_zschema/changefeed")

  /** Row-level change recording is a PER-STORE OPT-IN (Delta's
    * `enableChangeDataFeed` table property): recording costs one extra
    * pass over the changed rows per DML commit (pre/postimage splits, a
    * multiset diff for the SQL ops) plus a parquet write — measured
    * ~45% on the CDC-apply merge loop (q141) when it was unconditional
    * — so stores with no incremental consumers pay nothing by default.
    * With the feed disabled, a DML rewrite records no change set and
    * [[readChangeFeed]] refuses across it with the full-refresh message
    * (naming the op and the enablement switch) — loud, never wrong. */
  def setChangeFeedEnabled(s: SparkSession, path: String,
      on: Boolean): Unit = {
    val p = changeFeedFile(path)
    val fs = StoreMaint.fsFor(s, p)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(on.toString.getBytes("UTF-8")) finally out.close()
  }

  private[sources] def changeFeedEnabled(s: SparkSession,
      path: String): Boolean = {
    val p = changeFeedFile(path)
    val fs = StoreMaint.fsFor(s, p)
    fs.exists(p) && {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      body.trim.equalsIgnoreCase("true")
    }
  }

  /** Record the ROW-LEVEL change set of a DML epoch rewrite — the store
    * columns plus [[ChangeTypeCol]] (`insert` / `delete` /
    * `update_preimage` / `update_postimage`), as parquet under
    * `_zchanges/e<newEpoch>/`. Written AFTER the new epoch dir is
    * reserved (the `_rebase` marker) and BEFORE its v0 commit: a crash
    * in between leaves the epoch dir uncommitted — its number is never
    * reused ([[nextEpoch]] counts crashed dirs) and readers only consult
    * change records of COMMITTED epochs, so the orphan is invisible
    * (and [[vacuumOrphans]] eventually collects it). The change rows are
    * computed by the rewrite itself from data it already reads, so the
    * record costs O(changed rows) extra I/O, never a second table scan —
    * what lets [[readChangeFeed]] cross a DML epoch instead of refusing
    * with full-refresh (the r13 verdict's top item; Delta's CDF
    * contract). */
  private def stageChangeRecord(s: SparkSession, path: String,
      changes: DataFrame): Path = {
    val tmp = new Path(new Path(path, "_ztmp"), "chg-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12))
    Sources.writeMicros(s) {
      changes.write.mode("overwrite").parquet(tmp.toString)
    }
    tmp
  }

  /** Install a STAGED change record at its epoch coordinate — the
    * in-turnstile half: one directory rename, so a big DML's change-set
    * write never serializes other committers (r15 advisor; the Spark
    * job ran in [[stageChangeRecord]] before the lock). */
  private def commitStagedChangeRecord(s: SparkSession, path: String,
      epoch: Long, staged: Path): Unit = {
    val dst = changesDir(path, epoch)
    val fs = StoreMaint.fsFor(s, dst)
    fs.mkdirs(dst.getParent)
    if (fs.exists(dst)) fs.delete(dst, true) // a crashed twin's leftover
    require(fs.rename(staged, dst),
      s"$path: could not install the staged change record " +
        s"($staged -> $dst)")
  }

  /** The algebraic change set of a group-based copy-on-write rewrite
    * (SQL UPDATE / MERGE / DELETE through [[replaceScannedFiles]]): the
    * rewrite only knows "these files' rows" → "these replacement rows",
    * so the row delta is the multiset difference both ways —
    * `old ∖ new` = deletes, `new ∖ old` = inserts (EXCEPT ALL, exactly
    * once per duplicate). Emitted as delete/insert rather than
    * pre/postimage pairs: without a key there is no row identity to
    * pair on, and the algebraic effect is identical. A schema whose
    * columns EXCEPT ALL cannot compare (map columns) falls back to the
    * coarse-but-correct form: every old row deleted, every replacement
    * row inserted. */
  private def rowLevelChangeSet(oldRows: DataFrame,
      replacement: DataFrame): DataFrame = {
    val cols = oldRows.schema.fieldNames.toSeq
      .filterNot(_.equalsIgnoreCase(RidCol))
    def tag(d: DataFrame, t: String) = d.withColumn(ChangeTypeCol, lit(t))
    def dataCols(prefix: String) = cols.map(c => col(s"$prefix.$c").as(c))
    val ridable = oldRows.columns.contains(RidCol) &&
      replacement.columns.contains(RidCol)
    // STABLE-IDENTITY pairing (r15 — the r14 verdict's item 2): when both
    // sides carry the hidden row id, the delta pairs EXACT pre/postimages
    // on it — two identical rows update distinguishably, and map-typed
    // schemas (which EXCEPT ALL cannot compare) get keyed images instead
    // of the coarse delete-all+insert-all. Rows from pre-r15 files read
    // a null rid and keep the multiset algebra among themselves.
    if (ridable) {
      val oR = oldRows.filter(col(RidCol).isNotNull).alias("o")
      val nR = replacement.filter(col(RidCol).isNotNull)
        .select((cols.map(col) :+ col(RidCol)): _*).alias("n")
      val onRid = col(s"o.$RidCol") === col(s"n.$RidCol")
      val paired = oR.join(nR, onRid)
      // emit pre/post only for rows whose VALUES changed when the schema
      // supports row comparison; map-typed columns cannot compare, so
      // every carried pair emits (a same-values pair folds to a no-op —
      // still algebraically exact, now keyed)
      val comparable = !oldRows.schema.exists(f =>
        hasMapType(f.dataType))
      val changed =
        if (!comparable) paired
        else paired.filter(
          !cols.map(c => col(s"o.$c") <=> col(s"n.$c")).reduce(_ && _))
      val pre = tag(changed.select(dataCols("o"): _*), "update_preimage")
      val post = tag(changed.select(dataCols("n"): _*), "update_postimage")
      val del = tag(oR.join(nR, onRid, "left_anti")
        .select(cols.map(col): _*), "delete")
      // fresh rows stage with a NULL rid (they mint ids at zWrite) —
      // they are the inserts; a non-null replacement rid absent from the
      // old side cannot occur (replacement rids originate from the scan)
      // but would also be an insert, so fold it in defensively
      val insNew = replacement.filter(col(RidCol).isNull)
        .select(cols.map(col): _*)
      val insForeign = nR.join(oR, onRid, "left_anti")
        .select(cols.map(col): _*)
      val ins = tag(insNew.unionByName(insForeign), "insert")
      // legacy (pre-r15) null-rid old rows: all emit as deletes — their
      // carried copies were classified as inserts above, so a carried
      // legacy row shows as delete+insert (the coarse-but-exact algebra
      // those rows had before r15, now scoped to them alone)
      val legacyDel = tag(oldRows.filter(col(RidCol).isNull)
        .select(cols.map(col): _*), "delete")
      pre.unionByName(post).unionByName(del).unionByName(ins)
        .unionByName(legacyDel)
    } else {
      val newAligned = replacement.select(cols.map(col): _*)
      try
        tag(oldRows.select(cols.map(col): _*).exceptAll(newAligned),
          "delete")
          .unionByName(tag(newAligned.exceptAll(
            oldRows.select(cols.map(col): _*)), "insert"))
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          tag(oldRows.select(cols.map(col): _*), "delete")
            .unionByName(tag(newAligned, "insert"))
      }
    }
  }

  /** Does the type contain a MapType anywhere (the one shape row-value
    * comparison cannot express)? */
  private def hasMapType(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case st: StructType => st.exists(f => hasMapType(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hasMapType(a.elementType)
    case _ => false
  }

  /** One coordinate of the row-level change feed, in commit order:
    * either an append version (emit its arrival files as `insert` rows)
    * or a DML epoch transition (emit its recorded change-set files,
    * which carry [[ChangeTypeCol]] as a data column). */
  private[sources] sealed trait FeedStep {
    def epoch: Long; def ver: Long; def files: Seq[String]
  }
  private[sources] final case class FeedInsert(epoch: Long, ver: Long,
      files: Seq[String]) extends FeedStep
  private[sources] final case class FeedTransition(epoch: Long,
      files: Seq[String]) extends FeedStep { def ver: Long = 0L }

  /** The ordered chain of change-feed coordinates AFTER `from`
    * (exclusive; `ver = -1` means "from v0 of that epoch" — the
    * stream's `earliest`) up to `until` (inclusive; None = the current
    * snapshot) — [[readChangeFeed]]'s walk factored for the STREAMING
    * source ([[ZcdfStream]]'s changeFeed mode), which needs the
    * coordinates for offset arithmetic (`withFiles = false`, pure
    * metadata) and the per-coordinate file lists at plan time. Same
    * rules: base-epoch versions cap at the next epoch's rebase
    * watermark (a raced lock-free append delivers exactly once, from
    * the new epoch), and a transition without a recorded change set
    * refuses loudly with the full-refresh contract, naming the op.
    * Insert files for a FeedInsert resolve as FIRST-APPEARANCE versions
    * from the epoch's manifest; a metadata-only version (evolve) is an
    * empty FeedInsert — the offset still advances through it. */
  private[sources] def feedSteps(s: SparkSession, path: String,
      from: (Long, Long), until: Option[(Long, Long)],
      withFiles: Boolean): Seq[FeedStep] = {
    val coords = listVersions(s, path)
    require(coords.nonEmpty, s"no committed store at $path")
    val endC = until.getOrElse(coords.max)
    require(coords.contains(endC),
      s"change-feed bound (e${endC._1}, v${endC._2}) of $path is not a " +
        "committed coordinate (vacuumed, or never committed) — see " +
        "listVersions")
    val fs = StoreMaint.fsFor(s, manifestRoot(path))
    val epochs = coords.map(_._1).distinct.sorted
      .filter(e => e >= from._1 && e <= endC._1)
    require(epochs.headOption.contains(from._1),
      s"change-feed base epoch e${from._1} of $path is not a committed " +
        "epoch (vacuumed, or never committed) — see listVersions")
    // An offset can STRADDLE an epoch swap (r14 advisor): a consumer that
    // polled base-epoch version bv+1 BEFORE a concurrent rewrite's swap
    // landed holds from = (e0, bv+1) with bv+1 ABOVE the new epoch's
    // rebase watermark bv — the rewrite never saw those versions, so
    // they were ROLLED FORWARD into the new epoch as fresh versions,
    // and emitting those re-commits as inserts would deliver the same
    // rows twice. The rolled copies carry [[rebaseTag]] provenance in
    // their manifest DDL rows; skip insert versions whose provenance
    // names a base version the offset proves already delivered.
    val straddled: Set[Long] =
      if (epochs.size < 2) Set.empty
      else readRebaseMarker(fs,
          new Path(manifestRoot(path), s"e${epochs(1)}")) match {
        case Some((be, bv)) if be == from._1 && from._2 > bv =>
          ((bv + 1L) to from._2).toSet
        case _ => Set.empty
      }
    // Provenance resolves TRANSITIVELY (r16 advisor): a copy rolled
    // forward across TWO back-to-back swaps carries `rebase:e1:v'`
    // provenance (its immediate source), not `rebase:e0:v` — so each
    // epoch's skip set feeds the next epoch's resolution, and a consumer
    // straddling any number of consecutive swaps is still delivered each
    // row exactly once.
    val skipByEpoch = scala.collection.mutable.Map[Long, Set[Long]](
      from._1 -> straddled)
    def rolledCopiesOf(e: Long, maxV: Long): Set[Long] =
      if (straddled.isEmpty) Set.empty
      else {
        val man = manifestAndSchema(s, snapshotAt(s, path, e, maxV))._1
        val out = man.filter(col("c") === lit(DdlKey) && col("mx").isNotNull)
          .select(col("ver"), col("mx")).collect()
          .collect { case r
            if parseRebaseTag(r.getString(1)).exists { case (se, sv) =>
              skipByEpoch.getOrElse(se, Set.empty).contains(sv) } =>
            r.getLong(0) }
          .toSet
        skipByEpoch(e) = out
        out
      }
    val steps = scala.collection.mutable.ArrayBuffer.empty[FeedStep]
    epochs.zipWithIndex.foreach { case (e, idx) =>
      val vers = coords.filter(_._1 == e).map(_._2)
      val maxV = vers.max
      val nextE = epochs.lift(idx + 1)
      val lowV = if (e == from._1) from._2 else 0L
      val highV = nextE match {
        case Some(ne) =>
          readRebaseMarker(fs, new Path(manifestRoot(path), s"e$ne")) match {
            case Some((be, bv)) if be == e => math.min(bv, maxV)
            case _ => maxV
          }
        case None => endC._2
      }
      val rolledSkip =
        if (e == from._1) Set.empty[Long] else rolledCopiesOf(e, maxV)
      val insertVers = vers.filter(v =>
        v > lowV && v <= highV && !rolledSkip.contains(v)).sorted
      if (insertVers.nonEmpty) {
        val arrivals: Map[Long, Seq[String]] =
          if (!withFiles) Map.empty
          else {
            val snapE = snapshotAt(s, path, e, maxV)
            val (manE0, _) = manifestAndSchema(s, snapE)
            manE0.filter(!col("c").isin(DdlKey, ColmapKey))
              .groupBy(col("f")).agg(min(col("ver")).as("ver"))
              .collect().map(r => (r.getLong(1), r.getString(0)))
              .groupBy(_._1).map { case (v, fv) =>
                v -> fv.map(_._2).sorted.toSeq }
          }
        insertVers.foreach(v =>
          steps += FeedInsert(e, v, arrivals.getOrElse(v, Seq.empty)))
      }
      nextE.foreach { ne =>
        val cdir = changesDir(path, ne)
        if (!StoreMaint.fsFor(s, cdir).exists(cdir))
          throw new IllegalArgumentException(
            s"z-store at $path was rewritten at e$ne by " +
              s"'${opOf(s, path, ne)}', which records no row-level " +
              "change set — a row delta across this rewrite does not " +
              s"exist; full-refresh and resume from e$ne (DML rewrites " +
              "— update/merge/delete/replacewhere — record one when the " +
              "store's change feed is ENABLED: setChangeFeedEnabled / " +
              "CALL <catalog>.set_change_feed BEFORE the rewrite)")
        val cfiles =
          if (!withFiles) Seq.empty
          else StoreMaint.fsFor(s, cdir).listStatus(cdir)
            .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
            .map(_.getPath.toString).sorted.toSeq
        steps += FeedTransition(ne, cfiles)
      }
    }
    steps.toSeq
  }

  /** The `v0.op` audit record of an epoch, for refusal messages. */
  private def opOf(s: SparkSession, path: String, e: Long): String =
    try {
      val fs = StoreMaint.fsFor(s, manifestRoot(path))
      val opf = new Path(manifestRoot(path), s"e$e/v0.op")
      if (fs.exists(opf)) {
        val in = fs.open(opf)
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      } else "unknown"
    } catch { case _: Exception => "unknown" }

  /** Row-level CHANGE FEED — [[readChangesSince]] extended ACROSS DML
    * epoch rewrites (Delta's `readChangeFeed`): every row that changed
    * after committed coordinate (`epoch`, `version`), up to `until`
    * (default: the current snapshot), as the store's columns plus
    * [[ChangeTypeCol]] / [[CommitEpochCol]] / [[CommitVersionCol]].
    * Within an epoch the store is append-only, so version arrivals emit
    * as `insert` rows exactly like [[readChangesSince]]; a DML epoch
    * swap (UPDATE / MERGE / DELETE / replaceWhere — every rewrite that
    * records a `_zchanges/e<new>` change set at commit time) emits its
    * recorded delete/insert/update_preimage/update_postimage rows at
    * the new epoch's v0 coordinate. Rewrites with NO row delta
    * (recluster, bin-pack OPTIMIZE, RESTORE, full rebuild) still REFUSE
    * with the full-refresh contract — they rewrite history rather than
    * change rows, and r13's refusal stays their correct answer.
    *
    * Concurrency interplay: a lock-free append that raced a DML rewrite
    * is ROLLED FORWARD into the new epoch as a fresh version, and the
    * rewrite's `_rebase` watermark records exactly which base versions
    * it consumed — the feed emits base-epoch versions only UP TO that
    * watermark and the rolled copies from the new epoch, so a raced
    * append is delivered exactly once. Everything is validated against
    * COMMITTED coordinates; a vacuumed base or bound refuses loudly
    * (the time-travel retention contract).
    *
    * Scale shape: O(delta files + change-record files) I/O and
    * O(manifest) metadata — never a base-table scan; an incremental
    * consumer (IVM) folds `+postimage/+insert` and `−preimage/−delete`
    * into its view, the q137/q143 refresh generalized to survive DML. */
  def readChangeFeed(s: SparkSession, path: String, epoch: Long,
      version: Long, until: Option[(Long, Long)] = None): DataFrame = {
    val coords = listVersions(s, path)
    require(coords.contains((epoch, version)),
      s"change-feed base (e$epoch, v$version) of $path is not a " +
        "committed coordinate (vacuumed, or never committed) — see " +
        "listVersions")
    val endC = until.getOrElse(coords.max)
    require(coords.contains(endC),
      s"change-feed bound (e${endC._1}, v${endC._2}) of $path is not a " +
        "committed coordinate (vacuumed, or never committed) — see " +
        "listVersions")
    require(Ordering[(Long, Long)].lteq((epoch, version), endC),
      s"change-feed window of $path is inverted: base (e$epoch, " +
        s"v$version) is after bound (e${endC._1}, v${endC._2})")
    val endSchema = recordedSchemaAt(s, path, endC._1, endC._2)
    val metaFields = Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitEpochCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      StructField(CommitVersionCol,
        org.apache.spark.sql.types.LongType, nullable = false))
    val outSchema = StructType(endSchema.fields.toSeq ++ metaFields)
    // ONE walk serves batch and stream ([[feedSteps]]): insert versions
    // read with their epoch's recorded schema, transitions read their
    // recorded change-set files (already carrying [[ChangeTypeCol]])
    val pieces = feedSteps(s, path, (epoch, version), Some(endC),
        withFiles = true)
      .flatMap {
        case FeedInsert(_, _, files) if files.isEmpty => None
        case FeedInsert(e, v, files) =>
          val maxV = coords.filter(_._1 == e).map(_._2).max
          val schemaE = recordedSchemaAt(s, path, e, maxV)
          Some(s.read.schema(schemaE)
            .parquet(files.map(f => s"$path/$f"): _*)
            .withColumn(ChangeTypeCol, lit("insert"))
            .withColumn(CommitEpochCol, lit(e))
            .withColumn(CommitVersionCol, lit(v)))
        case FeedTransition(_, files) if files.isEmpty => None
        case FeedTransition(e, files) =>
          Some(s.read.parquet(files: _*) // change dirs list ABSOLUTE paths
            .withColumn(CommitEpochCol, lit(e))
            .withColumn(CommitVersionCol, lit(0L)))
      }
    val cmF = colMapFor(s, path, Some(endC))
    val out =
      if (pieces.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[Row], outSchema)
      else {
        val aligned = pieces.map { p =>
          val withAll = endSchema.fields.foldLeft(p) { (d, f) =>
            if (d.columns.exists(_.equalsIgnoreCase(f.name))) d
            else d.withColumn(f.name, lit(null).cast(f.dataType))
          }
          withAll.select((endSchema.fieldNames.toSeq ++
            Seq(ChangeTypeCol, CommitEpochCol, CommitVersionCol))
            .map(col): _*)
        }
        aligned.reduce(_ unionByName _)
      }
    // the feed's data columns speak LOGICAL (the end coordinate's
    // mapping): a dropped column is hidden from the feed too
    toLogicalDf(out, cmF)
  }

  /** The change-feed delta's files WITH their recorded sizes — what the
    * DSv2 table's batch CDF read plans over ([[ZBatchScan]]'s
    * `changesSinceEpoch`/`changesSinceVersion` options): first-appearance
    * version per file (a metadata-attach version — bloom stats —
    * re-points files without making them deltas again), sizes from the
    * manifest's `__size__` rows so the delta bin-packs like any other
    * scan. `until` bounds the window's top (Delta's endingVersion —
    * what lets an incremental consumer re-read an exact historical
    * window); both coordinates are validated, so a bogus base OR bound
    * refuses rather than replaying the wrong slice as "changes". Same
    * epoch-swap refusal contract as [[readChangesSince]]. Returns the
    * snapshot's recorded schema alongside the files — ONE snapshot
    * resolution serves both (a second resolution could even race a
    * concurrent commit and read a different world than it validated). */
  private[sources] def changeFilesSized(s: SparkSession, path: String,
      epoch: Long, version: Long, until: Option[Long] = None)
      : (Seq[(String, Option[Long])], StructType) = {
    val snap = requireSnapshot(s, path)
    require(snap.epoch == epoch,
      s"z-store at $path was rewritten since e$epoch (current: " +
        s"e${snap.epoch}) — a row delta across an epoch swap does not " +
        "exist; full-refresh and resume from the current epoch")
    snapshotAt(s, path, epoch, version) // loud refusal on a bogus base
    until.foreach { u =>
      require(u >= version,
        s"z-store change window (v$version, v$u] at $path is inverted — " +
          "changesUntilVersion must be >= changesSinceVersion")
      snapshotAt(s, path, epoch, u) // loud refusal on a bogus bound
    }
    val (man0, schema) = manifestAndSchema(s, snap)
    val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
    val delta = man.groupBy(col("f")).agg(min(col("ver")).as("v0"))
      .filter(col("v0") > lit(version) &&
        until.map(u => col("v0") <= lit(u)).getOrElse(lit(true)))
      .select(col("f"))
    (withRecordedSizes(man, delta), schema)
  }

  /** A past committed snapshot's recorded schema — the graft-z table's
    * time-travel schema surface (a travel read sees the PAST's columns,
    * [[readSnapshotAt]]'s contract). */
  private[sources] def recordedSchemaAt(s: SparkSession, path: String,
      epoch: Long, version: Long): StructType =
    manifestAndSchema(s, snapshotAt(s, path, epoch, version))._2

  /** (current epoch, max committed version, recorded schema) — the
    * graft-zcdf streaming source's metadata surface ([[ZcdfStream]]):
    * O(manifest versions) directory metadata per call, never data. */
  private[sources] def streamState(s: SparkSession,
      path: String): (Long, Long, StructType) = {
    val snap = requireSnapshot(s, path)
    val (_, schema) = manifestAndSchema(s, snap)
    val maxVer = snap.vdirs.flatMap(p => parseIdx(p.getName, "v")).max
    (snap.epoch, maxVer, schema)
  }

  /** The (version, file) arrivals with fromVer < version ≤ toVer in the
    * current epoch — a file ARRIVES at its FIRST-appearance version:
    * today every file is listed by exactly one version within an epoch,
    * but the min-version grouping keeps the contract future-proof
    * against a metadata-only version re-pointing existing files (a stats
    * backfill would re-list files without making them deltas again).
    * Refuses on an epoch swap: the CDF-meets-rewrite contract. */
  private[sources] def changeFiles(s: SparkSession, path: String,
      epoch: Long, fromVer: Long, toVer: Long): Seq[(Long, String)] = {
    val snap = requireSnapshot(s, path)
    require(snap.epoch == epoch,
      s"z-store at $path was rewritten since e$epoch (current: " +
        s"e${snap.epoch}) — a row delta across an epoch swap does not " +
        "exist; full-refresh and resume from the current epoch")
    val (man, _) = manifestAndSchema(s, snap)
    man.filter(!col("c").isin(DdlKey, ColmapKey))
      .groupBy(col("f")).agg(min(col("ver")).as("ver"))
      .filter(col("ver") > lit(fromVer) && col("ver") <= lit(toVer))
      .select(col("ver"), col("f"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
  }

  /** Full read of a PAST committed snapshot (time travel): reproduce what
    * a query saw before later appends/deletes/re-clusters — readable until
    * [[vacuumOrphans]] collects the superseded epoch (its `minAgeMs` is
    * the retention horizon, exactly Delta's contract). The recorded schema
    * is the SNAPSHOT's: columns added later don't exist in the past. */
  def readSnapshotAt(s: SparkSession, path: String, epoch: Long,
      version: Long): DataFrame =
    readSnapshotOf(s, path, snapshotAt(s, path, epoch, version))

  /** The latest committed coordinate whose COMMIT INSTANT is ≤
    * `tsMillis` — Delta's `timestampAsOf` half of time travel ("what did
    * the table look like yesterday at noon"). The commit instant is the
    * version's `_SUCCESS` mtime (the atomic visibility flip, the same
    * instant [[vacuumOrphans]]'s supersession aging trusts); commit
    * order is (epoch, version) order, so the resolution takes the
    * max coordinate under the cutoff rather than trusting cross-file
    * clock monotonicity. Refuses loudly when the timestamp predates the
    * store (Delta's contract) — a silently-empty past is the worst
    * answer to an audit query. */
  def versionAsOfTimestamp(s: SparkSession, path: String,
      tsMillis: Long): (Long, Long) = {
    val mroot = manifestRoot(path)
    val fs = StoreMaint.fsFor(s, mroot)
    val eligible = listVersions(s, path).filter { case (e, v) =>
      fs.getFileStatus(new Path(new Path(mroot, s"e$e"),
        s"v$v/_SUCCESS")).getModificationTime <= tsMillis
    }
    require(eligible.nonEmpty,
      s"no committed snapshot of $path at or before timestamp " +
        s"$tsMillis (earliest commit is later, or the history was " +
        "vacuumed) — see listVersions/describeHistory")
    eligible.max
  }

  /** [[readSnapshotAt]] by wall-clock instant ([[versionAsOfTimestamp]]). */
  def readSnapshotAsOf(s: SparkSession, path: String,
      tsMillis: Long): DataFrame = {
    val (e, v) = versionAsOfTimestamp(s, path, tsMillis)
    readSnapshotAt(s, path, e, v)
  }

  /** Collapse the current epoch's accumulated manifest versions into ONE
    * (a new epoch whose v0 carries the same stats rows, re-pointing the
    * SAME data files) — the Delta-checkpoint move: reader metadata stays
    * O(1) versions after any number of appends WITHOUT paying
    * [[reclusterZOrdered]]'s data rewrite. Commit and concurrency are the
    * epoch swap's: old-or-new, never partial; the superseded epoch's
    * manifest (only — the data is still referenced) falls to
    * [[vacuumOrphans]]. */
  def compactManifest(s: SparkSession, path: String): Unit =
    // metadata-only epoch swap: short enough to run WHOLLY inside the
    // commit turnstile (no data work to overlap), which linearizes it
    // against every optimistic commit
    withCommitLock(s, path, "manifest-compact") { lease =>
      recoverLostRollforwards(s, path, lease)
      val snap = requireSnapshot(s, path)
      val (man, schema, cmMc) = manifestSchemaMap(s, snap)
      val edir = new Path(manifestRoot(path), s"e${nextEpoch(s, path)}")
      writeRebaseMarker(StoreMaint.fsFor(s, edir), edir, snap.epoch,
        maxVerOf(snap))
      if (!lease.stillHeld()) throw new IllegalStateException(
        s"manifest-compact on $path: commit lock expired before the " +
          "flip — aborting; retry")
      writeManifestVersion(s, edir, 0L,
        schema.toDDL, Seq.empty, manifestTagsOf(s, snap).toSeq.sorted,
        carried = Some(carriedStatsDf(s, man, Seq.empty)),
        op = "manifest-compact",
        colmap = if (cmMc.isIdentity) None else Some(encodeColMap(cmMc)))
      rollForwardLateAppends(s, path, snap, lease)
    }

  /** Copy-on-write range DELETE — the takedown/right-to-erasure pass a
    * 100 TB training-data store eventually serves: remove every row
    * matching ALL `preds` (the [[readZRange]] predicate language; a NULL
    * in a predicate column never matches, so those rows survive). The
    * manifest stats drive the WRITE the way they drive reads: a file
    * whose recorded range definitively can't contain a matching row
    * CARRIES into the new epoch by reference (its stat rows re-pointed,
    * zero I/O); only possibly-affected files are read, and their
    * survivors re-z-cluster into a fresh data dir — a delete touching one
    * band rewrites O(affected files), never the table. Commit is the
    * epoch swap (concurrent readers see old-or-new, never partial); batch
    * TAGS carry, so a replayed tagged append stays a no-op AFTER the
    * delete instead of resurrecting its rows; the superseded epoch falls
    * to [[vacuumOrphans]] after the retention window (until then it
    * remains time-travel-readable — the audit trail of the deletion).
    * Returns the number of rows deleted; 0 = no commit, store untouched. */
  def deleteZRange(s: SparkSession, path: String,
      preds0: Seq[(String, Any, Any)], zcols0: Seq[String],
      numFiles: Int = 0): Long = {
    require(preds0.nonEmpty, "deleteZRange needs at least one predicate")
    locally {
      recoverUnderCommitLock(s, path)
      val snap = requireSnapshot(s, path)
      val (man0, schema, cmD) = manifestSchemaMap(s, snap)
      val preds = translatePreds(cmD, path, preds0)
      val zcols = translateColsLenient(cmD, path, zcols0)
      val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val typed = preds.map { case (c0, lo, hi) =>
          val f = schema.find(_.name.equalsIgnoreCase(c0)).getOrElse(
            throw new IllegalArgumentException(
              s"column $c0 is not in the z-store schema"))
          (c0, f.dataType, Sources.encodeBound(f.dataType, lo),
            Sources.encodeBound(f.dataType, hi))
        }
        // a file is AFFECTED unless some predicate definitively excludes
        // it (disjoint recorded range, or all-null) — the read path's
        // evidence rule, here bounding rewrite I/O instead of scan I/O.
        // A predicate column with no stats rows simply excludes nothing:
        // correct (full rewrite), just not pruned. Stat-name matching is
        // case-insensitive, like the read path's.
        val excluded = typed.map { case (c0, dt, loE, hiE) =>
          man.filter(lower(col("c")) === c0.toLowerCase && (col("allnull") ||
              (col("mn").isNotNull &&
                (statLt(dt, col("mx"), loE) || statGt(dt, col("mn"), hiE)))))
            .select(col("f"))
        }.reduce(_ union _)
        val affected = bloomPruneAffected(s, path, preds, schema,
          man.select(col("f")).distinct().except(excluded)
            .collect().map(_.getString(0)).sorted.toSeq)
        if (affected.isEmpty) 0L
        else {
          // persisted: the delete-count pass and the survivor write would
          // otherwise each scan the affected files from disk
          val aff = s.read.schema(ridded(schema))
            .parquet(affected.map(f => s"$path/$f"): _*)
            .persist(StorageLevel.MEMORY_AND_DISK)
          try {
            val matchAll = preds.map { case (c, lo, hi) =>
              bandPred(c, lo, hi)
            }.reduce(_ && _)
            val nDel = aff.filter(matchAll).count()
            if (nDel > 0L) {
              // NULL-predicate rows survive: !(null) is null, so coalesce
              val survivors = aff.filter(coalesce(!matchAll, lit(true)))
              val nf = if (numFiles > 0) numFiles else affected.size
              val newStats = zWrite(survivors, path, zcols, nf) match {
                case Some(dname) =>
                  harvestStats(s, path, dname, recordedStatCols(man, schema),
                    schema)
                case None => Seq.empty
              }
              commitRewriteEpoch(s, path, snap, affected,
                schema.toDDL, newStats, Seq.empty,
                Some(aff.filter(matchAll).drop(RidCol)
                  .withColumn(ChangeTypeCol, lit("delete"))),
                op = "delete")
            }
            nDel
          } finally aff.unpersist(blocking = false)
        }
      } finally man.unpersist(blocking = false)
    }
  }

  /** Conditional OVERWRITE — Delta's `replaceWhere` as ONE epoch commit
    * (the idempotent-backfill verb: re-land a partition/band from a
    * corrected source without touching the rest of the table): every row
    * matching `preds` is deleted AND `data` lands in its place,
    * atomically — a reader sees the old state or the new, never the
    * deleted-but-not-yet-inserted middle a delete+append pair would
    * expose (and a crash between the two can't strand the table there).
    * Contract (Delta's default): every incoming row must itself match
    * the predicate — otherwise the statement silently rewrites rows
    * outside the band it claims to replace; violations refuse WHOLESALE
    * before a byte lands. NULL-predicate rows in the TABLE survive (a
    * null never matches a band — the delete path's `coalesce` rule).
    *
    * Scale shape: the rewrite set is stats-bounded exactly like
    * [[deleteZRange]] (unaffected files carry by reference), the
    * replacement re-clusters through [[zWrite]] (CHECK constraints
    * validate it first), tags carry, and the superseded epoch stays a
    * travel coordinate. Returns (rows deleted, rows inserted). */
  def overwriteZRange(data0: DataFrame, path: String,
      preds0: Seq[(String, Any, Any)], zcols0: Seq[String],
      numFiles: Int = 0): (Long, Long) = {
    require(preds0.nonEmpty,
      "overwriteZRange needs at least one predicate — an unconditional " +
        "overwrite is writeZOrdered")
    val s = data0.sparkSession
    locally {
      recoverUnderCommitLock(s, path)
      val snap = requireSnapshot(s, path)
      val (man0, schema, cmO) = manifestSchemaMap(s, snap)
      val preds = translatePreds(cmO, path, preds0)
      val zcols = translateColsLenient(cmO, path, zcols0)
      val data = toPhysicalDf(data0, cmO, path)
      val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // align the incoming rows to the RECORDED schema by name (a
        // missing column refuses at analysis; replaceWhere never evolves)
        val aligned = data.select(schema.fieldNames.map(col).toSeq: _*)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val matchAll = preds.map { case (c, lo, hi) =>
            bandPred(c, lo, hi)
          }.reduce(_ && _)
          // a null predicate column in DATA is outside the band too
          val offending = aligned.filter(coalesce(!matchAll, lit(true)))
            .limit(1).count()
          require(offending == 0L,
            s"graft-z replaceWhere on $path: incoming rows fall outside " +
              s"the overwrite predicate ${preds.map { case (c, lo, hi) =>
                s"$c BETWEEN $lo AND $hi" }.mkString(" AND ")} — an " +
              "overwrite may only land rows in the band it replaces")
          val typed = preds.map { case (c0, lo, hi) =>
            val f = schema.find(_.name.equalsIgnoreCase(c0)).getOrElse(
              throw new IllegalArgumentException(
                s"column $c0 is not in the z-store schema"))
            (c0, f.dataType, Sources.encodeBound(f.dataType, lo),
              Sources.encodeBound(f.dataType, hi))
          }
          val excluded = typed.map { case (c0, dt, loE, hiE) =>
            man.filter(lower(col("c")) === c0.toLowerCase &&
                (col("allnull") || (col("mn").isNotNull &&
                  (statLt(dt, col("mx"), loE) ||
                    statGt(dt, col("mn"), hiE)))))
              .select(col("f"))
          }.reduce(_ union _)
          val affected = bloomPruneAffected(s, path, preds, schema,
            man.select(col("f")).distinct().except(excluded)
              .collect().map(_.getString(0)).sorted.toSeq)
          val affDf =
            if (affected.isEmpty) None
            else Some(s.read.schema(ridded(schema))
              .parquet(affected.map(f => s"$path/$f"): _*)
              .persist(StorageLevel.MEMORY_AND_DISK))
          try {
            val nDel = affDf.map(_.filter(matchAll).count()).getOrElse(0L)
            val nIns = aligned.count()
            val replacement = affDf match {
              case Some(aff) => // survivors keep identity; incoming rows
                // lack the rid column and mint fresh ids at zWrite
                aff.filter(coalesce(!matchAll, lit(true)))
                  .unionByName(aligned, allowMissingColumns = true)
              case None => aligned
            }
            val nf = if (numFiles > 0) numFiles
              else math.max(affected.size, 4)
            val newStats = zWrite(replacement, path, zcols, nf) match {
              case Some(dname) => harvestStats(s, path, dname,
                recordedStatCols(man, schema), schema)
              case None => Seq.empty // empty band replaced by an empty batch
            }
            val deleted = affDf match {
              case Some(aff) => aff.filter(matchAll)
              case None => aligned.limit(0)
            }
            commitRewriteEpoch(s, path, snap, affected,
              schema.toDDL, newStats, Seq.empty,
              Some(deleted.drop(RidCol)
                .withColumn(ChangeTypeCol, lit("delete"))
                .unionByName(aligned
                  .withColumn(ChangeTypeCol, lit("insert")))),
              op = "replacewhere")
            (nDel, nIns)
          } finally affDf.foreach(_.unpersist(blocking = false))
        } finally aligned.unpersist(blocking = false)
      } finally man.unpersist(blocking = false)
    }
  }

  /** The SCAN half of a group-based SQL row-level operation (UPDATE /
    * MERGE / non-band DELETE through [[ZBatchTable]]'s
    * `SupportsRowLevelOperations`): resolve the snapshot ONCE and prune
    * the AFFECTED file set by the pushed condition bounds + bloom points
    * — the same best-effort evidence rule as the read path, which is
    * exactly what group-based copy-on-write needs (a pruned file provably
    * holds no matching row, so its rows carry by reference; an unpruned
    * file's rows all flow through Spark's replacement projection). The
    * snapshot rides to [[replaceScannedFiles]] so scan and commit agree
    * on what "the table" was. */
  private[sources] def planRowLevelScan(s: SparkSession, path: String,
      bounds: Seq[(String, Option[Any], Option[Any])],
      points: Seq[(String, Any)])
      : (ZSnapshot, Seq[(String, Option[Long])], StructType) = {
    val snap = requireSnapshot(s, path)
    val (files0, schema) = pruneFilesForSnap(s, path, snap, bounds, None)
    val files = bloomPruneScan(s, path, points, schema, files0)
    // the SQL surface speaks logical: the scan's rows and the write's
    // replacement both travel under logical names (physicalized again
    // inside replaceScannedFiles)
    (snap, files, logicalSchema(schema, colMapForSnap(s, path, snap)))
  }

  /** The COMMIT half of a group-based SQL row-level operation: replace
    * exactly the files the operation's scan planned (`affected`) with
    * `replacement` (the full post-operation row set of those files, as
    * computed by Spark's ReplaceData rewrite — updated/merged rows plus
    * untouched rows of the same files, plus MERGE's not-matched inserts),
    * as a copy-on-write epoch swap: unaffected files carry by reference,
    * batch tags carry (a replayed tagged append after an UPDATE must not
    * resurrect pre-update rows — the delete path's non-resurrection
    * rule), CHECK constraints validate the replacement inside [[zWrite]]
    * before a byte lands, and the superseded epoch stays
    * time-travel-readable until [[vacuumOrphans]].
    *
    * Concurrency: lease-held like every epoch rewrite. The scan resolved
    * its snapshot OUTSIDE the lease (at plan time), so the commit
    * re-verifies the world: a concurrent EPOCH rewrite (delete/merge/
    * optimize/another row-level op) since the scan refuses loudly — the
    * replacement rows were computed against a table that no longer
    * exists; retry re-plans. Concurrent lock-free APPENDS into the
    * scanned epoch serialize AFTER this operation: the rebase watermark
    * is the SCAN's snapshot, so [[rollForwardLateAppends]] re-points
    * them into the new epoch — exactly the append-vs-rewrite resolution
    * every other rewrite uses. */
  private[sources] def replaceScannedFiles(s: SparkSession, path: String,
      scanSnap: ZSnapshot, affected: Seq[String], replacement0: DataFrame,
      op: String): Unit =
    locally {
      recoverUnderCommitLock(s, path)
      val (man0, schema, cmR) = manifestSchemaMap(s, scanSnap)
      val replacement = toPhysicalDf(replacement0, cmR, path)
      val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val zcols = recordedZcols(s, path).getOrElse(
          throw new IllegalArgumentException(
            s"$path predates recorded clustering keys — run one write " +
              "with .option(\"zcols\", …) (or the programmatic API) first"))
        // size the rewrite by the REPLACEMENT's volume, never just the
        // affected file count: an insert-only MERGE (zero matched
        // groups, the carry-all-append path) must not funnel a bulk
        // insert through one task and one unsplittable file. The staged
        // bytes are driver-side metadata (the replacement reads the
        // stage dir's parquet).
        val replBytes = replacement.inputFiles.map { f =>
          val fp = new Path(f)
          StoreMaint.fsFor(s, fp).getFileStatus(fp).getLen
        }.sum
        val nf = math.max(math.max(affected.size, 1),
          math.ceil(replBytes / (128.0 * 1024 * 1024)).toInt)
        val newStats = zWrite(replacement, path, zcols, nf) match {
          case Some(dname) => harvestStats(s, path, dname,
            recordedStatCols(man, schema), schema)
          case None => Seq.empty // every affected row deleted
        }
        // the group-based rewrite's row delta: old-rows-of-replaced-
        // files vs replacement, as a multiset diff (the staged files
        // still exist — the write's cleanup runs after this commit)
        lazy val oldRows =
          if (affected.isEmpty)
            s.createDataFrame(s.sparkContext.emptyRDD[Row], ridded(schema))
          else s.read.schema(ridded(schema))
            .parquet(affected.map(f => s"$path/$f"): _*)
        commitRewriteEpoch(s, path, scanSnap, affected,
          schema.toDDL, newStats, Seq.empty,
          Some(
            if (affected.isEmpty) // insert-only MERGE: pure append
              replacement.select(schema.fieldNames.map(col).toSeq: _*)
                .withColumn(ChangeTypeCol, lit("insert"))
            else rowLevelChangeSet(oldRows, replacement)),
          op = op)
      } finally man.unpersist(blocking = false)
    }

  /** What a [[mergeByKey]] did: target rows replaced (all rows bearing a
    * matched key) and source rows inserted (key matched nothing, or null). */
  final case class MergeResult(updated: Long, inserted: Long)

  /** The column in its canonical COMPARABLE form (the type-respecting
    * order [[Sources.encodeBound]] strings decode to): long for
    * int/long, micros-long for timestamp, native for string/double. */
  private def comparableKey(dt: DataType, c: Column): Column = dt match {
    case DoubleType => c.cast("double")
    case StringType => c
    case org.apache.spark.sql.types.TimestampType => unix_micros(c)
    case _ => c.cast("long") // int / long
  }

  /** Decode a manifest stat string to the same comparable form. */
  private def decodeStat(dt: DataType, c: Column): Column = dt match {
    case DoubleType => c.cast("double")
    case StringType => c
    case _ => c.cast("long") // int/long/ts-micros
  }

  /** Keyed copy-on-write MERGE — the lakehouse upsert (Delta's
    * `MERGE … WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    * INSERT *`), whole-row semantics: every target row bearing a key
    * present in `source` is REPLACED by the source row; source rows whose
    * key matches nothing (or is null — SQL equality never matches null)
    * INSERT. Target rows with a null key always survive. A source with
    * two rows for one non-null key refuses loudly (the merge would be
    * nondeterministic — Delta raises the same error).
    *
    * The manifest stats bound the rewrite the way they bound reads, but
    * per KEY rather than by the source's global [min, max] (a batch
    * mixing low-key updates with beyond-max inserts would otherwise span
    * the whole table): a file carries into the new epoch by reference
    * unless its recorded key range contains AT LEAST ONE source key — a
    * distributed range join of the manifest's key rows against the
    * source's distinct keys, so a CDC batch touching one band rewrites
    * O(affected files), never O(table). All-null-key files carry; a file
    * with unknown/absent key stats is read (no evidence = no carry).
    *
    * Commit is the epoch swap (concurrent readers see old-or-new, never
    * partial); the source schema may evolve the store add-only (new
    * columns null-fill carried files, type change refuses before data
    * lands); batch TAGS carry, and `tag` makes the merge itself
    * exactly-once under at-least-once delivery (a replayed tagged merge
    * no-ops) — the foreachBatch CDC-apply loop's idempotence token. The
    * superseded epoch stays time-travel-readable until [[vacuumOrphans]]
    * — the audit trail of what the merge changed. */
  def mergeByKey(s: SparkSession, path: String, source0: DataFrame,
      keyCol0: String, zcols0: Seq[String], numFiles: Int = 0,
      tag: Option[String] = None): MergeResult =
    locally {
      require(!source0.schema.fieldNames.exists(_.equalsIgnoreCase(RidCol)),
        s"$RidCol is the store's hidden row-identity column, not a " +
          "source column")
      prf("merge.recover")(recoverUnderCommitLock(s, path))
      val snap = prf("merge.snapshot")(requireSnapshot(s, path))
      val (man0, recorded, cmG) = manifestSchemaMap(s, snap)
      val source = toPhysicalDf(source0, cmG, path)
      val keyCol = if (cmG.isIdentity) keyCol0
        else cmG.physOfOrRefuse(keyCol0, path)
      val zcols = translateColsLenient(cmG, path, zcols0)
      val replayed = prf("merge.replayed")(
        tag.exists(manifestTagsOf(s, snap).contains))
      if (replayed) MergeResult(0L, 0L)
      else {
        // add-only union BEFORE any work: a type change refuses here
        val union = StoreMaint.unionSchemas(s"$path (z-store)",
          Some(recorded), source.schema)
        val keyField = source.schema.find(_.name.equalsIgnoreCase(keyCol))
          .getOrElse(throw new IllegalArgumentException(
            s"merge key $keyCol is not in the source schema"))
        require(Sources.statsEligible(keyField.dataType),
          s"merge key $keyCol: ${keyField.dataType.simpleString} has no " +
            "canonical stat encoding (long/int/double/string/timestamp do)")
        require(recorded.exists(_.name.equalsIgnoreCase(keyCol)),
          s"merge key $keyCol is not a column of the z-store at $path")
        val dt = keyField.dataType
        val src = source.persist(StorageLevel.MEMORY_AND_DISK)
        val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // ONE pass over the persisted source for count + dup-check:
          // dup keys exist iff countDistinct(key) < count(non-null key)
          // (same hash equality as the former groupBy probe) — was two
          // jobs (r16 optimization: each tiny action in a micro-batch
          // body costs more in scheduling than in data)
          val sc = prf("merge.srcAgg")(src.agg(count(lit(1)).as("n"),
            count(col(keyCol)).as("nn"),
            countDistinct(col(keyCol)).as("dk")).head())
          val srcCnt = sc.getLong(0)
          if (srcCnt == 0L) MergeResult(0L, 0L)
          else {
            val dup = sc.getLong(2) < sc.getLong(1)
            require(!dup, s"merge source has multiple rows for one " +
              s"$keyCol — a whole-row upsert would be nondeterministic")
            val srcKeys = src.select(
              comparableKey(dt, col(keyCol)).as("__mk"))
              .filter(col("__mk").isNotNull).distinct()
            // per-key carry evidence: a file carries unless its recorded
            // key range CONTAINS some source key (all-null files carry;
            // unknown/absent stats keep the file in the rewrite set)
            val keyRows = man.filter(lower(col("c")) === keyCol.toLowerCase)
            val allnullF = keyRows.filter(col("allnull")).select(col("f"))
            val ranged = keyRows.filter(!col("allnull") && col("mn").isNotNull)
            val hit = ranged.join(srcKeys,
              decodeStat(dt, ranged("mn")) <= col("__mk") &&
                col("__mk") <= decodeStat(dt, ranged("mx")), "leftsemi")
              .select(col("f"))
            // anti-joins instead of EXCEPT: `f` is unique within the
            // key-col stat rows, so EXCEPT's extra distinct pass buys
            // nothing (r16 optimization — one shuffle fewer per branch)
            val carry = allnullF.unionAll(
              ranged.select(col("f")).join(hit, Seq("f"), "left_anti"))
            val affected = prf("merge.affected")(
              man.select(col("f")).distinct()
                .join(carry, Seq("f"), "left_anti")
                .collect().map(_.getString(0)).sorted.toSeq)
            val affDf =
              if (affected.isEmpty)
                s.createDataFrame(s.sparkContext.emptyRDD[Row],
                  ridded(recorded))
              else s.read.schema(ridded(recorded))
                .parquet(affected.map(f => s"$path/$f"): _*)
            val eqKey = comparableKey(dt, affDf(keyCol)) === col("__mk")
            // ONE inner-join pass for both result counts: rows of the
            // affected set whose key is in the (distinct) source keys =
            // `updated`; distinct matched source keys = `matchedKeys` —
            // was two semi-join jobs over the same inputs
            val mrow = prf("merge.matchAgg")(
              affDf.select(comparableKey(dt, affDf(keyCol)).as("__ak"))
                .join(srcKeys, col("__ak") === col("__mk"))
                .agg(count(lit(1)).as("u"),
                  countDistinct(col("__mk")).as("mk")).head())
            val updated = mrow.getLong(0)
            val matchedKeys = mrow.getLong(1)
            val survivors = affDf.join(srcKeys, eqKey, "left_anti")
            val merged = survivors.unionByName(src,
              allowMissingColumns = true)
            val nf = if (numFiles > 0) numFiles
              else math.max(affected.size, 1)
            val newStats = prf("merge.zWrite+harvest")(
              zWrite(merged, path, zcols, nf) match {
                case Some(dname) =>
                  harvestStats(s, path, dname, recordedStatCols(man, union),
                    union)
                case None => Seq.empty
              })
            // keyed change set: every replaced target row is a
            // preimage, its replacing source row the postimage, and
            // key-matched-nothing source rows are inserts (null keys
            // included — they always insert)
            lazy val changeSet = locally {
              val affKeys = affDf
                .select(comparableKey(dt, affDf(keyCol)).as("__ak"))
                .filter(col("__ak").isNotNull).distinct()
              val srcKeyed = comparableKey(dt, src(keyCol)) === col("__ak")
              val pre = affDf.join(srcKeys, eqKey, "leftsemi")
                .drop(RidCol)
                .withColumn(ChangeTypeCol, lit("update_preimage"))
              val post = src.join(affKeys, srcKeyed, "leftsemi")
                .withColumn(ChangeTypeCol, lit("update_postimage"))
              val ins = src.join(affKeys, srcKeyed, "left_anti")
                .withColumn(ChangeTypeCol, lit("insert"))
              pre.unionByName(post, allowMissingColumns = true)
                .unionByName(ins, allowMissingColumns = true)
            }
            val landed = prf("merge.commit")(
              commitRewriteEpoch(s, path, snap, affected,
                union.toDDL, newStats, tag.toSeq, Some(changeSet),
                op = "merge"))
            if (landed) MergeResult(updated, srcCnt - matchedKeys)
            else MergeResult(0L, 0L) // replayed twin landed concurrently
          }
        } finally {
          man.unpersist(blocking = false)
          src.unpersist(blocking = false)
        }
      }
    }

  /** Bin-pack OPTIMIZE — the maintenance pass continuous ingest makes
    * necessary: every append (q132's micro-batches above all) lands its
    * own small files, and after N batches the snapshot is N small dirs.
    * [[reclusterZOrdered]] fixes that at an O(table) rewrite;
    * this rewrites ONLY the files below `smallBytes` — sizes come from
    * the manifest's per-file size rows (no per-file HEAD calls; a
    * pre-size manifest falls back to one getFileStatus per unknown
    * file) — re-z-clustering them TOGETHER into ~`smallBytes`-sized
    * outputs (restoring clustering across batch boundaries) while every
    * larger file carries by reference. Same epoch-swap commit, tags
    * carried, superseded epoch to [[vacuumOrphans]]. Returns the number
    * of small files folded; fewer than 2 candidates = no-op, no commit. */
  def compactSmallFiles(s: SparkSession, path: String, zcols0: Seq[String],
      smallBytes: Long): Int =
    retryMaintenance("optimize (bin-pack)", path) {
      recoverUnderCommitLock(s, path)
      val snap = requireSnapshot(s, path)
      val (man0, schema, cmC) = manifestSchemaMap(s, snap)
      val zcols = translateColsLenient(cmC, path, zcols0)
      val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
      val sizes = man.filter(col("c") === lit(SizeKey))
        .select(col("f"), col("mn")).collect()
        .map(r => r.getString(0) -> r.getString(1).toLong).toMap
      val all = man.select(col("f")).distinct().collect()
        .map(_.getString(0)).sorted.toSeq
      val fs = StoreMaint.fsFor(s, new Path(path))
      val sized = all.map(f => f -> sizes.getOrElse(f,
        fs.getFileStatus(new Path(path, f)).getLen))
      val small = sized.filter(_._2 < smallBytes)
      if (small.size < 2) 0
      else {
        val smallNames = small.map(_._1)
        // identity rides the bin-pack ([[ridded]]): optimize never
        // re-mints row ids
        val df = s.read.schema(ridded(schema))
          .parquet(smallNames.map(f => s"$path/$f"): _*)
        val nf = math.max(1,
          ((small.map(_._2).sum + smallBytes - 1) / smallBytes).toInt)
        val newStats = zWrite(df, path, zcols, nf) match {
          case Some(dname) =>
            harvestStats(s, path, dname, recordedStatCols(man, schema),
              schema)
          case None => Seq.empty
        }
        commitRewriteEpoch(s, path, snap, smallNames,
          schema.toDDL, newStats, Seq.empty, None, op = "optimize")
        small.size
      }
    }

  // ---- CHECK constraints ----------------------------------------------------

  /** Declared CHECK constraints live as one small file per constraint
    * under `_zconstraints/<name>` (content = the SQL boolean expression,
    * atomic temp+rename), OUTSIDE the manifest — they are store POLICY,
    * not snapshot state: epoch rewrites, restores and vacuum never touch
    * them. Enforcement rides [[zWrite]]'s existing bounds aggregation
    * (no extra scan): SQL CHECK semantics — a row violates only when the
    * expression is FALSE (UNKNOWN passes, SQL's rule and Delta's) — and
    * one violation refuses the whole batch before any data lands, on
    * every write path (build, append, merge, update, streaming ingest;
    * maintenance rewrites re-validate for free). */
  def listCheckConstraints(s: SparkSession,
      path: String): Seq[(String, String)] = {
    val cdir = new Path(path, "_zconstraints")
    val fs = StoreMaint.fsFor(s, cdir)
    if (!fs.exists(cdir)) Seq.empty
    else fs.listStatus(cdir).filter(_.isFile)
      .filterNot(_.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map { st =>
        val in = fs.open(st.getPath)
        val bytes = try org.apache.commons.io.IOUtils.toByteArray(in)
        finally in.close()
        (st.getPath.getName, new String(bytes, "UTF-8"))
      }.toSeq
  }

  // ---- RENAME / DROP COLUMN (r16): metadata-only schema evolution --------

  /** `ALTER TABLE … ALTER COLUMN c TYPE BIGINT|DOUBLE` — TYPE WIDENING
    * as a metadata-only evolution commit (Delta 3.x / Iceberg parity):
    * the recorded schema promotes to the wider type; files written
    * before the promotion keep their narrow physical type and WIDEN AT
    * DECODE (Spark's readers and the zcdf Group reader both do), so no
    * data rewrites. Narrowing or any non-widening change refuses via
    * [[StoreMaint.unionSchemas]]'s contract. */
  def widenColumn(s: SparkSession, path: String, colName: String,
      newType: DataType): Unit =
    Lease.withLease(s, path, "zorder-evolve") {
      val snap = requireSnapshot(s, path)
      val (_, recorded, cm) = manifestSchemaMap(s, snap)
      val phys = cm.physOfOrRefuse(colName, path)
      val f = recorded.find(_.name.equalsIgnoreCase(phys)).getOrElse(
        throw new IllegalArgumentException(
          s"column $colName is not in the z-store schema at $path"))
      val union = StoreMaint.unionSchemas(s"$path (z-store)",
        Some(recorded),
        StructType(Seq(StructField(f.name, newType))))
      val got = union.find(_.name.equalsIgnoreCase(phys)).get.dataType
      require(got == Sources.deepNullable(newType),
        s"cannot narrow column $colName of $path: " +
          s"${f.dataType.simpleString} -> ${newType.simpleString} " +
          "(only INT->BIGINT / FLOAT->DOUBLE widening is metadata-only)")
      if (got == Sources.deepNullable(f.dataType)) return // no-op widen
      val ver = claimNextVersion(StoreMaint.fsFor(s, snap.epochDir),
        snap.epochDir)
      writeManifestVersion(s, snap.epochDir, ver, union.toDDL, Seq.empty,
        op = "widen-column")
    }

  /** The column names the engine reserves — a rename target may not
    * shadow them (the DSv2 metadata columns, the CDF wire columns, the
    * write path's scratch columns). */
  private val ReservedColNames: Set[String] = Set(
    RidCol, "_file", "__z", "__zb",
    ChangeTypeCol, "_epoch", "_ver")

  private def validateNewColName(path: String, cm: ColMap,
      physSchema: StructType, newName: String): Unit = {
    require(newName.nonEmpty && !newName.exists(c =>
        c == '\t' || c == '\n' || c == '\r' || c == '`'),
      s"rename on $path: '$newName' is not a usable column name")
    require(!newName.startsWith("__") &&
        !ReservedColNames.exists(_.equalsIgnoreCase(newName)),
      s"rename on $path: $newName is a reserved engine column name")
    val logicalNames = logicalSchema(physSchema, cm).fieldNames
    require(!logicalNames.exists(_.equalsIgnoreCase(newName)),
      s"rename on $path: a column named $newName already exists")
  }

  private def refuseConstraintRefs(s: SparkSession, path: String,
      logicalName: String, what: String): Unit =
    listCheckConstraints(s, path).foreach { case (n, e) =>
      require(!exprRefNames(e).exists(_.equalsIgnoreCase(logicalName)),
        s"cannot $what column $logicalName of the z-store at $path: " +
          s"CHECK constraint $n ($e) references it — drop the " +
          "constraint first (Delta's contract)")
    }

  /** `ALTER TABLE … RENAME COLUMN old TO new` — a METADATA-ONLY epoch
    * commit (Delta's column mapping): the column's stable PHYSICAL name
    * (its creation name) stays on every data file, stat row, bloom
    * sidecar and change record; only the logical surface changes. A
    * filter on the NEW name keeps pruning via the ORIGINAL stats — at
    * 100 TB a rename is one manifest commit, never a table rewrite.
    * Refuses on: unknown column, name collisions, reserved names, and
    * columns referenced by CHECK constraints. Renaming clustering /
    * bucketing columns is fine (the layout is physical). Incremental
    * change-feed consumers refuse across the commit with the
    * full-refresh contract (their row schema changed), exactly like
    * every other non-DML rewrite. */
  def renameColumn(s: SparkSession, path: String, oldName: String,
      newName: String): Unit = {
    recoverUnderCommitLock(s, path)
    val snap = requireSnapshot(s, path)
    val (_, physSchema, cm) = manifestSchemaMap(s, snap)
    val phys = cm.physOfOrRefuse(oldName, path)
    require(physSchema.exists(_.name.equalsIgnoreCase(phys)),
      s"column $oldName is not in the z-store schema at $path")
    if (oldName.equalsIgnoreCase(newName)) return
    validateNewColName(path, cm, physSchema, newName)
    refuseConstraintRefs(s, path, oldName, "rename")
    commitRewriteEpoch(s, path, snap, Seq.empty, physSchema.toDDL,
      Seq.empty, Seq.empty, None, op = "rename-column",
      remap = Some { (cur, schemaNow) =>
        // re-derive against the ATTEMPT-time mapping and schema (a
        // concurrent mapping commit or ADD COLUMN may have rebased
        // under us) and re-validate — composing, never clobbering
        val physNow = cur.physOf(oldName).getOrElse(
          throw new ConcurrentZRewriteException(
            s"rename $oldName on $path lost its race: a concurrent " +
              "schema change retired the column; retry the statement"))
        validateNewColName(path, cur, schemaNow, newName)
        val others = cur.renames.filterNot(_._1.equalsIgnoreCase(physNow))
        ColMap(
          if (newName.equalsIgnoreCase(physNow)) others // renamed back home
          else others :+ (physNow, newName),
          cur.dropped)
      })
  }

  /** `ALTER TABLE … DROP COLUMN` — metadata-only like [[renameColumn]]:
    * the physical column's bytes stay in every existing file but the
    * name disappears from every read plane (scans, predicates, CDF,
    * `.changes`, DPP attributes) and later appends simply don't write
    * it. The retired name may not be re-used by a new column (old files
    * still hold its bytes). Refuses on: unknown column, the last
    * remaining column, clustering/bucketing columns (the write path
    * computes their bounds on every batch — recluster onto other keys
    * first), and CHECK-constraint references. Any recorded bloom policy
    * for the column is retired with it. */
  def dropColumn(s: SparkSession, path: String, colName: String): Unit = {
    recoverUnderCommitLock(s, path)
    val snap = requireSnapshot(s, path)
    val (_, physSchema, cm) = manifestSchemaMap(s, snap)
    val phys = cm.physOfOrRefuse(colName, path)
    require(physSchema.exists(_.name.equalsIgnoreCase(phys)),
      s"column $colName is not in the z-store schema at $path")
    require(logicalSchema(physSchema, cm).fields.length > 1,
      s"cannot drop $colName: it is the last column of $path")
    refuseConstraintRefs(s, path, colName, "drop")
    recordedZcols(s, path).foreach(zs => require(
      !zs.exists(_.equalsIgnoreCase(phys)),
      s"cannot drop $colName: it is a recorded clustering key of $path " +
        "— recluster onto other keys first"))
    recordedBucketing(s, path).foreach { case (b, _) => require(
      !b.equalsIgnoreCase(phys),
      s"cannot drop $colName: it is the recorded hash-bucket column " +
        s"of $path")
    }
    commitRewriteEpoch(s, path, snap, Seq.empty, physSchema.toDDL,
      Seq.empty, Seq.empty, None, op = "drop-column",
      remap = Some { (cur, _) =>
        val physNow = cur.physOf(colName).getOrElse(
          throw new ConcurrentZRewriteException(
            s"drop $colName on $path lost its race: a concurrent " +
              "schema change retired the column; retry the statement"))
        ColMap(
          cur.renames.filterNot(_._1.equalsIgnoreCase(physNow)),
          cur.dropped :+ physNow)
      })
    // retire the column's bloom policy: zWrite's self-heal would
    // otherwise try to re-cover a column new batches no longer carry
    val bdir = new Path(path, s"_zbloom/${phys.toLowerCase}")
    val fs = StoreMaint.fsFor(s, bdir)
    if (fs.exists(bdir)) { fs.delete(bdir, true); () }
  }

  /** ADD CONSTRAINT … CHECK (expr) — validates EVERY existing row first
    * (Delta scans the table the same way) and refuses if any violates;
    * the constraint file lands only after the scan passes. Lease-held:
    * no epoch rewrite can race the validation. An OCC append that began
    * before the file landed and commits after the validation scan is the
    * one unvalidated window (it validated against the constraints it saw
    * at start) — the same add-vs-lock-free-write tradeoff every
    * optimistic log has; size operational adds accordingly. */
  def addCheckConstraint(s: SparkSession, path: String, name: String,
      sqlExpr: String): Unit = {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"constraint name $name must be [A-Za-z0-9_-]+")
    // the constraint plane evaluates over PHYSICAL frames at write time
    // and LOGICAL frames here — sound only while every referenced column
    // has logical == physical, which the rename/drop refusals preserve;
    // close the loop from this side too
    locally {
      val cmK = colMapFor(s, path)
      if (!cmK.isIdentity) exprRefNames(sqlExpr).foreach { n =>
        require(cmK.physOf(n).exists(_.equalsIgnoreCase(n)),
          s"CHECK constraint $name references $n, a renamed " +
            s"(column-mapped) column of $path — declare constraints on " +
            "columns whose logical and physical names match")
      }
    }
    Lease.withLease(s, path, "zorder-add-constraint") {
      val existing =
        try readSnapshot(s, path).filter(
          not(coalesce(expr(sqlExpr), lit(true)))).count()
        catch { case ex: Exception => throw new IllegalArgumentException(
          s"CHECK constraint $name ($sqlExpr) cannot be evaluated " +
            s"against the store's schema: ${ex.getMessage}")
        }
      require(existing == 0L,
        s"cannot add CHECK constraint $name: $existing existing row(s) " +
          s"violate ($sqlExpr)")
      val cdir = new Path(path, "_zconstraints")
      val fs = StoreMaint.fsFor(s, cdir)
      fs.mkdirs(cdir)
      val tmp = new Path(cdir, s".$name.tmp")
      val out = fs.create(tmp, true)
      try out.write(sqlExpr.getBytes("UTF-8")) finally out.close()
      require(fs.rename(tmp, new Path(cdir, name)) ||
        { fs.delete(new Path(cdir, name), false)
          fs.rename(tmp, new Path(cdir, name)) },
        s"could not publish constraint $name")
    }
  }

  /** DROP CONSTRAINT — writes after the drop admit what it forbade. */
  def dropCheckConstraint(s: SparkSession, path: String,
      name: String): Boolean = {
    require(name.matches("[A-Za-z0-9_-]+"), // the add-side contract; also
      // keeps a hostile name ('../…') from deleting outside the store
      s"constraint name $name must be [A-Za-z0-9_-]+")
    Lease.withLease(s, path, "zorder-drop-constraint") {
      val fs = StoreMaint.fsFor(s, new Path(path, "_zconstraints"))
      fs.delete(new Path(new Path(path, "_zconstraints"), name), false)
    }
  }

  /** Copy-on-write predicate UPDATE — Delta's `UPDATE … SET … WHERE`:
    * rewrite every row matching ALL `preds` (the [[readZRange]] predicate
    * language; a NULL in a predicate column never matches, so those rows
    * are never updated) with the `set` expressions, each a SQL expression
    * over the PRE-UPDATE row (standard UPDATE semantics: all SET clauses
    * see the old values). SET can change values, never the schema: an
    * unknown column or an expression whose type differs from the recorded
    * column type refuses BEFORE any data lands — UPDATE cannot add or
    * retype columns (that's [[StoreMaint.evolveSchema]]'s add-only job).
    *
    * The manifest stats bound the rewrite exactly like [[deleteZRange]]:
    * files whose recorded ranges definitively exclude every matching row
    * CARRY into the new epoch by reference (zero I/O); only
    * possibly-affected files are read and re-z-clustered — an update
    * touching one band rewrites O(affected files), never the table.
    * Commit is the epoch swap; batch tags carry, and `tag` makes the
    * update itself exactly-once under at-least-once replay (the CDC
    * foreachBatch token, like [[mergeByKey]]'s). The superseded epoch
    * stays time-travel-readable until [[vacuumOrphans]] — the audit
    * trail of what changed. Returns the number of rows updated; 0 = no
    * commit, store untouched. */
  def updateZRange(s: SparkSession, path: String,
      preds0: Seq[(String, Any, Any)], set0: Map[String, String],
      zcols0: Seq[String], numFiles: Int = 0,
      tag: Option[String] = None): Long = {
    require(preds0.nonEmpty, "updateZRange needs at least one predicate")
    require(set0.nonEmpty, "updateZRange needs at least one SET expression")
    locally {
      recoverUnderCommitLock(s, path)
      val snap = requireSnapshot(s, path)
      val (man0, schema, cmU) = manifestSchemaMap(s, snap)
      val preds = translatePreds(cmU, path, preds0)
      val zcols = translateColsLenient(cmU, path, zcols0)
      // SET keys and the attribute references INSIDE the SET expressions
      // both translate logical->physical (the expressions evaluate over
      // the physical frame)
      val set = if (cmU.isIdentity) set0
        else set0.map { case (k, e) =>
          (cmU.physOfOrRefuse(k, path), translateExprRefs(cmU, path, e)) }
      val replayed = tag.exists(manifestTagsOf(s, snap).contains)
      if (replayed) 0L
      else {
        set.keys.foreach(k => require(
          schema.exists(_.name.equalsIgnoreCase(k)),
          s"SET column $k is not a column of the z-store at $path — " +
            "UPDATE cannot add columns"))
        val man = man0.filter(!col("c").isin(DdlKey, ColmapKey))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val typed = preds.map { case (c0, lo, hi) =>
            val f = schema.find(_.name.equalsIgnoreCase(c0)).getOrElse(
              throw new IllegalArgumentException(
                s"column $c0 is not in the z-store schema"))
            (c0, f.dataType, Sources.encodeBound(f.dataType, lo),
              Sources.encodeBound(f.dataType, hi))
          }
          val excluded = typed.map { case (c0, dt, loE, hiE) =>
            man.filter(lower(col("c")) === c0.toLowerCase &&
                (col("allnull") || (col("mn").isNotNull &&
                  (statLt(dt, col("mx"), loE) || statGt(dt, col("mn"), hiE)))))
              .select(col("f"))
          }.reduce(_ union _)
          val affected = bloomPruneAffected(s, path, preds, schema,
            man.select(col("f")).distinct().except(excluded)
              .collect().map(_.getString(0)).sorted.toSeq)
          if (affected.isEmpty) 0L
          else {
            val aff = s.read.schema(ridded(schema))
              .parquet(affected.map(f => s"$path/$f"): _*)
              .persist(StorageLevel.MEMORY_AND_DISK)
            try {
              val matchAll = preds.map { case (c, lo, hi) =>
                bandPred(c, lo, hi)
              }.reduce(_ && _)
              val hit = coalesce(matchAll, lit(false))
              val nUpd = aff.filter(hit).count()
              if (nUpd > 0L) {
                val rewritten = aff.select(schema.map { f =>
                  set.find(_._1.equalsIgnoreCase(f.name)) match {
                    case Some((_, e)) =>
                      when(hit, expr(e)).otherwise(col(f.name)).as(f.name)
                    case None => col(f.name)
                  }
                }.toSeq :+ col(RidCol): _*) // UPDATE preserves identity
                schema.foreach { f =>
                  val got = rewritten.schema(f.name).dataType
                  require(got == f.dataType,
                    s"SET ${f.name}: expression type ${got.simpleString} " +
                      s"!= column type ${f.dataType.simpleString} — " +
                      "UPDATE cannot change a column's type")
                }
                val nf = if (numFiles > 0) numFiles else affected.size
                val newStats = zWrite(rewritten, path, zcols, nf) match {
                  case Some(dname) => harvestStats(s, path, dname,
                    recordedStatCols(man, schema), schema)
                  case None => Seq.empty
                }
                // pre/postimages of exactly the hit rows: the SET
                // expressions evaluate over PRE-update values (the
                // UPDATE contract), so the postimage applies them
                // unconditionally to the filtered preimages
                lazy val changeSet = locally {
                  val pre = aff.filter(hit).drop(RidCol)
                  val post = pre.select(schema.map { f =>
                    set.find(_._1.equalsIgnoreCase(f.name)) match {
                      case Some((_, e)) => expr(e).as(f.name)
                      case None => col(f.name)
                    }
                  }: _*)
                  pre.withColumn(ChangeTypeCol, lit("update_preimage"))
                    .unionByName(post.withColumn(ChangeTypeCol,
                      lit("update_postimage")))
                }
                val landed = commitRewriteEpoch(s, path, snap, affected,
                  schema.toDDL, newStats, tag.toSeq, Some(changeSet),
                  op = "update")
                if (landed) nUpd else 0L
              } else nUpd
            } finally aff.unpersist(blocking = false)
          }
        } finally man.unpersist(blocking = false)
      }
    }
  }

  /** RESTORE the store to a PAST committed snapshot — Delta's
    * `RESTORE TABLE … TO VERSION AS OF`: commits a NEW epoch whose v0
    * re-points the past snapshot's files (and its recorded schema — a
    * column added later doesn't exist in the past) entirely BY REFERENCE,
    * so rolling a 100 TB store back from a bad delete/merge is an
    * O(manifest) metadata operation with zero data I/O. Every referenced
    * file is existence-checked DISTRIBUTED before the commit: restoring
    * to a vacuumed state refuses loudly instead of poisoning the store
    * with dangling references (sizing the vacuum's `minAgeMs` past the
    * restore horizon is the same retention contract as time travel).
    *
    * The restored-over state stays time-travel-readable until
    * [[vacuumOrphans]] — the audit trail of the restore, and what makes
    * a restore-of-a-restore work. CURRENT batch tags carry (not just the
    * past's): a tagged batch that landed after the restore point stays
    * replay-deduped — an at-least-once redelivery must not resurrect it,
    * exactly the delete path's non-resurrection rule. Concurrency is the
    * epoch rewrite's: lease-held, `_rebase` watermark over the current
    * snapshot (an append that committed before the restore resolved is
    * part of the restored-over state, i.e. serialized BEFORE it), late
    * concurrent appends roll forward into the restored epoch. */
  def restoreTo(s: SparkSession, path: String, epoch: Long,
      version: Long): Unit =
    // metadata-only epoch swap (plus the constraint-validation scan):
    // runs wholly inside the commit turnstile — a restore REPLACES the
    // table state, so linearizing it against every optimistic commit is
    // the correct isolation (a rewrite racing it loses its file check)
    withCommitLock(s, path, "restore") { lease =>
      recoverLostRollforwards(s, path, lease)
      val cur = requireSnapshot(s, path)
      val past = snapshotAt(s, path, epoch, version)
      val (manP, schemaP, cmP) = manifestSchemaMap(s, past)
      val (man0, _) = manifestAndSchema(s, cur)
      val files = manP.filter(!col("c").isin(DdlKey, ColmapKey)).select(col("f"))
        .distinct().collect().map(_.getString(0)).toSeq
      val overrides = GraftShardsSource.confOverrides(s)
      val target = path
      val missing =
        if (files.isEmpty) Array.empty[String]
        else s.sparkContext
          .parallelize(files, math.min(files.size, 32))
          .filter { rel =>
            !GraftShardsSource.fs(new Path(target),
                GraftShardsSource.hadoopConf(overrides))
              .exists(new Path(target, rel))
          }.collect()
      require(missing.isEmpty,
        s"restore to (e$epoch, v$version): ${missing.length} referenced " +
          s"file(s) no longer exist (vacuumed?) — e.g. " +
          s"${missing.take(3).mkString(", ")}; a restore must re-point " +
          "only files that are still on disk")
      // a restore re-points HISTORY: rows that predate a CHECK constraint
      // would return unvalidated and silently break the "every committed
      // snapshot satisfies the declared constraints" invariant — when
      // constraints exist, the restored snapshot is validated (the one
      // case a restore pays a data scan; constraint-less restores stay
      // pure metadata)
      val cons = listCheckConstraints(s, path)
      if (cons.nonEmpty) {
        val conAggs = cons.map { case (n, e) =>
          sum(when(not(coalesce(expr(e), lit(true))), 1L).otherwise(0L))
            .as(s"__viol_$n")
        }
        val past0 = readSnapshotOf(s, path, past)
        if (past0.limit(1).count() > 0) {
          val v = past0.agg(conAggs.head, conAggs.tail: _*).head()
          cons.zipWithIndex.foreach { case ((n, e), i) =>
            require(v.getLong(i) == 0L,
              s"restore to (e$epoch, v$version) would resurrect " +
                s"${v.getLong(i)} row(s) violating CHECK constraint $n " +
                s"($e) — drop the constraint first or restore elsewhere")
          }
        }
      }
      val edir = new Path(manifestRoot(path), s"e${nextEpoch(s, path)}")
      writeRebaseMarker(StoreMaint.fsFor(s, edir), edir, cur.epoch,
        maxVerOf(cur))
      if (!lease.stillHeld()) throw new IllegalStateException(
        s"restore on $path: commit lock expired before the flip — " +
          "aborting; retry")
      writeManifestVersion(s, edir, 0L, schemaP.toDDL, Seq.empty,
        manifestTagsOf(s, cur).toSeq.sorted,
        carried = Some(carriedStatsDf(s, manP, Seq.empty)), op = "restore",
        colmap = if (cmP.isIdentity) None else Some(encodeColMap(cmP)))
      rollForwardLateAppends(s, path, cur, lease)
    }

  /** Garbage-collect everything the current snapshot doesn't reference:
    * data dirs of crashed appends and superseded epochs, manifest dirs of
    * old epochs, and uncommitted version dirs in the current epoch. Runs
    * in the ENFORCED writer slot ([[Lease]]) so it can't race another
    * maintenance rewrite. Lock-free readers that resolved a SUPERSEDED
    * epoch before the vacuum fail loudly, never partially — `minAgeMs` is
    * the retention delay that closes even that, aged from the
    * SUPERSESSION instant, not file mtime: everything the previous
    * snapshot referenced became garbage the moment the CURRENT epoch's
    * v0 committed (Delta's deletionTimestamp discipline), so a store
    * built hours ago and re-clustered a second ago keeps its old epoch
    * for the full window — mtime aging would collect it immediately and
    * fail a concurrent reader/time-travel query mid-flight (the r9
    * advisor finding; spec-pinned with back-dated files). Candidates are
    * aged from max(own mtime, current-epoch commit), which also keeps an
    * OCC append's pre-commit data dir safe ([[appendZOrdered]] holds no
    * lease): sizing `minAgeMs` past the longest query AND the longest
    * in-flight append is exactly Delta's VACUUM retention contract.
    * Returns the removed root-relative names. */
  def vacuumOrphans(s: SparkSession, path: String,
      minAgeMs: Long = 0L): Seq[String] =
    // physical deletes serialize against every commit (the turnstile):
    // a vacuum can never race a commit's rollforward reads of a
    // superseded epoch's version dirs
    withCommitLock(s, path, "vacuum") { lease =>
      // recover crashed rollforwards BEFORE deleting anything: a lost
      // late append's data dir must re-enter the live set, not the
      // vacuum set
      recoverLostRollforwards(s, path, lease)
      currentSnapshot(s, path) match {
        case None => Seq.empty
        case Some(snap) =>
          val (man, _) = manifestAndSchema(s, snap)
          val liveDirs = man.filter(!col("c").isin(DdlKey, ColmapKey))
            .select(col("f")).distinct()
            .collect().map(_.getString(0).split('/').head).toSet
          val fs = StoreMaint.fsFor(s, new Path(path))
          val cutoff = System.currentTimeMillis() - minAgeMs
          // the supersession instant: when the current epoch's v0 became
          // the committed snapshot, everything outside it became garbage
          val supersededAt = fs.getFileStatus(
            new Path(new Path(snap.epochDir, "v0"), "_SUCCESS"))
            .getModificationTime
          val removed = scala.collection.mutable.ArrayBuffer.empty[String]
          def rm(p: Path, name: String, from: Long): Unit =
            if (math.max(fs.getFileStatus(p).getModificationTime, from)
                <= cutoff) {
              fs.delete(p, true)
              removed += name
            }
          fs.listStatus(new Path(path))
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("d-"))
            .foreach { st =>
              if (!liveDirs.contains(st.getPath.getName))
                rm(st.getPath, st.getPath.getName, supersededAt)
            }
          fs.listStatus(manifestRoot(path)).filter(_.isDirectory)
            .foreach { st =>
              if (st.getPath.getName != snap.epochDir.getName)
                rm(st.getPath, s"_zmanifest/${st.getPath.getName}",
                  supersededAt)
              else
                fs.listStatus(st.getPath).foreach { v =>
                  val n = v.getPath.getName
                  if (v.isDirectory) {
                    // never-committed version dirs were garbage from
                    // birth: own mtime ages them (they supersede nothing)
                    if (!isCommitted(fs, v.getPath))
                      rm(v.getPath,
                        s"_zmanifest/${st.getPath.getName}/$n", 0L)
                  } else if (n.endsWith(".claim")) {
                    // silent hygiene (not reported in `removed` — the
                    // return value is about data/manifest dirs): a claim
                    // whose version COMMITTED is redundant (the v-dir
                    // itself reserves the number); an uncommitted claim
                    // may belong to an in-flight OCC append, so it ages
                    // by its own mtime — the number is never reused
                    // under a live claimant
                    val ver = parseIdx(n.stripSuffix(".claim"), "v")
                    val committed = ver.exists(i =>
                      isCommitted(fs, new Path(st.getPath, s"v$i")))
                    if (committed ||
                        fs.getFileStatus(v.getPath).getModificationTime
                          <= cutoff)
                      fs.delete(v.getPath, false)
                  } else if (n.endsWith(".op")) {
                    // an op record whose version never committed is the
                    // orphan of a crashed commit: age by own mtime.
                    // Committed versions KEEP theirs — they ARE the
                    // history ([[describeHistory]])
                    val ver = parseIdx(n.stripSuffix(".op"), "v")
                    val committed = ver.exists(i =>
                      isCommitted(fs, new Path(st.getPath, s"v$i")))
                    if (!committed &&
                        fs.getFileStatus(v.getPath).getModificationTime
                          <= cutoff)
                      fs.delete(v.getPath, false)
                  }
                }
            }
          // row-level change records: the CURRENT epoch's is live (the
          // feed's most recent DML transition); superseded epochs' age
          // from supersession like their manifests (a feed needing them
          // refuses at base validation once the manifests go), and a
          // record for a never-committed epoch is a crashed DML commit's
          // orphan (garbage from birth: own mtime)
          val zchanges = new Path(path, "_zchanges")
          if (fs.exists(zchanges))
            fs.listStatus(zchanges).filter(_.isDirectory).foreach { cd =>
              val n = cd.getPath.getName
              parseIdx(n, "e").foreach { e =>
                if (e != snap.epoch) {
                  val committed = isCommitted(fs,
                    new Path(manifestRoot(path), s"e$e/v0"))
                  rm(cd.getPath, s"_zchanges/$n",
                    if (committed) supersededAt else 0L)
                }
              }
            }
          // crashed STAGING leftovers under _ztmp (r16): a change record
          // staged outside the turnstile whose committer died before the
          // install rename, or a row-level op's stage whose driver died
          // before cleanup — garbage from birth, aged by own mtime (an
          // in-flight stage is protected by minAgeMs exactly like an
          // OCC append's pre-commit data dir)
          val ztmp = new Path(path, "_ztmp")
          if (fs.exists(ztmp))
            fs.listStatus(ztmp).foreach { st =>
              rm(st.getPath, s"_ztmp/${st.getPath.getName}", 0L)
            }
          // bloom sidecar dirs of data dirs the snapshot no longer lists
          // (vacuumed/rewritten files): same supersession aging
          val zbloom = new Path(path, "_zbloom")
          if (fs.exists(zbloom))
            fs.listStatus(zbloom).filter(_.isDirectory).foreach { cdir =>
              fs.listStatus(cdir.getPath).filter(_.isDirectory)
                .foreach { ddir =>
                  if (!liveDirs.contains(ddir.getPath.getName))
                    rm(ddir.getPath,
                      s"_zbloom/${cdir.getPath.getName}/${ddir.getPath.getName}",
                      supersededAt)
                }
            }
          removed.sorted.toSeq
      }
    }

  // ---- q123: exact-oracle query over the z-clustered layout ---------------

  private val NumFiles = 32

  /** Per-dataset-dir layout cache (the storeFor discipline): clustered
    * once per JVM, range-read per pass — the deployment profile. */
  private val stores = scala.collection.mutable.Map.empty[String, String]

  private def storeFor(s: SparkSession, d: String): String =
    synchronized {
      stores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zorder").toString
        val li = Tables.lineitem(s, d)
        // build + one incremental batch + a manifest-only compaction: the
        // oracle (the plain filter over the WHOLE table) then covers
        // append visibility AND the compacted-epoch read path, not just
        // the initial layout
        writeZOrdered(li.filter(col("l_orderkey") % 10 =!= 9), dir,
          Seq("l_partkey", "l_suppkey"), NumFiles)
        appendZOrdered(li.filter(col("l_orderkey") % 10 === 9), dir,
          Seq("l_partkey", "l_suppkey"), math.max(NumFiles / 10, 1))
        compactManifest(s, dir)
        dir
      })
    }

  /** q133's store: the full table z-clustered, then a partkey band
    * copy-on-write DELETED — the store state every q133 pass reads. */
  private val delStores = scala.collection.mutable.Map.empty[String, String]

  private def delStoreFor(s: SparkSession, d: String): String =
    synchronized {
      delStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zdelete").toString
        val li = Tables.lineitem(s, d)
        writeZOrdered(li, dir, Seq("l_partkey", "l_suppkey"), NumFiles)
        val b = li.agg(min(col("l_partkey")), max(col("l_partkey"))).head()
        val (pmn, pmx) = (b.getLong(0), b.getLong(1))
        deleteZRange(s, dir,
          Seq(("l_partkey", pmn + (pmx - pmn) * 2 / 10,
            pmn + (pmx - pmn) * 3 / 10)),
          Seq("l_partkey", "l_suppkey"))
        dir
      })
    }

  /** q138's store: the documents table z-clustered, then one CDC-style
    * merge applied — a band of "re-crawled" docs (n_chars grown by 1000)
    * plus a slice of brand-new ids beyond the old max. */
  private val mergeStores = scala.collection.mutable.Map.empty[String, String]

  private def mergeStoreFor(s: SparkSession, d: String): String =
    synchronized {
      mergeStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zmerge").toString
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        writeZOrdered(docs, dir, Seq("doc_id", "n_chars"), 8)
        val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (dmn, dmx) = (b.getLong(0), b.getLong(1))
        val (lo, hi) = (dmn + (dmx - dmn) * 2 / 10, dmn + (dmx - dmn) * 3 / 10)
        val upd = docs.filter(col("doc_id").between(lo, hi))
          .withColumn("n_chars", col("n_chars") + lit(1000L))
        val ins = docs.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + lit(dmx + 1))
        mergeByKey(s, dir, upd.unionByName(ins), "doc_id",
          Seq("doc_id", "n_chars"), 4)
        dir
      })
    }

  /** q136's store: a documents z-store with a build slice then one
    * appended batch, history kept in ONE epoch (no compaction) so the
    * change feed has a live base coordinate. */
  private val cdfStores = scala.collection.mutable.Map.empty[String, String]

  private def cdfStoreFor(s: SparkSession, d: String): String =
    synchronized {
      cdfStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zcdf").toString
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        writeZOrdered(docs.filter(col("doc_id") % 10 =!= 9), dir,
          Seq("n_chars", "doc_id"), 8)
        appendZOrdered(docs.filter(col("doc_id") % 10 === 9), dir,
          Seq("n_chars", "doc_id"), 2)
        dir
      })
    }

  /** q137's materialized base view over q136's store: the per-lang
    * aggregate at coordinate (e0, v0), persisted once — the artifact an
    * incremental refresh starts from instead of re-scanning the base. */
  private val viewStores = scala.collection.mutable.Map.empty[String, String]

  private def viewStoreFor(s: SparkSession, d: String): String =
    synchronized {
      viewStores.getOrElseUpdate(d, {
        val root = cdfStoreFor(s, d)
        val vdir = Files.createTempDirectory("graft-zview").toString
        readSnapshotAt(s, root, 0, 0)
          .groupBy(col("lang"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .coalesce(1).write.mode("overwrite").parquet(s"$vdir/v0")
        vdir
      })
    }

  /** q140's store: documents in THREE committed versions of one epoch —
    * build (v0) + two appends (v1, v2) sliced by doc_id mod 3, so the
    * change-feed stream's version→rows mapping is pure SQL. */
  private val zcdfStreamStores = scala.collection.mutable.Map.empty[String, String]

  private def zcdfStreamStoreFor(s: SparkSession, d: String): String =
    synchronized {
      zcdfStreamStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zcdfstream").toString
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        writeZOrdered(docs.filter(col("doc_id") % 3 === 0), dir,
          Seq("n_chars", "doc_id"), 4)
        appendZOrdered(docs.filter(col("doc_id") % 3 === 1), dir,
          Seq("n_chars", "doc_id"), 2)
        appendZOrdered(docs.filter(col("doc_id") % 3 === 2), dir,
          Seq("n_chars", "doc_id"), 2)
        dir
      })
    }

  /** Drop the store-pointer cache (cold-run probes). */
  def clearCaches(): Unit = synchronized {
    stores.clear(); delStores.clear(); cdfStores.clear(); viewStores.clear()
    mergeStores.clear(); zcdfStreamStores.clear(); bloomStores.clear()
    dmlCdfStores.clear(); spjCats.clear()
    scanPlanCache.synchronized { scanPlanCache.clear(); scanPlanWeight = 0L }
    rowCountsCache.synchronized { rowCountsCache.clear() }
    bucketMapCache.synchronized { bucketMapCache.clear() }
    prunableColsCache.clear()
    manifestMetaCache.clear()
  }

  /** q123: selective two-column range read THROUGH the z-clustered layout —
    * a 10%-band on `l_partkey` × a 10%-band on `l_suppkey` (bounds derived
    * from the data, integer floor arithmetic both engines). Oracle = the
    * plain filter over the source table, so a manifest that wrongly
    * skipped a file, a broken residual filter, or a row lost in the
    * re-layout all hash-fail. The pruning itself (both single-column
    * bands open a fraction of the files; the linear baseline cannot) is
    * pinned in ZOrderSpec — an oracle can't see I/O. */
  val q123ZOrderRead: Q = Q(
    "q123_zorder_read",
    """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx,
      |    MIN(l_suppkey) AS smn, MAX(l_suppkey) AS smx FROM lineitem)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
      |  l.l_quantity
      |FROM lineitem l, b
      |WHERE l.l_partkey BETWEEN b.pmn + (b.pmx-b.pmn)*2//10
      |                      AND b.pmn + (b.pmx-b.pmn)*3//10
      |  AND l.l_suppkey BETWEEN b.smn + (b.smx-b.smn)*4//10
      |                      AND b.smn + (b.smx-b.smn)*5//10
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
  ) { (s, d) =>
    val dir = storeFor(s, d)
    val b = Tables.lineitem(s, d).agg(
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val (pmn, pmx, smn, smx) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    readZRange(s, dir, Seq(
        ("l_partkey", pmn + (pmx - pmn) * 2 / 10, pmn + (pmx - pmn) * 3 / 10),
        ("l_suppkey", smn + (smx - smn) * 4 / 10, smn + (smx - smn) * 5 / 10)))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q139: metadata-only COUNT through the z-store ([[countZRange]]) —
    * a half-table `l_partkey` band counted over q123's store (build +
    * append + manifest compaction): interior files charge their recorded
    * footer row counts to the manifest, boundary files scan with the
    * residual filter. Oracle = the plain COUNT over the source table, so
    * a manifest count drifting from the data (harvest bug, carried-row
    * mishandling through the compaction) or an unsound coverage decision
    * (nulls, boundary files) hash-fails. The no-open claim for covered
    * files is pinned in ZOrderSpec (count survives a physically deleted
    * covered file); an oracle can't see I/O. */
  val q139ZOrderCount: Q = Q(
    "q139_zorder_count",
    """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx
      |  FROM lineitem)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem l, b
      |WHERE l.l_partkey BETWEEN b.pmn
      |                      AND b.pmn + (b.pmx-b.pmn)*5//10""".stripMargin,
  ) { (s, d) =>
    import s.implicits._
    val dir = storeFor(s, d)
    val b = Tables.lineitem(s, d).agg(
      min(col("l_partkey")), max(col("l_partkey"))).head()
    val (pmn, pmx) = (b.getLong(0), b.getLong(1))
    Seq(countZRange(s, dir,
      Seq(("l_partkey", pmn, pmn + (pmx - pmn) * 5 / 10)))).toDF("n")
  }

  /** q144: metadata-only MIN/MAX through the z-store ([[minMaxZRange]]) —
    * the same half-table `l_partkey` band as q139, aggregating both the
    * predicate column and the second cluster column: interior files
    * charge their recorded footer extremes to the manifest, boundary
    * files scan with the residual filter. Oracle = the plain MIN/MAX
    * over the source table, so a stat drifting from the data (truncated
    * or widened bound trusted, carried-row mishandling through the
    * compaction) or an unsound coverage decision hash-fails. The no-open
    * claim for charged files is pinned in ZOrderSpec (the aggregate
    * survives a physically deleted charged file); an oracle can't see
    * I/O. */
  val q144ZOrderMinMax: Q = Q(
    "q144_zorder_minmax",
    """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx
      |  FROM lineitem)
      |SELECT CAST(MIN(l.l_suppkey) AS BIGINT) AS mn_l_suppkey,
      |  CAST(MAX(l.l_suppkey) AS BIGINT) AS mx_l_suppkey,
      |  CAST(MIN(l.l_partkey) AS BIGINT) AS mn_l_partkey,
      |  CAST(MAX(l.l_partkey) AS BIGINT) AS mx_l_partkey
      |FROM lineitem l, b
      |WHERE l.l_partkey BETWEEN b.pmn
      |                      AND b.pmn + (b.pmx-b.pmn)*5//10""".stripMargin,
  ) { (s, d) =>
    val dir = storeFor(s, d)
    val b = Tables.lineitem(s, d).agg(
      min(col("l_partkey")), max(col("l_partkey"))).head()
    val (pmn, pmx) = (b.getLong(0), b.getLong(1))
    minMaxZRange(s, dir, Seq("l_suppkey", "l_partkey"),
      Seq(("l_partkey", pmn, pmn + (pmx - pmn) * 5 / 10)))
  }

  /** q145: the commit log surfaced as data ([[describeHistory]] —
    * Delta's DESCRIBE HISTORY) — a deterministic lifecycle (create, two
    * appends, a derived-band delete, a keyed merge, a manifest
    * compaction) whose commit TOPOLOGY is the operator's observable
    * output: appends land as versions of the creating epoch, every
    * rewrite opens the next epoch at v0. Oracle = the expected history
    * as a VALUES literal — exact in the q140 sense (coordinates are
    * deterministic by construction), so drift in version allocation,
    * epoch numbering, op recording, or the history read hash-fails.
    * The op labels across rollforward/recluster and the orphan-sidecar
    * vacuum are pinned in ZOrderSpec. */
  val q145ZOrderHistory: Q = Q(
    "q145_zorder_history",
    """SELECT CAST(epoch AS BIGINT) AS epoch, CAST(ver AS BIGINT) AS ver,
      |  op
      |FROM (VALUES (0, 0, 'create'), (0, 1, 'append'), (0, 2, 'append'),
      |             (1, 0, 'delete'), (2, 0, 'merge'),
      |             (3, 0, 'manifest-compact')) AS t(epoch, ver, op)
      |ORDER BY epoch, ver""".stripMargin,
  ) { (s, d) =>
    describeHistory(s, histStoreFor(s, d))
  }

  /** q145's store: the six-op lifecycle, built ONCE per dataset dir (the
    * storeFor discipline — the operator under test is the metadata-plane
    * [[describeHistory]], not the build; the lifecycle's commit topology
    * is deterministic, so the cached store answers every pass). */
  private val histStores = scala.collection.mutable.Map.empty[String, String]

  private def histStoreFor(s: SparkSession, d: String): String =
    synchronized {
      histStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zhist").toString
        val t = Tables.documents(s, d).select(col("doc_id"),
          col("n_chars").cast("long").as("len"))
        writeZOrdered(t.filter(col("doc_id") % 3 === 0), dir,
          Seq("len", "doc_id"), 4)
        appendZOrdered(t.filter(col("doc_id") % 3 === 1), dir,
          Seq("len", "doc_id"), 2)
        appendZOrdered(t.filter(col("doc_id") % 3 === 2), dir,
          Seq("len", "doc_id"), 2)
        val b = t.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        deleteZRange(s, dir, Seq(("doc_id", mn, mn)), Seq("len", "doc_id"))
        val src = t.filter(col("doc_id") === mn + 1)
          .select(col("doc_id"), lit(1L).as("len"))
          .union(t.filter(col("doc_id") === mn + 1)
            .select((col("doc_id") + mx + 1L).as("doc_id"), col("len")))
        mergeByKey(s, dir, src, "doc_id", Seq("len", "doc_id"))
        compactManifest(s, dir)
        dir
      })
    }

  /** q142's store: documents with a synthetic high-cardinality
    * NON-CLUSTERED key `uk = (doc_id * 2654435761) % 100003` (a Knuth
    * multiplicative hash — pure integer arithmetic, so the oracle
    * mirrors it exactly), z-clustered on (n_chars, doc_id) so uk ranges
    * overlap in every file, bloom sidecars built on uk. */
  private val bloomStores = scala.collection.mutable.Map.empty[String, String]

  private def bloomStoreFor(s: SparkSession, d: String): String =
    synchronized {
      bloomStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zbloom").toString
        val t = Tables.documents(s, d).select(col("doc_id"),
          ((col("doc_id") * lit(2654435761L)) % lit(100003L)).as("uk"),
          col("n_chars"))
        writeZOrdered(t, dir, Seq("n_chars", "doc_id"), 8)
        buildBloomIndex(s, dir, "uk")
        dir
      })
    }

  /** q142: POINT LOOKUP on a non-clustered column through the bloom
    * sidecar index ([[readZPoint]]) — probe value = the minimum doc's
    * uk, derived by the same arithmetic both engines run. Oracle = the
    * plain equality filter over the source table, so a bloom that
    * wrongly excluded a matching file (the unsound direction), a broken
    * residual filter, or a hash/probe mismatch all hash-fail. The
    * files-opened ∝ matches claim is pinned in ZOrderSpec — an oracle
    * can't see I/O. */
  val q142ZOrderPoint: Q = Q(
    "q142_zorder_point",
    """WITH b AS (SELECT MIN(doc_id) AS dmn FROM documents)
      |SELECT d.doc_id, (d.doc_id * 2654435761) % 100003 AS uk, d.n_chars
      |FROM documents d, b
      |WHERE (d.doc_id * 2654435761) % 100003
      |      = (b.dmn * 2654435761) % 100003
      |ORDER BY d.doc_id""".stripMargin,
  ) { (s, d) =>
    val dir = bloomStoreFor(s, d)
    val dmn = Tables.documents(s, d).agg(min(col("doc_id"))).head().getLong(0)
    readZPoint(s, dir, "uk", (dmn * 2654435761L) % 100003L)
      .select(col("doc_id"), col("uk"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q133: range DELETE through the z-store — build the full table
    * z-clustered, copy-on-write delete a 10%-band on `l_partkey`
    * ([[deleteZRange]]: stats-pruned rewrite, epoch-swap commit), then
    * answer a `l_suppkey` band query through the post-delete snapshot.
    * Oracle = the plain suppkey-band filter EXCLUDING the deleted
    * partkey band, so a row surviving the delete, a row wrongly deleted
    * (carried-file mishandling), or a file lost in the rewrite all
    * hash-fail. The carry-by-reference I/O shape (unaffected files are
    * re-pointed, not rewritten) is pinned in ZOrderSpec — an oracle
    * can't see I/O. */
  val q133ZOrderDelete: Q = Q(
    "q133_zorder_delete",
    """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx,
      |    MIN(l_suppkey) AS smn, MAX(l_suppkey) AS smx FROM lineitem)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
      |  l.l_quantity
      |FROM lineitem l, b
      |WHERE l.l_suppkey BETWEEN b.smn + (b.smx-b.smn)*4//10
      |                      AND b.smn + (b.smx-b.smn)*5//10
      |  AND NOT (l.l_partkey BETWEEN b.pmn + (b.pmx-b.pmn)*2//10
      |                           AND b.pmn + (b.pmx-b.pmn)*3//10)
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
  ) { (s, d) =>
    val dir = delStoreFor(s, d)
    val b = Tables.lineitem(s, d).agg(
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val (smn, smx) = (b.getLong(0), b.getLong(1))
    readZRange(s, dir, Seq(
        ("l_suppkey", smn + (smx - smn) * 4 / 10, smn + (smx - smn) * 5 / 10)))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q134: TIME TRAVEL — answer q123's partkey band at epoch 0 version 0,
    * i.e. the store state BEFORE the incremental append (and before the
    * manifest compaction that moved the current snapshot to a new epoch).
    * Oracle = the band filter restricted to the build slice
    * (`l_orderkey % 10 != 9`), so a travel read that leaks the appended
    * batch, loses a build row, or resolves the wrong coordinate
    * hash-fails. Shares q123's store (build → append → compactManifest),
    * which is exactly what makes the coordinate meaningful. */
  val q134ZOrderTimeTravel: Q = Q(
    "q134_zorder_time_travel",
    """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx
      |  FROM lineitem)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
      |  l.l_quantity
      |FROM lineitem l, b
      |WHERE l.l_orderkey % 10 != 9
      |  AND l.l_partkey BETWEEN b.pmn + (b.pmx-b.pmn)*2//10
      |                      AND b.pmn + (b.pmx-b.pmn)*3//10
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
  ) { (s, d) =>
    val dir = storeFor(s, d)
    val b = Tables.lineitem(s, d).agg(
      min(col("l_partkey")), max(col("l_partkey"))).head()
    val (pmn, pmx) = (b.getLong(0), b.getLong(1))
    readZRangeAt(s, dir, 0, 0, Seq(
        ("l_partkey", pmn + (pmx - pmn) * 2 / 10, pmn + (pmx - pmn) * 3 / 10)))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q136: CHANGE FEED — tail the rows a z-store append added after a
    * committed base coordinate ([[readChangesSince]]): build slice at
    * (e0, v0), one appended batch at v1, delta-since-(0,0) ≡ exactly the
    * appended slice. Oracle = the plain filter to the appended slice, so
    * a delta that leaks base rows (bogus-base validation), misses
    * appended rows, or double-counts a file hash-fails. The refusal
    * shapes (cross-epoch, bogus base) are pinned in ZOrderSpec. */
  val q136ZOrderChangeFeed: Q = Q(
    "q136_zorder_change_feed",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 10 = 9 ORDER BY doc_id""".stripMargin,
  ) { (s, d) =>
    readChangesSince(s, cdfStoreFor(s, d), 0, 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q137: INCREMENTAL VIEW MAINTENANCE over the change feed — what
    * [[readChangesSince]] exists FOR: a per-lang aggregate view is
    * materialized once at the base coordinate (e0, v0), and the refresh
    * after the append is `view ⊎ agg(delta)` — the refresh plan reads the
    * tiny view parquet plus O(delta files), NEVER the base data (pinned
    * via `inputFiles` in ZOrderSpec with the full-re-agg planted
    * positive; q100 is the keyed upsert-CDF sibling — this is the
    * append-only fact-stream form, where the delta is inserts-only so
    * the merge is a pure additive union). Oracle = the straight
    * aggregate over the WHOLE table: a refresh that misses delta rows,
    * double-counts, or drifts from the base view hash-fails. */
  val q137ZOrderIvm: Q = Q(
    "q137_zorder_ivm",
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
  ) { (s, d) =>
    val root = cdfStoreFor(s, d)
    val base = s.read.parquet(s"${viewStoreFor(s, d)}/v0")
    val delta = readChangesSince(s, root, 0, 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
    base.unionByName(delta).groupBy(col("lang"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("sum_chars")).cast("long").as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** q138: keyed copy-on-write MERGE through the z-store — build the
    * documents table z-clustered, apply ONE CDC-style merge
    * ([[mergeByKey]]: a doc_id band of whole-row updates + a slice of
    * beyond-max inserts, per-key stats-pruned rewrite, epoch-swap
    * commit), then answer the full-table query through the post-merge
    * snapshot. Oracle = unchanged ∪ updated ∪ inserted as plain SQL, so a
    * lost update, a surviving stale row (carried-file mishandling), a
    * dropped insert, or a row lost in the rewrite all hash-fail. The
    * carry-by-reference I/O shape and the refusal/null edges are pinned
    * in ZOrderSpec — an oracle can't see I/O. */
  val q138ZOrderMerge: Q = Q(
    "q138_zorder_merge",
    """WITH b AS (SELECT MIN(doc_id) AS dmn, MAX(doc_id) AS dmx
      |  FROM documents)
      |SELECT d.doc_id, d.lang, d.n_chars FROM documents d, b
      |WHERE NOT (d.doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*2//10
      |                        AND b.dmn + (b.dmx-b.dmn)*3//10)
      |UNION ALL
      |SELECT d.doc_id, d.lang, d.n_chars + 1000 AS n_chars
      |FROM documents d, b
      |WHERE d.doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*2//10
      |                   AND b.dmn + (b.dmx-b.dmn)*3//10
      |UNION ALL
      |SELECT d.doc_id + b.dmx + 1 AS doc_id, d.lang, d.n_chars
      |FROM documents d, b
      |WHERE d.doc_id % 5 = 0
      |ORDER BY doc_id""".stripMargin,
  ) { (s, d) =>
    readSnapshot(s, mergeStoreFor(s, d))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q140: STREAMING change feed — tail the z-store's commit log with the
    * graft-zcdf DSv2 source ([[ZcdfStream]]): three committed versions
    * (build + two appends, sliced by doc_id mod 3) consumed at
    * maxVersionsPerTrigger=1, each row stamped with its `_ver` commit
    * coordinate. Oracle: version ≡ doc_id % 3 by construction, so a
    * stream that re-emits a version, misses one, drops rows inside a
    * version, or mislabels coordinates hash-fails. Restart-mid-epoch
    * resume and the cross-epoch full-refresh refusal are pinned in
    * StreamingSpec — a bounded run can't show them. */
  val q140ZcdfStream: Q = Q(
    "q140_zcdf_stream",
    """SELECT CAST(doc_id % 3 AS BIGINT) AS ver, doc_id, lang, n_chars
      |FROM documents ORDER BY ver, doc_id""".stripMargin,
  ) { (s, d) =>
    val dir = zcdfStreamStoreFor(s, d)
    val out = Files.createTempDirectory("graft-zcdfout").toString
    val q = s.readStream.format("graft-zcdf")
      .option("startingVersion", "earliest")
      .option("maxVersionsPerTrigger", "1")
      .load(dir)
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/data")
      .select(col("_ver").as("ver"), col("doc_id"), col("lang"),
        col("n_chars"))
      .orderBy(col("ver"), col("doc_id"))
  }

  // ---- q132: continuous z-store ingest (exactly-once) ---------------------

  /** One z-ingest micro-batch: derive the clustering keys, append the
    * batch under its TAG, then answer the STANDING band query through the
    * store — the q117 append-then-answer shape for the fifth persisted
    * store. Run exactly-once by [[StoreMaint.applyOnce]]; the
    * marker-missed window (crash after the version commit, before the
    * marker) is closed by the batch TAG riding the manifest version —
    * the z-store's rows aren't functional in a key, so duplicate-tolerant
    * reads can't absorb a re-append the way the other four stores do;
    * the tag makes the re-append itself a no-op. */
  private[graft] def ingestBatch(s: SparkSession, root: String,
      df: DataFrame, id: Long, lo: Long, hi: Long,
      rowCap: Long = 4096L): Unit =
    StoreMaint.applyOnce(s, root, id, StoreMaint.batchPartitions(s, rowCap)) {
      val store = s"$root/store"
      appendZOrdered(
        df.select(col("doc_id"),
          length(col("text")).cast("long").as("k1"),
          pmod(col("doc_id"), lit(997L)).as("k2")),
        store, Seq("k1", "k2"), 2, tag = Some(s"b$id"))
      readZRange(s, store, Seq(("k1", lo, hi)))
        .select(col("doc_id"), col("k1"), col("k2"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/out/batch=$id")
    }

  /** q132: CONTINUOUS z-store ingest — documents arrive over the
    * graft-shards stream (explicit doc_id-mod routing) in two
    * rate-limited micro-batches; each derives clustering keys
    * (k1 = text length, k2 = doc_id mod 997 — both engine-mirrorable),
    * z-appends itself to the store (which starts EMPTY), and answers the
    * standing k1-band query through the manifest-pruned read, so batch
    * b's rows are the store state after batches ≤ b. EXACT oracle by the
    * q108/q117 recipe: batch membership is rank-in-shard div limit in
    * SQL, the band bounds derive from the full corpus, and the per-batch
    * answer is the plain filter over member docs — a double-appended
    * batch (broken tag/marker), a lost batch, a wrongly-pruned file, or
    * a broken residual filter all hash-fail. Completes the symmetry:
    * all FIVE persisted stores have exactly-once streaming ingest. */
  val q132ZOrderStreamIngest: Q = Q(
    "q132_zorder_stream_ingest",
    s"""WITH b0 AS (SELECT MIN(LENGTH(text)) AS mn, MAX(LENGTH(text)) AS mx
       |  FROM documents),
       |${StoreMaint.batchedCte("documents", "doc_id")},
       |bs AS (SELECT DISTINCT batch FROM batched),
       |member AS (
       |  SELECT bs.batch, bt.doc_id FROM bs JOIN batched bt ON bt.batch <= bs.batch)
       |SELECT m.batch, d.doc_id, LENGTH(d.text) AS k1, d.doc_id % 997 AS k2
       |FROM member m JOIN documents d USING (doc_id), b0
       |WHERE LENGTH(d.text) BETWEEN b0.mn + (b0.mx - b0.mn) * 3 // 10
       |                         AND b0.mn + (b0.mx - b0.mn) * 7 // 10
       |ORDER BY m.batch, d.doc_id""".stripMargin,
  ) { (s, d) =>
    val (docs, rowCap) = StoreMaint.shardStream(s,
      GraftShards.documentsShards(s, d), GraftShards.DocWire)
    // the standing band derives from the full corpus — a constant of the
    // deployment, mirrored by the oracle's b0 CTE
    val b = Tables.documents(s, d)
      .agg(min(length(col("text"))), max(length(col("text")))).head()
    val (mn, mx) = (b.getInt(0).toLong, b.getInt(1).toLong)
    val (lo, hi) = (mn + (mx - mn) * 3 / 10, mn + (mx - mn) * 7 / 10)
    val root = Files.createTempDirectory("graft-zorder-ingest").toString
    StoreMaint.run(s, docs, root)(ingestBatch(s, root, _, _, lo, hi, rowCap))
      .select(col("batch"), col("doc_id"), col("k1"), col("k2"))
      .orderBy(col("batch"), col("doc_id"))
  }

  // ---- q143: CONTINUOUS IVM over the change-feed stream -------------------

  /** One streaming-IVM micro-batch: fold the change-feed delta into the
    * materialized view — `view(v) = view(v-1) ⊎ agg(delta(v))`, the
    * q137 refresh as a CONTINUOUS loop. The view is versioned by the
    * COMMIT COORDINATE it covers (not the Spark batch id), so a
    * replayed batch recomputes v from the same v-1 + the same delta and
    * overwrites the same dir — deterministic content makes the replay a
    * no-op even without the marker; the marker still short-circuits it.
    * The refresh plan reads the previous view (rows ≤ #langs) plus the
    * batch's own delta rows — structurally never the base store (the
    * delta arrives FROM the source; nothing here can touch base files). */
  private[graft] def ivmBatch(s: SparkSession, root: String,
      df: DataFrame, id: Long): Unit =
    // literal pin kept: admission here is maxVersionsPerTrigger (no row
    // cap exists to derive from) and the fold reduces to <= #langs rows
    // regardless of delta volume — a deployment with huge deltas raises
    // spark.sql.shuffle.partitions around the stream instead
    StoreMaint.applyOnce(s, root, id, 4) {
      import s.implicits._
      // fold PER VERSION, resolving the previous state from what EXISTS:
      // committed version numbers are not contiguous (claimNextVersion
      // skips a crashed claimant's number) and maxVersionsPerTrigger>1
      // puts several commits in one micro-batch — `view/v(ver-1)` may
      // be a nonexistent path, or the batch may span versions (the r10
      // advisor finding). The previous view is the highest existing
      // `view/v*` BELOW the batch's first version; each version's delta
      // then folds in commit order, every covered state still keyed by
      // its own commit coordinate (replay-deterministic as before).
      // ONE aggregate-collect serves the emptiness probe, the version
      // list AND every version's delta (was a distinct-collect + one
      // groupBy job per version): the fold's input is ≤ #versions×#langs
      // rows, and slicing groupBy(ver, lang) per version is the same
      // count/sum algebra as the former per-version groupBy(lang) (r17;
      // guide §1.2 fewer passes). The view states stay COLLECTED rows —
      // the per-version fold writes LocalRelations.
      val deltaRows = df.groupBy(col(ZcdfStream.VerCol).as("__v"), col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3))))
      val vers = deltaRows.map(_._1).distinct.sorted
      if (vers.nonEmpty) {
        val viewDir = new Path(s"$root/view")
        val fs = StoreMaint.fsFor(s, viewDir)
        val prevVer: Option[Long] =
          if (!fs.exists(viewDir)) None
          else fs.listStatus(viewDir).filter(_.isDirectory)
            .flatMap(st => parseIdx(st.getPath.getName, "v"))
            .filter(_ < vers.head).maxOption
        var prev: Seq[(String, Long, Long)] = prevVer match {
          case Some(pv) => s.read.parquet(s"$root/view/v$pv")
            .select(col("lang"), col("n_docs"), col("sum_chars")).collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
          case None => Seq.empty
        }
        def viewDf(rows: Seq[(String, Long, Long)]): DataFrame =
          rows.toDF("lang", "n_docs", "sum_chars")
        val states = vers.map { ver =>
          val delta = deltaRows.filter(_._1 == ver).map(_._2).toSeq
          val merged = (prev ++ delta).groupBy(_._1).map { case (lang, xs) =>
            (lang, xs.map(_._2).sum, xs.map(_._3).sum)
          }.toSeq.sortBy(_._1)
          viewDf(merged).coalesce(1).write
            .mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$root/view/v$ver")
          prev = merged
          merged.map { case (lang, n, sc) => (ver, lang, n, sc) }
        }
        states.toSeq.flatten
          .toDF("ver", "lang", "n_docs", "sum_chars").coalesce(1).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$root/out/batch=$id")
      }
    }

  /** q143: CONTINUOUS incremental view maintenance — the composition the
    * graft-zcdf source exists for, and the streaming completion of
    * q137's batch refresh: the per-lang aggregate view is maintained by
    * tailing the z-store's commit log version-per-trigger and folding
    * each delta into the previous view state (`view ⊎ agg(delta)` — the
    * Delta "CDF → aggregate view" pattern). Output is every view STATE
    * keyed by the commit coordinate it covers, so the oracle replays the
    * cumulative aggregates per version in SQL (version ≡ doc_id % 3 by
    * the store's construction) — a missed delta, a double-fold, or a
    * state keyed to the wrong coordinate all hash-fail. Exactly-once is
    * the marker + coordinate-keyed deterministic view write;
    * StreamingSpec pins checkpoint-restart resume (views re-derived for
    * NEW versions only). */
  val q143ZcdfIvm: Q = Q(
    "q143_zcdf_ivm",
    """WITH vs AS (SELECT 0 AS ver UNION ALL SELECT 1 UNION ALL SELECT 2)
      |SELECT CAST(v.ver AS BIGINT) AS ver, d.lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
      |FROM vs v JOIN documents d ON d.doc_id % 3 <= v.ver
      |GROUP BY v.ver, d.lang
      |ORDER BY ver, d.lang""".stripMargin,
  ) { (s, d) =>
    val dir = zcdfStreamStoreFor(s, d)
    val root = Files.createTempDirectory("graft-zcdfivm").toString
    val deltas = s.readStream.format("graft-zcdf")
      .option("startingVersion", "earliest")
      .option("maxVersionsPerTrigger", "1")
      .load(dir)
    StoreMaint.run(s, deltas, root)(ivmBatch(s, root, _, _))
      .select(col("ver"), col("lang"), col("n_docs"), col("sum_chars"))
      .orderBy(col("ver"), col("lang"))
  }

  // ---- q141: CDC-apply streaming MERGE loop (exactly-once) ----------------

  /** One CDC-apply micro-batch — Delta's "merge in foreachBatch" pattern:
    * reduce the batch to its LAST row per key (a CDC batch can carry two
    * versions of one key; replaying them as separate merges would be
    * order-dependent — the within-batch argmax is the standard dedupe),
    * apply it as a keyed copy-on-write [[mergeByKey]] under the batch
    * TAG, then dump the post-merge snapshot. Run exactly-once by
    * [[StoreMaint.applyOnce]]; the marker-missed window is closed by the
    * tag riding the merge's own epoch commit (a replayed tagged merge
    * no-ops), as in q132. */
  private[graft] def mergeIngestBatch(s: SparkSession, root: String,
      df: DataFrame, id: Long, rowCap: Long = 4096L): Unit =
    StoreMaint.applyOnce(s, root, id, StoreMaint.batchPartitions(s, rowCap)) {
      import org.apache.spark.sql.expressions.Window
      val store = s"$root/store"
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("version").desc, col("doc_id"))
      val latest = df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      // no pre-flight emptiness probe: mergeByKey's own source aggregate
      // already returns MergeResult(0, 0) without committing on an empty
      // batch — the probe was one redundant job per micro-batch (r16)
      prf("q141.mergeByKey")(
        mergeByKey(s, store, latest, "doc_id", Seq("doc_id", "n_chars"), 2,
          tag = Some(s"b$id")))
      prf("q141.snapshotDump")(readSnapshot(s, store)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/out/batch=$id"))
    }

  /** q141: CONTINUOUS CDC apply — a keyed change stream (two waves:
    * doc_id%7 re-crawls at +1000 chars as version 0, doc_id%5 at +5000
    * as version 1, overlapping at %35 to exercise last-writer-wins)
    * arrives over graft-shards in two rate-limited micro-batches and is
    * applied to a base z-store via [[mergeByKey]] in foreachBatch — the
    * sixth exactly-once ingest loop, completing Delta's
    * merge-in-foreachBatch shape on the z-store. EXACT oracle by the
    * q132 recipe: micro-batch membership is rank-in-shard div limit in
    * SQL, and each batch's dump is the full post-merge snapshot, i.e.
    * per doc the LAST change with batch ≤ b else the base row — a lost
    * update, a double-applied batch, stale-row survival, or broken
    * within-batch LWW all hash-fail. */
  val q141ZOrderCdcMerge: Q = Q(
    "q141_zorder_cdc_merge",
    s"""WITH cdc AS (
       |  SELECT doc_id, 0 AS version, n_chars + 1000 AS nc
       |  FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id, 1 AS version, n_chars + 5000 AS nc
       |  FROM documents WHERE doc_id % 5 = 0),
       |${StoreMaint.batchedCte("cdc", "doc_id", "version, doc_id", Seq("version", "nc"))},
       |bs AS (SELECT DISTINCT batch FROM batched),
       |applied AS (
       |  SELECT bs.batch, bt.doc_id, bt.nc,
       |    ROW_NUMBER() OVER (PARTITION BY bs.batch, bt.doc_id
       |      ORDER BY bt.version DESC) AS rn
       |  FROM bs JOIN batched bt ON bt.batch <= bs.batch)
       |SELECT b.batch, d.doc_id, d.lang,
       |  COALESCE(a.nc, d.n_chars) AS n_chars
       |FROM bs b CROSS JOIN documents d
       |LEFT JOIN (SELECT batch, doc_id, nc FROM applied WHERE rn = 1) a
       |  ON a.batch = b.batch AND a.doc_id = d.doc_id
       |ORDER BY b.batch, d.doc_id""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.types.LongType
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val cdc = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") + 1000L).as("n_chars"), lit(0L).as("version"))
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 5000L).as("n_chars"), lit(1L).as("version")))
    val root = Files.createTempDirectory("graft-zcdcmerge").toString
    // the base store the stream merges into
    prf("q141.baseStore")(
      writeZOrdered(docs, s"$root/store", Seq("doc_id", "n_chars"), 4))
    // the CDC stream: doc-routed shards, seq ordered by (version, doc_id)
    val shardDir = s"$root/shards"
    prf("q141.shardWrite")(
      GraftShards.writeShardedBy(cdc, shardDir, GraftShards.NumShards,
        pmod(col("doc_id"), lit(GraftShards.NumShards.toLong)),
        Seq(col("version"), col("doc_id"))))
    // metadata-only: the chunk names of the layout just written above
    // carry the per-shard record count (GraftShards.maxShardCount)
    val cdcWire = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("version", LongType)))
    val (changes, rowCap) = prf("q141.maxShardCnt")(
      StoreMaint.shardStream(s, shardDir, cdcWire))
    prf("q141.streamWall")(
      StoreMaint.run(s, changes, root)(mergeIngestBatch(s, root, _, _, rowCap)))
      .select(col("batch"), col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("batch"), col("doc_id"))
  }

  // ---- q146: RESTORE to a past snapshot ------------------------------------

  /** q146's store: documents z-clustered, then an (errant) band delete,
    * then a RESTORE to the pre-delete coordinate — the rollback-a-bad-
    * maintenance-op lifecycle every lakehouse eventually runs. */
  private val restoreStores = scala.collection.mutable.Map.empty[String, String]

  private def restoreStoreFor(s: SparkSession, d: String): String =
    synchronized {
      restoreStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zrestore").toString
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        writeZOrdered(docs, dir, Seq("doc_id", "n_chars"), 4) // (e0, v0)
        val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        val n = deleteZRange(s, dir,
          Seq(("doc_id", mn + (mx - mn) * 2 / 10, mn + (mx - mn) * 3 / 10)),
          Seq("doc_id", "n_chars"))
        require(n > 0, "q146 store: the errant delete deleted nothing")
        restoreTo(s, dir, 0, 0)
        dir
      })
    }

  /** q146: RESTORE — roll the store back to the coordinate before a bad
    * range delete ([[restoreTo]]): zero data I/O (the new epoch re-points
    * the original files by reference — spec-pinned), audit trail intact.
    * Oracle = the PLAIN full table: a restore that leaks the delete,
    * drops a row, re-points a wrong file, or resolves the wrong
    * coordinate hash-fails. The refusal shapes (vacuumed files, bogus
    * coordinates) are pinned in ZOrderSpec. */
  val q146ZOrderRestore: Q = Q(
    "q146_zorder_restore",
    "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
  ) { (s, d) =>
    readSnapshot(s, restoreStoreFor(s, d))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q147: copy-on-write predicate UPDATE --------------------------------

  /** q147's store: documents z-clustered, then a band UPDATE (re-tag the
    * language, bump the char count) — the in-place-correction pass
    * (PII re-tagging, quality re-scores) a training-data store serves. */
  private val updStores = scala.collection.mutable.Map.empty[String, String]

  private def updStoreFor(s: SparkSession, d: String): String =
    synchronized {
      updStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zupdate").toString
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        writeZOrdered(docs, dir, Seq("doc_id", "n_chars"), 4)
        val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        val n = updateZRange(s, dir,
          Seq(("doc_id", mn + (mx - mn) * 2 / 10, mn + (mx - mn) * 3 / 10)),
          Map("lang" -> "'upd'", "n_chars" -> "n_chars + 1000"),
          Seq("doc_id", "n_chars"))
        require(n > 0, "q147 store: the band update updated nothing")
        dir
      })
    }

  /** q147: predicate UPDATE — rewrite a doc_id band's lang/n_chars
    * copy-on-write ([[updateZRange]]): stats prune the rewrite to the
    * band's files (carry-by-reference spec-pinned), SET expressions see
    * the pre-update row. Oracle = the equivalent CASE projection over
    * the plain table: an update that touches rows outside the band,
    * misses rows inside it, or mangles an untouched column hash-fails. */
  val q147ZOrderUpdate: Q = Q(
    "q147_zorder_update",
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |  FROM documents)
      |SELECT d.doc_id,
      |  CASE WHEN d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                         AND b.mn + (b.mx-b.mn)*3//10
      |    THEN 'upd' ELSE d.lang END AS lang,
      |  CASE WHEN d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                         AND b.mn + (b.mx-b.mn)*3//10
      |    THEN d.n_chars + 1000 ELSE d.n_chars END AS n_chars
      |FROM documents d, b ORDER BY d.doc_id""".stripMargin,
  ) { (s, d) =>
    readSnapshot(s, updStoreFor(s, d))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q148: the z-store as a plain Spark TABLE (DSv2 batch) ---------------

  /** q148: q123's band query through the graft-z DSv2 TABLE
    * ([[ZBatch]]) — `spark.read.format("graft-z")` + ordinary `.filter`,
    * with the manifest skipping riding the pushed filters instead of the
    * explicit [[readZRange]] API: the "store is a table" completion of
    * the read surface (what lets any SQL consumer query the store).
    * Shares q123's store (build + append + manifest compaction) and
    * oracle, so a wire-decode bug, a filter lost in pushdown, or an
    * unsound prune all hash-fail; the files-planned-∝-band claim is
    * pinned in ZOrderSpec (an oracle can't see I/O). */
  val q148ZBatchTable: Q = Q(
    "q148_zorder_table",
    """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx,
      |    MIN(l_suppkey) AS smn, MAX(l_suppkey) AS smx FROM lineitem)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
      |  l.l_quantity
      |FROM lineitem l, b
      |WHERE l.l_partkey BETWEEN b.pmn + (b.pmx-b.pmn)*2//10
      |                      AND b.pmn + (b.pmx-b.pmn)*3//10
      |  AND l.l_suppkey BETWEEN b.smn + (b.smx-b.smn)*4//10
      |                      AND b.smn + (b.smx-b.smn)*5//10
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
  ) { (s, d) =>
    val dir = storeFor(s, d)
    val b = Tables.lineitem(s, d).agg(
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val (pmn, pmx, smn, smx) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    s.read.format("graft-z").load(dir)
      .filter(col("l_partkey").between(
        pmn + (pmx - pmn) * 2 / 10, pmn + (pmx - pmn) * 3 / 10) &&
        col("l_suppkey").between(
          smn + (smx - smn) * 4 / 10, smn + (smx - smn) * 5 / 10))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  // ---- q149: CHECK constraints gate every write -----------------------------

  /** q149's store: documents behind two CHECK constraints; a violating
    * batch is refused WHOLESALE (nothing lands), the compliant batch
    * lands — the ingestion-contract lifecycle (Delta's ADD CONSTRAINT +
    * enforced writes). */
  private val consStores = scala.collection.mutable.Map.empty[String, String]

  private def consStoreFor(s: SparkSession, d: String): String =
    synchronized {
      consStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zcons").toString
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        writeZOrdered(docs.filter(col("doc_id") % 10 =!= 9), dir,
          Seq("doc_id", "n_chars"), 4)
        addCheckConstraint(s, dir, "chars_nonneg", "n_chars >= 0")
        addCheckConstraint(s, dir, "doc_id_nonneg", "doc_id >= 0")
        val bad = docs.filter(col("doc_id") % 10 === 9)
          .withColumn("n_chars", -col("n_chars") - 1)
        val refused =
          try { appendZOrdered(bad, dir, Seq("doc_id", "n_chars"), 1); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("chars_nonneg") }
        require(refused, "q149 store: the violating batch was not refused")
        appendZOrdered(docs.filter(col("doc_id") % 10 === 9), dir,
          Seq("doc_id", "n_chars"), 1)
        dir
      })
    }

  /** q149: CHECK constraints — the write-path ingestion gate (Delta's
    * table constraints): declared expressions validated against every
    * incoming batch inside [[zWrite]]'s existing bounds pass (no extra
    * scan), one violation refusing the whole batch before a byte lands.
    * The lifecycle appends a VIOLATING batch (refused — its rows must
    * not appear) then the compliant one; oracle = the plain full table,
    * so a partially-landed refused batch or a lost compliant batch
    * hash-fails. Refusal shapes, SQL UNKNOWN-passes semantics,
    * unvalidatable-batch refusal, add-time validation, drop, and
    * restore-vs-constraint interplay are pinned in ZOrderSpec. */
  val q149ZOrderConstraints: Q = Q(
    "q149_zorder_constraints",
    "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
  ) { (s, d) =>
    readSnapshot(s, consStoreFor(s, d))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q150: DataFrame-API round trip through the graft-z table ------------

  /** q150's store: the build slice lands programmatically, the rest
    * arrives through the PUBLIC TABLE WRITE surface
    * (`df.write.format("graft-z").mode("append")`) under an
    * exactly-once tag — replayed immediately to prove the tag dedups
    * through the API path too. */
  private val apiStores = scala.collection.mutable.Map.empty[String, String]

  private def apiStoreFor(s: SparkSession, d: String): String =
    synchronized {
      apiStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zapi").toString
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        writeZOrdered(docs.filter(col("doc_id") % 10 =!= 9), dir,
          Seq("doc_id", "n_chars"), 4)
        def apiAppend(): Unit = docs.filter(col("doc_id") % 10 === 9)
          .write.format("graft-z")
          .option("zcols", "doc_id,n_chars")
          .option("numFiles", "1")
          .option("tag", "api-b1")
          .mode("append").save(dir)
        apiAppend()
        apiAppend() // at-least-once redelivery: the tag makes it a no-op
        dir
      })
    }

  /** q150: the full DataFrame-API round trip — rows written through
    * `df.write.format("graft-z")` (the V1-insert bridge onto the
    * tag-deduped OCC append) and read back through
    * `spark.read.format("graft-z")` with an ordinary band filter doing
    * manifest skipping; the lifecycle REPLAYS the API append to prove
    * exactly-once holds through the public surface. Oracle = the plain
    * band filter over the full table (a lost or doubled API batch
    * hash-fails because the band straddles both slices). */
  val q150ZBatchWrite: Q = Q(
    "q150_zorder_table_write",
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |  FROM documents)
      |SELECT d.doc_id, d.lang, d.n_chars FROM documents d, b
      |WHERE d.doc_id BETWEEN b.mn + (b.mx-b.mn)*1//10
      |                   AND b.mn + (b.mx-b.mn)*4//10
      |ORDER BY d.doc_id""".stripMargin,
  ) { (s, d) =>
    val dir = apiStoreFor(s, d)
    val b = Tables.documents(s, d)
      .agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    s.read.format("graft-z").load(dir)
      .filter(col("doc_id").between(
        mn + (mx - mn) * 1 / 10, mn + (mx - mn) * 4 / 10))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q151: CREATE-on-write — the store born through the table surface ----

  /** q151's store: NEVER touched by the programmatic API — created by
    * `df.write.format("graft-z").option("zcols", …).mode("append")` on a
    * fresh directory (the bootstrap append under an exactly-once tag,
    * replayed immediately to prove create-time dedup), then grown by a
    * second tagged API append. */
  private val createStores = scala.collection.mutable.Map.empty[String, String]

  private def createStoreFor(s: SparkSession, d: String): String =
    synchronized {
      createStores.getOrElseUpdate(d, {
        val dir =
          Files.createTempDirectory("graft-zcreateq").toString + "/store"
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        def put(slice: DataFrame, tag: String): Unit =
          slice.write.format("graft-z")
            .option("zcols", "doc_id,n_chars")
            .option("numFiles", "4")
            .option("tag", tag)
            .mode("append").save(dir)
        put(docs.filter(col("doc_id") % 10 =!= 9), "create-b0") // CREATES
        put(docs.filter(col("doc_id") % 10 =!= 9), "create-b0") // replay no-op
        put(docs.filter(col("doc_id") % 10 === 9), "create-b1")
        dir
      })
    }

  /** q151: CREATE-on-write through the table surface (the r11 verdict's
    * top missing item — the first thing a SQL-surface user does with a
    * table format is create a table with it): a fresh directory becomes
    * a z-store purely via `df.write.format("graft-z")`, exactly-once
    * under create-time replay, then serves ordinary pruned reads.
    * Oracle = the plain full table, so a doubled create batch, a lost
    * append, or a mis-clustered decode all hash-fail; the
    * refusal shapes (read of a missing store, write without zcols) are
    * pinned in ZOrderSpec. */
  val q151ZBatchCreate: Q = Q(
    "q151_zorder_table_create",
    "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
  ) { (s, d) =>
    // read back through the TABLE surface too: the whole q151 lifecycle
    // never touches the programmatic API
    s.read.format("graft-z").load(createStoreFor(s, d))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q152: streaming ingest through the NATIVE graft-z sink --------------

  /** q152's store: q132's stream (documents over graft-shards, explicit
    * routing, two rate-limited micro-batches) written through
    * `writeStream.format("graft-z")` — the NATIVE sink, no foreachBatch
    * loop — then the whole bounded stream REPLAYED from a fresh
    * checkpoint under the same `tagPrefix` to prove the sink's
    * cross-checkpoint exactly-once through the public surface. */
  private val sinkStores = scala.collection.mutable.Map.empty[String, String]

  private def sinkStoreFor(s: SparkSession, d: String): String =
    synchronized {
      sinkStores.getOrElseUpdate(d, {
        val root = Files.createTempDirectory("graft-zsinkq").toString
        val store = s"$root/store"
        val (docs, _) = StoreMaint.shardStream(s,
          GraftShards.documentsShards(s, d), GraftShards.DocWire)
        def run(ckpt: String): Unit = {
          val q = docs
            .select(col("doc_id"),
              length(col("text")).cast("long").as("k1"),
              pmod(col("doc_id"), lit(997L)).as("k2"))
            .writeStream.format("graft-z")
            .option("zcols", "k1,k2").option("numFiles", "2")
            .option("tagPrefix", "q152")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(store)
          q.awaitTermination()
        }
        run(s"$root/ckpt1")
        run(s"$root/ckpt2") // full from-scratch replay: tags dedupe
        root
      })
    }

  /** q152: continuous ingest through the NATIVE streaming sink — q132's
    * pipeline with `writeStream.format("graft-z")` in place of the
    * foreachBatch loop (the r11 verdict's item 4: the table surface's
    * streaming symmetry). Each micro-batch is one tagged OCC append; the
    * lifecycle replays the whole bounded stream from a FRESH checkpoint
    * under the same tagPrefix, so a doubled batch hash-fails against the
    * exact oracle (the standing k1-band over the final store, whose
    * counts double on any re-land). Checkpoint-restart and refusal
    * shapes are pinned in ZOrderSpec. */
  val q152ZStreamSink: Q = Q(
    "q152_zorder_stream_sink",
    """WITH b0 AS (SELECT MIN(LENGTH(text)) AS mn, MAX(LENGTH(text)) AS mx
      |  FROM documents)
      |SELECT d.doc_id, LENGTH(d.text) AS k1, d.doc_id % 997 AS k2
      |FROM documents d, b0
      |WHERE LENGTH(d.text) BETWEEN b0.mn + (b0.mx - b0.mn) * 3 // 10
      |                         AND b0.mn + (b0.mx - b0.mn) * 7 // 10
      |ORDER BY d.doc_id""".stripMargin,
  ) { (s, d) =>
    val root = sinkStoreFor(s, d)
    val b = Tables.documents(s, d)
      .agg(min(length(col("text"))), max(length(col("text")))).head()
    val (mn, mx) = (b.getInt(0).toLong, b.getInt(1).toLong)
    s.read.format("graft-z").load(s"$root/store")
      .filter(col("k1").between(
        mn + (mx - mn) * 3 / 10, mn + (mx - mn) * 7 / 10))
      .select(col("doc_id"), col("k1"), col("k2"))
      .orderBy(col("doc_id"))
  }

  // ---- q153: metadata-answered aggregates through the TABLE surface --------

  /** q153: ungrouped COUNT(*)/MIN/MAX through `spark.read.format
    * ("graft-z")` — the q139/q144 metadata plane wired into the DSv2
    * scan as a COMPLETE aggregate pushdown ([[ZBatchAggScan]]), so any
    * SQL consumer's `SELECT COUNT(*) …` opens no data files (Delta's
    * stats-answered fast path). Shares q123's store (build + appends +
    * manifest compaction); exact oracle = the same aggregates over the
    * source table, so a count row lost/doubled in any manifest rewrite,
    * or a stats bound that isn't an attained value, hash-fails. The
    * files-never-opened claim is pinned in ZOrderSpec by physically
    * deleting a data file (an oracle can't see I/O). */
  val q153ZBatchAgg: Q = Q(
    "q153_zorder_table_agg",
    """SELECT COUNT(*) AS n,
      |  MIN(l_partkey) AS mn_pk, MAX(l_partkey) AS mx_pk,
      |  MIN(l_suppkey) AS mn_sk, MAX(l_suppkey) AS mx_sk
      |FROM lineitem""".stripMargin,
  ) { (s, d) =>
    s.read.format("graft-z").load(storeFor(s, d))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("mn_pk"), max(col("l_partkey")).as("mx_pk"),
        min(col("l_suppkey")).as("mn_sk"), max(col("l_suppkey")).as("mx_sk"))
  }

  // ---- q154: the full SQL DML lifecycle (UPDATE / MERGE INTO / DELETE) -----

  /** q154's store: built and mutated ENTIRELY in SQL through the
    * catalog — CREATE TABLE, INSERT INTO, a banded UPDATE, a MERGE INTO
    * with matched updates + not-matched inserts, and an OR-shaped DELETE
    * (the shape the exact-band conversion refuses, exercising the
    * group-based copy-on-write row-level operation end to end). Returns
    * (catalogName, storeDir). */
  private val sqlDmlStores =
    scala.collection.mutable.Map.empty[String, (String, String)]

  private def sqlDmlStoreFor(s: SparkSession, d: String): (String, String) =
    synchronized {
      sqlDmlStores.getOrElseUpdate(d, {
        val root = Files.createTempDirectory("graft-zsqldml").toString
        // one catalog NAME per sf dir: Spark caches catalog instances by
        // name, so a name may never be re-rooted within a session
        val cat = s"graftq154c${math.abs(d.hashCode)}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ZCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        docs.createOrReplaceTempView("q154_base")
        s.sql(s"CREATE NAMESPACE $cat.lake")
        s.sql(s"""CREATE TABLE $cat.lake.docs
          (doc_id BIGINT, lang STRING, n_chars BIGINT)
          PARTITIONED BY (doc_id, n_chars)""")
        s.sql(s"INSERT INTO $cat.lake.docs SELECT * FROM q154_base")
        // banded UPDATE (bounds folded driver-side, q147's band)
        val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        val (lo, hi) = (mn + (mx - mn) * 2 / 10, mn + (mx - mn) * 3 / 10)
        s.sql(s"""UPDATE $cat.lake.docs
          SET lang = 'upd', n_chars = n_chars + 1000
          WHERE doc_id BETWEEN $lo AND $hi""")
        // MERGE: every %10==7 doc re-scores (from its PRE-update chars,
        // the source is the base table); every %100==3 doc inserts a
        // 'new' twin at doc_id + 10^9
        s.sql("""SELECT doc_id, 'mrg' AS lang, n_chars * 2 AS n_chars
          FROM q154_base WHERE doc_id % 10 = 7
          UNION ALL
          SELECT doc_id + 1000000000 AS doc_id, 'new' AS lang,
            42L AS n_chars
          FROM q154_base WHERE doc_id % 100 = 3""")
          .createOrReplaceTempView("q154_src")
        s.sql(s"""MERGE INTO $cat.lake.docs t USING q154_src u
          ON t.doc_id = u.doc_id
          WHEN MATCHED THEN UPDATE SET lang = u.lang, n_chars = u.n_chars
          WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
            VALUES (u.doc_id, u.lang, u.n_chars)""")
        // an OR/modulo DELETE: not expressible as closed bands, so it
        // exercises the group-based row-level path (not deleteWhere)
        s.sql(s"""DELETE FROM $cat.lake.docs
          WHERE lang = 'new' AND doc_id % 2 = 1""")
        (cat, s"$root/lake/docs")
      })
    }

  /** q154: SQL row-level DML end to end — `UPDATE`, `MERGE INTO` (matched
    * update + not-matched insert) and a non-band `DELETE` driven through
    * the catalog in pure SQL (Spark 4's `SupportsRowLevelOperations`
    * group-based protocol → [[ZRowLevelOperation]]), then the final
    * state read back through the same table. Oracle = the identical DML
    * algebra over the plain table (CASE for the update, LEFT JOIN +
    * anti-semijoin for the merge, a NOT filter for the delete): a row
    * updated outside the band, a merge that drops/doubles a row, a
    * delete that over- or under-shoots — any of it hash-fails. */
  val q154ZOrderSqlDml: Q = Q(
    "q154_zorder_sql_dml",
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |    FROM documents),
      |  upd AS (
      |    SELECT d.doc_id,
      |      CASE WHEN d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                             AND b.mn + (b.mx-b.mn)*3//10
      |        THEN 'upd' ELSE d.lang END AS lang,
      |      CASE WHEN d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                             AND b.mn + (b.mx-b.mn)*3//10
      |        THEN d.n_chars + 1000 ELSE d.n_chars END AS n_chars
      |    FROM documents d, b),
      |  src AS (
      |    SELECT doc_id, 'mrg' AS lang, n_chars * 2 AS n_chars
      |    FROM documents WHERE doc_id % 10 = 7
      |    UNION ALL
      |    SELECT doc_id + 1000000000 AS doc_id, 'new' AS lang,
      |      42 AS n_chars
      |    FROM documents WHERE doc_id % 100 = 3),
      |  merged AS (
      |    SELECT u.doc_id, COALESCE(s.lang, u.lang) AS lang,
      |      COALESCE(s.n_chars, u.n_chars) AS n_chars
      |    FROM upd u LEFT JOIN src s ON u.doc_id = s.doc_id
      |    UNION ALL
      |    SELECT s.doc_id, s.lang, s.n_chars FROM src s
      |    WHERE s.doc_id NOT IN (SELECT doc_id FROM upd))
      |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      |FROM merged
      |WHERE NOT (lang = 'new' AND doc_id % 2 = 1)
      |ORDER BY doc_id""".stripMargin,
  ) { (s, d) =>
    val (cat, _) = sqlDmlStoreFor(s, d)
    s.sql(s"""SELECT doc_id, lang, n_chars FROM $cat.lake.docs
      ORDER BY doc_id""")
  }

  /** q155: STREAMING read of the catalog table —
    * `spark.readStream.table("<cat>.lake.docs")` tails q154's post-DML
    * store through the TABLE surface (the r12 verdict's item 4: no
    * format("graft-zcdf")+path switch), projecting the zcdf wire's
    * commit coordinates away so the stream's schema IS the table's.
    * A bounded AvailableNow run over the settled store must reproduce
    * the exact final state — oracle = q154's (the stream's current
    * epoch v0 carries the whole post-DML table). Incremental tailing
    * and the epoch-rewrite refusal through the table name are pinned in
    * ZOrderSpec (an oracle can't see offsets). */
  val q155ZTableStream: Q = Q(
    "q155_zorder_table_stream",
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |    FROM documents),
      |  upd AS (
      |    SELECT d.doc_id,
      |      CASE WHEN d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                             AND b.mn + (b.mx-b.mn)*3//10
      |        THEN 'upd' ELSE d.lang END AS lang,
      |      CASE WHEN d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                             AND b.mn + (b.mx-b.mn)*3//10
      |        THEN d.n_chars + 1000 ELSE d.n_chars END AS n_chars
      |    FROM documents d, b),
      |  src AS (
      |    SELECT doc_id, 'mrg' AS lang, n_chars * 2 AS n_chars
      |    FROM documents WHERE doc_id % 10 = 7
      |    UNION ALL
      |    SELECT doc_id + 1000000000 AS doc_id, 'new' AS lang,
      |      42 AS n_chars
      |    FROM documents WHERE doc_id % 100 = 3),
      |  merged AS (
      |    SELECT u.doc_id, COALESCE(s.lang, u.lang) AS lang,
      |      COALESCE(s.n_chars, u.n_chars) AS n_chars
      |    FROM upd u LEFT JOIN src s ON u.doc_id = s.doc_id
      |    UNION ALL
      |    SELECT s.doc_id, s.lang, s.n_chars FROM src s
      |    WHERE s.doc_id NOT IN (SELECT doc_id FROM upd))
      |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      |FROM merged
      |WHERE NOT (lang = 'new' AND doc_id % 2 = 1)
      |ORDER BY doc_id""".stripMargin,
  ) { (s, d) =>
    val (cat, _) = sqlDmlStoreFor(s, d)
    val out = Files.createTempDirectory("graft-ztblstream").toString
    val q = s.readStream.table(s"$cat.lake.docs")
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/data")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q156: streaming write through the TABLE (writeStream.toTable) -------

  /** q156's table: q152's bounded stream written through
    * `writeStream…toTable("<cat>.lake.sunk")` — the DSv2 StreamingWrite
    * twin of the path-based sink ([[ZStreamingWrite]]): per-task parquet
    * staging + ONE tagged OCC append per epoch, clustering keys resolved
    * from the TABLE's recorded policy (no zcols option anywhere). The
    * whole stream then REPLAYS from a fresh checkpoint under the same
    * tagPrefix to prove cross-checkpoint exactly-once through the
    * table-name surface. */
  private val toTableStores = scala.collection.mutable.Map.empty[String, String]

  private def toTableStoreFor(s: SparkSession, d: String): String =
    synchronized {
      toTableStores.getOrElseUpdate(d, {
        val root = Files.createTempDirectory("graft-ztotableq").toString
        val cat = "graftq156c" + math.abs(d.hashCode).toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ZCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE $cat.lake")
        s.sql(s"""CREATE TABLE $cat.lake.sunk
          (doc_id BIGINT, k1 BIGINT, k2 BIGINT) PARTITIONED BY (k1, k2)""")
        val (docs, _) = StoreMaint.shardStream(s,
          GraftShards.documentsShards(s, d), GraftShards.DocWire)
        def run(ckpt: String): Unit = {
          val q = docs
            .select(col("doc_id"),
              length(col("text")).cast("long").as("k1"),
              pmod(col("doc_id"), lit(997L)).as("k2"))
            .writeStream
            .option("tagPrefix", "q156").option("numFiles", "2")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .toTable(s"$cat.lake.sunk")
          q.awaitTermination()
        }
        run(s"$root/ckpt1")
        run(s"$root/ckpt2") // full from-scratch replay: tags dedupe
        cat
      })
    }

  /** q156: continuous ingest through `writeStream.toTable` — the
    * table-name twin of q152 (one table, ALL verbs including the
    * streaming write): the DSv2 StreamingWrite stages per task and the
    * driver commits one tagged lock-free append per epoch; the
    * clustering comes from the table's RECORDED policy, the replay from
    * a fresh checkpoint proves tag-deduped exactly-once, and the read
    * back is plain SQL through the same table name (a doubled epoch or
    * a mis-clustered append hash-fails against the band oracle).
    * Restart, staging hygiene and output-mode refusal are pinned in
    * ZOrderSpec. */
  val q156ZTableStreamWrite: Q = Q(
    "q156_zorder_table_stream_write",
    """WITH b0 AS (SELECT MIN(LENGTH(text)) AS mn, MAX(LENGTH(text)) AS mx
      |  FROM documents)
      |SELECT d.doc_id, LENGTH(d.text) AS k1, d.doc_id % 997 AS k2
      |FROM documents d, b0
      |WHERE LENGTH(d.text) BETWEEN b0.mn + (b0.mx - b0.mn) * 4 // 10
      |                         AND b0.mn + (b0.mx - b0.mn) * 8 // 10
      |ORDER BY d.doc_id""".stripMargin,
  ) { (s, d) =>
    val cat = toTableStoreFor(s, d)
    val b = Tables.documents(s, d)
      .agg(min(length(col("text"))), max(length(col("text")))).head()
    val (mn, mx) = (b.getInt(0).toLong, b.getInt(1).toLong)
    s.sql(s"""SELECT doc_id, k1, k2 FROM $cat.lake.sunk
      WHERE k1 BETWEEN ${mn + (mx - mn) * 4 / 10}
                   AND ${mn + (mx - mn) * 8 / 10}
      ORDER BY doc_id""")
  }

  // ---- q157: batch CHANGE FEED through the table surface -------------------

  /** q157: q136's change feed driven through the TABLE surface —
    * `spark.read.format("graft-z").option("changesSinceEpoch", …)
    * .option("changesSinceVersion", …)` (Delta's `readChangeFeed` as a
    * read option, working identically through the catalog table name):
    * the scan plans exactly the delta's files
    * ([[changeFilesSized]]) under the table's own schema. Shares q136's
    * store and oracle — a delta that leaks base rows, misses appended
    * rows, or double-counts a file hash-fails; the refusal shapes
    * (epoch swap, bogus base, travel/changes combination) are pinned in
    * ZBatchPlanSpec. */
  val q157ZTableChanges: Q = Q(
    "q157_zorder_table_changes",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 10 = 9 ORDER BY doc_id""".stripMargin,
  ) { (s, d) =>
    s.read.format("graft-z")
      .option("changesSinceEpoch", "0").option("changesSinceVersion", "0")
      .load(cdfStoreFor(s, d))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q158: conditional overwrite (replaceWhere) through the table --------

  /** q158's table: documents behind the catalog, then the [20%, 30%]
    * doc_id band REPLACED in one atomic commit by a corrected slice
    * (`df.writeTo(t).overwrite(cond)` → [[overwriteZRange]]) that keeps
    * only even doc_ids, re-scored — a replacement that both deletes and
    * transforms, so delete-only or update-only bugs can't pass. */
  private val replStores =
    scala.collection.mutable.Map.empty[String, (String, String)]

  private def replStoreFor(s: SparkSession, d: String): (String, String) =
    synchronized {
      replStores.getOrElseUpdate(d, {
        val root = Files.createTempDirectory("graft-zreplw").toString
        // one catalog NAME per sf dir (Spark caches catalogs by name)
        val cat = s"graftq158c${math.abs(d.hashCode)}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ZCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        s.sql(s"CREATE NAMESPACE $cat.lake")
        s.sql(s"""CREATE TABLE $cat.lake.docs
          (doc_id BIGINT, lang STRING, n_chars BIGINT)
          PARTITIONED BY (doc_id, n_chars)""")
        docs.writeTo(s"$cat.lake.docs").append()
        val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        val (lo, hi) = (mn + (mx - mn) * 2 / 10, mn + (mx - mn) * 3 / 10)
        val corrected = docs
          .filter(col("doc_id").between(lo, hi) && col("doc_id") % 2 === 0)
          .withColumn("lang", lit("rw"))
          .withColumn("n_chars", col("n_chars") + 5000)
        corrected.writeTo(s"$cat.lake.docs")
          .overwrite(col("doc_id") >= lo && col("doc_id") <= hi)
        (cat, s"$root/lake/docs")
      })
    }

  /** q158: `replaceWhere` — the idempotent-backfill verb (Delta's
    * conditional `INSERT OVERWRITE`): one atomic epoch commit deletes
    * the band and lands the corrected slice in its place
    * ([[overwriteZRange]] via `SupportsOverwrite` on the table's write
    * builder). Oracle = outside-the-band ∪ the corrected slice: a
    * non-atomic delete+append pair that lost either half, a replacement
    * leaking outside the band, or a surviving stale band row all
    * hash-fail. Atomicity, the outside-band refusal, staging hygiene
    * and the no-store create path are pinned in ZBatchPlanSpec. */
  val q158ZTableReplaceWhere: Q = Q(
    "q158_zorder_replace_where",
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |  FROM documents)
      |SELECT d.doc_id, d.lang, d.n_chars FROM documents d, b
      |WHERE d.doc_id < b.mn + (b.mx-b.mn)*2//10
      |   OR d.doc_id > b.mn + (b.mx-b.mn)*3//10
      |UNION ALL
      |SELECT d.doc_id, 'rw' AS lang, d.n_chars + 5000 AS n_chars
      |FROM documents d, b
      |WHERE d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                   AND b.mn + (b.mx-b.mn)*3//10
      |  AND d.doc_id % 2 = 0
      |ORDER BY doc_id""".stripMargin,
  ) { (s, d) =>
    val (cat, _) = replStoreFor(s, d)
    s.sql(s"SELECT doc_id, lang, n_chars FROM $cat.lake.docs " +
      "ORDER BY doc_id")
  }

  // ---- q159: join-driven dynamic file pruning (DSv2 runtime filtering) -----

  /** q159: a selective dim join against the z-table — Spark's dynamic
    * partition pruning over the DSv2 scan (`SupportsRuntimeV2Filtering`
    * → [[pruneFilesForValueSet]]): the dim side's distinct join keys
    * reach the scan at runtime and drop every fact file whose recorded
    * l_partkey range (and bloom, where present) provably holds none of
    * them — the 100 TB star-join shape where the static plan can't
    * prune (the filter is on the OTHER table). The new reported
    * statistics ([[fileRowCounts]]) are what let Catalyst broadcast the
    * dim. Oracle = the plain join; files-planned shrinkage and the
    * deleted-file no-open proof are pinned in ZBatchPlanSpec. */
  val q159ZTableRuntimePrune: Q = Q(
    "q159_zorder_runtime_prune",
    """SELECT p.p_partkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_partkey % 97 = 0
      |GROUP BY p.p_partkey ORDER BY p.p_partkey""".stripMargin,
  ) { (s, d) =>
    val dim = Tables.part(s, d).filter(col("p_partkey") % 97 === 0)
      .select(col("p_partkey"))
    val fact = s.read.format("graft-z").load(storeFor(s, d))
    fact.join(dim, fact("l_partkey") === dim("p_partkey"))
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("p_partkey"))
  }

  /** q160's store: documents built (e0 v0) + one append (e0 v1), then a
    * band UPDATE (e1) and a CDC MERGE (band of whole-row updates +
    * beyond-max inserts, e2) — three row-delta commits the change feed
    * must cross. Bands are DISJOINT (update 2-3/10, merge 5-6/10 of the
    * id range) so the oracle's pre/postimages are pure functions of the
    * base table. */
  private val dmlCdfStores =
    scala.collection.mutable.Map.empty[String, (String, String)]

  private def dmlCdfStoreFor(s: SparkSession, d: String): String =
    dmlCdfCatStoreFor(s, d)._2

  /** (catalog name, store dir) of the q160/q162/q164 store. */
  private def dmlCdfCatStoreFor(s: SparkSession,
      d: String): (String, String) =
    synchronized {
      dmlCdfStores.getOrElseUpdate(d, {
        // the store lives catalog-shaped so the LAST epoch can be a SQL
        // UPDATE through the group-based row-level op (r15: its change
        // set pairs keyed pre/postimages on the hidden row identity —
        // exactly what the extended oracle hash-checks)
        val root = Files.createTempDirectory("graft-zdmlcdf").toString
        val cat = s"graftq160c${math.abs(root.hashCode)}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ZCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE $cat.lake")
        val dir = s"$root/lake/docs"
        setChangeFeedEnabled(s, dir, on = true) // the Delta CDF opt-in
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        writeZOrdered(docs.filter(col("doc_id") % 10 =!= 9), dir,
          Seq("n_chars", "doc_id"), 8)
        appendZOrdered(docs.filter(col("doc_id") % 10 === 9), dir,
          Seq("n_chars", "doc_id"), 2)
        val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (dmn, dmx) = (b.getLong(0), b.getLong(1))
        updateZRange(s, dir,
          Seq(("doc_id", dmn + (dmx - dmn) * 2 / 10,
            dmn + (dmx - dmn) * 3 / 10)),
          Map("n_chars" -> "n_chars + 1000"), Seq("n_chars", "doc_id"))
        val (mlo, mhi) =
          (dmn + (dmx - dmn) * 5 / 10, dmn + (dmx - dmn) * 6 / 10)
        val upd = docs.filter(col("doc_id").between(mlo, mhi))
          .withColumn("n_chars", col("n_chars") + lit(7L))
        val ins = docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + lit(dmx + 1))
        mergeByKey(s, dir, upd.unionByName(ins), "doc_id",
          Seq("n_chars", "doc_id"), 4)
        // epoch 4: SQL UPDATE on a band disjoint from every prior one
        // (and below the merge's inserted ids) — keyed pre/postimages
        val (slo, shi) =
          (dmn + (dmx - dmn) * 7 / 10, dmn + (dmx - dmn) * 8 / 10)
        s.sql(s"""UPDATE $cat.lake.docs SET n_chars = n_chars - 3
          WHERE doc_id BETWEEN $slo AND $shi""")
        (cat, dir)
      })
    }

  /** q160: ROW-LEVEL CHANGE FEED ACROSS DML — the r13 verdict's top
    * item: [[readChangeFeed]] spans an append, a band UPDATE and a CDC
    * MERGE as Delta-style `_change_type` rows (insert /
    * update_preimage / update_postimage) instead of refusing
    * full-refresh at the first epoch rewrite. Oracle = the ALGEBRAIC
    * change set as pure SQL over the base table (the bands are disjoint
    * functions of the id range), so a missed delta, a phantom change, a
    * pre/postimage with the wrong values, or a change attributed to the
    * wrong commit coordinate all hash-fail. The refusal contract for
    * no-row-delta rewrites (optimize/recluster), the raced-append
    * exactly-once interplay, and the IVM consumption across a DML
    * commit are pinned in ZOrderSpec/StreamingSpec. */
  val q160ZOrderDmlCdf: Q = Q(
    "q160_zorder_dml_cdf",
    """WITH b AS (SELECT MIN(doc_id) AS dmn, MAX(doc_id) AS dmx
      |  FROM documents),
      |d AS (SELECT doc_id, lang, n_chars FROM documents)
      |SELECT * FROM (
      |  SELECT doc_id, lang, n_chars, 'insert' AS change_type,
      |    CAST(0 AS BIGINT) AS commit_epoch,
      |    CAST(1 AS BIGINT) AS commit_version
      |  FROM d WHERE doc_id % 10 = 9
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 1, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*2//10
      |                             AND b.dmn + (b.dmx-b.dmn)*3//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 1000, 'update_postimage', 1, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*2//10
      |                             AND b.dmn + (b.dmx-b.dmn)*3//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 2, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*5//10
      |                             AND b.dmn + (b.dmx-b.dmn)*6//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 7, 'update_postimage', 2, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*5//10
      |                             AND b.dmn + (b.dmx-b.dmn)*6//10
      |  UNION ALL
      |  SELECT doc_id + b.dmx + 1, lang, n_chars, 'insert', 2, 0
      |  FROM d, b WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 3, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*7//10
      |                             AND b.dmn + (b.dmx-b.dmn)*8//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars - 3, 'update_postimage', 3, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*7//10
      |                             AND b.dmn + (b.dmx-b.dmn)*8//10
      |)
      |ORDER BY commit_epoch, commit_version, change_type, doc_id""".stripMargin,
  ) { (s, d) =>
    readChangeFeed(s, dmlCdfStoreFor(s, d), 0, 0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col(ChangeTypeCol).as("change_type"),
        col(CommitEpochCol).as("commit_epoch"),
        col(CommitVersionCol).as("commit_version"))
      .orderBy(col("commit_epoch"), col("commit_version"),
        col("change_type"), col("doc_id"))
  }

  /** q161's catalog: lineitem and orders as z-tables BUCKETED the same
    * way — `PARTITIONED BY (bucket(16, orderkey))` — with lineitem
    * landed in two appends (multi-file buckets). One catalog per
    * dataset dir; names are path-keyed because Spark caches catalog
    * instances by name (the q154 discipline). */
  private val spjCats = scala.collection.mutable.Map.empty[String, String]

  private def spjCatalogFor(s: SparkSession, d: String): String =
    synchronized {
      spjCats.getOrElseUpdate(d, {
        val root = Files.createTempDirectory("graft-zspj").toString
        val cat = "graftq161c" + math.abs(d.hashCode).toString
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ZCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE $cat.lake")
        s.sql(s"""CREATE TABLE $cat.lake.li (k BIGINT, qty BIGINT)
          PARTITIONED BY (bucket(16, k))""")
        s.sql(s"""CREATE TABLE $cat.lake.ord (k BIGINT, ck BIGINT)
          PARTITIONED BY (bucket(16, k))""")
        val li = Tables.lineitem(s, d).select(
          col("l_orderkey").as("k"),
          col("l_quantity").cast("long").as("qty"))
        li.filter(col("k") % 4 =!= 0).writeTo(s"$cat.lake.li").append()
        li.filter(col("k") % 4 === 0).writeTo(s"$cat.lake.li").append()
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
            col("o_custkey").as("ck"))
          .writeTo(s"$cat.lake.ord").append()
        cat
      })
    }

  /** q161: STORAGE-PARTITIONED JOIN — the r13 verdict's item 2: two
    * z-tables bucketed on the same key (`bucket(16, orderkey)`; rows
    * route by pmod at write time, per-file bucket ids ride the
    * manifest) join fact-to-fact with ZERO exchange — the scan reports
    * `KeyGroupedPartitioning` from the recorded layout and Spark's
    * planner aligns the two sides bucket-by-bucket (Iceberg's SPJ).
    * At 100 TB this is the single biggest avoidable shuffle in a
    * star/fact-fact schema: co-clustered tables never move. The merge
    * hint forces the sort-merge path (a broadcast would also avoid the
    * shuffle, but for the wrong reason at demo scale); the
    * no-exchange plan and the planted-shuffle positive are pinned in
    * ZBatchPlanSpec. Oracle = the plain join, so a row misrouted to
    * the wrong bucket (the silent SPJ failure mode) hash-fails. */
  val q161ZTableSpjJoin: Q = Q(
    "q161_ztable_spj_join",
    """SELECT o.o_custkey AS ck, CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (s, d) =>
    val cat = spjCatalogFor(s, d)
    // idempotent under the entrypoints' standing default (session
    // builders set it); kept because the frame is LAZY — confs read at
    // action time, so a save/restore here would un-set it before the
    // join ever runs — and a foreign session should still get the
    // exchange-free plan
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.table(s"$cat.lake.li").hint("merge")
      .join(s.table(s"$cat.lake.ord"), "k")
      .groupBy(col("ck"))
      .agg(count(lit(1)).cast("long").as("n_items"),
        sum(col("qty")).cast("long").as("sum_qty"))
      .orderBy(col("ck"))
  }

  /** q162: STREAMING row-level CDF — q160's change feed consumed as a
    * STREAM (`.readStream.format("graft-zcdf").option("changeFeed",
    * "true")`, Delta's streaming readChangeFeed): offsets walk the same
    * feed-coordinate chain ([[feedSteps]]) one coordinate per trigger
    * (`maxVersionsPerTrigger=1` — a DML transition counts as one), so
    * the stream CROSSES the UPDATE and MERGE epochs instead of dying
    * with full-refresh, delivering `_change_type` rows whose union over
    * the bounded run equals the batch feed exactly. Oracle = q160's
    * algebraic change set (batch boundaries don't change content; the
    * wire's `_epoch`/`_ver` ARE the commit coordinates). Restart
    * resume, per-trigger batching and the no-record refusal are pinned
    * in StreamingSpec. */
  val q162ZcdfStreamDml: Q = Q(
    "q162_zcdf_stream_dml",
    """WITH b AS (SELECT MIN(doc_id) AS dmn, MAX(doc_id) AS dmx
      |  FROM documents),
      |d AS (SELECT doc_id, lang, n_chars FROM documents)
      |SELECT * FROM (
      |  SELECT doc_id, lang, n_chars, 'insert' AS change_type,
      |    CAST(0 AS BIGINT) AS commit_epoch,
      |    CAST(1 AS BIGINT) AS commit_version
      |  FROM d WHERE doc_id % 10 = 9
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'insert', 0, 0 FROM d
      |  WHERE doc_id % 10 != 9
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 1, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*2//10
      |                             AND b.dmn + (b.dmx-b.dmn)*3//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 1000, 'update_postimage', 1, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*2//10
      |                             AND b.dmn + (b.dmx-b.dmn)*3//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 2, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*5//10
      |                             AND b.dmn + (b.dmx-b.dmn)*6//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 7, 'update_postimage', 2, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*5//10
      |                             AND b.dmn + (b.dmx-b.dmn)*6//10
      |  UNION ALL
      |  SELECT doc_id + b.dmx + 1, lang, n_chars, 'insert', 2, 0
      |  FROM d, b WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 3, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*7//10
      |                             AND b.dmn + (b.dmx-b.dmn)*8//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars - 3, 'update_postimage', 3, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*7//10
      |                             AND b.dmn + (b.dmx-b.dmn)*8//10
      |)
      |ORDER BY commit_epoch, commit_version, change_type, doc_id""".stripMargin,
  ) { (s, d) =>
    val dir = dmlCdfStoreFor(s, d)
    val out = Files.createTempDirectory("graft-zcdfdml").toString
    val q = s.readStream.format("graft-zcdf")
      .option("changeFeed", "true")
      .option("startingVersion", "earliest")
      .option("maxVersionsPerTrigger", "1")
      .load(dir)
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.write.mode("overwrite").parquet(s"$out/batch=$id")
        ()
      }
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/batch=*")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col(ZcdfStream.ChangeCol).as("change_type"),
        col(ZcdfStream.EpochCol).as("commit_epoch"),
        col(ZcdfStream.VerCol).as("commit_version"))
      .orderBy(col("commit_epoch"), col("commit_version"),
        col("change_type"), col("doc_id"))
  }

  /** q164: the CHANGES METADATA TABLE through the catalog NAME (r15 —
    * the r14 verdict's item 4, Iceberg's metadata-table shape):
    * `spark.readStream.table("graftz.ns.t.changes")` tails the
    * row-level change feed across DML epochs with `_change_type` +
    * commit coordinates — the schema the BASE table's stream cannot
    * carry lives on its own analyzer-resolved table, so no format+path
    * incantation is needed. Same wire, offsets and checkpoint-resume as
    * q162 (the oracle is q162's, reused verbatim — batch membership
    * never changes content); the batch form (`SELECT * FROM
    * graftz.ns.t.changes`) and resume-across-new-DML are spec-pinned in
    * StreamingSpec/SqlSurfaceSpec. */
  val q164ZChangesTable: Q = Q(
    "q164_zchanges_table",
    // content-identical to q162's algebra: the same store, the same
    // feed, consumed through the table name instead of format+path
    // (q162 is declared ABOVE — the object-init-order rule)
    q162ZcdfStreamDml.oracle.get,
  ) { (s, d) =>
    val (cat, _) = dmlCdfCatStoreFor(s, d)
    val out = Files.createTempDirectory("graft-zchtbl").toString
    val q = s.readStream
      .option("startingVersion", "earliest")
      .option("maxVersionsPerTrigger", "2")
      .table(s"$cat.lake.docs.changes")
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.write.mode("overwrite").parquet(s"$out/batch=$id")
        ()
      }
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/batch=*")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col(ZcdfStream.ChangeCol).as("change_type"),
        col(ZcdfStream.EpochCol).as("commit_epoch"),
        col(ZcdfStream.VerCol).as("commit_version"))
      .orderBy(col("commit_epoch"), col("commit_version"),
        col("change_type"), col("doc_id"))
  }

  /** q163's store: documents z-clustered, then TWO disjoint-band DML
    * statements run CONCURRENTLY (real threads, a start latch) — an
    * UPDATE over the low 20% of the id space racing a DELETE over the
    * 60-80% band. Under the r15 optimistic-commit protocol BOTH land in
    * either order: the loser of the epoch race rebases its prepared
    * rewrite onto the winner's snapshot (disjoint consumed files), so
    * no interleaving changes the final state — which is what makes an
    * EXACT oracle possible for a concurrency test. A conflict (shared
    * file) would throw [[ConcurrentZRewriteException]] and fail the
    * query loudly; band geometry (16+ range files, bands 4 file-widths
    * apart) keeps the sets disjoint. */
  private val occStores = scala.collection.mutable.Map.empty[String, String]

  private def occStoreFor(s: SparkSession, d: String): String =
    synchronized {
      occStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zocc-dml").toString
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        writeZOrdered(docs, dir, Seq("doc_id"), 16)
        val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val gate = new java.util.concurrent.CountDownLatch(1)
        val fUpd = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = { gate.await()
            updateZRange(s, dir,
              Seq(("doc_id", mn, mn + (mx - mn) * 2 / 10)),
              Map("n_chars" -> "n_chars + 100000"), Seq("doc_id")) }
        })
        val fDel = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = { gate.await()
            deleteZRange(s, dir,
              Seq(("doc_id", mn + (mx - mn) * 6 / 10,
                mn + (mx - mn) * 8 / 10)), Seq("doc_id")) }
        })
        gate.countDown()
        val (nUpd, nDel) = (fUpd.get(), fDel.get())
        pool.shutdown()
        require(nUpd > 0 && nDel > 0,
          s"q163 store build: both racing statements must land " +
            s"(updated=$nUpd deleted=$nDel)")
        dir
      })
    }

  /** q163: CONCURRENT DISJOINT DML — the r14 verdict's top item made
    * oracle-checkable: an UPDATE and a DELETE on disjoint bands race
    * from two threads with NO store-wide lock (data work fully
    * concurrent; only the epoch-commit turnstile serializes, and the
    * second committer REBASES onto the first's epoch). The final table
    * is interleaving-independent, so the oracle is the plain algebraic
    * composition — a lost update, resurrected row, double-applied
    * delete, or clobbered epoch hash-fails. */
  val q163ZOrderOccDml: Q = Q(
    "q163_zorder_occ_dml",
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |  FROM documents)
      |SELECT d.doc_id, d.lang,
      |  CASE WHEN d.doc_id <= b.mn + (b.mx-b.mn)*2//10
      |       THEN d.n_chars + 100000 ELSE d.n_chars END AS n_chars
      |FROM documents d, b
      |WHERE NOT (d.doc_id BETWEEN b.mn + (b.mx-b.mn)*6//10
      |                        AND b.mn + (b.mx-b.mn)*8//10)
      |ORDER BY d.doc_id""".stripMargin,
  ) { (s, d) =>
    val dir = occStoreFor(s, d)
    readSnapshot(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q165's store: documents z-clustered on doc_id, then the FULL
    * column-mapping lifecycle — RENAME the clustering key (doc_id→id)
    * and a data column (n_chars→chars), DROP source, UPDATE and APPEND
    * through the new names. Every data file written before the renames
    * is untouched (metadata-only commits); the final read filters on
    * the NEW name and prunes via the ORIGINAL physical stats. */
  private val colmapStores = scala.collection.mutable.Map.empty[String, String]

  private def colmapStoreFor(s: SparkSession, d: String): String =
    synchronized {
      colmapStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zcolmap-q").toString
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        writeZOrdered(docs, dir, Seq("doc_id"), 8)
        val before = listDataFiles(s, dir)
        renameColumn(s, dir, "n_chars", "chars")
        renameColumn(s, dir, "doc_id", "id")
        dropColumn(s, dir, "source")
        require(listDataFiles(s, dir) == before,
          "q165 store build: a rename/drop touched a data file — the " +
            "metadata-only contract broke")
        val mn = docs.agg(min(col("doc_id"))).head().getLong(0)
        val nUpd = updateZRange(s, dir, Seq(("id", mn, mn + 49L)),
          Map("chars" -> "chars + 1000"), Seq("id"))
        require(nUpd > 0, s"q165 store build: update landed $nUpd rows")
        appendZOrdered(Tables.documents(s, d)
          .filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("id"), col("lang"),
            col("n_chars").as("chars")),
          dir, Seq("id"), 1)
        dir
      })
    }

  /** q165: COLUMN MAPPING — `ALTER TABLE RENAME/DROP COLUMN` as
    * metadata-only commits (Delta's column mapping): stable physical
    * names stay on every file, stat row and bloom sidecar; the logical
    * surface (schemas, predicates, SET expressions, appends) speaks the
    * new names. The exact oracle reproduces the lifecycle algebraically
    * over the raw table — a broken translation plane (stale name, lost
    * column, mis-pruned file, resurrected dropped column) hash-fails. */
  val q165ZOrderColumnMap: Q = Q(
    "q165_zorder_column_map",
    """WITH b AS (SELECT MIN(doc_id) AS mn FROM documents),
      |base AS (
      |  SELECT d.doc_id AS id, d.lang,
      |    CASE WHEN d.doc_id <= b.mn + 49 THEN d.n_chars + 1000
      |         ELSE d.n_chars END AS chars
      |  FROM documents d, b),
      |appended AS (
      |  SELECT doc_id + 1000000 AS id, lang, n_chars AS chars
      |  FROM documents WHERE doc_id % 10 = 0)
      |SELECT id, lang, chars FROM base
      |UNION ALL SELECT id, lang, chars FROM appended
      |ORDER BY id""".stripMargin,
  ) { (s, d) =>
    val dir = colmapStoreFor(s, d)
    readZRange(s, dir, Seq(("id", 0L, 2000000L)))
      .select(col("id"), col("lang"), col("chars"))
      .orderBy(col("id"))
  }

  /** q166's store: documents with an INT and a FLOAT column, then TYPE
    * WIDENING both ways it can arrive — an explicit `widenColumn`
    * (ALTER COLUMN TYPE) on the int column, and an APPEND whose batch
    * already carries the wider types (the union promotes). The appended
    * values exceed Int range, so a fake widening (decode truncation)
    * cannot pass the hash check; old INT32/FLOAT files widen at decode. */
  private val widenStores = scala.collection.mutable.Map.empty[String, String]

  private def widenStoreFor(s: SparkSession, d: String): String =
    synchronized {
      widenStores.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft-zwiden-q").toString
        val docs = Tables.documents(s, d)
        writeZOrdered(docs.select(col("doc_id"),
          col("n_chars").cast("int").as("nc"),
          col("n_chars").cast("float").as("fsc")), dir, Seq("doc_id"), 4)
        widenColumn(s, dir, "nc", org.apache.spark.sql.types.LongType)
        appendZOrdered(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            (col("n_chars") + 3000000000L).as("nc"),
            (col("n_chars") * 1.5).as("fsc")), dir, Seq("doc_id"), 1)
        dir
      })
    }

  /** q166: TYPE WIDENING — INT→BIGINT / FLOAT→DOUBLE as metadata-only
    * evolution (Delta 3.x / Iceberg parity): the recorded schema
    * promotes; files written before the promotion keep INT32/FLOAT
    * physical pages and widen at decode. Beyond-Int-range appended
    * values and exact float→double promotion make the oracle
    * truncation-sensitive. */
  val q166ZOrderTypeWidening: Q = Q(
    "q166_zorder_type_widening",
    """WITH base AS (
      |  SELECT doc_id AS id,
      |    CAST(CAST(n_chars AS INTEGER) AS BIGINT) AS nc,
      |    CAST(CAST(n_chars AS FLOAT) AS DOUBLE) AS fsc
      |  FROM documents),
      |appended AS (
      |  SELECT doc_id + 1000000 AS id, n_chars + 3000000000 AS nc,
      |    n_chars * 1.5 AS fsc
      |  FROM documents WHERE doc_id % 10 = 0)
      |SELECT id, nc, fsc FROM base
      |UNION ALL SELECT id, nc, fsc FROM appended
      |ORDER BY id""".stripMargin,
  ) { (s, d) =>
    val dir = widenStoreFor(s, d)
    readSnapshot(s, dir)
      .select(col("doc_id").as("id"), col("nc"), col("fsc"))
      .orderBy(col("id"))
  }

  val all: Seq[Q] = Seq(q123ZOrderRead, q132ZOrderStreamIngest,
    q133ZOrderDelete, q134ZOrderTimeTravel, q136ZOrderChangeFeed,
    q137ZOrderIvm, q138ZOrderMerge, q139ZOrderCount, q140ZcdfStream,
    q141ZOrderCdcMerge, q142ZOrderPoint, q143ZcdfIvm, q144ZOrderMinMax,
    q145ZOrderHistory, q146ZOrderRestore, q147ZOrderUpdate,
    q148ZBatchTable, q149ZOrderConstraints, q150ZBatchWrite,
    q151ZBatchCreate, q152ZStreamSink, q153ZBatchAgg, q154ZOrderSqlDml,
    q155ZTableStream, q156ZTableStreamWrite, q157ZTableChanges,
    q158ZTableReplaceWhere, q159ZTableRuntimePrune, q160ZOrderDmlCdf,
    q161ZTableSpjJoin, q162ZcdfStreamDml, q163ZOrderOccDml,
    q164ZChangesTable, q165ZOrderColumnMap, q166ZOrderTypeWidening)
}
