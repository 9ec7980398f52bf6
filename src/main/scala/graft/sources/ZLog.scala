package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import ZOrder.{ColMap, ConcurrentZRewriteException, IdentityColMap, prf}

/** The z-store's COMMIT LOG: the only z-store code that creates, renames,
  * deletes or mkdirs under a store root (`ZLogSpec` fails on any such
  * call in another `Z*.scala` file outside its short allow-list). Every
  * public operation stays on [[ZOrder]] and calls in here for each
  * mutating step, so a crash point of any z-store protocol is a line of
  * this file.
  *
  * ON-DISK LAYOUT — the manifest is the COMMIT LOG, epochs make rebuilds
  * a versioned swap:
  * {{{
  *   root/
  *     d-<uuid>/part-*.parquet     one immutable data dir per write batch
  *     _zmanifest/e<E>/v<N>/       per-version stats parquet; committed
  *                                 when its _SUCCESS exists
  *     _zmanifest/e<E>/v<N>.claim  version-number reservation (CAS)
  *     _zmanifest/e<E>/v<N>.op     the version's operation (history)
  *     _zmanifest/e<E>/v<N>.rolled rebase ticket of a superseded version
  *     _zmanifest/e<E>/_rebase     "baseEpoch:baseMaxVer" a rewrite consumed
  *     _zschema/                   clustering, bucketing, changefeed, ridhw
  *     _zconstraints/<name>        one CHECK constraint per file
  *     _zbloom/<col>/              bloom policy (_fpp), per-file sidecars
  *     _zchanges/e<E>/             row-level change record of epoch E
  *     _ztmp/                      change records staged before commit
  *     _zcommit/_LEASE             the epoch-commit turnstile ([[Lease]])
  * }}}
  * Readers resolve the HIGHEST epoch with a committed `v0`, then union
  * that epoch's committed versions; they trust ONLY manifest-listed files.
  * Version numbers are allocated by exclusive-created `v<N>.claim` files
  * (the CAS behind lock-free concurrent appends — see
  * [[ZOrder.appendZOrdered]]); `v<N>.rolled` tickets arbitrate the rebase
  * of appends that raced an epoch rewrite ([[rollForwardLateAppends]]).
  * So:
  *  - an append becomes visible atomically when its `v<N>` commits; a
  *    crash before that leaves an invisible data dir (never a partial
  *    batch), and the RETRY lands the rows exactly once —
  *    availability-biased "read unknown files too" would double them;
  *  - a rebuild/re-cluster ([[ZOrder.reclusterZOrdered]],
  *    [[ZOrder.writeZOrdered]] over an existing store) writes fresh data
  *    dirs and commits a NEW epoch: a concurrent reader resolves the old
  *    epoch or the new one, never a mix — the torn-rebuild
  *    silent-partial-result window of the old in-place
  *    delete-then-rewrite is structurally gone;
  *  - a manifest-listed file that is MISSING fails the read loudly
  *    (Spark's path-existence check on the explicit file list) instead of
  *    silently dropping rows — listed ⇒ present is an invariant of the
  *    append/vacuum flow ([[vacuum]] deletes only UNlisted dirs and
  *    superseded epochs, inside the commit turnstile).
  *  - the read path never lists the data directories — O(epoch versions)
  *    manifest metadata + the surviving files themselves (ZOrderSpec pins
  *    this with a listing-recording FileSystem), the listing cost the
  *    commit log exists to avoid on object stores.
  *
  * MUTATING STEPS, in order, per protocol. "version write" below is
  * [[writeManifestVersion]]: create `v<N>.op`, then the Spark write of
  * `v<N>/` whose `_SUCCESS` is the commit point. "turnstile" is
  * [[withCommitLock]]: create `_zcommit/_LEASE` on entry, delete it on
  * exit.
  *
  * Append ([[ZOrder.appendZOrdered]], lock-free once the store exists):
  *  1. rid allocation (below) for the batch's row ids;
  *  2. the Spark write of `d-<uuid>/` (and, per recorded bloom column,
  *     its `_zbloom/<col>/d-<uuid>/…bloom` sidecars, one create each);
  *  3. exclusive-create `v<N>.claim` ([[claimNextVersion]]);
  *  4. version write of `v<N>` — the commit point;
  *  5. only if an epoch swap superseded it: exclusive-create the
  *     `v<N>.rolled` ticket as "appender", then steps 3–4 again in the
  *     new epoch, tagged with [[rebaseTag]].
  *  An empty store bootstraps through the new-epoch protocol instead,
  *  under the store lease.
  *
  * New epoch ([[ZOrder.writeZOrdered]], bootstrap append):
  *  1. create `_zschema/clustering` ([[recordZcols]]);
  *  2. steps 1–2 of the append;
  *  3. turnstile; version write of `e<next>/v0` — the commit point
  *     ([[commitNewEpoch]]).
  *
  * Rewrite epoch ([[commitRewriteEpoch]]: delete, update, merge,
  * replace, recluster, optimize, rename/drop column):
  *  1. steps 1–2 of the append, for the rewritten rows (unlocked);
  *  2. if the change feed is on: the Spark write of `_ztmp/chg-<id>/`
  *     ([[stageChangeRecord]], unlocked);
  *  3. turnstile;
  *  4. create `e<next>/_rebase` ([[writeRebaseMarker]]);
  *  5. mkdirs `_zchanges`, delete a leftover `_zchanges/e<next>`, rename
  *     the staged record onto it ([[commitStagedChangeRecord]]);
  *  6. version write of `e<next>/v0` — the commit point;
  *  7. per late append of the consumed epoch: exclusive-create its
  *     `.rolled` ticket as "rewrite", claim and version-write it into
  *     `e<next>` ([[rollForwardLateAppends]]);
  *  8. leave the turnstile; a lost race deletes the staged record.
  *
  * Rid allocation ([[allocateRids]]):
  *  1. turnstile;
  *  2. mkdirs `_zschema`;
  *  3. create `_zschema/ridhw.new.<id>` with the new mark;
  *  4. delete `_zschema/ridhw`, rename `ridhw.new.<id>` onto it
  *     ([[installByRename]]);
  *  5. delete older `ridhw.new.*` leftovers; leave the turnstile.
  *
  * Manifest compaction ([[compactManifest]]) and restore
  * ([[ZOrder.restoreTo]]), both through [[commitCarriedEpoch]]:
  *  1. turnstile; the recovery sweep (below); a restore then checks its
  *     files and constraints (reads only);
  *  2. create `e<next>/_rebase`;
  *  3. version write of `e<next>/v0` — the commit point;
  *  4. rollforward of late appends as in rewrite step 7; leave.
  *
  * Recovery sweep ([[recoverLostRollforwards]], first in every rewrite,
  * compaction, restore and vacuum): per lost late append,
  * exclusive-create its `.rolled` ticket as "recovery" (or take over a
  * dead lease holder's), claim a version and version-write it.
  *
  * Vacuum ([[vacuum]]):
  *  1. turnstile; the recovery sweep;
  *  2. delete, each once aged past `minAgeMs`: unlisted `d-*` dirs,
  *     superseded `_zmanifest/e*` dirs, uncommitted version dirs, settled
  *     or aged `.claim` files, orphan `.op` files, other epochs'
  *     `_zchanges/e*`, everything in `_ztmp`, and the `_zbloom/<col>`
  *     sidecar dirs of unlisted data dirs; leave the turnstile.
  *
  * Metadata-only versions ([[ZOrder.evolveAddColumns]],
  * [[ZOrder.widenColumn]]) claim and version-write under the store
  * lease. Store policy ([[recordBucketing]], [[recordZcols]],
  * [[recordChangeFeed]], [[recordBloomFpp]]) is one [[writeSmallFile]]
  * each; [[publishConstraint]] writes a dot-temp and renames it into
  * place; [[retireBloomColumn]], [[dropConstraint]] and [[dropStore]]
  * are one delete each.
  */
object ZLog {

  // ---- manifest rows -----------------------------------------------------

  /** Manifest row key of the per-version recorded-schema row (`mn` holds
    * the DDL); every other row is a per-(file, column) stat. */
  private[sources] val DdlKey = "__ddl__"

  /** Manifest row key of the per-version COLUMN-MAPPING row (`mn` holds
    * the encoded mapping) — Delta's column mapping / Iceberg's field
    * ids in the store's grammar. The latest committed row governs a
    * snapshot; epoch rewrites carry it; TIME TRAVEL therefore reads a
    * past snapshot under the names of that time. */
  private[sources] val ColmapKey = "__colmap__"

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

  // ---- snapshot resolution -----------------------------------------------

  private[sources] def manifestRoot(path: String) = new Path(path, "_zmanifest")

  private[sources] def parseIdx(name: String, pfx: String): Option[Long] =
    if (name.startsWith(pfx)) name.drop(pfx.length).toLongOption else None

  private[sources] def isCommitted(fs: org.apache.hadoop.fs.FileSystem,
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
  private[sources] def manifestAndSchema(s: SparkSession,
      snap: ZSnapshot): (DataFrame, StructType) = {
    val (man, schema, _) = manifestSchemaMap(s, snap)
    (man, schema)
  }

  /** The snapshot's manifest rows as a LAZY frame — no job until an
    * actual stat/file scan forces it. */
  private[sources] def manifestDf(s: SparkSession, snap: ZSnapshot): DataFrame =
    s.read.parquet(snap.vdirs.map(_.toString): _*)

  /** Collected manifest META of one snapshot: recorded PHYSICAL schema
    * (latest committed DDL, deep-nullable), column mapping, and the full
    * batch-TAG set — memoized per snapshot identity like the scan-plan
    * cache. One snapshot used to pay this collect 2-4× per append/DML
    * (boundary translation, schema union, replay check, landed check,
    * carried tags), each a full Spark job on the hot commit path; the
    * answer only changes with a commit, which changes the key (r17
    * optimization — guide §1.2 "remove passes", §5 driver work). */
  private[sources] val manifestMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (StructType, ColMap, Set[String])]()

  private def snapCacheKey(s: SparkSession, snap: ZSnapshot): String =
    s"${snap.epochDir}|i${snapIdentity(s, snap)}|" +
      snap.vdirs.map(_.getName).sorted.mkString(",")

  private[sources] def manifestMeta(s: SparkSession, snap: ZSnapshot)
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
  private[sources] def manifestTagsOf(s: SparkSession,
      snap: ZSnapshot): Set[String] =
    manifestMeta(s, snap)._3

  /** The snapshot's manifest rows, recorded PHYSICAL schema, and column
    * mapping — the schema/mapping from the cached meta collect; the
    * manifest frame stays lazy. */
  private[sources] def manifestSchemaMap(s: SparkSession,
      snap: ZSnapshot): (DataFrame, StructType, ColMap) = {
    val (schema, cm, _) = manifestMeta(s, snap)
    (manifestDf(s, snap), schema, cm)
  }

  private[sources] def requireSnapshot(s: SparkSession,
      path: String): ZSnapshot =
    currentSnapshot(s, path).getOrElse(throw new IllegalArgumentException(
      s"no committed z-store under $path"))

  /** Is there a committed z-store at `path`? O(epochs) manifest-dir
    * metadata — what the table surface's create-on-write branch checks. */
  private[sources] def storeExists(s: SparkSession, path: String): Boolean =
    currentSnapshot(s, path).nonEmpty

  /** The store's BIRTH identity for cache keying: the current epoch's v0
    * `_SUCCESS` mtime. Two stores that ever lived at the same path can
    * share (epoch, version) NAMES but never this instant. O(1) metadata. */
  private[sources] def snapIdentity(s: SparkSession, snap: ZSnapshot): Long =
    StoreMaint.fsFor(s, snap.epochDir)
      .getFileStatus(new Path(new Path(snap.epochDir, "v0"), "_SUCCESS"))
      .getModificationTime

  /** Resolve a PAST committed snapshot — epoch e at version v = the state
    * the store exposed after that commit. Refuses loudly on a
    * never-committed or vacuumed coordinate (a silently-empty past would
    * be the worst possible answer to an audit query). */
  private[sources] def snapshotAt(s: SparkSession, path: String, epoch: Long,
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
  // ---- store policy records ----------------------------------------------

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
    writeSmallFile(StoreMaint.fsFor(s, p), p, s"$bcol:$n".getBytes("UTF-8"))
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

  private[sources] def recordZcols(s: SparkSession, path: String,
      zcols: Seq[String]): Unit = {
    val p = zcolsFile(path)
    writeSmallFile(StoreMaint.fsFor(s, p), p,
      zcols.mkString(",").getBytes("UTF-8"))
  }
  // ---- row ids -----------------------------------------------------------

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
  private[sources] def allocateRids(s: SparkSession, path: String,
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
      installByRename(fs, tmp, p, path, "new row-id high-water mark")
      // sweep older crash leftovers now that the mark is re-installed
      candidates.filter(_.getName.startsWith("ridhw.new."))
        .foreach(f => if (fs.exists(f)) fs.delete(f, false))
      cur
    }
  // ---- version claims, rebase tickets, rollforward recovery --------------

  /** Reserve an epoch's next manifest-version number by EXCLUSIVE-CREATING
    * its claim file — the optimistic-concurrency CAS behind lock-free
    * appends. `FileSystem.create(overwrite = false)` is atomic on HDFS
    * and local filesystems; an object-store deployment backs this one
    * primitive with a conditional PUT (the same slot Delta's S3 LogStore
    * fills). A lost race re-lists and claims the next number; claims and
    * version dirs both reserve their numbers, so a crashed claimant's
    * number is simply skipped (never reused), like crashed version dirs
    * always were. */
  private[sources] def claimNextVersion(fs: org.apache.hadoop.fs.FileSystem,
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
  private[sources] def writeRebaseMarker(fs: org.apache.hadoop.fs.FileSystem,
      edir: Path, baseEpoch: Long, baseMaxVer: Long): Unit = {
    val out = fs.create(new Path(edir, "_rebase"), true)
    out.write(s"$baseEpoch:$baseMaxVer".getBytes("UTF-8"))
    out.close()
  }

  private[sources] def readRebaseMarker(fs: org.apache.hadoop.fs.FileSystem,
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

  private[sources] def maxVerOf(snap: ZSnapshot): Long =
    snap.vdirs.flatMap(p => parseIdx(p.getName, "v")).maxOption.getOrElse(-1L)

  /** Did ANY later epoch's rewrite consume version `v` of epoch `e`?
    * (The chain case: the epoch that included us may itself be
    * superseded — its dir, and marker, persist until vacuum, and the
    * vacuum window must exceed an append's duration anyway.) */
  private[sources] def wasIncludedInRewrite(s: SparkSession, path: String,
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
  private[sources] def claimRebaseTicket(fs: org.apache.hadoop.fs.FileSystem,
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
  private[sources] def rebaseTag(e: Long, v: Long): String = s"__rebase:e$e:v$v"

  private val RebaseTagRe = """__rebase:e(\d+):v(\d+)""".r
  private[sources] def parseRebaseTag(t: String): Option[(Long, Long)] =
    t match {
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
  private[sources] def rollForwardLateAppends(s: SparkSession, path: String,
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
  private[sources] def nextEpoch(s: SparkSession, path: String): Long = {
    val mroot = manifestRoot(path)
    val fs = StoreMaint.fsFor(s, mroot)
    (if (!fs.exists(mroot)) Seq.empty[Long]
     else fs.listStatus(mroot).filter(_.isDirectory).toSeq
       .flatMap(st => parseIdx(st.getPath.getName, "e")))
      .maxOption.getOrElse(-1L) + 1
  }
  // ---- epoch commits -----------------------------------------------------

  /** Commit `ddl` + `stats` as v0 of the NEXT epoch — the flip that
    * makes a rebuild (or a bootstrap) visible. The caller wrote the data
    * first; the epoch number allocates INSIDE the commit turnstile (r15):
    * with rewrites optimistic, two committers may otherwise race the
    * same e<N>. */
  private[sources] def commitNewEpoch(s: SparkSession, path: String,
      ddl: String,
      stats: Seq[(String, String, Option[String], Option[String], Boolean)],
      tags: Seq[String], op: String, colmap: ColMap): Unit =
    StoreMaint.withNoAqe(s)(withCommitLock(s, path, s"commit-$op") { lease =>
      val edir = new Path(manifestRoot(path), s"e${nextEpoch(s, path)}")
      if (!lease.stillHeld()) throw new IllegalStateException(
        s"$op on $path: the epoch-commit lock expired before the " +
          "manifest flip — aborting; retry the statement")
      writeManifestVersion(s, edir, 0L, ddl, stats, tags, op = op,
        colmap = colmap)
    })

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
  private[sources] def withCommitLock[T](s: SparkSession, path: String,
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
  private[sources] def recoverUnderCommitLock(s: SparkSession,
      path: String): Unit =
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
  private[sources] def commitRewriteEpoch(s: SparkSession, path: String,
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
            colmap = colmapOut)
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
  private[sources] def writeManifestVersion(s: SparkSession, edir: Path,
      ver: Long,
      ddl: String,
      stats: Seq[(String, String, Option[String], Option[String], Boolean)],
      tags: Seq[String] = Seq.empty, carried: Option[DataFrame] = None,
      op: String = "unknown", colmap: ColMap = IdentityColMap): Unit = {
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
      Option.when(!colmap.isIdentity)(encodeColMap(colmap)).map(m =>
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
  private[sources] def carriedStatsDf(s: SparkSession, man: DataFrame,
      drop: Seq[String]): DataFrame = {
    import s.implicits._
    val base = man.filter(!col("c").isin(DdlKey, ColmapKey))
      .select(col("f"), col("c"), col("mn"), col("mx"), col("allnull"))
    if (drop.isEmpty) base
    else base.join(drop.toDF("f"), Seq("f"), "left_anti")
  }

  /** The body of [[ZOrder.compactManifest]]: a new epoch whose v0 carries
    * the current epoch's rows, files and tags by reference. */
  private[sources] def compactManifest(s: SparkSession,
      path: String): Unit =
    // metadata-only epoch swap: short enough to run WHOLLY inside the
    // commit turnstile (no data work to overlap), which linearizes it
    // against every optimistic commit
    withCommitLock(s, path, "manifest-compact") { lease =>
      recoverLostRollforwards(s, path, lease)
      val snap = requireSnapshot(s, path)
      commitCarriedEpoch(s, path, snap, snap, "manifest-compact", lease)
    }

  /** The in-turnstile commit of a metadata-only epoch swap (manifest
    * compaction, restore): v0 of the next epoch re-points `from`'s files,
    * schema and column mapping by reference, over the consumed `base`
    * (the current snapshot), whose tags carry; `base`'s late appends
    * roll forward. */
  private[sources] def commitCarriedEpoch(s: SparkSession, path: String,
      base: ZSnapshot, from: ZSnapshot, op: String,
      lease: Lease.Handle): Unit = {
    val (man, schema, cm) = manifestSchemaMap(s, from)
    val edir = new Path(manifestRoot(path), s"e${nextEpoch(s, path)}")
    writeRebaseMarker(StoreMaint.fsFor(s, edir), edir, base.epoch,
      maxVerOf(base))
    if (!lease.stillHeld()) throw new IllegalStateException(
      s"$op on $path: commit lock expired before the flip — aborting; " +
        "retry")
    writeManifestVersion(s, edir, 0L, schema.toDDL, Seq.empty,
      manifestTagsOf(s, base).toSeq.sorted,
      carried = Some(carriedStatsDf(s, man, Seq.empty)), op = op,
      colmap = cm)
    rollForwardLateAppends(s, path, base, lease)
  }

  // ---- bloom sidecars ----------------------------------------------------

  private[sources] def bloomSidecar(path: String, colLower: String,
      rel: String) = new Path(path, s"_zbloom/$colLower/$rel.bloom")

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
  private[sources] def writeBloomSidecars(s: SparkSession, path: String,
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

  /** Record a bloom column's fpp as COLUMN POLICY (`_zbloom/<col>/_fpp`):
    * every later batch re-covers its own fresh files at this fpp. */
  private[sources] def recordBloomFpp(s: SparkSession, path: String,
      colName: String, fpp: Double): Unit = {
    val p = new Path(path, s"_zbloom/${colName.toLowerCase}/_fpp")
    writeSmallFile(StoreMaint.fsFor(s, p), p, fpp.toString.getBytes("UTF-8"))
  }

  /** Retire a dropped column's bloom policy and sidecars: the write
    * path's self-heal would otherwise try to re-cover a column new
    * batches no longer carry. */
  private[sources] def retireBloomColumn(s: SparkSession, path: String,
      phys: String): Unit = {
    val bdir = new Path(path, s"_zbloom/${phys.toLowerCase}")
    val fs = StoreMaint.fsFor(s, bdir)
    if (fs.exists(bdir)) { fs.delete(bdir, true); () }
  }

  // ---- change feed -------------------------------------------------------

  private[sources] def changesDir(path: String, epoch: Long): Path =
    new Path(new Path(path, "_zchanges"), s"e$epoch")

  private def changeFeedFile(path: String): Path =
    new Path(path, "_zschema/changefeed")

  /** The change-feed opt-in flag ([[ZOrder.setChangeFeedEnabled]]). */
  private[sources] def recordChangeFeed(s: SparkSession, path: String,
      on: Boolean): Unit = {
    val p = changeFeedFile(path)
    writeSmallFile(StoreMaint.fsFor(s, p), p, on.toString.getBytes("UTF-8"))
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
    // a crashed twin's leftover at dst is replaced
    installByRename(fs, staged, dst, path, "staged change record")
  }
  // ---- CHECK constraints -------------------------------------------------

  /** Publish a validated CHECK constraint as `_zconstraints/<name>`:
    * written to a dot-temp, then renamed into place. A rename onto an
    * existing constraint fails on some filesystems, so that case deletes
    * the old file and renames again (rename first, unlike
    * [[installByRename]]: the common case never deletes). */
  private[sources] def publishConstraint(s: SparkSession, path: String,
      name: String, sqlExpr: String): Unit = {
    val cdir = new Path(path, "_zconstraints")
    val fs = StoreMaint.fsFor(s, cdir)
    val tmp = new Path(cdir, s".$name.tmp")
    writeSmallFile(fs, tmp, sqlExpr.getBytes("UTF-8"))
    require(fs.rename(tmp, new Path(cdir, name)) ||
      { fs.delete(new Path(cdir, name), false)
        fs.rename(tmp, new Path(cdir, name)) },
      s"could not publish constraint $name")
  }

  /** Remove a CHECK constraint's file; false when it did not exist. */
  private[sources] def dropConstraint(s: SparkSession, path: String,
      name: String): Boolean = {
    val fs = StoreMaint.fsFor(s, new Path(path, "_zconstraints"))
    fs.delete(new Path(new Path(path, "_zconstraints"), name), false)
  }

  // ---- vacuum and drop ---------------------------------------------------

  /** The sweep behind [[ZOrder.vacuumOrphans]] (its doc states the
    * retention contract); returns the removed root-relative names. */
  private[sources] def vacuum(s: SparkSession, path: String,
      minAgeMs: Long): Seq[String] =
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

  /** DROP TABLE: remove the whole store tree. */
  private[sources] def dropStore(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    StoreMaint.fsFor(s, p).delete(p, true)
  }

  // ---- the two file primitives -------------------------------------------

  /** Create (or replace) a small metadata file: mkdirs → create → write
    * → close. A reader of a torn file sees a prefix or nothing. */
  private def writeSmallFile(fs: FileSystem, p: Path,
      bytes: Array[Byte]): Unit = {
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Install a fully written `src` at `dst` by rename, first deleting a
    * leftover at `dst` (a crashed twin's, or the value being replaced). */
  private def installByRename(fs: FileSystem, src: Path, dst: Path,
      path: String, what: String): Unit = {
    if (fs.exists(dst)) fs.delete(dst, true)
    require(fs.rename(src, dst),
      s"$path: could not install the $what ($src -> $dst)")
  }
}
