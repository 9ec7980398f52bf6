package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import ZLog._

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
  * The store's commit log — on-disk layout, commit protocols and every
  * mutating filesystem step — is [[ZLog]]; this object holds the public
  * operations, the data writes and the read paths.
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

  // ---- manifest row keys (the DDL and column-mapping keys are ZLog's) ----

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

  /** The per-(file, column) PRUNING stats — excludes the DDL rows and the
    * `__`-prefixed per-file metadata rows (size/count/nulls). */
  private def statRows(man: DataFrame): DataFrame =
    man.filter(!col("c").startsWith("__"))

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
      writeNewEpoch(toPhysicalDf(df, cm, path), path,
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
                  writeNewEpoch(dfP, path, zcolsP, numFiles, statColsP,
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

  /** Write `df` as a NEW epoch: the declared keys become store policy,
    * the data lands first, then [[ZLog.commitNewEpoch]] commits the
    * epoch's v0 manifest — the point that flips readers to it. */
  private def writeNewEpoch(df: DataFrame, path: String,
      zcols: Seq[String], numFiles: Int, statCols: Seq[String],
      tags: Seq[String] = Seq.empty, op: String = "create",
      colmap: ColMap = IdentityColMap): Unit = {
    val s = df.sparkSession
    recordZcols(s, path, zcols)
    val stats = zWrite(df, path, zcols, numFiles) match {
      case Some(dname) => harvestStats(s, path, dname,
        if (statCols.nonEmpty) statCols else zcols, df.schema)
      case None => Seq.empty // empty table: schema-only manifest
    }
    commitNewEpoch(s, path, df.schema.toDDL, stats, tags, op, colmap)
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
      recordBloomFpp(s, path, f.name, fpp)
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
      on: Boolean): Unit = recordChangeFeed(s, path, on)

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

  /** Collapse the current epoch's accumulated manifest versions into ONE
    * (a new epoch whose v0 carries the same stats rows, re-pointing the
    * SAME data files) — the Delta-checkpoint move: reader metadata stays
    * O(1) versions after any number of appends WITHOUT paying
    * [[reclusterZOrdered]]'s data rewrite. Commit and concurrency are the
    * epoch swap's: old-or-new, never partial; the superseded epoch's
    * manifest (only — the data is still referenced) falls to
    * [[vacuumOrphans]]. */
  def compactManifest(s: SparkSession, path: String): Unit =
    ZLog.compactManifest(s, path)

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
    retireBloomColumn(s, path, phys)
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
      publishConstraint(s, path, name, sqlExpr)
    }
  }

  /** DROP CONSTRAINT — writes after the drop admit what it forbade. */
  def dropCheckConstraint(s: SparkSession, path: String,
      name: String): Boolean = {
    require(name.matches("[A-Za-z0-9_-]+"), // the add-side contract; also
      // keeps a hostile name ('../…') from deleting outside the store
      s"constraint name $name must be [A-Za-z0-9_-]+")
    Lease.withLease(s, path, "zorder-drop-constraint") {
      dropConstraint(s, path, name)
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
      val (manP, _) = manifestAndSchema(s, past)
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
      commitCarriedEpoch(s, path, cur, past, "restore", lease)
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
    ZLog.vacuum(s, path, minAgeMs)

  /** Drop the read caches (scan plans, row counts, bucket maps, prunable
    * columns, manifest meta) — cold-run probes; the query stores are
    * [[ZQueries.clearCaches]]'s. */
  def clearCaches(): Unit = {
    scanPlanCache.synchronized { scanPlanCache.clear(); scanPlanWeight = 0L }
    rowCountsCache.synchronized { rowCountsCache.clear() }
    bucketMapCache.synchronized { bucketMapCache.clear() }
    prunableColsCache.clear()
    manifestMetaCache.clear()
  }
}
