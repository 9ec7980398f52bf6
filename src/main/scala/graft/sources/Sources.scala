package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Source/sink surface beyond the parquet scans the query set already
  * exercises (SURVEY.md §2.b "File-format scans" / "Sinks" rows).
  *
  * The reference's storage layer is: JSON documents point-read/overwritten
  * whole per key on S3 (R1 `readInputDataJSON` aprocess.js:15-32, R5
  * `writeBodyObj` aprocess.js:34-45). Here that becomes:
  *  - a whole-row keyed upsert sink ([[upsert]]) with an atomic
  *    staging-directory swap — the R5 "overwrite the document at its key"
  *    semantics, batched: one job rewrites the table once per batch no
  *    matter how many keys changed, instead of one S3 put per document;
  *  - [[upsertBatch]], the same sink as a `foreachBatch` function, which is
  *    how a streaming pipeline upserts micro-batches (R5's streaming form;
  *    exactly-once per batch since the swap is last);
  *  - [[readTable]] over either an upsert table or a completion stream
  *    (the graft-shards layout `Correlate.serve` writes through the sink,
  *    whose epochs commit each micro-batch once at O(batch) cost).
  *
  * All paths are driver-visible filesystem URIs; on a cluster the same code
  * runs against HDFS/S3A (Path/FileSystem are scheme-agnostic).
  */
object Sources {

  /** Version-directory names: v1, v2, … */
  private val VersionRe = "^v(\\d+)$".r

  /** One listing of an upsert-table root, split into what the protocol
    * needs: committed versions (ascending; a version counts only once the
    * writer's job committer has placed `_SUCCESS` — without it the
    * directory is an in-flight or crashed write), ALL version numbers
    * (committed or not, for collision-free allocation), and any foreign
    * entries — data that is NOT in the versioned layout. */
  private case class TableListing(
      committed: Seq[(Long, Path)], allVersionNums: Seq[Long], foreign: Seq[Path])

  private def listTable(s: SparkSession, path: String): TableListing = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) TableListing(Seq.empty, Seq.empty, Seq.empty)
    else {
      // hidden entries (the _LEASE writer lock, editor droppings) are
      // neither versions nor a reason to refuse the table
      val entries = fs.listStatus(root).toSeq.filterNot(st =>
        st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      val (versionDirs, foreign) = entries.partition(st =>
        st.isDirectory && VersionRe.matches(st.getPath.getName))
      val nums = versionDirs.map(st =>
        st.getPath.getName match { case VersionRe(n) => n.toLong })
      val committed = versionDirs.zip(nums)
        .filter { case (st, _) => fs.exists(new Path(st.getPath, "_SUCCESS")) }
        .map { case (st, n) => (n, st.getPath) }
        .sortBy(_._1)
      TableListing(committed, nums, foreign.map(_.getPath))
    }
  }

  /** Refuse to operate on a root holding non-versioned data: silently
    * treating it as an empty table would drop those rows on the first
    * upsert. */
  private def requireVersionedLayout(l: TableListing, path: String): Unit =
    require(l.foreign.isEmpty,
      s"$path contains non-versioned entries (${l.foreign.map(_.getName).mkString(", ")}); " +
        "refusing to treat it as an upsert table")

  /** Key-bucket count of a NEW upsert table. Persisted in the table's
    * manifest at first write, so every later writer/reader agrees; size it
    * to the TABLE's target volume (rows-per-bucket that one task rewrites
    * comfortably) — e.g. thousands of buckets for a 100 TB view. */
  val DefaultBuckets = 16

  /** Per-bucket, per-column min/max for manifest-level data skipping.
    * Values are canonically encoded strings (numbers via toString,
    * timestamps as epoch-micros longs) compared under the column's type.
    * `(None, None)` = the bucket's column is entirely null (prunable for
    * any range); a MISSING entry = stats unknown (bucket must be read). */
  private[sources] case class ColStat(min: Option[String], max: Option[String])

  /** Version manifest: which version directory holds each key-bucket's
    * current data, plus the bucket count and row schema (so an empty
    * table still reads with the right shape). `stats` (absent on legacy
    * manifests) carries bucket → column → min/max for range pruning. */
  private case class Manifest(numBuckets: Int, schemaDdl: String,
      buckets: Map[String, Long],
      stats: Option[Map[String, Map[String, ColStat]]] = None)

  private implicit val manifestFormats: org.json4s.Formats =
    org.json4s.DefaultFormats

  private def manifestPath(versionDir: Path) = new Path(versionDir, "_MANIFEST.json")

  /** One open per manifest (no exists/getFileStatus probes first: on an
    * object store each is a round trip); a missing file is a pre-manifest
    * legacy version, whose data sits at the dir root. */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      versionDir: Path): Option[Manifest] = {
    val opened =
      try Some(fs.open(manifestPath(versionDir)))
      catch { case _: java.io.FileNotFoundException => None }
    opened.map { in =>
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      org.json4s.jackson.Serialization.read[Manifest](
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** The bucket data directories a manifest references, version-resolved. */
  private def bucketDirs(root: Path, m: Manifest): Seq[Path] =
    m.buckets.toSeq.sortBy(_._1.toInt).map { case (b, v) =>
      new Path(root, s"v$v/data/gb=$b")
    }

  /** Versions a committed version's data depends on (its own dir + every
    * version its manifest references) — the sweep's liveness set. */
  private def refs(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      version: Long): Set[Long] =
    Set(version) ++ readManifest(fs, new Path(root, s"v$version"))
      .map(_.buckets.values.toSet).getOrElse(Set.empty)

  /** Read a table: the current committed version of an upsert table, or
    * the completions of a [[graft.streaming.Correlate.serve]] stream — a
    * graft-shards layout, recognized by its `numShards` pin — as exactly
    * `(txnId, finalStatus)`. A stream reads its published chunks only
    * (the sink's staged temps never match `*.jsonl`, and Spark hides `_`
    * names), with an explicit schema, so no inference job runs. */
  def readTable(s: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(root, GraftShardsSource.NumShardsFileName)))
      return s.read.schema(CompletionSchema).option("pathGlobFilter", "*.jsonl")
        .option("recursiveFileLookup", "true").json(path)
    val listing = listTable(s, path)
    requireVersionedLayout(listing, path)
    listing.committed.lastOption match {
      case Some((n, _)) => readVersion(s, path, n)
      case None => throw new IllegalArgumentException(
        s"no committed version under $path")
    }
  }

  /** A completion record's payload: the JSON `Correlate.serve` writes. */
  private val CompletionSchema: StructType =
    StructType.fromDDL("txnId STRING, finalStatus STRING")

  /** Whether version n's snapshot is FULLY readable: every bucket dir its
    * manifest references still exists. A version dir can outlive its own
    * snapshot — retention keeps a dir as long as any LIVE manifest
    * references one of its buckets, so v2 may survive (with `_SUCCESS`)
    * while the OTHER versions v2's manifest points at were swept. Reading
    * such a version would fail with a raw path-does-not-exist mid-scan;
    * the read/list API reports it as swept instead. */
  private def versionReadable(root: Path,
      fs: org.apache.hadoop.fs.FileSystem, n: Long): Boolean =
    readManifest(fs, new Path(root, s"v$n")) match {
      case Some(m) => bucketDirs(root, m).forall(fs.exists)
      case None => true // legacy flat version: its own dir IS the data
    }

  /** The ONE "is this version addressable" rule, shared by every
    * snapshot-addressed read (readTableAt, readChanges): committed
    * (`_SUCCESS`) AND its manifest closure intact — a dir surviving only
    * as a bucket reference of a later version is reported as swept, not
    * read into a mid-scan missing-path failure. */
  private def requireReadableVersion(s: SparkSession, path: String,
      listing: TableListing, root: Path,
      fs: org.apache.hadoop.fs.FileSystem, version: Long): Unit = {
    require(listing.committed.exists(_._1 == version),
      s"version v$version is not a committed version of $path " +
        s"(available: ${listing.committed.map(v => s"v${v._1}").mkString(", ")})")
    require(versionReadable(root, fs, version),
      s"version v$version of $path has been swept by retention (its dir " +
        "survives only as a bucket reference of a later version); " +
        s"readable versions: ${committedVersions(s, path).map(n => s"v$n").mkString(", ")}")
  }

  /** Time-travel read: the table AS OF a specific committed version — the
    * snapshot-read half of the poor-man's table format. Every version the
    * retention policy still holds (the current one plus its committed
    * predecessor's closure) is readable; older snapshots have been swept
    * — including a version whose DIR survives only because a later
    * manifest still references one of its buckets — and raise loudly
    * here. `committedVersions` lists what is actually readable. */
  def readTableAt(s: SparkSession, path: String, version: Long): DataFrame = {
    val listing = listTable(s, path)
    requireVersionedLayout(listing, path)
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    requireReadableVersion(s, path, listing, root, fs, version)
    readVersion(s, path, version)
  }

  /** The committed version numbers currently readable (their full manifest
    * closure intact — partially swept bucket-reference survivors are
    * excluded), ascending. */
  def committedVersions(s: SparkSession, path: String): Seq[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    listTable(s, path).committed.map(_._1)
      .filter(versionReadable(root, fs, _))
  }

  /** Deep-nullable form of a type: top-level AND nested (array element,
    * map value, struct field) nullability relaxed. Used both to read (old
    * buckets lack late columns) and to compare types across the manifest
    * DDL round-trip, which strips nested non-nullability — comparing raw
    * DataTypes would reject a re-upsert of an IDENTICAL array/struct
    * column as a "type change". */
  private[sources] def deepNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(deepNullable(et), containsNull = true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(deepNullable(k), deepNullable(v),
        valueContainsNull = true)
    case StructType(fs) =>
      StructType(fs.map(f =>
        f.copy(dataType = deepNullable(f.dataType), nullable = true)))
    case t => t
  }

  /** The manifest's recorded schema, deep-nullable: bucket dirs carried
    * from versions OLDER than a column's introduction physically lack it,
    * and the explicit-schema read fills it with null (parquet by-name
    * resolution) — which is exactly the monotone schema-evolution
    * semantics. nullable also covers legacy manifests recorded from
    * NOT-NULL batch schemas. */
  private def manifestSchema(m: Manifest): StructType =
    deepNullable(StructType.fromDDL(m.schemaDdl)).asInstanceOf[StructType]

  private def readVersion(s: SparkSession, path: String, n: Long): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val dir = new Path(root, s"v$n")
    readManifest(fs, dir) match {
      case Some(m) if m.buckets.isEmpty =>
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          manifestSchema(m))
      case Some(m) =>
        // the explicit schema (the version's recorded table shape) is what
        // makes a multi-version bucket read schema-stable: no mergeSchema
        // footer pass, missing columns null-filled, and time travel reads
        // the SHAPE the table had at that version
        s.read.schema(manifestSchema(m))
          .parquet(bucketDirs(root, m).map(_.toString): _*)
      case None => s.read.parquet(dir.toString) // legacy flat version
    }
  }

  // ---- Manifest-level data skipping (min/max bucket stats) ----------------

  /** Column types whose min/max order is canonically string-encodable. */
  private[sources] def statsEligible(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }

  private[sources] def statCompare(dt: org.apache.spark.sql.types.DataType,
      a: String, b: String): Int = dt match {
    case org.apache.spark.sql.types.DoubleType =>
      java.lang.Double.compare(a.toDouble, b.toDouble)
    case org.apache.spark.sql.types.StringType => a.compareTo(b)
    case _ => java.lang.Long.compare(a.toLong, b.toLong) // int/long/ts-micros
  }

  /** A user-supplied range bound in the column's canonical encoding. */
  private[sources] def encodeBound(dt: org.apache.spark.sql.types.DataType,
      v: Any): String = (dt, v) match {
    case (org.apache.spark.sql.types.TimestampType, t: java.sql.Timestamp) =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t).toString
    case (org.apache.spark.sql.types.TimestampType, i: java.time.Instant) =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i).toString
    case (org.apache.spark.sql.types.DoubleType, n: Number) =>
      n.doubleValue().toString
    case (_, n: Number) => n.longValue().toString
    case (_, other) => other.toString
  }

  /** Min/max per (bucket, eligible column) of a just-written version's
    * bucket dirs (as [[writeBuckets]] listed them), derived from the
    * PARQUET FOOTERS the write already produced — driver-side metadata
    * reads only, no second pass over the data (the same place
    * Iceberg/Delta manifests get their file stats). One footer per written
    * bucket; a compaction over thousands of buckets would parallelize the
    * footer loop, a micro-batch touches a handful.
    *
    * Soundness rules (pruning must never skip a matching row; "unknown"
    * — no entry — is always safe):
    *  - INT96 timestamps (legacy writer default) carry no trustworthy
    *    stats → unknown. Our writers emit INT64 TIMESTAMP_MICROS.
    *  - A chunk with no min/max but nulls < values (parquet-mr drops
    *    double stats containing NaN) → unknown.
    *  - String bounds containing chars ≥ U+D800 → unknown: parquet orders
    *    UTF-8 bytes (code points), the read-side compare is Java UTF-16
    *    order, and the two disagree exactly when surrogates/supplementary
    *    planes are involved (also covers truncated-bound increments that
    *    decode to replacement chars). */
  private def bucketStats(fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      bucketDirs: Seq[org.apache.hadoop.fs.FileStatus],
      schema: StructType): Map[String, Map[String, ColStat]] = {
    val fields = schema.fields.filter(f => statsEligible(f.dataType)).toSeq
    if (fields.isEmpty) return Map.empty
    val byLower = fields.map(f => f.name.toLowerCase -> f).toMap
    bucketDirs.map { bdir =>
      val acc = scala.collection.mutable.Map[String, StatAcc](
        fields.map(f => f.name.toLowerCase -> (Some((None, None)): StatAcc)): _*)
      fs.listStatus(bdir.getPath)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .foreach { st =>
          footerColStats(readFooter(st, conf), fields).foreach { case (k, fileAcc) =>
            acc(k) = mergeStatAcc(byLower(k).dataType, acc(k), fileAcc)
          }
        }
      bdir.getPath.getName.stripPrefix("gb=") ->
        acc.toMap.collect { case (k, Some((mn, mx))) => k -> ColStat(mn, mx) }
    }.toMap
  }

  /** Per-column footer-stats accumulator, three-state: `None` = unknown
    * (poisoned — the file must be read); `Some((None, None))` = all-null
    * so far; `Some((Some(mn), Some(mx)))` = observed range in the
    * canonical string encoding. */
  private[sources] type StatAcc = Option[(Option[String], Option[String])]

  /** Merge two accumulators of one column; unknown poisons. */
  private[sources] def mergeStatAcc(dt: org.apache.spark.sql.types.DataType,
      a: StatAcc, b: StatAcc): StatAcc = (a, b) match {
    case (Some((amn, amx)), Some((bmn, bmx))) =>
      def pick(x: Option[String], y: Option[String],
          takeMin: Boolean): Option[String] = (x, y) match {
        case (Some(p), Some(q)) =>
          val cmpv = statCompare(dt, p, q)
          Some(if ((cmpv <= 0) == takeMin) p else q)
        case (p, q) => p.orElse(q)
      }
      Some((pick(amn, bmn, takeMin = true), pick(amx, bmx, takeMin = false)))
    case _ => None
  }

  /** ONE parquet file's footer, read with options built from the caller's
    * `conf` (the option-less `open` builds a default `Configuration`, i.e.
    * re-parses the default XML, per file). Runs wherever the caller is:
    * the driver loop here, or a Spark task in [[ZOrder]]'s distributed
    * harvest, which takes both [[footerColStats]] and [[footerCounts]]
    * from one read. */
  private[sources] def readFooter(st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try reader.getFooter finally reader.close()
  }

  /** Chunk-merged per-column stats of ONE parquet file's footer, under the
    * soundness rules documented at [[bucketStats]]'s caller comment above
    * (INT96 → unknown, NaN-dropped double stats → unknown,
    * surrogate-bearing string bounds → unknown, column absent from the
    * footer → all-null). */
  private[sources] def footerColStats(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      fields: Seq[org.apache.spark.sql.types.StructField])
      : Map[String, StatAcc] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val byLower = fields.map(f => f.name.toLowerCase -> f).toMap
    def jokerFree(s: String): Boolean = s.forall(_ < '\uD800')
    val acc = scala.collection.mutable.Map[String, StatAcc](
      fields.map(f => f.name.toLowerCase -> (Some((None, None)): StatAcc)): _*)
    footer.getBlocks.forEach { block =>
      block.getColumns.forEach { cc =>
        val path = cc.getPath.toArray
        if (path.length == 1 && byLower.contains(path(0).toLowerCase)) {
          val key = path(0).toLowerCase
          val field = byLower(key)
          val stats = cc.getStatistics
          val chunk: StatAcc =
            if (cc.getPrimitiveType.getPrimitiveTypeName ==
                  PrimitiveTypeName.INT96 || stats == null) None
            else if (stats.hasNonNullValue) {
              val mn = encodeParquetStat(
                stats.genericGetMin.asInstanceOf[AnyRef])
              val mx = encodeParquetStat(
                stats.genericGetMax.asInstanceOf[AnyRef])
              if (field.dataType == org.apache.spark.sql.types.StringType
                  && !(jokerFree(mn) && jokerFree(mx))) None
              else Some((Some(mn), Some(mx)))
            } else if (stats.isNumNullsSet &&
                stats.getNumNulls == cc.getValueCount)
              Some((None, None)) // all-null chunk
            else None // e.g. NaN-dropped double stats
          acc(key) = mergeStatAcc(field.dataType, acc(key), chunk)
        }
      }
    }
    acc.toMap
  }

  /** ROW COUNT and per-column NULL COUNTS of one parquet file's footer —
    * the metadata the z-store's count plane records ([[ZOrder]]'s
    * `__count__` / `__nulls__:` manifest rows, consumed by
    * `countZRange`'s metadata-only COUNT(*)). Row count comes from block
    * metadata (parquet always records it); a column's null count is the
    * chunk sum, known only when EVERY chunk of that column sets numNulls
    * (unknown → the file is never counted from metadata, only scanned —
    * same always-safe degradation as the range stats). A column absent
    * from the footer reads as all-null: nulls = rowCount. */
  private[sources] def footerCounts(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      fields: Seq[org.apache.spark.sql.types.StructField])
      : (Long, Map[String, Option[Long]]) = {
    val byLower = fields.map(f => f.name.toLowerCase -> f).toMap
    var rows = 0L
    val nulls = scala.collection.mutable.Map[String, Option[Long]](
      fields.map(f => f.name.toLowerCase -> (Some(0L): Option[Long])): _*)
    val seen = scala.collection.mutable.Set.empty[String]
    footer.getBlocks.forEach { block =>
      rows += block.getRowCount
      block.getColumns.forEach { cc =>
        val path = cc.getPath.toArray
        if (path.length == 1 && byLower.contains(path(0).toLowerCase)) {
          val key = path(0).toLowerCase
          seen += key
          val stats = cc.getStatistics
          val chunk: Option[Long] =
            if (stats != null && stats.isNumNullsSet) Some(stats.getNumNulls)
            else None
          nulls(key) = for (a <- nulls(key); b <- chunk) yield a + b
        }
      }
    }
    (rows, nulls.map { case (k, v) =>
      k -> (if (seen.contains(k)) v else Some(rows)) // absent column: all-null
    }.toMap)
  }

  /** Canonical string encoding of a parquet footer min/max value. */
  private[sources] def encodeParquetStat(v: AnyRef): String = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other.toString // Integer, Long (incl. ts micros), Double
  }

  /** Range read over the current snapshot with MANIFEST-LEVEL data
    * skipping: `column BETWEEN lo AND hi`, opening only the buckets whose
    * recorded [min, max] intersects the range (and skipping all-null
    * buckets outright). This is the poor-man's form of Iceberg/Delta file
    * skipping: the stats ride the one manifest JSON the read already
    * fetches, so pruning costs zero extra I/O — no footer pass over
    * thousands of bucket dirs. At 100 TB a predicate correlated with the
    * key space (tenant ranges, time-bucketed ids) opens a handful of
    * dirs; an uncorrelated predicate degrades to the plain read, never
    * worse. Buckets without stats (legacy versions; NaN-poisoned doubles)
    * are read — pruning is only ever an optimization, the residual filter
    * keeps semantics exact. */
  def readTableRange(s: SparkSession, path: String, column: String,
      lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val listing = listTable(s, path)
    requireVersionedLayout(listing, path)
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val (_, dir) = listing.committed.lastOption.getOrElse(throw
      new IllegalArgumentException(s"no committed version under $path"))
    def bounded(df: DataFrame): DataFrame =
      // signed-zero-safe bounds: the parquet pushdown's total-order
      // comparator would drop stored -0.0 rows on a 0.0 lower bound
      // (ZOrder.bandPred's contract)
      df.filter(ZOrder.bandPred(column, lo, hi))
    readManifest(fs, dir) match {
      case None => bounded(s.read.parquet(dir.toString)) // legacy: no stats
      case Some(m) =>
        val schema = manifestSchema(m)
        val field = schema.find(_.name.equalsIgnoreCase(column)).getOrElse(
          throw new IllegalArgumentException(s"column $column is not in " +
            s"the table schema ${schema.fieldNames.mkString(",")}"))
        val stats = m.stats.getOrElse(Map.empty)
        val keep =
          if (!statsEligible(field.dataType)) m.buckets
          else {
            val loS = encodeBound(field.dataType, lo)
            val hiS = encodeBound(field.dataType, hi)
            m.buckets.filter { case (bk, _) =>
              stats.get(bk).flatMap(_.get(field.name.toLowerCase)) match {
                case None => true // unknown — must read
                case Some(ColStat(None, None)) => false // all-null bucket
                case Some(ColStat(Some(mn), Some(mx))) =>
                  statCompare(field.dataType, mx, loS) >= 0 &&
                    statCompare(field.dataType, mn, hiS) <= 0
                case _ => true // half-recorded stats: read
              }
            }
          }
        if (keep.isEmpty)
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            schema)
        else bounded(s.read.schema(schema).parquet(
          keep.toSeq.sortBy(_._1.toInt).map { case (b, v) =>
            new Path(root, s"v$v/data/gb=$b").toString
          }: _*))
    }
  }

  /** Keyed whole-row upsert into a parquet table (R5): rows in `batch`
    * replace existing rows with the same key; other rows carry over.
    *
    * Crash safety WITHOUT a rename window: each upsert writes a brand-new
    * immutable version directory (v1, v2, …), which becomes current only
    * when `_SUCCESS` lands at the version root as the final act.
    * [[readTable]] resolves the highest committed version — so a reader
    * never sees a half-written table and a crash mid-write (including
    * mid-bucket-write) leaves the previous version current; the orphaned
    * uncommitted directory is swept by the next successful upsert. This is
    * the poor-man's snapshot pattern the real table formats (Iceberg/Delta)
    * formalize with a metadata log.
    *
    * Scale — BUCKETED REWRITE, not table rewrite: rows hash to one of the
    * manifest's `numBuckets` key-buckets (`pmod(hash(keys…), B)`), and a
    * version directory physically contains ONLY the buckets its batch
    * touched (`data/gb=<b>` subdirs); every untouched bucket is carried BY
    * REFERENCE — the new manifest simply keeps pointing at the version
    * that last rewrote it. Per-batch I/O is therefore
    * O(touched buckets) ≈ O(batch keys · table/B), not O(table): the
    * "latest per user" view over a 100 TB corpus rewrites a few buckets
    * per micro-batch while the other thousands ride along untouched. The
    * carry-over anti-join is deliberately unhinted — AQE broadcasts the
    * batch side when it is actually small instead of trusting a hint that
    * would cap at driver memory if a bulk batch ever arrived.
    *
    * SINGLE WRITER: version allocation has no lock/CAS, so exactly one
    * writer may upsert a path at a time — which `foreachBatch` guarantees
    * (micro-batches are sequential). Concurrent writers would race on vN.
    * Bucket membership depends on Spark's Murmur3 `hash` staying stable,
    * which it is (persisted bucketed tables rely on the same invariant).
    *
    * SCHEMA EVOLUTION is monotone add-only, like the reference's document
    * whose fields grow as steps append (aprocess.js:57, :177-179): a batch
    * carrying a new column widens the table (the manifest records the
    * union schema; carried buckets read null for it via the
    * explicit-schema parquet read), a batch omitting a column writes null
    * for it on its own rows, and a type change refuses loudly. Time travel
    * reads each version in the SHAPE its manifest recorded.
    */
  def upsert(batch: DataFrame, keys: Seq[String], path: String,
      numBuckets: Int = DefaultBuckets): Unit =
    // the documented writer slot (upsert XOR compact), ENFORCED: version
    // allocation has no CAS, so two concurrent writers would both take vN
    Lease.withLease(batch.sparkSession, path, "upsert") {
      upsertBody(batch, keys, path, numBuckets)
    }

  private def upsertBody(batch: DataFrame, keys: Seq[String], path: String,
      numBuckets: Int): Unit = {
    val s = batch.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val listing = listTable(s, path)
    requireVersionedLayout(listing, path)
    val prev = listing.committed.lastOption
    val prevManifest = prev.flatMap { case (_, dir) => readManifest(fs, dir) }
    // the table's bucket count is fixed at creation; later calls follow
    // the manifest (a changed parameter must not silently re-key the table)
    val b = prevManifest.map(_.numBuckets).getOrElse(numBuckets)
    require(b > 0, "numBuckets must be positive")
    val bucketOf = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.hash(keys.map(col): _*),
      org.apache.spark.sql.functions.lit(b))
    // MATERIALIZE the batch once: `touched` (below) and the merged write
    // would otherwise evaluate it twice, and any non-determinism between
    // the evaluations (limit/sample, a re-read mutable source) could emit
    // a bucket whose prior rows were never carried — silent data loss.
    // A micro-batch is small by the sink's contract, so the checkpoint is
    // cheap; the written⊆touched guard below backstops the invariant.
    // The buckets this batch touches — bounded by min(batch keys, B) — are
    // observed by that same checkpoint job, not by a job of their own.
    val touchedObs = org.apache.spark.sql.Observation()
    val deduped = batch.dropDuplicates(keys)
      .observe(touchedObs, org.apache.spark.sql.functions.collect_set(bucketOf).as("gb"))
      .localCheckpoint()
    val touched: Set[Int] =
      touchedObs.get("gb").asInstanceOf[scala.collection.Seq[Int]].toSet
    // Monotone schema evolution (the reference's document grows fields as
    // steps append, aprocess.js:57,177-179): the table schema is
    // prev ∪ batch BY NAME — new batch columns append and old rows read
    // null for them; a batch may also OMIT table columns (whole-document
    // replace: the rewritten row carries null). A same-name column may
    // never change type — loud failure, not a silent cast. Name matching
    // is case-INsensitive (Spark's default resolution): a case-twin column
    // must unify with the existing one, not duplicate it in the recorded
    // DDL (a duplicate would make every later explicit-schema read throw).
    // The prev schema for a LEGACY flat version comes from its parquet
    // footer — recording only the batch's columns there would silently
    // drop every carried legacy column from all future reads.
    val prevSchema: Option[StructType] = prevManifest.map(manifestSchema)
      .orElse(prev.map { case (_, dir) =>
        deepNullable(s.read.parquet(dir.toString).schema).asInstanceOf[StructType]
      })
    prevSchema.foreach(_.foreach { f =>
      deduped.schema.find(_.name.equalsIgnoreCase(f.name)).foreach { g =>
        require(deepNullable(g.dataType) == deepNullable(f.dataType),
          s"upsert cannot change the type of column ${f.name}: " +
            s"${f.dataType.simpleString} -> ${g.dataType.simpleString} " +
            "(schema evolution is add-only)")
      }
    })
    val tableSchema = StructType((prevSchema match {
      case Some(ps) => ps.fields ++
        deduped.schema.fields.filterNot(f =>
          ps.fields.exists(_.name.equalsIgnoreCase(f.name)))
      case None => deduped.schema.fields
    }).map(f => f.copy(dataType = deepNullable(f.dataType), nullable = true)).toSeq)
    // current rows of ONLY the touched buckets (legacy flat versions have
    // no bucket layout — migrate by treating the whole table as touched)
    val carried = prev match {
      case Some((_, dir)) =>
        val cur = prevManifest match {
          case Some(m) =>
            val dirs = bucketDirs(root, m.copy(buckets =
              m.buckets.filter { case (bk, _) => touched.contains(bk.toInt) }))
            if (dirs.isEmpty) None
            else Some(s.read.schema(manifestSchema(m))
              .parquet(dirs.map(_.toString): _*))
          case None => Some(s.read.parquet(dir.toString))
        }
        cur.map(_.join(deduped.select(keys.map(col): _*), keys, "left_anti"))
      case None => None
    }
    val merged = carried match {
      case Some(c) => c.unionByName(deduped, allowMissingColumns = true)
      case None => deduped
    }
    // number past EVERY existing version dir, committed or crashed — a
    // crashed vN must not collide with the next write
    val nextN = listing.allVersionNums.maxOption.getOrElse(0L) + 1
    val versionDir = new Path(root, s"v$nextN")
    val writtenDirs = writeBuckets(merged.withColumn("gb", bucketOf), versionDir, fs)
    // the buckets ACTUALLY written (derived from the output, so a legacy
    // migration — where "touched" is everything present — is also exact)
    val written: Set[Int] = writtenDirs.map(bucketNum).toSet
    // invariant check BEFORE the commit marker: a bucket written outside
    // the touched set means its prior rows were not carried — fail with
    // the version uncommitted (table intact) rather than commit data loss.
    // (Legacy migration reads the whole table, so every bucket is carried
    // and any written bucket is legal.)
    if (prevManifest.isDefined || prev.isEmpty)
      require((written -- touched).isEmpty,
        s"upsert wrote buckets ${(written -- touched).toSeq.sorted.mkString(",")} " +
          "outside the batch's touched set — non-deterministic batch?")
    val newBuckets =
      prevManifest.map(_.buckets).getOrElse(Map.empty[String, Long])
        .filter { case (bk, _) => !written.contains(bk.toInt) } ++
        written.map(bk => bk.toString -> nextN)
    // data-skipping stats: fresh min/max for the buckets this version
    // wrote, carried entries for the rest (a bucket carried from a
    // pre-stats version simply has no entry and is never pruned)
    val newStats =
      prevManifest.flatMap(_.stats).getOrElse(
        Map.empty[String, Map[String, ColStat]])
        .filter { case (bk, _) =>
          newBuckets.contains(bk) && !written.contains(bk.toInt) } ++
        bucketStats(fs, s.sparkContext.hadoopConfiguration, writtenDirs, tableSchema)
    // record the UNION schema even when no bucket was carried (an empty or
    // narrow batch must never shrink the table's recorded shape).
    // Retention: keep every version the NEW manifest references (carried
    // buckets live in old version dirs), plus the committed predecessor's
    // closure (a reader that resolved the old current just before this
    // commit can finish its scan); sweep the rest, including crashed
    // in-flight directories. State stays bounded: ≤ B live versions + 1.
    commitVersion(fs, root, versionDir,
      Manifest(b, tableSchema.toDDL, newBuckets, Some(newStats)),
      listing, nextN,
      keep = Set(nextN) ++ newBuckets.values ++
        prev.map { case (n, _) => refs(fs, root, n) }.getOrElse(Set.empty))
  }

  /** Keyed point lookup on the current snapshot — the reference's R1
    * get-by-key (aprocess.js:15-32) at table scale: each requested key
    * tuple hashes to its bucket with the SAME Spark murmur3 codepath the
    * writer used (values cast to the table's column types first — an
    * int-vs-long literal would hash differently), and only those bucket
    * dirs are opened. I/O is O(requested keys), not O(table): a 3-key
    * lookup on a 100 TB view reads ≤ 3 bucket dirs no matter the table
    * size — the complement of [[readTableRange]]'s stats pruning (hash
    * buckets are range-UNcorrelated by construction, but key-EXACT). */
  def readTableKeyed(s: SparkSession, path: String, keys: Seq[String],
      keyRows: Seq[Seq[Any]]): DataFrame = {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    require(keys.nonEmpty, "readTableKeyed needs the table's key columns")
    require(keyRows.nonEmpty && keyRows.forall(_.size == keys.size),
      s"every key row must have ${keys.size} values")
    val listing = listTable(s, path)
    requireVersionedLayout(listing, path)
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val (_, dir) = listing.committed.lastOption.getOrElse(throw
      new IllegalArgumentException(s"no committed version under $path"))
    readManifest(fs, dir) match {
      case None => // legacy flat version: no bucket layout to prune
        val df = s.read.parquet(dir.toString)
        df.filter(keyEq(df.schema, keys, keyRows))
      case Some(m) =>
        val schema = manifestSchema(m)
        keys.foreach(k =>
          require(schema.fieldNames.exists(_.equalsIgnoreCase(k)),
            s"key column $k is not in the table schema"))
        // one driver-side job computes every key row's bucket through the
        // identical hash expression the writer partitioned with
        val typed = keyRows.map(vals => keys.zip(vals).map { case (k, v) =>
          lit(v).cast(schema.find(_.name.equalsIgnoreCase(k)).get.dataType)
        })
        val bucketCols = typed.map(cs =>
          pmod(hash(cs: _*), lit(m.numBuckets)))
        val hit = s.range(1).select(bucketCols: _*).head()
        val wanted = (0 until keyRows.size).map(hit.getInt).toSet
        val keep = m.buckets.filter { case (bk, _) => wanted(bk.toInt) }
        if (keep.isEmpty)
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            schema)
        else s.read.schema(schema).parquet(
          keep.toSeq.sortBy(_._1.toInt).map { case (b, v) =>
            new Path(root, s"v$v/data/gb=$b").toString
          }: _*).filter(keyEq(schema, keys, keyRows))
    }
  }

  /** OR-of-key-tuple-equalities residual filter for [[readTableKeyed]]. */
  private def keyEq(schema: StructType, keys: Seq[String],
      keyRows: Seq[Seq[Any]]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    keyRows.map(vals => keys.zip(vals).map { case (k, v) =>
      val dt = schema.find(_.name.equalsIgnoreCase(k)).map(_.dataType)
      col(k) === dt.map(lit(v).cast).getOrElse(lit(v))
    }.reduce(_ && _)).reduce(_ || _)
  }

  /** Table writers emit INT64 TIMESTAMP_MICROS (not the legacy INT96
    * default): INT96 footers carry no usable min/max, which would leave
    * timestamp columns permanently unprunable. Scoped set-and-restore is
    * safe under the documented single-writer contract; readers handle a
    * mixed INT96/INT64 lineage transparently (per-file decoding). */
  /** Depth per session: a plain save/set/restore is session-GLOBAL and
    * not reentrant across threads — two optimistic rewrites (r15) doing
    * concurrent zWrites interleaved as set(prev=INT96) / set(prev=MICROS)
    * / restore(INT96) / restore(MICROS), leaking TIMESTAMP_MICROS into
    * the session and flipping every later plain parquet dump to
    * tz-adjusted timestamps (measured: 7 oracle dtype failures). All
    * concurrent bodies want the same value, so the FIRST in sets, the
    * LAST out restores. */
  private val microsDepth = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, (java.util.concurrent.atomic.AtomicInteger, String)]()

  private[sources] def writeMicros[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    microsDepth.synchronized {
      val (d, _) = microsDepth.computeIfAbsent(s,
        _ => (new java.util.concurrent.atomic.AtomicInteger(0),
          s.conf.get(key)))
      if (d.getAndIncrement() == 0) {
        // re-read prev NOW (the map entry may be stale from a prior
        // fully-unwound cycle; the conf may have changed since)
        microsDepth.put(s,
          (microsDepth.get(s)._1, s.conf.get(key)))
        s.conf.set(key, "TIMESTAMP_MICROS")
      }
    }
    try f finally microsDepth.synchronized {
      val (d, prev) = microsDepth.get(s)
      if (d.decrementAndGet() == 0) s.conf.set(key, prev)
    }
  }

  /** Write a version's data — `df` carries each row's key bucket in `gb` —
    * as `data/gb=<b>` dirs holding ONE file each: the shuffle on `gb` hands
    * every bucket to a single task. Written straight from the input's
    * partitions, each input task would leave its own file in every bucket
    * it holds rows of, and each file costs again in task commits, footer
    * reads, retention deletes and reader opens. Returns the written bucket
    * dirs: the one listing both the written⊆touched guard and the footer
    * stats read. */
  private def writeBuckets(df: DataFrame, versionDir: Path,
      fs: org.apache.hadoop.fs.FileSystem): Seq[org.apache.hadoop.fs.FileStatus] = {
    val dataDir = new Path(versionDir, "data")
    writeMicros(df.sparkSession) {
      df.repartition(col("gb")).write.partitionBy("gb").parquet(dataDir.toString)
    }
    fs.listStatus(dataDir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gb="))
  }

  private def bucketNum(dir: org.apache.hadoop.fs.FileStatus): Int =
    dir.getPath.getName.stripPrefix("gb=").toInt

  /** The shared commit tail of every table writer (upsert, compact):
    * manifest JSON, then the `_SUCCESS` marker as the commit point, then
    * the retention sweep of everything outside `keep` — one copy, so the
    * two writers' crash-safety semantics can never fork. */
  private def commitVersion(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      versionDir: Path, manifest: Manifest, listing: TableListing,
      nextN: Long, keep: Set[Long]): Unit = {
    val out = fs.create(manifestPath(versionDir), true)
    out.write(org.json4s.jackson.Serialization.write(manifest)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    fs.create(new Path(versionDir, "_SUCCESS"), true).close() // commit point
    (listing.allVersionNums.toSet -- keep).filter(_ < nextN).foreach { n =>
      fs.delete(new Path(root, s"v$n"), true)
    }
  }

  /** Maintenance compaction (the OPTIMIZE of the poor-man's table format):
    * rewrite the CURRENT snapshot as one fresh version whose manifest
    * references only itself. Each upsert rewrites a touched bucket whole,
    * as one file, but a long-running `foreachBatch` deployment spreads the
    * snapshot's buckets over a version-dir lineage as long as the oldest
    * still-referenced bucket; compaction collapses it — every bucket
    * becomes one freshly-written file in one dir, and after the NEXT
    * upsert the whole pre-compaction lineage ages out of retention.
    * Readers are never disturbed: the rewrite commits
    * through the same manifest + `_SUCCESS` protocol, so a concurrent
    * reader resolves either the old snapshot or the compacted one.
    *
    * SINGLE WRITER — the same exclusion slot as [[upsert]]: version
    * allocation has no lock/CAS, so compaction must NOT run concurrently
    * with a live upsert (both would allocate the same vN and interleave
    * output). In a `foreachBatch` deployment, call it FROM the batch
    * function (micro-batches are sequential — e.g. every Nth batch) or
    * with the stream stopped; readers need no coordination either way.
    *
    * Scan shape: one parquet read per DISTINCT source version (≤ buckets,
    * usually a handful), each recovering `gb` as a partition column via
    * basePath — no per-bucket union sprawl, no key recomputation (bucket
    * membership is carried by directory, not re-hashed). */
  def compact(s: SparkSession, path: String): Unit =
    Lease.withLease(s, path, "compact") { compactBody(s, path) }

  private def compactBody(s: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val listing = listTable(s, path)
    requireVersionedLayout(listing, path)
    val (prevN, prevDir) = listing.committed.lastOption.getOrElse(
      throw new IllegalArgumentException(s"no committed version under $path"))
    val m = readManifest(fs, prevDir).getOrElse(throw
      new IllegalArgumentException(
        s"v$prevN is a legacy flat version — run one upsert to migrate it " +
          "to the bucketed layout before compacting"))
    if (m.buckets.isEmpty) return // empty table: nothing to rewrite
    val nextN = listing.allVersionNums.maxOption.getOrElse(0L) + 1
    val versionDir = new Path(root, s"v$nextN")
    val schemaWithGb = manifestSchema(m)
      .add("gb", org.apache.spark.sql.types.IntegerType)
    val byVersion = m.buckets.groupBy(_._2).toSeq.sortBy(_._1)
    val compacted = byVersion.map { case (v, bs) =>
      val dataDir = new Path(root, s"v$v/data")
      s.read.option("basePath", dataDir.toString)
        .schema(schemaWithGb)
        .parquet(bs.keys.toSeq.sortBy(_.toInt)
          .map(b => new Path(dataDir, s"gb=$b").toString): _*)
    }.reduce(_.unionByName(_))
    val writtenDirs = writeBuckets(compacted, versionDir, fs)
    val written: Set[Int] = writtenDirs.map(bucketNum).toSet
    require(written == m.buckets.keySet.map(_.toInt),
      s"compaction wrote buckets $written but the manifest references " +
        s"${m.buckets.keySet} — aborting uncommitted (table intact)")
    // retention, same policy as upsert: the new self-contained version
    // plus the committed predecessor's closure for in-flight readers —
    // computed from the manifest already in hand (no re-read: on an
    // object store the extra GET is latency and a failure point between
    // commit and sweep)
    // compaction recomputes stats for every bucket — which also BACKFILLS
    // data-skipping stats onto a table created before stats existed
    commitVersion(fs, root, versionDir,
      Manifest(m.numBuckets, m.schemaDdl,
        written.map(b => b.toString -> nextN).toMap,
        Some(bucketStats(fs, s.sparkContext.hadoopConfiguration,
          writtenDirs, manifestSchema(m)))),
      listing, nextN,
      keep = Set(nextN, prevN) ++ m.buckets.values)
  }

  /** Change-data feed between two committed snapshots of an upsert table:
    * every row whose key was INSERTED after `fromVersion` or whose row
    * content CHANGED, as of `toVersion`, tagged `_change` ∈
    * {insert, update}. (Whole-row upsert never deletes keys, so there is
    * no delete stream.)
    *
    * Scale shape — metadata-first, like the write side: the two manifests
    * identify the buckets whose version pointer MOVED; only those bucket
    * dirs are opened on either side, so a one-key micro-batch's CDF reads
    * two bucket dirs no matter how large the table is. Rows rewritten
    * with identical content are filtered by the null-safe row comparison
    * (a carried-over bucket rewrite is not a change). Schema evolution is
    * honored: the diff runs over `toVersion`'s (wider) schema, with the
    * from-side null-filled for late columns — a row whose only change is
    * a newly-populated column IS an update.
    *
    * This is the incremental-consumption half of the materialized-view
    * story: a downstream pipeline polls `committedVersions`, calls
    * `readChanges(last, current)`, and processes deltas instead of
    * re-scanning the view. */
  def readChanges(s: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String], preimages: Boolean = false): DataFrame = {
    require(fromVersion < toVersion,
      s"readChanges needs fromVersion < toVersion, got v$fromVersion >= v$toVersion")
    require(keys.nonEmpty,
      "readChanges needs the table's key columns (empty keys would turn " +
        "the classification join into a cross product)")
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val listing = listTable(s, path)
    requireVersionedLayout(listing, path)
    def manifestOf(v: Long): Manifest = {
      requireReadableVersion(s, path, listing, root, fs, v)
      readManifest(fs, new Path(root, s"v$v")).getOrElse(throw
        new IllegalArgumentException(
          s"v$v is a legacy flat version — readChanges needs the bucketed layout"))
    }
    val mFrom = manifestOf(fromVersion)
    val mTo = manifestOf(toVersion)
    require(mFrom.numBuckets == mTo.numBuckets,
      "bucket count changed between versions — not an upsert lineage")
    val toSchema = manifestSchema(mTo)
    keys.foreach(k => require(toSchema.fieldNames.exists(_.equalsIgnoreCase(k)),
      s"key column $k is not in the table schema ${toSchema.fieldNames.mkString(",")}"))
    // the buckets whose pointer moved — the ONLY dirs the diff opens
    val changed = mTo.buckets.filter { case (b, v) =>
      !mFrom.buckets.get(b).contains(v)
    }.keys.toSeq.sortBy(_.toInt)
    if (changed.isEmpty)
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        toSchema.add("_change", org.apache.spark.sql.types.StringType))
    val newSide = s.read.schema(toSchema).parquet(
      changed.map(b => new Path(root, s"v${mTo.buckets(b)}/data/gb=$b").toString): _*)
    val oldBuckets = changed.filter(mFrom.buckets.contains)
    if (oldBuckets.isEmpty)
      return newSide.withColumn("_change",
        org.apache.spark.sql.functions.lit("insert"))
    // the from-side reads ITS schema and null-fills up to toVersion's —
    // so a newly-populated late column registers as an update
    val fromSchema = manifestSchema(mFrom)
    val oldSide0 = s.read.schema(fromSchema).parquet(
      oldBuckets.map(b => new Path(root, s"v${mFrom.buckets(b)}/data/gb=$b").toString): _*)
    val oldSide = toSchema.fields.foldLeft(oldSide0) { (df, f) =>
      if (fromSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))) df
      else df.withColumn(f.name,
        org.apache.spark.sql.functions.lit(null).cast(f.dataType))
    }.select(toSchema.fieldNames.map(col): _*)
    val valueCols = toSchema.fieldNames.filterNot(keys.contains).toSeq
    // one shuffle over the CHANGED buckets only: a left join classifies
    // insert (no old row — detected via a presence marker, never via a
    // value column that could legitimately be all-null) vs update (any
    // value column differs, null-safe)
    val oldMarked = oldSide.select(
      keys.map(col) ++ valueCols.map(c => col(c).as(s"__old_$c")): _*)
      .withColumn("__old_present", org.apache.spark.sql.functions.lit(true))
    val j = newSide.join(oldMarked, keys, "left")
    val differs = valueCols
      .map(c => !(col(c) <=> col(s"__old_$c")))
      .reduceOption(_ || _)
      .getOrElse(org.apache.spark.sql.functions.lit(false))
    val classified = j.withColumn("_change",
        org.apache.spark.sql.functions.when(col("__old_present").isNull, "insert")
          .otherwise(org.apache.spark.sql.functions.when(differs, "update")))
      .filter(col("_change").isNotNull)
    if (!preimages)
      return classified.select(toSchema.fieldNames.map(col) :+ col("_change"): _*)
    // Delta-CDF-style four-tag stream: updates emit BOTH sides, so sum-like
    // view maintenance needs no snapshot lookup — delta = post − pre. The
    // pre row is assembled from the __old_* columns the classification join
    // already carries (free: no extra read or shuffle).
    val post = classified.select(toSchema.fieldNames.map(col) :+
      org.apache.spark.sql.functions.when(col("_change") === "insert", "insert")
        .otherwise("update_postimage").as("_change"): _*)
    val pre = classified.filter(col("_change") === "update")
      .select(toSchema.fieldNames.map(c =>
        (if (keys.exists(_.equalsIgnoreCase(c))) col(c) else col(s"__old_$c")).as(c)) :+
        org.apache.spark.sql.functions.lit("update_preimage").as("_change"): _*)
    post.unionByName(pre)
  }

  /** [[upsert]] as a `foreachBatch` sink:
    * `df.writeStream.foreachBatch(upsertBatch(keys, path)).start()`. */
  def upsertBatch(keys: Seq[String], path: String,
      numBuckets: Int = DefaultBuckets): (DataFrame, Long) => Unit =
    (batch, _) => upsert(batch, keys, path, numBuckets)
}
