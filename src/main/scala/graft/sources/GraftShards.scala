package graft.sources

import java.nio.charset.StandardCharsets
import java.util.OptionalLong

import scala.collection.JavaConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Kinesis-shaped streaming source over a sharded directory layout,
  * built on the PUBLIC DataSource V2 connector API — this is the proof
  * that the reference's ingestion loop (shard discovery →
  * `getShardIterator` → rate-limited `getRecords`, threading
  * `NextShardIterator` by hand; svcsample/svckinesis.js:188-248) reduces
  * to a `.format("graft-shards")` swap under Structured Streaming.
  *
  * Stream layout (what a Kinesis stream looks like as a directory):
  * {{{
  *   streamDir/
  *     shard-0000/000…000-000…500.jsonl   // [startSeq, endSeq) chunk
  *     shard-0000/000…500-000…900.jsonl
  *     shard-0001/…
  * }}}
  * One JSON record per line; a record's sequence number is its global
  * line index within its shard. Chunk FILENAMES carry the seq range, so
  * offset discovery is a directory listing — no data is read on the
  * driver (the 100 TB discipline: `latestOffset` per micro-batch touches
  * metadata only).
  *
  * Kinesis semantics mapped (all svckinesis.js cites):
  *  - shard discovery (`describeStream`, :227-236) → subdirectory listing,
  *    re-run every `latestOffset` — so SPLITS/MERGES (new shard dirs
  *    appearing mid-stream, which the reference explicitly punts on at
  *    :187) are picked up at the next micro-batch, children starting from
  *    their trim horizon — and a child declaring a `_parent` makes no
  *    progress until its closed parent is fully drained, preserving
  *    per-key order across a reshard (the Kinesis parent-before-child
  *    contract);
  *  - `getShardIterator(LATEST | TRIM_HORIZON | AT_SEQUENCE_NUMBER |
  *    AT_TIMESTAMP)` (:214-222) → `startingPosition` option, resolved to
  *    per-shard seqs at first start (timestamps resolve against chunk
  *    arrival mtimes, the ApproximateArrivalTimestamp analog);
  *  - `getRecords(Limit: 5)` every 1500 ms (:188-211) →
  *    `maxRecordsPerShardPerTrigger` under `SupportsAdmissionControl`
  *    (cadence comes from the query trigger, not the source);
  *  - `NextShardIterator` threading (:205) → checkpointed offsets, which
  *    also upgrade the reference's at-most-once (records are dropped if
  *    the process dies mid-loop) to exactly-once replay;
  *  - per-shard ordering (the Kinesis contract) → exactly one
  *    `InputPartition` per shard per batch, read in seq order.
  *
  * Rows are `(shard STRING, seq LONG, data STRING)` — payloads stay
  * opaque like real Kinesis records; queries parse with `from_json`.
  */
object GraftShardsSource {
  val Schema: StructType = StructType(Seq(
    StructField("shard", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("data", StringType, nullable = false),
  ))

  private val ChunkName = """(\d{18})-(\d{18})\.jsonl""".r

  def chunkFileName(start: Long, end: Long): String = f"$start%018d-$end%018d.jsonl"

  final case class Chunk(start: Long, end: Long, path: Path)

  /** Hadoop conf resolution. On the driver (an active/default session
    * exists) this is the session's `hadoopConfiguration`, so
    * `spark.hadoop.*` settings — object-store credentials, fs.defaultFS —
    * reach shard listing and chunk I/O. On executors (no session) the
    * caller threads the driver's overrides through explicitly
    * ([[confOverrides]] → [[GraftShardsReaderFactory]]). */
  def hadoopConf(overrides: Map[String, String] = Map.empty): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) => s.sparkContext.hadoopConfiguration
      case None =>
        val c = new Configuration()
        overrides.foreach { case (k, v) => c.set(k, v) }
        c
    }

  /** One vanilla `Configuration` per JVM: building one parses the default
    * XML resources, too slow for every micro-batch and query. Hadoop
    * reloads it when a default resource is added later. */
  private lazy val vanillaConf = new Configuration()

  /** The driver-side hadoop conf entries that differ from a vanilla
    * `Configuration` — the serializable slice (`spark.hadoop.*` overrides
    * and site-file settings) an executor needs to reconstruct the
    * driver's view. Raw values are compared (executors substitute
    * `${var}`s themselves); computed from the live conf on every call, so
    * a key set at runtime still ships. */
  def confOverrides(s: SparkSession): Map[String, String] =
    s.sparkContext.hadoopConfiguration.asScala
      .map(e => e.getKey -> e.getValue)
      .filter { case (k, v) => vanillaConf.getRaw(k) != v }
      .toMap

  def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf())
  def fs(p: Path, conf: Configuration): FileSystem = p.getFileSystem(conf)

  private val ShardDirRe = """shard-\d{4}""".r

  /** Shard name → shard directory, discovered by listing. Only
    * `shard-NNNN` dirs count — stream-level metadata (write-epoch
    * markers, temp staging) must never masquerade as a shard. */
  def listShards(streamDir: Path): Map[String, Path] = {
    val f = fs(streamDir)
    if (!f.exists(streamDir)) Map.empty
    else f.listStatus(streamDir)
      .filter(s => s.isDirectory && ShardDirRe.matches(s.getPath.getName))
      .map(s => s.getPath.getName -> s.getPath).toMap
  }

  /** The chunks of one shard, seq-ordered. Filenames only — no data read.
    * In-flight temp files (non-matching names) are invisible: a chunk
    * exists only once its atomic rename into a ChunkName-shaped name. */
  def shardChunks(shardDir: Path): Seq[Chunk] = shardChunks(shardDir, hadoopConf())

  def shardChunks(shardDir: Path, conf: Configuration): Seq[Chunk] =
    fs(shardDir, conf).listStatus(shardDir).flatMap { st =>
      st.getPath.getName match {
        case ChunkName(s, e) => Some(Chunk(s.toLong, e.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(_.start).toSeq

  /** End seq (exclusive) of every shard — the stream's current head. */
  def currentEnds(streamDir: Path): Map[String, Long] =
    listShards(streamDir).map { case (name, dir) =>
      name -> shardChunks(dir).lastOption.map(_.end).getOrElse(0L)
    }

  /** Shard lineage metadata (the Kinesis reshard contract): a CHILD shard
    * carries a `_parent` file naming the shard it was split/merged from; a
    * CLOSED parent carries a `_closed` marker (Kinesis: the parent's
    * SequenceNumberRange gains an end and it takes no more writes). */
  private[sources] val ParentFileName = "_parent"
  private[sources] val ClosedFileName = "_closed"

  /** Root-level pin of the layout's shard count, written by the first
    * producer ([[GraftShards.writeSharded]] or the DSv2 sink) — later
    * sinks validate their `numShards` against it instead of a
    * possibly-partial shard-dir listing. */
  private[sources] val NumShardsFileName = "_numShards"

  private[sources] def readSmall(f: FileSystem, p: Path): String = {
    val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
    val in = f.open(p)
    try in.readFully(0L, bytes) finally in.close()
    new String(bytes, StandardCharsets.UTF_8)
  }

  /** The ONE numShards contract check, shared by every producer (the DSv2
    * sink and [[GraftShards.writeSharded]] — a weaker per-producer copy is
    * how the batch path shipped without the reshard check). Enforces, in
    * order:
    *  - a resharded layout (any `_closed` shard) never takes a flat
    *    `pmod(hash, numShards)` producer — its routing set is the reshard
    *    CHILDREN;
    *  - an existing `_numShards` pin must match exactly;
    *  - absent a pin, existing live shard dirs must count exactly
    *    numShards (0 dirs = fresh stream), after which the pin is
    *    published atomically so later runs validate against the producer's
    *    own declaration rather than a possibly-partial dir listing. */
  private[sources] def validateAndPinNumShards(f: FileSystem, root: Path,
      numShards: Int, who: String): Unit = {
    val shards = listShards(root)
    val (closed, live) =
      shards.values.partition(d => f.exists(new Path(d, ClosedFileName)))
    require(closed.isEmpty,
      s"$who: $root has been resharded (closed: " +
        s"${closed.map(_.getName).toSeq.sorted.mkString(", ")}) — a flat " +
        "pmod(hash, numShards) producer cannot target a reshard lineage; " +
        "write to a fresh stream dir")
    val pin = new Path(root, NumShardsFileName)
    if (f.exists(pin)) {
      val pinned = readSmall(f, pin).trim.toInt
      require(pinned == numShards,
        s"$who: numShards=$numShards but $root is pinned to $pinned " +
          s"shards ($NumShardsFileName) — changing shard count re-routes " +
          "keys mid-stream and breaks per-key ordering; grow a stream by " +
          "resharding (GraftShards.split/merge), not by changing numShards")
    } else {
      require(live.isEmpty || live.size == numShards,
        s"$who: numShards=$numShards does not match the ${live.size} live " +
          s"shard dirs under $root — pass the shard count this layout was " +
          "ORIGINALLY written with (a partial layout can have fewer dirs " +
          "than its true count: if shards simply never received data, " +
          "pre-create the missing shard-NNNN dirs to disambiguate); a " +
          "mismatched value re-routes keys and breaks per-key ordering")
      // temp + rename so a concurrent validator never reads a torn pin;
      // losing the publish race to an identical pin is benign
      f.mkdirs(root)
      val tmp = new Path(root,
        s"_tmp-pin-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = f.create(tmp, true)
      out.write(numShards.toString.getBytes(StandardCharsets.UTF_8))
      out.close()
      if (!f.rename(tmp, pin)) {
        f.delete(tmp, false)
        require(f.exists(pin) && readSmall(f, pin).trim.toInt == numShards,
          s"$who: failed to publish the $NumShardsFileName pin at $root")
      }
    }
  }

  /** The parent shard names a child declares (one per line): one for a
    * SPLIT child, two for a MERGE child, empty for an original shard.
    * Immutable once the child dir exists — callers may cache the answer. */
  def shardParents(shardDir: Path): Seq[String] = {
    val p = new Path(shardDir, ParentFileName)
    val f = fs(shardDir)
    if (!f.exists(p)) Seq.empty
    else {
      val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      val in = f.open(p)
      try in.readFully(0L, bytes) finally in.close()
      new String(bytes, StandardCharsets.UTF_8).split("\n")
        .map(_.trim).filter(_.nonEmpty).toSeq
    }
  }

  /** Whether a shard is closed (will never take another record). Monotone:
    * once true, always true. */
  def shardClosed(shardDir: Path): Boolean =
    fs(shardDir).exists(new Path(shardDir, ClosedFileName))

  /** First seq of the shard whose chunk ARRIVED (file mtime — the analog
    * of Kinesis ApproximateArrivalTimestamp, at chunk granularity) at or
    * after `tsMs`; the shard head if every chunk predates it. Metadata
    * only — no chunk is opened. */
  def startAtTimestamp(shardDir: Path, tsMs: Long): Long = {
    val stats = fs(shardDir).listStatus(shardDir).flatMap { st =>
      st.getPath.getName match {
        case ChunkName(s, e) => Some((s.toLong, e.toLong, st.getModificationTime))
        case _ => None
      }
    }.sortBy(_._1)
    stats.find(_._3 >= tsMs).map(_._1)
      .getOrElse(stats.lastOption.map(_._2).getOrElse(0L))
  }
}

/** Checkpointable offset: shard name → next seq to read. */
case class GraftShardsOffset(positions: Map[String, Long]) extends Offset {
  override def json(): String = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.Serialization.write(positions)
  }
}

object GraftShardsOffset {
  def fromJson(json: String): GraftShardsOffset = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    GraftShardsOffset(org.json4s.jackson.Serialization.read[Map[String, Long]](json))
  }
}

class GraftShardsProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-shards"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftShardsSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // the row shape is fixed (shard, seq, data) — reject a user-supplied
    // schema loudly instead of mis-binding fields at read time
    require(schema == GraftShardsSource.Schema,
      s"graft-shards emits ${GraftShardsSource.Schema.simpleString}; " +
        s"user schemas are not supported (got ${schema.simpleString})")
    new GraftShardsTable(properties.get("path"))
  }
}

class GraftShardsTable(path: String) extends Table
    with SupportsRead with SupportsWrite {
  require(path != null, "graft-shards requires .load(<streamDir>)")
  override def name(): String = s"graft-shards:$path"
  override def schema(): StructType = GraftShardsSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = GraftShardsSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftShardsMicroBatchStream(path, options)
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftShardsWrite.Builder(path,
      info.options.getInt("numShards", GraftShards.NumShards), info)
}

class GraftShardsMicroBatchStream(path: String, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import GraftShardsSource._

  private val streamDir = new Path(path)
  private val startingPosition =
    options.getOrDefault("startingPosition", "TRIM_HORIZON").toUpperCase
  require(
    Seq("TRIM_HORIZON", "LATEST", "AT_SEQUENCE_NUMBER", "AT_TIMESTAMP")
      .contains(startingPosition),
    s"startingPosition must be TRIM_HORIZON, LATEST, AT_SEQUENCE_NUMBER " +
      s"or AT_TIMESTAMP, got $startingPosition")
  private val maxPerShard =
    options.getLong("maxRecordsPerShardPerTrigger", Long.MaxValue)
  require(maxPerShard > 0, "maxRecordsPerShardPerTrigger must be positive")

  /** AvailableNow contract: the run drains up to the head snapshotted at
    * prepare time, even while a producer keeps appending. */
  private var availableNowCap: Option[Map[String, Long]] = None

  /** The remaining two Kinesis iterator types, resolved to per-shard seqs
    * ONCE at first start (later batches follow the checkpoint):
    *  - AT_SEQUENCE_NUMBER: `startingSequenceNumber` (every shard) and/or
    *    the per-shard JSON map `startingSequenceNumbers`
    *    (`{"shard-0000": 5}` — shards absent from both default to 0);
    *  - AT_TIMESTAMP: `startingTimestampMs` epoch millis, resolved per
    *    shard to the first chunk that arrived at/after it
    *    ([[GraftShardsSource.startAtTimestamp]]). */
  override def initialOffset(): Offset = startingPosition match {
    case "LATEST" => GraftShardsOffset(currentEnds(streamDir))
    case "AT_SEQUENCE_NUMBER" =>
      val perShard = Option(options.get("startingSequenceNumbers")).map { j =>
        implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
        org.json4s.jackson.Serialization.read[Map[String, Long]](j)
      }.getOrElse(Map.empty)
      val scalar = options.getLong("startingSequenceNumber", 0L)
      // union the named shards into the offset even when they don't exist
      // yet at first start — a later-appearing shard named in
      // startingSequenceNumbers must begin at its REQUESTED seq, not fall
      // through to the 0 trim horizon the newly-discovered-shard path uses
      GraftShardsOffset(
        (currentEnds(streamDir).keySet ++ perShard.keySet).map { s =>
          s -> perShard.getOrElse(s, scalar)
        }.toMap)
    case "AT_TIMESTAMP" =>
      require(options.containsKey("startingTimestampMs"),
        "AT_TIMESTAMP requires startingTimestampMs (epoch millis)")
      val ts = options.getLong("startingTimestampMs", 0L)
      GraftShardsOffset(listShards(streamDir).map { case (name, dir) =>
        name -> startAtTimestamp(dir, ts)
      })
    case _ => GraftShardsOffset(currentEnds(streamDir).map { case (s, _) => s -> 0L })
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentEnds(streamDir))

  /** Admission-control contract: advertise the option-derived cap as the
    * DEFAULT limit and honor whatever `limit` the engine hands back in
    * [[latestOffset]] — never re-read the option there. `maxRows` is
    * interpreted PER SHARD (the Kinesis `getRecords(Limit)` shape this
    * option models, svckinesis.js:198). */
  override def getDefaultReadLimit: ReadLimit =
    if (maxPerShard == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxPerShard)

  private def perShardCap(limit: ReadLimit): Long = limit match {
    case m: ReadMaxRows => m.maxRows()
    case c: CompositeReadLimit =>
      // AvailableNow composes the default with its own drain bound; the
      // tightest row cap wins (allAvailable members impose none)
      c.getReadLimits.map(perShardCap).min
    case _ => Long.MaxValue // ReadAllAvailable and anything rate-free
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  // shard lineage cache: a child's _parent links are immutable and _closed
  // is monotone — cache positives, re-probe unknowns each batch
  private val parentsOf = scala.collection.mutable.Map[String, Seq[String]]()
  private val knownClosed = scala.collection.mutable.Set[String]()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftShardsOffset].positions
    val cap = perShardCap(limit)
    // ONE listing pass per trigger (shards + per-shard chunk heads from
    // the same snapshot) — on an object store the listing IS the dominant
    // per-batch metadata cost. Re-discovery every batch = resharding
    // support: a shard dir created after the query started shows up here
    // and reads from ITS trim horizon.
    val shards = listShards(streamDir)
    val liveEnds: Map[String, Long] = shards.map { case (name, dir) =>
      name -> shardChunks(dir).lastOption.map(_.end).getOrElse(0L)
    }
    val heads = availableNowCap.getOrElse(liveEnds)
    // Parent→child ordering (the Kinesis reshard contract): a child makes
    // NO progress until EVERY parent (one for a split, two for a merge) is
    // closed AND fully consumed, so a key's post-reshard records can never
    // overtake its pre-reshard tail. The gate compares against a parent's
    // FINAL head (liveEnds — this trigger's uncapped snapshot), never an
    // AvailableNow cap: a capped snapshot must not unlock a child while a
    // parent still has a tail beyond the cap.
    val finalEnds: Map[String, Long] = liveEnds
    def parentDrained(name: String): Boolean =
      parentsOf.getOrElseUpdate(name,
        shards.get(name).map(shardParents).getOrElse(Seq.empty)).forall { p =>
        val closed = knownClosed.contains(p) || {
          // a parent whose dir has aged out entirely counts as closed
          val c = shards.get(p).forall(shardClosed)
          if (c) knownClosed += p
          c
        }
        closed && from.getOrElse(p, 0L) >= finalEnds.getOrElse(p, 0L)
      }
    GraftShardsOffset(heads.map { case (s, head) =>
      val cur = from.getOrElse(s, 0L)
      // saturating step: cur + cap would overflow at the unlimited
      // default (Long.MaxValue)
      val stepped = cur + math.max(0L, math.min(head - cur, cap))
      s -> (if (stepped > cur && !parentDrained(s)) cur else stepped)
    } ++ (from -- heads.keys)) // never forget a checkpointed shard
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftShardsOffset].positions
    val to = end.asInstanceOf[GraftShardsOffset].positions
    val shards = listShards(streamDir)
    to.toSeq.sortBy(_._1).flatMap { case (name, endSeq) =>
      val startSeq = from.getOrElse(name, 0L)
      // ONE partition per shard — the per-shard ordering contract
      if (endSeq > startSeq && shards.contains(name))
        Some(GraftShardPartition(name, shards(name).toString, startSeq, endSeq))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftShardsReaderFactory(confOverrides(SparkSession.active))

  override def deserializeOffset(json: String): Offset =
    GraftShardsOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class GraftShardPartition(shard: String, shardDir: String,
    startSeq: Long, endSeq: Long) extends InputPartition

case class GraftShardsReaderFactory(confOverrides: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftShardPartition]
    new PartitionReader[InternalRow] {
      private val conf = GraftShardsSource.hadoopConf(confOverrides)
      private val dir = new Path(p.shardDir)
      private val chunks = GraftShardsSource.shardChunks(dir, conf)
        .filter(c => c.end > p.startSeq && c.start < p.endSeq).iterator
      private val shardUtf8 = UTF8String.fromString(p.shard)
      private var lines: Iterator[String] = Iterator.empty
      private var reader: java.io.BufferedReader = _
      private var seq: Long = -1L
      private var current: InternalRow = _

      private def openNextChunk(): Boolean = {
        if (reader != null) { reader.close(); reader = null }
        if (!chunks.hasNext) return false
        val c = chunks.next()
        reader = new java.io.BufferedReader(new java.io.InputStreamReader(
          GraftShardsSource.fs(dir, conf).open(c.path), StandardCharsets.UTF_8))
        seq = c.start - 1
        lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
        true
      }

      override def next(): Boolean = {
        while (true) {
          if (lines.hasNext) {
            val line = lines.next(); seq += 1
            if (seq >= p.endSeq) return false
            if (seq >= p.startSeq) {
              current = new GenericInternalRow(
                Array[Any](shardUtf8, seq, UTF8String.fromString(line)))
              return true
            }
          } else if (!openNextChunk()) return false
        }
        false // unreachable
      }

      override def get(): InternalRow = current
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}

/** Producer-side helpers: write a DataFrame as a sharded stream and keep a
  * content-versioned sharded copy of the events table for the streaming
  * queries. */
object GraftShards {
  val NumShards = 4
  val ChunkSize = 5000

  def shardDirName(i: Int): String = f"shard-$i%04d"

  /** Atomic chunk publication: the final name advertises the full
    * [start,end) seq range, and `latestOffset` is metadata-only — so a
    * chunk created under its final name could be observed MID-WRITE, the
    * offset committed past `end`, and the unread tail skipped forever.
    * Write to a temp name the ChunkName regex ignores, then rename into
    * place (atomic on HDFS/local; on object stores the rename is
    * copy+delete but the final name still appears only complete). */
  private def publishChunk(f: FileSystem, shardDir: Path,
      start: Long, end: Long, lines: Iterable[String]): Unit = {
    val tmp = new Path(shardDir,
      s"_tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    out.close()
    val dst = new Path(shardDir, GraftShardsSource.chunkFileName(start, end))
    if (!f.rename(tmp, dst)) {
      f.delete(tmp, false)
      throw new java.io.IOException(
        s"chunk rename failed (concurrent writer to the same head?): $dst")
    }
  }

  /** Write `df` as a graft-shards stream layout under `dir`: Kinesis-style
    * key routing (`pmod(hash(key), numShards)` — same key, same shard,
    * like partition-keying by txnId at aprocess.js:155-159), records
    * JSON-encoded one per line, per-shard seq assigned in `order` sort.
    * Each shard is written by the task that owns it after a hash
    * repartition, so the build is one distributed pass — no driver
    * collect. */
  def writeSharded(df: DataFrame, dir: String, numShards: Int = NumShards,
      key: Column, order: Seq[Column], chunkSize: Int = ChunkSize): Unit =
    writeShardedBy(df, dir, numShards, pmod(hash(key), lit(numShards)),
      order, chunkSize)

  /** [[writeSharded]] with an EXPLICIT shard-number expression (must yield
    * ints in [0, numShards)). The hash-keyed form is the Kinesis default;
    * an explicit rule (e.g. `pmod(doc_id, n)`) makes the layout — and
    * therefore rate-limited batch membership — mirrorable by an external
    * oracle, which hash routing can never be. */
  def writeShardedBy(df: DataFrame, dir: String, numShards: Int,
      shard: Column, order: Seq[Column], chunkSize: Int = ChunkSize): Unit = {
    val dataCols = df.columns.map(col)
    val target = dir // stable reference for the closure
    val overrides = GraftShardsSource.confOverrides(df.sparkSession)
    // the constant-numShards contract — the same reshard/pin/live-dir
    // check the DSv2 sink runs (shared helper: a weaker per-producer copy
    // is how this path shipped without the reshard refusal)
    GraftShardsSource.validateAndPinNumShards(
      GraftShardsSource.fs(new Path(dir), GraftShardsSource.hadoopConf(overrides)),
      new Path(dir), numShards, "writeSharded")
    df.withColumn("__shard", shard.cast("int"))
      .withColumn("__data", to_json(struct(dataCols: _*)))
      .repartition(numShards, col("__shard"))
      .sortWithinPartitions(col("__shard") +: order: _*)
      .select(col("__shard"), col("__data"))
      .foreachPartition { (rows: Iterator[Row]) =>
        val f = GraftShardsSource.fs(new Path(target),
          GraftShardsSource.hadoopConf(overrides))
        // hash partitioning can land several shards in one task; rows of
        // one shard are consecutive after the sort
        var currentShard = -1
        var seq = 0L
        var buf = Vector.empty[String]
        def flush(): Unit = if (buf.nonEmpty) {
          val shardDir = new Path(target, shardDirName(currentShard))
          publishChunk(f, shardDir, seq - buf.size, seq, buf)
          buf = Vector.empty
        }
        rows.foreach { r =>
          val shard = r.getInt(0)
          if (shard != currentShard) { flush(); currentShard = shard; seq = 0L }
          buf :+= r.getString(1)
          seq += 1
          if (buf.size >= chunkSize) flush()
        }
        flush()
      }
  }

  /** Max record count over the shards of a written layout — METADATA
    * only: chunk filenames carry their [start, end) seq range and
    * [[writeShardedBy]] seqs every shard from 0, so the last chunk's end
    * IS the shard's record count. Replaces the groupBy(route).count()
    * aggregate each ingest loop ran per run to size its trigger cap (a
    * full Spark job over the source table); the value is identical by
    * construction — the layout was routed by exactly the rule the agg
    * re-applied (r17; guide §1.2 fewer passes). */
  def maxShardCount(dir: String): Long = {
    val ends = GraftShardsSource.currentEnds(new Path(dir))
    if (ends.isEmpty) 0L else ends.values.max
  }

  /** One-record convenience append (tests / live producers): adds a chunk
    * of the given JSON lines at the shard's current head, published
    * atomically via [[publishChunk]].
    *
    * SINGLE WRITER PER SHARD: head discovery + publish has no CAS, so two
    * concurrent appenders to one shard would compute the same head and
    * race on the same final name (exactly Kinesis's per-shard producer
    * discipline). Concurrent appenders to DIFFERENT shards are fine. */
  def append(dir: String, shard: Int, lines: Seq[String]): Unit = {
    val shardDir = new Path(dir, shardDirName(shard))
    val end = GraftShardsSource.currentEnds(new Path(dir))
      .getOrElse(shardDirName(shard), 0L)
    publishChunk(GraftShardsSource.fs(shardDir), shardDir, end, end + lines.size, lines)
  }

  /** Producer-side reshard: SPLIT `parent` into `children` — close the
    * parent (it takes no more writes, like a Kinesis parent whose
    * SequenceNumberRange gains an end) and create the child dirs with
    * their lineage declared. Consumers ([[GraftShardsMicroBatchStream]])
    * hold each child until its parent is fully drained, preserving
    * per-key order across the split — the contract the reference punts on
    * (svckinesis.js:187). Call AFTER the last parent append. */
  def split(dir: String, parent: Int, children: Seq[Int]): Unit =
    reshard(dir, Seq(parent), children)

  /** Producer-side reshard: MERGE `parents` into one `child` (Kinesis
    * MergeShards — both adjacent parents close, the child carries both
    * lineages and consumers drain BOTH parents before reading it). */
  def merge(dir: String, parents: Seq[Int], child: Int): Unit =
    reshard(dir, parents, Seq(child))

  private def reshard(dir: String, parents: Seq[Int], children: Seq[Int]): Unit = {
    val root = new Path(dir)
    val f = GraftShardsSource.fs(root)
    // children must be NEW shards (the Kinesis model): a pre-existing dir
    // may already sit in a consumer's lineage cache as parentless, which
    // would permanently bypass the drain gate — refuse loudly
    children.foreach { c =>
      val cDir = new Path(root, shardDirName(c))
      require(!f.exists(cDir),
        s"reshard child ${shardDirName(c)} already exists under $dir — " +
          "children must be brand-new shards")
    }
    parents.foreach { p =>
      val pDir = new Path(root, shardDirName(p))
      f.mkdirs(pDir)
      f.create(new Path(pDir, GraftShardsSource.ClosedFileName), true).close()
    }
    val lineage = parents.map(shardDirName).mkString("\n")
    children.foreach { c =>
      // lineage-first atomicity: build the child under a temp name the
      // shard-dir regex ignores and rename into place, so no consumer can
      // ever list the child dir WITHOUT its _parent file (a parentless
      // sighting would be cached and never re-probed)
      val tmp = new Path(root,
        s"_tmp-shard-${java.util.UUID.randomUUID().toString.take(8)}")
      f.mkdirs(tmp)
      val out = f.create(new Path(tmp, GraftShardsSource.ParentFileName), true)
      out.write(lineage.getBytes(StandardCharsets.UTF_8))
      out.close()
      val cDir = new Path(root, shardDirName(c))
      if (!f.rename(tmp, cDir)) {
        f.delete(tmp, true)
        throw new java.io.IOException(s"reshard child publish failed: $cDir")
      }
    }
  }

  /** Content fingerprint of a dataset file/dir: its (name, length, mtime)
    * stats hashed. Any derived artifact keyed by this stamp is rebuilt
    * when the source data is regenerated — never silently reused stale. */
  def contentStamp(d: String, file: String): String = {
    val src = new Path(s"$d/$file")
    val f = GraftShardsSource.fs(src)
    val st = f.getFileStatus(src)
    val parts =
      if (st.isDirectory) f.listStatus(src).map(c =>
        s"${c.getPath.getName}:${c.getLen}:${c.getModificationTime}").sorted
      else Array(s"${st.getLen}:${st.getModificationTime}")
    java.security.MessageDigest.getInstance("MD5")
      .digest((d + "/" + file + ":" + parts.mkString(","))
        .getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
  }

  def ensureShardedEvents(s: SparkSession, d: String): String =
    ensureDerivedShards(s, d, "events")(rawEvents(s, d))

  /** [[ensureShardedEvents]] plus one far-future sentinel record per
    * event_type of interest (event_id/user_id = -1, ts = max + 30 days).
    * Sentinels exist to ADVANCE THE WATERMARK past all real data at the
    * end of a bounded run — the only way a stream-stream OUTER join's
    * null-matches all flush before an AvailableNow query terminates.
    * Consumers drop rows with negative ids AFTER the sink (filtering
    * inside the streaming plan would be pushed below the watermark
    * operator and defeat the sentinel — measured, not hypothetical). */
  def ensureShardedEventsWithSentinels(s: SparkSession, d: String): String =
    ensureDerivedShards(s, d, "events-sentinel") {
      val raw = rawEvents(s, d)
      val sentTs = raw.agg(max(col("ts"))).head().getLong(0) +
        30L * 86400L * 1000000L // ts travels as epoch MICROS (see rawEvents)
      val schema = graft.streaming.Streaming.eventsRawSchema
      val sentinels = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(-1L, sentTs, -1L, "purchase", 0.0, "{}"),
          org.apache.spark.sql.Row(-2L, sentTs, -1L, "click", 0.0, "{}")),
        schema)
      raw.unionAll(sentinels)
    }

  /** Events in the WIRE shape records carry through the shard layout:
    * `ts` as an epoch-MICROSECOND long (a Kinesis-style record payload is
    * engine-neutral JSON; a raw long survives JSON round-trips exactly,
    * a timestamp string would not). Built on the normalized
    * [[graft.Tables.events]] loader so the wire shape is identical no
    * matter which parquet layout the generator shipped. */
  private def rawEvents(s: SparkSession, d: String) =
    graft.Tables.events(s, d).withColumn("ts", unix_micros(col("ts")))

  /** Build-once-per-content sharded copy of a dataset derivation. */
  private def ensureDerivedShards(s: SparkSession, d: String, tag: String)(
      build: => DataFrame): String = synchronized {
    val stamp = contentStamp(d, "events.parquet")
    val target = s"${System.getProperty("java.io.tmpdir")}/graft-shards/$tag-$stamp"
    val marker = new Path(s"$target/_SUCCESS")
    val tfs = GraftShardsSource.fs(marker)
    if (!tfs.exists(marker)) {
      tfs.delete(new Path(target), true)
      writeSharded(build, target, NumShards,
        key = col("user_id"), order = Seq(col("ts"), col("event_id")))
      tfs.create(marker, true).close()
    }
    target
  }

  /** Record shape of [[documentsShards]]: the writer selects exactly these
    * columns and the ingest readers parse the JSON payload with it. */
  val DocWire: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Record shape of [[embeddingsShards]] (the vector as array<double>). */
  val EmbWire: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("label", IntegerType),
    StructField("v", ArrayType(DoubleType))))

  /** Build-once sharded copy of the `documents` table for the streaming
    * ingest demos: shard = `doc_id mod NumShards` and per-shard doc_id
    * order — an EXPLICIT routing rule ([[writeShardedBy]]), so an external
    * oracle can reconstruct exactly which rate-limited micro-batch every
    * document lands in (`seq div limit`); the production hash routing
    * would make batch membership unmirrorable. */
  def documentsShards(s: SparkSession, d: String): String = synchronized {
    val stamp = contentStamp(d, "documents.parquet")
    val target =
      s"${System.getProperty("java.io.tmpdir")}/graft-shards/docs-$stamp"
    val marker = new Path(s"$target/_SUCCESS")
    val tfs = GraftShardsSource.fs(marker)
    if (!tfs.exists(marker)) {
      tfs.delete(new Path(target), true)
      writeShardedBy(
        graft.Tables.documents(s, d).select(DocWire.fieldNames.map(col): _*),
        target, NumShards, pmod(col("doc_id"), lit(NumShards)),
        order = Seq(col("doc_id")))
      tfs.create(marker, true).close()
    }
    target
  }

  /** [[documentsShards]] for the `embeddings` table (vec_id-mod routing).
    * The wire carries the vector as array<DOUBLE>, not the parquet float:
    * float→JSON→double does NOT round-trip to `CAST(float AS DOUBLE)`
    * (the JSON writer emits the shortest string recovering the FLOAT,
    * which parses to a different double), so the cast happens BEFORE
    * serialization and both engines see identical doubles. */
  def embeddingsShards(s: SparkSession, d: String): String = synchronized {
    val stamp = contentStamp(d, "embeddings.parquet")
    val target =
      s"${System.getProperty("java.io.tmpdir")}/graft-shards/embs-$stamp"
    val marker = new Path(s"$target/_SUCCESS")
    val tfs = GraftShardsSource.fs(marker)
    if (!tfs.exists(marker)) {
      tfs.delete(new Path(target), true)
      writeShardedBy(
        graft.Tables.embeddings(s, d)
          .withColumn("v", transform(col("embedding"), x => x.cast("double")))
          .select(EmbWire.fieldNames.map(col): _*),
        target, NumShards, pmod(col("vec_id"), lit(NumShards)),
        order = Seq(col("vec_id")))
      tfs.create(marker, true).close()
    }
    target
  }
}
