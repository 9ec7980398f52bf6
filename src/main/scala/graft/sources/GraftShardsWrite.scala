package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortOrder}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The WRITE half of the graft-shards stream — the reference's
  * `doNotification` Kinesis `putRecord` (s3-for-process-data/
  * aprocess.js:148-163): each record is `(key, data)`, partition-keyed so
  * one key always lands in one shard (PartitionKey = txnId at :157).
  * With both halves, one pipeline's sink IS another pipeline's source —
  * the reference's aprocess→svckinesis topology — via
  * `.writeStream.format("graft-shards")` into the same layout
  * `.readStream.format("graft-shards")` consumes.
  *
  * Input schema contract (validated at plan time): exactly
  * `(key STRING, data STRING)` — the PutRecord shape. Routing is
  * `pmod(murmur3(key), numShards)`, the same hash `writeSharded` and
  * Spark's `hash()` use, so producer-side layouts and sink-side layouts
  * key identically.
  *
  * ONE CHUNK PER SHARD PER EPOCH: the write requires its input clustered
  * by `key` into exactly `numShards` partitions, and Spark's hash
  * partitioning (`pmod(murmur3(key, 42), n)`) is the routing hash, so each
  * write task holds the rows of exactly one shard. Without that shuffle,
  * every input partition would stage its own chunk in every shard it
  * touches (tasks × shards chunks per epoch), and every reader would open
  * each of them.
  *
  * PER-KEY ORDER, as in Kinesis, holds per producer: the rows of one input
  * partition keep their relative order in their shard (the shuffle reads
  * each map output's block in order), while rows of different input
  * partitions interleave in no promised order.
  *
  * EXACTLY-ONCE across restarts, in three steps per epoch:
  *  1. tasks stage their rows into a TEMP file per shard they hold
  *     (`_wtmp-…`, invisible to the ChunkName-regex reader) and report
  *     (shard → temp, count);
  *  2. the driver assigns contiguous seq ranges per shard in partition
  *     order, persists an INTENT manifest (`_epochs/<e>.intent`, written
  *     atomically), then renames each temp to its final chunk name;
  *  3. a committed marker (`_epochs/<e>.committed`) lands last.
  * A replayed epoch (engine crash before the checkpoint commit) either
  * finds the marker — skip, drop the replay's temps — or finds the
  * intent — roll the renames forward, never re-assigning seqs. A crash
  * at ANY point leaves the stream readable: readers only ever see fully
  * renamed chunks.
  *
  * Epoch ids mean something only within the query that numbered them:
  * the marker skip above would silently drop a second query's epochs
  * (its fresh checkpoint numbers them from 0 again), and seq-range
  * assignment has no cross-writer CAS, exactly like
  * [[GraftShards.append]]'s per-shard discipline. So a stream dir has a
  * SINGLE WRITING QUERY, enforced: its first writing query binds it by an
  * exclusive create of `_query` holding the query id (the id a checkpoint
  * keeps across restarts), and any other query refuses loudly before it
  * stages a row.
  *
  * Keep `numShards` CONSTANT for a stream's lifetime — changing it
  * re-routes keys mid-stream and breaks per-key order; growing a stream
  * is a reshard ([[GraftShards.split]]/[[GraftShards.merge]]), exactly
  * as in Kinesis.
  */
object GraftShardsWrite {
  val WriteSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("data", StringType, nullable = false),
  ))

  private[sources] val EpochsDirName = "_epochs"

  /** The stream dir's owner file: the id of the one query that writes it. */
  private[sources] val QueryFileName = "_query"

  /** The write's clustering column, built once: `Expressions.column` runs
    * the SQL parser on every call. */
  private val ByKey: Array[Expression] = Array(Expressions.column("key"))

  /** Spark SQL `hash()` of a string key, mod numShards — matches
    * [[GraftShards.writeSharded]]'s `pmod(hash(key), n)` routing. */
  def shardOf(key: UTF8String, numShards: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      key.getBaseObject, key.getBaseOffset, key.numBytes(), 42)
    ((h % numShards) + numShards) % numShards
  }

  /** One planned temp→chunk rename, serialized into the intent manifest. */
  private[sources] case class PlannedRename(
      tmp: String, shard: Int, start: Long, end: Long)

  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  private def writeAtomic(f: FileSystem, dst: Path, body: String): Unit = {
    val tmp = new Path(dst.getParent,
      s"_tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    out.write(body.getBytes(StandardCharsets.UTF_8))
    out.close()
    if (!f.rename(tmp, dst)) {
      f.delete(tmp, false)
      throw new java.io.IOException(s"atomic publish failed: $dst")
    }
  }

  final class Builder(path: String, numShards: Int, info: LogicalWriteInfo)
      extends WriteBuilder {
    // names + types only: the query side is typically nullable (to_json,
    // tuple encoders) and null keys are rejected per row instead
    require(info.schema().fields.map(f => (f.name, f.dataType)).toSeq ==
        WriteSchema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"graft-shards sink takes ${WriteSchema.simpleString} (the Kinesis " +
        s"PutRecord shape: partition key + opaque payload); got " +
        s"${info.schema().simpleString} — to_json(struct(*)) the payload " +
        "and select the routing key")
    override def build(): org.apache.spark.sql.connector.write.Write =
      new RequiresDistributionAndOrdering {
        // one task per shard: Spark hash-partitions `key` by
        // pmod(murmur3(key, 42), n), which is exactly [[shardOf]]
        override def requiredDistribution(): Distribution =
          Distributions.clustered(ByKey)
        override def requiredNumPartitions(): Int = numShards
        override def requiredOrdering(): Array[SortOrder] = Array.empty
        override def toStreaming: StreamingWrite =
          new EpochWrite(path, numShards, info.queryId(),
            GraftShardsSource.confOverrides(
              org.apache.spark.sql.SparkSession.active))
      }
  }

  final class EpochWrite(path: String, numShards: Int, queryId: String,
      overrides: Map[String, String]) extends StreamingWrite {
    import GraftShardsSource._

    // once per query run (the factory hook fires per micro-batch)
    @volatile private var layoutValidated = false

    override def createStreamingWriterFactory(
        info: PhysicalWriteInfo): StreamingDataWriterFactory = {
      // the single-writing-query and constant-numShards contracts, enforced
      // BEFORE the first row is staged: the owner binding, then reshard
      // refusal, pin match, live-dir fallback + atomic pin publication
      // ([[GraftShardsSource.validateAndPinNumShards]]; mid-RUN reshards
      // are caught by the writer-side _closed guard)
      if (!layoutValidated) {
        val root = new Path(path)
        val f = fs(root, hadoopConf(overrides))
        bindQuery(f, root)
        GraftShardsSource.validateAndPinNumShards(f, root, numShards,
          "graft-shards sink")
        layoutValidated = true
      }
      WriterFactory(path, numShards, overrides)
    }

    /** Bind the stream dir to this query on first write, or check that it
      * is bound to it; any other owner refuses, as a held [[Lease]] does. */
    private def bindQuery(f: FileSystem, root: Path): Unit = {
      val p = new Path(root, QueryFileName)
      if (!StoreMaint.createExclusive(f, p, queryId.getBytes(StandardCharsets.UTF_8))) {
        val owner = readSmall(f, p)
        if (owner != queryId) throw new IllegalStateException(
          s"$path is written by streaming query $owner, not $queryId: epoch " +
            "ids are per query, so this query's epochs would be skipped as " +
            "already committed. Resume the owning query's checkpoint or " +
            "point this query at a fresh stream dir.")
      }
    }

    private def temps(messages: Array[WriterCommitMessage]): Seq[String] =
      messages.collect { case m: CommitMsg => m }
        .flatMap(_.perShard.values.map(_._1)).toSeq

    private def dropTemps(f: FileSystem, messages: Array[WriterCommitMessage]): Unit =
      temps(messages).foreach(t => f.delete(new Path(t), false))

    override def commit(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit = {
      val root = new Path(path)
      val f = fs(root, hadoopConf(overrides))
      val epochs = new Path(root, EpochsDirName)
      val done = new Path(epochs, s"$epochId.committed")
      val intent = new Path(epochs, s"$epochId.intent")
      if (f.exists(done)) { dropTemps(f, messages); return } // replayed epoch
      f.mkdirs(epochs)
      if (f.exists(intent)) {
        // a previous attempt crashed mid-rename: finish ITS plan (seqs are
        // already assigned — re-planning would double-publish), then drop
        // this replay's freshly staged temps
        rollForward(f, root, readIntent(f, intent))
        writeAtomic(f, done, "")
        f.delete(intent, false)
        dropTemps(f, messages)
        sweep(f, root, epochId)
        return
      }
      // plan: contiguous per-shard seq ranges, tasks in partition order —
      // metadata-only head discovery, same as the read side
      val heads = scala.collection.mutable.Map[String, Long]()
        .withDefaultValue(0L) ++= currentEnds(root)
      val renames = messages.collect { case m: CommitMsg => m }
        .sortBy(_.partitionId).flatMap { m =>
          m.perShard.toSeq.sortBy(_._1).map { case (shard, (tmp, count)) =>
            val name = GraftShards.shardDirName(shard)
            val start = heads(name)
            heads(name) = start + count
            PlannedRename(tmp, shard, start, start + count)
          }
        }.toSeq
      writeAtomic(f, intent, org.json4s.jackson.Serialization.write(renames))
      rollForward(f, root, renames)
      writeAtomic(f, done, "")
      f.delete(intent, false)
      sweep(f, root, epochId)
    }

    /** Execute (or finish) an intent's renames — idempotent: a rename whose
      * destination already exists was completed by the crashed attempt. */
    private def rollForward(f: FileSystem, root: Path,
        renames: Seq[PlannedRename]): Unit =
      renames.foreach { r =>
        val shardDir = new Path(root, GraftShards.shardDirName(r.shard))
        val dst = new Path(shardDir, chunkFileName(r.start, r.end))
        val src = new Path(r.tmp)
        if (!f.exists(dst)) {
          if (!f.rename(src, dst))
            throw new java.io.IOException(
              s"epoch roll-forward lost a staged chunk: $src -> $dst")
        } else f.delete(src, false)
      }

    private def readIntent(f: FileSystem, p: Path): Seq[PlannedRename] = {
      val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      val in = f.open(p)
      try in.readFully(0L, bytes) finally in.close()
      org.json4s.jackson.Serialization.read[Seq[PlannedRename]](
        new String(bytes, StandardCharsets.UTF_8))
    }

    /** Bounded housekeeping after a successful commit: stray temps of THIS
      * epoch (earlier crashed attempts), stray temps of long-gone epochs
      * (a query that died without restart leaves them invisible but
      * permanent), and epoch markers older than a replay could ever reach
      * (only the latest epoch can replay). */
    private def sweep(f: FileSystem, root: Path, epochId: Long): Unit = {
      val TempEpoch = """_wtmp-(\d+)-.*""".r
      listShards(root).values.foreach { dir =>
        f.listStatus(dir).map(_.getPath).foreach { p =>
          p.getName match {
            case TempEpoch(e) if e.toLong == epochId || e.toLong < epochId - 10 =>
              f.delete(p, false)
            case _ => ()
          }
        }
      }
      val epochs = new Path(root, EpochsDirName)
      f.listStatus(epochs).map(_.getPath).foreach { p =>
        val n = p.getName.takeWhile(_.isDigit)
        if (n.nonEmpty && n.toLong < epochId - 10) f.delete(p, false)
      }
    }

    override def abort(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit = {
      val root = new Path(path)
      val f = fs(root, hadoopConf(overrides))
      dropTemps(f, messages.filter(_ != null))
    }
  }

  private case class WriterFactory(path: String, numShards: Int,
      overrides: Map[String, String]) extends StreamingDataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long,
        epochId: Long): DataWriter[InternalRow] =
      new ShardStagingWriter(path, numShards, overrides, partitionId, epochId)
  }

  /** One commit message per task: shard → (staged temp file, record count).
    * private[sources] so the commit-protocol spec can exercise the
    * roll-forward branch directly. */
  private[sources] case class CommitMsg(partitionId: Int,
      perShard: Map[Int, (String, Long)]) extends WriterCommitMessage

  /** Streams a task's rows into one temp file per shard it holds (one,
    * under the write's required distribution) — per-shard order within a
    * task is input order. */
  private final class ShardStagingWriter(path: String, numShards: Int,
      overrides: Map[String, String], partitionId: Int, epochId: Long)
      extends DataWriter[InternalRow] {
    private val root = new Path(path)
    private val conf = GraftShardsSource.hadoopConf(overrides)
    private val f = GraftShardsSource.fs(root, conf)
    private val open = scala.collection.mutable.Map[Int,
      (Path, java.io.BufferedWriter, Long)]()

    override def write(row: InternalRow): Unit = {
      val key = row.getUTF8String(0)
      require(key != null, "graft-shards sink: key must not be null " +
        "(it is the partition key)")
      val data = row.getUTF8String(1)
      require(data != null, "graft-shards sink: data must not be null " +
        "(the record payload; Kinesis PutRecord requires Data)")
      // the layout is line-per-seq: an embedded newline would stage as two
      // lines but count as one record, silently corrupting every seq after
      // it — refuse loudly (JSON-encoded payloads never contain raw \n)
      require(!data.toString.contains('\n'),
        "graft-shards sink: data must not contain newlines " +
          "(line-delimited layout; JSON-encode the payload)")
      val shard = GraftShardsWrite.shardOf(key, numShards)
      val (p, w, n) = open.getOrElseUpdate(shard, {
        val dir = new Path(root, GraftShards.shardDirName(shard))
        // a closed (resharded) parent takes no more writes — refuse loudly,
        // mirroring reshard()'s style: silently staging here would violate
        // the monotone-closed contract the reader's parent-drain gate
        // relies on, so a key's post-reshard records could overtake its
        // pre-reshard tail (checked per touched shard per task; the
        // driver-side validateLayout covers reshards that predate the run)
        require(!f.exists(new Path(dir, GraftShardsSource.ClosedFileName)),
          s"graft-shards sink: ${GraftShards.shardDirName(shard)} under " +
            s"$path is closed (resharded parent) — this sink's " +
            "pmod(hash, numShards) routing predates the reshard; restart " +
            "the sink against a fresh or post-reshard stream")
        f.mkdirs(dir)
        val tmp = new Path(dir, s"_wtmp-$epochId-$partitionId-" +
          java.util.UUID.randomUUID().toString.take(8))
        (tmp, new java.io.BufferedWriter(new java.io.OutputStreamWriter(
          f.create(tmp, true), StandardCharsets.UTF_8)), 0L)
      })
      w.write(data.toString)
      w.write('\n')
      open(shard) = (p, w, n + 1)
    }

    override def commit(): WriterCommitMessage = {
      open.values.foreach(_._2.close())
      CommitMsg(partitionId,
        open.map { case (s, (p, _, n)) => s -> (p.toString, n) }.toMap)
    }

    override def abort(): Unit = {
      open.values.foreach { case (p, w, _) =>
        try w.close() catch { case _: Exception => () }
        f.delete(p, false)
      }
    }

    // the engine always calls close() last, including paths where neither
    // commit nor abort ran — never leak an open stream (BufferedWriter
    // close is idempotent, so the post-commit call is a no-op)
    override def close(): Unit =
      open.values.foreach { case (_, w, _) =>
        try w.close() catch { case _: Exception => () }
      }
  }
}
