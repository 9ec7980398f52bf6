package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.write.WriterCommitMessage

/** Unit-level pins for the sink's two-phase epoch commit — the branches an
  * end-to-end run can't reach deterministically:
  *
  *  - INTENT ROLL-FORWARD: a previous attempt crashed after persisting the
  *    intent manifest (seqs assigned) but before finishing its renames.
  *    The replay must complete the ORIGINAL plan — including renames the
  *    crashed attempt already performed — and discard its own staged
  *    temps, or records double-publish.
  *  - COMMITTED-MARKER SKIP: a replay of a fully committed epoch must drop
  *    its temps and change nothing.
  *
  * Lives in package graft.sources to drive `EpochWrite.commit` with
  * hand-built commit messages. */
class GraftShardsWriteProtocolSpec extends graft.SparkSpec {

  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  private def stage(dir: String, shard: Int, name: String, lines: Seq[String]): String = {
    val shardDir = new Path(dir, GraftShards.shardDirName(shard))
    val f = GraftShardsSource.fs(shardDir)
    f.mkdirs(shardDir)
    val p = new Path(shardDir, name)
    val out = f.create(p, true)
    out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    out.close()
    p.toString
  }

  private def chunkLines(dir: String, shard: Int): Seq[(String, Seq[String])] = {
    val shardDir = new Path(dir, GraftShards.shardDirName(shard))
    GraftShardsSource.shardChunks(shardDir).map { c =>
      val f = GraftShardsSource.fs(shardDir)
      val bytes = new Array[Byte](f.getFileStatus(c.path).getLen.toInt)
      val in = f.open(c.path)
      try in.readFully(0L, bytes) finally in.close()
      c.path.getName ->
        new String(bytes, StandardCharsets.UTF_8).split("\n").toSeq
    }
  }

  test("a crashed epoch's intent rolls forward: original plan completes, replay temps dropped") {
    spark // fixture touch: an active session for hadoopConf resolution
    val dir = java.nio.file.Files.createTempDirectory("graft-wproto").toString
    val f = GraftShardsSource.fs(new Path(dir))
    // the CRASHED attempt: staged two temps, persisted its intent, then
    // performed only the FIRST rename before dying
    val t1a = stage(dir, 0, "_wtmp-7-0-aaaa", Seq("r0", "r1"))
    val t1b = stage(dir, 1, "_wtmp-7-0-bbbb", Seq("r2"))
    val intent = Seq(
      GraftShardsWrite.PlannedRename(t1a, 0, 0L, 2L),
      GraftShardsWrite.PlannedRename(t1b, 1, 0L, 1L))
    val epochs = new Path(dir, GraftShardsWrite.EpochsDirName)
    f.mkdirs(epochs)
    val out = f.create(new Path(epochs, "7.intent"), true)
    out.write(org.json4s.jackson.Serialization.write(intent)
      .getBytes(StandardCharsets.UTF_8))
    out.close()
    assert(f.rename(new Path(t1a),
      new Path(new Path(dir, GraftShards.shardDirName(0)),
        GraftShardsSource.chunkFileName(0L, 2L)))) // the rename that DID land
    // the REPLAY attempt: re-staged the same records as fresh temps
    val t2a = stage(dir, 0, "_wtmp-7-0-cccc", Seq("r0", "r1"))
    val t2b = stage(dir, 1, "_wtmp-7-0-dddd", Seq("r2"))
    val write = new GraftShardsWrite.EpochWrite(dir, 2, "q", Map.empty)
    write.commit(7L, Array[WriterCommitMessage](
      GraftShardsWrite.CommitMsg(0, Map(0 -> (t2a, 2L), 1 -> (t2b, 1L)))))
    // exactly the ORIGINAL plan's chunks, exactly once
    assert(chunkLines(dir, 0) ==
      Seq(GraftShardsSource.chunkFileName(0L, 2L) -> Seq("r0", "r1")))
    assert(chunkLines(dir, 1) ==
      Seq(GraftShardsSource.chunkFileName(0L, 1L) -> Seq("r2")))
    // replay temps dropped, intent gone, marker present
    for (s <- Seq(0, 1)) {
      val names = f.listStatus(new Path(dir, GraftShards.shardDirName(s)))
        .map(_.getPath.getName).toSet
      assert(!names.exists(_.startsWith("_wtmp-")), s"stray temps in shard $s: $names")
    }
    assert(!f.exists(new Path(epochs, "7.intent")))
    assert(f.exists(new Path(epochs, "7.committed")))

    // a SECOND replay of the committed epoch: temps dropped, nothing changes
    val t3 = stage(dir, 0, "_wtmp-7-1-eeee", Seq("dup"))
    write.commit(7L, Array[WriterCommitMessage](
      GraftShardsWrite.CommitMsg(1, Map(0 -> (t3, 1L)))))
    assert(chunkLines(dir, 0) ==
      Seq(GraftShardsSource.chunkFileName(0L, 2L) -> Seq("r0", "r1")))
    assert(!f.exists(new Path(t3)))
  }

  test("layout validation: the numShards pin is written, enforced, and matched") {
    spark
    val dir = java.nio.file.Files.createTempDirectory("graft-wpin").toString
    val f = GraftShardsSource.fs(new Path(dir))
    // fresh dir: any numShards passes and pins the layout
    new GraftShardsWrite.EpochWrite(dir, 2, "q", Map.empty)
      .createStreamingWriterFactory(null)
    assert(f.exists(new Path(dir, GraftShardsSource.NumShardsFileName)))
    // a later sink with a different numShards refuses loudly
    val e = intercept[IllegalArgumentException](
      new GraftShardsWrite.EpochWrite(dir, 4, "q", Map.empty)
        .createStreamingWriterFactory(null))
    assert(e.getMessage.contains("pinned"))
    // the matching count keeps working
    new GraftShardsWrite.EpochWrite(dir, 2, "q", Map.empty)
      .createStreamingWriterFactory(null)
  }

  test("layout validation: unpinned layouts fall back to live-dir count; reshards refuse") {
    spark
    val dir = java.nio.file.Files.createTempDirectory("graft-wdirs").toString
    (0 to 2).foreach(s => GraftShards.append(dir, s, Seq(s"r$s")))
    // 3 live dirs, no pin (appends don't pin): numShards=2 re-routes keys
    val e = intercept[IllegalArgumentException](
      new GraftShardsWrite.EpochWrite(dir, 2, "q", Map.empty)
        .createStreamingWriterFactory(null))
    assert(e.getMessage.contains("live shard dirs"))
    // the matching count passes and pins for the future
    new GraftShardsWrite.EpochWrite(dir, 3, "q", Map.empty)
      .createStreamingWriterFactory(null)
    // a reshard closes a parent: the flat sink refuses even at the pinned
    // count — its hash cannot target the children
    GraftShards.split(dir, 0, Seq(3, 4))
    val e2 = intercept[IllegalArgumentException](
      new GraftShardsWrite.EpochWrite(dir, 3, "q", Map.empty)
        .createStreamingWriterFactory(null))
    assert(e2.getMessage.contains("resharded"))
  }

  test("writeSharded pins numShards and a mismatched writeSharded refuses") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wspin").toString
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    GraftShards.writeSharded(df, dir, 2, col("k"), Seq(col("k")))
    val e = intercept[IllegalArgumentException](
      GraftShards.writeSharded(df, dir, 4, col("k"), Seq(col("k"))))
    assert(e.getMessage.contains("pinned"))
    // a sink at the pinned count is accepted on the producer's layout
    new GraftShardsWrite.EpochWrite(dir, 2, "q", Map.empty)
      .createStreamingWriterFactory(null)
  }

  test("writeSharded enforces the FULL contract: reshards and unpinned mismatches refuse") {
    // the batch producer shares the sink's validateAndPinNumShards — it
    // must not keep a weaker private variant (the pin alone would pass a
    // post-reshard layout whose pin still names the pre-split count)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft-wsfull").toString
    GraftShards.writeSharded(df, dir, 2, col("k"), Seq(col("k")))
    GraftShards.split(dir, 0, Seq(2, 3))
    val e = intercept[IllegalArgumentException](
      GraftShards.writeSharded(df, dir, 2, col("k"), Seq(col("k"))))
    assert(e.getMessage.contains("resharded"))
    // unpinned layout (manual appends) with a mismatched count refuses too
    val dir2 = java.nio.file.Files.createTempDirectory("graft-wsfull2").toString
    (0 to 2).foreach(s => GraftShards.append(dir2, s, Seq(s"r$s")))
    val e2 = intercept[IllegalArgumentException](
      GraftShards.writeSharded(df, dir2, 2, col("k"), Seq(col("k"))))
    assert(e2.getMessage.contains("live shard dirs"))
  }

  test("staging writer refuses a shard closed by a mid-run reshard") {
    spark
    val dir = java.nio.file.Files.createTempDirectory("graft-wclosed").toString
    val numShards = 2
    val factory = new GraftShardsWrite.EpochWrite(dir, numShards, "q", Map.empty)
      .createStreamingWriterFactory(null) // validates + pins BEFORE the reshard
    // reshard happens while the query runs: shard 0 closes
    GraftShards.split(dir, 0, Seq(2, 3))
    // a key routed to the closed parent must refuse at write time
    val key = (0 to 100).map(_.toString).find(k =>
      GraftShardsWrite.shardOf(
        org.apache.spark.unsafe.types.UTF8String.fromString(k), numShards) == 0).get
    val writer = factory.createWriter(0, 0L, 0L)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(key),
        org.apache.spark.unsafe.types.UTF8String.fromString("payload")))
    val e = intercept[IllegalArgumentException](writer.write(row))
    assert(e.getMessage.contains("closed"))
    writer.abort()
    // the open sibling shard still accepts
    val okKey = (0 to 100).map(_.toString).find(k =>
      GraftShardsWrite.shardOf(
        org.apache.spark.unsafe.types.UTF8String.fromString(k), numShards) == 1).get
    val writer2 = factory.createWriter(0, 0L, 1L)
    writer2.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(okKey),
        org.apache.spark.unsafe.types.UTF8String.fromString("payload"))))
    writer2.commit()
  }

  test("AT_SEQUENCE_NUMBER keeps requested seqs for shards that appear later") {
    spark
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = java.nio.file.Files.createTempDirectory("graft-atseq").toString
    GraftShards.append(dir, 0, Seq("a", "b"))
    val stream = new GraftShardsMicroBatchStream(dir,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(Map(
        "startingPosition" -> "AT_SEQUENCE_NUMBER",
        "startingSequenceNumbers" -> """{"shard-0001": 2}""").asJava))
    // the named-but-not-yet-existing shard is in the initial offset at its
    // REQUESTED seq (round-4 behavior dropped it, so it re-read from 0)
    val init = stream.initialOffset().asInstanceOf[GraftShardsOffset]
    assert(init.positions == Map("shard-0000" -> 0L, "shard-0001" -> 2L))
    // the shard appears with 4 records: the first batch reads [2, 4), not [0, 4)
    GraftShards.append(dir, 1, Seq("x0", "x1", "x2", "x3"))
    val next = stream.latestOffset(init, ReadLimit.allAvailable())
      .asInstanceOf[GraftShardsOffset]
    assert(next.positions("shard-0001") == 4L)
    val part = stream.planInputPartitions(init, next)
      .collectFirst { case p: GraftShardPartition if p.shard == "shard-0001" => p }
    assert(part.map(p => (p.startSeq, p.endSeq)).contains((2L, 4L)))
  }

  test("a fresh epoch assigns contiguous per-shard seqs in partition order") {
    spark
    val dir = java.nio.file.Files.createTempDirectory("graft-wproto2").toString
    GraftShards.append(dir, 0, Seq("pre0", "pre1")) // existing head at 2
    val tA = stage(dir, 0, "_wtmp-3-0-aaaa", Seq("p0r0"))
    val tB = stage(dir, 0, "_wtmp-3-1-bbbb", Seq("p1r0", "p1r1"))
    val write = new GraftShardsWrite.EpochWrite(dir, 1, "q", Map.empty)
    // partition 1's message listed FIRST: commit must still order by
    // partitionId, so partition 0's records take the earlier seqs
    write.commit(3L, Array[WriterCommitMessage](
      GraftShardsWrite.CommitMsg(1, Map(0 -> (tB, 2L))),
      GraftShardsWrite.CommitMsg(0, Map(0 -> (tA, 1L)))))
    assert(chunkLines(dir, 0) == Seq(
      GraftShardsSource.chunkFileName(0L, 2L) -> Seq("pre0", "pre1"),
      GraftShardsSource.chunkFileName(2L, 3L) -> Seq("p0r0"),
      GraftShardsSource.chunkFileName(3L, 5L) -> Seq("p1r0", "p1r1")))
  }

  test("one chunk per shard per epoch; dense seqs; per-key order kept within a producer partition") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val numShards = 4
    val dir = java.nio.file.Files.createTempDirectory("graft-wdist").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-wdist-ck").toString
    // 40 keys x 3 rows each, seq 0..2 per key, over 4 input partitions
    val in = MemoryStream[(String, Long)](4)
    in.addData(for (i <- 0 until 3; k <- 0 until 40) yield (s"k$k", i.toLong))
    val q = in.toDF().select(col("_1").as("key"),
        concat_ws(":", col("_1"), spark_partition_id(), col("_2")).as("data"))
      .writeStream.format("graft-shards").option("numShards", numShards.toString)
      .option("checkpointLocation", ckpt).start(dir)
    try q.processAllAvailable() finally q.stop()
    val byShard = (0 until numShards).map(sh => sh -> chunkLines(dir, sh)).toMap
    val touched = byShard.filter(_._2.nonEmpty)
    assert(touched.size == numShards, s"shards touched: ${touched.keySet}")
    // one epoch, one chunk per shard, seqs dense from 0
    touched.foreach { case (sh, chunks) =>
      assert(chunks.size == 1, s"shard $sh chunks: ${chunks.map(_._1)}")
      assert(chunks.head._1 == GraftShardsSource.chunkFileName(0L, chunks.head._2.size),
        s"shard $sh: ${chunks.head._1}")
    }
    val rows = byShard.values.flatten.flatMap(_._2).toSeq
    assert(rows.size == 120)
    // every key in its routed shard, and in input order per producer;
    // non-vacuous: some key has several rows from one producer
    val perProducer = rows.map(_.split(":")).groupBy(a => (a(0), a(1)))
    assert(perProducer.values.exists(_.size > 1), "no key had 2 rows in one partition")
    byShard.foreach { case (sh, chunks) =>
      val recs = chunks.flatMap(_._2).map(_.split(":")).map(a => (a(0), a(1), a(2).toLong))
      recs.foreach { case (k, _, _) =>
        assert(GraftShardsWrite.shardOf(
          org.apache.spark.unsafe.types.UTF8String.fromString(k), numShards) == sh)
      }
      recs.groupBy(r => (r._1, r._2)).foreach { case (kp, rs) =>
        assert(rs.map(_._3) == rs.map(_._3).sorted, s"order of $kp in shard $sh: $rs")
      }
    }
  }

  test("a fresh checkpoint on a written stream dir refuses") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft-wowner").toString
    // three epochs of five rows each, from a query with its own checkpoint
    def run(tag: String): Unit = {
      val in = MemoryStream[String]
      val q = in.toDF().select(col("value").as("key"), col("value").as("data"))
        .writeStream.format("graft-shards").option("numShards", "2")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"graft-wowner-$tag").toString)
        .start(dir)
      try (0 until 3).foreach { e =>
        in.addData((0 until 5).map(i => s"$tag-$e-$i"))
        q.processAllAvailable()
      } finally q.stop()
    }
    run("a")
    // B numbers its epochs from 0 again, and A's markers cover 0..2
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run("b"))
    assert(e.getMessage.contains("is written by streaming query"), e.getMessage)
    val records = (0 until 2).flatMap(chunkLines(dir, _)).flatMap(_._2)
    assert(records.sorted == (for (ep <- 0 until 3; i <- 0 until 5) yield s"a-$ep-$i").sorted)
  }

  test("planted: the same 4-partition epoch staged without the distribution leaves several chunks in a shard") {
    spark
    val numShards = 4
    val dir = java.nio.file.Files.createTempDirectory("graft-wnodist").toString
    val write = new GraftShardsWrite.EpochWrite(dir, numShards, "q", Map.empty)
    val factory = write.createStreamingWriterFactory(null)
    // each input partition stages its own rows, as a write with no
    // shuffle in front of it does
    val msgs = (0 until 4).map { p =>
      val w = factory.createWriter(p, p.toLong, 0L)
      (0 until 40).filter(_ % 4 == p).foreach { k =>
        w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(s"k$k"),
            org.apache.spark.unsafe.types.UTF8String.fromString(s"k$k:$p:0"))))
      }
      w.commit()
    }.toArray
    write.commit(0L, msgs)
    val most = (0 until numShards).map(chunkLines(dir, _).size).max
    assert(most > 1, s"chunks per shard: $most")
  }
}
