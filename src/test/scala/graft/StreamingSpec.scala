package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Correlate
import graft.streaming.Correlate.{Completion, StatusEvent}

/** Pins the streaming semantics that have no batch oracle: keyed
  * correlation with timeout eviction (R11/R13) and late-data drop via
  * watermark. Uses MemoryStream so batch boundaries and watermark
  * advancement are fully deterministic. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  /** The completions, and the correlator's state rows after the last batch. */
  private def correlateRun(batches: Seq[Seq[StatusEvent]]): (Seq[Completion], Long) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StatusEvent]
    val out = Correlate.correlate(input.toDS())
    spark.catalog.dropTempView("corr_sink")
    val q = out.writeStream.format("memory").queryName("corr_sink")
      .outputMode(OutputMode.Append).start()
    val stateRows = try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      q.lastProgress.stateOperators.head.numRowsTotal
    } finally q.stop()
    (spark.table("corr_sink").as[Completion].collect().toSeq, stateRows)
  }

  private def runCorrelate(batches: Seq[Seq[StatusEvent]]): Seq[Completion] =
    correlateRun(batches)._1

  /** Runs `body` with a watermark-only batch after each data batch, which
    * the session plane turns off; restores the prior value. */
  private def withNoDataBatches[T](body: => T): T = {
    val k = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "true")
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  // NB: event times start at ts(1)+ — an event at epoch 0 equals the
  // query's initial watermark and is dropped as late on arrival.

  test("terminal status completes the txn; RUNNING passes through (R11)") {
    val got = runCorrelate(Seq(
      Seq(StatusEvent("t1", "RUNNING", ts(1)), StatusEvent("t2", "RUNNING", ts(2))),
      Seq(StatusEvent("t1", "SUCCEEDED", ts(5)), StatusEvent("t2", "FAILED", ts(6))),
      // watermark pusher so nothing is left pending by accident:
      Seq(StatusEvent("t9", "SUCCEEDED", ts(7))),
    ))
    val byTxn = got.groupBy(_.txnId).view.mapValues(_.map(_.finalStatus)).toMap
    assert(byTxn("t1") == Seq("SUCCEEDED"))
    assert(byTxn("t2") == Seq("FAILED"))
  }

  test("pending txn times out after 20 s event-time and is evicted (R13)") {
    // t2 can time out only in a watermark-only batch: no data follows ts(200)
    val got = withNoDataBatches(runCorrelate(Seq(
      Seq(StatusEvent("t1", "RUNNING", ts(5))),
      // watermark jumps past t1's timeout (5 s + 20 s):
      Seq(StatusEvent("t2", "RUNNING", ts(100))),
      Seq(StatusEvent("t3", "SUCCEEDED", ts(200))), // advance again → t2 times out
    )))
    val statuses = got.map(c => c.txnId -> c.finalStatus).toMap
    assert(statuses("t1") == "TIMEOUT")
    assert(statuses("t2") == "TIMEOUT")
    assert(statuses("t3") == "SUCCEEDED")
  }

  test("late terminal event after timeout is dropped (headers-already-sent, R13)") {
    val got = runCorrelate(Seq(
      Seq(StatusEvent("t1", "RUNNING", ts(5))),
      Seq(StatusEvent("t2", "RUNNING", ts(100))), // t1 times out here
      // t1's SUCCEEDED arrives with ts(6) — behind the watermark; the state
      // is gone and the event is filtered by the watermark → no new output
      Seq(StatusEvent("t1", "SUCCEEDED", ts(6))),
      Seq(StatusEvent("t3", "SUCCEEDED", ts(300))),
    ))
    assert(got.count(_.txnId == "t1") == 1)
    assert(got.find(_.txnId == "t1").get.finalStatus == "TIMEOUT")
  }

  test("duplicate terminal events collapse to one completion (R14 exactly-once)") {
    val got = runCorrelate(Seq(
      Seq(StatusEvent("t1", "SUCCEEDED", ts(10)),
        StatusEvent("t1", "SUCCEEDED", ts(11))), // same batch duplicate
      Seq(StatusEvent("t2", "SUCCEEDED", ts(50))),
    ))
    assert(got.count(_.txnId == "t1") == 1)
  }

  test("terminal re-delivered above the watermark AFTER a timeout is suppressed") {
    val got = runCorrelate(Seq(
      Seq(StatusEvent("t1", "RUNNING", ts(5))),
      Seq(StatusEvent("t2", "RUNNING", ts(100))), // watermark jump -> t1 TIMEOUT
      // an at-least-once source re-delivers t1's terminal RE-STAMPED above
      // the watermark: the timeout tombstone must swallow it
      Seq(StatusEvent("t1", "SUCCEEDED", ts(101))),
      Seq(StatusEvent("t3", "SUCCEEDED", ts(300))),
    ))
    assert(got.count(_.txnId == "t1") == 1)
    assert(got.find(_.txnId == "t1").get.finalStatus == "TIMEOUT")
  }

  test("cross-batch re-delivered terminal with newer ts is suppressed by the tombstone") {
    val got = runCorrelate(Seq(
      Seq(StatusEvent("t1", "SUCCEEDED", ts(10))),
      // at-least-once source re-stamps the duplicate ABOVE the watermark:
      // without the completion tombstone this emitted a second Completion
      Seq(StatusEvent("t1", "SUCCEEDED", ts(12))),
      Seq(StatusEvent("t9", "SUCCEEDED", ts(100))), // watermark pusher
    ))
    assert(got.count(_.txnId == "t1") == 1)
    assert(got.count(_.txnId == "t9") == 1)
  }

  test("a new txn's terminal more than 20 s behind the newest event completes it; the query lives on") {
    // with no watermark-only batch, the third batch evicts at watermark
    // 100 s while t1's ts(50) is above the previous batch's 1 s, so t1 and
    // t2 reach the function with their 20 s deadlines already below it
    val got = runCorrelate(Seq(
      Seq(StatusEvent("t0", "RUNNING", ts(1))),
      Seq(StatusEvent("t9", "RUNNING", ts(100))),
      Seq(StatusEvent("t1", "SUCCEEDED", ts(50)), StatusEvent("t2", "RUNNING", ts(60))),
      Seq(StatusEvent("t3", "SUCCEEDED", ts(300))),
      Seq(StatusEvent("t4", "SUCCEEDED", ts(400))), // watermark 300 s: t2 times out
    ))
    val statuses = got.groupBy(_.txnId).view.mapValues(_.map(_.finalStatus)).toMap
    assert(statuses("t0") == Seq("TIMEOUT"))
    assert(statuses("t1") == Seq("SUCCEEDED"))
    assert(statuses("t2") == Seq("TIMEOUT"))
    assert(statuses("t3") == Seq("SUCCEEDED"))
  }

  test("a tombstone hit by a re-delivered terminal still expires (state stays bounded)") {
    val (got, stateRows) = correlateRun(Seq(
      Seq(StatusEvent("t1", "SUCCEEDED", ts(10))),
      Seq(StatusEvent("t1", "SUCCEEDED", ts(12))), // re-delivery reaches the tombstone
      Seq(StatusEvent("t9", "RUNNING", ts(100))),
      Seq(StatusEvent("t8", "RUNNING", ts(101))), // watermark 100 s: t1's tombstone expires
    ))
    assert(got.map(_.txnId) == Seq("t1"))
    assert(stateRows == 2, "only the pending t8 and t9 may hold state")
  }

  test("session_window merges events EXACTLY one gap apart (oracle boundary pin)") {
    import org.apache.spark.sql.functions._
    // q33's oracle marks a new session only when gap > 30 min (`<=` keeps
    // the session). Spark's session_window must agree at the boundary:
    // two events exactly 1800 s apart merge into ONE session. Verified
    // behavior pinned here so an engine-version change surfaces in CI.
    val df = Seq((1L, ts(0)), (1L, ts(1800))).toDF("user_id", "ts")
    val sessions = df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count().collect()
    assert(sessions.length == 1 && sessions.head.getLong(2) == 2)
  }

  test("stateful aggregation runs on the RocksDB state store (large-state path)") {
    import org.apache.spark.sql.functions._
    // HDFS-backed state (the default) holds state in executor heap — fine
    // for these bench queries, wrong for terabyte state. The deployment
    // answer is RocksDB; prove the same stateful plan runs on it and
    // produces identical results.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      input.addData(Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "a")))
      spark.catalog.dropTempView("rocks_sink")
      val q = input.toDS().toDF("id", "k")
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("rocks_sink")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table("rocks_sink").as[(String, Long)].collect().toMap
      assert(got == Map("a" -> 3L, "b" -> 1L))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("restart from checkpoint resumes exactly-once: old files not re-read, state kept") {
    import org.apache.spark.sql.functions._
    // the driver-restart story of the reference's consumer (its manual
    // NextShardIterator threading loses position on crash; checkpointing
    // IS the replacement, SURVEY §2.a R10) — prove a stateful aggregate
    // restarted from the checkpoint (a) keeps its state and (b) reads
    // ONLY data that arrived after the stop
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ckpt-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val events = Tables.events(spark, sfDir).select($"event_id", $"event_type")
    val part1 = events.filter($"event_id" % 2 === 0)
    val part2 = events.filter($"event_id" % 2 === 1)
    // the file source watches FLAT files in srcDir — flatten the one-part
    // dataframe write into a single file there
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = java.nio.file.Files.createTempDirectory("graft-ckpt-w").toString
      df.coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, name))
    }
    drop(part1, "f1.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType)))
    def agg = spark.readStream.schema(schema).parquet(srcDir)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    def run(sink: String): Long = {
      spark.catalog.dropTempView(sink)
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    val read1 = run("ckpt_run1")
    assert(read1 == part1.count())
    drop(part2, "f2.parquet")
    val read2 = run("ckpt_run2")
    // the restarted query consumed ONLY the new file...
    assert(read2 == part2.count(), s"restart re-read old data: $read2 rows")
    // ...yet its state carried the first run's counts: totals = batch answer
    val got = spark.table("ckpt_run2").as[(String, Long)].collect().toMap
    val exp = events.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == exp)
  }

  test("transformWithState: status trails accumulate across batches, terminal emits and resets") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[StatusEvent]
      val out = graft.streaming.StatusHistory.statusHistory(input.toDS())
      spark.catalog.dropTempView("twS_sink")
      val q = out.writeStream.format("memory").queryName("twS_sink")
        .outputMode(OutputMode.Append).start()
      try {
        // t1 accumulates across three batches; t2 completes immediately
        input.addData(Seq(StatusEvent("t1", "RUNNING", ts(1)),
          StatusEvent("t2", "SUCCEEDED", ts(1))))
        q.processAllAvailable()
        input.addData(Seq(StatusEvent("t1", "RUNNING", ts(2))))
        q.processAllAvailable()
        input.addData(Seq(StatusEvent("t1", "FAILED", ts(3)),
          // post-terminal event in the SAME batch opens a fresh trail
          StatusEvent("t1", "SUCCEEDED", ts(4))))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("twS_sink")
        .as[graft.streaming.StatusHistory.HistoryResult]
        .collect().map(r => (r.txnId, r.finalStatus) -> (r.nEvents, r.trail)).toMap
      assert(got(("t2", "SUCCEEDED")) == ((1, "SUCCEEDED")))
      assert(got(("t1", "FAILED")) == ((3, "RUNNING,RUNNING,FAILED")))
      assert(got(("t1", "SUCCEEDED")) == ((1, "SUCCEEDED")))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState event-time timers: terminal cancels, silence times out") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // t8's timer can fire only in a watermark-only batch: no data follows ts(300)
    try withNoDataBatches {
      val input = MemoryStream[StatusEvent]
      val out = graft.streaming.StatusHistory.correlateWithTimers(input.toDS())
      spark.catalog.dropTempView("twt_sink")
      val q = out.writeStream.format("memory").queryName("twt_sink")
        .outputMode(OutputMode.Append).start()
      try {
        // t1 stays RUNNING (timer armed at 5+20 s); t2 completes (timer
        // cancelled, tombstone armed); re-deliveries and watermark
        // pushers follow
        input.addData(Seq(StatusEvent("t1", "RUNNING", ts(5)),
          StatusEvent("t2", "RUNNING", ts(6))))
        q.processAllAvailable()
        input.addData(Seq(StatusEvent("t2", "SUCCEEDED", ts(8))))
        q.processAllAvailable()
        // re-stamped re-delivered terminal: tombstone must swallow it
        input.addData(Seq(StatusEvent("t2", "SUCCEEDED", ts(30))))
        q.processAllAvailable()
        input.addData(Seq(StatusEvent("t9", "RUNNING", ts(100)))) // wm→100; t1 times out
        q.processAllAvailable()
        // re-stamped terminal AFTER t1's timeout, ABOVE the watermark
        // (100 < 120): only the timeout tombstone can suppress it
        input.addData(Seq(StatusEvent("t1", "SUCCEEDED", ts(120))))
        q.processAllAvailable()
        input.addData(Seq(StatusEvent("t8", "RUNNING", ts(200)))) // wm → 200
        q.processAllAvailable()
        input.addData(Seq(StatusEvent("t7", "RUNNING", ts(300)))) // wm → 300; t9 fires
        q.processAllAvailable()
      } finally q.stop()
      val all = spark.table("twt_sink")
        .as[graft.streaming.StatusHistory.HistoryResult].collect()
      val got = all.map(r => r.txnId -> ((r.finalStatus, r.nEvents))).toMap
      assert(all.count(_.txnId == "t1") == 1) // timeout emitted exactly once
      assert(all.count(_.txnId == "t2") == 1) // completion emitted exactly once
      assert(got("t1") == (("TIMEOUT", 1)))
      assert(got("t2") == (("SUCCEEDED", 2))) // RUNNING + SUCCEEDED across batches
      assert(got("t9") == (("TIMEOUT", 1)))
      assert(got("t8") == (("TIMEOUT", 1))) // wm 300 > 200+20 (no-data batch)
      assert(!got.contains("t7")) // timer at 320, wm never passed it
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("file source rate limit: one file per micro-batch, converging agg (R10)") {
    import org.apache.spark.sql.functions._
    // the reference polls 5 records per getRecords call (svckinesis.js:193);
    // the Spark analog is maxFilesPerTrigger — prove the batching actually
    // happens and that the stateful aggregate converges to the batch answer
    val dir = java.nio.file.Files.createTempDirectory("graft-rate").toString
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"))
      .repartition(3).write.mode("overwrite").parquet(s"$dir/ev")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType)))
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/ev")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    spark.catalog.dropTempView("rate_sink")
    val q = agg.writeStream.format("memory").queryName("rate_sink")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches == 3, s"expected 3 rate-limited micro-batches, got $dataBatches")
    val got = spark.table("rate_sink").as[(String, Long)].collect().toMap
    val exp = Tables.events(spark, sfDir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    assert(got == exp)
  }

  test("dropDuplicatesWithinWatermark: dup inside horizon collapses, evicted key re-emits") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val out = input.toDS().toDF("id", "ts")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("id")
      .select(col("id"))
    spark.catalog.dropTempView("ddw_sink")
    // id 1 is evicted only by a watermark-only batch between b2 and b3
    withNoDataBatches {
      val q = out.writeStream.format("memory").queryName("ddw_sink")
        .outputMode(OutputMode.Append).start()
      try {
        // b1: first sight of 1 and 2 → both emit; watermark after b1 = 0
        input.addData(Seq((1L, ts(10)), (2L, ts(10)))); q.processAllAvailable()
        // b2: re-delivery of 1 within the horizon → suppressed; the ts(100)
        // row pushes the watermark to 90, past id 1's expiry (10 + 10)
        input.addData(Seq((1L, ts(11)), (9L, ts(100)))); q.processAllAvailable()
        // b3: id 1's state was evicted → re-delivery now re-emits (the
        // documented contract: dedup is guaranteed only within the horizon)
        input.addData(Seq((1L, ts(95)))); q.processAllAvailable()
      } finally q.stop()
    }
    val ids = spark.table("ddw_sink").as[Long].collect().toSeq
    assert(ids.count(_ == 1L) == 2, s"got $ids")
    assert(ids.count(_ == 2L) == 1)
    assert(ids.count(_ == 9L) == 1)
  }

  // ---- graft-shards: the Kinesis-shaped DSv2 source (R10) ----------------

  private def shardLayout(n: Int, chunk: Int = 3): String = {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-kin").toString
    val df = spark.range(1, n + 1).toDF("id")
      .withColumn("payload", concat(lit("rec-"), col("id")))
    graft.sources.GraftShards.writeSharded(df, dir, numShards = 2,
      key = col("id"), order = Seq(col("id")), chunkSize = chunk)
    dir
  }

  test("graft-shards: maxShardCount (metadata) equals the routing aggregate (R17)") {
    import org.apache.spark.sql.functions._
    // multi-chunk shards (chunk=3, 20 rows over 2 shards) so the helper
    // must take the LAST chunk's end, not a first/any chunk's
    val dir = shardLayout(20)
    val agg = spark.range(1, 21).toDF("id")
      .groupBy(pmod(hash(col("id")), lit(2))).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(graft.sources.GraftShards.maxShardCount(dir) == agg,
      "chunk-name metadata must reproduce the groupBy(route).count() max " +
        "the ingest loops derive their trigger cap from")
    // planted-positive self-checks: empty layout → 0; a layout whose
    // shards differ must report the max, not the min
    assert(graft.sources.GraftShards.maxShardCount(
      java.nio.file.Files.createTempDirectory("graft-kin-empty").toString) == 0L)
    val uneven = java.nio.file.Files.createTempDirectory("graft-kin-unev").toString
    graft.sources.GraftShards.writeShardedBy(
      spark.range(0, 10).toDF("id"), uneven, 2,
      when(col("id") < 8, lit(0)).otherwise(lit(1)), Seq(col("id")))
    assert(graft.sources.GraftShards.maxShardCount(uneven) == 8L)
  }

  test("graft-shards: per-shard ordering survives rate-limited micro-batches (R10)") {
    val dir = shardLayout(20)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val q = spark.readStream.format("graft-shards")
      .option("startingPosition", "TRIM_HORIZON")
      .option("maxRecordsPerShardPerTrigger", "2") // the getRecords Limit analog
      .load(dir)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = df.select(col("shard"), col("seq")).collect()
        seen.synchronized {
          seen ++= rows.map(r => (id, r.getString(0), r.getLong(1)))
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val byShard = seen.groupBy(_._2)
    assert(byShard.keySet.size == 2)
    assert(seen.size == 20, s"delivered ${seen.size} of 20") // exactly once
    for ((shard, rows) <- byShard) {
      val ordered = rows.sortBy(_._1) // batch order
      // per-shard ordering: seqs arrive 0,1,2,… in batch sequence
      assert(ordered.map(_._3) == (0L until ordered.size.toLong),
        s"$shard out of order: $ordered")
      // rate limit: never more than 2 records of one shard per batch
      for ((_, batch) <- rows.groupBy(_._1)) assert(batch.size <= 2)
    }
    // hash routing needn't split 10/10: the batch count is driven by the
    // fullest shard at 2 records per shard per trigger
    val expectBatches = (byShard.values.map(_.size).max + 1) / 2
    assert(seen.map(_._1).distinct.size == expectBatches,
      s"batches: ${seen.map(_._1).distinct} for shard sizes ${byShard.view.mapValues(_.size).toMap}")
  }

  test("graft-shards: LATEST starts at the head — only post-start records arrive (R10)") {
    val dir = shardLayout(10)
    spark.catalog.dropTempView("kin_latest")
    val q = spark.readStream.format("graft-shards")
      .option("startingPosition", "LATEST")
      .load(dir)
      .writeStream.format("memory").queryName("kin_latest")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("kin_latest").count() == 0) // pre-start backlog skipped
      graft.sources.GraftShards.append(dir, 0, Seq("""{"id":901}""", """{"id":902}"""))
      q.processAllAvailable()
      val got = spark.table("kin_latest")
        .select(col("data")).as[String].collect().toSet
      assert(got == Set("""{"id":901}""", """{"id":902}"""))
    } finally q.stop()
  }

  test("graft-shards: a shard added mid-stream is consumed from its trim horizon") {
    // the resharding case the reference explicitly punts on
    // (svckinesis.js:187 'DOES NOT handle stream resharding')
    val dir = shardLayout(10)
    spark.catalog.dropTempView("kin_reshard")
    val q = spark.readStream.format("graft-shards")
      .option("startingPosition", "TRIM_HORIZON")
      .load(dir)
      .writeStream.format("memory").queryName("kin_reshard")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("kin_reshard").count() == 10)
      // a split creates shard-0002; children are read from their start
      graft.sources.GraftShards.append(dir, 2, Seq("""{"id":777}""", """{"id":778}"""))
      q.processAllAvailable()
      val child = spark.table("kin_reshard")
        .filter(col("shard") === "shard-0002")
        .select(col("seq"), col("data")).as[(Long, String)].collect().sortBy(_._1)
      assert(child.toSeq == Seq((0L, """{"id":777}"""), (1L, """{"id":778}""")))
      assert(spark.table("kin_reshard").count() == 12)
    } finally q.stop()
  }

  test("graft-shards: a child shard waits for its closed parent to drain " +
      "(per-key order across a split)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kin-split").toString
    // a hot key's pre-split records land in the parent…
    graft.sources.GraftShards.append(dir, 0, (0 until 4).map(i => s"""{"k":"hot","n":$i}"""))
    graft.sources.GraftShards.append(dir, 0, (4 until 8).map(i => s"""{"k":"hot","n":$i}"""))
    // …then the shard splits and the key routes to a child
    graft.sources.GraftShards.split(dir, 0, Seq(2, 3))
    graft.sources.GraftShards.append(dir, 2, (8 until 12).map(i => s"""{"k":"hot","n":$i}"""))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, String)]
    val q = spark.readStream.format("graft-shards")
      .option("startingPosition", "TRIM_HORIZON")
      .option("maxRecordsPerShardPerTrigger", "2")
      .load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = df.select(col("shard"), col("seq"), col("data")).collect()
        seen.synchronized {
          seen ++= rows.map(r => (id, r.getString(0), r.getLong(1), r.getString(2)))
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(seen.size == 12, s"delivered ${seen.size} of 12")
    // THE contract: no child record in any batch at or before the batch
    // that carried the parent's last record — post-split records of a key
    // can never overtake its pre-split tail
    val parentBatches = seen.filter(_._2 == "shard-0000").map(_._1)
    val childBatches = seen.filter(_._2 == "shard-0002").map(_._1)
    assert(parentBatches.nonEmpty && childBatches.nonEmpty)
    assert(parentBatches.max < childBatches.min,
      s"child interleaved with parent: parent batches $parentBatches, " +
        s"child batches $childBatches")
    // and the key's payload order is globally the send order
    val ns = seen.sortBy(r => (r._1, r._3))
      .map(_._4).map(d => "\"n\":(\\d+)".r.findFirstMatchIn(d).get.group(1).toInt)
    assert(ns == (0 until 12), s"send order broken: $ns")
  }

  test("graft-shards: a merge child waits for BOTH closed parents to drain") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kin-merge").toString
    graft.sources.GraftShards.append(dir, 0, (0 until 4).map(i => s"""{"n":$i}"""))
    graft.sources.GraftShards.append(dir, 1, (4 until 10).map(i => s"""{"n":$i}"""))
    // Kinesis MergeShards: both parents close, one child carries both
    graft.sources.GraftShards.merge(dir, Seq(0, 1), 2)
    graft.sources.GraftShards.append(dir, 2, (10 until 14).map(i => s"""{"n":$i}"""))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format("graft-shards")
      .option("startingPosition", "TRIM_HORIZON")
      .option("maxRecordsPerShardPerTrigger", "2")
      .load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = df.select(col("shard")).collect()
        seen.synchronized { seen ++= rows.map(r => (id, r.getString(0))) }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(seen.size == 14, s"delivered ${seen.size} of 14")
    val childBatches = seen.filter(_._2 == "shard-0002").map(_._1)
    // the child must start only after the SLOWER parent drains (shard-0001
    // needs 3 rate-limited batches; shard-0000 only 2)
    for (parent <- Seq("shard-0000", "shard-0001")) {
      val pb = seen.filter(_._2 == parent).map(_._1)
      assert(pb.nonEmpty && pb.max < childBatches.min,
        s"child overtook $parent: parent batches $pb, child $childBatches")
    }
  }

  test("graft-shards: AT_SEQUENCE_NUMBER starts each shard at its requested seq") {
    val dir = shardLayout(10) // 2 shards
    val perShard = graft.sources.GraftShardsSource.currentEnds(
      new org.apache.hadoop.fs.Path(dir))
    // start shard-0000 two records before its head; shard-0001 at its head
    val s0Start = perShard("shard-0000") - 2
    spark.catalog.dropTempView("kin_atseq")
    val q = spark.readStream.format("graft-shards")
      .option("startingPosition", "AT_SEQUENCE_NUMBER")
      .option("startingSequenceNumbers",
        s"""{"shard-0000": $s0Start, "shard-0001": ${perShard("shard-0001")}}""")
      .load(dir)
      .writeStream.format("memory").queryName("kin_atseq")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val got = spark.table("kin_atseq")
        .select(col("shard"), col("seq")).as[(String, Long)].collect().toSet
      assert(got == Set(("shard-0000", s0Start), ("shard-0000", s0Start + 1)),
        s"got $got")
    } finally q.stop()
  }

  test("graft-shards: AT_SEQUENCE_NUMBER honors the requested seq for a " +
      "shard that appears AFTER first start") {
    val dir = shardLayout(10) // shard-0000 / shard-0001 exist
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kin-late").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
    def drain(): Unit = {
      val q = spark.readStream.format("graft-shards")
        .option("startingPosition", "AT_SEQUENCE_NUMBER")
        // name a shard that does NOT exist yet: its requested start must
        // land in the checkpointed initial offset, not be dropped and fall
        // through to the trim-horizon 0 the new-shard discovery path uses
        .option("startingSequenceNumbers", """{"shard-0002": 1}""")
        .option("startingSequenceNumber", "9999") // existing shards: at head
        .load(dir)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select(col("shard"), col("seq"), col("data")).collect()
            .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
          got.synchronized { got ++= rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(got.isEmpty, s"existing shards were capped at head, got $got")
    // the named shard appears with seqs 0..2; only 1.. may be delivered
    graft.sources.GraftShards.append(dir, 2,
      Seq("""{"id":100}""", """{"id":101}""", """{"id":102}"""))
    drain()
    assert(got.toSeq == Seq(
      ("shard-0002", 1L, """{"id":101}"""),
      ("shard-0002", 2L, """{"id":102}""")), s"got $got")
  }

  test("graft-shards: AT_TIMESTAMP starts at the first chunk arriving at/after the timestamp") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kin-ts").toString
    graft.sources.GraftShards.append(dir, 0, Seq("""{"id":1}""", """{"id":2}"""))
    graft.sources.GraftShards.append(dir, 0, Seq("""{"id":3}""", """{"id":4}"""))
    // pin chunk arrival times around T (mtime = the arrival proxy)
    val t = System.currentTimeMillis()
    val chunks = new java.io.File(dir, "shard-0000").listFiles()
      .filter(_.getName.endsWith(".jsonl")).sortBy(_.getName)
    assert(chunks.length == 2)
    assert(chunks(0).setLastModified(t - 60000))
    assert(chunks(1).setLastModified(t + 60000))
    spark.catalog.dropTempView("kin_atts")
    val q = spark.readStream.format("graft-shards")
      .option("startingPosition", "AT_TIMESTAMP")
      .option("startingTimestampMs", t.toString)
      .load(dir)
      .writeStream.format("memory").queryName("kin_atts")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val got = spark.table("kin_atts").select(col("data")).as[String].collect().toSet
      assert(got == Set("""{"id":3}""", """{"id":4}"""), s"got $got")
    } finally q.stop()
  }

  test("graft-shards: checkpoint restart is exactly-once (NextShardIterator → offsets)") {
    val dir = shardLayout(8)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kin-ckpt").toString
    // memory sink can't recover from a checkpoint — foreachBatch can
    def drain(): Seq[String] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = spark.readStream.format("graft-shards")
        .option("startingPosition", "TRIM_HORIZON")
        .load(dir)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select(col("data")).collect().map(_.getString(0))
          got.synchronized { got ++= rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.toSeq
    }
    assert(drain().size == 8)
    graft.sources.GraftShards.append(dir, 1, Seq("""{"id":555}"""))
    // the restarted run resumes from the checkpointed offsets: nothing
    // re-read, the one new record delivered once
    assert(drain() == Seq("""{"id":555}"""))
  }

  test("graft-shards: confOverrides rebuilds the driver's hadoop conf, runtime keys included") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.conf.Configuration
    val hc = spark.sparkContext.hadoopConfiguration
    // the driver keys a vanilla conf plus `overrides` gets wrong, raw or resolved
    def mismatches(overrides: Map[String, String]): Seq[String] = {
      val rebuilt = new Configuration()
      overrides.foreach { case (k, v) => rebuilt.set(k, v) }
      hc.asScala.map(_.getKey).toSeq.filter(k =>
        rebuilt.getRaw(k) != hc.getRaw(k) || rebuilt.get(k) != hc.get(k))
    }
    // a default whose value carries a variable: raw and resolved differ
    val varDefault = "hadoop.tmp.dir"
    assert(new Configuration().getRaw(varDefault).contains("${"))
    assert(hc.get(varDefault) != hc.getRaw(varDefault))
    val derived = "graft.test.derived.dir"
    val late = "graft.test.late.key"
    hc.set(derived, "${hadoop.tmp.dir}/graft")
    try {
      val first = graft.sources.GraftShardsSource.confOverrides(spark)
      assert(first.get(derived).contains("${hadoop.tmp.dir}/graft"))
      assert(mismatches(first).isEmpty, mismatches(first))
      // a key set after a first call still ships: the result is not cached
      hc.set(late, "set-at-runtime")
      val overrides = graft.sources.GraftShardsSource.confOverrides(spark)
      assert(overrides.get(late).contains("set-at-runtime"))
      assert(mismatches(overrides).isEmpty, mismatches(overrides))
      // planted positive: dropping any one entry is caught
      assert(mismatches(overrides - late) == Seq(late))
      assert(mismatches(overrides - derived) == Seq(derived))
    } finally { hc.unset(derived); hc.unset(late) }
  }

  test("graft-shards sink: status events stream into a shard layout a second " +
      "query consumes (aprocess→svckinesis), exactly-once across epoch replay") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-kinw").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kinw-ck").toString
    // the doNotification shape: {txnId, status} put partition-keyed by
    // txnId (aprocess.js:148-163)
    val input = MemoryStream[(String, String)]
    def runWriter(): Unit = {
      val q = input.toDS().toDF("txnId", "status")
        .select(col("txnId").as("key"),
          to_json(struct(col("txnId"), col("status"))).as("data"))
        .writeStream.format("graft-shards")
        .option("numShards", "2")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dir)
      q.awaitTermination()
    }
    // the consumer is the READ half of the same format — the reference's
    // aprocess→svckinesis topology, source-to-sink
    def readBack(): Seq[(String, Long, String)] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
      val q = spark.readStream.format("graft-shards")
        .option("startingPosition", "TRIM_HORIZON").load(dir)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select(col("shard"), col("seq"), col("data")).collect()
          got.synchronized {
            got ++= rows.map(r => (r.getString(0), r.getLong(1), r.getString(2)))
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.toSeq.sortBy(r => (r._1, r._2))
    }

    input.addData(Seq(("t1", "RUNNING"), ("t2", "RUNNING"), ("t1", "SUCCEEDED")))
    runWriter()
    val after1 = readBack()
    assert(after1.size == 3)
    // Kinesis keying: one key lives in exactly one shard, in send order
    val t1 = after1.filter(_._3.contains("\"t1\"")).sortBy(_._2)
    assert(t1.map(_._1).distinct.size == 1, s"t1 spread across shards: $t1")
    assert(t1.map(_._3.contains("RUNNING")) == Seq(true, false),
      s"t1 out of send order: $t1")
    // routing matches writeSharded's pmod(hash(key), n): producer layouts
    // and sink layouts key identically
    val expShard = Seq("t1").toDF("k")
      .select(pmod(hash(col("k")), lit(2))).as[Int].head()
    assert(t1.head._1 == f"shard-$expShard%04d")

    // run 2 resumes the checkpoint: only the new record appended
    input.addData(Seq(("t2", "SUCCEEDED")))
    runWriter()
    assert(readBack().size == 4)

    // crash window: the sink committed its epoch but the engine died
    // before recording the batch in the checkpoint → the restart REPLAYS
    // the epoch; the committed-epoch marker must make it a no-op
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(commits.nonEmpty)
    val last = commits.maxBy(_.getName.toInt)
    // the local FS keeps a checksum sidecar; a stale one would make the
    // replayed commit-log write look like a concurrent query
    new java.io.File(last.getParentFile, s".${last.getName}.crc").delete()
    assert(last.delete())
    runWriter()
    val fin = readBack()
    assert(fin.size == 4, s"replayed epoch duplicated records: $fin")
    // per-shard seqs stay dense 0..n-1: no gaps, no double-published chunks
    for ((sh, rows) <- fin.groupBy(_._1))
      assert(rows.map(_._2).sorted == (0L until rows.size.toLong),
        s"$sh seqs torn: $rows")
  }

  test("monitor publishes one progress row per completed batch; dashboard aggregates") {
    import org.apache.spark.sql.functions._
    import graft.streaming.Monitor
    val monDir = java.nio.file.Files.createTempDirectory("graft-mon").toString
    val dir = java.nio.file.Files.createTempDirectory("graft-mon-src").toString
    graft.sources.GraftShards.append(dir, 0,
      (1 to 6).map(i => s"""{"n":$i}"""))
    val mon = Monitor.attach(spark, monDir, Set("mon_test_q"))
    try {
      // PLANTED NEGATIVE first: a query the listener does not monitor —
      // the bus is ordered, so once the monitored run's terminated marker
      // lands, this run's events have long been (not) published
      def run(name: String): String = {
        val q = spark.readStream.format("graft-shards")
          .option("startingPosition", "TRIM_HORIZON")
          .option("maxRecordsPerShardPerTrigger", "2") // 6 records → ≥3 batches
          .load(dir)
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.catalog.dropTempView(name)
        q.runId.toString
      }
      val otherRun = run("mon_other_q")
      val monitoredRun = run("mon_test_q")
      Monitor.awaitRunPublished(spark, monDir, monitoredRun)
      val prog = Monitor.progressTable(spark, monDir)
      // the unmonitored query left NO trace (any kind)
      assert(prog.filter(col("query_name") === "mon_other_q" ||
        col("run_id") === otherRun).count() == 0)
      // lifecycle rows: one started, one clean terminated
      assert(prog.filter(col("kind") === "started" &&
        col("run_id") === monitoredRun).count() == 1)
      assert(prog.filter(col("kind") === "terminated" &&
        col("run_id") === monitoredRun && col("error").isNull).count() == 1)
      // ONE progress row per completed batch: ids dense from 0, the
      // rate-limited drain took >= 3 data batches, rows add up exactly
      val batches = prog.filter(col("kind") === "progress" &&
          col("run_id") === monitoredRun)
        .select(col("batch_id"), col("num_input_rows"), col("batch_duration_ms"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      assert(batches.map(_._1).toSeq == (0L until batches.length),
        s"batch ids not dense: ${batches.toSeq}")
      assert(batches.count(_._2 > 0) >= 3, s"expected >=3 data batches: ${batches.toSeq}")
      assert(batches.map(_._2).sum == 6)
      assert(batches.forall(_._3 >= 0))
      // the dashboard aggregate carries the same totals
      val dash = Monitor.dashboard(spark, monDir)
        .agg(sum(col("n_batches")), sum(col("rows_in")))
        .collect().head
      assert(dash.getLong(0) == batches.length && dash.getLong(1) == 6)
    } finally Monitor.detach(spark, mon)
  }

  test("sink rejects a payload containing a newline (line-format corruption guard)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-kinw-nl").toString
    val input = MemoryStream[(String, String)]
    input.addData(Seq(("k1", "a\nb"))) // would stage 2 lines, count 1 record
    val q = input.toDS().toDF("key", "data")
      .writeStream.format("graft-shards")
      .option("numShards", "1")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-kinw-nlck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(dir)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null)
      && causes(e).exists(c => Option(c.getMessage).exists(_.contains("newline"))),
      s"expected the newline guard, got: ${causes(e).map(_.getMessage)}")
    // nothing was published: the failed epoch left no readable chunk
    val shardDir = new java.io.File(dir, "shard-0000")
    assert(!shardDir.exists() ||
      shardDir.listFiles().forall(!_.getName.endsWith(".jsonl")))
  }

  test("property: random multi-epoch sink round-trip is exactly-once and per-key ordered") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val dir = java.nio.file.Files.createTempDirectory("graft-kinw-prop").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kinw-propck").toString
    val input = MemoryStream[(String, String)]
    var expected = Vector.empty[(String, String)]
    for (epoch <- 0 until 4) {
      val batch = Seq.fill(rnd.nextInt(40) + 5)(
        (s"k${rnd.nextInt(20)}", s"e$epoch-${rnd.nextInt(1000)}"))
      expected ++= batch
      input.addData(batch)
      val q = input.toDS().toDF("k", "v")
        .select(col("k").as("key"), to_json(struct(col("k"), col("v"))).as("data"))
        .writeStream.format("graft-shards")
        .option("numShards", "3")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dir)
      q.awaitTermination()
    }
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String, String)]
    val reader = spark.readStream.format("graft-shards")
      .option("startingPosition", "TRIM_HORIZON").load(dir)
      .select(col("shard"), col("seq"),
        from_json(col("data"), org.apache.spark.sql.types.StructType.fromDDL(
          "k STRING, v STRING")).as("r"))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.select(col("shard"), col("seq"), col("r.k"), col("r.v")).collect()
        got.synchronized {
          got ++= rows.map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    reader.awaitTermination()
    // exactly-once across all epochs
    assert(got.size == expected.size, s"${got.size} != ${expected.size}")
    // key-stable routing, and each key's payloads in seq order = send order
    for ((k, sent) <- expected.groupBy(_._1)) {
      val rows = got.filter(_._3 == k)
      assert(rows.map(_._1).distinct.size == 1, s"key $k spread across shards")
      assert(rows.sortBy(_._2).map(_._4) == sent.map(_._2),
        s"key $k out of send order")
    }
  }

  test("multi-consumer: independent checkpoints over one layout, per-consumer rate limits, no cross-talk") {
    // the reference runs pollingsvc and svckinesis side by side on one
    // stream — two consumers, each with its own iterator state. Here: two
    // CONCURRENT queries over one layout, each with its own checkpoint and
    // its own rate limit.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-multi").toString
    graft.sources.GraftShards.append(dir, 0, Seq("a0", "a1", "a2", "a3"))
    graft.sources.GraftShards.append(dir, 1, Seq("b0", "b1", "b2"))
    val all7 = Set(("shard-0000", 0L, "a0"), ("shard-0000", 1L, "a1"),
      ("shard-0000", 2L, "a2"), ("shard-0000", 3L, "a3"),
      ("shard-0001", 0L, "b0"), ("shard-0001", 1L, "b1"), ("shard-0001", 2L, "b2"))
    final class Consumer(ck: String, maxPerShard: Option[Int]) {
      val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
      var dataBatches = 0
      def run(): Unit = {
        val base = spark.readStream.format("graft-shards")
          .option("startingPosition", "TRIM_HORIZON")
        val limited = maxPerShard.fold(base)(l =>
          base.option("maxRecordsPerShardPerTrigger", l.toString))
        val q = limited.load(dir).writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = df.select(col("shard"), col("seq"), col("data")).collect()
              .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
            got.synchronized { got ++= rows; if (rows.nonEmpty) dataBatches += 1 }
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
    }
    val a = new Consumer(
      java.nio.file.Files.createTempDirectory("graft-multi-ckA").toString, None)
    val b = new Consumer(
      java.nio.file.Files.createTempDirectory("graft-multi-ckB").toString, Some(1))
    // genuinely concurrent: both queries run over the layout at once
    val tA = new Thread(() => a.run()); val tB = new Thread(() => b.run())
    tA.start(); tB.start(); tA.join(120000); tB.join(120000)
    // no cross-talk: each consumer saw the complete stream exactly once,
    // with identical per-shard seqs
    assert(a.got.toSet == all7, s"consumer A: ${a.got.sorted}")
    assert(b.got.toSet == all7, s"consumer B: ${b.got.sorted}")
    assert(a.got.size == 7 && b.got.size == 7)
    // per-consumer rate limit: B's 1-record/shard/trigger drain needed at
    // least 4 data batches (shard 0 has 4 records); A drained in one
    assert(b.dataBatches >= 4, s"B batches: ${b.dataBatches}")
    assert(a.dataBatches == 1, s"A batches: ${a.dataBatches}")
    // independent offsets: new records arrive; each consumer resumes from
    // ITS OWN checkpoint and reads exactly the delta
    graft.sources.GraftShards.append(dir, 0, Seq("a4", "a5"))
    val delta = Set(("shard-0000", 4L, "a4"), ("shard-0000", 5L, "a5"))
    b.got.clear(); b.run()
    assert(b.got.toSet == delta, s"B delta: ${b.got.sorted}")
    a.got.clear(); a.run()
    assert(a.got.toSet == delta, s"A delta: ${a.got.sorted}")
  }

  /** `{txnId, status, sec}` JSON records on a graft-shards layout, read as
    * the correlator's typed status stream (the serve tests' source). */
  private def shardStatusStream(dir: String) = {
    import org.apache.spark.sql.functions._
    spark.readStream.format("graft-shards")
      .option("startingPosition", "TRIM_HORIZON").load(dir)
      .select(from_json(col("data"), org.apache.spark.sql.types.StructType.fromDDL(
        "txnId STRING, status STRING, sec LONG")).as("e"))
      .select(col("e.txnId").as("txnId"), col("e.status").as("status"),
        timestamp_seconds(col("e.sec")).as("ts"))
      .as[Correlate.StatusEvent]
  }

  private def ev(txn: String, st: String, sec: Long) =
    s"""{"txnId":"$txn","status":"$st","sec":$sec}"""

  test("serve: continuous correlate→upsert lands completions across batches and a restart") {
    // the reference's live loop (svckinesis.js:250-256) end to end:
    // Kinesis-shaped source → stateful correlator → graft-shards sink
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-serve").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-serve-ck").toString
    val table = java.nio.file.Files.createTempDirectory("graft-serve-tbl").toString
    def statusStream = shardStatusStream(dir)
    def tableRows(): Map[String, String] =
      graft.sources.Sources.readTable(spark, table)
        .select(col("txnId"), col("finalStatus")).as[(String, String)]
        .collect().groupBy(_._1).map { case (k, vs) =>
          assert(vs.length == 1, s"duplicate completions for $k"); k -> vs.head._2
        }

    val monDir = java.nio.file.Files.createTempDirectory("graft-serve-mon").toString
    val q1 = Correlate.serve(statusStream, table, ckpt, intervalMs = 100,
      monitorDir = Some(monDir))
    try {
      graft.sources.GraftShards.append(dir, 0,
        Seq(ev("t1", "RUNNING", 1), ev("t2", "SUCCEEDED", 2)))
      q1.processAllAvailable()
      graft.sources.GraftShards.append(dir, 0, Seq(ev("t1", "SUCCEEDED", 3)))
      q1.processAllAvailable()
      // the two completions arrived via two separate micro-batches
      assert(q1.recentProgress.count(_.numInputRows > 0) == 2)
    } finally q1.stop()
    assert(tableRows() == Map("t1" -> "SUCCEEDED", "t2" -> "SUCCEEDED"))
    // the service published its live dashboard while it ran, and the
    // self-detaching listener sealed the run with a clean terminated row
    graft.streaming.Monitor.awaitRunPublished(spark, monDir, q1.runId.toString)
    val monRows = graft.streaming.Monitor.progressTable(spark, monDir)
    assert(monRows.filter(col("kind") === "progress" &&
      col("query_name") === "correlate_serve" &&
      col("num_input_rows") > 0).count() >= 2)
    assert(monRows.filter(col("kind") === "terminated" &&
      col("error").isNull).count() == 1)

    // restart from the checkpoint: a re-delivered terminal (t2) must not
    // duplicate, a genuinely new txn (t3) must land — exactly-once
    val q2 = Correlate.serve(statusStream, table, ckpt, intervalMs = 100)
    try {
      graft.sources.GraftShards.append(dir, 0,
        Seq(ev("t2", "SUCCEEDED", 4), ev("t3", "SUCCEEDED", 5)))
      q2.processAllAvailable()
      // offsets were recovered: only the 2 new records were read
      assert(q2.recentProgress.map(_.numInputRows).sum == 2)
    } finally q2.stop()
    assert(tableRows() ==
      Map("t1" -> "SUCCEEDED", "t2" -> "SUCCEEDED", "t3" -> "SUCCEEDED"))
  }

  test("serve: one job per data-bearing trigger; an idle batch leaves the log unchanged") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("graft-serve1").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-serve1-ck").toString
    val table = java.nio.file.Files.createTempDirectory("graft-serve1-tbl").toString
    // the stream's published chunks
    def logEntries(): Set[String] = publishedChunks(table).keySet
    // jobs per (streaming query id, batch id), from the properties every
    // job of a trigger carries
    val barrierKey = "graft.test.barrier"
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, Long), Int]()
    @volatile var barrierDone = false
    val listener = new SparkListener {
      private val barrierJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        if (prop(barrierKey).isDefined) barrierJobs.add(e.jobId)
        for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
          jobs.merge((q, b.toLong), 1, (a: Int, c: Int) => a + c)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (barrierJobs.contains(e.jobId)) barrierDone = true
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = Correlate.serve(shardStatusStream(dir), table, ckpt, intervalMs = 100)
      val dataBatches = scala.collection.mutable.ArrayBuffer.empty[Long]
      def step(records: String*): Unit = {
        val seen = q.recentProgress.length
        graft.sources.GraftShards.append(dir, 0, records)
        q.processAllAvailable()
        dataBatches ++= q.recentProgress.drop(seen).filter(_.numInputRows > 0).map(_.batchId)
      }
      try {
        step(ev("t1", "SUCCEEDED", 1), ev("t2", "RUNNING", 2), ev("t3", "FAILED", 3))
        val v1 = logEntries()
        assert(v1.nonEmpty, "no chunk after the first batch")
        // RUNNING-only and already-completed events complete nothing: the
        // trigger runs (state advances) but publishes no chunk
        step(ev("t2", "RUNNING", 4), ev("t1", "SUCCEEDED", 5))
        assert(logEntries() == v1, "an idle micro-batch changed the log")
        step(ev("t2", "SUCCEEDED", 6))
        assert(logEntries().size == v1.size + 1, s"log: ${logEntries()}")
      } finally q.stop()
      assert(dataBatches.size == 3, s"data-bearing batches: $dataBatches")
      assert(graft.sources.Sources.readTable(spark, table).as[(String, String)].collect().toMap ==
        Map("t1" -> "SUCCEEDED", "t2" -> "SUCCEEDED", "t3" -> "FAILED"))
      // barrier: once this job's end is seen, every earlier job start is too
      spark.sparkContext.setLocalProperty(barrierKey, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(barrierKey, null)
      val deadline = System.currentTimeMillis() + 30000
      while (!barrierDone && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(barrierDone, "listener never saw the barrier job")
      val perBatch = dataBatches.map(b => b -> jobs.getOrDefault((q.id.toString, b), 0))
      // non-vacuous: the listener attributes the trigger's jobs to it
      assert(perBatch.forall(_._2 >= 1), s"jobs per data batch: $perBatch")
      // the sink's tasks stage the completions straight from the stateful
      // plan, and the driver publishes them without another job
      assert(perBatch.forall(_._2 == 1), s"jobs per data batch: $perBatch")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def appendedRows(table: String): Seq[(String, String)] =
    graft.sources.Sources.readTable(spark, table).select(col("txnId"), col("finalStatus"))
      .as[(String, String)].collect().toSeq.sorted

  /** A graft-shards stream's published chunks, `shard/chunk` → mtime. */
  private def publishedChunks(stream: String): Map[String, Long] =
    Option(new java.io.File(stream).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("shard-"))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".jsonl"))
        .map(c => s"${d.getName}/${c.getName}" -> c.lastModified)).toMap

  test("serve: a batch replayed after its marker landed is evaluated again but not rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("graft-alog-replay").toString
    val table = java.nio.file.Files.createTempDirectory("graft-alog-replay-tbl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-alog-replay-ck").toString
    graft.sources.GraftShards.append(dir, 0,
      Seq(ev("t1", "SUCCEEDED", 1), ev("t2", "SUCCEEDED", 2)))
    val q1 = Correlate.serve(shardStatusStream(dir), table, ckpt, intervalMs = 100)
    try q1.processAllAvailable() finally q1.stop()
    // the crash window after the sink's epoch marker, before Spark's
    // commit log entry: the restart replays the batch
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    new java.io.File(commits, last.toString).delete()
    new java.io.File(commits, s".$last.crc").delete()
    assert(new java.io.File(table, s"_epochs/$last.committed").exists())
    val files = publishedChunks(table)
    assert(files.nonEmpty)
    val q2 = Correlate.serve(shardStatusStream(dir), table, ckpt, intervalMs = 100)
    try q2.processAllAvailable() finally q2.stop()
    assert(q2.exception.isEmpty, q2.exception)
    assert(q2.recentProgress.exists(_.batchId == last), "the batch was not replayed")
    // no chunk rewritten, and the replay's staged temps are gone
    assert(publishedChunks(table) == files)
    assert(new java.io.File(table).listFiles().filter(_.getName.startsWith("shard-"))
      .forall(_.list().forall(!_.startsWith("_wtmp-"))))
    assert(appendedRows(table) == Seq("t1" -> "SUCCEEDED", "t2" -> "SUCCEEDED"))
  }

  test("serve: a fresh checkpoint on an existing table refuses instead of skipping its batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-alog-own").toString
    val table = java.nio.file.Files.createTempDirectory("graft-alog-own-tbl").toString
    def stream = shardStatusStream(dir)
    graft.sources.GraftShards.append(dir, 0, Seq(ev("t1", "SUCCEEDED", 1)))
    val q1 = Correlate.serve(stream, table,
      java.nio.file.Files.createTempDirectory("graft-alog-own-ck1").toString, intervalMs = 100)
    try q1.processAllAvailable() finally q1.stop()
    assert(appendedRows(table) == Seq("t1" -> "SUCCEEDED"))
    // a second query numbers its epochs from 0 again: epoch 0 is marked,
    // so without the owner check t2 would be skipped as already committed
    graft.sources.GraftShards.append(dir, 0, Seq(ev("t2", "SUCCEEDED", 2)))
    val q2 = Correlate.serve(stream, table,
      java.nio.file.Files.createTempDirectory("graft-alog-own-ck2").toString, intervalMs = 100)
    val e = try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q2.processAllAvailable()) finally q2.stop()
    assert(e.getMessage.contains("is written by streaming query"), e.getMessage)
    assert(appendedRows(table) == Seq("t1" -> "SUCCEEDED"))
  }

  test("serve: checkpoints commit by FileSystem rename; the session conf is unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val fsManager = classOf[org.apache.spark.sql.execution.streaming.checkpointing
      .FileSystemBasedCheckpointFileManager].getName
    val before = spark.conf.getOption(key)
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-cfm").toString
    graft.sources.GraftShards.append(dir, 0, Seq(ev("t1", "SUCCEEDED", 1)))
    def tmp(tag: String) = java.nio.file.Files.createTempDirectory(s"graft-serve-cfm-$tag").toString
    def serve() = Correlate.serve(shardStatusStream(dir), tmp("tbl"), tmp("ck"), intervalMs = 100)
    // two serves started at once on one session, so their conf scopes
    // overlap; Spark's duplicate-name check may refuse either start()
    val go = new java.util.concurrent.CountDownLatch(1)
    val tries = (0 until 2).map { _ =>
      val r = new java.util.concurrent.atomic.AtomicReference[
        scala.util.Try[org.apache.spark.sql.streaming.StreamingQuery]]()
      val t = new Thread(() => { go.await(); r.set(scala.util.Try(serve())) })
      t.start(); (t, r)
    }
    go.countDown()
    tries.foreach(_._1.join(120000))
    val results = tries.map(_._2.get)
    val started = results.collect { case scala.util.Success(q) => q }
    try {
      results.collect { case scala.util.Failure(e) => e }.foreach(e =>
        assert(e.getMessage.contains("already active"), e))
      assert(started.nonEmpty, results)
      assert(spark.conf.getOption(key) == before)
      started.foreach { q =>
        q.processAllAvailable()
        assert(q.exception.isEmpty, q.exception)
        // the query's own session copy (which plans the state stores) and
        // its offset and commit logs use the FileSystem-based manager
        val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        assert(exec.lastExecution.sparkSession.conf.get(key) == fsManager)
        Seq[AnyRef](exec.offsetLog, exec.commitLog).foreach { log =>
          val fm = log.getClass.getMethod("fileManager").invoke(log) // protected in Scala
          assert(fm.getClass.getName == fsManager, fm.getClass)
        }
      }
      // a start() that throws on its own restores the session conf too
      intercept[IllegalArgumentException](serve())
      assert(spark.conf.getOption(key) == before)
    } finally started.foreach(_.stop())
    assert(spark.conf.getOption(key) == before)
  }

  // ---- graft-zcdf: the z-store change-feed streaming source (r10) --------

  test("graft-zcdf: version-per-trigger batching, checkpoint restart resumes mid-epoch, nothing re-emitted") {
    import java.nio.file.Files
    import graft.sources.ZOrder
    val store = Files.createTempDirectory("graft-zcdfsrc").toString
    val out = Files.createTempDirectory("graft-zcdfsrc-out").toString
    val base = spark.range(100).select(col("id").as("k1"),
      (col("id") % 10).as("k2"))
    ZOrder.writeZOrdered(base, store, Seq("k1", "k2"), 2)

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-zcdf")
        .option("startingVersion", "earliest")
        .option("maxVersionsPerTrigger", "1")
        .load(store)
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce() // consumes v0
    val got0 = spark.read.parquet(s"$out/data")
    assert(got0.count() == 100)
    assert(got0.select(col("_ver")).distinct().as[Long].collect().toSet ==
      Set(0L))

    // two more commits land; the SAME checkpoint resumes AFTER v0
    ZOrder.appendZOrdered(spark.range(100, 150).select(col("id").as("k1"),
      (col("id") % 10).as("k2")), store, Seq("k1", "k2"), 1)
    ZOrder.appendZOrdered(spark.range(150, 160).select(col("id").as("k1"),
      (col("id") % 10).as("k2")), store, Seq("k1", "k2"), 1)
    runOnce()
    val got = spark.read.parquet(s"$out/data")
    assert(got.count() == 160, "restart re-emitted or missed a version")
    assert(got.select(col("k1")).distinct().count() == 160)
    // version coordinates label the arrivals correctly
    val byVer = got.groupBy(col("_ver")).count()
      .as[(Long, Long)].collect().toMap
    assert(byVer == Map(0L -> 100L, 1L -> 50L, 2L -> 10L))
  }

  test("graft-zcdf: an epoch rewrite refuses the stream with the full-refresh contract") {
    import java.nio.file.Files
    import graft.sources.ZOrder
    val store = Files.createTempDirectory("graft-zcdfswap").toString
    val out = Files.createTempDirectory("graft-zcdfswap-out").toString
    ZOrder.writeZOrdered(spark.range(64).select(col("id").as("k1"),
      (col("id") % 8).as("k2")), store, Seq("k1", "k2"), 2)
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-zcdf")
        .option("startingVersion", "earliest")
        .load(store)
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    // a delete rewrites history into a new epoch: the stream must fail
    // loudly (full-refresh), never silently re-read or skip
    ZOrder.deleteZRange(spark, store, Seq(("k1", 0L, 9L)), Seq("k1", "k2"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("full-refresh")),
      s"wrong failure: ${chain(e).mkString(" | ")}")
  }

  test("graft-zcdf refuses a user schema without the trailing commit-coordinate columns") {
    import java.nio.file.Files
    import org.apache.spark.sql.types.StructType
    import graft.sources.{ZcdfStream, ZOrder}
    val store = Files.createTempDirectory("graft-zcdfschema").toString
    ZOrder.writeZOrdered(spark.range(16).select(col("id").as("k1"),
      (col("id") % 4).as("k2")), store, Seq("k1", "k2"), 1)
    // the wire mapping drops the LAST TWO fields as metadata — a schema
    // that doesn't end with _epoch/_ver would silently lose the last two
    // DATA columns, so it must refuse at load time
    val bad = new StructType().add("k1", "long").add("k2", "long")
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-zcdf").schema(bad).load(store)
    }
    assert(e.getMessage.contains(ZcdfStream.EpochCol), e.getMessage)
    // the full derived schema (data + coordinates) is accepted
    val ok = ZcdfStream.tableSchema(spark, store)
    assert(spark.readStream.format("graft-zcdf").schema(ok).load(store)
      .schema.fieldNames.takeRight(2).toSeq ==
      Seq(ZcdfStream.EpochCol, ZcdfStream.VerCol))
  }

  test("q141 merge-ingest batch replay: marker skip and tag no-op keep the store exact") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{concat, lit}
    import graft.sources.{ZOrder, ZQueries}
    val root = Files.createTempDirectory("graft-zcdc-replay").toString
    val docs = spark.range(50).select(col("id").as("doc_id"),
      concat(lit("l"), col("id") % 3).as("lang"), (col("id") * 10).as("n_chars"))
    ZOrder.writeZOrdered(docs, s"$root/store", Seq("doc_id", "n_chars"), 2)
    val batch = spark.range(0, 50, 7).select(col("id").as("doc_id"),
      concat(lit("l"), col("id") % 3).as("lang"),
      (col("id") * 10 + 1000).as("n_chars"), lit(0L).as("version"))
    ZQueries.mergeIngestBatch(spark, root, batch, 0L)
    val snap1 = ZOrder.readSnapshot(spark, s"$root/store")
      .orderBy(col("doc_id")).collect().toSeq
    // replay with the marker present: wholesale skip
    ZQueries.mergeIngestBatch(spark, root, batch, 0L)
    // marker lost, tag present (the crash-between window): merge no-ops
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/applied/0"), true)
    ZQueries.mergeIngestBatch(spark, root, batch, 0L)
    val snap2 = ZOrder.readSnapshot(spark, s"$root/store")
      .orderBy(col("doc_id")).collect().toSeq
    assert(snap1 == snap2, "replayed batch mutated the store")
    assert(snap1.count(_.getLong(2) >= 1000L) == 8,
      "unexpected update footprint")
  }

  test("zcdf streaming IVM: restart folds only NEW versions; view states stay coordinate-exact") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{concat, count, lit, sum => fsum}
    import graft.sources.{ZOrder, ZQueries}
    val store = Files.createTempDirectory("graft-zivm-store").toString
    val root = Files.createTempDirectory("graft-zivm-root").toString
    def slice(a: Long, b: Long) = spark.range(a, b).select(
      col("id").as("doc_id"), concat(lit("l"), col("id") % 3).as("lang"),
      (col("id") * 7).as("n_chars"))
    ZOrder.writeZOrdered(slice(0, 100), store, Seq("doc_id", "n_chars"), 2)
    def run(): Unit = {
      val q = spark.readStream.format("graft-zcdf")
        .option("startingVersion", "earliest")
        .option("maxVersionsPerTrigger", "1")
        .load(store)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          ZQueries.ivmBatch(spark, root, df, id)
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run() // v0 only
    def states() = spark.read.parquet(s"$root/out")
      .select(col("ver"), col("lang"), col("n_docs"), col("sum_chars"))
      .orderBy(col("ver"), col("lang"))
      .as[(Long, String, Long, Long)].collect().toSeq
    val s0 = states()
    assert(s0.map(_._1).toSet == Set(0L))
    assert(s0.map(_._3).sum == 100L)
    ZOrder.appendZOrdered(slice(100, 150), store, Seq("doc_id", "n_chars"), 1)
    ZOrder.appendZOrdered(slice(150, 160), store, Seq("doc_id", "n_chars"), 1)
    run() // resumes: folds v1 and v2 ONLY
    val s1 = states()
    assert(s1.map(_._1).toSet == Set(0L, 1L, 2L))
    // v0's state is untouched by the restart
    assert(s1.filter(_._1 == 0L) == s0)
    // the final state equals the straight aggregate over everything
    val expect = slice(0, 160).groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n"),
        fsum(col("n_chars")).cast("long").as("sc"))
      .orderBy(col("lang")).as[(String, Long, Long)].collect().toSeq
    val fin = s1.filter(_._1 == 2L).map(t => (t._2, t._3, t._4))
    assert(fin == expect, s"view drifted: $fin vs $expect")
    // a full replay run is a no-op (markers + deterministic view writes)
    run()
    assert(states() == s1)
  }

  test("IVM consumes the row-level change feed ACROSS DML commits: the view refresh folds signed deltas, never re-reads the base files") {
    import org.apache.spark.sql.functions._
    import graft.sources.ZOrder
    import ZOrder.ChangeTypeCol
    val dir = java.nio.file.Files.createTempDirectory("graft-zivmdml").toString
    ZOrder.setChangeFeedEnabled(spark, dir, on = true)
    val langs = Seq("en", "fr", "de")
    def rows(r: Range) = spark.range(r.start, r.end).select(
      col("id").as("k"),
      element_at(typedLit(langs), (col("id") % 3 + 1).cast("int"))
        .as("lang"),
      (col("id") * 3 + 7).as("n_chars"))
    ZOrder.writeZOrdered(rows(0 until 300), dir, Seq("k"), 4)     // e0 v0
    // the materialized view at the base coordinate
    val view0 = ZOrder.readSnapshotAt(spark, dir, 0, 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .localCheckpoint()
    val baseFiles = ZOrder.readSnapshotAt(spark, dir, 0, 0)
      .inputFiles.toSet
    // an append, a band UPDATE and a keyed MERGE — three commits the
    // refresh must cross WITHOUT a full recompute
    ZOrder.appendZOrdered(rows(300 until 360), dir, Seq("k"), 1) // e0 v1
    assert(ZOrder.updateZRange(spark, dir, Seq(("k", 50L, 99L)),
      Map("n_chars" -> "n_chars + 10"), Seq("k")) == 50L)        // e1
    val src = rows(100 until 120).withColumn("n_chars", lit(1L))
      .unionByName(rows(1000 until 1010))
    ZOrder.mergeByKey(spark, dir, src, "k", Seq("k"), 1)         // e2
    // the refresh: view' = view + Σsigned(delta), signs from _change_type
    val sign = when(col(ChangeTypeCol).isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))
    val delta = ZOrder.readChangeFeed(spark, dir, 0, 0)
      .groupBy(col("lang"))
      .agg(sum(sign).cast("long").as("n_docs"),
        sum(sign * col("n_chars")).cast("long").as("sum_chars"))
    val refreshed = view0.unionByName(delta).groupBy(col("lang"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("sum_chars")).cast("long").as("sum_chars"))
    // plan pin: the refresh never re-opens the BASE snapshot's data
    // files — it reads the view checkpoint, the delta's change records
    // and the appended version's files only (the planted positive below
    // shows the detector sees real file reads)
    val refreshFiles = refreshed.inputFiles.toSet
    assert(refreshFiles.intersect(baseFiles).isEmpty,
      s"refresh re-read ${refreshFiles.intersect(baseFiles).size} base files")
    val full = ZOrder.readSnapshot(spark, dir)
    assert(full.inputFiles.toSet.intersect(baseFiles).nonEmpty,
      "planted positive: a full recompute DOES re-read carried base " +
        "files, or the inputFiles detector is vacuous")
    val got = refreshed.orderBy(col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = full.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"IVM drift: got=$got want=$want")
  }

  test("streaming changeFeed crosses DML epochs: one coordinate per trigger, checkpoint resume over new DML, no-record refusal, table-stream option refusal") {
    import org.apache.spark.sql.functions._
    import graft.sources.{ZOrder, ZcdfStream}
    val dir = java.nio.file.Files.createTempDirectory("graft-zcdfdmlS").toString
    val out = java.nio.file.Files.createTempDirectory("graft-zcdfdmlO").toString
    ZOrder.setChangeFeedEnabled(spark, dir, on = true)
    ZOrder.writeZOrdered(spark.range(200)
      .select(col("id").as("k"), (col("id") * 2).as("v")), dir, Seq("k"), 4)
    ZOrder.appendZOrdered(spark.range(200, 260)
      .select(col("id").as("k"), (col("id") * 2).as("v")), dir, Seq("k"), 1)
    assert(ZOrder.deleteZRange(spark, dir, Seq(("k", 0L, 9L)),
      Seq("k")) == 10L)                                          // e1
    assert(ZOrder.updateZRange(spark, dir, Seq(("k", 50L, 59L)),
      Map("v" -> "v + 1"), Seq("k")) == 10L)                     // e2
    def run(): Seq[(Long, java.util.List[org.apache.spark.sql.Row])] = {
      val seen = new java.util.concurrent.ConcurrentHashMap[Long,
        java.util.List[org.apache.spark.sql.Row]]()
      val q = spark.readStream.format("graft-zcdf")
        .option("changeFeed", "true")
        .option("startingVersion", "earliest")
        .option("maxVersionsPerTrigger", "1")
        .load(dir)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          seen.put(id, java.util.Arrays.asList(df.collect(): _*))
          ()
        }
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.sortBy(_._1)
    }
    val batches = run()
    // chain: (0,0) build, (0,1) append, (1,0) delete, (2,0) update = 4
    // coordinates, ONE per trigger
    assert(batches.size == 4, s"${batches.size} batches")
    import scala.jdk.CollectionConverters._
    batches.foreach { case (_, rows) =>
      val coords = rows.asScala.map(r =>
        (r.getAs[Long](ZcdfStream.EpochCol),
          r.getAs[Long](ZcdfStream.VerCol))).toSet
      assert(coords.size == 1,
        s"a trigger must cover exactly one coordinate, got $coords")
    }
    val all = batches.flatMap(_._2.asScala).map(r =>
      (r.getAs[Long]("k"), r.getAs[Long]("v"),
        r.getAs[String](ZcdfStream.ChangeCol)))
    assert(all.count(_._3 == "insert") == 260)
    assert(all.filter(_._3 == "delete").map(_._1).sorted ==
      (0L until 10L).toSeq)
    assert(all.count(_._3 == "update_preimage") == 10)
    assert(all.filter(_._3 == "update_postimage")
      .forall { case (k, v, _) => v == k * 2 + 1 })
    // checkpoint RESUME across NEW DML: a merge lands after the first
    // run; the resumed stream delivers only its delta
    val src = spark.range(58, 62)
      .select(col("id").as("k"), (-col("id")).as("v"))
    ZOrder.mergeByKey(spark, dir, src, "k", Seq("k"), 1)         // e3
    val batches2 = run()
    assert(batches2.size == 1, s"resume delivered ${batches2.size} batches")
    val delta = batches2.flatMap(_._2.asScala).map(r =>
      (r.getAs[Long]("k"), r.getAs[String](ZcdfStream.ChangeCol)))
    assert(delta.count(_._2 == "update_preimage") == 4) // k 58..61 replaced
    assert(delta.count(_._2 == "update_postimage") == 4)
    assert(delta.isEmpty == false && delta.forall(d => d._1 >= 58 && d._1 <= 61))
    // a NO-record rewrite (recluster) kills the resumed stream with the
    // full-refresh cause — search the cause chain (the wrapper rule)
    ZOrder.reclusterZOrdered(spark, dir, Seq("k"), 4)            // e4
    val e = intercept[Exception] { run() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(t =>
      String.valueOf(t.getMessage).contains("full-refresh")), e.toString)
    // the TABLE stream refuses the option with a pointer to the format
    val e2 = intercept[Exception] {
      spark.readStream.format("graft-z").option("changeFeed", "true")
        .load(dir).writeStream
        .option("checkpointLocation", s"$out/ckpt2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
        .start().awaitTermination()
    }
    assert(chain(e2).exists(t =>
      String.valueOf(t.getMessage).contains("graft-zcdf")), e2.toString)
  }

  test("the `.changes` metadata table (r15): streams the feed through the TABLE NAME with checkpoint resume across new DML; batch SELECT reads full history") {
    import org.apache.spark.sql.functions._
    import graft.sources.{ZOrder, ZcdfStream}
    val root = java.nio.file.Files.createTempDirectory("graft-zchtblS")
      .toString
    val out = java.nio.file.Files.createTempDirectory("graft-zchtblO")
      .toString
    val cat = "graftchg" + math.abs(root.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ZCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    try {
      spark.sql(s"CREATE NAMESPACE $cat.ns")
      spark.sql(s"""CREATE TABLE $cat.ns.t (k BIGINT, v BIGINT)
        PARTITIONED BY (k) TBLPROPERTIES ('changeFeed' = 'true')""")
      spark.sql(s"INSERT INTO $cat.ns.t SELECT id, id FROM range(100)")
      spark.sql(s"UPDATE $cat.ns.t SET v = v + 1000 WHERE k < 10") // e1
      def run(ck: String): Map[String, Long] = {
        val seen = new java.util.concurrent.atomic.AtomicReference[
          Map[String, Long]](Map.empty)
        val q = spark.readStream
          .option("startingVersion", "earliest")
          .table(s"$cat.ns.t.changes")
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val m = df.groupBy(col(ZcdfStream.ChangeCol)).count()
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            seen.updateAndGet(old => (old.keySet ++ m.keySet).map(k =>
              k -> (old.getOrElse(k, 0L) + m.getOrElse(k, 0L))).toMap)
            ()
          }
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        seen.get()
      }
      val first = run(s"$out/ck")
      assert(first == Map("insert" -> 100L, "update_preimage" -> 10L,
        "update_postimage" -> 10L), first.toString)
      // NEW DML, then RESUME from the same checkpoint: only the delta
      spark.sql(s"UPDATE $cat.ns.t SET v = v - 7 WHERE k BETWEEN 50 AND 54")
      val resumed = run(s"$out/ck")
      assert(resumed == Map("update_preimage" -> 5L,
        "update_postimage" -> 5L), resumed.toString)
      // BATCH form: full recorded history through plain SQL
      val batch = spark.sql(s"SELECT * FROM $cat.ns.t.changes")
        .groupBy(col(ZcdfStream.ChangeCol)).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(batch == Map("insert" -> 100L, "update_preimage" -> 15L,
        "update_postimage" -> 15L), batch.toString)
      // the base table itself is untouched by the metadata surface
      assert(spark.sql(s"SELECT count(*) FROM $cat.ns.t")
        .head().getLong(0) == 100L)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }
}
