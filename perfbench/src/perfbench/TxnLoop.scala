package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.DocPipeline
import graft.sources.{GraftShards, Sources}
import graft.streaming.Correlate

/** txn_loop: the reference's transaction loop as an open loop.
  *
  * One generator thread appends seeded transaction documents to the request
  * stream every [[TickMs]] with `GraftShards.append`. The pipeline query
  * reads them with the `graft-shards` source, runs `DocPipeline.pipeline` and
  * `withStatus`, and writes `{txnId, status, ms}` events with the
  * `graft-shards` sink; `Correlate.serve` reads the events and upserts
  * completions into a fresh table. A txn's latency runs from its due time
  * to the end of the `correlate_serve` trigger whose committed offsets cover
  * its status record. */
object TxnLoop {
  val RatePerS = 2000
  val TickMs = 500L
  val Shards = 4
  val TriggerMs = 100L
  /** Open-loop traffic before the measured window. Priming has taken both
    * queries past their first-trigger costs and a correlate trigger costs
    * about the same at any batch size, so the warm-up is short and the run's
    * time goes to the window: it holds only a few ~3 s correlate triggers,
    * and its latency quantiles depend on their phase. */
  val WarmupMs = 1000L
  /** Traffic after it, so the window's last txns see the same load. */
  val TailMs = 500L
  val EventTypes = Array("click", "view", "purchase", "signup", "error")

  final case class Txn(id: String, shard: Int, tick: Int, k: Option[Int], value: Double,
      eventType: String) {
    /** The pipeline's gates, restated: step C needs k present and k % 7 != 0,
      * step D needs value < 0.95. */
    def expected: String =
      if (k.isEmpty || k.get % 7 == 0 || value >= 0.95) "FAILED" else "SUCCEEDED"
    def json: String =
      s"""{"txn_id":"$id","event_type":"$eventType","value":""" +
        String.format(java.util.Locale.ROOT, "%.4f", Double.box(value)) +
        k.map(x => s""","k":$x""").getOrElse("") + "}"
  }

  final case class Tick(tick: Int, dueMs: Long, startMs: Long, appendMs: Seq[Double],
      endMs: Long, spanId: Long)

  private def now(): Long = System.currentTimeMillis()

  /** The pipeline query: request documents through `DocPipeline.pipeline`
    * and `withStatus` to `{txnId, status, ms}` events on the status stream. */
  def startPipeline(spark: SparkSession, reqDir: String, statusDir: String, ckpt: String,
      trigger: Trigger): StreamingQuery = {
    val docSchema = StructType.fromDDL("txn_id STRING, event_type STRING, value DOUBLE, k BIGINT")
    spark.readStream.format("graft-shards")
      .option("startingPosition", "TRIM_HORIZON").load(reqDir)
      .select(from_json(col("data"), docSchema).as("d")).select(col("d.*"))
      .transform(DocPipeline.pipeline).transform(DocPipeline.withStatus)
      .select(col("txn_id").as("key"), to_json(struct(col("txn_id").as("txnId"),
        col("status"), unix_millis(current_timestamp()).as("ms"))).as("data"))
      .writeStream.format("graft-shards").queryName("txn_pipeline")
      .option("numShards", Shards.toString)
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .start(statusDir)
  }

  /** The status stream read back as the correlator's events. */
  def statusEvents(spark: SparkSession, statusDir: String): Dataset[Correlate.StatusEvent] = {
    import spark.implicits._
    val statusSchema = StructType.fromDDL("txnId STRING, status STRING, ms BIGINT")
    spark.readStream.format("graft-shards")
      .option("startingPosition", "TRIM_HORIZON").load(statusDir)
      .select(from_json(col("data"), statusSchema).as("e"))
      .select(col("e.txnId").as("txnId"), col("e.status").as("status"),
        timestamp_millis(col("e.ms")).as("ts"))
      .as[Correlate.StatusEvent]
  }

  def run(tr: Trace, o: Main.Opts, rec: mutable.Map[String, Any]): Unit = {
    val spark = tr.spark
    import spark.implicits._
    val base = s"${o.scratch}/txn"
    val (reqDir, statusDir, table) = (s"$base/requests", s"$base/status", s"$base/table")
    val perTick = (RatePerS * TickMs / 1000).toInt
    val nTicks = ((WarmupMs + o.seconds * 1000L + TailMs) / TickMs).toInt
    val rng = new java.util.SplittableRandom(o.seed)
    val txns: Array[Array[Txn]] = Array.tabulate(nTicks + 1, perTick) { (t, i) =>
      val n = t.toLong * perTick + i
      Txn(f"0x${o.seed}%x$n%08x", (n % Shards).toInt, t,
        if (rng.nextInt(100) < 3) None else Some(rng.nextInt(100)),
        rng.nextInt(10000) / 10000.0, EventTypes(rng.nextInt(EventTypes.length)))
    }
    val lines: Array[Array[Seq[String]]] = txns.map(ts =>
      Array.tabulate(Shards)(s => ts.filter(_.shard == s).map(_.json).toSeq))

    val pipeline = startPipeline(spark, reqDir, statusDir, s"$base/ckpt-pipeline",
      Trigger.ProcessingTime(TriggerMs))
    val events = statusEvents(spark, statusDir)
    val corr = Correlate.serve(events, table, s"$base/ckpt-correlate", intervalMs = TriggerMs)

    // priming: tick 0 goes through the whole loop before the clock starts,
    // so the open loop starts on queries past their first-trigger costs
    val ticks = new java.util.concurrent.ConcurrentLinkedQueue[Tick]()
    val genErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val primeMs = now()
    (0 until Shards).foreach(s => GraftShards.append(reqDir, s, lines(0)(s)))
    ticks.add(Tick(0, primeMs, primeMs, Nil, now(), tr.newId()))
    pipeline.processAllAvailable()
    corr.processAllAvailable()
    rec("stream_check") = Main.checkStreaming(tr, corr)

    // the open-loop generator: tick t >= 1 is due at t0 + (t - 1) * TickMs
    // whatever the system's state; its lateness is recorded, never absorbed
    rec("primed_ms") = now()
    val t0 = now() + 100L
    val winStart = t0 + WarmupMs
    val winEnd = winStart + o.seconds * 1000L
    val gen = new Thread(() => {
      (1 to nTicks).foreach { t =>
        val due = t0 + (t - 1) * TickMs
        val wait = due - now()
        if (wait > 0) Thread.sleep(wait)
        val id = tr.newId()
        val start = now()
        val appendMs = (0 until Shards).map { s =>
          val a = System.nanoTime()
          try GraftShards.append(reqDir, s, lines(t)(s))
          catch { case e: Throwable => genErrors.add(s"tick $t shard $s: $e") }
          (System.nanoTime() - a) / 1e6
        }
        ticks.add(Tick(t, due, start, appendMs, now(), id))
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    rec("setup_end_ms") = winStart
    val fsAt = mutable.Map[String, Map[String, Long]]()
    Thread.sleep(math.max(0L, winStart - now()))
    fsAt("start") = FsCounters.snapshot()
    Thread.sleep(math.max(0L, winEnd - now()))
    fsAt("end") = FsCounters.snapshot()
    gen.join()
    // drain: every appended request reaches the table
    pipeline.processAllAvailable()
    corr.processAllAvailable()
    val drainedMs = now()
    pipeline.stop()
    corr.stop()
    tr.awaitStreamsDone()
    tr.barrier()
    for (q <- Seq(pipeline, corr); e <- q.exception) genErrors.add(s"${q.name}: $e")

    // status records: (shard, seq) -> txnId, read from the stream's chunk files
    val statusAt = mutable.Map[(String, Long), String]()
    val chunkName = """(\d{18})-(\d{18})\.jsonl""".r
    val txnIdRe = "\"txnId\":\"([^\"]+)\"".r
    var chunks = 0
    def list(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
      Using.resource(Files.list(dir))(_.iterator().asScala.toList)
    def chunkFiles(dir: String): Seq[(String, Long, java.nio.file.Path)] = {
      val root = Paths.get(dir)
      if (!Files.isDirectory(root)) Seq.empty
      else list(root)
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("shard-"))
        .flatMap(sd => list(sd).collect {
          case p if chunkName.matches(p.getFileName.toString) =>
            val chunkName(s, _) = p.getFileName.toString
            (sd.getFileName.toString, s.toLong, p)
        })
    }
    chunks += chunkFiles(reqDir).size
    chunkFiles(statusDir).foreach { case (shard, start, p) =>
      chunks += 1
      Files.readAllLines(p, StandardCharsets.UTF_8).asScala.zipWithIndex.foreach {
        case (line, i) =>
          txnIdRe.findFirstMatchIn(line).foreach(m => statusAt((shard, start + i)) = m.group(1))
      }
    }
    // a txn becomes visible at the end of the first correlate trigger whose
    // committed end offset passes its status record
    val trigs = tr.streams.all.map(Trig(_))
    val corrTrigs = trigs.filter(_.queryId == corr.id.toString).sortBy(_.batchId)
    val pipeTrigs = trigs.filter(_.queryId == pipeline.id.toString).sortBy(_.batchId)
    def offsets(t: Trig): Map[String, Long] =
      if (t.endOffset == null) Map.empty
      else graft.sources.GraftShardsOffset.fromJson(t.endOffset).positions
    def coverTimes(ts: Seq[Trig]): Map[(String, Long), Long] = {
      val out = mutable.Map[(String, Long), Long]()
      val prev = mutable.Map[String, Long]().withDefaultValue(0L)
      ts.foreach { t =>
        offsets(t).foreach { case (shard, end) =>
          (prev(shard) until end).foreach(seq => out((shard, seq)) = t.endMs)
          prev(shard) = math.max(prev(shard), end)
        }
      }
      out.toMap
    }
    val visibleBySeq = coverTimes(corrTrigs)
    val visible = mutable.Map[String, Long]()
    val statusCount = mutable.Map[String, Int]().withDefaultValue(0)
    statusAt.foreach { case (pos, id) =>
      statusCount(id) += 1
      visibleBySeq.get(pos).foreach(v => visible(id) = math.min(v, visible.getOrElse(id, v)))
    }
    // when the pipeline's trigger covered each request record: request seqs
    // follow append order, shard by shard
    val pipeAt = coverTimes(pipeTrigs)
    val reqSeq = mutable.Map[String, (String, Long)]()
    val nextSeq = Array.fill(Shards)(0L)
    txns.foreach(_.foreach { x =>
      reqSeq(x.id) = (GraftShards.shardDirName(x.shard), nextSeq(x.shard))
      nextSeq(x.shard) += 1
    })

    // correctness: every submitted txn exactly once, with the gates' status
    val rows = Sources.readTable(spark, table).select(col("txnId"), col("finalStatus"))
      .as[(String, String)].collect()
    val got = rows.groupBy(_._1)
    val all = txns.flatten
    val bad = mutable.LinkedHashMap[String, String]()
    all.foreach { x =>
      got.get(x.id) match {
        case None => bad(x.id) = "missing"
        case Some(rs) if rs.length > 1 => bad(x.id) = s"duplicated x${rs.length}"
        case Some(rs) if rs.head._2 != x.expected =>
          bad(x.id) = s"wrong status ${rs.head._2}, expected ${x.expected}"
        case _ if statusCount(x.id) != 1 => bad(x.id) = s"status records x${statusCount(x.id)}"
        case _ =>
      }
    }
    val known = all.map(_.id).toSet
    val unknown = got.keys.count(k => !known.contains(k))
    rec("attempted") = all.length
    rec("failed") = bad.size + unknown + genErrors.size
    rec("errors") = genErrors.asScala.toSeq ++ bad.take(20).map { case (k, v) => s"$k: $v" } ++
      (if (unknown > 0) Seq(s"$unknown unknown txn ids in the table") else Nil)
    rec("oracle_checks") = Seq.empty

    // end-to-end metrics over the measured window
    val tickList = ticks.asScala.toSeq.sortBy(_.tick)
    val dueOf = (t: Int) => if (t == 0) primeMs else t0 + (t - 1) * TickMs
    val inWin = all.filter(x => dueOf(x.tick) >= winStart && dueOf(x.tick) < winEnd)
    val lat = inWin.flatMap(x => visible.get(x.id).map(v => (v - dueOf(x.tick)).toDouble)).toSeq
    // completions arrive in one lump per correlate trigger, and trigger i
    // takes what arrived since trigger i-1 started: the rate is the rows of
    // the triggers starting in the window over the spans since their
    // predecessors started
    val rateTrigs = corrTrigs.sliding(2).collect {
      case Seq(a, b) if b.startMs >= winStart && b.startMs < winEnd => (b.rows, b.startMs - a.startMs)
    }.toSeq
    val p50 = Attr.pct(lat, 0.50)
    val p99 = Attr.pct(lat, 0.99)
    val tps = rateTrigs.map(_._1).sum * 1000.0 / math.max(1L, rateTrigs.map(_._2).sum)
    rec("e2e") = Map("latency_ms" -> p50, "tail_latency_ms" -> p99, "throughput_ops" -> tps)
    rec("named") = Map("txn_p50_ms" -> p50, "txn_p99_ms" -> p99, "txn_samples" -> lat.size,
      "txn_completed_tps" -> tps, "offered_tps" -> RatePerS, "window_ms" -> (winEnd - winStart),
      "drain_ms" -> (drainedMs - (t0 + nTicks * TickMs)))

    // where a window txn's latency went: publish, pipeline stage, correlate stage
    val tickOf = tickList.map(t => t.tick -> t).toMap
    val parts = inWin.flatMap { x =>
      for {
        tk <- tickOf.get(x.tick); pos <- reqSeq.get(x.id); p <- pipeAt.get(pos)
        v <- visible.get(x.id)
      } yield (tk.endMs - tk.dueMs, p - tk.endMs, v - p)
    }
    val winTrig = (t: Trig) => t.endMs >= winStart && t.endMs < winEnd
    rec("latency_account") = Map(
      "txn_p50_ms" -> p50,
      "publish_p50_ms" -> Attr.median(parts.map(_._1.toDouble)),
      "pipeline_stage_p50_ms" -> Attr.median(parts.map(_._2.toDouble)),
      "correlate_stage_p50_ms" -> Attr.median(parts.map(_._3.toDouble)),
      "pipeline_trigger_p50_ms" ->
        Attr.median(pipeTrigs.filter(winTrig).map(_.dur("triggerExecution").toDouble)),
      "correlate_trigger_p50_ms" ->
        Attr.median(corrTrigs.filter(winTrig).map(_.dur("triggerExecution").toDouble)))

    val winTicks = tickList.filter(t => t.dueMs >= winStart && t.dueMs < winEnd)
    rec("series") = Map(
      "ticks" -> tickList.map(t => Map("tick" -> t.tick, "due_ms" -> t.dueMs,
        "late_ms" -> (t.startMs - t.dueMs), "append_ms" -> t.appendMs, "txns" -> perTick)),
      "progress" -> (pipeTrigs ++ corrTrigs).sortBy(_.startMs).map(t => Map(
        "query" -> t.name, "batch_id" -> t.batchId, "start_ms" -> t.startMs,
        "duration_ms" -> t.durations, "rows" -> t.rows, "end_offset" -> t.endOffset,
        "state_rows" -> t.stateRows, "state_bytes" -> t.stateBytes)),
      "window_ms" -> Seq(winStart, winEnd))

    if (tr.on) {
      val jobs = tr.jobs.all
      val plans = tr.plans.recs.asScala.toSeq
      val jobsOf = jobs.groupBy(j => (j.queryId, j.batchId))
      val winTrigs = (pipeTrigs ++ corrTrigs).filter(winTrig)
      val fsWin = FsCounters.delta(fsAt("start"), fsAt("end")).map { case (k, v) =>
        k -> v.toDouble / math.max(1, winTrigs.size)
      }
      def trigValues(t: Trig): Map[String, Double] = {
        val js = jobsOf.getOrElse((t.queryId, t.batchId), Seq.empty)
        val exec = Attr.busyMs(Attr.intervals(js), t.startMs, t.endMs).toDouble
        val batchPlans = plans.filter(p => p.startMs >= t.startMs && p.startMs <= t.endMs &&
          t.queryId == corr.id.toString).map(_.planningMs).sum
        Attr.jobTotals(js) ++ Map(
          "wall_ms" -> t.dur("triggerExecution").toDouble,
          "exec_ms" -> exec,
          "driver_gap_ms" -> (t.dur("triggerExecution") - exec),
          "planning_ms" -> (t.dur("queryPlanning") + batchPlans).toDouble,
          "micro_batches" -> 1.0,
          "latest_offset_ms" -> t.dur("latestOffset").toDouble,
          "add_batch_ms" -> t.dur("addBatch").toDouble,
          "commit_ms" -> (t.dur("walCommit") + t.dur("commitOffsets")).toDouble,
          "trigger_ms" -> t.dur("triggerExecution").toDouble,
          "rows" -> t.rows.toDouble,
          "add_batch_gap_ms" -> (t.dur("addBatch") - exec),
          "state_rows" -> t.stateRows.toDouble,
          "state_bytes" -> t.stateBytes.toDouble)
      }
      val vals = winTrigs.map(t => t -> trigValues(t))
      val fsKeys = Seq("list_calls", "create_calls", "rename_calls", "delete_calls",
        "bytes_written")
      rec("per_layer") = Attr.perOp(vals.map(_._2)) ++ fsKeys.map(k => s"fs.$k" -> fsWin(k))
      val stepMeasures = Seq("latest_offset_ms", "planning_ms", "add_batch_ms", "commit_ms",
        "trigger_ms", "rows", "jobs", "job_ms")
      def medians(layer: String, qid: String, extra: Seq[String]): Seq[(String, Double)] = {
        val vs = vals.filter(_._1.queryId == qid).map(_._2)
        (stepMeasures ++ extra).map(m => s"$layer.$m" -> Attr.median(vs.map(_(m)))) :+
          (s"$layer.driver_gap_ms" -> Attr.median(vs.map(_("add_batch_gap_ms"))))
      }
      val appends = winTicks.flatMap(_.appendMs)
      rec("layers") = (Seq(
        "gen.late_ms" -> (if (winTicks.isEmpty) 0.0
          else winTicks.map(t => (t.startMs - t.dueMs).toDouble).max),
        "shards.append_ms" -> Attr.median(appends),
        "shards.chunks" -> chunks.toDouble) ++
        medians("pipeline", pipeline.id.toString, Nil) ++
        medians("correlate", corr.id.toString, Seq("state_rows", "state_bytes")) ++
        fsKeys.map(k => s"fs.$k" -> fsWin(k))).toMap
      tickList.foreach { t =>
        tr.record(Span(t.spanId, 0L, "gen.tick", t.startMs, t.endMs,
          Map("tick" -> t.tick, "due_ms" -> t.dueMs, "append_ms" -> t.appendMs)))
      }
      val trigSpan = (pipeTrigs ++ corrTrigs).map { t =>
        val s = Span(tr.newId(), 0L, s"trigger:${t.name}", t.startMs, t.endMs,
          Map("query_id" -> t.queryId, "batch_id" -> t.batchId, "duration_ms" -> t.durations,
            "rows" -> t.rows))
        tr.record(s)
        (t.queryId, t.batchId) -> s.id
      }.toMap
      Attr.jobSpans(tr, jobs, j => trigSpan.getOrElse((j.queryId, j.batchId), 0L))
        .foreach(tr.record)
    }
  }
}
