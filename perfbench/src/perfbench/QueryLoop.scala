package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.Trigger

/** The closed-loop query workloads: one client runs the workload's queries
  * (`graft.SparkEntry.queries`) in one timed pass, in a seed-permuted order,
  * each result materialized with the `noop` sink. The number of timed passes
  * is fixed, so the metrics mean the same on every commit.
  *
  * store_ingest times its first pass: every ingest call builds a fresh store
  * and runs its own micro-batch loop, so there is nothing to warm but the
  * shared fixtures and the streaming stack, which set-up builds. Its results
  * checked against the oracle are written after each timed call.
  * analytics_read first runs an untimed pass that writes the checked results
  * and builds the stores its queries cache (z-stores, indexes, the upsert
  * table), then times a warm pass: it measures reads, not store builds. */
object QueryLoop {
  /** store_ingest: each call builds a fresh store through an exactly-once
    * micro-batch ingest loop. Layer name -> query. */
  val Ingest: Seq[(String, String)] = Seq(
    "lsh" -> "q108_dedup_stream_ingest",
    "vec" -> "q114_ann_stream_ingest",
    "text_idx" -> "q117_text_stream_ingest",
    "pq" -> "q127_pq_stream_ingest",
    "zorder_ingest" -> "q132_zorder_stream_ingest",
    "zorder_merge" -> "q141_zorder_cdc_merge")

  /** analytics_read: one read-only query per query group. Group -> query. */
  val Analytics: Seq[(String, String)] = Seq(
    "relational" -> "q02_revenue_by_nation",
    "graph" -> "q126_label_propagation",
    "dedup" -> "q44_dedup_embed",
    "text" -> "q131_bpe_apply",
    "zread" -> "q123_zorder_read",
    "idxread" -> "q113_bm25_index",
    "upsert_read" -> "q78_keyed_lookup")

  val IngestMeasures = Seq("wall_ms", "jobs", "job_ms", "driver_gap_ms",
    "planning_ms", "micro_batches", "fs_meta_calls", "bytes_written")
  val ReadMeasures = Seq("wall_ms", "planning_ms", "jobs", "tasks",
    "driver_gap_ms", "shuffle_bytes", "input_bytes")

  /** One timed call: epoch-ms bounds (to attribute jobs and triggers) and
    * its wall time from the monotonic clock. */
  final case class Call(group: String, name: String, startMs: Long, endMs: Long,
      wallMs: Double, error: Option[String], fs: Map[String, Long], spanId: Long) {
    def ok: Boolean = error.isEmpty
  }

  private def now(): Long = System.currentTimeMillis()

  /** Seed-permuted query order of a pass (pass -1: the untimed one). */
  def order(seed: Long, pass: Int, qs: Seq[(String, String)]): Seq[(String, String)] =
    new scala.util.Random(seed * 7919L + pass).shuffle(qs)

  /** Runs the workload and fills `rec`. */
  def run(tr: Trace, o: Main.Opts, rec: mutable.Map[String, Any],
      queries: Seq[(String, String)], ingest: Boolean): Unit = {
    val spark = tr.spark
    val fns = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val checks = mutable.ArrayBuffer.empty[Map[String, String]]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0
    def dump(name: String, df: DataFrame): Unit = {
      val dir = s"${o.scratch}/results/$name"
      checks += Map("name" -> name, "dir" -> dir, "sql" -> oracle(name))
      df.coalesce(1).write.mode("overwrite").parquet(dir)
    }
    def attempt(name: String)(f: => Unit): Option[String] = {
      attempted += 1
      try { f; None } catch {
        case e: Throwable =>
          failed += 1
          val msg = s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          errors += msg
          Some(msg)
      }
    }

    // graft.Bench's untimed infrastructure warm-up over the 5-row region table
    val region = spark.read.parquet(s"${o.data}/region.parquet")
    region.groupBy(col("r_name")).count().join(broadcast(region), "r_name").collect()
    if (ingest) {
      // the shard copies several ingest queries share, and one micro-batch
      // loop over them: graft-shards source, foreachBatch, parquet write
      val docs = graft.sources.GraftShards.documentsShards(spark, o.data)
      graft.sources.GraftShards.embeddingsShards(spark, o.data)
      val w = s"${o.scratch}/warmup"
      val q = spark.readStream.format("graft-shards").option("startingPosition", "TRIM_HORIZON")
        .load(docs).writeStream
        .foreachBatch { (df: DataFrame, _: Long) => df.write.mode("append").parquet(s"$w/out"); () }
        .option("checkpointLocation", s"$w/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      rec("stream_check") = Main.checkStreaming(tr, q)
    } else
      order(o.seed, -1, queries).foreach { case (_, n) =>
        attempt(n)(tr.span(s"check:$n")(_ => dump(n, fns(n)(spark, o.data))))
      }

    rec("setup_end_ms") = now()
    val calls = order(o.seed, 0, queries).map { case (g, n) =>
      val id = tr.newId()
      val fs0 = FsCounters.snapshot()
      val t0 = now()
      val n0 = System.nanoTime()
      var df: DataFrame = null
      val err = attempt(n) {
        df = fns(n)(spark, o.data)
        df.write.format("noop").mode("overwrite").save()
      }
      val wall = (System.nanoTime() - n0) / 1e6
      val c = Call(g, n, t0, now(), wall, err, FsCounters.delta(fs0, FsCounters.snapshot()), id)
      if (ingest && err.isEmpty)
        attempt(s"$n result")(tr.span(s"check:$n", id)(_ => dump(n, df)))
      c
    }
    tr.barrier()
    tr.awaitStreamsDone()

    val ok = calls.filter(_.ok)
    val perQuery: Map[String, Double] = ok.map(c => c.name -> c.wallMs).toMap
    // the pass's time is the sum of its timed calls (result dumps excluded)
    val passMs = calls.map(_.wallMs).sum
    val geomean =
      if (perQuery.isEmpty) Double.NaN
      else math.exp(perQuery.values.map(v => math.log(math.max(v, 1e-3))).sum / perQuery.size)
    rec("attempted") = attempted
    rec("failed") = failed
    rec("errors") = errors.toSeq
    rec("oracle_checks") = checks.toSeq
    // the client's tail is the time until its last query of the pass answers:
    // which single query is slowest depends on the seeded order (the first
    // call of a pass pays the JVM's shared first-use costs). throughput_ops
    // is ok calls over that same time: it restates tail_latency_ms, it is
    // not separate evidence
    rec("e2e") = Map(
      "latency_ms" -> geomean,
      "tail_latency_ms" -> passMs,
      "throughput_ops" -> ok.size / (passMs / 1000.0))
    rec("named") = Map(
      "pass_s" -> passMs / 1000.0,
      "query_geomean_ms" -> geomean,
      "query_ms" -> perQuery)
    rec("series") = Map(
      "calls" -> calls.map(c => Map("group" -> c.group, "query" -> c.name,
        "start_ms" -> c.startMs, "wall_ms" -> c.wallMs, "ok" -> c.ok)),
      "progress" -> tr.streams.all.map(Trig(_)).sortBy(_.startMs).map(t => Map(
        "query" -> t.name, "batch_id" -> t.batchId, "start_ms" -> t.startMs,
        "duration_ms" -> t.durations, "rows" -> t.rows)))
    if (tr.on) layers(tr, rec, ok, ingest)
  }

  /** Per-call layer values of the traced run. Jobs, progress events and
    * planning records are attributed to the call whose interval holds their
    * start: one client runs one call at a time. */
  private def layers(tr: Trace, rec: mutable.Map[String, Any], ok: Seq[Call],
      ingest: Boolean): Unit = {
    val jobs = tr.jobs.all
    val trigs = tr.streams.all.map(Trig(_))
    val plans = tr.plans.recs.toArray(Array.empty[tr.plans.Rec]).toSeq
    def within(t: Long, c: Call) = t >= c.startMs && t <= c.endMs
    val perCall: Seq[(Call, Map[String, Double])] = ok.map { c =>
      val js = jobs.filter(j => within(j.startMs, c))
      val ts = trigs.filter(t => within(t.startMs, c))
      val exec = Attr.busyMs(Attr.intervals(js), c.startMs, c.endMs).toDouble
      val planning = plans.filter(p => within(p.startMs, c)).map(_.planningMs).sum +
        ts.map(_.dur("queryPlanning")).sum
      val fs = c.fs.map { case (k, v) => k -> v.toDouble }
      c -> (Attr.jobTotals(js) ++ fs ++ Map(
        "wall_ms" -> c.wallMs,
        "exec_ms" -> exec,
        "driver_gap_ms" -> (c.wallMs - exec),
        "planning_ms" -> planning.toDouble,
        "micro_batches" -> ts.size.toDouble,
        "fs_meta_calls" -> Seq("list_calls", "create_calls", "rename_calls",
          "delete_calls", "mkdirs_calls").map(fs.getOrElse(_, 0.0)).sum))
    }
    rec("per_layer") = Attr.perOp(perCall.map(_._2))
    // the per-group breakdown: summed over the group's calls
    val measures = if (ingest) IngestMeasures else ReadMeasures
    rec("layers") = perCall.groupBy(_._1.group).flatMap { case (g, cs) =>
      val sum = Attr.sumMaps(cs.map(_._2))
      measures.map(m => s"$g.$m" -> sum.getOrElse(m, 0.0))
    }
    val callSpans = ok.map(c => Span(c.spanId, 0L, s"call:${c.name}", c.startMs, c.endMs,
      Map("group" -> c.group)))
    val trigSpans = trigs.map(t => t -> Span(tr.newId(),
      ok.find(c => within(t.startMs, c)).map(_.spanId).getOrElse(0L),
      s"trigger:${t.name}", t.startMs, t.endMs,
      Map("query_id" -> t.queryId, "batch_id" -> t.batchId, "duration_ms" -> t.durations)))
    val trigOf = trigSpans.map { case (t, s) => (t.queryId, t.batchId) -> s.id }.toMap
    callSpans.foreach(tr.record)
    trigSpans.foreach(x => tr.record(x._2))
    Attr.jobSpans(tr, jobs, j => trigOf.getOrElse((j.queryId, j.batchId),
      ok.find(c => within(j.startMs, c)).map(_.spanId).getOrElse(0L))).foreach(tr.record)
  }
}
