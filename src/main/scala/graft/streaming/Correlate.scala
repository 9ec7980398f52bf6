package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Keyed stream-to-state correlation with timeout eviction — the typed
  * Dataset re-expression of the reference's request/response correlator
  * (SURVEY.md §2.a R11–R14).
  *
  * Reference semantics (svcsample/svckinesis.js): an in-memory
  * `txnToResponseMap` holds pending HTTP responses keyed by txnId
  * (svckinesis.js:66); each Kinesis status record looks up its txn
  * (handleStatusEvent, :173-185), `RUNNING` passes through without
  * completing (:92-95), terminal statuses complete the response and delete
  * the key (:90-106), and a 20-second timeout abandons the txn, with late
  * results discarded (headersSentForTransaction, :80-88; timeout
  * `pollingsvc.js:133`).
  *
  * Spark design: `flatMapGroupsWithState` keyed by txnId IS that map —
  * distributed, fault-tolerant, exactly-once. Event-time timeout plus
  * watermark replaces the wall-clock HTTP timeout; completion leaves a
  * bounded-lifetime tombstone (see [[CorrState]]) so duplicate terminals
  * are suppressed whether they arrive in the same micro-batch, a later
  * one, or behind the watermark. At scale the state store shards by key
  * across executors — no single-process map, no transition buffer (R14)
  * needed.
  *
  * No batch/SQL oracle exists for timeout semantics, so this operator is
  * pinned by StreamingSpec (MemoryStream, multi-batch, watermark-driven
  * timeouts) rather than a `queries` entry.
  */
object Correlate {

  /** A status record on the stream — `{txnId, status}` as built at
    * aprocess.js:150-153, plus the event-time we always carry. */
  case class StatusEvent(txnId: String, status: String, ts: Timestamp)

  /** A completed request: terminal status, or TIMEOUT after [[TimeoutMs]]
    * with no terminal event. */
  case class Completion(txnId: String, finalStatus: String)

  /** 20 s — the reference's end-to-end HTTP timeout (pollingsvc.js:133). */
  val TimeoutMs: Long = 20000L

  /** Keyed state: the latest event time, and whether the txn has already
    * completed. A completed txn keeps a `done` TOMBSTONE for [[TimeoutMs]]
    * of event time (the reference's headers-already-sent guard,
    * svckinesis.js:80-88): an at-least-once source that re-delivers the
    * terminal in a LATER micro-batch with a re-stamped (above-watermark)
    * timestamp would otherwise emit a duplicate Completion. The tombstone
    * is evicted by its own timeout, so state stays bounded; duplicates
    * arriving later than that are dropped by the watermark instead. */
  case class CorrState(ts: Long, done: Boolean)

  def correlate(events: Dataset[StatusEvent]): Dataset[Completion] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.txnId)
      .flatMapGroupsWithState[CorrState, Completion](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (txnId: String, evs: Iterator[StatusEvent], state: GroupState[CorrState]) =>
          if (state.hasTimedOut) {
            if (!state.get.done) {
              // pending txn → TIMEOUT (R13); leave a done tombstone so a
              // terminal re-delivered above the watermark AFTER the
              // timeout is suppressed too (headers-already-sent)
              val ts = state.get.ts
              state.update(CorrState(ts, done = true))
              // the watermark may have jumped far past ts when this fires;
              // a timeout timestamp must sit above it
              state.setTimeoutTimestamp(
                math.max(ts + 2 * TimeoutMs, state.getCurrentWatermarkMs() + TimeoutMs))
              Iterator(Completion(txnId, "TIMEOUT"))
            } else {
              state.remove() // expiring tombstone → silence
              Iterator.empty
            }
          } else {
            val batch = evs.toSeq
            val terminal = batch
              .filter(e => e.status == "SUCCEEDED" || e.status == "FAILED")
              .sortBy(_.ts.getTime)
              .headOption
            val alreadyDone = state.exists && state.get.done
            terminal match {
              case Some(e) if !alreadyDone =>
                // complete (svckinesis.js:105); same-batch duplicates
                // collapse to the first terminal; a tombstone suppresses
                // cross-batch re-deliveries
                val doneTs = e.ts.getTime
                state.update(CorrState(doneTs, done = true))
                state.setTimeoutTimestamp(doneTs + TimeoutMs)
                Iterator(Completion(txnId, e.status))
              case Some(_) =>
                Iterator.empty // duplicate terminal after completion
              case None if alreadyDone =>
                Iterator.empty // RUNNING after completion: ignore
              case None =>
                // RUNNING pass-through (svckinesis.js:92-95): keep waiting,
                // arm/refresh the 20 s timeout from the latest event time
                // seen so far — the deadline only advances, so an
                // out-of-order row below the prior max can't pull the
                // timeout earlier
                val maxTs = (batch.map(_.ts.getTime) ++
                  (if (state.exists) Seq(state.get.ts) else Nil)).max
                state.update(CorrState(maxTs, done = false))
                state.setTimeoutTimestamp(maxTs + TimeoutMs)
                Iterator.empty
            }
          }
      }
  }

  /** Convenience: run the correlator over a bounded typed stream and
    * collect completions (used by specs and ad-hoc runs). */
  def correlateBatchLike(s: SparkSession, events: Seq[StatusEvent]): Seq[Completion] = {
    import s.implicits._
    // batch path shares the terminal-dispatch semantics (no timeouts):
    events.toDS().groupByKey(_.txnId).flatMapGroups { (txn, evs) =>
      evs.toSeq.filter(e => e.status == "SUCCEEDED" || e.status == "FAILED")
        .sortBy(_.ts.getTime).headOption
        .map(e => Completion(txn, e.status)).iterator
    }.collect().toSeq
  }

  /** The reference's LIVE deployment form — the long-running service loop
    * (doInit → startStreamReader, svckinesis.js:250-256) as a
    * ProcessingTime-triggered query: consume status events continuously at
    * the reference's 1500 ms poll cadence (:209-211), correlate, and land
    * every completion in the versioned upsert table (the durable analog of
    * completing held HTTP responses — a web tier reads the table instead
    * of holding sockets in a process map). `foreachBatch` + keyed upsert
    * gives end-to-end exactly-once: offsets checkpoint the source cursor,
    * the correlator state is store-backed, and re-delivered terminals are
    * tombstone-suppressed, so a crash/restart never duplicates or loses a
    * completion (StreamingSpec proves it across a restart). Empty
    * micro-batches skip the table rewrite.
    *
    * `monitorDir` (optional) attaches the live dashboard
    * ([[Monitor.ProgressListener]], dashboard.yml:14-57 analog): one
    * progress row per trigger lands in the dir while the service runs,
    * and the listener detaches itself when this query terminates. */
  def serve(events: Dataset[StatusEvent], tablePath: String,
      checkpoint: String, intervalMs: Long = 1500,
      monitorDir: Option[String] = None): StreamingQuery = {
    val s = events.sparkSession
    // registered before start() so batch 0 is captured; if start() itself
    // throws, the self-detach never fires (no run ever terminates) — remove
    // the listener on the failure path or every retry leaks one
    val listener = monitorDir.map(dir =>
      new Monitor.ProgressListener(s, dir, Set("correlate_serve"),
        detachOnTerminate = true))
    listener.foreach(s.streams.addListener)
    try {
      correlate(events).toDF()
        .writeStream
        .queryName("correlate_serve")
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // upsert materializes the batch exactly once (its dedup
          // checkpoint), so the stateful plan runs once per trigger with no
          // cache, and an idle batch (RUNNING-only, duplicate terminals) is
          // detected from that same materialization, with no extra job
          graft.sources.Sources.upsertUnlessEmpty(batch, Seq("txnId"), tablePath)
        }
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.ProcessingTime(s"$intervalMs milliseconds"))
        .start()
    } catch {
      case t: Throwable =>
        listener.foreach(s.streams.removeListener)
        throw t
    }
  }
}
