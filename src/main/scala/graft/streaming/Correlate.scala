package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions.{col, struct, to_json}
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

  /** Keyed state: the latest event time (for a timed-out txn, when its
    * timeout fired), and whether the txn has already completed. A completed
    * txn keeps a `done` TOMBSTONE for [[TimeoutMs]] of event time (the
    * reference's headers-already-sent guard, svckinesis.js:80-88): an
    * at-least-once source that re-delivers the terminal in a LATER
    * micro-batch with a re-stamped (above-watermark) timestamp would
    * otherwise emit a duplicate Completion. The tombstone
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
          // Spark clears a key's timeout on every call and rejects one
          // below the watermark, so every path that keeps state re-arms it
          // above the watermark
          val wm = state.getCurrentWatermarkMs()
          def arm(deadline: Long): Unit =
            state.setTimeoutTimestamp(math.max(deadline, wm + 1))
          def timeOut(): Iterator[Completion] = {
            // pending txn → TIMEOUT (R13); leave a done tombstone so a
            // terminal re-delivered above the watermark AFTER the timeout
            // is suppressed too (headers-already-sent). The watermark may
            // be far past the deadline when this fires: the tombstone
            // lives TimeoutMs from the later of the two.
            val firedAt = math.max(state.get.ts + TimeoutMs, wm)
            state.update(CorrState(firedAt, done = true))
            arm(firedAt + TimeoutMs)
            Iterator(Completion(txnId, "TIMEOUT"))
          }
          val done = state.exists && state.get.done
          val pending = state.exists && !done
          if (state.hasTimedOut) {
            if (pending) timeOut()
            else {
              state.remove() // expiring tombstone → silence
              Iterator.empty
            }
          } else if (pending && state.get.ts + TimeoutMs <= wm) {
            // the deadline passed before this event's batch: without a
            // no-data batch the timeout fires only now, so the txn times
            // out and the arriving event is swallowed (headers-already-sent)
            timeOut()
          } else {
            val batch = evs.toSeq
            val terminal = batch
              .filter(e => e.status == "SUCCEEDED" || e.status == "FAILED")
              .sortBy(_.ts.getTime)
              .headOption
            terminal match {
              case Some(e) if !done =>
                // complete (svckinesis.js:105); same-batch duplicates
                // collapse to the first terminal; a tombstone suppresses
                // cross-batch re-deliveries
                val doneTs = e.ts.getTime
                state.update(CorrState(doneTs, done = true))
                arm(doneTs + TimeoutMs)
                Iterator(Completion(txnId, e.status))
              case None if !done =>
                // RUNNING pass-through (svckinesis.js:92-95): keep waiting,
                // arm/refresh the 20 s timeout from the latest event time
                // seen so far — the deadline only advances, so an
                // out-of-order row below the prior max can't pull the
                // timeout earlier
                val maxTs = (batch.map(_.ts.getTime) ++
                  (if (state.exists) Seq(state.get.ts) else Nil)).max
                state.update(CorrState(maxTs, done = false))
                arm(maxTs + TimeoutMs)
                Iterator.empty
              case _ =>
                // duplicate terminal or RUNNING after completion: ignore,
                // keeping the tombstone's expiry
                arm(state.get.ts + TimeoutMs)
                Iterator.empty
            }
          }
      }
  }

  /** The reference's LIVE deployment form — the long-running service loop
    * (doInit → startStreamReader, svckinesis.js:250-256) as a
    * ProcessingTime-triggered query: consume status events continuously at
    * the reference's 1500 ms poll cadence (:209-211), correlate, and land
    * every completion in a graft-shards stream at `tablePath` (the durable
    * analog of completing held HTTP responses — a web tier reads it with
    * [[graft.sources.Sources.readTable]] instead of holding sockets in a
    * process map). Each completion is one record, keyed by its txnId, with
    * `to_json(struct(txnId, finalStatus))` as its payload.
    *
    * Exactly-once end to end, with no read of the completions: the
    * correlator emits at most one [[Completion]] per txnId (its tombstone
    * suppresses re-delivered terminals, the watermark anything later), so
    * the only other source of a duplicate is a replayed micro-batch. The
    * graft-shards sink ([[graft.sources.GraftShardsWrite]]) commits each
    * micro-batch as one epoch: its tasks stage temp files straight from
    * the stateful plan in one job, and the driver publishes them through
    * an intent manifest, renames and a committed marker. A replay of a
    * committed epoch runs its plan (so its state stores commit) and
    * publishes nothing; a replay of one that died mid-publish finishes the
    * dead attempt's renames instead. Epoch ids are per query, so the sink
    * binds `tablePath` to this query's id on its first write: a fresh
    * checkpoint pointed at an existing stream refuses rather than having
    * its epochs skipped. Offsets checkpoint the source cursor and the
    * correlator state is store-backed, so a crash/restart never duplicates
    * or loses a completion (StreamingSpec proves it across a restart). A
    * trigger that completes nothing publishes no chunk.
    *
    * The query's offset and commit logs and its state-store deltas commit
    * through Spark's `FileSystemBasedCheckpointFileManager` (one
    * `FileSystem.rename` each, where the `FileContext` manager forks
    * processes on a local FS without native Hadoop). The setting is scoped
    * to this `start()`, which is when the query takes its own copy of the
    * session conf, so the session's own value is unchanged afterwards.
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
      graft.sources.StoreMaint.withConf(s,
          "spark.sql.streaming.checkpointFileManagerClass",
          classOf[FileSystemBasedCheckpointFileManager].getName) {
        correlate(events)
          .select(col("txnId").as("key"),
            to_json(struct(col("txnId"), col("finalStatus"))).as("data"))
          .writeStream
          .format("graft-shards")
          .queryName("correlate_serve")
          .outputMode(OutputMode.Append)
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.ProcessingTime(s"$intervalMs milliseconds"))
          .start(tablePath)
      }
    } catch {
      case t: Throwable =>
        listener.foreach(s.streams.removeListener)
        throw t
    }
  }
}
