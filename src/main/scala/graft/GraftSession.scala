package graft

import org.apache.spark.sql.SparkSession

/** The one session plane: every main and the spec suite's `TestSpark` get
  * their session here, so specs run on the conf the driver mains run on.
  * Separately kept conf sets had drifted apart and hid faults that only
  * the entry-point plane shows.
  *
  * It does not register the `graft_*` SQL functions: Verify and Smoke are
  * what prove that each query registers the ones it needs on a session it
  * did not build.
  */
object GraftSession {

  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Every plane key and its value on `cores` local cores. */
  def plane(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // TIMESTAMP(NANOS) parquet columns, which Spark's reader rejects, read
    // as raw nanosecond longs; Tables.events normalizes them
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // storage-partitioned joins over bucketed z-tables (q161) plan
    // exchange-free; a no-op for every non-bucketed scan
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    // inferred isnotnull constraints push through projections and
    // re-evaluate expensive expressions (shingle sets) below the join:
    // measured 2.1x on the q41 pairwise-dedup join (16.1 s with, 7.6 s
    // without). The queries carry explicit filters; nothing relies on
    // inference.
    "spark.sql.constraintPropagation.enabled" -> "false",
    // bounded AvailableNow runs emit on the data batch; the trailing
    // watermark-only batch is pure overhead (~0.5 s per streaming query).
    // So a stateful operator sees a moved watermark only with the next
    // data batch (see Correlate.correlate).
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    "spark.ui.enabled" -> "false",
  )

  /** The session on `local[cores]` with the plane conf, logging at WARN. */
  def apply(cores: Int = cpus): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
    plane(cores).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
