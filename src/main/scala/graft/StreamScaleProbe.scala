package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth probe for the STREAMING family: generates a 1× and a 10×
  * events corpus with one deterministic generator (same 30-day span,
  * densified 10× with 10× the users — the realistic throughput-growth
  * shape: window count stays constant, per-key state and the dedup
  * horizon grow with the data), streams both through q30/q31/q35/q38/q39
  * on the graft-shards source, and prints one JSON line with per-query
  * seconds and the 10×/1× growth factor.
  *
  * Methodology: each scale gets one untimed pass first (codegen warm,
  * shard layouts built, the q38 view table existing), so both timed
  * passes measure the same steady-state-update semantics; growth then
  * isolates data volume. The ~1 s fixed AvailableNow startup per query
  * (CLAUDE.md) is paid identically at both scales, so sub-10× growth is
  * partly amortized fixed cost — the number to watch is that nothing
  * grows SUPER-linearly.
  *
  * Usage: `sbt "runMain graft.StreamScaleProbe"` (env: SPARK_GRAFT_CPUS).
  */
object StreamScaleProbe {
  val BaseEvents = 100000L
  val BaseUsers = 1500
  val Factor = 10

  /** Deterministic synthetic events matching the sf0.1 shape: 30-day span,
    * 5 uniform event types, value ~U[0,560), sequential event_ids,
    * hash-assigned users; ts stored as a raw nanosecond LONG — the
    * Tables.events loader's LongType branch normalizes it exactly like
    * the driver's original nanos layout. */
  def genEvents(s: SparkSession, n: Long, users: Int): DataFrame = {
    val baseNs = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z
    val spanNs = 30L * 86400 * 1000000000L
    def h(c: Column*) = hash(c: _*)
    s.range(n).toDF("event_id")
      .withColumn("ts",
        // per-event step computed driver-side: event_id × spanNs would
        // overflow Long at 10⁶ events
        lit(baseNs) + col("event_id") * lit(spanNs / n) +
          pmod(h(col("event_id"), lit(1)), lit(1000000)).cast("long"))
      .withColumn("user_id",
        pmod(h(col("event_id"), lit(2)), lit(users)).cast("long"))
      .withColumn("event_type", element_at(
        typedLit(Seq("signup", "purchase", "view", "click", "error")),
        pmod(h(col("event_id"), lit(3)), lit(5)) + 1))
      .withColumn("value",
        (pmod(h(col("event_id"), lit(4)), lit(56021)) / lit(100.0)))
      .withColumn("props",
        concat(lit("{\"k\": "), pmod(h(col("event_id"), lit(5)), lit(100)),
          lit("}")))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus
    val spark = GraftSession(cpus)

    def writeCorpus(scale: Int): String = {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft-streamprobe/x$scale"
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      genEvents(spark, BaseEvents * scale, BaseUsers * scale)
        .repartition(cpus).write.parquet(s"$dir/events.parquet")
      dir
    }
    val x1 = writeCorpus(1)
    val x10 = writeCorpus(Factor)

    import graft.streaming.Streaming
    val probes: Seq[(String, Q)] = Seq(
      "q30_window_counts" -> Streaming.q30StreamWindowCounts,
      "q31_union_dedup" -> Streaming.q31StreamUnionDedup,
      "q35_stream_stream_join" -> Streaming.q35StreamStreamJoin,
      "q38_materialized_view" -> Streaming.q38StreamMaterializedView,
      "q39_stream_left_outer" -> Streaming.q39StreamLeftOuter,
    )

    def pass(dir: String): Seq[(String, Double, Long)] =
      probes.map { case (name, q) =>
        val t0 = System.nanoTime()
        val rows = q.fn(spark, dir).count()
        (name, (System.nanoTime() - t0) / 1e9, rows)
      }

    pass(x1) // warm: codegen, shard layouts, view table
    val base = pass(x1)
    pass(x10) // warm x10's layouts and view the same way
    val big = pass(x10)
    def fmt(r: Seq[(String, Double, Long)]) =
      r.map { case (k, t, _) => s"\"$k\":${math.rint(t * 1000) / 1000}" }
        .mkString("{", ",", "}")
    val growth = base.zip(big).map { case ((k, t1, _), (_, t10, _)) =>
      s"\"$k\":${math.rint(t10 / t1 * 10) / 10}"
    }.mkString("{", ",", "}")
    val rows = (base.map { case (k, _, n) => s"\"${k}_x1\":$n" } ++
      big.map { case (k, _, n) => s"\"${k}_x10\":$n" }).mkString("{", ",", "}")
    println(s"""{"probe":"streaming_scale_growth","events_x1":$BaseEvents,"events_x10":${BaseEvents * Factor},"users_x1":$BaseUsers,"users_x10":${BaseUsers * Factor},"secs_x1":${fmt(base)},"secs_x10":${fmt(big)},"growth_x10_over_x1":$growth,"result_rows":$rows,"note":"steady-state update semantics at both scales (one untimed warm pass each); ~1s fixed AvailableNow startup per query paid identically; q38 exercises the bucketed upsert view at 10x table size","cpus":$cpus}""")
    spark.stop()
  }
}
