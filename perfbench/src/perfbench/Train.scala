package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{GraftShards, Sources}
import graft.streaming.Correlate

/** Class-loading pass for the class-data-sharing archive `perfbench/build.py`
  * writes: touches the code paths the workloads load (session, collectors,
  * parquet, shuffle and broadcast, the graft-shards source and sink, the
  * document pipeline, the correlator and the upsert table) on a few rows,
  * then exits. Argument: a scratch directory. */
object Train {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Main.session(Main.Opts("train", 0L, 1, trace = true, dir, dir, ""))
    import spark.implicits._
    try {
      val tr = new Trace(spark, on = true)
      Main.selfCheck(tr, dir)
      val t = (0 until 1000).map(i => (i.toLong, s"t$i", i % 7)).toDF("id", "s", "k")
      t.write.parquet(s"$dir/t")
      val back = spark.read.parquet(s"$dir/t")
      back.groupBy(col("k")).count().join(broadcast(back), "k")
        .write.format("noop").mode("overwrite").save()
      GraftShards.append(s"$dir/req", 0, (0 until 100).map(i =>
        s"""{"txn_id":"0x$i","event_type":"click","value":0.5,"k":$i}"""))
      val pipe = TxnLoop.startPipeline(spark, s"$dir/req", s"$dir/status", s"$dir/ck1",
        Trigger.AvailableNow())
      pipe.awaitTermination()
      val events = TxnLoop.statusEvents(spark, s"$dir/status")
      val corr = Correlate.serve(events, s"$dir/table", s"$dir/ck2", intervalMs = 100)
      corr.processAllAvailable()
      corr.stop()
      Sources.readTable(spark, s"$dir/table").collect()
      spark.readStream.format("graft-shards").load(s"$dir/req").writeStream
        .foreachBatch { (df: DataFrame, _: Long) => df.write.mode("append").parquet(s"$dir/fb"); () }
        .option("checkpointLocation", s"$dir/ck3").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally spark.stop()
  }
}
