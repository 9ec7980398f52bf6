package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{GraftShards, StoreMaint}

/** The exactly-once ingest harness every streaming-ingest loop runs on
  * ([[StoreMaint.applyOnce]], [[StoreMaint.shardStream]],
  * [[StoreMaint.run]], [[StoreMaint.batchedCte]]), pinned once for all of
  * them on a tiny shard directory: the marker is the LAST write of a batch,
  * the stream's rate limit cuts batches at `seq div ceil(maxShardCount /
  * TargetBatches)`, and the oracle CTE restates that same cut. */
class IngestHarnessSpec extends SparkSpec {
  import spark.implicits._

  private def markers(root: String): Seq[String] = {
    val dir = new java.io.File(root, "applied")
    if (!dir.exists()) Seq.empty
    else dir.listFiles().map(_.getName).filterNot(_.startsWith(".")).toSeq
  }

  test("applyOnce: a body that throws leaves no marker; the re-delivery applies exactly once") {
    val root = Files.createTempDirectory("graft-harness-once").toString
    var runs = 0
    val e = intercept[IllegalStateException] {
      StoreMaint.applyOnce(spark, root, 0L, 8) {
        runs += 1
        throw new IllegalStateException("crash inside the batch body")
      }
    }
    assert(e.getMessage.contains("crash"))
    assert(markers(root).isEmpty, "a failed body committed its marker")
    // the re-delivered batch runs under the batch confs, then commits
    val prevPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    StoreMaint.applyOnce(spark, root, 0L, 8) {
      runs += 1
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "false")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prevPartitions)
    // a replay after the commit is skipped wholesale
    StoreMaint.applyOnce(spark, root, 0L, 8) { runs += 1 }
    assert(runs == 2, s"body ran $runs times (one crash + one apply)")
    assert(markers(root) == Seq("0"))
  }

  // Four shards routed by `id mod 4` holding 5, 3, 2 and 1 records.
  private val ids: Seq[Long] = Seq(0L, 4L, 8L, 12L, 16L, 1L, 5L, 9L, 2L, 6L, 3L)

  /** (id → delivered batch, read-back batch type, row cap) of one run. */
  private lazy val delivered = {
    val base = Files.createTempDirectory("graft-harness-run").toString
    val shardDir = s"$base/shards"
    GraftShards.writeShardedBy(ids.toDF("id"), shardDir, GraftShards.NumShards,
      pmod(col("id"), lit(GraftShards.NumShards.toLong)), Seq(col("id")))
    val (stream, rowCap) = StoreMaint.shardStream(spark, shardDir,
      StructType(Seq(StructField("id", LongType))))
    val root = s"$base/store"
    val out = StoreMaint.run(spark, stream, root) { (df: DataFrame, id: Long) =>
      StoreMaint.applyOnce(spark, root, id, 8) {
        df.write.mode("overwrite").parquet(s"$root/out/batch=$id")
      }
    }
    val rows = out.select(col("id"), col("batch")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (rows, out.schema("batch").dataType, rowCap, markers(root).sorted)
  }

  /** The membership rule restated in Scala: per shard, rank by id, then
    * rank div ceil(max shard count / TargetBatches). */
  private def expectedBatches: Map[Long, Long] = {
    val byShard = ids.groupBy(_ % GraftShards.NumShards)
    val maxCount = byShard.values.map(_.size).max.toLong
    val limit = (maxCount + StoreMaint.TargetBatches - 1) / StoreMaint.TargetBatches
    byShard.values.flatMap(_.sorted.zipWithIndex.map {
      case (id, seq) => id -> seq / limit
    }).toMap
  }

  test("run over 4 shards: batch membership is seq div ceil(maxShardCount / TargetBatches); batch reads back as long") {
    val (rows, batchType, rowCap, applied) = delivered
    assert(expectedBatches.values.toSet == Set(0L, 1L),
      "fixture must span two batches")
    assert(rows == expectedBatches)
    assert(batchType == LongType)
    // limit ceil(5 / 2) = 3 records per shard per trigger
    assert(rowCap == 3L * GraftShards.NumShards)
    assert(applied == Seq("0", "1"))
  }

  test("batchedCte restates the stream's cut with the same TargetBatches and NumShards") {
    ids.toDF("id").createOrReplaceTempView("harness_ids")
    // the oracle dialect's integer division `//` is Spark's `div`
    val cte = StoreMaint.batchedCte("harness_ids", "id").replace("//", "div")
    val sqlBatches = spark.sql(s"WITH $cte SELECT id, batch FROM batched")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sqlBatches == delivered._1)
    // carry columns ride along, and the rank follows the caller's order
    ids.map(i => (i, i * 10)).toDF("id", "w")
      .createOrReplaceTempView("harness_ids_w")
    val carried = spark.sql("WITH " +
      StoreMaint.batchedCte("harness_ids_w", "id", "id DESC", Seq("w"))
        .replace("//", "div") + " SELECT * FROM batched")
    assert(carried.columns.toSeq == Seq("id", "w", "batch"))
    val rows = carried.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(16L) == ((160L, 0L)) && rows(0L) == ((0L, 1L)), rows.toString)
  }
}
