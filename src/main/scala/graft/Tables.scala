package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (/root/repo/TESTDATA.md) plus shared exact-arithmetic helpers.
  *
  * Scale notes: every loader is a plain parquet scan so Catalyst can push
  * filters and prune columns into the scan (verified via
  * `.explain("formatted")` — `PushedFilters`/`ReadSchema`). At cluster scale
  * the same code reads a partitioned table; nothing here assumes local mode.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` normalized to Spark TimestampType regardless of the
    * generator's parquet layout — the driver has shipped two so far:
    *
    *  - TIMESTAMP(NANOS), which Spark's vectorized reader rejects: read as
    *    a raw nanosecond long (legacy.parquet.nanosAsLong) and truncate to
    *    microseconds with exact integer division (`div`, not `/` — double
    *    division loses ulps above 2^53 and ns epochs are 61-bit), exactly
    *    what DuckDB does when it loads the same file;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads
    *    natively as TIMESTAMP_NTZ: cast to TimestampType (a value no-op in
    *    the UTC sessions every main here builds), so every downstream
    *    plan — window(), watermarks, epoch arithmetic — sees ONE type.
    *
    * Branching on the observed schema instead of pinning one layout keeps
    * a testdata regeneration from silently changing query semantics: an
    * unrecognized ts type refuses loudly. The nanosAsLong flag is set on
    * the GraftSession plane AND here (order-independent loading); it only
    * affects NANOS columns, so it cannot change any other table's schema.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // nanos layout, read as raw ns long
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — testdata layout changed?")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Order-independent exact money sum: cast to DECIMAL before SUM so the
    * aggregation is exact regardless of partial-aggregate merge order, then
    * back to DOUBLE for a stable comparable value. The DuckDB oracle uses the
    * literal same shape: CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE).
    * (Raw double sums differ between engines in the last ulps because the
    * reduction order differs; decimals are associative.)
    */
  def moneySum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** SQL-side twin of [[moneySum]] for oracle strings. */
  def moneySumSql(expr: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"

  /** Fan out narrow per-row work ONLY when the scan under-parallelizes
    * (the local testdata tables are single parquet files = one split, so
    * an expensive projection would otherwise run in ONE task). A big
    * table's scan already has ≥ cores splits, making this a no-op — the
    * unconditional `repartition` it replaces would have been a full
    * shuffle of the raw corpus at 100 TB. */
  def fanOut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val target = s.sparkContext.defaultParallelism
    // Estimate scan splits from leaf-relation STATISTICS (driver metadata
    // only) — probing df.rdd.getNumPartitions would instantiate the whole
    // RDD lineage just to count partitions, a plan-compile side effect at
    // scale. Splits ≈ total source bytes / files.maxPartitionBytes is the
    // same arithmetic FilePartition planning uses (modulo per-file open
    // cost, which only ADDS splits — so this under-counts, never
    // over-counts, and an under-count merely repartitions a mid-size
    // table once: safe).
    val bytes = df.queryExecution.analyzed.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    val maxPartitionBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(s.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val estSplits = (bytes / math.max(1L, maxPartitionBytes)).toLong + 1
    if (estSplits >= math.max(2, target / 2)) df
    else df.repartition(target)
  }
}
