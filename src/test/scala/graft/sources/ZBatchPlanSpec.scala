package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The DSv2 table's PLANNING surfaces: reported statistics (join sizing),
  * runtime (join-driven) file pruning, the batch change-feed read options,
  * and conditional overwrite (replaceWhere). Lives in `graft.sources` to
  * reach the scan internals; query-level exactness rides q157–q159. */
class ZBatchPlanSpec extends SparkSpec {

  private val V2Bucketing = "spark.sql.sources.v2.bucketing.enabled"

  /** Puts a conf back as the test found it: unsetting a plane key would
    * drop every later suite off the session plane. */
  private def restore(key: String, prev: Option[String]): Unit =
    prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))

  private def mkStore(n: Long, numFiles: Int = 8): String = {
    val dir = Files.createTempDirectory("graft-zbps").toString
    ZOrder.writeZOrdered(
      spark.range(n).select(col("id").as("k"), (col("id") * 3).as("v")),
      dir, Seq("k"), numFiles)
    dir
  }

  private def scanRelationStats(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r.stats
    }.head

  private def dataFileBytes(dir: String): Long = {
    val root = new Path(dir)
    val fs = StoreMaint.fsFor(spark, root)
    val it = fs.listFiles(root, true)
    var sum = 0L
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toString
      if (p.contains("/d-") && st.getPath.getName.endsWith(".parquet"))
        sum += st.getLen
    }
    sum
  }

  // ---- reported statistics -------------------------------------------------

  test("the scan reports manifest-derived stats: numRows exact, sizeInBytes = the data files' bytes; a pushed band shrinks both") {
    val dir = mkStore(2000)
    val full = spark.read.format("graft-z").load(dir)
    val st = scanRelationStats(full)
    assert(st.rowCount.contains(BigInt(2000)), st.toString)
    assert(st.sizeInBytes == BigInt(dataFileBytes(dir)), st.toString)
    // a pushed band prunes files, and the STATS see the pruned set:
    // join planning sizes the band read as what it will actually scan
    val band = full.filter(col("k").between(0L, 99L))
    val stBand = scanRelationStats(band)
    assert(stBand.sizeInBytes > 0 && stBand.sizeInBytes < st.sizeInBytes,
      s"band=${stBand.sizeInBytes} full=${st.sizeInBytes}")
    assert(stBand.rowCount.exists(_ < BigInt(2000)), stBand.toString)
  }

  test("reported stats drive JOIN planning: a small z-table broadcasts; shrinking the threshold below its size demotes the join (stats, not format, decide)") {
    val dir = mkStore(500, numFiles = 2)
    val zt = spark.read.format("graft-z").load(dir)
    val big = spark.range(50000).select(col("id").as("k"),
      (col("id") % 7).as("grp"))
    val joined = big.join(zt, Seq("k"))
    // pre-AQE physical planning uses the LOGICAL stats — exactly what
    // estimateStatistics feeds; without it a DSv2 scan sizes at the
    // conservative default (huge) and could never broadcast
    val plan = joined.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "1")
      val demoted = big.join(spark.read.format("graft-z").load(dir),
        Seq("k")).queryExecution.sparkPlan.toString
      assert(!demoted.contains("BroadcastHashJoin"), demoted)
    } finally spark.conf.set(key, old)
  }

  test("stats memos do not survive a store recreated at the same path") {
    val dir = mkStore(300, numFiles = 2)
    assert(scanRelationStats(spark.read.format("graft-z").load(dir))
      .rowCount.contains(BigInt(300)))
    val fs = StoreMaint.fsFor(spark, new Path(dir))
    assert(fs.delete(new Path(dir), true))
    ZOrder.writeZOrdered(
      spark.range(77).select(col("id").as("k"), (col("id") * 3).as("v")),
      dir, Seq("k"), 2)
    assert(scanRelationStats(spark.read.format("graft-z").load(dir))
      .rowCount.contains(BigInt(77)))
  }

  test("stats degrade to unknown (never a guess) when a surviving file predates size/count rows") {
    // a store written through the normal path always has them; simulate
    // a pre-size manifest by asking for counts of a file with none
    val dir = mkStore(100, numFiles = 1)
    assert(ZOrder.fileRowCounts(spark, dir, Seq("d-missing/nope.parquet"))
      .isEmpty)
  }

  // ---- runtime (join-driven) file pruning ----------------------------------

  test("a selective dim join prunes fact FILES at runtime: files outside the key set are never opened (physically deleted), and disabling DPP makes the same query fail loudly") {
    val dir = mkStore(1000, numFiles = 8)
    val all = ZOrder.pruneFilesForScan(spark, dir, Seq.empty, None)._1
    assert(all.size >= 4, s"need multiple files, got ${all.size}")
    val needed = ZOrder.pruneFilesForValueSet(spark, dir, "k", Seq(5L), all)
      .map(_._1).toSet
    assert(needed.nonEmpty && needed.size < all.size,
      s"value-set pruning is vacuous: ${needed.size}/${all.size}")
    // delete every data file the key set provably misses — only runtime
    // pruning can keep the join from opening them
    val fs = StoreMaint.fsFor(spark, new Path(dir))
    all.map(_._1).filterNot(needed).foreach { f =>
      assert(fs.delete(new Path(dir, f), false), f)
    }
    // the dim must survive as a FILTERED RELATION (a LocalRelation
    // constant-folds away and DPP has no selective filter to key on —
    // the real star-join shape is a table read)
    val dimDir = Files.createTempDirectory("graft-zbpsdim").toString
    spark.createDataFrame(Seq((5L, "a"), (500L, "b"))).toDF("kk", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") === "a")
    def joined() = spark.read.format("graft-z").load(dir)
      .join(dim, col("k") === col("kk"))
      .select(col("k"), col("v"))
    val rows = joined().collect()
    assert(rows.toSeq.map(r => (r.getLong(0), r.getLong(1))) == Seq((5L, 15L)))
    // planted positive: same query, DPP off, must try to open a deleted
    // file — the detector is not vacuous
    val key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val e = intercept[Exception] { joined().collect() }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      assert(chain(e).exists(t =>
          t.isInstanceOf[java.io.FileNotFoundException] ||
          String.valueOf(t.getMessage).contains("does not exist") ||
          String.valueOf(t.getMessage).contains("listed in the manifest")),
        s"expected a missing-file failure, got $e")
    } finally spark.conf.set(key, old)
  }

  test("value-set pruning is bounded and sound: an oversized key set skips pruning; an empty one prunes everything; unknown columns prune nothing") {
    val dir = mkStore(200, numFiles = 4)
    val all = ZOrder.pruneFilesForScan(spark, dir, Seq.empty, None)._1
    val over = (0L until (ZOrder.MaxRuntimeValues + 1L)).map(identity[Long])
    assert(ZOrder.pruneFilesForValueSet(spark, dir, "k", over, all) == all)
    assert(ZOrder.pruneFilesForValueSet(spark, dir, "k", Seq.empty, all)
      .isEmpty)
    assert(ZOrder.pruneFilesForValueSet(spark, dir, "nope", Seq(1L), all)
      == all)
    // null keys never match an equi-join: a null-only set prunes all
    assert(ZOrder.pruneFilesForValueSet(spark, dir, "k", Seq(null), all)
      .isEmpty)
  }

  test("value-set cap is byte-weighed, not just counted: a few huge string keys fall through to the unpruned superset") {
    val dir = Files.createTempDirectory("graft-zbpsbytes").toString
    ZOrder.writeZOrdered(
      spark.range(200).select(
        concat(lit("k"), lpad(col("id").cast("string"), 6, "0")).as("sk"),
        col("id").as("k")),
      dir, Seq("k"), 4, statCols = Seq("sk"))
    val all = ZOrder.pruneFilesForScan(spark, dir, Seq.empty, None)._1
    assert(all.size == 4)
    // 70 one-KB strings: far under the 512-count cap, over the 64 KB
    // byte budget — the compare work they'd buy exceeds what they save
    val bigKeys: Seq[Any] = (0 until 70).map(i => "x" * 1024 + i)
    assert(ZOrder.pruneFilesForValueSet(spark, dir, "sk", bigKeys, all)
      == all)
    // the same count of SHORT keys still prunes (absent values: all go)
    val shortKeys: Seq[Any] = (0 until 70).map(i => s"zz$i")
    assert(ZOrder.pruneFilesForValueSet(spark, dir, "sk", shortKeys, all)
      .isEmpty)
  }

  test("runtime value-set pruning treats -0.0 and 0.0 as ONE key (the join's semantics): a [0.0, 0.0] file survives a -0.0 probe") {
    val dir = Files.createTempDirectory("graft-zbpszero").toString
    ZOrder.writeZOrdered(
      spark.range(100).select(
        when(col("id") < 50, lit(0.0)).otherwise(lit(5.0)).as("d"),
        col("id").as("k")),
      dir, Seq("k"), 2, statCols = Seq("d"))
    val all = ZOrder.pruneFilesForScan(spark, dir, Seq.empty, None)._1
    assert(all.size == 2, all.toString)
    val kept = ZOrder.pruneFilesForValueSet(spark, dir, "d",
      Seq(java.lang.Double.valueOf(-0.0d)), all)
    // the 0.0 file survives (the join matches -0.0 = 0.0); the 5.0
    // file prunes — both wrong answers are observable: Double.compare
    // semantics would prune BOTH, no pruning would keep both
    assert(kept.size == 1, kept.toString)
    val rows = spark.read.parquet(s"$dir/${kept.head._1}")
      .agg(max(col("d"))).head().getDouble(0)
    assert(rows == 0.0, rows.toString)
  }


  // ---- storage-partitioned joins (bucketed layout) --------------------------

  test("storage-partitioned join: two bucketed z-tables join with ZERO exchange; disabling v2 bucketing plants the shuffle back; results match") {
    val root = Files.createTempDirectory("graft-spj").toString
    spark.conf.set("spark.sql.catalog.gspj", "graft.sources.ZCatalog")
    spark.conf.set("spark.sql.catalog.gspj.root", root)
    val prevBucketing = spark.conf.getOption(V2Bucketing)
    spark.conf.set(V2Bucketing, "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE NAMESPACE gspj.l")
      spark.sql("""CREATE TABLE gspj.l.a (k BIGINT, v BIGINT)
        PARTITIONED BY (bucket(8, k))""")
      spark.sql("""CREATE TABLE gspj.l.b (k BIGINT, w BIGINT)
        PARTITIONED BY (bucket(8, k))""")
      spark.sql("INSERT INTO gspj.l.a SELECT id, id * 2 FROM range(10000)")
      spark.sql("INSERT INTO gspj.l.b SELECT id, id * 3 FROM range(5000)")
      // a second append must stay bucket-pure (one more file per bucket)
      spark.sql(
        "INSERT INTO gspj.l.b SELECT id, id * 3 FROM range(5000, 6000)")
      val bm = ZOrder.fileBucketMap(spark, s"$root/l/b")
      assert(bm.values.toSet == (0 until 8).toSet, bm.toString)
      assert(ZOrder.listDataFiles(spark, s"$root/l/b")
        .forall(bm.contains), "every file needs a bucket id")
      def joined() = spark.sql(
        "SELECT a.k, a.v, b.w FROM gspj.l.a a JOIN gspj.l.b b ON a.k = b.k")
      // physical shuffles print as "Exchange hashpartitioning" (the
      // class toString is "Exchange"); collect() first so AQE's final
      // plan is the one inspected
      def shufflesOf(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
      }
      val j = joined()
      assert(j.count() == 6000)
      assert(shufflesOf(joined()) == 0,
        s"bucketed join must be exchange-free:\n" +
          joined().queryExecution.executedPlan.toString.take(2000))
      // planted positive: same query with v2 bucketing OFF does shuffle
      spark.conf.set(V2Bucketing, "false")
      val off = joined()
      assert(off.count() == 6000)
      assert(shufflesOf(joined()) > 0, "the no-exchange detector is vacuous")
      spark.conf.set(V2Bucketing, "true")
      // exactness against the in-memory control
      val got = joined().agg(
        org.apache.spark.sql.functions.sum(col("v") + col("w")))
        .head().getLong(0)
      assert(got == (0L until 6000L).map(i => i * 5).sum)
      // DML keeps the layout: an UPDATE re-routes its rewrite by bucket
      spark.sql("UPDATE gspj.l.b SET w = w + 1 WHERE k BETWEEN 100 AND 199")
      val bm2 = ZOrder.fileBucketMap(spark, s"$root/l/b")
      assert(ZOrder.listDataFiles(spark, s"$root/l/b").forall(bm2.contains),
        "a DML rewrite of a bucketed store must stay bucket-pure")
      assert(shufflesOf(joined()) == 0,
        "the join must stay exchange-free after DML")
      assert(joined().filter(col("k") === 150L).head().getLong(2) == 451L)
      // bucket PURITY, not just presence: every file holds ONE pmod class
      ZOrder.listDataFiles(spark, s"$root/l/b").foreach { f =>
        val ks = spark.read.parquet(s"$root/l/b/$f")
          .select(pmod(col("k"), lit(8L))).distinct().collect()
        assert(ks.length <= 1, s"$f mixes buckets")
        ks.headOption.foreach(r => assert(r.getLong(0).toInt == bm2(f),
          s"$f recorded ${bm2(f)} but holds ${r.getLong(0)}"))
      }
      // ADOPTING the layout on an existing unbucketed table:
      // CALL set_bucketing records the policy + one recluster re-routes
      // every file, after which joins against same-bucketed tables run
      // exchange-free too (no mixed-history fallback left behind)
      spark.sql("""CREATE TABLE gspj.l.c (k BIGINT, u BIGINT)
        PARTITIONED BY (k)""")
      spark.sql("INSERT INTO gspj.l.c SELECT id, id * 7 FROM range(4000)")
      assert(ZOrder.fileBucketMap(spark, s"$root/l/c").isEmpty)
      spark.sql("CALL gspj.set_bucketing(tbl => 'l.c', col => 'k', " +
        "num_buckets => 8)")
      val bmC = ZOrder.fileBucketMap(spark, s"$root/l/c")
      assert(ZOrder.listDataFiles(spark, s"$root/l/c").forall(bmC.contains),
        "recluster must re-route every file by bucket")
      val jc = spark.sql(
        "SELECT a.k, a.v, c.u FROM gspj.l.a a JOIN gspj.l.c c ON a.k = c.k")
      jc.collect()
      assert("Exchange hashpartitioning".r
        .findAllIn(jc.queryExecution.executedPlan.toString).isEmpty,
        "an adopted layout must join exchange-free")
      assert(jc.count() == 4000)
    } finally {
      spark.conf.unset("spark.sql.catalog.gspj")
      spark.conf.unset("spark.sql.catalog.gspj.root")
      restore(V2Bucketing, prevBucketing)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("bucketed-scan fallbacks are sound: pre-bucketing files, projected-away key, changes/limit scans, and disabled conf all take the bin-packed path") {
    val dir = Files.createTempDirectory("graft-spjfall").toString
    // a store that gains the bucketing policy AFTER unbucketed history
    ZOrder.writeZOrdered(spark.range(1000)
      .select(col("id").as("k"), (col("id") * 2).as("v")), dir, Seq("k"), 4)
    ZLog.recordBucketing(spark, dir, "k", 8)
    ZOrder.appendZOrdered(spark.range(1000, 1200)
      .select(col("id").as("k"), (col("id") * 2).as("v")), dir, Seq("k"), 4)
    val prevBucketing = spark.conf.getOption(V2Bucketing)
    spark.conf.set(V2Bucketing, "true")
    try {
      // mixed history: the appended files carry bucket ids, the build
      // files do not — the scan must fall back WHOLESALE (a partial
      // grouping would report a partitioning the rows don't satisfy)
      val bm = ZOrder.fileBucketMap(spark, dir)
      assert(bm.nonEmpty, "appended files must carry bucket ids")
      assert(!ZOrder.listDataFiles(spark, dir).forall(bm.contains),
        "pre-bucketing files must have none")
      val scan = new ZBatchScan(dir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType))),
        Seq.empty, Seq.empty, None)
      assert(scan.outputPartitioning().isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning])
      assert(!scan.planInputPartitions().exists(_.isInstanceOf[
        ZBucketPartition]))
      // correctness through the table surface is unaffected
      assert(spark.read.format("graft-z").load(dir).count() == 1200)
      // a fully-bucketed store DOES group — and stops when the key is
      // projected away, when the conf is off, and on a LIMIT scan
      val dir2 = Files.createTempDirectory("graft-spjfall2").toString
      ZLog.recordBucketing(spark, dir2, "k", 4)
      ZOrder.writeZOrdered(spark.range(100)
        .select(col("id").as("k"), (col("id") * 2).as("v")),
        dir2, Seq("k"), 4)
      def mk(fields: Seq[String], limit: Option[Int] = None) =
        new ZBatchScan(dir2, org.apache.spark.sql.types.StructType(
          fields.map(f => org.apache.spark.sql.types.StructField(f,
            org.apache.spark.sql.types.LongType))),
          Seq.empty, Seq.empty, None, limit = limit)
      assert(mk(Seq("k")).outputPartitioning().isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning])
      assert(mk(Seq("k")).planInputPartitions().length == 4)
      assert(mk(Seq("v")).outputPartitioning().isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning])
      assert(mk(Seq("k"), limit = Some(5)).outputPartitioning()
        .isInstanceOf[org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning])
      spark.conf.set(V2Bucketing, "false")
      assert(mk(Seq("k")).outputPartitioning().isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning])
    } finally restore(V2Bucketing, prevBucketing)
  }

  test("the scan reports prunable runtime-filter attributes: recorded stat columns, not unrecorded ones") {
    val dir = mkStore(100, numFiles = 2)
    val cols = ZOrder.prunableColumns(spark, dir)
    assert(cols.contains("k"), cols.toString)
    assert(!cols.contains("v"), cols.toString) // no stats recorded for v
  }

  test("a projected-away stat column never breaks runtime-filter resolution (the q154/q159 Verify regression)") {
    val dir = Files.createTempDirectory("graft-zbpsproj").toString
    ZOrder.writeZOrdered(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"),
        (col("id") % 7).as("w")),
      dir, Seq("k", "v"), 2) // stats recorded for BOTH k and v
    val dimDir = Files.createTempDirectory("graft-zbpsprojdim").toString
    spark.createDataFrame(Seq((7L, "a"), (8L, "b"))).toDF("kk", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") === "a")
    // the scan's output prunes v away; reporting v as a runtime-filter
    // attribute anyway makes Spark's resolution throw at plan time
    val rows = spark.read.format("graft-z").load(dir)
      .select(col("k"), col("w"))
      .join(dim, col("k") === col("kk"))
      .select(col("k"), col("w")).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 0L)))
  }

  // ---- pushed limit --------------------------------------------------------

  test("a pushed LIMIT plans a file prefix covering it, not the whole store; a filtered or ordered query keeps the full plan") {
    val dir = mkStore(1000, numFiles = 8)
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.map(_.asInstanceOf[ZBatchPartition].files.size).sum
      }.head
    val full = plannedFiles(spark.read.format("graft-z").load(dir))
    assert(full >= 4, s"need multiple files, got $full")
    val limited = spark.read.format("graft-z").load(dir).limit(5)
    assert(plannedFiles(limited) < full,
      s"limit planned ${plannedFiles(limited)} of $full files")
    assert(limited.collect().length == 5)
    assert(limited.queryExecution.sparkPlan.toString.contains("limit 5"))
    // a residual filter must keep the full plan (the limit applies AFTER
    // the filter drops rows — a prefix could come up short)
    val filtered = spark.read.format("graft-z").load(dir)
      .filter(col("v") % 2 === 0).limit(5)
    assert(plannedFiles(filtered) == full)
    assert(filtered.collect().length == 5)
    // an ORDER BY consumes every row: no prefix either
    val ordered = spark.read.format("graft-z").load(dir)
      .orderBy(col("v").desc).limit(3)
    assert(plannedFiles(ordered) == full)
    assert(ordered.collect().map(_.getLong(1)).toSeq ==
      Seq(2997L, 2994L, 2991L))
  }

  // ---- batch change feed through the table ---------------------------------

  test("changesSince* options read exactly the delta, count is NOT metadata-answered, and the refusal shapes hold") {
    val dir = Files.createTempDirectory("graft-zbpscdf").toString
    ZOrder.writeZOrdered(
      spark.range(500).select(col("id").as("k"), (col("id") * 2).as("v")),
      dir, Seq("k"), 4)
    ZOrder.appendZOrdered(
      spark.range(500, 600).select(col("id").as("k"), (col("id") * 2).as("v")),
      dir, Seq("k"), 2)
    def delta() = spark.read.format("graft-z")
      .option("changesSinceEpoch", "0").option("changesSinceVersion", "0")
      .load(dir)
    // 100, not 600: a metadata-answered COUNT over the WHOLE store would
    // be silently wrong here — the agg pushdown guard is load-bearing
    assert(delta().count() == 100)
    assert(delta().agg(min(col("k")), max(col("k"))).head().toSeq
      == Seq(500L, 599L))
    // half a coordinate refuses
    intercept[IllegalArgumentException] {
      spark.read.format("graft-z").option("changesSinceVersion", "0")
        .load(dir).count()
    }
    // travel + changes refuses: the feed is a delta of the LIVE table
    val e1 = intercept[IllegalArgumentException] {
      spark.read.format("graft-z")
        .option("changesSinceEpoch", "0").option("changesSinceVersion", "0")
        .option("epoch", "0").option("version", "0").load(dir).count()
    }
    assert(e1.getMessage.contains("does not combine"), e1.getMessage)
    // a bounded window (endingVersion): a third commit, then re-read the
    // EXACT historical (v0, v1] window — the appended slice only
    ZOrder.appendZOrdered(
      spark.range(600, 650).select(col("id").as("k"), (col("id") * 2).as("v")),
      dir, Seq("k"), 1)
    val window = spark.read.format("graft-z")
      .option("changesSinceEpoch", "0").option("changesSinceVersion", "0")
      .option("changesUntilVersion", "1").load(dir)
    assert(window.count() == 100)
    assert(window.agg(max(col("k"))).head().getLong(0) == 599L)
    // an inverted window refuses; a bogus bound refuses
    val eInv = intercept[Exception] {
      spark.read.format("graft-z")
        .option("changesSinceEpoch", "0").option("changesSinceVersion", "2")
        .option("changesUntilVersion", "1").load(dir).count()
    }
    assert(eInv.getMessage.contains("inverted"), eInv.getMessage)
    intercept[Exception] {
      spark.read.format("graft-z")
        .option("changesSinceEpoch", "0").option("changesSinceVersion", "0")
        .option("changesUntilVersion", "99").load(dir).count()
    }
    // a bound without a base refuses
    intercept[IllegalArgumentException] {
      spark.read.format("graft-z")
        .option("changesUntilVersion", "1").load(dir).count()
    }
    // an epoch swap since the base coordinate refuses loudly
    ZOrder.writeZOrdered(
      spark.range(10).select(col("id").as("k"), (col("id") * 2).as("v")),
      dir, Seq("k"), 1)
    val e2 = intercept[Exception] { delta().count() }
    assert(e2.getMessage.contains("full-refresh"), e2.getMessage)
  }

  test("the change feed flows through the CATALOG table name: spark.read.option(...).table") {
    val root = Files.createTempDirectory("graft-zbpscat").toString
    val cat = s"graftzbpsc${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ZCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (k)")
    spark.sql(s"INSERT INTO $cat.lake.t SELECT id, id * 2 FROM range(50)")
    spark.sql(s"INSERT INTO $cat.lake.t " +
      "SELECT id, id * 2 FROM range(50, 80)")
    // CREATE committed v0 (empty), the inserts are v1 and v2
    val sinceV1 = spark.read
      .option("changesSinceEpoch", "0").option("changesSinceVersion", "1")
      .table(s"$cat.lake.t")
    assert(sinceV1.count() == 30)
    assert(sinceV1.agg(min(col("k"))).head().getLong(0) == 50L)
    val sinceV0 = spark.read
      .option("changesSinceEpoch", "0").option("changesSinceVersion", "0")
      .table(s"$cat.lake.t")
    assert(sinceV0.count() == 80)
  }

  // ---- conditional overwrite (replaceWhere) ---------------------------------

  test("replaceWhere through writeTo: ONE atomic epoch commit replaces exactly the band; refusals leave the table untouched") {
    val root = Files.createTempDirectory("graft-zbpsrw").toString
    val cat = s"graftzbpsr${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ZCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (k)")
    spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
      .writeTo(s"$cat.lake.t").append()
    val dir = s"$root/lake/t"
    val versionsBefore = ZOrder.describeHistory(spark, dir).count()
    // the corrected band: only even k survive, re-scored
    spark.range(100, 200).filter(col("id") % 2 === 0)
      .select(col("id").as("k"), lit(-1L).as("v"))
      .writeTo(s"$cat.lake.t")
      .overwrite(col("k") >= 100L && col("k") <= 199L)
    val after = spark.sql(s"SELECT k, v FROM $cat.lake.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expect = ((0L until 100L) ++ (200L until 1000L)).map(k => (k, k * 2)) ++
      (100L until 200L).filter(_ % 2 == 0).map(k => (k, -1L))
    assert(after.toSeq == expect.sortBy(_._1))
    // exactly ONE new commit, and it is the replaceWhere epoch
    val hist = ZOrder.describeHistory(spark, dir).collect()
    assert(hist.length == versionsBefore + 1, hist.mkString(", "))
    assert(hist.map(_.getString(2)).count(_ == "replacewhere") == 1,
      hist.mkString(", "))
    // incoming rows OUTSIDE the band refuse wholesale
    val e = intercept[Exception] {
      spark.range(50, 60).select(col("id").as("k"), lit(-2L).as("v"))
        .writeTo(s"$cat.lake.t")
        .overwrite(col("k") >= 100L && col("k") <= 199L)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(t => String.valueOf(t.getMessage)
      .contains("outside the overwrite predicate")), e.toString)
    // a NON-BAND condition refuses (the conversion must be exact)
    intercept[Exception] {
      spark.range(0, 1).select(col("id").as("k"), lit(-3L).as("v"))
        .writeTo(s"$cat.lake.t")
        .overwrite(col("k") <= 1L || col("k") >= 999L)
    }
    // nothing from either refusal landed
    val recheck = spark.sql(s"SELECT k, v FROM $cat.lake.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(recheck.toSeq == expect.sortBy(_._1))
    assert(spark.sql(s"SELECT * FROM $cat.lake.t WHERE v IN (-2, -3)")
      .count() == 0)
  }

  test("replaceWhere replay is idempotent in effect: the same batch re-landed yields the identical state (a new travel coordinate, no row drift)") {
    val dir = Files.createTempDirectory("graft-zbpsrw3").toString
    ZOrder.writeZOrdered(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v")),
      dir, Seq("k"), 2)
    val batch = spark.range(10, 20)
      .select(col("id").as("k"), lit(-1L).as("v"))
    ZOrder.overwriteZRange(batch, dir, Seq(("k", 10L, 19L)), Seq("k"))
    val first = ZOrder.readSnapshot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val (nDel2, nIns2) =
      ZOrder.overwriteZRange(batch, dir, Seq(("k", 10L, 19L)), Seq("k"))
    assert(nDel2 == 10 && nIns2 == 10) // the replay deletes its own rows
    val second = ZOrder.readSnapshot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(second == first)
    assert(second.count(_._2 == -1L) == 10)
  }

  test("replaceWhere honors CHECK constraints and the null-predicate survival rule") {
    val dir = Files.createTempDirectory("graft-zbpsrw2").toString
    ZOrder.writeZOrdered(
      spark.range(100).select(col("id").as("a"),
        when(col("id") % 10 === 9, lit(null).cast("long"))
          .otherwise(col("id")).as("b")),
      dir, Seq("a"), 2)
    // rows with b NULL inside the a-range of the band survive a b-band
    // replace (a null never matches a band — the delete path's rule)
    val (nDel, nIns) = ZOrder.overwriteZRange(
      spark.range(20, 30).filter(col("id") % 10 =!= 9)
        .select((col("id") + 1000).as("a"), col("id").as("b")),
      dir, Seq(("b", 20L, 29L)), Seq("a"))
    assert(nDel == 9 && nIns == 9, s"($nDel, $nIns)") // 29 had b NULL
    val snap = ZOrder.readSnapshot(spark, dir)
    assert(snap.filter(col("b").isNull).count() == 10) // all survived
    assert(snap.filter(col("a") >= 1000L).count() == 9)
    assert(snap.count() == 100)
    // CHECK constraints gate the REPLACEMENT like any other write
    ZOrder.addCheckConstraint(spark, dir, "a_bound", "a <= 5000")
    val e = intercept[IllegalArgumentException] {
      ZOrder.overwriteZRange(
        spark.range(40, 45).select((col("id") + 9000).as("a"),
          col("id").as("b")),
        dir, Seq(("b", 40L, 49L)), Seq("a"), numFiles = 1)
    }
    assert(e.getMessage.contains("a_bound"), e.getMessage)
    assert(ZOrder.readSnapshot(spark, dir).filter(col("a") >= 9000L)
      .count() == 0)
  }

  test("INSERT OVERWRITE through the catalog is the full (truncating) overwrite, atomically versioned") {
    val root = Files.createTempDirectory("graft-zbpsio").toString
    val cat = s"graftzbpsi${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ZCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (k)")
    spark.sql(s"INSERT INTO $cat.lake.t SELECT id, id FROM range(100)")
    spark.sql(s"INSERT OVERWRITE $cat.lake.t " +
      "SELECT id, id * 10 FROM range(5)")
    val rows = spark.sql(s"SELECT k, v FROM $cat.lake.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == (0L until 5L).map(k => (k, k * 10)))
    // the pre-overwrite state stays a travel coordinate
    val hist = ZOrder.describeHistory(spark, s"$root/lake/t").collect()
    assert(hist.map(_.getLong(0)).distinct.length >= 2, hist.mkString(", "))
  }

  test("CALL graftz.replace_where is the pure-SQL RANGE-band backfill (atomic, band-validated, typed bounds)") {
    val root = Files.createTempDirectory("graft-zbpsproc").toString
    val cat = s"graftzbpsq${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ZCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (k)")
    spark.sql(s"INSERT INTO $cat.lake.t SELECT id, id FROM range(100)")
    spark.sql("SELECT id AS k, -1L AS v FROM range(10, 20) WHERE id % 2 = 0")
      .createOrReplaceTempView("zbps_rw_src")
    val out = spark.sql(s"CALL $cat.replace_where(tbl => 'lake.t', " +
      "col => 'k', lo => '10', hi => '19', source => 'zbps_rw_src')")
      .head()
    assert((out.getLong(0), out.getLong(1)) == ((10L, 5L)), out.toString)
    val rows = spark.sql(s"SELECT k, v FROM $cat.lake.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expect = (0L until 100L).collect {
      case k if k < 10 || k >= 20 => (k, k)
      case k if k % 2 == 0 => (k, -1L)
    }
    assert(rows == expect)
    // an out-of-band source refuses wholesale
    spark.sql("SELECT id AS k, -2L AS v FROM range(50, 55)")
      .createOrReplaceTempView("zbps_rw_bad")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.replace_where(tbl => 'lake.t', col => 'k', " +
        "lo => '10', hi => '19', source => 'zbps_rw_bad')").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(t => String.valueOf(t.getMessage)
      .contains("outside the overwrite predicate")), e.toString)
    assert(spark.sql(s"SELECT * FROM $cat.lake.t WHERE v = -2").count() == 0)
    // an unknown column refuses with the column message
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.replace_where(tbl => 'lake.t', col => 'nope', " +
        "lo => '0', hi => '1', source => 'zbps_rw_src')").collect()
    }
    assert(chain(e2).exists(t => String.valueOf(t.getMessage)
      .contains("not in the table schema")), e2.toString)
  }

  test("INSERT OVERWRITE ... PARTITION (k = v) is the pure-SQL banded replace (static partition -> replaceWhere)") {
    val root = Files.createTempDirectory("graft-zbpssp").toString
    val cat = s"graftzbpssp${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ZCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (k)")
    spark.sql(s"INSERT INTO $cat.lake.t SELECT id, id FROM range(100)")
    // the table reports its clustering as identity partitioning, so the
    // static-partition form resolves; Spark plans it as
    // OverwriteByExpression(k = 7) -> the exact-band replaceWhere path
    spark.sql(s"INSERT OVERWRITE $cat.lake.t PARTITION (k = 7) " +
      "SELECT -7L AS v")
    val rows = spark.sql(s"SELECT k, v FROM $cat.lake.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = (0L until 100L).map(k => (k, if (k == 7) -7L else k))
    assert(rows.toSeq == expect)
    // one replacewhere commit, not a truncate
    val hist = ZOrder.describeHistory(spark, s"$root/lake/t").collect()
    assert(hist.map(_.getString(2)).count(_ == "replacewhere") == 1,
      hist.mkString(", "))
  }

  test("column mapping keeps the DSv2 plan planes: SPJ stays exchange-free, runtime-filter attrs resolve, Group reader decodes — all through renamed columns") {
    val root = Files.createTempDirectory("graft-cmplan").toString
    spark.conf.set("spark.sql.catalog.gcm", "graft.sources.ZCatalog")
    spark.conf.set("spark.sql.catalog.gcm.root", root)
    val prevBucketing = spark.conf.getOption(V2Bucketing)
    spark.conf.set(V2Bucketing, "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE NAMESPACE gcm.l")
      spark.sql("""CREATE TABLE gcm.l.a (k BIGINT, v BIGINT)
        PARTITIONED BY (bucket(8, k))""")
      spark.sql("""CREATE TABLE gcm.l.b (k BIGINT, w BIGINT)
        PARTITIONED BY (bucket(8, k))""")
      spark.sql("INSERT INTO gcm.l.a SELECT id, id * 2 FROM range(10000)")
      spark.sql("INSERT INTO gcm.l.b SELECT id, id * 3 FROM range(6000)")
      // rename the BUCKET column on both sides: the physical layout and
      // recorded policy are untouched; the partitioning/SPJ surfaces
      // must follow the logical name
      spark.sql("ALTER TABLE gcm.l.a RENAME COLUMN k TO key")
      spark.sql("ALTER TABLE gcm.l.b RENAME COLUMN k TO key")
      def joined() = spark.sql(
        "SELECT a.key, a.v, b.w FROM gcm.l.a a JOIN gcm.l.b b " +
          "ON a.key = b.key")
      def shufflesOf(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
      }
      assert(joined().count() == 6000)
      assert(shufflesOf(joined()) == 0,
        "the storage-partitioned join must stay exchange-free after the " +
          "bucket column's rename:\n" +
          joined().queryExecution.executedPlan.toString.take(1500))
      // runtime-filter attributes report LOGICAL names and resolve
      // against the scan output (the q154/q159 regression class): a
      // filtered parquet dim joined on the renamed column must plan and
      // answer exactly, and the prunable surface must speak `key`
      val pr = ZOrder.prunableColumns(spark, s"$root/l/a")
      assert(pr.contains("key") && !pr.contains("k"), pr.toString)
      val dimDir = Files.createTempDirectory("graft-cmplan-dim").toString
      spark.createDataFrame(Seq((5L, "a"), (6L, "a"), (-1L, "b")))
        .toDF("kk", "tag").write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir).filter(col("tag") === "a")
      val fact = spark.table("gcm.l.a")
      val j = fact.join(dim, fact("key") === dim("kk"))
      assert(j.count() == 2, "runtime-filter join through the renamed column")
      // metadata-answered COUNT still serves through the mapped table
      assert(spark.sql("SELECT count(*) FROM gcm.l.a").head().getLong(0)
        == 10000)
      // a feed crossing the rename epoch REFUSES with full-refresh (the
      // consumer's row schema changed — the non-DML rewrite contract)
      val exFeed = intercept[Exception] {
        spark.read.format("graft-zcdf").option("changeFeed", "true")
          .load(s"$root/l/a").collect() }
      assert(Iterator.iterate(exFeed: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(t =>
          Option(t.getMessage).exists(_.contains("rename-column"))),
        exFeed.getMessage)
      // resumed FROM the rename epoch (the honored startingVersion), the
      // zcdf GROUP-reader plane decodes old files by PHYSICAL name under
      // the logical schema — the carried files re-deliver at the new
      // epoch's v0 with exact values
      val feed = spark.read.format("graft-zcdf")
        .option("changeFeed", "true").option("startingVersion", "-1")
        .load(s"$root/l/a")
      assert(feed.columns.contains("key") && !feed.columns.contains("k"),
        feed.columns.toSeq.toString)
      assert(feed.agg(org.apache.spark.sql.functions.sum(col("key")))
        .head().getLong(0) == (0L until 10000L).sum)
    } finally {
      spark.conf.unset("spark.sql.catalog.gcm")
      spark.conf.unset("spark.sql.catalog.gcm.root")
      restore(V2Bucketing, prevBucketing)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }
}
