package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{ZLog, ZOrder, ZQueries}

/** A FileSystem that records every `listStatus` target: the detector
  * behind the z-store read-path contract "the data directories are never
  * listed" (the manifest is the commit log precisely to avoid O(table
  * files) LIST calls per query on an object store). Validated by a
  * planted positive — the write path DOES list its own batch dir for the
  * footer harvest, and the recorder must see that. */
class ListRecordingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "lrfs"
  override def getUri: java.net.URI = java.net.URI.create("lrfs:///")
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    ListRecordingFileSystem.record(p.toString)
    super.listStatus(p)
  }
}

object ListRecordingFileSystem {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var recording = false
  def record(p: String): Unit = if (recording) listed.add(p)
  def drain(): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var x = listed.poll()
    while (x != null) { out += x; x = listed.poll() }
    out.toSeq
  }
}

/** Pins what the q123 oracle can't see: the z-clustered layout prunes
  * FILES for selective predicates on EITHER clustered column, the linear
  * (single-column-sorted) baseline cannot prune on the second column, the
  * residual filter still applies inside surviving files, typed
  * (string/double/timestamp) stats prune soundly, the epoch commit makes
  * rebuilds old-or-new (never partial), a listed-but-missing file fails
  * loudly, and the read path never lists a data directory. */
class ZOrderSpec extends SparkSpec {

  private val NumFiles = 16

  private def li = Tables.lineitem(spark, sfDir)

  private def bounds(): (Long, Long, Long, Long) = {
    val b = li.agg(min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
  }

  private def files(dir: String, preds: (String, Any, Any)*): Int =
    ZOrder.readZRange(spark, dir, preds).inputFiles
      .count(!_.contains("_zmanifest"))

  test("z-layout prunes on either column; linear layout only on its sort key") {
    val zDir = Files.createTempDirectory("graft-z").toString
    val linDir = Files.createTempDirectory("graft-lin").toString
    ZOrder.writeZOrdered(li, zDir, Seq("l_partkey", "l_suppkey"), NumFiles)
    // the linear baseline: same machinery, 1-D curve = a plain sort on
    // l_partkey, but stats recorded for both columns
    ZOrder.writeZOrdered(li, linDir, Seq("l_partkey"), NumFiles,
      statCols = Seq("l_partkey", "l_suppkey"))
    val (pmn, pmx, smn, smx) = bounds()
    val pBand = ("l_partkey", pmn + (pmx - pmn) * 2 / 10,
      pmn + (pmx - pmn) * 3 / 10)
    val sBand = ("l_suppkey", smn + (smx - smn) * 4 / 10,
      smn + (smx - smn) * 5 / 10)
    val total = ZOrder.listDataFiles(spark, zDir).size
    assert(total >= NumFiles / 2, s"layout collapsed to $total files")
    // z-curve: BOTH 10%-band predicates open a strict fraction
    assert(files(zDir, pBand) <= total * 6 / 10,
      s"partkey band read ${files(zDir, pBand)}/$total z-files")
    assert(files(zDir, sBand) <= total * 6 / 10,
      s"suppkey band read ${files(zDir, sBand)}/$total z-files")
    // planted negative: the linear layout prunes its sort key but must
    // read EVERY file for the other column (suppkey uniform per file)
    val linTotal = ZOrder.listDataFiles(spark, linDir).size
    assert(files(linDir, pBand) <= linTotal / 2)
    assert(files(linDir, sBand) == linTotal,
      "linear layout 'pruned' on a column it isn't clustered by — " +
        "the z-vs-linear comparison is vacuous")
  }

  test("residual filter applies inside surviving files; rows match the plain filter") {
    val zDir = Files.createTempDirectory("graft-z2").toString
    ZOrder.writeZOrdered(li, zDir, Seq("l_partkey", "l_suppkey"), NumFiles)
    val (pmn, pmx, smn, smx) = bounds()
    val preds = Seq(
      ("l_partkey", pmn + (pmx - pmn) * 2 / 10, pmn + (pmx - pmn) * 3 / 10),
      ("l_suppkey", smn + (smx - smn) * 4 / 10, smn + (smx - smn) * 5 / 10))
    val got = ZOrder.readZRange(spark, zDir, preds)
    // planted positive for the residual: the surviving files hold MORE
    // rows than the answer, so skipping the filter would leak
    val surviving = spark.read.parquet(got.inputFiles
      .filterNot(_.contains("_zmanifest")): _*).count()
    assert(surviving > got.count(),
      "every surviving row matched — the residual-filter check is vacuous")
    val expect = li.filter(
      col("l_partkey").between(preds(0)._2, preds(0)._3) &&
        col("l_suppkey").between(preds(1)._2, preds(1)._3))
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(expect).count() == 0 &&
      expect.exceptAll(got).count() == 0)
    assert(expect.count() > 0, "empty band — the equivalence is vacuous")
  }

  test("typed stats: string/double/timestamp bands prune files and stay exact") {
    val dir = Files.createTempDirectory("graft-ztyped").toString
    val df = spark.range(4096).select(
      col("id").as("k"),
      format_string("s%06d", col("id")).as("s"),
      col("id").cast("double").as("d"),
      timestamp_seconds(col("id") * 60).as("ts"),
      lit(null).cast("long").as("an"))
    ZOrder.writeZOrdered(df, dir, Seq("k"), 8,
      statCols = Seq("k", "s", "d", "ts", "an"))
    val total = ZOrder.listDataFiles(spark, dir).size
    assert(total >= 4, s"layout collapsed to $total files")
    def check(pred: (String, Any, Any), want: Long): Unit = {
      val got = ZOrder.readZRange(spark, dir, Seq(pred))
      assert(got.count() == want, s"$pred returned ${got.count()}")
      assert(files(dir, pred) < total,
        s"$pred pruned nothing (${files(dir, pred)}/$total)")
    }
    check(("s", "s001000", "s001999"), 1000L)
    check(("d", 1000.0, 1999.0), 1000L)
    check(("ts",
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1000L * 60)),
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1999L * 60))),
      1000L)
    // an all-null column is prunable by ANY range predicate: zero files
    val anRead = ZOrder.readZRange(spark, dir, Seq(("an", 0L, 100L)))
    assert(anRead.count() == 0 && anRead.inputFiles.isEmpty,
      "all-null stats failed to prune")
    // NaN poisons double stats → that file reads as unknown, rows survive
    val nanBatch = spark.range(4096, 4352).select(
      col("id").as("k"), format_string("s%06d", col("id")).as("s"),
      when(col("id") % 2 === 0, lit(Double.NaN))
        .otherwise(col("id").cast("double")).as("d"),
      timestamp_seconds(col("id") * 60).as("ts"),
      lit(null).cast("long").as("an"))
    ZOrder.appendZOrdered(nanBatch, dir, Seq("k"), 1,
      statCols = Seq("k", "s", "d", "ts", "an"))
    val gotNan = ZOrder.readZRange(spark, dir, Seq(("d", 4101.0, 4111.0)))
    assert(gotNan.count() == 6, // odd ids 4101, 4103, …, 4111
      "NaN-poisoned file was wrongly pruned — rows lost")
  }

  test("manifest is the commit point: orphans invisible, retried append lands once, vacuum cleans") {
    val dir = Files.createTempDirectory("graft-z4").toString
    val corpus = li.filter(col("l_orderkey") % 10 =!= 9)
    val batch = li.filter(col("l_orderkey") % 10 === 9)
    ZOrder.writeZOrdered(corpus, dir, Seq("l_partkey", "l_suppkey"), NumFiles)
    ZOrder.appendZOrdered(batch, dir, Seq("l_partkey", "l_suppkey"), 2)
    val (pmn, pmx, _, _) = bounds()
    val preds = Seq(("l_partkey", pmn, pmn + (pmx - pmn) / 10))
    val got = ZOrder.readZRange(spark, dir, preds)
    val expect = li.filter(
      col("l_partkey").between(pmn, pmn + (pmx - pmn) / 10))
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(expect).count() == 0 &&
      expect.exceptAll(got).count() == 0,
      "appended rows diverge from the plain filter")
    // every committed file got manifest stats (the incremental harvest)
    val manFiles = ZOrder.listDataFiles(spark, dir).size
    val readFiles = ZOrder.readSnapshot(spark, dir).inputFiles.length
    assert(manFiles == readFiles, s"$manFiles stats rows for $readFiles files")
    val pre = got.count()
    // crashed append: its data dir landed, its manifest version didn't —
    // the orphan must be INVISIBLE (partial batches never surface, and a
    // retry must not double rows)
    val retryBatch = li.limit(1).withColumn("l_partkey", lit(pmn))
    retryBatch.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/d-orphanbatch")
    assert(ZOrder.readZRange(spark, dir, preds).count() == pre,
      "a crashed append's orphan data dir became visible")
    // the retry commits the batch exactly once
    ZOrder.appendZOrdered(retryBatch, dir, Seq("l_partkey", "l_suppkey"), 1)
    assert(ZOrder.readZRange(spark, dir, preds).count() == pre + 1,
      "retried append did not land exactly once")
    // a vacuum inside the retention window keeps the orphan (a live
    // reader's epoch can never vanish underneath it); outside removes it
    assert(ZOrder.vacuumOrphans(spark, dir, minAgeMs = 3600 * 1000L).isEmpty)
    assert(new java.io.File(dir, "d-orphanbatch").exists())
    val removed = ZOrder.vacuumOrphans(spark, dir)
    assert(removed == Seq("d-orphanbatch"), removed.toString)
    assert(ZOrder.readZRange(spark, dir, preds).count() == pre + 1)
  }

  test("empty append is a no-op: no data dir, no manifest version") {
    val dir = Files.createTempDirectory("graft-zempty").toString
    ZOrder.writeZOrdered(li.limit(100), dir,
      Seq("l_partkey", "l_suppkey"), 2)
    def versions(): Set[String] =
      new java.io.File(dir, "_zmanifest/e0").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
    def dataDirs(): Set[String] =
      new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("d-"))
        .map(_.getName).toSet
    val (v0, d0) = (versions(), dataDirs())
    ZOrder.appendZOrdered(li.filter(col("l_orderkey") < 0), dir,
      Seq("l_partkey", "l_suppkey"), 2)
    assert(versions() == v0 && dataDirs() == d0,
      "an empty append mutated the store")
    assert(ZOrder.readSnapshot(spark, dir).count() == 100)
  }

  test("re-cluster is a versioned swap: torn commit leaves the OLD snapshot, commit flips atomically") {
    val dir = Files.createTempDirectory("graft-zswap").toString
    ZOrder.writeZOrdered(li.filter(col("l_orderkey") % 10 =!= 9), dir,
      Seq("l_partkey", "l_suppkey"), NumFiles)
    for (m <- 0 to 2)
      ZOrder.appendZOrdered(li.filter(col("l_orderkey") % 10 === 9 &&
          col("l_orderkey") % 3 === m),
        dir, Seq("l_partkey", "l_suppkey"), 2)
    val expectAll = li.count()
    val preFiles = ZOrder.listDataFiles(spark, dir)
    assert(preFiles.size > NumFiles, "appends did not fragment the layout")
    assert(ZOrder.readSnapshot(spark, dir).count() == expectAll)
    ZOrder.reclusterZOrdered(spark, dir, Seq("l_partkey", "l_suppkey"),
      NumFiles)
    // TORN rebuild: hide the new epoch's commit marker — readers must
    // fall back to the complete OLD epoch (old-or-new, never partial,
    // never a listed-file error)
    val marker = new java.io.File(dir, "_zmanifest/e1/v0/_SUCCESS")
    val hidden = new java.io.File(dir, "_zmanifest/e1/v0/_HIDDEN")
    assert(marker.exists(), "recluster did not commit epoch e1")
    assert(marker.renameTo(hidden))
    assert(ZOrder.listDataFiles(spark, dir) == preFiles,
      "a torn re-cluster changed the visible snapshot")
    assert(ZOrder.readSnapshot(spark, dir).count() == expectAll)
    // commit lands → readers flip to the new epoch atomically
    assert(hidden.renameTo(marker))
    val postFiles = ZOrder.listDataFiles(spark, dir)
    assert(postFiles.toSet.intersect(preFiles.toSet).isEmpty &&
      postFiles.size <= NumFiles,
      s"re-cluster left ${postFiles.size} files overlapping the old epoch")
    assert(ZOrder.readSnapshot(spark, dir).count() == expectAll)
    // pruning works on the re-clustered layout; rows still exact
    val (pmn, pmx, _, _) = bounds()
    val pred = ("l_partkey", pmn, pmn + (pmx - pmn) / 10)
    val got = ZOrder.readZRange(spark, dir, Seq(pred))
    assert(files(dir, pred) < postFiles.size, "no pruning after re-cluster")
    assert(got.count() ==
      li.filter(col("l_partkey").between(pred._2, pred._3)).count())
    // vacuum drops the superseded epoch's manifest AND data dirs
    val removed = ZOrder.vacuumOrphans(spark, dir)
    assert(removed.contains("_zmanifest/e0"), removed.toString)
    assert(removed.count(_.startsWith("d-")) == preFiles.map(_.split('/').head).distinct.size,
      s"vacuum missed superseded data dirs: $removed")
    assert(ZOrder.readSnapshot(spark, dir).count() == expectAll)
  }

  test("manifest-only compaction: one version re-points the SAME files; reads unchanged; old epoch vacuumed") {
    val dir = Files.createTempDirectory("graft-zmanc").toString
    ZOrder.writeZOrdered(li.filter(col("l_orderkey") % 10 =!= 9), dir,
      Seq("l_partkey", "l_suppkey"), 8)
    for (m <- 0 to 2)
      ZOrder.appendZOrdered(li.filter(col("l_orderkey") % 10 === 9 &&
          col("l_orderkey") % 3 === m),
        dir, Seq("l_partkey", "l_suppkey"), 2)
    val preFiles = ZOrder.listDataFiles(spark, dir)
    val expectAll = li.count()
    assert(new java.io.File(dir, "_zmanifest/e0").listFiles()
      .count(_.isDirectory) == 4, "expected v0..v3 before compaction")
    ZOrder.compactManifest(spark, dir)
    // the same data files, now under ONE manifest version of a new epoch
    assert(ZOrder.listDataFiles(spark, dir) == preFiles,
      "manifest compaction must not touch data")
    assert(new java.io.File(dir, "_zmanifest/e1").listFiles()
      .count(_.isDirectory) == 1)
    assert(ZOrder.readSnapshot(spark, dir).count() == expectAll)
    val (pmn, pmx, _, _) = bounds()
    val pred = ("l_partkey", pmn, pmn + (pmx - pmn) / 10)
    assert(files(dir, pred) < preFiles.size, "pruning lost after compaction")
    assert(ZOrder.readZRange(spark, dir, Seq(pred)).count() ==
      li.filter(col("l_partkey").between(pred._2, pred._3)).count())
    // vacuum drops ONLY the superseded epoch's manifest — every data dir
    // is still referenced by the compacted epoch
    val removed = ZOrder.vacuumOrphans(spark, dir)
    assert(removed == Seq("_zmanifest/e0"), removed.toString)
    assert(ZOrder.readSnapshot(spark, dir).count() == expectAll)
  }

  test("a manifest-listed but missing file fails the read loudly, never silently drops rows") {
    val dir = Files.createTempDirectory("graft-zmiss").toString
    ZOrder.writeZOrdered(li.limit(1000), dir,
      Seq("l_partkey", "l_suppkey"), 4)
    val victim = ZOrder.listDataFiles(spark, dir).head
    assert(new java.io.File(dir, victim).delete())
    val e = intercept[Exception] {
      ZOrder.readSnapshot(spark, dir).count()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("not exist") || e.getMessage.contains(victim)),
      s"unexpected failure shape: ${e.getMessage}")
  }

  test("read path never lists a data directory (recorder validated by the write-path positive)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.lrfs.impl", classOf[ListRecordingFileSystem].getName)
    val dir = "lrfs:" + Files.createTempDirectory("graft-zlist").toString
    ZOrder.writeZOrdered(li.limit(2000), dir,
      Seq("l_partkey", "l_suppkey"), 4)
    // planted positive: an append's footer harvest lists its own batch
    // dir — if the recorder misses that, the negative below is vacuous
    ListRecordingFileSystem.drain()
    ListRecordingFileSystem.recording = true
    ZOrder.appendZOrdered(li.limit(10), dir, Seq("l_partkey", "l_suppkey"), 1)
    ListRecordingFileSystem.recording = false
    assert(ListRecordingFileSystem.drain()
        .exists(p => p.contains("/d-") && !p.endsWith(".parquet")),
      "recorder saw no data-dir listing from the write path — detector vacuous")
    val (pmn, pmx, _, _) = bounds()
    ListRecordingFileSystem.recording = true
    ZOrder.readZRange(spark, dir,
      Seq(("l_partkey", pmn, pmn + (pmx - pmn) / 10))).count()
    ListRecordingFileSystem.recording = false
    val reads = ListRecordingFileSystem.drain()
    // listStatus on an explicit surviving FILE is an O(1) metadata call
    // (the object-store HEAD Spark's file index issues per read path) —
    // the forbidden shape is listing a DIRECTORY outside _zmanifest
    val offenders = reads.filterNot(p =>
      p.contains("_zmanifest") || p.endsWith(".parquet"))
    assert(offenders.isEmpty,
      s"read path listed non-manifest directories: $offenders")
  }

  test("z-store appends evolve the recorded schema add-only: null-fill, no column loss, type refusal") {
    val dir = Files.createTempDirectory("graft-zevo").toString
    val base = spark.range(1000).select(col("id").as("k1"),
      (col("id") % 100).as("k2"), lit("old").as("tag"))
    ZOrder.writeZOrdered(base, dir, Seq("k1", "k2"), 4)
    // the evolving batch ADDS `note` and OMITS `tag`
    val batch = spark.range(1000, 1200).select(col("id").as("k1"),
      (col("id") % 100).as("k2"), lit("n").as("note"))
    ZOrder.appendZOrdered(batch, dir, Seq("k1", "k2"), 1)
    val got = ZOrder.readSnapshot(spark, dir)
    assert(got.columns.toSet == Set("k1", "k2", "tag", "note"),
      s"recorded union lost a column: ${got.columns.mkString(",")}")
    assert(got.filter(col("tag") === "old").count() == 1000 &&
      got.filter(col("note") === "n").count() == 200)
    assert(got.filter(col("tag").isNull).count() == 200 &&
      got.filter(col("note").isNull).count() == 1000,
      "old/new partitions did not null-fill the other side's column")
    // range reads prune on the evolved snapshot too
    assert(ZOrder.readZRange(spark, dir,
      Seq(("k1", 1050L, 1100L))).count() == 51)
    // type change refuses BEFORE any data lands
    val pre = ZOrder.listDataFiles(spark, dir)
    val e = intercept[IllegalArgumentException] {
      ZOrder.appendZOrdered(spark.range(1).select(col("id").as("k1"),
          (col("id") % 100).as("k2"), lit(7L).as("note")),
        dir, Seq("k1", "k2"), 1)
    }
    assert(e.getMessage.contains("note") && e.getMessage.contains("add-only"))
    assert(ZOrder.listDataFiles(spark, dir) == pre,
      "a refused append still landed data")
  }

  test("a version written without a column's stats keeps its files readable under that predicate") {
    val dir = Files.createTempDirectory("graft-zdrift").toString
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k1"), (col("id") % 100).as("k2"))
    ZOrder.writeZOrdered(mk(0, 1000), dir, Seq("k1", "k2"), 4)
    // the append records stats for k1 ONLY — its files carry no k2 rows
    // in the manifest, so a k2 predicate must READ them (no evidence =
    // no exclusion), never prune them
    ZOrder.appendZOrdered(mk(1000, 1100), dir, Seq("k1"), 1,
      statCols = Seq("k1"))
    assert(ZOrder.readZRange(spark, dir, Seq(("k2", 0L, 99L))).count()
      == 1100, "stat-less-version files were wrongly pruned")
    val got = ZOrder.readZRange(spark, dir, Seq(("k2", 10L, 20L)))
    assert(got.count() == 11 * 11, // 11 k2 values × (10 + 1) k1 cycles
      s"residual over a stats-drifted snapshot wrong: ${got.count()}")
  }

  test("tagged appends are exactly-once: replays no-op, and tags survive manifest compaction and re-cluster") {
    val dir = Files.createTempDirectory("graft-ztag").toString
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k1"), (col("id") % 100).as("k2"))
    ZOrder.writeZOrdered(mk(0, 1000), dir, Seq("k1", "k2"), 4)
    ZOrder.appendZOrdered(mk(1000, 1100), dir, Seq("k1", "k2"), 1,
      tag = Some("b1"))
    def rows(): Long = ZOrder.readSnapshot(spark, dir).count()
    assert(rows() == 1100)
    // the marker-missed replay: same tag → structural no-op
    ZOrder.appendZOrdered(mk(1000, 1100), dir, Seq("k1", "k2"), 1,
      tag = Some("b1"))
    assert(rows() == 1100, "tagged replay re-appended")
    // tags survive a manifest-only compaction…
    ZOrder.compactManifest(spark, dir)
    ZOrder.appendZOrdered(mk(1000, 1100), dir, Seq("k1", "k2"), 1,
      tag = Some("b1"))
    assert(rows() == 1100, "tag lost across manifest compaction")
    // …and a re-cluster that already folded the batch's rows in
    ZOrder.reclusterZOrdered(spark, dir, Seq("k1", "k2"), 4)
    ZOrder.appendZOrdered(mk(1000, 1100), dir, Seq("k1", "k2"), 1,
      tag = Some("b1"))
    assert(rows() == 1100, "tag lost across re-cluster")
    // a NEW tag still lands, and an untagged append is unguarded
    ZOrder.appendZOrdered(mk(1100, 1150), dir, Seq("k1", "k2"), 1,
      tag = Some("b2"))
    assert(rows() == 1150)
  }

  test("range predicates reach the surviving files' scan as parquet PushedFilters") {
    val dir = Files.createTempDirectory("graft-zpush").toString
    ZOrder.writeZOrdered(li.limit(5000), dir, Seq("l_partkey", "l_suppkey"), 4)
    val (pmn, pmx, _, _) = bounds()
    val got = ZOrder.readZRange(spark, dir,
      Seq(("l_partkey", pmn, pmn + (pmx - pmn) / 2)))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(l_partkey") &&
      plan.contains("LessThanOrEqual(l_partkey"),
      "residual range did not reach the scan as a PushedFilter")
    // planted negative: the unfiltered snapshot read pushes no range
    val plain = ZOrder.readSnapshot(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plain.contains("GreaterThanOrEqual(l_partkey"))
  }

  test("rewrites are optimistic (r15): a held store lease blocks neither appends nor DML/maintenance; the commit turnstile does") {
    val dir = Files.createTempDirectory("graft-z5").toString
    ZOrder.writeZOrdered(li.limit(100), dir,
      Seq("l_partkey", "l_suppkey"), 2)
    graft.sources.Lease.withLease(spark, dir, "other-writer") {
      // the r10 contract: an append lands DESPITE a held store lease —
      // it serializes on the version-claim CAS, not the writer slot
      ZOrder.appendZOrdered(li.limit(10), dir,
        Seq("l_partkey", "l_suppkey"), 1)
      assert(ZOrder.readSnapshot(spark, dir).count() == 110)
      // the r15 contract: rewrites are optimistic too — the store lease
      // is bootstrap/policy-only, so DML and maintenance LAND despite it
      // (their data work runs unlocked; only the epoch commit takes the
      // _zcommit turnstile)
      ZOrder.reclusterZOrdered(spark, dir, Seq("l_partkey", "l_suppkey"), 2)
      assert(ZOrder.readSnapshot(spark, dir).count() == 110)
      ZOrder.vacuumOrphans(spark, dir, minAgeMs = 3600 * 1000L)
    }
    // ... while a HELD COMMIT TURNSTILE makes a rewrite wait (not fail):
    // hold it in another thread, start a delete, assert it only lands
    // after the release
    val gate = new java.util.concurrent.CountDownLatch(1)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      graft.sources.Lease.withLease(spark,
        new Path(dir, "_zcommit").toString, "spec-holder") {
        entered.countDown(); gate.await()
      })
    holder.start(); entered.await()
    val del = new Thread(() => {
      ZOrder.deleteZRange(spark, dir,
        Seq(("l_partkey", Long.MinValue, Long.MaxValue)),
        Seq("l_partkey", "l_suppkey"))
      ()
    })
    del.start()
    del.join(1500)
    assert(del.isAlive, "the delete must QUEUE behind a held commit lock")
    assert(ZOrder.readSnapshot(spark, dir).count() == 110,
      "nothing may commit while the turnstile is held")
    gate.countDown(); holder.join(); del.join(60000)
    assert(!del.isAlive, "the delete must land once the turnstile frees")
    assert(ZOrder.readSnapshot(spark, dir).count() == 0)
    ZOrder.appendZOrdered(li.limit(10), dir,
      Seq("l_partkey", "l_suppkey"), 1)
    assert(ZOrder.readSnapshot(spark, dir).count() == 10)
  }

  test("two concurrent lock-free appenders: both batches land exactly once, tags intact") {
    val dir = Files.createTempDirectory("graft-zocc").toString
    val base = spark.range(500).select(col("id").as("k1"),
      (col("id") % 50).as("k2"))
    ZOrder.writeZOrdered(base, dir, Seq("k1", "k2"), 2)
    val b1 = spark.range(500, 800).select(col("id").as("k1"),
      (col("id") % 50).as("k2"))
    val b2 = spark.range(800, 1000).select(col("id").as("k1"),
      (col("id") % 50).as("k2"))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    def appender(df: org.apache.spark.sql.DataFrame, tag: String) =
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          ZOrder.appendZOrdered(df, dir, Seq("k1", "k2"), 1,
            tag = Some(tag))
        }
      })
    val (f1, f2) = (appender(b1, "t1"), appender(b2, "t2"))
    gate.countDown()
    f1.get(120, TimeUnit.SECONDS); f2.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    val got = ZOrder.readSnapshot(spark, dir)
    assert(got.count() == 1000, "both concurrent appends visible")
    assert(got.select(col("k1")).distinct().count() == 1000,
      "no batch landed twice")
    // tags recorded: both replays are no-ops now
    ZOrder.appendZOrdered(b1, dir, Seq("k1", "k2"), 1, tag = Some("t1"))
    ZOrder.appendZOrdered(b2, dir, Seq("k1", "k2"), 1, tag = Some("t2"))
    assert(ZOrder.readSnapshot(spark, dir).count() == 1000)
  }

  test("an append racing an epoch rewrite is never lost: rollforward or self-rebase lands it once") {
    val dir = Files.createTempDirectory("graft-zroll").toString
    val base = spark.range(2000).select(col("id").as("k1"),
      (col("id") % 100).as("k2"))
    ZOrder.writeZOrdered(base, dir, Seq("k1", "k2"), 4)
    // deterministic "late append": resolve the rewrite's snapshot shape by
    // hand — commit an append AFTER reading the store state the way the
    // rewrite does, by racing a real recluster against a real append many
    // times; whichever interleaving occurs, the invariant is the same
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    var expected = 2000L
    for (i <- 0 until 4) {
      val batch = spark.range(10000 + i * 100, 10000 + i * 100 + 100)
        .select(col("id").as("k1"), (col("id") % 100).as("k2"))
      expected += 100
      // alternate tagged and UNTAGGED: an untagged append whose version
      // the rewrite's base already consumed must recognize itself in the
      // _rebase watermark instead of re-committing (double-land)
      val tag = if (i % 2 == 0) Some(s"race$i") else None
      val gate = new CountDownLatch(1)
      val fa = pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          ZOrder.appendZOrdered(batch, dir, Seq("k1", "k2"), 1, tag = tag)
        }
      })
      val fr = pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          ZOrder.reclusterZOrdered(spark, dir, Seq("k1", "k2"), 4)
        }
      })
      gate.countDown()
      fa.get(120, TimeUnit.SECONDS); fr.get(120, TimeUnit.SECONDS)
      assert(ZOrder.readSnapshot(spark, dir).count() == expected,
        s"round $i: append lost or doubled under a racing rewrite")
      // and a tagged replay still dedups after the dust settles
      tag.foreach { t =>
        ZOrder.appendZOrdered(batch, dir, Seq("k1", "k2"), 1, tag = Some(t))
        assert(ZOrder.readSnapshot(spark, dir).count() == expected)
      }
    }
    pool.shutdown()
    // distinct keys: nothing double-landed across all the rounds
    assert(ZOrder.readSnapshot(spark, dir)
      .select(col("k1")).distinct().count() == expected)
  }

  test("copy-on-write delete: unaffected files carry by name, nulls survive, tagged replay can't resurrect, old epoch audits") {
    val dir = Files.createTempDirectory("graft-zdel").toString
    val base = spark.range(2000).select(col("id").as("k1"),
        (col("id") % 100).as("k2"))
      .union(spark.range(7).select(lit(null).cast("long").as("k1"),
        col("id").as("k2")))
    ZOrder.writeZOrdered(base, dir, Seq("k1", "k2"), 8)
    // a tagged batch INSIDE the future delete range: the replay below
    // must not resurrect its rows after they're deleted
    ZOrder.appendZOrdered(spark.range(600, 650).select(col("id").as("k1"),
        (col("id") % 100).as("k2")), dir, Seq("k1", "k2"), 1,
      tag = Some("b1"))
    val pre = ZOrder.listDataFiles(spark, dir)
    val deleted = ZOrder.deleteZRange(spark, dir,
      Seq(("k1", 500L, 799L)), Seq("k1", "k2"))
    assert(deleted == 350, s"deleted $deleted rows") // 300 base + 50 tagged
    val post = ZOrder.listDataFiles(spark, dir)
    // the stats-driven rewrite: files disjoint from the band CARRY by
    // name (no I/O), affected files are gone, survivors re-clustered
    assert(post.toSet.intersect(pre.toSet).nonEmpty,
      "no file carried by reference — the delete rewrote the whole table")
    assert(post.toSet != pre.toSet, "delete rewrote nothing")
    val got = ZOrder.readSnapshot(spark, dir)
    assert(got.count() == 2057 - 350)
    assert(got.filter(col("k1").between(500, 799)).count() == 0,
      "deleted rows still readable")
    assert(got.filter(col("k1").isNull).count() == 7,
      "NULL-predicate rows must survive a range delete")
    // the tagged replay after the delete is STILL a no-op — resurrecting
    // deleted rows via an at-least-once redelivery would break erasure
    ZOrder.appendZOrdered(spark.range(600, 650).select(col("id").as("k1"),
        (col("id") % 100).as("k2")), dir, Seq("k1", "k2"), 1,
      tag = Some("b1"))
    assert(ZOrder.readSnapshot(spark, dir).count() == 2057 - 350,
      "a replayed tagged append resurrected deleted rows")
    // a delete matching nothing is a no-op: no new epoch
    val vPre = ZOrder.listVersions(spark, dir)
    assert(ZOrder.deleteZRange(spark, dir, Seq(("k1", 500L, 799L)),
      Seq("k1", "k2")) == 0L)
    assert(ZOrder.listVersions(spark, dir) == vPre,
      "a no-op delete committed an epoch")
    // the superseded epoch remains the audit trail until vacuum
    assert(ZOrder.readSnapshotAt(spark, dir, 0, 1).count() == 2057,
      "pre-delete state not time-travel-readable")
    ZOrder.vacuumOrphans(spark, dir)
    intercept[IllegalArgumentException] {
      ZOrder.readSnapshotAt(spark, dir, 0, 1)
    }
    assert(ZOrder.readSnapshot(spark, dir).count() == 2057 - 350)
  }

  test("keyed merge: per-key carry, whole-row replace, null keys survive/insert, dup refusal, tag replay, audit") {
    val dir = Files.createTempDirectory("graft-zmerge").toString
    val base = spark.range(2000).select(col("id").as("k1"),
        (col("id") % 100).as("k2"))
      .union(spark.range(7).select(lit(null).cast("long").as("k1"),
        col("id").as("k2")))
    ZOrder.writeZOrdered(base, dir, Seq("k1", "k2"), 8)
    val pre = ZOrder.listDataFiles(spark, dir)
    // source: a k1-band of whole-row updates (k2 moved past 1000 as the
    // marker), beyond-max inserts, one null-key row — and a NEW column
    val upd = spark.range(500, 800).select(col("id").as("k1"),
      (col("id") % 100 + 1000).as("k2"), lit("u").as("note"))
    val ins = spark.range(5000, 5050).select(col("id").as("k1"),
      (col("id") % 100).as("k2"), lit("i").as("note"))
    val nul = spark.range(1).select(lit(null).cast("long").as("k1"),
      lit(777L).as("k2"), lit("n").as("note"))
    val res = ZOrder.mergeByKey(spark, dir,
      upd.unionByName(ins).unionByName(nul), "k1", Seq("k1", "k2"),
      numFiles = 2, tag = Some("m1"))
    assert(res == ZOrder.MergeResult(300L, 51L), res.toString)
    val post = ZOrder.listDataFiles(spark, dir)
    // per-key pruning: files whose k1 range misses every source key carry
    // by reference (the beyond-max inserts must not widen the rewrite)
    assert(post.toSet.intersect(pre.toSet).nonEmpty,
      "no file carried — the merge rewrote the whole table")
    assert(post.toSet != pre.toSet, "merge rewrote nothing")
    val got = ZOrder.readSnapshot(spark, dir)
    assert(got.count() == 2007 + 51)
    assert(got.columns.toSet == Set("k1", "k2", "note"),
      s"schema did not evolve: ${got.columns.mkString(",")}")
    // whole-row replace: every banded target row updated, no stale rows
    assert(got.filter(col("k2") >= 1000).count() == 300)
    assert(got.filter(col("k1").between(500, 799) &&
      col("k2") < 1000).count() == 0, "stale pre-merge rows survive")
    // null-key semantics: target nulls survive, the source null inserts
    assert(got.filter(col("k1").isNull).count() == 8)
    assert(got.filter(col("k1").isNull && col("note") === "n").count() == 1)
    // carried (pre-merge) rows null-fill the evolved column
    assert(got.filter(col("note").isNull).count() == 2007 - 300)
    // pruning still holds on the merged snapshot
    assert(files(dir, ("k1", 5000L, 5049L)) < post.size,
      "merge destroyed pruning")
    assert(ZOrder.readZRange(spark, dir,
      Seq(("k1", 5000L, 5049L))).count() == 50)
    // a replayed tagged merge is a structural no-op
    assert(ZOrder.mergeByKey(spark, dir, upd.unionByName(ins).unionByName(nul),
      "k1", Seq("k1", "k2"), tag = Some("m1")) == ZOrder.MergeResult(0L, 0L))
    assert(ZOrder.readSnapshot(spark, dir).count() == 2007 + 51,
      "a replayed tagged merge re-applied")
    // a source with two rows for one key refuses loudly, store untouched
    val e = intercept[IllegalArgumentException] {
      ZOrder.mergeByKey(spark, dir,
        upd.limit(1).union(upd.limit(1)), "k1", Seq("k1", "k2"))
    }
    assert(e.getMessage.contains("nondeterministic"))
    assert(ZOrder.listDataFiles(spark, dir) == post,
      "a refused merge mutated the store")
    // a key that isn't a store column refuses (no silent full-insert)
    intercept[IllegalArgumentException] {
      ZOrder.mergeByKey(spark, dir,
        spark.range(1).select(col("id").as("zz"), lit(1L).as("k2")),
        "zz", Seq("k1", "k2"))
    }
    // the pre-merge state remains the audit trail until vacuum
    assert(ZOrder.readSnapshotAt(spark, dir, 0, 0).count() == 2007,
      "pre-merge snapshot not time-travel-readable")
    ZOrder.vacuumOrphans(spark, dir)
    intercept[IllegalArgumentException] {
      ZOrder.readSnapshotAt(spark, dir, 0, 0)
    }
    assert(ZOrder.readSnapshot(spark, dir).count() == 2007 + 51)
  }

  test("bin-pack optimize folds only small files; large files carry by name; rows and pruning unchanged") {
    val dir = Files.createTempDirectory("graft-zopt").toString
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k1"), (col("id") % 100).as("k2"))
    ZOrder.writeZOrdered(mk(0, 50000), dir, Seq("k1", "k2"), 4)
    for (i <- 0 until 5)
      ZOrder.appendZOrdered(mk(50000 + i * 200, 50000 + (i + 1) * 200),
        dir, Seq("k1", "k2"), 1, tag = Some(s"bp$i"))
    val pre = ZOrder.listDataFiles(spark, dir)
    assert(pre.size == 9)
    val bigFiles = pre.filter(f =>
      new java.io.File(dir, f).length() >= 40000L).toSet
    assert(bigFiles.size == 4 && bigFiles.size + 5 == pre.size,
      s"fixture drift: expected 4 big + 5 small files, sizes = " +
        pre.map(f => new java.io.File(dir, f).length()).mkString(","))
    val folded = ZOrder.compactSmallFiles(spark, dir, Seq("k1", "k2"),
      smallBytes = 40000L)
    assert(folded == 5, s"folded $folded small files")
    val post = ZOrder.listDataFiles(spark, dir)
    assert(post.toSet.intersect(pre.toSet) == bigFiles,
      "optimize touched a large file (or dropped one)")
    assert(post.size < pre.size, s"no consolidation: ${post.size} files")
    assert(ZOrder.readSnapshot(spark, dir).count() == 51000)
    // the folded region reads exactly; pruning still holds on the snapshot
    assert(ZOrder.readZRange(spark, dir,
      Seq(("k1", 50100L, 50999L))).count() == 900)
    assert(files(dir, ("k1", 0L, 4999L)) < post.size,
      "optimize destroyed pruning")
    // idempotent: the single folded output has no partner to fold with
    assert(ZOrder.compactSmallFiles(spark, dir, Seq("k1", "k2"),
      smallBytes = 40000L) == 0)
    assert(ZOrder.listDataFiles(spark, dir) == post,
      "a no-op optimize committed an epoch")
    // batch tags carried through the bin-pack: a replayed tagged append
    // whose rows were folded stays a no-op
    ZOrder.appendZOrdered(mk(50600, 50800), dir, Seq("k1", "k2"), 1,
      tag = Some("bp3"))
    assert(ZOrder.readSnapshot(spark, dir).count() == 51000,
      "tag lost across bin-pack optimize — replay re-appended")
  }

  test("time travel: committed (epoch, version) coordinates reproduce past states until vacuumed") {
    val dir = Files.createTempDirectory("graft-ztt").toString
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k1"), (col("id") % 100).as("k2"))
    ZOrder.writeZOrdered(mk(0, 1000), dir, Seq("k1", "k2"), 4)
    ZOrder.appendZOrdered(mk(1000, 1300), dir, Seq("k1", "k2"), 1)
    ZOrder.reclusterZOrdered(spark, dir, Seq("k1", "k2"), 4)
    assert(ZOrder.listVersions(spark, dir) == Seq((0L, 0L), (0L, 1L), (1L, 0L)))
    assert(ZOrder.readSnapshotAt(spark, dir, 0, 0).count() == 1000)
    assert(ZOrder.readSnapshotAt(spark, dir, 0, 1).count() == 1300)
    assert(ZOrder.readSnapshotAt(spark, dir, 1, 0).count() == 1300)
    // ranged time travel prunes and stays exact at the old coordinate
    val old = ZOrder.readZRangeAt(spark, dir, 0, 0, Seq(("k1", 900L, 1100L)))
    assert(old.count() == 100, "v0 must not see the appended band")
    assert(ZOrder.readZRange(spark, dir,
      Seq(("k1", 900L, 1100L))).count() == 201)
    // a never-committed coordinate refuses loudly
    intercept[IllegalArgumentException] {
      ZOrder.readSnapshotAt(spark, dir, 5, 0)
    }
    intercept[IllegalArgumentException] {
      ZOrder.readSnapshotAt(spark, dir, 0, 9)
    }
    // retention: an in-window vacuum keeps the past readable; outside,
    // the coordinate refuses loudly (never a silently-empty past)
    assert(ZOrder.vacuumOrphans(spark, dir, minAgeMs = 3600 * 1000L).isEmpty)
    assert(ZOrder.readSnapshotAt(spark, dir, 0, 1).count() == 1300)
    ZOrder.vacuumOrphans(spark, dir)
    intercept[IllegalArgumentException] {
      ZOrder.readSnapshotAt(spark, dir, 0, 0)
    }
    assert(ZOrder.readSnapshot(spark, dir).count() == 1300)
  }

  test("change feed: delta since a coordinate is exactly the later appends; cross-epoch and bogus bases refuse") {
    val dir = Files.createTempDirectory("graft-zcdf").toString
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k1"), (col("id") % 100).as("k2"))
    ZOrder.writeZOrdered(mk(0, 1000), dir, Seq("k1", "k2"), 4) // e0 v0
    ZOrder.appendZOrdered(mk(1000, 1200), dir, Seq("k1", "k2"), 1) // v1
    ZOrder.appendZOrdered(mk(1200, 1250), dir, Seq("k1", "k2"), 1) // v2
    assert(ZOrder.readChangesSince(spark, dir, 0, 0).count() == 250)
    val d1 = ZOrder.readChangesSince(spark, dir, 0, 1)
    assert(d1.count() == 50 &&
      d1.agg(min(col("k1"))).head().getLong(0) == 1200,
      "delta since v1 must be exactly the v2 batch")
    assert(ZOrder.readChangesSince(spark, dir, 0, 2).count() == 0,
      "delta at the current coordinate must be empty")
    // a bogus base coordinate refuses — it would otherwise replay the
    // whole store as "changes"
    intercept[IllegalArgumentException] {
      ZOrder.readChangesSince(spark, dir, 0, 7)
    }
    // any rewrite commits a new epoch: incremental consumption across it
    // refuses loudly (rewritten history has no row delta)
    ZOrder.compactManifest(spark, dir)
    val e = intercept[IllegalArgumentException] {
      ZOrder.readChangesSince(spark, dir, 0, 0)
    }
    assert(e.getMessage.contains("full-refresh"))
    // resume from the new epoch's base
    assert(ZOrder.readChangesSince(spark, dir, 1, 0).count() == 0)
    ZOrder.appendZOrdered(mk(1250, 1300), dir, Seq("k1", "k2"), 1)
    assert(ZOrder.readChangesSince(spark, dir, 1, 0).count() == 50)
  }

  test("IVM refresh over the change feed reads only the view + delta, never the base data") {
    val dir = Files.createTempDirectory("graft-zivm").toString
    val vdir = Files.createTempDirectory("graft-zivm-view").toString
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k1"), (col("id") % 100).as("k2"),
        concat(lit("g"), (col("id") % 3).cast("string")).as("grp"))
    ZOrder.writeZOrdered(mk(0, 1000), dir, Seq("k1", "k2"), 4) // e0 v0
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("grp")).agg(count(lit(1)).cast("long").as("n"),
        sum(col("k2")).cast("long").as("s"))
    agg(ZOrder.readSnapshotAt(spark, dir, 0, 0))
      .coalesce(1).write.parquet(s"$vdir/v0")
    ZOrder.appendZOrdered(mk(1000, 1200), dir, Seq("k1", "k2"), 1) // v1
    val refresh = spark.read.parquet(s"$vdir/v0")
      .unionByName(agg(ZOrder.readChangesSince(spark, dir, 0, 0)))
      .groupBy(col("grp")).agg(sum(col("n")).cast("long").as("n"),
        sum(col("s")).cast("long").as("s"))
    val full = agg(ZOrder.readSnapshot(spark, dir))
    assert(refresh.exceptAll(full).count() == 0 &&
      full.exceptAll(refresh).count() == 0,
      "incremental refresh diverges from the full re-aggregate")
    val baseFiles = ZOrder.readSnapshotAt(spark, dir, 0, 0).inputFiles.toSet
    assert(baseFiles.nonEmpty)
    assert(refresh.inputFiles.toSet.intersect(baseFiles).isEmpty,
      "the refresh re-read base data files — that's a full refresh, not IVM")
    // planted positive: the full re-aggregate DOES open the base files,
    // so the intersection detector above is not vacuous
    assert(full.inputFiles.toSet.intersect(baseFiles).nonEmpty)
  }

  test("a predicate on a stat-less column is refused, not silently unpruned") {
    val zDir = Files.createTempDirectory("graft-z3").toString
    ZOrder.writeZOrdered(li, zDir, Seq("l_partkey", "l_suppkey"), 4)
    val e = intercept[IllegalArgumentException] {
      ZOrder.readZRange(spark, zDir, Seq(("l_orderkey", 0L, 10L)))
    }
    assert(e.getMessage.contains("l_orderkey"))
    // and an ineligible stat-column TYPE refuses at write time
    val e2 = intercept[IllegalArgumentException] {
      ZOrder.writeZOrdered(
        li.limit(10).withColumn("arr", array(col("l_partkey"))),
        Files.createTempDirectory("graft-z3b").toString,
        Seq("l_partkey"), 2, statCols = Seq("arr"))
    }
    assert(e2.getMessage.contains("arr"))
  }

  test("metadata-only count: covered files never opened, null-bearing files scan, totals exact") {
    val dir = Files.createTempDirectory("graft-zcount").toString
    // nulls planted in k1 (they z-sort together): those files must fall to
    // the residual scan — counting a covered-range file that holds nulls
    // in the predicate column would overcount
    val df = spark.range(4096).select(
      col("id"),
      when(col("id") % 257 === 0, lit(null)).otherwise(col("id"))
        .cast("long").as("k1"),
      pmod(hash(col("id")), lit(1000)).cast("long").as("k2"))
    ZOrder.writeZOrdered(df, dir, Seq("k1", "k2"), 8)
    val expectAll = df.filter(col("k1").between(0L, 5000L)).count()
    val wide = Seq(("k1", 0L, 5000L): (String, Any, Any))
    val parts = ZOrder.countZRangeParts(spark, dir, wide)
    assert(parts.covered.nonEmpty, "wide band must cover interior files")
    assert(parts.residual.nonEmpty, "null-bearing files must be scanned")
    assert(ZOrder.countZRange(spark, dir, wide) == expectAll)
    // boundary band stays exact against the plain filter
    val band = Seq(("k1", 1000L, 2000L): (String, Any, Any))
    assert(ZOrder.countZRange(spark, dir, band) ==
      df.filter(col("k1").between(1000L, 2000L)).count())
    // the no-open pin: a covered file physically deleted still counts
    // from the manifest — proof the metadata path never touches it —
    // while the row READ on the same predicate fails loudly
    assert(new java.io.File(dir, parts.covered.head).delete())
    assert(ZOrder.countZRange(spark, dir, wide) == expectAll)
    intercept[Exception] {
      ZOrder.readZRange(spark, dir, wide).count()
    }
    // predicate-less COUNT(*) is pure metadata (null rows count too):
    // still answers over the physically deleted file
    val empty = Seq.empty[(String, Any, Any)]
    assert(ZOrder.countZRangeParts(spark, dir, empty).residual.isEmpty)
    assert(ZOrder.countZRange(spark, dir, empty) == 4096L)
  }

  test("metadata-only min/max: charged files never opened, double-zero bounds scan, extremes exact") {
    val dir = Files.createTempDirectory("graft-zminmax").toString
    // nulls planted in the PREDICATE column k1 (those files must scan —
    // coverage needs zero-null evidence) and in the AGG column v (which
    // needs none: MIN/MAX and footer stats both ignore nulls); ts pins
    // the typed decode of timestamp stats
    val df = spark.range(4096).select(
      col("id"),
      when(col("id") % 257 === 0, lit(null)).otherwise(col("id"))
        .cast("long").as("k1"),
      pmod(hash(col("id")), lit(1000)).cast("long").as("k2"),
      when(col("id") % 5 === 0, lit(null))
        .otherwise(pmod(hash(col("id") + 7), lit(997)).cast("double") + 1.0)
        .as("v"),
      timestamp_micros(col("id") * 1000000L).as("ts"))
    ZOrder.writeZOrdered(df, dir, Seq("k1", "k2"), 8,
      statCols = Seq("k1", "k2", "v", "ts"))
    val wide = Seq(("k1", 0L, 5000L): (String, Any, Any))
    val exp = df.filter(col("k1").between(0L, 5000L))
      .agg(min(col("k2")), max(col("k2")), min(col("v")), max(col("v")),
        min(col("ts")), max(col("ts"))).head()
    val got = ZOrder.minMaxZRange(spark, dir, Seq("k2", "v", "ts"), wide)
    assert(got.columns.toSeq == Seq("mn_k2", "mx_k2", "mn_v", "mx_v",
      "mn_ts", "mx_ts"))
    assert(got.head() == exp)
    val parts = ZOrder.minMaxZRangeParts(spark, dir, Seq("k2", "v"), wide)
    assert(parts.charged.nonEmpty, "wide band must charge interior files")
    assert(parts.residual.nonEmpty, "null-bearing k1 files must scan")
    // boundary band stays exact against the plain filter
    val band = Seq(("k1", 1000L, 2000L): (String, Any, Any))
    assert(ZOrder.minMaxZRange(spark, dir, Seq("k2"), band).head() ==
      df.filter(col("k1").between(1000L, 2000L)).agg(
        min(col("k2")), max(col("k2"))).head())
    // the no-open pin: a charged file physically deleted still answers
    // from the manifest, while the row READ on the same predicate fails
    assert(new java.io.File(dir, parts.charged.head).delete())
    assert(ZOrder.minMaxZRange(spark, dir, Seq("k2", "v", "ts"), wide)
      .head() == exp)
    intercept[Exception] {
      ZOrder.readZRange(spark, dir, wide).count()
    }
    // predicate-less MIN/MAX still answers over the deleted file
    val empty = Seq.empty[(String, Any, Any)]
    assert(ZOrder.minMaxZRangeParts(spark, dir, Seq("k2"), empty)
      .residual.isEmpty)
    assert(ZOrder.minMaxZRange(spark, dir, Seq("k2"), empty).head() ==
      df.agg(min(col("k2")), max(col("k2"))).head())
    // DOUBLE bounds of ±0.0 are never trusted as attained values
    // (parquet-java widens zero bounds): an all-zero column's files all
    // fall to the scan set, and the answer comes from the data
    val zDir = Files.createTempDirectory("graft-zminmax0").toString
    val z = spark.range(256).select(col("id"), col("id").as("k1"),
      lit(0.0).as("dz"))
    ZOrder.writeZOrdered(z, zDir, Seq("k1"), 2, statCols = Seq("k1", "dz"))
    val zParts = ZOrder.minMaxZRangeParts(spark, zDir, Seq("dz"), empty)
    assert(zParts.charged.isEmpty && zParts.residual.nonEmpty,
      "zero double bounds must not charge from the manifest")
    val zRow = ZOrder.minMaxZRange(spark, zDir, Seq("dz"), empty).head()
    assert(zRow.getDouble(0) == 0.0 && zRow.getDouble(1) == 0.0)
  }

  test("describe history: every commit records its operation; missing sidecar reads unknown; orphan sidecars vacuum") {
    val dir = Files.createTempDirectory("graft-zhist-spec").toString
    def gen(a: Long, b: Long) = spark.range(a, b).select(col("id"),
      col("id").as("k1"),
      pmod(hash(col("id")), lit(100)).cast("long").as("k2"))
    ZOrder.writeZOrdered(gen(0, 512), dir, Seq("k1", "k2"), 4)
    ZOrder.appendZOrdered(gen(512, 600), dir, Seq("k1", "k2"), 2)
    ZOrder.reclusterZOrdered(spark, dir, Seq("k1", "k2"), 4)
    ZOrder.deleteZRange(spark, dir, Seq(("k1", 0L, 10L)), Seq("k1", "k2"))
    ZOrder.compactSmallFiles(spark, dir, Seq("k1", "k2"), 1L << 30)
    val hist = ZOrder.describeHistory(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(hist == Seq((0L, 0L, "create"), (0L, 1L, "append"),
      (1L, 0L, "recluster"), (2L, 0L, "delete"), (3L, 0L, "optimize")))
    // pre-r10 stores have no sidecars: a committed version without one
    // reads unknown, never fails
    val e3 = new java.io.File(dir, "_zmanifest/e3")
    assert(new java.io.File(e3, "v0.op").delete())
    assert(ZOrder.describeHistory(spark, dir).collect()
      .map(_.getString(2)).toSeq ==
      Seq("create", "append", "recluster", "delete", "unknown"))
    // an op sidecar whose version never committed (crashed commit) is
    // vacuumed once aged; committed versions' sidecars survive — they
    // ARE the history
    val orphan = new java.io.File(e3, "v99.op")
    java.nio.file.Files.write(orphan.toPath, "append".getBytes)
    assert(orphan.setLastModified(
      System.currentTimeMillis() - 2 * 3600 * 1000L))
    ZOrder.vacuumOrphans(spark, dir, minAgeMs = 3600 * 1000L)
    assert(!orphan.exists())
    assert(new java.io.File(e3, "_SUCCESS").exists() ||
      new java.io.File(e3, "v0/_SUCCESS").exists())
    assert(ZOrder.describeHistory(spark, dir).count() == 5)
  }

  test("predicate/stat column-name matching is case-insensitive on read, count and delete paths") {
    val dir = Files.createTempDirectory("graft-zcase").toString
    val df = spark.range(1024).select(col("id"),
      col("id").as("K1"), pmod(hash(col("id")), lit(100)).cast("long").as("k2"))
    ZOrder.writeZOrdered(df, dir, Seq("K1", "k2"), 4)
    // predicate spelled lowercase against the uppercase recorded stat:
    // must prune (not refuse, not full-rewrite)
    val got = ZOrder.readZRange(spark, dir, Seq(("k1", 0L, 100L)))
    assert(got.count() == 101)
    assert(got.inputFiles.length < ZOrder.listDataFiles(spark, dir).size)
    assert(ZOrder.countZRange(spark, dir, Seq(("k1", 0L, 100L))) == 101)
    val nDel = ZOrder.deleteZRange(spark, dir, Seq(("k1", 0L, 99L)),
      Seq("K1", "k2"))
    assert(nDel == 100)
    assert(ZOrder.readSnapshot(spark, dir).count() == 1024 - 100)
  }

  test("vacuum ages from the SUPERSESSION instant, not file mtime: a fresh rewrite keeps old epochs for the window") {
    val dir = Files.createTempDirectory("graft-zvage").toString
    val df = spark.range(2048).select(col("id"),
      col("id").as("k1"), pmod(hash(col("id")), lit(100)).cast("long").as("k2"))
    ZOrder.writeZOrdered(df, dir, Seq("k1", "k2"), 4)
    def backdate(f: java.io.File, t: Long): Unit = {
      f.setLastModified(t)
      Option(f.listFiles()).foreach(_.foreach(backdate(_, t)))
    }
    val twoHoursAgo = System.currentTimeMillis() - 2 * 3600 * 1000L
    val hour = 3600 * 1000L
    // the store is OLD (all mtimes two hours back) ...
    backdate(new java.io.File(dir), twoHoursAgo)
    // ... and is re-clustered NOW: e0 is superseded at this instant
    ZOrder.reclusterZOrdered(spark, dir, Seq("k1", "k2"), 4)
    // mtime aging would collect e0 + its data dirs here (their mtimes are
    // 2h old, window 1h) — supersession aging must keep them
    assert(ZOrder.vacuumOrphans(spark, dir, minAgeMs = hour).isEmpty)
    assert(ZOrder.readSnapshotAt(spark, dir, 0, 0).count() == 2048,
      "superseded epoch stays time-travel-readable inside the window")
    // a never-committed version dir ages from its OWN mtime (it was
    // garbage from birth, it supersedes nothing)
    val crashedV = new java.io.File(dir, "_zmanifest/e1/v7")
    assert(crashedV.mkdirs())
    assert(ZOrder.vacuumOrphans(spark, dir, minAgeMs = hour).isEmpty)
    backdate(crashedV, twoHoursAgo)
    assert(ZOrder.vacuumOrphans(spark, dir, minAgeMs = hour) ==
      Seq("_zmanifest/e1/v7"))
    // once the supersession itself is outside the window, e0 goes
    backdate(new java.io.File(dir, "_zmanifest/e1/v0/_SUCCESS"), twoHoursAgo)
    val removed = ZOrder.vacuumOrphans(spark, dir, minAgeMs = hour)
    assert(removed.contains("_zmanifest/e0"))
    assert(removed.exists(_.startsWith("d-")))
    intercept[Exception] { ZOrder.readSnapshotAt(spark, dir, 0, 0) }
    assert(ZOrder.readSnapshot(spark, dir).count() == 2048)
  }

  test("bloom sidecar index: files opened track matches on a non-clustered column; missing sidecar degrades safely") {
    val dir = Files.createTempDirectory("graft-zbloomspec").toString
    // uk is deliberately NOT a clustering key: its per-file ranges overlap
    // everywhere, so min/max stats exclude nothing and bloom is the only
    // pruning plane
    val df = spark.range(8192).select(col("id"),
      ((col("id") * lit(2654435761L)) % lit(100003L)).as("uk"),
      (col("id") % 100).as("k2"))
    ZOrder.writeZOrdered(df, dir, Seq("k2", "id"), 16)
    ZOrder.buildBloomIndex(spark, dir, "uk")
    val total = ZOrder.listDataFiles(spark, dir).size
    assert(total >= 8)
    val present = (77L * 2654435761L) % 100003L
    val got = ZOrder.readZPoint(spark, dir, "uk", present)
    assert(got.count() == df.filter(col("uk") === present).count())
    assert(got.count() >= 1)
    assert(got.inputFiles.length <= 3,
      s"opened ${got.inputFiles.length} of $total files for a point probe")
    // planted ABSENT probe (uk is always < 100003): only the fpp tail may
    // open; a min/max-only plane would open all 16
    val absent = ZOrder.readZPoint(spark, dir, "uk", 100004L)
    assert(absent.count() == 0)
    assert(absent.inputFiles.length <= 2,
      s"absent probe opened ${absent.inputFiles.length} files")
    // a deleted sidecar degrades to READING that file - never to skipping
    val opened = got.inputFiles.map(f => f.substring(f.indexOf("/d-") + 1)).toSet
    val uncovered = ZOrder.listDataFiles(spark, dir).filterNot(opened).head
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(dir, s"_zbloom/uk/$uncovered.bloom"), false))
    val got2 = ZOrder.readZPoint(spark, dir, "uk", present)
    assert(got2.count() == got.count())
    assert(got2.inputFiles.exists(_.endsWith(uncovered)),
      "uncovered file must be read, not trusted-absent")
  }

  test("bloom coverage survives rewrites and appends: point lookups stay O(matching files) with NO rebuild (r15)") {
    val dir = Files.createTempDirectory("graft-zbloomlive").toString
    val df = spark.range(8192).select(col("id"),
      ((col("id") * lit(2654435761L)) % lit(100003L)).as("uk"),
      (col("id") % 100).as("k2"))
    ZOrder.writeZOrdered(df, dir, Seq("k2", "id"), 16)
    ZOrder.buildBloomIndex(spark, dir, "uk")
    // a DELETE rewrites some files: its survivor files must come out
    // COVERED (sidecars built inside the rewrite's own write pass)
    val nDel = ZOrder.deleteZRange(spark, dir, Seq(("id", 0L, 2047L)),
      Seq("k2", "id"))
    assert(nDel == 2048)
    // ... and an APPEND's fresh files too
    ZOrder.appendZOrdered(
      spark.range(8192, 9000).select(col("id"),
        ((col("id") * lit(2654435761L)) % lit(100003L)).as("uk"),
        (col("id") % 100).as("k2")),
      dir, Seq("k2", "id"), 2)
    val files = ZOrder.listDataFiles(spark, dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    files.foreach { f =>
      assert(fs.exists(new Path(dir, s"_zbloom/uk/$f.bloom")),
        s"file $f of the post-DML snapshot has no sidecar — coverage " +
          "decayed (the pre-r15 behavior)")
    }
    // end to end: a point probe on a survivor value opens few files
    val present = (3000L * 2654435761L) % 100003L // id 3000 survived
    val got = ZOrder.readZPoint(spark, dir, "uk", present)
    assert(got.count() >= 1)
    assert(got.count() ==
      ZOrder.readSnapshot(spark, dir).filter(col("uk") === present).count())
    assert(got.inputFiles.length <= 3,
      s"opened ${got.inputFiles.length} of ${files.size} files — bloom " +
        "pruning decayed after DML")
    // an appended-value probe prunes through the append's own sidecars
    val appended = (8500L * 2654435761L) % 100003L
    val got2 = ZOrder.readZPoint(spark, dir, "uk", appended)
    assert(got2.count() >= 1)
    assert(got2.inputFiles.length <= 3,
      s"appended-value probe opened ${got2.inputFiles.length} files")
  }

  test("signed zeros are ONE key end to end: bloom hashes collide by construction, and zero-bounded reads/deletes keep stored -0.0 rows despite parquet's total-order pushdown") {
    // plane 1 (the r13 advisor's premise, checked): XxHash64 normalizes
    // -0.0 before hashing, so build and probe already collide — the
    // bloom sidecars never had a zero hole
    val h0 = spark.range(1).select(xxhash64(lit(0.0d))).head().getLong(0)
    val hn = spark.range(1).select(xxhash64(lit(-0.0d))).head().getLong(0)
    assert(h0 == hn, "XxHash64 stopped normalizing signed zeros — " +
      "buildBloomIndex/pointProbeHashes now need explicit normalization")
    // plane 2 (the REAL hole): Spark's parquet pushdown compares with
    // Double.compare total order (-0.0 < 0.0) while its own residual
    // filter uses IEEE semantics (-0.0 = 0.0) — an unguarded pushed
    // `d >= 0.0` drops stored -0.0 rows. First pin the hazard exists
    // (or this whole test is vacuous), then that every z-plane avoids it.
    val hazard = Files.createTempDirectory("graft-zerohazard").toString
    spark.range(8).select(lit(-0.0d).as("d"))
      .write.mode("overwrite").parquet(hazard)
    assert(spark.read.parquet(hazard).filter(col("d") === lit(0.0d))
      .count() == 0, "parquet pushdown now matches -0.0 = 0.0 — the " +
      "bandPred zero workaround can be retired")
    val dir = Files.createTempDirectory("graft-zzero").toString
    ZOrder.writeZOrdered(
      spark.range(512).select(
        when(col("id") < 256, lit(-0.0d)).otherwise(lit(9.5d)).as("d"),
        col("id").as("k")),
      dir, Seq("k"), 2, statCols = Seq("d"))
    ZOrder.buildBloomIndex(spark, dir, "d")
    // point probes of either sign see all 256 stored -0.0 rows
    assert(ZOrder.readZPoint(spark, dir, "d", 0.0d).count() == 256)
    assert(ZOrder.readZPoint(spark, dir, "d", -0.0d).count() == 256)
    // zero-bounded band read keeps them too
    assert(ZOrder.readZRange(spark, dir,
      Seq(("d", 0.0d, 1.0d))).count() == 256)
    // the DELETE path neither loses nor miscounts them: a [0.0, 1.0]
    // band delete must count 256 deleted and leave exactly the 9.5 rows
    val nDel = ZOrder.deleteZRange(spark, dir,
      Seq(("d", 0.0d, 1.0d)), Seq("k"))
    assert(nDel == 256L, s"deleted $nDel, expected 256")
    val left = ZOrder.readSnapshot(spark, dir)
    assert(left.count() == 256)
    assert(left.filter(col("d") === 9.5d).count() == 256)
  }

  test("vacuum sweeps redundant version claims and orphaned bloom sidecar dirs") {
    val dir = Files.createTempDirectory("graft-zsweep").toString
    val df = spark.range(512).select(col("id").as("k1"),
      ((col("id") * lit(2654435761L)) % lit(100003L)).as("uk"),
      (col("id") % 16).as("k2"))
    ZOrder.writeZOrdered(df, dir, Seq("k1", "k2"), 2)
    ZOrder.appendZOrdered(spark.range(512, 600).select(col("id").as("k1"),
      ((col("id") * lit(2654435761L)) % lit(100003L)).as("uk"),
      (col("id") % 16).as("k2")), dir, Seq("k1", "k2"), 1)
    ZOrder.buildBloomIndex(spark, dir, "uk")
    val e0 = new java.io.File(dir, "_zmanifest/e0")
    assert(e0.listFiles().exists(_.getName.endsWith(".claim")),
      "OCC append should have left a claim file (planted positive)")
    val oldDirs = ZOrder.listDataFiles(spark, dir).map(_.split('/').head)
      .distinct
    oldDirs.foreach { d =>
      assert(new java.io.File(dir, s"_zbloom/uk/$d").exists())
    }
    // committed claims sweep even INSIDE the retention window; the
    // snapshot itself is untouched
    assert(ZOrder.vacuumOrphans(spark, dir, minAgeMs = 3600 * 1000L).isEmpty)
    assert(!e0.listFiles().exists(_.getName.endsWith(".claim")),
      "committed claim not swept")
    assert(ZOrder.readSnapshot(spark, dir).count() == 600)
    // a re-cluster orphans the old data dirs AND their bloom sidecars,
    // and records WHAT IT CONSUMED for racing OCC appenders
    ZOrder.reclusterZOrdered(spark, dir, Seq("k1", "k2"), 2)
    val marker = new java.io.File(dir, "_zmanifest/e1/_rebase")
    assert(marker.exists())
    assert(new String(java.nio.file.Files.readAllBytes(marker.toPath),
      "UTF-8") == "0:1", "rebase watermark must name base epoch 0 thru v1")
    val removed = ZOrder.vacuumOrphans(spark, dir)
    oldDirs.foreach { d =>
      assert(removed.contains(s"_zbloom/uk/$d"), removed.toString)
      assert(!new java.io.File(dir, s"_zbloom/uk/$d").exists())
    }
    assert(ZOrder.readSnapshot(spark, dir).count() == 600)
  }

  test("graft-z DSv2 table: pushed filters prune planned files, residual stays exact, evolution null-fills, unsupported types refuse") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ztable").toString
    val df = spark.range(8192).select(col("id").as("k1"),
      (col("id") % 128).as("k2"),
      concat(lit("s"), col("id")).as("tag0"))
    ZOrder.writeZOrdered(df, dir, Seq("k1", "k2"), 16)
    val t = spark.read.format("graft-z").load(dir)
    val total = ZOrder.listDataFiles(spark, dir).size
    assert(total >= 8)
    // files BIN-PACK into partitions at maxPartitionBytes (the
    // FileSourceScan discipline — one task per tiny file would be a
    // scheduler storm at 1M files): these small files pack into fewer
    // partitions than files under the default 128 MB...
    assert(t.rdd.getNumPartitions < total,
      s"${t.rdd.getNumPartitions} partitions for $total small files")
    // ...so the per-FILE pruning assertions pin partitions ≡ files by
    // shrinking the pack bin to one byte (conf is read at PLAN time and
    // Dataset.rdd memoizes — build fresh frames under the pinned conf)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val t1 = spark.read.format("graft-z").load(dir)
      // planted positive: an unfiltered scan plans EVERY file
      assert(t1.rdd.getNumPartitions == total)
      // a selective band on a clustered column prunes the plan to a
      // fraction of the files — the manifest acting through ordinary
      // DataFrame filters, no explicit readZRange call
      val band1 = t1.filter(col("k1").between(1000L, 1200L))
      assert(band1.rdd.getNumPartitions < total / 2,
        s"planned ${band1.rdd.getNumPartitions} of $total files")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    val band = t.filter(col("k1").between(1000L, 1200L))
    // exact under the retained residual filter: boundary files hold
    // out-of-range rows and Spark's own filter drops them
    val got = band.select(col("k1"), col("k2"), col("tag0"))
      .orderBy(col("k1")).collect().toSeq
    val expect = df.filter(col("k1").between(1000L, 1200L))
      .select(col("k1"), col("k2"), col("tag0"))
      .orderBy(col("k1")).collect().toSeq
    assert(got == expect, "DSv2 band read diverges from the plain filter")
    // a filter on a stat-LESS column prunes nothing (best-effort
    // contract) but stays exact — and column pruning still serves it
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try assert(spark.read.format("graft-z").load(dir)
      .filter(col("tag0") === "s55").select(col("k1"))
      .rdd.getNumPartitions == total)
    finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    val sel = t.filter(col("tag0") === "s55").select(col("k1"))
    assert(sel.as[Long].collect().toSeq == Seq(55L))
    // add-only evolution: files predating a column read null through
    // the table, evolved rows carry their values
    ZOrder.appendZOrdered(spark.range(8192, 8200).select(col("id").as("k1"),
        (col("id") % 128).as("k2"), concat(lit("s"), col("id")).as("tag0"),
        lit(7L).as("extra")),
      dir, Seq("k1", "k2"), 1)
    val t2 = spark.read.format("graft-z").load(dir)
    assert(t2.filter(col("k1") < 8192L && col("extra").isNotNull)
      .count() == 0)
    assert(t2.filter(col("extra") === 7L).count() == 8)
    // a store column outside the wire surface refuses at load, not
    // mid-stream
    val badDir = Files.createTempDirectory("graft-ztable-bad").toString
    ZOrder.writeZOrdered(spark.range(8).select(col("id").as("k1"),
        (col("id") % 2).as("k2"), array(col("id")).as("arr")),
      badDir, Seq("k1", "k2"), 1)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-z").load(badDir)
    }
    assert(e.getMessage.contains("arr"), e.getMessage)
  }

  test("graft-z table scans decode COLUMNAR (vectorized reader) and match the plain parquet read on every wire type") {
    val dir = Files.createTempDirectory("graft-zvec").toString
    val df = spark.range(4096).select(col("id").as("k1"),
      (col("id") % 64).as("k2"),
      col("id").cast("int").as("i32"),
      (col("id") / 7.0).as("d"),
      (col("id") / 3.0).cast("float").as("f"),
      (col("id") % 2 === 0).as("b"),
      concat(lit("v"), col("id")).as("s"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      timestamp_micros(col("id") * 1000000L).cast("timestamp_ntz").as("tsn"))
    ZOrder.writeZOrdered(df, dir, Seq("k1", "k2"), 8)
    val t = spark.read.format("graft-z").load(dir)
    // plan pin (the r11 verdict's `weak`): the scan must hand Spark
    // ColumnarBatches — a ColumnarToRow span sits above it, exactly like
    // a FileSourceScan; a row-at-a-time decode would plan no such node
    val plan = t.queryExecution.executedPlan
    assert(plan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.ColumnarToRowExec]),
      s"graft-z scan fell back to row decode:\n$plan")
    // decode equality against spark.read.parquet over the SAME files,
    // every wire type incl. both timestamp flavors (q148's r6 lesson:
    // flavor bugs are invisible on synthetic long-only specs)
    val files = ZOrder.listDataFiles(spark, dir).map(f => s"$dir/$f")
    val direct = spark.read.parquet(files: _*).select(t.columns.map(col): _*)
    assert(t.count() == 4096)
    assert(t.except(direct).count() == 0 && direct.except(t).count() == 0,
      "vectorized table decode diverges from the plain parquet read")
  }

  test("graft-z native streaming sink: tagged appends, exactly-once across checkpoint restart AND an explicit tagPrefix full replay") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft-zsink").toString
    val store = s"$root/store"
    def start(input: MemoryStream[Long], ckpt: String) =
      input.toDF().select(col("value").as("k1"),
          (col("value") % 7).as("k2"))
        .writeStream.format("graft-z")
        .option("zcols", "k1,k2").option("numFiles", "1")
        .option("tagPrefix", "s1")
        .option("checkpointLocation", ckpt)
        .start(store)
    val in1 = MemoryStream[Long]
    val q = start(in1, s"$root/ckpt1")
    in1.addData(0L until 100L: _*); q.processAllAvailable()
    in1.addData(100L until 150L: _*); q.processAllAvailable()
    q.stop()
    assert(ZOrder.readSnapshot(spark, store).count() == 150,
      "two micro-batches should have landed as two appends")
    assert(ZOrder.describeHistory(spark, store)
      .filter(col("op") === "append").count() >= 2)
    // restart from the SAME checkpoint: committed batches not re-landed,
    // new data still flows
    val q2 = start(in1, s"$root/ckpt1")
    in1.addData(150L until 160L: _*); q2.processAllAvailable(); q2.stop()
    assert(ZOrder.readSnapshot(spark, store).count() == 160)
    // from-scratch replay of the same logical stream (fresh checkpoint,
    // batch ids restart at 0) under the SAME tagPrefix: every re-delivered
    // batch's tag is already in the manifest — nothing doubles
    val in2 = MemoryStream[Long]
    val q3 = start(in2, s"$root/ckpt2")
    in2.addData(0L until 100L: _*); q3.processAllAvailable()
    in2.addData(100L until 150L: _*); q3.processAllAvailable()
    q3.stop()
    assert(ZOrder.readSnapshot(spark, store).count() == 160,
      "a tagPrefix replay double-landed batches")
    // the sunk store is a full citizen of the read surface
    assert(spark.read.format("graft-z").load(store)
      .filter(col("k1").between(10L, 19L)).count() == 10)
    // refusals: zcols is required (resolved at the first batch — the
    // store may legitimately not exist before it), non-append modes
    // refuse at start
    val in3 = MemoryStream[Long]
    val qBad = in3.toDF().select(col("value").as("k1")).writeStream
      .format("graft-z").option("checkpointLocation", s"$root/ckpt3")
      .start(s"$root/s2")
    in3.addData(1L)
    val e1 = intercept[Exception] { qBad.processAllAvailable() }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e1).exists(m => m != null && m.contains("zcols")),
      chain(e1).mkString(" | "))
    qBad.stop()
    // with STREAMING_WRITE on the table the format path routes through
    // the DSv2 write, so the refusal surfaces when the query RUNS (the
    // V1 sink threw at start); either timing must carry the message
    val e2 = intercept[Exception] {
      val qC = in3.toDF().groupBy(col("value")).count().writeStream
        .format("graft-z").option("zcols", "value")
        .option("checkpointLocation", s"$root/ckpt4")
        .outputMode("complete").start(s"$root/s3")
      in3.addData(2L); qC.processAllAvailable(); qC.stop()
    }
    assert(chain(e2).exists(m => m != null && m.contains("append-only")),
      chain(e2).mkString(" | "))
  }

  test("writeStream.toTable on a graftz table: staged epochs, tagged appends, exactly-once across restart and replay") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft-ztotable").toString
    spark.conf.set("spark.sql.catalog.gztt", "graft.sources.ZCatalog")
    spark.conf.set("spark.sql.catalog.gztt.root", root)
    try {
      spark.sql("CREATE NAMESPACE gztt.lake")
      spark.sql("""CREATE TABLE gztt.lake.t (k1 BIGINT, k2 BIGINT)
        PARTITIONED BY (k1, k2)""")
      val store = s"$root/lake/t"
      def start(input: MemoryStream[Long], ckpt: String) =
        input.toDF().select(col("value").as("k1"),
            (col("value") % 7).as("k2"))
          .writeStream
          .option("checkpointLocation", ckpt)
          .option("tagPrefix", "tt1").option("numFiles", "1")
          .toTable("gztt.lake.t")
      val in1 = MemoryStream[Long]
      val q = start(in1, s"$root/ckpt1")
      in1.addData(0L until 100L: _*); q.processAllAvailable()
      in1.addData(100L until 150L: _*); q.processAllAvailable()
      q.stop()
      assert(spark.sql("SELECT count(*) FROM gztt.lake.t")
        .head().getLong(0) == 150,
        "two micro-batches should have landed as two appends")
      // restart from the SAME checkpoint: committed epochs not re-landed
      val q2 = start(in1, s"$root/ckpt1")
      in1.addData(150L until 160L: _*); q2.processAllAvailable(); q2.stop()
      assert(spark.sql("SELECT count(*) FROM gztt.lake.t")
        .head().getLong(0) == 160)
      // from-scratch replay (fresh checkpoint, epoch ids restart at 0)
      // under the SAME tagPrefix: tag dedup keeps it exactly-once
      val in2 = MemoryStream[Long]
      val q3 = start(in2, s"$root/ckpt2")
      in2.addData(0L until 150L: _*); q3.processAllAvailable(); q3.stop()
      assert(spark.sql("SELECT count(*) FROM gztt.lake.t")
        .head().getLong(0) == 160, "a tagPrefix replay double-landed")
      // the recorded clustering drove the appends: manifest skipping
      // serves a band read, and staging left nothing behind
      assert(spark.sql(
        "SELECT count(*) FROM gztt.lake.t WHERE k1 BETWEEN 10 AND 19")
        .head().getLong(0) == 10)
      val tmp = new java.io.File(store, "_ztmp")
      assert(!tmp.exists() || tmp.listFiles().forall(d =>
        !d.getName.startsWith("stream-") || d.listFiles().isEmpty),
        "streaming staging dirs must be cleaned after commit")
      // complete mode refuses (append-only sink)
      val in3 = MemoryStream[Long]
      val e = intercept[Exception] {
        val qBad = in3.toDF().groupBy(col("value")).count()
          .select(col("value").as("k1"), col("count").as("k2"))
          .writeStream.outputMode("complete")
          .option("checkpointLocation", s"$root/ckpt3")
          .toTable("gztt.lake.t")
        in3.addData(1L); qBad.processAllAvailable(); qBad.stop()
      }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          String.valueOf(x.getMessage) +: chain(x.getCause))
      assert(chain(e).exists(_.contains("append-only")),
        chain(e).mkString(" | "))
    } finally {
      spark.conf.unset("spark.sql.catalog.gztt")
      spark.conf.unset("spark.sql.catalog.gztt.root")
    }
  }

  test("graft-z aggregate pushdown: ungrouped COUNT(*)/MIN/MAX answer from the metadata plane (data files never opened)") {
    val dir = Files.createTempDirectory("graft-zaggpush").toString
    val df = spark.range(5000).select(col("id").as("k1"),
      (col("id") % 40).as("k2"), concat(lit("s"), col("id")).as("s"))
    ZOrder.writeZOrdered(df, dir, Seq("k1", "k2"), 8)
    def t() = spark.read.format("graft-z").load(dir)
    // exactness first, intact store: pushed and non-pushed shapes agree
    assert(t().count() == 5000)
    val r = t().agg(min(col("k1")), max(col("k1")), count(lit(1))).head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 4999L &&
      r.getLong(2) == 5000L)
    // a stat-LESS agg column degrades to scanning inside the API — exact
    assert(t().agg(min(col("s"))).head().getString(0) == "s0")
    // filtered/grouped aggregates do NOT complete-push (this scan's
    // filter pushdown is best-effort) — they stay exact via the data path
    assert(t().filter(col("k1") < 100).count() == 100)
    assert(t().groupBy(col("k2")).count().count() == 40)
    // planted positive: physically delete a data file — the data plane
    // now FAILS LOUDLY (listed ⇒ present), so the aggregates below can
    // only succeed if they truly answered from the metadata plane
    val victim = ZOrder.listDataFiles(spark, dir).head
    assert(new java.io.File(dir, victim).delete(), "surgery failed")
    assert(t().count() == 5000, "COUNT(*) was not metadata-answered")
    val r2 = t().agg(min(col("k1")), max(col("k2"))).head()
    assert(r2.getLong(0) == 0L && r2.getLong(1) == 39L,
      "MIN/MAX were not metadata-answered")
    intercept[Exception] { t().collect() } // the data plane is truly broken
  }

  test("graft-z scan-plan cache: a repeated read of an unchanged store runs ZERO manifest scans; any commit changes the key") {
    val dir = Files.createTempDirectory("graft-zplancache").toString
    val df = spark.range(1024).select(col("id").as("k1"),
      (col("id") % 16).as("k2"))
    ZOrder.writeZOrdered(df, dir, Seq("k1", "k2"), 4)
    def misses = ZOrder.scanPlanMisses.get()
    def read() = spark.read.format("graft-z").load(dir)
      .filter(col("k1").between(100L, 199L)).count()
    val m0 = misses
    assert(read() == 100)
    assert(misses == m0 + 1, "planted positive: the first read must MISS")
    // the repeated identical read plans from the cache — no manifest job,
    // no O(files) driver re-materialization
    assert(read() == 100)
    assert(misses == m0 + 1, "an unchanged store's repeat read re-scanned " +
      "the manifest")
    // different pushed bounds = a different plan = a miss
    assert(spark.read.format("graft-z").load(dir)
      .filter(col("k1").between(0L, 49L)).count() == 50)
    assert(misses == m0 + 2)
    // ANY new commit changes the snapshot key: the next read re-plans and
    // sees the appended rows (writers never invalidate anything)
    ZOrder.appendZOrdered(spark.range(1024, 1124)
        .select(col("id").as("k1"), (col("id") % 16).as("k2")),
      dir, Seq("k1", "k2"), 1)
    assert(spark.read.format("graft-z").load(dir)
      .filter(col("k1").between(100L, 199L)).count() == 100)
    assert(misses == m0 + 3, "a commit must invalidate by key change")
    assert(spark.read.format("graft-z").load(dir).count() == 1124)
  }

  test("graft-z scan-plan cache: a DROPPED-and-recreated store at the same path never serves the old store's plan") {
    // a recreated store restarts at the SAME (e0, v0) coordinates — the
    // r12 advisor's medium: without the birth-identity (v0 _SUCCESS
    // mtime) in the key, the second store's reads would plan the first
    // store's deleted files
    val dir = Files.createTempDirectory("graft-zplanident").toString
    val fs = new Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    ZOrder.writeZOrdered(spark.range(100).select(col("id").as("k1")),
      dir, Seq("k1"), 2)
    assert(spark.read.format("graft-z").load(dir).count() == 100)
    fs.delete(new Path(dir), true) // DROP TABLE
    ZOrder.writeZOrdered(spark.range(40).select(col("id").as("k1")),
      dir, Seq("k1"), 2) // CREATE at the same path: same e0/v0 names
    assert(spark.read.format("graft-z").load(dir).count() == 40,
      "the recreated store's read hit the dropped store's cached plan")
  }

  test("graft-z scan-plan cache: eviction is weighed by FILE COUNT, and a store too large for the cache falls through uncached") {
    val dir = Files.createTempDirectory("graft-zplanweight").toString
    ZOrder.writeZOrdered(spark.range(4096).select(col("id").as("k1"),
      (col("id") % 7).as("k2")), dir, Seq("k1", "k2"), 24) // 24 files
    val prev = ZOrder.scanPlanCacheMaxWeight
    ZOrder.scanPlanCacheMaxWeight = 40 // fits ONE 24-file entry, not two
    try {
      def misses = ZOrder.scanPlanMisses.get()
      def read(lo: Long, hi: Long) = spark.read.format("graft-z").load(dir)
        .filter(col("k1").between(lo, hi)).count()
      read(0L, 4095L) // caches the full-store entry (weight ≤ 24… plus)
      assert(ZOrder.scanPlanCacheWeight <= 40,
        s"aggregate weight ${ZOrder.scanPlanCacheWeight} exceeds the bound")
      // 33+ distinct keys: weight stays bounded regardless of entry count
      (0 until 34).foreach(i => read(i * 10L, i * 10L + 5L))
      assert(ZOrder.scanPlanCacheWeight <= 40,
        s"aggregate weight ${ZOrder.scanPlanCacheWeight} exceeds the " +
          "bound after 34 distinct keys — eviction must weigh file counts")
      // huge-store fall-through: an entry that ALONE exceeds the bound is
      // never cached — identical repeat reads keep planning uncached
      ZOrder.scanPlanCacheMaxWeight = 10
      val m0 = misses
      assert(read(1L, 4000L) == 4000)
      val m1 = misses
      assert(m1 > m0)
      assert(read(1L, 4000L) == 4000)
      assert(misses > m1, // the identical repeat read must MISS again
        "an over-bound store's plan must fall through, not pin the cache")
    } finally ZOrder.scanPlanCacheMaxWeight = prev
  }

  test("graft-z table pushdown consults bloom sidecars: a point equality on an unclustered column plans only might-contain files") {
    val dir = Files.createTempDirectory("graft-ztbloom").toString
    val df = spark.range(2048).select(col("id"),
      ((col("id") * lit(2654435761L)) % lit(100003L)).as("uk"),
      (col("id") % 50).as("k2"))
    ZOrder.writeZOrdered(df, dir, Seq("k2", "id"), 8)
    val total = ZOrder.listDataFiles(spark, dir).size
    val present = (99L * 2654435761L) % 100003L
    def eq(v: Long) = spark.read.format("graft-z").load(dir)
      .filter(col("uk") === lit(v))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1") // parts ≡ files
    try {
      // planted positive: with NO sidecars the unclustered equality
      // plans every file (min/max ranges overlap everywhere)
      assert(eq(present).rdd.getNumPartitions == total,
        "the planted positive is vacuous — pruning happened without blooms")
      ZOrder.buildBloomIndex(spark, dir, "uk")
      val t = eq(present)
      assert(t.rdd.getNumPartitions <= 3,
        s"bloom pushdown defeated: planned ${t.rdd.getNumPartitions} of " +
          s"$total files")
      assert(t.count() == df.filter(col("uk") === present).count(),
        "bloom-pruned table read lost rows")
      // absent probe: at most the fpp tail survives, zero rows return
      val a = eq(2L) // 2 is outside uk's hash image for id < 2048
      assert(a.count() == 0)
      assert(a.rdd.getNumPartitions <= 2,
        s"absent probe planned ${a.rdd.getNumPartitions} files")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("streaming read THROUGH the catalog table name: incremental tailing, schema = the table's, epoch rewrite refuses with the full-refresh cause") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft-ztblstr").toString
    spark.conf.set("spark.sql.catalog.graftzstr", "graft.sources.ZCatalog")
    spark.conf.set("spark.sql.catalog.graftzstr.root", root)
    val out = Files.createTempDirectory("graft-ztblstrout").toString
    try {
      spark.sql("CREATE NAMESPACE graftzstr.ns")
      spark.sql("""CREATE TABLE graftzstr.ns.t (k BIGINT, s STRING)
        PARTITIONED BY (k)""")
      spark.sql(
        "INSERT INTO graftzstr.ns.t SELECT id, concat('a', id) FROM range(100)")
      def run(): Unit = {
        val q = spark.readStream.table("graftzstr.ns.t")
          .writeStream.format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run()
      val got = spark.read.parquet(s"$out/data")
      // the TABLE's schema, not the zcdf wire's (no commit coordinates)
      assert(got.schema.fieldNames.toSeq == Seq("k", "s"),
        got.schema.treeString)
      assert(got.count() == 100)
      // a later INSERT tails INCREMENTALLY from the same checkpoint
      spark.sql("INSERT INTO graftzstr.ns.t " +
        "SELECT id, concat('a', id) FROM range(100, 150)")
      run()
      assert(spark.read.parquet(s"$out/data").count() == 150,
        "the resumed stream must deliver exactly the new commit")
      // an epoch rewrite (INSERT OVERWRITE) breaks the delta contract:
      // the resumed stream refuses with the full-refresh message in its
      // cause chain (readers of the failure must search the causes)
      spark.sql("INSERT OVERWRITE graftzstr.ns.t " +
        "SELECT id, 'z' FROM range(10)")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        run()
      }
      val causes = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(causes.contains("full-refresh"), causes)
    } finally {
      spark.conf.unset("spark.sql.catalog.graftzstr")
      spark.conf.unset("spark.sql.catalog.graftzstr.root")
    }
  }

  test("graft-z CREATE-on-write: the full store lifecycle through the table surface alone (no programmatic API)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-zcreate").toString + "/store"
    val base = spark.range(2048).select(col("id").as("k1"),
      (col("id") % 32).as("k2"), concat(lit("c"), col("id")).as("s"))
    // a read of a nonexistent store still refuses loudly
    val e0 = intercept[IllegalArgumentException] {
      spark.read.format("graft-z").load(dir)
    }
    assert(e0.getMessage.contains("zcols"), e0.getMessage)
    // ...and so does a write that forgot the clustering keys
    val e1 = intercept[Exception] {
      base.write.format("graft-z").mode("append").save(dir)
    }
    assert(e1.getMessage.contains("zcols"), e1.getMessage)
    // CREATE via mode("append") on a fresh dir (the bootstrap append),
    // exactly-once under an immediate at-least-once replay of the
    // same tagged batch
    def create(): Unit = base.write.format("graft-z")
      .option("zcols", "k1,k2").option("numFiles", "4")
      .option("tag", "create-b0").mode("append").save(dir)
    create()
    create()
    val t = spark.read.format("graft-z").load(dir)
    assert(t.count() == 2048, "create-on-write replay double-landed")
    // the created store is a full citizen: pruned band read + append
    assert(t.filter(col("k1").between(100L, 199L)).count() == 100)
    spark.range(2048, 2100).select(col("id").as("k1"),
        (col("id") % 32).as("k2"), concat(lit("c"), col("id")).as("s"))
      .write.format("graft-z").option("zcols", "k1,k2")
      .option("numFiles", "1").mode("append").save(dir)
    assert(spark.read.format("graft-z").load(dir).count() == 2100)
    // CREATE via mode("overwrite") on another fresh dir
    val dir2 = Files.createTempDirectory("graft-zcreate2").toString + "/s2"
    base.write.format("graft-z").option("zcols", "k1,k2")
      .option("numFiles", "2").mode("overwrite").save(dir2)
    assert(spark.read.format("graft-z").load(dir2)
      .select(col("s")).as[String].collect().length == 2048)
  }

  test("graft-z table WRITE surface: tagged API appends are exactly-once, overwrite rebuilds, zcols required, travel options read the past") {
    val dir = Files.createTempDirectory("graft-ztable-w").toString
    val base = spark.range(1000).select(col("id").as("k1"),
      (col("id") % 100).as("k2"))
    ZOrder.writeZOrdered(base, dir, Seq("k1", "k2"), 4) // (0, 0)
    // append through the public table surface, tag-deduped
    def apiAppend(): Unit = spark.range(1000, 1100)
      .select(col("id").as("k1"), (col("id") % 100).as("k2"))
      .write.format("graft-z").option("zcols", "k1,k2")
      .option("numFiles", "1").option("tag", "w1")
      .mode("append").save(dir)
    apiAppend() // (0, 1)
    apiAppend() // replay: the tag rides the same OCC commit — no-op
    val t = spark.read.format("graft-z").load(dir)
    assert(t.count() == 1100)
    assert(t.select(col("k1")).distinct().count() == 1100,
      "the replayed API append double-landed")
    // time travel through the table surface: the pre-append coordinate
    val past = spark.read.format("graft-z")
      .option("epoch", "0").option("version", "0").load(dir)
    assert(past.count() == 1000)
    // travel + pushed filter prune against the PAST snapshot's manifest
    // (bin size pinned to one byte so partitions ≡ files; frames built
    // fresh under the pinned conf — Dataset.rdd memoizes)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      def pastF() = spark.read.format("graft-z")
        .option("epoch", "0").option("version", "0").load(dir)
      assert(pastF().filter(col("k1").between(0L, 10L))
        .rdd.getNumPartitions < pastF().rdd.getNumPartitions)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    // half-specified travel refuses; a bogus coordinate refuses loudly
    intercept[IllegalArgumentException] {
      spark.read.format("graft-z").option("epoch", "0").load(dir)
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft-z")
        .option("epoch", "7").option("version", "0").load(dir).count()
    }
    // timestampAsOf: the commit instant is the version's _SUCCESS mtime —
    // back-date v0's and a cutoff between the two commits resolves it
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    lfs.setTimes(new Path(dir, "_zmanifest/e0/v0/_SUCCESS"),
      now - 600000L, -1)
    val asOld = spark.read.format("graft-z")
      .option("timestampAsOf", (now - 300000L).toString).load(dir)
    assert(asOld.count() == 1000,
      "timestampAsOf did not resolve the latest commit at-or-before")
    // a timestamp predating the store refuses; mixing both forms refuses
    val e5 = intercept[IllegalArgumentException] {
      spark.read.format("graft-z")
        .option("timestampAsOf", (now - 86400000L).toString).load(dir)
    }
    assert(e5.getMessage.contains("at or before"), e5.getMessage)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-z").option("epoch", "0")
        .option("version", "0")
        .option("timestampAsOf", now.toString).load(dir)
    }
    // overwrite through the table surface = the versioned-epoch REBUILD
    spark.range(50).select(col("id").as("k1"), (col("id") % 5).as("k2"))
      .write.format("graft-z").option("zcols", "k1,k2")
      .option("numFiles", "1").mode("overwrite").save(dir)
    assert(spark.read.format("graft-z").load(dir).count() == 50)
    // ...and the pre-rebuild state is still a travel coordinate
    assert(spark.read.format("graft-z")
      .option("epoch", "0").option("version", "1").load(dir)
      .count() == 1100)
    // a write WITHOUT the zcols option clusters by the store's RECORDED
    // keys (r12: the catalog's INSERT INTO path — no per-write options
    // exist there)
    spark.range(1000, 1003).select(col("id").as("k1"),
        (col("id") % 5).as("k2"))
      .write.format("graft-z").mode("append").save(dir)
    assert(spark.read.format("graft-z").load(dir).count() == 53)
    // ...and only a store PREDATING recorded keys still refuses it
    val legacy = new java.io.File(dir, "_zschema/clustering")
    assert(legacy.delete(), "surgery failed: no recorded clustering file")
    val e = intercept[Exception] {
      spark.range(3).select(col("id").as("k1"), (col("id") % 5).as("k2"))
        .write.format("graft-z").mode("append").save(dir)
    }
    assert(e.getMessage.contains("zcols"), e.getMessage)
  }

  test("restore re-points a past snapshot by reference: zero copy, no resurrection, audit intact, lost files refuse") {
    val dir = Files.createTempDirectory("graft-zrestore-spec").toString
    val base = spark.range(2000).select(col("id").as("k1"),
      (col("id") % 100).as("k2"))
    ZOrder.writeZOrdered(base, dir, Seq("k1", "k2"), 8) // (0, 0)
    ZOrder.appendZOrdered(spark.range(2000, 2100).select(col("id").as("k1"),
      (col("id") % 100).as("k2")), dir, Seq("k1", "k2"), 1,
      tag = Some("b1")) // (0, 1)
    val origFiles = ZOrder.listDataFiles(spark, dir).toSet
    ZOrder.deleteZRange(spark, dir, Seq(("k1", 0L, 499L)),
      Seq("k1", "k2")) // the errant delete → e1
    assert(ZOrder.readSnapshot(spark, dir).count() == 1600)
    ZOrder.restoreTo(spark, dir, 0, 1)
    val got = ZOrder.readSnapshot(spark, dir)
    assert(got.count() == 2100, "restore did not reproduce the coordinate")
    assert(got.select(col("k1")).distinct().count() == 2100)
    // ZERO COPY: the restored epoch re-points exactly the original files
    assert(ZOrder.listDataFiles(spark, dir).toSet == origFiles,
      "restore copied or dropped data files instead of re-pointing")
    // current tags carried: a replayed tagged batch cannot double itself
    ZOrder.appendZOrdered(spark.range(2000, 2100).select(col("id").as("k1"),
      (col("id") % 100).as("k2")), dir, Seq("k1", "k2"), 1,
      tag = Some("b1"))
    assert(ZOrder.readSnapshot(spark, dir).count() == 2100,
      "a replayed tagged append re-landed after the restore")
    // the restored-over delete stays time-travel auditable, and the
    // history names the restore
    assert(ZOrder.readSnapshotAt(spark, dir, 1, 0).count() == 1600)
    assert(ZOrder.describeHistory(spark, dir)
      .filter(col("op") === "restore").count() == 1)
    // a physically lost referenced file refuses the restore LOUDLY
    ZOrder.reclusterZOrdered(spark, dir, Seq("k1", "k2"), 4) // fresh files
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(dir, origFiles.head), false))
    val e = intercept[IllegalArgumentException] {
      ZOrder.restoreTo(spark, dir, 0, 1)
    }
    assert(e.getMessage.contains("no longer exist"), e.getMessage)
    // and a vacuumed coordinate refuses at resolution
    ZOrder.vacuumOrphans(spark, dir)
    val e2 = intercept[IllegalArgumentException] {
      ZOrder.restoreTo(spark, dir, 0, 1)
    }
    assert(e2.getMessage.contains("no committed epoch"), e2.getMessage)
  }

  test("copy-on-write update: band-bounded rewrite, SET sees pre-update rows, null predicates never match, type guard, tag replay") {
    val dir = Files.createTempDirectory("graft-zupd-spec").toString
    val base = spark.range(2000).select(col("id").as("k1"),
        (col("id") % 100).as("k2"))
      .union(spark.range(7).select(lit(null).cast("long").as("k1"),
        col("id").as("k2")))
    ZOrder.writeZOrdered(base, dir, Seq("k1", "k2"), 8)
    val pre = ZOrder.listDataFiles(spark, dir).toSet
    // SET expressions see the PRE-update row: new k2 = old k2 + k1
    val n = ZOrder.updateZRange(spark, dir, Seq(("k1", 500L, 799L)),
      Map("k2" -> "k2 + k1"), Seq("k1", "k2"), tag = Some("u1"))
    assert(n == 300, s"updated $n rows")
    val post = ZOrder.listDataFiles(spark, dir).toSet
    assert(post.intersect(pre).nonEmpty,
      "no file carried by reference — the update rewrote the whole table")
    assert(post != pre, "update rewrote nothing")
    val got = ZOrder.readSnapshot(spark, dir)
    assert(got.count() == 2007)
    assert(got.filter(col("k1").between(500, 799) &&
      col("k2") =!= col("k1") % 100 + col("k1")).count() == 0,
      "SET did not evaluate against the pre-update row")
    assert(got.filter(!col("k1").between(500, 799) &&
      col("k1").isNotNull && col("k2") =!= col("k1") % 100).count() == 0,
      "rows outside the band were touched")
    // a NULL in the predicate column never matches: those rows keep k2
    assert(got.filter(col("k1").isNull).agg(sum(col("k2"))).head()
      .getLong(0) == 21, "null-predicate rows were updated")
    // tagged replay no-ops (the CDC exactly-once token)
    assert(ZOrder.updateZRange(spark, dir, Seq(("k1", 500L, 799L)),
      Map("k2" -> "k2 + k1"), Seq("k1", "k2"), tag = Some("u1")) == 0L)
    // UPDATE cannot add columns...
    val e = intercept[IllegalArgumentException] {
      ZOrder.updateZRange(spark, dir, Seq(("k1", 0L, 9L)),
        Map("nope" -> "1"), Seq("k1", "k2"))
    }
    assert(e.getMessage.contains("cannot add columns"), e.getMessage)
    // ...nor change a column's type
    val e2 = intercept[IllegalArgumentException] {
      ZOrder.updateZRange(spark, dir, Seq(("k1", 0L, 9L)),
        Map("k2" -> "cast(k2 as double)"), Seq("k1", "k2"))
    }
    assert(e2.getMessage.contains("cannot change a column's type"),
      e2.getMessage)
    // the pre-update state stays time-travel auditable
    assert(ZOrder.readSnapshotAt(spark, dir, 0, 0)
      .filter(col("k1").between(500, 799) &&
        col("k2") =!= col("k1") % 100).count() == 0)
  }

  test("CHECK constraints: wholesale refusal on every write path, UNKNOWN passes, add validates, drop lifts, restore guards") {
    val dir = Files.createTempDirectory("graft-zcons-spec").toString
    val base = spark.range(1000).select(col("id").as("k1"),
      (col("id") % 100).as("k2"))
    ZOrder.writeZOrdered(base, dir, Seq("k1", "k2"), 4) // (0, 0)
    // ADD validates existing rows: a constraint the data violates refuses
    val e0 = intercept[IllegalArgumentException] {
      ZOrder.addCheckConstraint(spark, dir, "k2_small", "k2 < 50")
    }
    assert(e0.getMessage.contains("existing"), e0.getMessage)
    // ...and an unevaluatable expression refuses with its own message
    val e1 = intercept[IllegalArgumentException] {
      ZOrder.addCheckConstraint(spark, dir, "bad", "nope > 0")
    }
    assert(e1.getMessage.contains("cannot be evaluated"), e1.getMessage)
    ZOrder.addCheckConstraint(spark, dir, "k2_range", "k2 BETWEEN 0 AND 99")
    // a violating batch refuses WHOLESALE; the store is untouched
    val e2 = intercept[IllegalArgumentException] {
      ZOrder.appendZOrdered(spark.range(1000, 1100)
        .select(col("id").as("k1"), (col("id") % 100 + 100).as("k2")),
        dir, Seq("k1", "k2"), 1)
    }
    assert(e2.getMessage.contains("k2_range") &&
      e2.getMessage.contains("100 row"), e2.getMessage)
    assert(ZOrder.readSnapshot(spark, dir).count() == 1000)
    // SQL CHECK semantics: UNKNOWN (null) passes — null-k2 rows admit
    ZOrder.appendZOrdered(spark.range(3)
      .select((col("id") + 5000).as("k1"), lit(null).cast("long").as("k2")),
      dir, Seq("k1", "k2"), 1) // (0, 1)
    assert(ZOrder.readSnapshot(spark, dir).count() == 1003)
    // a batch MISSING the constrained column cannot be validated: refuse
    val e3 = intercept[IllegalArgumentException] {
      ZOrder.appendZOrdered(spark.range(2)
        .select((col("id") + 6000).as("k1")), dir, Seq("k1"), 1)
    }
    assert(e3.getMessage.contains("cannot be validated"), e3.getMessage)
    // UPDATE whose SET would violate refuses before committing
    intercept[IllegalArgumentException] {
      ZOrder.updateZRange(spark, dir, Seq(("k1", 0L, 9L)),
        Map("k2" -> "k2 + 1000"), Seq("k1", "k2"))
    }
    assert(ZOrder.readSnapshot(spark, dir)
      .filter(col("k2") > 99).count() == 0)
    // MERGE with a violating source refuses too
    intercept[IllegalArgumentException] {
      ZOrder.mergeByKey(spark, dir,
        spark.range(1).select(col("id").as("k1"), lit(777L).as("k2")),
        "k1", Seq("k1", "k2"))
    }
    // RESTORE cannot resurrect rows a newer constraint forbids
    ZOrder.deleteZRange(spark, dir, Seq(("k2", 90L, 99L)), Seq("k1", "k2"))
    assert(ZOrder.readSnapshot(spark, dir).count() == 903)
    ZOrder.addCheckConstraint(spark, dir, "k2_lt90", "k2 < 90")
    val e4 = intercept[IllegalArgumentException] {
      ZOrder.restoreTo(spark, dir, 0, 1)
    }
    assert(e4.getMessage.contains("resurrect") &&
      e4.getMessage.contains("k2_lt90"), e4.getMessage)
    assert(ZOrder.dropCheckConstraint(spark, dir, "k2_lt90"))
    ZOrder.restoreTo(spark, dir, 0, 1)
    assert(ZOrder.readSnapshot(spark, dir).count() == 1003)
    // DROP lifts the gate: the formerly violating batch lands
    assert(ZOrder.dropCheckConstraint(spark, dir, "k2_range"))
    ZOrder.appendZOrdered(spark.range(1000, 1100)
      .select(col("id").as("k1"), (col("id") % 100 + 100).as("k2")),
      dir, Seq("k1", "k2"), 1)
    assert(ZOrder.readSnapshot(spark, dir).count() == 1103)
  }

  /** Recursive file copy — the spec's crashed-rewrite surgery below
    * clones a committed manifest version dir byte-for-byte (checksum
    * sidecars included, so the local FS's crc validation keeps passing). */
  private def copyDir(src: java.io.File, dst: java.io.File): Unit = {
    dst.mkdirs()
    src.listFiles().foreach { f =>
      val d = new java.io.File(dst, f.getName)
      if (f.isDirectory) copyDir(f, d)
      else java.nio.file.Files.copy(f.toPath, d.toPath)
    }
  }

  /** Build a store, land a tagged append that RETURNS (pre-swap), then
    * fake the r10-advisor crash: a rewrite resolved its base BEFORE the
    * append, committed its new epoch's v0, and died before
    * rollForwardLateAppends — the append's version now lives only in the
    * superseded epoch. Returns (storeDir, the lost batch). */
  private def lostAppendStore(): (String, org.apache.spark.sql.DataFrame) = {
    val dir = Files.createTempDirectory("graft-zrec").toString
    val base = spark.range(1000).select(col("id").as("k1"),
      (col("id") % 50).as("k2"))
    ZOrder.writeZOrdered(base, dir, Seq("k1", "k2"), 4) // e0/v0
    val late = spark.range(1000, 1100).select(col("id").as("k1"),
      (col("id") % 50).as("k2"))
    ZOrder.appendZOrdered(late, dir, Seq("k1", "k2"), 1,
      tag = Some("late")) // e0/v1, returns success
    assert(ZOrder.readSnapshot(spark, dir).count() == 1100)
    val m = new java.io.File(dir, "_zmanifest")
    val e1 = new java.io.File(m, "e1")
    e1.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(e1.toString, "_rebase"), "0:0".getBytes)
    copyDir(new java.io.File(m, "e0/v0"), new java.io.File(e1, "v0"))
    // the silent-loss state the sweep exists for
    assert(ZOrder.readSnapshot(spark, dir).count() == 1000,
      "surgery failed: the new epoch should hide the late append")
    (dir, late)
  }

  test("change feed: an offset straddling an epoch swap never delivers a rolled-forward copy twice") {
    // the r14 advisor's race: a consumer polls base version v1 BEFORE a
    // concurrent rewrite's swap lands (offset = (e0, 1) — ABOVE the
    // rewrite's rebase watermark (e0, 0)); the rewrite never saw v1, so
    // recovery rolls it into e1 as a fresh version — which the next
    // poll would deliver AGAIN as an insert without the rebaseTag skip
    val (dir, _) = lostAppendStore() // e1 rebase=(0,0); v1 lives in e0
    // make the swap a feed-crossable transition (a DML that recorded an
    // empty change set — existence is the walk's contract)
    new java.io.File(dir, "_zchanges/e1").mkdirs()
    graft.sources.Lease.withLeaseHandle(spark, dir, "spec") { h =>
      ZLog.recoverLostRollforwards(spark, dir, h)
    }
    assert(ZOrder.readSnapshot(spark, dir).count() == 1100,
      "recovery should have rolled the late append into e1")
    // the straddling consumer already saw v1 from the base epoch: the
    // walk from (e0, 1) must emit NO insert for its rolled copy
    val dup = ZOrder.readChangeFeed(spark, dir, 0L, 1L)
    assert(dup.count() == 0,
      s"rolled-forward copy re-delivered to a straddling offset: " +
        s"${dup.count()} rows")
    // planted positive: a consumer at (e0, 0) NEVER saw v1 — the rolled
    // copy is its only delivery path and MUST emit (the skip is scoped
    // to provably-delivered base versions, not all rolled versions)
    val fresh = ZOrder.readChangeFeed(spark, dir, 0L, 0L)
    assert(fresh.filter(col("_change_type") === "insert").count() == 100,
      "rolled copy must still deliver to a consumer that never saw it")
    assert(fresh.filter(col("_commit_epoch") === 1L).count() == 100)
  }

  test("a rewrite crash between epoch commit and rollforward: the next lease-held op recovers the late append") {
    val (dir, _) = lostAppendStore()
    // ANY lease-held maintenance op sweeps first — the append reappears
    ZOrder.compactManifest(spark, dir)
    val got = ZOrder.readSnapshot(spark, dir)
    assert(got.count() == 1100, "late append not recovered")
    assert(got.select(col("k1")).distinct().count() == 1100)
    // the recovery is settled by manifest provenance, not the ticket:
    // further ops must not double-roll it
    ZOrder.vacuumOrphans(spark, dir, minAgeMs = 3600 * 1000L)
    ZOrder.reclusterZOrdered(spark, dir, Seq("k1", "k2"), 4)
    assert(ZOrder.readSnapshot(spark, dir).count() == 1100,
      "recovery double-landed under later maintenance ops")
    // and the user tag still dedups an at-least-once replay
    ZOrder.appendZOrdered(spark.range(1000, 1100)
      .select(col("id").as("k1"), (col("id") % 50).as("k2")),
      dir, Seq("k1", "k2"), 1, tag = Some("late"))
    assert(ZOrder.readSnapshot(spark, dir).count() == 1100)
  }

  test("recovery honors rebase-ticket ownership: dead rewrite taken over, live appender left alone, empty tickets age") {
    // (a) ticket claimed by the crashed REWRITE itself (died between the
    // ticket claim and its rollforward commit): the sweep holds the same
    // lease, so the claimant is provably dead — take over and roll
    locally {
      val (dir, _) = lostAppendStore()
      java.nio.file.Files.write(java.nio.file.Paths.get(
        dir, "_zmanifest/e0/v1.rolled"), "rewrite".getBytes)
      ZOrder.vacuumOrphans(spark, dir, minAgeMs = 3600 * 1000L)
      assert(ZOrder.readSnapshot(spark, dir).count() == 1100,
        "dead rewrite's claimed rollforward not recovered")
    }
    // (b) ticket claimed by an APPENDER: it owns its own re-commit (a
    // live one is mid-flight; a dead one never returned success, so its
    // caller retries) — the sweep must NOT roll, or it could double-land
    locally {
      val (dir, late) = lostAppendStore()
      java.nio.file.Files.write(java.nio.file.Paths.get(
        dir, "_zmanifest/e0/v1.rolled"), "appender".getBytes)
      ZOrder.compactManifest(spark, dir)
      assert(ZOrder.readSnapshot(spark, dir).count() == 1000,
        "recovery rolled a version an appender owns")
      // the at-least-once caller's retry lands the batch exactly once
      ZOrder.appendZOrdered(late, dir, Seq("k1", "k2"), 1,
        tag = Some("late"))
      val got = ZOrder.readSnapshot(spark, dir)
      assert(got.count() == 1100)
      assert(got.select(col("k1")).distinct().count() == 1100)
    }
    // (c) EMPTY ticket (torn write / pre-r11): trusted dead only past the
    // grace window — fresh stays untouched, back-dated recovers
    locally {
      val (dir, _) = lostAppendStore()
      val ticket = new java.io.File(dir, "_zmanifest/e0/v1.rolled")
      java.nio.file.Files.write(ticket.toPath, Array.empty[Byte])
      ZOrder.compactManifest(spark, dir)
      assert(ZOrder.readSnapshot(spark, dir).count() == 1000,
        "a fresh unattributed ticket must wait out the grace window")
      assert(ticket.setLastModified(
        System.currentTimeMillis() - 11 * 60 * 1000L))
      ZOrder.vacuumOrphans(spark, dir, minAgeMs = 24 * 3600 * 1000L)
      assert(ZOrder.readSnapshot(spark, dir).count() == 1100,
        "an aged unattributed ticket was not treated as a dead claimant")
    }
  }

  test("a settled pre-provenance rollforward (empty aged ticket, no tag) is NOT re-rolled: listed files are settled evidence") {
    val (dir, _) = lostAppendStore()
    // simulate a PRE-r11 rollforward: e0/v1's manifest rows re-committed
    // into e1 by reference with NO __rebase provenance tag (the old
    // format), plus the empty ticket that era left behind — then age the
    // ticket past the recovery grace window. The version is SETTLED (its
    // files are listed in the current manifest); before the r11-advisor
    // fix the aged empty ticket re-rolled it anyway, duplicating every
    // one of its manifest listings.
    copyDir(new java.io.File(dir, "_zmanifest/e0/v1"),
      new java.io.File(dir, "_zmanifest/e1/v1"))
    val ticket = new java.io.File(dir, "_zmanifest/e0/v1.rolled")
    java.nio.file.Files.write(ticket.toPath, Array.empty[Byte])
    assert(ticket.setLastModified(
      System.currentTimeMillis() - 11 * 60 * 1000L))
    assert(ZOrder.readSnapshot(spark, dir).count() == 1100)
    ZOrder.vacuumOrphans(spark, dir, minAgeMs = 3600 * 1000L)
    assert(ZOrder.describeHistory(spark, dir)
        .filter(col("epoch") === 1 && col("op") === "rollforward")
        .count() == 0,
      "an already-listed version was re-rolled after its empty ticket aged")
    assert(ZOrder.readSnapshot(spark, dir).count() == 1100)
    assert(ZOrder.countZRange(spark, dir, Seq.empty) == 1100,
      "metadata count diverged — duplicate listings landed")
  }

  test("duplicate manifest listings cannot double the DSv2 table read or the metadata count (defense in depth)") {
    val dir = Files.createTempDirectory("graft-zdup").toString
    val df = spark.range(100).select(col("id").as("k1"),
      (col("id") % 10).as("k2"))
    ZOrder.writeZOrdered(df, dir, Seq("k1", "k2"), 2)
    // surgery: a second manifest version re-listing EVERY file — the
    // state a pre-r12 double-rollforward left behind. Readers must treat
    // the manifest as a SET of files: the size-row join must not fan out
    // (two partitions would return the file's rows twice through the
    // graft-z table) and the count rows must not double-charge.
    val man = spark.read.parquet(s"$dir/_zmanifest/e0/v0")
    man.withColumn("ver", lit(1L)).coalesce(1).write
      .parquet(s"$dir/_zmanifest/e0/v1")
    // collect(), not count(): an unfiltered count is metadata-answered
    // since the r12 aggregate pushdown and would not exercise the scan
    assert(spark.read.format("graft-z").load(dir).collect().length == 100,
      "duplicate size rows fanned the scan's file list out")
    assert(spark.read.format("graft-z").load(dir)
      .filter(col("k1") < 50).count() == 50)
    assert(ZOrder.countZRange(spark, dir, Seq.empty) == 100,
      "duplicate count rows double-charged the metadata count")
    assert(ZOrder.readZRange(spark, dir, Seq(("k1", 0L, 49L))).count() == 50)
  }

  test("bloom sidecars key by the store-root-relative path even when the root itself contains /d-") {
    val outer = Files.createTempDirectory("graft-zbloomroot").toString
    val dir = s"$outer/d-lake/store" // the r10 advisor's adversarial root
    val df = spark.range(2048).select(col("id"),
      ((col("id") * lit(2654435761L)) % lit(100003L)).as("uk"),
      (col("id") % 50).as("k2"))
    ZOrder.writeZOrdered(df, dir, Seq("k2", "id"), 8)
    ZOrder.buildBloomIndex(spark, dir, "uk")
    val files = ZOrder.listDataFiles(spark, dir)
    files.foreach { f =>
      assert(new java.io.File(dir, s"_zbloom/uk/$f.bloom").exists(),
        s"sidecar missing for $f — pattern-keying broke under a /d- root")
    }
    val present = (99L * 2654435761L) % 100003L
    val got = ZOrder.readZPoint(spark, dir, "uk", present)
    assert(got.count() == df.filter(col("uk") === present).count())
    assert(got.inputFiles.length <= 3,
      s"bloom pruning defeated: opened ${got.inputFiles.length} of " +
        s"${files.size} files")
  }

  test("ivmBatch folds per version and resolves the previous view from what EXISTS (gaps, multi-version batches)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-zivmgap").toString
    def mk(rows: (String, Long, Long)*) =
      rows.toSeq.toDF("lang", "n_chars", "_ver")
    // batch 0 spans versions 0 and 2 — version 1's claimant crashed, so
    // the number was skipped and view/v1 will never exist (the r10
    // advisor finding: view/v(ver-1) is not a resolvable path)
    ZQueries.ivmBatch(spark, root,
      mk(("en", 10L, 0L), ("fr", 5L, 0L), ("en", 7L, 2L)), 0L)
    assert(new java.io.File(root, "view/v0").exists())
    assert(!new java.io.File(root, "view/v1").exists())
    assert(new java.io.File(root, "view/v2").exists())
    val v2 = spark.read.parquet(s"$root/view/v2")
      .as[(String, Long, Long)].collect()
      .map { case (l, n, _) => l -> n }.toMap
    assert(v2 == Map("en" -> 2L, "fr" -> 1L), v2.toString)
    // batch 1 carries version 5 only: the previous state resolves to the
    // HIGHEST existing view below it (v2), not the nonexistent v4
    ZQueries.ivmBatch(spark, root, mk(("fr", 3L, 5L)), 1L)
    val v5 = spark.read.parquet(s"$root/view/v5")
      .orderBy(col("lang")).as[(String, Long, Long)].collect().toSeq
    assert(v5 == Seq(("en", 2L, 17L), ("fr", 2L, 8L)), v5.toString)
    // the out table carries one state per covered coordinate
    val outVers = spark.read.parquet(s"$root/out")
      .select(col("ver")).distinct().as[Long].collect().sorted.toSeq
    assert(outVers == Seq(0L, 2L, 5L))
    // replayed batch: the marker short-circuits it
    ZQueries.ivmBatch(spark, root, mk(("en", 999L, 0L)), 0L)
    assert(spark.read.parquet(s"$root/view/v0")
      .filter(col("lang") === "en").head().getAs[Long]("sum_chars") == 10L)
  }

  test("row-level change feed crosses DML epochs: delete/update/merge/replaceWhere emit _change_type rows; optimize still refuses; windows and bases validate") {
    import graft.sources.ZOrder.{ChangeTypeCol, CommitEpochCol, CommitVersionCol}
    val dir = Files.createTempDirectory("graft-zrowcdf").toString
    ZOrder.setChangeFeedEnabled(spark, dir, on = true) // the Delta opt-in
    // build (e0 v0) + append (e0 v1)
    ZOrder.writeZOrdered(spark.range(100)
      .select(col("id").as("k"), (col("id") * 2).as("v")), dir, Seq("k"), 4)
    ZOrder.appendZOrdered(spark.range(100, 150)
      .select(col("id").as("k"), (col("id") * 2).as("v")), dir, Seq("k"), 1)
    // e1: band DELETE of k in [10, 19]
    assert(ZOrder.deleteZRange(spark, dir, Seq(("k", 10L, 19L)),
      Seq("k")) == 10L)
    // e2: band UPDATE of k in [30, 34]
    assert(ZOrder.updateZRange(spark, dir, Seq(("k", 30L, 34L)),
      Map("v" -> "v + 1"), Seq("k")) == 5L)
    // e3: merge — replace k in [40, 41] (v = -k), insert k in [500, 501]
    val src = spark.range(40, 42)
      .select(col("id").as("k"), (-col("id")).as("v"))
      .unionByName(spark.range(500, 502)
        .select(col("id").as("k"), lit(0L).as("v")))
    ZOrder.mergeByKey(spark, dir, src, "k", Seq("k"), 1)
    // e4: replaceWhere band [50, 54] with two fresh rows
    ZOrder.overwriteZRange(spark.createDataFrame(Seq((50L, 1L), (54L, 2L)))
      .toDF("k", "v"), dir, Seq(("k", 50L, 54L)), Seq("k"))

    val feed = ZOrder.readChangeFeed(spark, dir, 0, 0)
      .select(col("k"), col("v"), col(ChangeTypeCol).as("ct"),
        col(CommitEpochCol).as("ce"), col(CommitVersionCol).as("cv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    val want =
      (100L until 150L).map(k => (k, k * 2, "insert", 0L, 1L)).toSet ++
      (10L until 20L).map(k => (k, k * 2, "delete", 1L, 0L)) ++
      (30L until 35L).map(k => (k, k * 2, "update_preimage", 2L, 0L)) ++
      (30L until 35L).map(k => (k, k * 2 + 1, "update_postimage", 2L, 0L)) ++
      Seq((40L, 80L, "update_preimage", 3L, 0L),
        (41L, 82L, "update_preimage", 3L, 0L),
        (40L, -40L, "update_postimage", 3L, 0L),
        (41L, -41L, "update_postimage", 3L, 0L),
        (500L, 0L, "insert", 3L, 0L), (501L, 0L, "insert", 3L, 0L)) ++
      (50L until 55L).map(k => (k, k * 2, "delete", 4L, 0L)) ++
      Seq((50L, 1L, "insert", 4L, 0L), (54L, 2L, "insert", 4L, 0L))
    assert(feed == want,
      s"missing=${(want -- feed).take(5)} extra=${(feed -- want).take(5)}")
    // the feed FOLDS to the current snapshot: base(0,0) + inserts + post
    // - pre - delete == readSnapshot (the IVM soundness identity)
    val folded = ZOrder.readSnapshotAt(spark, dir, 0, 0)
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ++
      feed.toSeq.collect {
        case (k, v, "insert", _, _) => (k, v)
        case (k, v, "update_postimage", _, _) => (k, v)
      }
    val removed = feed.toSeq.collect {
      case (k, v, "delete", _, _) => (k, v)
      case (k, v, "update_preimage", _, _) => (k, v)
    }
    val foldedSet = removed.foldLeft(folded.groupBy(identity)
      .view.mapValues(_.size).toMap) { (m, kv) =>
      m.updated(kv, m.getOrElse(kv, 0) - 1)
    }.filter(_._2 > 0).flatMap { case (kv, n) => Seq.fill(n)(kv) }.toSet
    val now = ZOrder.readSnapshot(spark, dir).select(col("k"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(foldedSet == now,
      s"fold drift: missing=${(now -- foldedSet).take(5)} " +
        s"extra=${(foldedSet -- now).take(5)}")
    // WINDOWED feed: until the update's epoch only
    val upTo = ZOrder.readChangeFeed(spark, dir, 0, 0, Some((2L, 0L)))
      .select(col(CommitEpochCol)).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(upTo == Seq(0L, 1L, 2L), upTo.toString)
    // a feed STARTING after the DML chain sees nothing
    assert(ZOrder.readChangeFeed(spark, dir, 4, 0).count() == 0)
    // bogus base / inverted window refuse loudly
    intercept[IllegalArgumentException] {
      ZOrder.readChangeFeed(spark, dir, 9, 0) }
    intercept[IllegalArgumentException] {
      ZOrder.readChangeFeed(spark, dir, 4, 0, Some((1L, 0L))) }
    // a NO-row-delta rewrite (bin-pack optimize) still refuses with the
    // full-refresh contract, naming the op
    ZOrder.compactSmallFiles(spark, dir, Seq("k"), 512L * 1024 * 1024)
    val e = intercept[IllegalArgumentException] {
      ZOrder.readChangeFeed(spark, dir, 0, 0) }
    assert(e.getMessage.contains("optimize") &&
      e.getMessage.contains("full-refresh"), e.getMessage)
    // ... and a feed from the post-optimize epoch works again
    assert(ZOrder.readChangeFeed(spark, dir,
      ZOrder.listVersions(spark, dir).map(_._1).max, 0).count() == 0)
    // recording is OPT-IN (Delta's enableChangeDataFeed): a DEFAULT
    // store's DML writes no record — zero cost — and the feed refuses
    // across it with the enablement hint
    val off = Files.createTempDirectory("graft-zrowcdfoff").toString
    ZOrder.writeZOrdered(spark.range(100)
      .select(col("id").as("k"), (col("id") * 2).as("v")), off, Seq("k"), 2)
    assert(ZOrder.deleteZRange(spark, off, Seq(("k", 0L, 9L)),
      Seq("k")) == 10L)
    assert(!new java.io.File(off, "_zchanges/e1").exists(),
      "a default (feed-off) DML must record nothing")
    val eOff = intercept[IllegalArgumentException] {
      ZOrder.readChangeFeed(spark, off, 0, 0) }
    assert(eOff.getMessage.contains("ENABLED"), eOff.getMessage)
  }

  test("vacuum collects change records of superseded and crashed epochs, never the current one") {
    val dir = Files.createTempDirectory("graft-zrowcdfvac").toString
    ZOrder.setChangeFeedEnabled(spark, dir, on = true)
    ZOrder.writeZOrdered(spark.range(100)
      .select(col("id").as("k"), (col("id") * 2).as("v")), dir, Seq("k"), 2)
    ZOrder.deleteZRange(spark, dir, Seq(("k", 0L, 9L)), Seq("k"))   // e1
    ZOrder.deleteZRange(spark, dir, Seq(("k", 10L, 19L)), Seq("k")) // e2
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // a crashed DML's orphan record: an epoch dir that never committed
    fs.mkdirs(new Path(dir, "_zchanges/e9"))
    assert(new java.io.File(dir, "_zchanges/e1").exists())
    assert(new java.io.File(dir, "_zchanges/e2").exists())
    val removed = ZOrder.vacuumOrphans(spark, dir, 0L)
    assert(removed.contains("_zchanges/e1"), removed.toString)
    assert(removed.contains("_zchanges/e9"), removed.toString)
    assert(!removed.contains("_zchanges/e2"), removed.toString)
    assert(new java.io.File(dir, "_zchanges/e2").exists(),
      "the current epoch's change record must survive vacuum")
    // the feed from the pre-vacuum base now refuses at base validation
    intercept[IllegalArgumentException] {
      ZOrder.readChangeFeed(spark, dir, 0, 0) }
    assert(ZOrder.readSnapshot(spark, dir).count() == 80)
  }

  test("point DML is bloom-bounded: a one-key DELETE on an unclustered indexed key rewrites O(matching files), and without sidecars rewrites the table (the measured COW write-amp contract)") {
    def mkStore(): String = {
      val dir = Files.createTempDirectory("graft-zpointdml").toString
      val df = spark.range(8192).select(col("id"),
        ((col("id") * lit(2654435761L)) % lit(100003L)).as("uk"),
        (col("id") % 100).as("k2"))
      ZOrder.writeZOrdered(df, dir, Seq("k2", "id"), 16)
      dir
    }
    val present = (77L * 2654435761L) % 100003L
    // WITH sidecars: the affected set is might-contain only
    val dir = mkStore()
    ZOrder.buildBloomIndex(spark, dir, "uk")
    val before = ZOrder.listDataFiles(spark, dir).toSet
    assert(before.size == 16)
    val nDel = ZOrder.deleteZRange(spark, dir,
      Seq(("uk", present, present)), Seq("k2", "id"))
    assert(nDel == 1L, s"deleted $nDel")
    val after = ZOrder.listDataFiles(spark, dir).toSet
    val carried = (before intersect after).size
    assert(carried >= before.size - 3,
      s"point delete must carry almost everything: $carried/${before.size}")
    assert(ZOrder.readSnapshot(spark, dir).count() == 8191)
    assert(ZOrder.readZPoint(spark, dir, "uk", present).count() == 0)
    // planted positive — NO sidecars: range stats can't bound an
    // unclustered key, the whole table rewrites (the write-amp floor
    // the bloom plane removes; documented in SURVEY's merge-on-read
    // closure)
    val dir2 = mkStore()
    val before2 = ZOrder.listDataFiles(spark, dir2).toSet
    assert(ZOrder.deleteZRange(spark, dir2,
      Seq(("uk", present, present)), Seq("k2", "id")) == 1L)
    val after2 = ZOrder.listDataFiles(spark, dir2).toSet
    assert((before2 intersect after2).isEmpty,
      "without sidecars every file is possibly-affected — if this " +
        "starts carrying, the planted positive (and the closure's " +
        "rationale) needs re-measuring")
    // UPDATE takes the same bounded path
    val dir3 = mkStore()
    ZOrder.buildBloomIndex(spark, dir3, "uk")
    val before3 = ZOrder.listDataFiles(spark, dir3).toSet
    assert(ZOrder.updateZRange(spark, dir3,
      Seq(("uk", present, present)), Map("k2" -> "k2 + 1000"),
      Seq("k2", "id")) == 1L)
    val carried3 = (before3 intersect
      ZOrder.listDataFiles(spark, dir3).toSet).size
    assert(carried3 >= before3.size - 3, s"$carried3/${before3.size}")
  }

  test("change feed: transitive provenance across two back-to-back swaps still dedupes a straddling offset") {
    // r16 advisor: a rolled-forward copy that is itself rolled forward
    // again across a SECOND concurrent swap carries rebase:e1:v'
    // provenance (its immediate source), so the old single-hop skip
    // (matching only rebase:e0:*) re-delivered it to a straddling
    // consumer. The chain must resolve transitively.
    val (dir, _) = lostAppendStore() // e1 rebase=(0,0); v1 lives in e0
    new java.io.File(dir, "_zchanges/e1").mkdirs()
    graft.sources.Lease.withLeaseHandle(spark, dir, "spec") { h =>
      ZLog.recoverLostRollforwards(spark, dir, h)
    }
    assert(ZOrder.readSnapshot(spark, dir).count() == 1100)
    // SECOND swap: a rewrite of e1 that resolved its base BEFORE the
    // first rolled copy landed (watermark e1:v0), committed its new
    // epoch's v0, and died before its own rollforward — same surgery
    // shape as lostAppendStore, one level up
    val m = new java.io.File(dir, "_zmanifest")
    val e2 = new java.io.File(m, "e2")
    e2.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(e2.toString, "_rebase"), "1:0".getBytes)
    copyDir(new java.io.File(m, "e1/v0"), new java.io.File(e2, "v0"))
    new java.io.File(dir, "_zchanges/e2").mkdirs()
    assert(ZOrder.readSnapshot(spark, dir).count() == 1000,
      "surgery failed: the second swap should hide the rolled copy")
    graft.sources.Lease.withLeaseHandle(spark, dir, "spec") { h =>
      ZLog.recoverLostRollforwards(spark, dir, h)
    }
    assert(ZOrder.readSnapshot(spark, dir).count() == 1100,
      "recovery should have rolled the copy into e2")
    // the straddling consumer at (e0, 1) already saw the append from the
    // base epoch: the walk must skip BOTH generations of its copies
    val dup = ZOrder.readChangeFeed(spark, dir, 0L, 1L)
    assert(dup.count() == 0,
      s"double-rolled copy re-delivered to a straddling offset: " +
        s"${dup.count()} rows")
    // planted positive: a consumer at (e0, 0) never saw the append — the
    // second-generation copy is its only delivery path and MUST emit
    val fresh = ZOrder.readChangeFeed(spark, dir, 0L, 0L)
    assert(fresh.filter(col("_change_type") === "insert").count() == 100,
      "double-rolled copy must still deliver to a consumer that never saw it")
    assert(fresh.filter(col("_commit_epoch") === 2L).count() == 100)
  }

  test("row-id high-water mark survives torn writes: max-parseable rule, no rewind, loud refusal when nothing parses") {
    val dir = Files.createTempDirectory("graft-zridhw").toString
    val base = spark.range(100).select(col("id").as("k1"),
      (col("id") % 10).as("k2"))
    ZOrder.writeZOrdered(base, dir, Seq("k1"), 2)
    def allRids(): Seq[Long] = {
      val files = ZOrder.listDataFiles(spark, dir).map(f => s"$dir/$f")
      spark.read.parquet(files: _*).select(col("__rid"))
        .collect().map(_.getLong(0)).toSeq
    }
    val hwFile = java.nio.file.Paths.get(dir, "_zschema/ridhw")
    val hw0 = new String(java.nio.file.Files.readAllBytes(hwFile)).trim.toLong
    // crash leftover 1: a torn `.new` sibling holding a strict decimal
    // PREFIX of a bump — numerically LOWER than the committed mark. The
    // max-parseable rule must keep the mark, never rewind to the prefix.
    java.nio.file.Files.write(java.nio.file.Paths.get(
      dir, "_zschema/ridhw.new.torn"), hw0.toString.take(2).getBytes)
    ZOrder.appendZOrdered(spark.range(100, 200)
      .select(col("id").as("k1"), (col("id") % 10).as("k2")),
      dir, Seq("k1"), 1)
    val rids = allRids()
    assert(rids.size == 200 && rids.distinct.size == 200,
      "a torn ridhw.new rewound the mark and re-minted row ids")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      dir, "_zschema/ridhw.new.torn")), "crash leftovers must be swept")
    // crash leftover 2: only a COMPLETE `.new` exists (crashed between
    // the old mark's delete and the rename) — its value must be taken
    val hw1 = new String(java.nio.file.Files.readAllBytes(hwFile)).trim.toLong
    java.nio.file.Files.write(java.nio.file.Paths.get(
      dir, "_zschema/ridhw.new.solo"), (hw1 + 7L).toString.getBytes)
    java.nio.file.Files.delete(hwFile)
    ZOrder.appendZOrdered(spark.range(200, 300)
      .select(col("id").as("k1"), (col("id") % 10).as("k2")),
      dir, Seq("k1"), 1)
    val rids2 = allRids()
    assert(rids2.size == 300 && rids2.distinct.size == 300)
    assert(new String(java.nio.file.Files.readAllBytes(hwFile)).trim.toLong
      > hw1 + 7L, "the solo .new mark must seed the next allocation")
    // nothing parses at all: refuse loudly with the recovery recipe —
    // never silently restart at 0
    java.nio.file.Files.write(hwFile, "not-a-number".getBytes)
    val ex = intercept[IllegalArgumentException] {
      ZOrder.appendZOrdered(spark.range(300, 310)
        .select(col("id").as("k1"), (col("id") % 10).as("k2")),
        dir, Seq("k1"), 1)
    }
    assert(ex.getMessage.contains("unreadable"), ex.getMessage)
  }

  test("zcdf batch read: startingVersion is honored and offsets are stable across double planning") {
    val dir = Files.createTempDirectory("graft-zcdfbatch").toString
    def slice(a: Long, b: Long) = spark.range(a, b)
      .select(col("id").as("k1"), (col("id") % 10).as("k2"))
    ZOrder.writeZOrdered(slice(0, 100), dir, Seq("k1"), 1)   // v0
    ZOrder.appendZOrdered(slice(100, 150), dir, Seq("k1"), 1) // v1
    ZOrder.appendZOrdered(slice(150, 180), dir, Seq("k1"), 1) // v2
    def feedRead(extra: Map[String, String]) = {
      val r = spark.read.format("graft-zcdf")
        .option("changeFeed", "true")
      extra.foreach { case (k, v) => r.option(k, v) }
      r.load(dir)
    }
    // default: the full recorded history
    assert(feedRead(Map.empty).count() == 180)
    // r16 advisor: a user startingVersion was silently overridden to
    // earliest — it must resume AFTER the named version
    val fromV0 = feedRead(Map("startingVersion" -> "0"))
    assert(fromV0.count() == 80, s"got ${fromV0.count()}")
    assert(fromV0.agg(min(col("k1"))).head().getLong(0) == 100L)
    // offsets resolve once per Batch INSTANCE: Spark (AQE) calls
    // planInputPartitions twice per query, and a commit landing between
    // the two passes must not change the partition set — drive the Batch
    // directly, append between the passes, assert identical plans
    val table = new graft.sources.ZcdfTable(dir,
      graft.sources.ZcdfStream.tableSchema(spark, dir, changeFeed = true),
      changeFeed = true)
    val batch = table.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().toBatch
    val pass1 = batch.planInputPartitions().length
    ZOrder.appendZOrdered(slice(180, 200), dir, Seq("k1"), 1) // v3
    val pass2 = batch.planInputPartitions().length
    assert(pass1 == pass2,
      s"batch feed re-resolved its offsets between plan passes: " +
        s"$pass1 then $pass2 partitions")
  }

  test("column mapping: RENAME/DROP COLUMN are metadata-only, prune via old stats, refuse retired names") {
    val dir = Files.createTempDirectory("graft-zcolmap").toString
    def slice(a: Long, b: Long) = spark.range(a, b).select(
      col("id").as("k"), (col("id") % 100).as("v"),
      concat(lit("doc-"), col("id")).as("s"))
    ZOrder.writeZOrdered(slice(0, 1000), dir, Seq("k"), 8)
    ZOrder.buildBloomIndex(spark, dir, "v")
    val filesBefore = ZOrder.listDataFiles(spark, dir)

    // rename a data column AND the clustering column: both metadata-only
    ZOrder.renameColumn(spark, dir, "v", "val")
    ZOrder.renameColumn(spark, dir, "k", "key")
    assert(ZOrder.listDataFiles(spark, dir) == filesBefore,
      "a rename must not touch a single data file")
    assert(ZOrder.readSnapshot(spark, dir).columns.toSeq ==
      Seq("key", "val", "s"))

    // a filter on the NEW name prunes via the ORIGINAL physical stats
    val r = ZOrder.readZRange(spark, dir, Seq(("key", 100L, 199L)))
    assert(r.count() == 100)
    assert(r.columns.contains("key") && !r.columns.contains("k"))
    assert(r.inputFiles.length < filesBefore.size,
      s"rename broke stats pruning: ${r.inputFiles.length} of " +
        s"${filesBefore.size} files read")
    // bloom point plane follows the rename too
    assert(ZOrder.readZPoint(spark, dir, "val", 50L).count() == 10)
    // the OLD name no longer exists on the surface
    intercept[IllegalArgumentException] {
      ZOrder.readZRange(spark, dir, Seq(("k", 0L, 10L))) }
    intercept[IllegalArgumentException] {
      ZOrder.readZPoint(spark, dir, "v", 50L) }

    // appends/DML speak the new names; identity and stats stay coherent
    ZOrder.appendZOrdered(spark.range(1000, 1100).select(
      col("id").as("key"), (col("id") % 100).as("val"),
      concat(lit("doc-"), col("id")).as("s")), dir, Seq("key"), 1)
    assert(ZOrder.readSnapshot(spark, dir).count() == 1100)
    assert(ZOrder.readZPoint(spark, dir, "val", 50L).count() == 11)
    assert(ZOrder.updateZRange(spark, dir, Seq(("key", 0L, 9L)),
      Map("val" -> "val + 1000"), Seq("key")) == 10L)
    assert(ZOrder.readSnapshot(spark, dir)
      .filter(col("val") >= 1000L).count() == 10)
    assert(ZOrder.countZRange(spark, dir, Seq(("key", 0L, 49L))) == 50L)
    val mm = ZOrder.minMaxZRange(spark, dir, Seq("val"),
      Seq(("key", 10L, 99L))).head()
    assert(mm.getLong(0) == 10L && mm.getLong(1) == 99L,
      s"min/max over renamed names: $mm")

    // DROP hides the column everywhere; the retired name can't return
    ZOrder.dropColumn(spark, dir, "s")
    assert(ZOrder.readSnapshot(spark, dir).columns.toSeq ==
      Seq("key", "val"))
    val exAdd = intercept[IllegalArgumentException] {
      ZOrder.appendZOrdered(spark.range(1100, 1110).select(
        col("id").as("key"), (col("id") % 100).as("val"),
        lit("x").as("s")), dir, Seq("key"), 1) }
    assert(exAdd.getMessage.contains("RETIRED"), exAdd.getMessage)
    // re-using the renamed-away physical slot refuses the same way
    intercept[IllegalArgumentException] {
      ZOrder.appendZOrdered(spark.range(0, 5).select(
        col("id").as("key"), (col("id") % 100).as("val"),
        col("id").as("v")), dir, Seq("key"), 1) }

    // TIME TRAVEL reads the past under the PAST's names
    val past = ZOrder.listVersions(spark, dir).head
    val old = ZOrder.readSnapshotAt(spark, dir, past._1, past._2)
    assert(old.columns.toSeq == Seq("k", "v", "s"),
      s"travel must show the names of that time, got ${old.columns.toSeq}")
    assert(old.count() == 1000)

    // DESCRIBE HISTORY records the ops
    val ops = ZOrder.describeHistory(spark, dir)
      .select(col("op")).collect().map(_.getString(0)).toSeq
    assert(ops.count(_ == "rename-column") == 2, ops.toString)
    assert(ops.contains("drop-column"), ops.toString)

    // refusal shapes: collision, reserved target, clustering-key drop
    intercept[IllegalArgumentException] {
      ZOrder.renameColumn(spark, dir, "val", "key") }
    intercept[IllegalArgumentException] {
      ZOrder.renameColumn(spark, dir, "val", "__rid") }
    intercept[IllegalArgumentException] {
      ZOrder.dropColumn(spark, dir, "key") } // recorded clustering key
    // a constraint may not be declared ON a mapped column (the write
    // path evaluates constraints over physical frames)
    val exCon2 = intercept[IllegalArgumentException] {
      ZOrder.addCheckConstraint(spark, dir, "keyrange", "key >= 0") }
    assert(exCon2.getMessage.contains("column-mapped"), exCon2.getMessage)

    // and constraint-referenced columns may not be renamed or dropped
    // (fresh store: the constraint must predate any mapping of its column)
    val dir2 = Files.createTempDirectory("graft-zcolmapcon").toString
    ZOrder.writeZOrdered(spark.range(10).select(col("id").as("a"),
      (col("id") * 2).as("b")), dir2, Seq("a"), 1)
    ZOrder.addCheckConstraint(spark, dir2, "bpos", "b >= 0")
    val exCon = intercept[IllegalArgumentException] {
      ZOrder.renameColumn(spark, dir2, "b", "bb") }
    assert(exCon.getMessage.contains("bpos"), exCon.getMessage)
    intercept[IllegalArgumentException] {
      ZOrder.dropColumn(spark, dir2, "b") }
    // dropping the constraint unlocks the rename
    ZOrder.dropCheckConstraint(spark, dir2, "bpos")
    ZOrder.renameColumn(spark, dir2, "b", "bb")
    assert(ZOrder.readSnapshot(spark, dir2).columns.toSeq == Seq("a", "bb"))
  }

  test("column mapping: the row-level change feed speaks current logical names and hides dropped columns") {
    val dir = Files.createTempDirectory("graft-zcolmapcdf").toString
    ZOrder.writeZOrdered(spark.range(100).select(col("id").as("k"),
      (col("id") % 10).as("v"), lit("p").as("s")), dir, Seq("k"), 2)
    ZOrder.setChangeFeedEnabled(spark, dir, on = true)
    ZOrder.renameColumn(spark, dir, "v", "val")
    ZOrder.dropColumn(spark, dir, "s")
    val (e0, v0) = ZOrder.listVersions(spark, dir).max
    assert(ZOrder.deleteZRange(spark, dir, Seq(("k", 0L, 9L)),
      Seq("k")) == 10L)
    val feed = ZOrder.readChangeFeed(spark, dir, e0, v0)
    assert(feed.columns.contains("val") && !feed.columns.contains("v") &&
      !feed.columns.contains("s"),
      s"feed columns: ${feed.columns.toSeq}")
    assert(feed.filter(col("_change_type") === "delete").count() == 10)
    assert(feed.filter(col("val") >= 10L).count() == 0)
  }

  test("type widening: INT->BIGINT / FLOAT->DOUBLE are metadata-only; old files widen at decode; narrowing refuses") {
    val dir = Files.createTempDirectory("graft-zwiden").toString
    ZOrder.writeZOrdered(spark.range(100).select(col("id").as("k"),
      col("id").cast("int").as("n"), (col("id") / 4).cast("float").as("f")),
      dir, Seq("k"), 2, statCols = Seq("k", "n"))
    val filesBefore = ZOrder.listDataFiles(spark, dir)
    // explicit widen (the SQL ALTER COLUMN TYPE path)
    ZOrder.widenColumn(spark, dir, "n",
      org.apache.spark.sql.types.LongType)
    assert(ZOrder.listDataFiles(spark, dir) == filesBefore,
      "a widen must not touch a single data file")
    val sch = ZOrder.readSnapshot(spark, dir).schema
    assert(sch("n").dataType == org.apache.spark.sql.types.LongType)
    // append with values beyond Int range + a DOUBLE column (implicit
    // widen through the append union)
    ZOrder.appendZOrdered(spark.range(100, 110).select(col("id").as("k"),
      (col("id") + 3000000000L).as("n"), (col("id") * 1.5).as("f")),
      dir, Seq("k"), 1, statCols = Seq("k", "n"))
    val out = ZOrder.readSnapshot(spark, dir)
    assert(out.schema("f").dataType == org.apache.spark.sql.types.DoubleType)
    assert(out.count() == 110)
    // old INT32 pages decode as long, new INT64 pages as-is; exact values
    assert(out.filter(col("n") >= 3000000000L).count() == 10)
    assert(out.filter(col("k") === 50L).head().getLong(1) == 50L)
    assert(out.filter(col("k") === 50L).head().getDouble(2) == 12.5d)
    // stats pruning on the widened column still works (int/long stat
    // encodings are identical)
    assert(ZOrder.countZRange(spark, dir, Seq(("n", 0L, 49L))) == 50L)
    // the DSv2 vectorized plane widens the same way
    val viaTable = spark.read.format("graft-z").load(dir)
    assert(viaTable.schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(viaTable.filter(col("n") >= 3000000000L).count() == 10)
    assert(viaTable.agg(sum(col("n"))).head().getLong(0) ==
      (0L until 100L).sum + (100L until 110L).map(_ + 3000000000L).sum)
    // the zcdf Group-reader plane (batch change feed) widens at decode
    val feed = spark.read.format("graft-zcdf").option("changeFeed", "true")
      .load(dir)
    assert(feed.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(feed.count() == 110)
    assert(feed.agg(sum(col("n"))).head().getLong(0) ==
      (0L until 100L).sum + (100L until 110L).map(_ + 3000000000L).sum)
    // narrowing / incompatible changes keep refusing
    val exN = intercept[IllegalArgumentException] {
      ZOrder.widenColumn(spark, dir, "n",
        org.apache.spark.sql.types.IntegerType) }
    assert(exN.getMessage.contains("narrow"), exN.getMessage)
    intercept[IllegalArgumentException] {
      ZOrder.widenColumn(spark, dir, "n",
        org.apache.spark.sql.types.StringType) }
    intercept[IllegalArgumentException] {
      ZOrder.appendZOrdered(spark.range(0, 5).select(col("id").as("k"),
        col("id").as("n"), lit("x").as("f")), dir, Seq("k"), 1) }
    // widening composes with column mapping: rename then widen via the
    // new name, read both generations exactly
    ZOrder.renameColumn(spark, dir, "f", "score")
    assert(ZOrder.readSnapshot(spark, dir)
      .filter(col("score") === 12.5d).count() == 1)
  }

  test("vacuum collects crashed _ztmp stages behind the retention delay; in-flight stages survive") {
    val dir = Files.createTempDirectory("graft-zvactmp").toString
    ZOrder.writeZOrdered(spark.range(100).select(col("id").as("k"),
      (col("id") % 10).as("v")), dir, Seq("k"), 2)
    val stale = new java.io.File(dir, "_ztmp/chg-deadbeef")
    stale.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(stale.toString, "part-0.parquet"),
      "x".getBytes)
    stale.setLastModified(System.currentTimeMillis() - 3600_000L)
    val fresh = new java.io.File(dir, "_ztmp/rlo-cafebabe")
    fresh.mkdirs()
    val removed = ZOrder.vacuumOrphans(spark, dir, minAgeMs = 60_000L)
    assert(removed.contains("_ztmp/chg-deadbeef"), removed.toString)
    assert(!stale.exists(), "stale crashed stage must be collected")
    assert(fresh.exists(), "an in-flight stage inside the retention " +
      "window must survive")
    // and without a delay, everything under _ztmp goes
    val removed2 = ZOrder.vacuumOrphans(spark, dir)
    assert(removed2.contains("_ztmp/rlo-cafebabe"), removed2.toString)
    assert(!fresh.exists())
  }

  test("column mapping: rename CHAINS collapse and name SWAPS resolve (a->b, then c->a)") {
    val dir = Files.createTempDirectory("graft-zcolmapchain").toString
    ZOrder.writeZOrdered(spark.range(100).select(col("id").as("a"),
      (col("id") * 2).as("c")), dir, Seq("a"), 2)
    // chain: a->b->a2 must collapse to ONE mapping hop (a -> a2)
    ZOrder.renameColumn(spark, dir, "a", "b")
    ZOrder.renameColumn(spark, dir, "b", "a2")
    assert(ZOrder.readSnapshot(spark, dir).columns.toSeq == Seq("a2", "c"))
    assert(ZOrder.readZRange(spark, dir, Seq(("a2", 0L, 9L))).count() == 10)
    // swap INTO the retired name: c -> a (legal — 'a' is no longer a
    // logical name; the physical slots stay distinct)
    ZOrder.renameColumn(spark, dir, "c", "a")
    val out = ZOrder.readSnapshot(spark, dir)
    assert(out.columns.toSeq == Seq("a2", "a"), out.columns.toSeq)
    // values stay attached to the right physical columns after the swap
    assert(out.filter(col("a2") === 7L).head().getLong(1) == 14L)
    assert(ZOrder.readZRange(spark, dir, Seq(("a2", 7L, 7L)))
      .select(col("a")).head().getLong(0) == 14L)
    // appends speak the swapped surface and land physically correctly
    ZOrder.appendZOrdered(spark.range(100, 110).select(col("id").as("a2"),
      (col("id") * 2).as("a")), dir, Seq("a2"), 1)
    assert(ZOrder.readSnapshot(spark, dir)
      .filter(col("a2") === 105L).head().getLong(1) == 210L)
    // a2 cannot go back to 'a' while the swap holds it (collision)
    intercept[IllegalArgumentException] {
      ZOrder.renameColumn(spark, dir, "a2", "a") }
    // but renaming the swap away frees the slot, and renaming a column
    // back to its OWN physical name drops its mapping entry entirely
    ZOrder.renameColumn(spark, dir, "a", "c2")
    ZOrder.renameColumn(spark, dir, "a2", "a")
    assert(ZOrder.readSnapshot(spark, dir).columns.toSeq == Seq("a", "c2"))
    assert(ZOrder.readZRange(spark, dir, Seq(("a", 7L, 7L)))
      .select(col("c2")).head().getLong(0) == 14L)
  }
}
