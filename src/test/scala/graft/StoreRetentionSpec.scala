package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.StoreMaint

/** Replay-window retention for the ingest-loop metadata of the four
  * persisted stores (verdict-r7 lifecycle item): `applied/<id>` markers
  * and `out/batch=<id>` delivery dirs stay BOUNDED under a long-running
  * loop, a replay INSIDE the window is still the exactly-once no-op, and
  * a replay OUTSIDE it refuses loudly instead of silently re-applying
  * (the watermark is written before any marker is deleted, so the refusal
  * can never race the sweep). Plus the TextIndex-specific third family:
  * stats `src=` dirs a crashed compact left behind. */
class StoreRetentionSpec extends SparkSpec {
  import spark.implicits._

  private def docBatch(id: Long): org.apache.spark.sql.DataFrame =
    Seq((id * 10 + 1, s"alpha beta gamma delta batch$id"),
        (id * 10 + 2, s"epsilon zeta eta theta batch$id"))
      .toDF("doc_id", "text")

  private def filesUnder(dir: java.io.File): Seq[String] =
    if (!dir.exists()) Seq.empty
    else dir.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) filesUnder(f) else Seq(f.getName))

  /** Visible (non-checksum-sidecar) children. */
  private def visible(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().toSeq.filterNot(_.getName.startsWith("."))

  test("20 LSH-ingest micro-batches + sweep: bounded metadata; in-window replay no-ops; out-of-window replay refuses") {
    val root = Files.createTempDirectory("graft-ret-lsh").toString
    for (id <- 0L until 20L)
      graft.dedup.LshIndex.ingestBatch(spark, root, docBatch(id), id)
    val applied = new java.io.File(root, "applied")
    val outRoot = new java.io.File(root, "out")
    assert(visible(applied).length == 20)
    assert(visible(outRoot).count(_.getName.startsWith("batch=")) == 20)
    val (wm, removed) = StoreMaint.retentionSweep(spark, root, keepLast = 5)
    assert(wm == 15L, s"watermark $wm")
    assert(removed.count(_.startsWith("applied/")) == 15 &&
      removed.count(_.startsWith("out/")) == 15, removed.toString)
    assert(visible(applied).length == 5,
      "markers unbounded after sweep")
    assert(visible(outRoot).count(_.getName.startsWith("batch=")) == 5,
      "delivery dirs unbounded after sweep")
    // replay INSIDE the window: marker present → exact no-op (a re-apply
    // would append duplicate feature files)
    val featFiles = filesUnder(new java.io.File(root, "feat")).size
    graft.dedup.LshIndex.ingestBatch(spark, root, docBatch(19L), 19L)
    assert(filesUnder(new java.io.File(root, "feat")).size == featFiles,
      "in-window replay re-applied the batch")
    // replay OUTSIDE the window: refuses loudly, store untouched
    val e = intercept[IllegalStateException] {
      graft.dedup.LshIndex.ingestBatch(spark, root, docBatch(3L), 3L)
    }
    assert(e.getMessage.contains("retention window"), e.getMessage)
    assert(filesUnder(new java.io.File(root, "feat")).size == featFiles)
    // an idempotent re-sweep is a no-op
    assert(StoreMaint.retentionSweep(spark, root, 5) == ((15L, Seq.empty)))
  }

  test("text-index loop: sweep bounds markers/outs; compact + purge bound the stats dirs") {
    val root = Files.createTempDirectory("graft-ret-text").toString
    for (id <- 0L until 6L)
      graft.text.TextIndex.ingestBatch(spark, root, docBatch(id), id)
    val idx = s"$root/index"
    val statsDir = new java.io.File(idx, "stats")
    assert(statsDir.listFiles().count(_.getName.startsWith("src=")) == 6,
      "one stats increment dir per batch expected")
    val (wm, _) = StoreMaint.retentionSweep(spark, root, keepLast = 2)
    assert(wm == 4L)
    assert(visible(new java.io.File(root, "applied")).length == 2)
    // stats dirs collapse via compact (the normal path)…
    val statsBefore = graft.text.TextIndex.readStats(spark, idx)
    graft.text.TextIndex.compact(spark, idx)
    assert(statsDir.listFiles().count(_.getName.startsWith("src=")) == 1,
      "compact did not consolidate the stats increments")
    assert(graft.text.TextIndex.readStats(spark, idx) == statsBefore)
    // …and a CRASHED compact's leftovers (covered tags whose dirs survived
    // the c<k> write) fall to purgeCoveredStats. Plant one: re-create a
    // covered tag's dir with a nonzero increment — readers must ignore it
    // (covers rule) and the purge must remove it.
    val cDir = statsDir.listFiles().filter(_.getName.startsWith("src=c")).head
    val covered = spark.read.parquet(cDir.getAbsolutePath)
      .select(col("covers")).head().getSeq[String](0)
    assert(covered.nonEmpty, "compact recorded no covered tags — plant impossible")
    val tag = covered.head
    spark.range(1).select(lit(1000000L).as("n"), lit(2000000L).as("tot"),
        lit(null).cast("array<string>").as("covers"))
      .coalesce(1).write.parquet(s"$idx/stats/src=$tag")
    assert(graft.text.TextIndex.readStats(spark, idx) == statsBefore,
      "a covered stats dir leaked into the sums — the planted remnant is live")
    val purged = graft.text.TextIndex.purgeCoveredStats(spark, idx)
    assert(purged == Seq(tag), purged.toString)
    assert(statsDir.listFiles().count(_.getName.startsWith("src=")) == 1)
    assert(graft.text.TextIndex.readStats(spark, idx) == statsBefore)
    // replay outside the window refuses for this store too
    intercept[IllegalStateException] {
      graft.text.TextIndex.ingestBatch(spark, root, docBatch(0L), 0L)
    }
  }

  test("vector stores refuse an out-of-window replay before touching any store contract") {
    for (ingest <- Seq[(String, Long) => Unit](
        (root, id) => graft.sim.VecIndex.ingestBatch(spark, root,
          spark.range(0).select(col("id").as("vec_id"), lit("x").as("label"),
            array().cast("array<double>").as("v")), id),
        (root, id) => graft.sim.PqIndex.ingestBatch(spark, root,
          spark.range(0).select(col("id").as("vec_id"), lit("x").as("label"),
            array().cast("array<double>").as("v")), id,
          spark.range(0).select(col("id").as("query_id"),
            array().cast("array<double>").as("qv"))))) {
      val root = Files.createTempDirectory("graft-ret-vec").toString
      for (id <- 0L until 10L) StoreMaint.markApplied(spark, root, id)
      val (wm, _) = StoreMaint.retentionSweep(spark, root, keepLast = 2)
      assert(wm == 8L)
      // the guard fires before quantizer/codebook access — no store needed
      intercept[IllegalStateException] { ingest(root, 3L) }
    }
  }

  test("z-store ingest loop: sweep bounds metadata; marker-missed replay absorbed by the tag; out-of-window refuses") {
    val root = Files.createTempDirectory("graft-ret-z").toString
    for (id <- 0L until 6L)
      graft.sources.ZQueries.ingestBatch(spark, root, docBatch(id), id,
        0L, 1000L)
    val (wm, _) = StoreMaint.retentionSweep(spark, root, keepLast = 2)
    assert(wm == 4L)
    val store = new java.io.File(root, "store")
    def dataDirs(): Int = store.listFiles().count(_.getName.startsWith("d-"))
    val pre = dataDirs()
    // in-window replay: the marker skips the batch wholesale
    graft.sources.ZQueries.ingestBatch(spark, root, docBatch(5L), 5L,
      0L, 1000L)
    assert(dataDirs() == pre, "in-window replay re-appended")
    // marker-missed window (crash after the manifest commit, before the
    // marker): the batch TAG riding the version commit absorbs the
    // re-append — the fifth store's two-layer exactly-once
    new java.io.File(root, "applied/5").delete()
    new java.io.File(root, "applied/.5.crc").delete()
    graft.sources.ZQueries.ingestBatch(spark, root, docBatch(5L), 5L,
      0L, 1000L)
    assert(dataDirs() == pre,
      "tag failed to absorb a marker-missed z-append replay")
    // out-of-window replay refuses before touching the store
    intercept[IllegalStateException] {
      graft.sources.ZQueries.ingestBatch(spark, root, docBatch(1L), 1L,
        0L, 1000L)
    }
    assert(dataDirs() == pre)
  }

  test("sweep refuses a window too small to cover the trailing replay batch") {
    val root = Files.createTempDirectory("graft-ret-bad").toString
    intercept[IllegalArgumentException] {
      StoreMaint.retentionSweep(spark, root, keepLast = 1)
    }
  }
}
