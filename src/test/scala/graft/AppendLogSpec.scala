package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{Sources, StoreMaint}

/** The append log's commit protocol ([[Sources.appendOnce]], the sink of
  * [[graft.streaming.Correlate.serve]]): a batch is visible only once its
  * marker lands, a replay lands each row once, and retention cannot sweep
  * its commits. StreamingSpec runs the protocol's replay and owner checks
  * through `serve`. */
class AppendLogSpec extends SparkSpec {
  import spark.implicits._

  private def rows(path: String): Seq[(String, String)] =
    Sources.readTable(spark, path).select(col("txnId"), col("finalStatus"))
      .as[(String, String)].collect().toSeq.sorted

  private def batch(ids: String*) =
    ids.map(id => (id, "SUCCEEDED")).toDF("txnId", "finalStatus")

  test("append log: a batch that crashed before its marker is invisible; its replay lands each row once") {
    val path = Files.createTempDirectory("graft-alog-crash").toString
    assert(Sources.appendOnce(batch("a", "b"), path, 0L, "q") == 2L)
    // the body dies after the data is written, before the marker
    val e = intercept[IllegalStateException] {
      Sources.writeAppend(batch("c", "d"), path, 1L)
      throw new IllegalStateException("crash before the marker")
    }
    assert(e.getMessage.contains("crash"))
    assert(new java.io.File(path, "data/1").isDirectory)
    assert(rows(path) == Seq("a" -> "SUCCEEDED", "b" -> "SUCCEEDED"))
    // the re-delivered batch overwrites the orphan and commits
    assert(Sources.appendOnce(batch("c", "d"), path, 1L, "q") == 2L)
    assert(rows(path).map(_._1) == Seq("a", "b", "c", "d"))
    // a replay of a committed batch is skipped: its files are not touched
    val files = new java.io.File(path, "data/1").listFiles().map(f =>
      f.getName -> f.lastModified).toSet
    assert(Sources.appendOnce(batch("c", "d"), path, 1L, "q") == 0L)
    assert(new java.io.File(path, "data/1").listFiles().map(f =>
      f.getName -> f.lastModified).toSet == files)
    assert(rows(path).map(_._1) == Seq("a", "b", "c", "d"))
    // an empty batch leaves no marker and no dir
    assert(Sources.appendOnce(batch(), path, 2L, "q") == 0L)
    assert(!new java.io.File(path, "data/2").exists())
    assert(!new java.io.File(path, "applied/2").exists())
    // the read has the batch's columns only
    assert(Sources.readTable(spark, path).columns.toSeq == Seq("txnId", "finalStatus"))
  }

  test("retentionSweep refuses on an append log: its markers are its commits") {
    val path = Files.createTempDirectory("graft-alog-sweep").toString
    (0L until 4L).foreach(i => Sources.appendOnce(batch(s"t$i"), path, i, "q"))
    val e = intercept[IllegalArgumentException](StoreMaint.retentionSweep(spark, path, 2))
    assert(e.getMessage.contains("append log"))
    assert(rows(path).map(_._1) == Seq("t0", "t1", "t2", "t3"))
    assert(new java.io.File(path, "applied").list().count(!_.startsWith(".")) == 4)
  }
}
