package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.streaming.Correlate

/** The completion stream [[Correlate.serve]] writes through the
  * graft-shards sink, read back with [[Sources.readTable]]: an epoch that
  * dies between its intent and its committed marker is finished by its
  * replay, each completion lands once, and no staged temp is ever read;
  * retention sweeps no chunk. StreamingSpec runs serve's job count, marked
  * replay and owner checks. */
class CompletionStreamSpec extends graft.SparkSpec {
  import spark.implicits._

  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  private def statusStream(dir: String) =
    spark.readStream.format("graft-shards")
      .option("startingPosition", "TRIM_HORIZON").load(dir)
      .select(from_json(col("data"), org.apache.spark.sql.types.StructType.fromDDL(
        "txnId STRING, status STRING, sec LONG")).as("e"))
      .select(col("e.txnId").as("txnId"), col("e.status").as("status"),
        timestamp_seconds(col("e.sec")).as("ts"))
      .as[Correlate.StatusEvent]

  private def ev(txn: String, sec: Long) =
    s"""{"txnId":"$txn","status":"SUCCEEDED","sec":$sec}"""

  private def rows(table: String): Seq[(String, String)] =
    Sources.readTable(spark, table).as[(String, String)].collect().toSeq.sorted

  private def chunks(table: String): Seq[Path] =
    GraftShardsSource.listShards(new Path(table)).values.toSeq
      .flatMap(d => GraftShardsSource.shardChunks(d).map(_.path)).sortBy(_.toString)

  private def temps(table: String): Seq[String] =
    GraftShardsSource.listShards(new Path(table)).values.toSeq.flatMap(d =>
      GraftShardsSource.fs(d).listStatus(d).map(_.getPath.getName)
        .filter(_.startsWith("_wtmp-")))

  test("a replay of a mid-publish crash lands each completion once") {
    val dir = Files.createTempDirectory("graft-cs-crash").toString
    val table = Files.createTempDirectory("graft-cs-crash-tbl").toString
    val ckpt = Files.createTempDirectory("graft-cs-crash-ck").toString
    val want = (1 to 8).map(i => s"t$i" -> "SUCCEEDED")
    GraftShards.append(dir, 0, want.map(_._1).zipWithIndex.map { case (t, i) => ev(t, i + 1L) })
    def serveOnce(): Unit = {
      val q = Correlate.serve(statusStream(dir), table, ckpt, intervalMs = 100)
      try q.processAllAvailable() finally q.stop()
      assert(q.exception.isEmpty, q.exception)
    }
    serveOnce()
    assert(rows(table) == want)
    // one data epoch, published as one chunk in each of several shards
    val commits = new java.io.File(ckpt, "commits")
    val epochs = commits.list().filter(_.forall(_.isDigit)).map(_.toLong)
    assert(epochs.length == 1, epochs.toSeq)
    val e = epochs.head
    val published = chunks(table)
    assert(published.size >= 2, s"chunks: $published")
    val f = GraftShardsSource.fs(new Path(table))
    def lines(p: Path): Seq[String] =
      GraftShardsSource.readSmall(f, p).split("\n").toSeq

    // the crash: the intent persisted and every rename but the first
    // landed, the committed marker did not; a dead replay attempt left a
    // staged copy of the second chunk; Spark's commit log lacks the epoch
    val plan = published.map { p =>
      val Array(start, end) = p.getName.stripSuffix(".jsonl").split("-").map(_.toLong)
      GraftShardsWrite.PlannedRename(
        new Path(p.getParent, s"_wtmp-$e-0-${p.getParent.getName}").toString,
        p.getParent.getName.stripPrefix("shard-").toInt, start, end)
    }
    val unpublished = lines(published.head)
    assert(f.rename(published.head, new Path(plan.head.tmp)))
    val stray = f.create(new Path(published(1).getParent, s"_wtmp-$e-1-stray"), true)
    stray.write(lines(published(1)).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    stray.close()
    val epochDir = new Path(table, GraftShardsWrite.EpochsDirName)
    val intent = f.create(new Path(epochDir, s"$e.intent"), true)
    intent.write(org.json4s.jackson.Serialization.write(plan).getBytes(StandardCharsets.UTF_8))
    intent.close()
    assert(f.delete(new Path(epochDir, s"$e.committed"), false))
    f.delete(new Path(epochDir, s".$e.committed.crc"), false)
    assert(new java.io.File(commits, e.toString).delete())
    new java.io.File(commits, s".$e.crc").delete()

    // mid-crash, a reader sees published chunks only: no staged row, and
    // no completion twice
    val mid = rows(table)
    assert(mid == want.filterNot(r => unpublished.exists(_.contains(s""""${r._1}""""))),
      s"mid-crash read: $mid")

    // the replay finishes the dead attempt's plan and drops every temp
    serveOnce()
    assert(rows(table) == want)
    assert(chunks(table) == published)
    assert(temps(table).isEmpty, temps(table))
    assert(f.exists(new Path(epochDir, s"$e.committed")))
    assert(!f.exists(new Path(epochDir, s"$e.intent")))
  }

  test("retentionSweep on a completion stream deletes no chunk") {
    val dir = Files.createTempDirectory("graft-cs-sweep").toString
    val table = Files.createTempDirectory("graft-cs-sweep-tbl").toString
    val ckpt = Files.createTempDirectory("graft-cs-sweep-ck").toString
    val q = Correlate.serve(statusStream(dir), table, ckpt, intervalMs = 100)
    try (1 to 4).foreach { i =>
      GraftShards.append(dir, 0, Seq(ev(s"t$i", i)))
      q.processAllAvailable()
    } finally q.stop()
    val before = chunks(table)
    assert(before.size == 4, before)
    val (_, removed) = StoreMaint.retentionSweep(spark, table, 2)
    assert(removed.isEmpty, removed)
    assert(chunks(table) == before)
    assert(rows(table).map(_._1) == Seq("t1", "t2", "t3", "t4"))
  }
}
