package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.sources.Sources

/** Roundtrip + sink semantics for the sources module (SURVEY.md §2.b scans
  * and sinks rows; reference R1/R5 storage layer). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.collect().toSet

  test("JSON roundtrip with explicit schema (R1/R5 document form)") {
    val nation = Tables.nation(spark, sfDir)
    val path = tmp("graft-json")
    nation.write.mode("overwrite").json(path)
    val back = spark.read.schema(nation.schema).json(path)
    assert(rows(back) == rows(nation))
  }

  test("JSON roundtrip preserves multi-line text (documents table)") {
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", $"lang")
    val path = tmp("graft-json-docs")
    docs.write.mode("overwrite").json(path)
    val back = spark.read.schema(docs.schema).json(path)
    assert(rows(back) == rows(docs))
  }

  test("permissive JSON scan quarantines malformed lines instead of failing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dirty")
    java.nio.file.Files.writeString(dir.resolve("part-0.json"),
      """{"id": 1, "v": "ok"}
        |{"id": 2 "v": MALFORMED
        |{"id": 3, "v": "fine"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val df = spark.read
      .schema(schema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString).cache()
    val good = df.filter($"_corrupt_record".isNull)
      .select($"id", $"v").as[(Long, String)].collect().toSet
    val bad = df.filter($"_corrupt_record".isNotNull)
      .select($"_corrupt_record").as[String].collect()
    df.unpersist()
    assert(good == Set((1L, "ok"), (3L, "fine")))
    assert(bad.length == 1 && bad.head.contains("MALFORMED"))
  }

  test("CSV roundtrip with explicit schema + header") {
    val region = Tables.region(spark, sfDir)
    val path = tmp("graft-csv")
    region.write.mode("overwrite").option("header", "true").csv(path)
    val back = spark.read.schema(region.schema)
      .option("header", "true").csv(path)
    assert(rows(back) == rows(region))
  }

  test("ORC roundtrip with predicate pushdown and column pruning") {
    val lineitem = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_quantity", $"l_discount")
    val path = tmp("graft-orc")
    lineitem.write.mode("overwrite").orc(path)
    val back = spark.read.orc(path)
    assert(rows(back) == rows(lineitem))
    // the scan-side scale levers must survive the format swap: the filter
    // reaches the ORC reader as a search argument and the projection
    // narrows the read schema
    val q = back.filter($"l_orderkey" === 1L).select($"l_quantity")
    assert(rows(q) == rows(lineitem.filter($"l_orderkey" === 1L)
      .select($"l_quantity")))
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty)
    val pushed = scan.head.metadata("PushedFilters")
    assert(pushed.contains("EqualTo(l_orderkey,1)"), s"PushedFilters=$pushed")
    assert(scan.head.requiredSchema.fieldNames.toSeq ==
      Seq("l_orderkey", "l_quantity"),
      s"read schema not pruned: ${scan.head.requiredSchema.simpleString}")
  }

  test("XML roundtrip with explicit schema (the ingestion-format contract)") {
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"n_chars", $"text")
    val path = tmp("graft-xml")
    docs.write.mode("overwrite").option("rowTag", "doc").xml(path)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, n_chars BIGINT, text STRING")
    val back = spark.read.schema(schema).option("rowTag", "doc").xml(path)
      .select($"doc_id", $"lang", $"n_chars", $"text")
    assert(rows(back) == rows(docs))
    // no pushdown promises for XML: it is read-once-then-go-columnar;
    // filtering still works, just engine-side
    assert(back.filter($"lang" === "en").count() ==
      docs.filter($"lang" === "en").count())
  }

  test("partitioned parquet write prunes to one partition directory") {
    val events = Tables.events(spark, sfDir)
    val path = tmp("graft-part")
    events.write.mode("overwrite").partitionBy("event_type").parquet(path)
    val pruned = spark.read.parquet(path).filter($"event_type" === "purchase")
    assert(pruned.count() ==
      events.filter($"event_type" === "purchase").count())
    // the physical scan must list ONLY the matching partition directory
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty, "expected a FileSourceScanExec leaf")
    val listing = scan.head.selectedPartitions
    val files = listing.toPartitionArray.map(_.urlEncodedPath)
    assert(listing.partitionCount == 1 &&
      files.nonEmpty && files.forall(_.contains("event_type=purchase")),
      s"scan selected ${listing.partitionCount} partitions: ${files.mkString(",")}")
  }

  test("binaryFile ingestion: one row per file, glob selects the modality") {
    val dir = tmp("graft-bin")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val payloads = Map("a.img" -> "IMGBYTES-A", "b.img" -> "IMGBYTES-BB",
      "c.wav" -> "WAVBYTES")
    payloads.foreach { case (name, bytes) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        bytes.getBytes("UTF-8"))
    }
    val imgs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.img").load(dir)
      .select($"path", $"length", $"content")
      .collect()
      .map(r => new java.io.File(new java.net.URI(r.getString(0)).getPath).getName ->
        ((r.getLong(1), new String(r.getAs[Array[Byte]](2), "UTF-8"))))
      .toMap
    assert(imgs.keySet == Set("a.img", "b.img")) // .wav filtered by glob
    assert(imgs("a.img") == ((10L, "IMGBYTES-A")))
    assert(imgs("b.img") == ((11L, "IMGBYTES-BB")))
  }

  test("range-sharded export: disjoint sorted shards, globally ordered in file order") {
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"n_chars")
    val path = tmp("graft-shards")
    docs.repartitionByRange(4, $"doc_id").sortWithinPartitions("doc_id")
      .write.mode("overwrite").option("maxRecordsPerFile", 0L).parquet(path)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length == 4, s"expected 4 shard files, got ${files.length}")
    // each shard is internally sorted; shard key ranges are disjoint and
    // ascend with file name, so concatenation is the global order
    val perShard = files.map { f =>
      spark.read.parquet(f).select($"doc_id").as[Long].collect().toSeq
    }
    perShard.foreach(ids => assert(ids == ids.sorted))
    perShard.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a.last < b.head)
      case _         =>
    }
    assert(perShard.map(_.size).sum == docs.count())
    // no shard is empty and the split is roughly balanced (range
    // partitioning samples the key distribution)
    assert(perShard.forall(_.nonEmpty))
  }

  test("keyed upsert: new rows replace same-key rows, old versions swept (R5)") {
    val path = tmp("graft-upsert")
    Sources.upsert(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), path)
    Sources.upsert(Seq((2L, "c"), (3L, "d")).toDF("k", "v"), Seq("k"), path)
    val got = Sources.readTable(spark, path).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "c"), (3L, "d")))
    // retention is REFERENCE-based: v1 stays alive while a live manifest
    // still points at a bucket it holds (key 1's bucket was never
    // rewritten), plus the committed predecessor's closure for in-flight
    // readers
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.toSet == Set("v1", "v2"))
    // rewrite EVERY key ever seen → no manifest references old versions;
    // one more upsert ages out the predecessor closure and sweeps all
    // pre-current versions
    Sources.upsert(
      Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "e")).toDF("k", "v"), Seq("k"), path)
    Sources.upsert(Seq((1L, "w")).toDF("k", "v"), Seq("k"), path)
    val dirs2 = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs2.toSet == Set("v3", "v4"), s"got ${dirs2.toSet}")
    val got2 = Sources.readTable(spark, path).as[(Long, String)].collect().toSet
    assert(got2 == Set((1L, "w"), (2L, "y"), (3L, "z"), (4L, "e")))
  }

  test("upsert rewrites ONLY the buckets a batch touches; others carry by reference") {
    import org.apache.spark.sql.functions.{hash, pmod, lit}
    val path = tmp("graft-upsert-bucketed")
    // 64 keys spread over the default 16 buckets
    val base = (1L to 64L).map(k => (k, s"v$k")).toDF("k", "v")
    Sources.upsert(base, Seq("k"), path)
    val v1Buckets = new java.io.File(path, "v1/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gb=")).map(_.getName).toSet
    assert(v1Buckets.size > 1, "base write should span several buckets")
    // a single-key batch must physically rewrite EXACTLY ONE bucket dir
    Sources.upsert(Seq((7L, "updated")).toDF("k", "v"), Seq("k"), path)
    val v2Buckets = new java.io.File(path, "v2/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gb=")).map(_.getName).toSet
    val expectedBucket = Seq(Tuple1(7L)).toDF("k")
      .select(pmod(hash($"k"), lit(16)).as("gb")).as[Int].head()
    assert(v2Buckets == Set(s"gb=$expectedBucket"),
      s"one-key batch rewrote ${v2Buckets.size} buckets: $v2Buckets")
    // untouched buckets still live in v1 and the merged view is intact
    assert(new java.io.File(path, "v1/data").exists())
    val got = Sources.readTable(spark, path).as[(Long, String)].collect().toSet
    assert(got == (1L to 64L).map(k =>
      (k, if (k == 7L) "updated" else s"v$k")).toSet)
  }

  test("a version holds ONE parquet file per written bucket, from a multi-partition batch") {
    val path = tmp("graft-upsert-onefile")
    // parquet files per written bucket dir, over every version dir present
    def filesPerBucket(): Map[String, Int] =
      new java.io.File(path).listFiles().filter(_.isDirectory).flatMap { v =>
        Option(new java.io.File(v, "data").listFiles()).toSeq.flatten
          .filter(d => d.isDirectory && d.getName.startsWith("gb="))
          .map(d => s"${v.getName}/${d.getName}" ->
            d.listFiles().count(_.getName.endsWith(".parquet")))
      }.toMap
    // 8 input partitions, each holding keys of every bucket
    val base = (1L to 200L).map(k => (k, s"a$k")).toDF("k", "v").repartition(8)
    // planted positive: written straight from its 8 partitions, this batch
    // leaves several files in a bucket dir — the layout the count rejects
    val plain = tmp("graft-upsert-plainwrite")
    base.withColumn("gb", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash($"k"), org.apache.spark.sql.functions.lit(16)))
      .write.partitionBy("gb").parquet(plain)
    assert(new java.io.File(plain).listFiles().filter(_.isDirectory)
      .exists(_.listFiles().count(_.getName.endsWith(".parquet")) > 1))

    Sources.upsert(base, Seq("k"), path) // v1: every bucket
    val batch2 = ((1L to 200L by 3).map(k => (k, s"b$k")) ++
      (201L to 260L).map(k => (k, s"n$k"))).toDF("k", "v").repartition(8)
    Sources.upsert(batch2, Seq("k"), path) // v2: carried + new rows
    val layout = filesPerBucket()
    assert(layout.keySet.exists(_.startsWith("v1/")) &&
      layout.keySet.exists(_.startsWith("v2/")), s"got ${layout.keySet}")
    assert(layout.values.forall(_ == 1), s"files per bucket dir: $layout")

    // results are the last-write-wins fold, on every read path
    val expected = (1L to 200L).map(k => k -> s"a$k").toMap ++
      (1L to 200L by 3).map(k => k -> s"b$k") ++ (201L to 260L).map(k => k -> s"n$k")
    assert(Sources.readTable(spark, path).as[(Long, String)].collect().toMap
      == expected)
    val probe = Seq(1L, 2L, 250L)
    assert(Sources.readTableKeyed(spark, path, Seq("k"), probe.map(Seq(_)))
      .as[(Long, String)].collect().toMap == probe.map(k => k -> expected(k)).toMap)
    assert(Sources.readChanges(spark, path, 1L, 2L, Seq("k"))
      .select($"k", $"v", $"_change").as[(Long, String, String)].collect().toSet
      == ((1L to 200L by 3).map(k => (k, s"b$k", "update")) ++
        (201L to 260L).map(k => (k, s"n$k", "insert"))).toSet)
    Sources.compact(spark, path)
    val compactedV = Sources.committedVersions(spark, path).max
    val compactedLayout = filesPerBucket().filter(_._1.startsWith(s"v$compactedV/"))
    assert(compactedLayout.size == 16 && compactedLayout.values.forall(_ == 1),
      s"compacted files per bucket dir: $compactedLayout")
    assert(Sources.readTable(spark, path).as[(Long, String)].collect().toMap
      == expected)
  }

  test("a multi-partition upsert writes exactly the buckets its keys hash to") {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val path = tmp("graft-upsert-touched")
    Sources.upsert((1L to 200L).map(k => (k, s"a$k")).toDF("k", "v"), Seq("k"), path)
    val bucketOf = (1L to 400L).toDF("k")
      .select($"k", pmod(hash($"k"), lit(16)).as("gb")).as[(Long, Int)].collect().toMap
    val wanted = Set(3, 7, 11)
    // updates and inserts, spread over 8 partitions: the touched set is
    // observed per task and merged
    val keys = (1L to 400L).filter(k => wanted(bucketOf(k)))
    assert(keys.exists(_ <= 200L) && keys.exists(_ > 200L))
    Sources.upsert(keys.map(k => (k, s"b$k")).toDF("k", "v").repartition(8),
      Seq("k"), path)
    val v2Buckets = new java.io.File(path, "v2/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gb=")).map(_.getName).toSet
    assert(v2Buckets == wanted.map(b => s"gb=$b"), s"v2 wrote $v2Buckets")
    assert(Sources.readTable(spark, path).as[(Long, String)].collect().toMap ==
      (1L to 200L).map(k => k -> s"a$k").toMap ++ keys.map(k => k -> s"b$k"))
  }

  test("an empty micro-batch upserts as a carry-only version; empty first write reads empty") {
    // idle micro-batches are routine in a foreachBatch deployment
    val path = tmp("graft-upsert-empty")
    Sources.upsert(Seq((1L, "a")).toDF("k", "v"), Seq("k"), path)
    Sources.upsert(spark.emptyDataset[(Long, String)].toDF("k", "v"), Seq("k"), path)
    assert(Sources.readTable(spark, path).as[(Long, String)].collect().toSet
      == Set((1L, "a")))
    val p2 = tmp("graft-upsert-empty2")
    Sources.upsert(spark.emptyDataset[(Long, String)].toDF("k", "v"), Seq("k"), p2)
    assert(Sources.readTable(spark, p2).count() == 0) // schema from manifest
    Sources.upsert(Seq((2L, "b")).toDF("k", "v"), Seq("k"), p2)
    assert(Sources.readTable(spark, p2).as[(Long, String)].collect().toSet
      == Set((2L, "b")))
  }

  test("time travel: the retained predecessor version reads as its exact snapshot") {
    val path = tmp("graft-upsert-tt")
    Sources.upsert(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), path)
    Sources.upsert(Seq((2L, "c"), (3L, "d")).toDF("k", "v"), Seq("k"), path)
    assert(Sources.committedVersions(spark, path) == Seq(1L, 2L))
    assert(Sources.readTableAt(spark, path, 1L).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")), "v1 snapshot must be pre-second-upsert")
    assert(Sources.readTableAt(spark, path, 2L).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "c"), (3L, "d")))
    // a swept version refuses loudly instead of returning wrong data
    val e = intercept[IllegalArgumentException](
      Sources.readTableAt(spark, path, 99L))
    assert(e.getMessage.contains("not a committed version"))
  }

  test("a bucket-reference survivor whose own snapshot was swept is reported, not advertised") {
    import org.apache.spark.sql.functions.{hash, pmod, lit}
    val path = tmp("graft-upsert-sweepref")
    val bucketOf = (1L to 50L).map(k => k ->
      Seq(Tuple1(k)).toDF("k").select(pmod(hash($"k"), lit(16))).as[Int].head()).toMap
    // three keys in three distinct buckets
    val Seq(a, b, c) = (1L to 50L).groupBy(bucketOf).values.map(_.head).take(3).toSeq
    Sources.upsert(Seq((a, "a1"), (b, "b1"), (c, "c1")).toDF("k", "v"), Seq("k"), path) // v1
    Sources.upsert(Seq((a, "a2")).toDF("k", "v"), Seq("k"), path) // v2: refs v1
    Sources.upsert(Seq((b, "b3")).toDF("k", "v"), Seq("k"), path) // v3
    Sources.upsert(Seq((b, "b4"), (c, "c4")).toDF("k", "v"), Seq("k"), path) // v4
    Sources.upsert(Seq((b, "b5")).toDF("k", "v"), Seq("k"), path) // v5 sweeps v1, v3
    // v2's DIR survives (v5 still references its bucket) and carries
    // _SUCCESS — but its own manifest points at swept v1, so as a SNAPSHOT
    // it is gone: it must not be advertised, and reading it must say
    // "swept" instead of failing mid-scan on a missing path
    val dirs = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("v2", "v4", "v5"), s"got $dirs")
    assert(Sources.committedVersions(spark, path) == Seq(4L, 5L))
    val e = intercept[IllegalArgumentException](
      Sources.readTableAt(spark, path, 2L))
    assert(e.getMessage.contains("swept"))
    // the readable snapshots still read exactly
    assert(Sources.readTable(spark, path).as[(Long, String)].collect().toSet
      == Set((a, "a2"), (b, "b5"), (c, "c4")))
    assert(Sources.readTableAt(spark, path, 4L).as[(Long, String)].collect().toSet
      == Set((a, "a2"), (b, "b4"), (c, "c4")))
  }

  test("schema evolution: a new column merge-widens; time travel keeps the old shape") {
    val path = tmp("graft-upsert-evolve")
    Sources.upsert(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), path) // v1 {k,v}
    // v2's batch grows the document with a new field w (aprocess.js:57)
    Sources.upsert(Seq((2L, "c", 9L)).toDF("k", "v", "w"), Seq("k"), path)
    val cur = Sources.readTable(spark, path)
    assert(cur.columns.toSeq == Seq("k", "v", "w"))
    assert(cur.as[(Long, String, Option[Long])].collect().toSet
      == Set((1L, "a", None), (2L, "c", Some(9L))),
      "carried rows must read null for the new column")
    // time travel still reads v1 in its ORIGINAL shape
    assert(Sources.readTableAt(spark, path, 1L).columns.toSeq == Seq("k", "v"))
    // a batch OMITTING w whole-document-replaces: its rows carry null w,
    // and the table schema does not shrink
    Sources.upsert(Seq((2L, "d")).toDF("k", "v"), Seq("k"), path)
    assert(Sources.readTable(spark, path).as[(Long, String, Option[Long])]
      .collect().toSet == Set((1L, "a", None), (2L, "d", None)))
    // a type change refuses loudly (evolution is add-only)
    val e = intercept[IllegalArgumentException](
      Sources.upsert(Seq((3L, 42L)).toDF("k", "v"), Seq("k"), path))
    assert(e.getMessage.contains("cannot change the type"))
  }

  test("schema evolution edge cases: nested nullability, case twins, legacy carry") {
    // 1. re-upserting an IDENTICAL array column must not trip the
    //    type-change guard: the manifest DDL round-trip strips nested
    //    non-nullability, so comparison must be nullability-blind
    val p1 = tmp("graft-upsert-nested")
    Sources.upsert(Seq((1L, Seq(2L, 3L))).toDF("k", "v"), Seq("k"), p1)
    Sources.upsert(Seq((2L, Seq(4L))).toDF("k", "v"), Seq("k"), p1)
    assert(Sources.readTable(spark, p1).as[(Long, Seq[Long])]
      .collect().toSet == Set((1L, Seq(2L, 3L)), (2L, Seq(4L))))
    // 2. a case-twin column name unifies with the existing column (Spark's
    //    case-insensitive resolution) instead of duplicating it in the
    //    recorded DDL — a duplicate would break every later explicit read
    val p2 = tmp("graft-upsert-case")
    Sources.upsert(Seq((1L, "a")).toDF("k", "v"), Seq("k"), p2)
    Sources.upsert(Seq((2L, "b")).toDF("k", "V"), Seq("k"), p2)
    val cur = Sources.readTable(spark, p2)
    assert(cur.columns.map(_.toLowerCase).toSeq == Seq("k", "v"))
    assert(cur.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // ... and a case-twin with a DIFFERENT type still refuses
    val e = intercept[IllegalArgumentException](
      Sources.upsert(Seq((3L, 42L)).toDF("k", "V"), Seq("k"), p2))
    assert(e.getMessage.contains("cannot change the type"))
    // 3. legacy flat-version migration: a NARROWER batch must not shrink
    //    the recorded schema — carried legacy columns stay readable
    val p3 = tmp("graft-upsert-legacy")
    val legacyV1 = new java.io.File(p3, "v1")
    Seq((1L, "a", 7L), (2L, "b", 8L)).toDF("k", "v", "w")
      .coalesce(1).write.parquet(legacyV1.toString)
    new java.io.File(legacyV1, "_SUCCESS").createNewFile()
    Sources.upsert(Seq((2L, "B")).toDF("k", "v"), Seq("k"), p3)
    assert(Sources.readTable(spark, p3).as[(Long, String, Option[Long])]
      .collect().toSet == Set((1L, "a", Some(7L)), (2L, "B", None)))
  }

  test("compact rewrites the snapshot into one self-contained version; lineage then ages out") {
    val path = tmp("graft-upsert-compact")
    Sources.upsert((1L to 64L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), path)
    Sources.upsert(Seq((7L, "u7")).toDF("k", "v"), Seq("k"), path)
    Sources.upsert(Seq((9L, "u9")).toDF("k", "v"), Seq("k"), path)
    val before = Sources.readTable(spark, path)
      .as[(Long, String)].collect().toSet
    Sources.compact(spark, path)
    // identical data; the compacted manifest references ONLY itself
    assert(Sources.readTable(spark, path)
      .as[(Long, String)].collect().toSet == before)
    val compactedV = Sources.committedVersions(spark, path).max
    assert(Sources.readTable(spark, path).inputFiles
      .forall(_.contains(s"/v$compactedV/")),
      "compacted snapshot must be self-contained")
    // the next upsert ages the whole pre-compaction lineage out
    Sources.upsert(Seq((7L, "post")).toDF("k", "v"), Seq("k"), path)
    val dirs = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set(s"v$compactedV", s"v${compactedV + 1}"), s"got $dirs")
    assert(Sources.readTable(spark, path).as[(Long, String)].collect().toSet
      == before - ((7L, "u7")) + ((7L, "post")))
    // CDF still classifies across the compaction boundary: compaction
    // itself is change-free, so the only delta is the post-compaction row
    assert(Sources.readChanges(spark, path, compactedV, compactedV + 1, Seq("k"))
      .select($"k", $"v", $"_change").as[(Long, String, String)]
      .collect().toSet == Set((7L, "post", "update")))
  }

  test("change-data feed: inserts/updates between versions, reading ONLY changed buckets") {
    import org.apache.spark.sql.functions.{hash, pmod, lit}
    val path = tmp("graft-upsert-cdf")
    val base = (1L to 64L).map(k => (k, s"v$k")).toDF("k", "v")
    Sources.upsert(base, Seq("k"), path) // v1 spans many buckets
    // v2: one update (same key, new value), one insert (new key), one
    // REWRITE with identical content (must NOT appear as a change)
    Sources.upsert(Seq((7L, "updated"), (100L, "new"), (9L, "v9"))
      .toDF("k", "v"), Seq("k"), path)
    val ch = Sources.readChanges(spark, path, 1L, 2L, Seq("k"))
    assert(ch.select($"k", $"v", $"_change").as[(Long, String, String)]
      .collect().toSet == Set((7L, "updated", "update"), (100L, "new", "insert")))
    // metadata-first: only the buckets of the touched keys are opened —
    // every input file sits under a gb dir of keys 7, 100 or 9. Match on
    // the FULL path segment ("/gb=N/"): a substring needle like "gb=1"
    // would false-match gb=12..15 and hide real leaks
    def leaks(files: Seq[String], buckets: Set[Int]): Seq[String] =
      files.filterNot(f => buckets.exists(b => f.contains(s"/gb=$b/")))
    val touchedBuckets = Seq(7L, 100L, 9L).map(k =>
      Seq(Tuple1(k)).toDF("k").select(pmod(hash($"k"), lit(16))).as[Int].head()).toSet
    // planted positive: the detector must flag a file in a prefix-sharing
    // untouched bucket (gb=12 while gb=1 is touched), or it is vacuous
    assert(leaks(Seq("/t/v1/data/gb=12/part-0.parquet"), Set(1)).nonEmpty)
    assert(leaks(Seq("/t/v1/data/gb=12/part-0.parquet"), Set(12)).isEmpty)
    val leaked = leaks(ch.inputFiles.toSeq, touchedBuckets)
    assert(leaked.isEmpty, s"CDF opened untouched buckets: $leaked")
    // schema widening across the window: v3 adds column w — a row whose
    // only change is the newly-populated column IS an update
    Sources.upsert(Seq((7L, "updated", 5L)).toDF("k", "v", "w"), Seq("k"), path)
    val ch13 = Sources.readChanges(spark, path, 1L, 3L, Seq("k"))
      .select($"k", $"v", $"w", $"_change")
      .as[(Long, String, Option[Long], String)].collect().toSet
    assert(ch13 == Set((7L, "updated", Some(5L), "update"),
      (100L, "new", None, "insert")))
    // an empty window (same version twice) refuses; a no-change window is empty
    intercept[IllegalArgumentException](
      Sources.readChanges(spark, path, 2L, 2L, Seq("k")))
    assert(Sources.readChanges(spark, path, 2L, 3L, Seq("k"))
      .filter($"k" =!= 7L).count() == 0)
  }

  test("CDF preimages: updates emit both sides; sum maintenance needs no snapshot read") {
    val path = tmp("graft-upsert-cdf-pre")
    Sources.upsert(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "x"),
      Seq("k"), path)
    // v2: one real update (2), one insert (4), one identical rewrite (3)
    Sources.upsert(Seq((2L, 25L), (4L, 40L), (3L, 30L)).toDF("k", "x"),
      Seq("k"), path)
    val ch = Sources.readChanges(spark, path, 1L, 2L, Seq("k"), preimages = true)
    assert(ch.select($"k", $"x", $"_change").as[(Long, Long, String)]
      .collect().toSet == Set((2L, 20L, "update_preimage"),
        (2L, 25L, "update_postimage"), (4L, 40L, "insert")))
    // the IVM contract: view(v1) + (post - pre) == view(v2), no table scan
    import org.apache.spark.sql.functions.when
    val delta = ch.select(when($"_change" === "update_preimage", -$"x")
      .otherwise($"x")).as[Long].collect().sum
    val v1Sum = 10L + 20L + 30L
    val v2Sum = Sources.readTableAt(spark, path, 2)
      .agg(org.apache.spark.sql.functions.sum($"x")).as[Long].head()
    assert(v1Sum + delta == v2Sum)
    // default mode is unchanged by the flag's existence
    assert(Sources.readChanges(spark, path, 1L, 2L, Seq("k"))
      .select($"_change").as[String].collect().toSet == Set("insert", "update"))
  }

  test("property: upsert over random batches ≡ last-write-wins map fold") {
    val rnd = new scala.util.Random(42)
    val path = tmp("graft-upsert-prop")
    var model = Map.empty[Long, String]
    for (i <- 0 until 8) {
      // distinct keys within a batch (a micro-batch arrives pre-reduced,
      // as q38 does with its per-key argmax); keys collide ACROSS batches
      val batch = rnd.shuffle((0L until 30L).toList)
        .take(rnd.nextInt(20) + 1).map(k => (k, s"b$i-$k"))
      // a different numBuckets on later calls must be ignored — the
      // manifest's B from the first write governs the table forever
      Sources.upsert(batch.toDF("k", "v"), Seq("k"), path,
        numBuckets = if (i == 0) 7 else 64)
      model = model ++ batch
      val got = Sources.readTable(spark, path).as[(Long, String)].collect()
      assert(got.length == got.map(_._1).distinct.length,
        s"duplicate keys after batch $i")
      assert(got.toMap == model, s"diverged from model at batch $i")
    }
    // physical invariant: every bucket dir on disk belongs to the 7-bucket
    // keying of the FIRST write
    val buckets = new java.io.File(path).listFiles().filter(_.isDirectory)
      .flatMap(v => Option(new java.io.File(v, "data").listFiles()).getOrElse(Array.empty))
      .filter(f => f.isDirectory && f.getName.startsWith("gb="))
      .map(_.getName.stripPrefix("gb=").toInt)
    assert(buckets.nonEmpty && buckets.forall(b => b >= 0 && b < 7),
      s"bucket ids outside the persisted B=7: ${buckets.toSeq.distinct.sorted}")
  }

  test("a crash mid-bucket-write leaves the prior version fully readable") {
    val path = tmp("graft-upsert-bucket-crash")
    Sources.upsert((1L to 32L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), path)
    // simulate a writer that died after SOME bucket dirs were written but
    // before the version-root _SUCCESS: partial data, partial manifest
    val crashed = new java.io.File(path, "v2/data/gb=3")
    assert(crashed.mkdirs())
    java.nio.file.Files.writeString(crashed.toPath.resolve("part-0.parquet"), "junk")
    val got = Sources.readTable(spark, path).as[(Long, String)].collect().toSet
    assert(got == (1L to 32L).map(k => (k, s"v$k")).toSet,
      "reader must resolve the prior committed version, not the torn write")
    // next upsert numbers past the crashed dir and sweeps it
    Sources.upsert(Seq((1L, "x")).toDF("k", "v"), Seq("k"), path)
    assert(!new java.io.File(path, "v2").exists())
    assert(Sources.readTable(spark, path).filter($"k" === 1L)
      .as[(Long, String)].head() == (1L, "x"))
  }

  test("a crashed (uncommitted) version is invisible and swept by the next upsert") {
    val path = tmp("graft-upsert-crash")
    Sources.upsert(Seq((1L, "a")).toDF("k", "v"), Seq("k"), path)
    // simulate a writer that died before commit: version dir, no _SUCCESS
    val crashed = new java.io.File(path, "v2")
    assert(crashed.mkdirs())
    java.nio.file.Files.writeString(crashed.toPath.resolve("part-junk.parquet"), "junk")
    val got1 = Sources.readTable(spark, path).as[(Long, String)].collect().toSet
    assert(got1 == Set((1L, "a")), "reader must ignore the uncommitted version")
    // the next upsert allocates PAST the crashed dir and sweeps it
    Sources.upsert(Seq((2L, "b")).toDF("k", "v"), Seq("k"), path)
    val got2 = Sources.readTable(spark, path).as[(Long, String)].collect().toSet
    assert(got2 == Set((1L, "a"), (2L, "b")))
    assert(!crashed.exists())
  }

  test("foreachBatch streaming upsert converges to last-write-wins (R5 streaming)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = tmp("graft-upsert-stream")
    val input = MemoryStream[(Long, String)]
    // one checkpoint across both runs: run 2 resumes and processes ONLY the
    // new data (without it, the restart would replay run 1's rows into the
    // same micro-batch and within-batch dedup picks arbitrarily)
    val ckpt = tmp("graft-upsert-ckpt")
    val q = input.toDS().toDF("k", "v").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(Sources.upsertBatch(Seq("k"), path))
      .trigger(Trigger.AvailableNow())
    input.addData(Seq((1L, "a"), (2L, "b")))
    val run1 = q.start(); run1.awaitTermination()
    input.addData(Seq((2L, "c"), (3L, "d")))
    val run2 = q.start(); run2.awaitTermination()
    val got = Sources.readTable(spark, path).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "c"), (3L, "d")))
  }
}
