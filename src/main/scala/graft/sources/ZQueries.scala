package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{Q, Tables}
import ZOrder._
import ZLog.parseIdx

/** The z-store's 35 registered queries (q123–q166) and the stores they
  * read. Each store is built on a query's first call and memoized per
  * (builder, dataset dir) for the JVM's life; [[clearCaches]] drops them
  * all. */
object ZQueries {

  // ---- q123: exact-oracle query over the z-clustered layout ---------------

  private val NumFiles = 32

  /** Every query store, built once per (builder, dataset dir) and JVM —
    * the deployment profile: clustered once, read per pass. `prefix`
    * names both the builder and its fresh temp dir, which `build`
    * receives. One lock and a plain map, so a builder may call another
    * (q137's view reads q136's store); a build that throws stays
    * uncached. */
  private val built = scala.collection.mutable.Map.empty[(String, String), Any]

  private def memo[T](prefix: String, d: String)(build: String => T): T =
    synchronized {
      built.get((prefix, d)) match {
        case Some(v) => v.asInstanceOf[T]
        case None =>
          val v = build(Files.createTempDirectory(prefix).toString)
          built((prefix, d)) = v
          v
      }
    }

  /** The documents columns most query stores are built from. */
  private def docRows(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))

  /** A `ZCatalog` over `root` with namespace `lake`, named by query and
    * root: Spark caches catalog instances by name, so a name may never be
    * re-rooted within a session (a rebuild after [[clearCaches]] gets a
    * fresh root, hence a fresh name). */
  private def lakeCatalog(s: SparkSession, q: String, root: String): String = {
    val cat = s"graft${q}c${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ZCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"CREATE NAMESPACE $cat.lake")
    cat
  }

  /** q123's store: lineitem z-clustered, one appended batch, then a
    * manifest-only compaction. */
  private def storeFor(s: SparkSession, d: String): String =
    memo("graft-zorder", d) { dir =>
      val li = Tables.lineitem(s, d)
      // build + one incremental batch + a manifest-only compaction: the
      // oracle (the plain filter over the WHOLE table) then covers
      // append visibility AND the compacted-epoch read path, not just
      // the initial layout
      writeZOrdered(li.filter(col("l_orderkey") % 10 =!= 9), dir,
        Seq("l_partkey", "l_suppkey"), NumFiles)
      appendZOrdered(li.filter(col("l_orderkey") % 10 === 9), dir,
        Seq("l_partkey", "l_suppkey"), math.max(NumFiles / 10, 1))
      compactManifest(s, dir)
      dir
    }

  /** q133's store: the full table z-clustered, then a partkey band
    * copy-on-write DELETED — the store state every q133 pass reads. */
  private def delStoreFor(s: SparkSession, d: String): String =
    memo("graft-zdelete", d) { dir =>
      val li = Tables.lineitem(s, d)
      writeZOrdered(li, dir, Seq("l_partkey", "l_suppkey"), NumFiles)
      val b = li.agg(min(col("l_partkey")), max(col("l_partkey"))).head()
      val (pmn, pmx) = (b.getLong(0), b.getLong(1))
      deleteZRange(s, dir,
        Seq(("l_partkey", pmn + (pmx - pmn) * 2 / 10,
          pmn + (pmx - pmn) * 3 / 10)),
        Seq("l_partkey", "l_suppkey"))
      dir
    }

  /** q138's store: the documents table z-clustered, then one CDC-style
    * merge applied — a band of "re-crawled" docs (n_chars grown by 1000)
    * plus a slice of brand-new ids beyond the old max. */
  private def mergeStoreFor(s: SparkSession, d: String): String =
    memo("graft-zmerge", d) { dir =>
      val docs = docRows(s, d)
      writeZOrdered(docs, dir, Seq("doc_id", "n_chars"), 8)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (dmn, dmx) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (dmn + (dmx - dmn) * 2 / 10, dmn + (dmx - dmn) * 3 / 10)
      val upd = docs.filter(col("doc_id").between(lo, hi))
        .withColumn("n_chars", col("n_chars") + lit(1000L))
      val ins = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + lit(dmx + 1))
      mergeByKey(s, dir, upd.unionByName(ins), "doc_id",
        Seq("doc_id", "n_chars"), 4)
      dir
    }

  /** q136's store: a documents z-store with a build slice then one
    * appended batch, history kept in ONE epoch (no compaction) so the
    * change feed has a live base coordinate. */
  private def cdfStoreFor(s: SparkSession, d: String): String =
    memo("graft-zcdf", d) { dir =>
      val docs = docRows(s, d)
      writeZOrdered(docs.filter(col("doc_id") % 10 =!= 9), dir,
        Seq("n_chars", "doc_id"), 8)
      appendZOrdered(docs.filter(col("doc_id") % 10 === 9), dir,
        Seq("n_chars", "doc_id"), 2)
      dir
    }

  /** q137's materialized base view over q136's store: the per-lang
    * aggregate at coordinate (e0, v0), persisted once — the artifact an
    * incremental refresh starts from instead of re-scanning the base. */
  private def viewStoreFor(s: SparkSession, d: String): String =
    memo("graft-zview", d) { vdir =>
      val root = cdfStoreFor(s, d)
      readSnapshotAt(s, root, 0, 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/v0")
      vdir
    }

  /** q140's store: documents in THREE committed versions of one epoch —
    * build (v0) + two appends (v1, v2) sliced by doc_id mod 3, so the
    * change-feed stream's version→rows mapping is pure SQL. */
  private def zcdfStreamStoreFor(s: SparkSession, d: String): String =
    memo("graft-zcdfstream", d) { dir =>
      val docs = docRows(s, d)
      writeZOrdered(docs.filter(col("doc_id") % 3 === 0), dir,
        Seq("n_chars", "doc_id"), 4)
      appendZOrdered(docs.filter(col("doc_id") % 3 === 1), dir,
        Seq("n_chars", "doc_id"), 2)
      appendZOrdered(docs.filter(col("doc_id") % 3 === 2), dir,
        Seq("n_chars", "doc_id"), 2)
      dir
    }

  /** Drop every query store and the store's read caches (cold-run
    * probes): the next call of any query rebuilds its store. */
  def clearCaches(): Unit = {
    synchronized(built.clear())
    ZOrder.clearCaches()
  }

  /** q123: selective two-column range read THROUGH the z-clustered layout —
    * a 10%-band on `l_partkey` × a 10%-band on `l_suppkey` (bounds derived
    * from the data, integer floor arithmetic both engines). Oracle = the
    * plain filter over the source table, so a manifest that wrongly
    * skipped a file, a broken residual filter, or a row lost in the
    * re-layout all hash-fail. The pruning itself (both single-column
    * bands open a fraction of the files; the linear baseline cannot) is
    * pinned in ZOrderSpec — an oracle can't see I/O. */
  val q123ZOrderRead: Q = Q(
    "q123_zorder_read",
    """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx,
      |    MIN(l_suppkey) AS smn, MAX(l_suppkey) AS smx FROM lineitem)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
      |  l.l_quantity
      |FROM lineitem l, b
      |WHERE l.l_partkey BETWEEN b.pmn + (b.pmx-b.pmn)*2//10
      |                      AND b.pmn + (b.pmx-b.pmn)*3//10
      |  AND l.l_suppkey BETWEEN b.smn + (b.smx-b.smn)*4//10
      |                      AND b.smn + (b.smx-b.smn)*5//10
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
  ) { (s, d) =>
    val dir = storeFor(s, d)
    val b = Tables.lineitem(s, d).agg(
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val (pmn, pmx, smn, smx) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    readZRange(s, dir, Seq(
        ("l_partkey", pmn + (pmx - pmn) * 2 / 10, pmn + (pmx - pmn) * 3 / 10),
        ("l_suppkey", smn + (smx - smn) * 4 / 10, smn + (smx - smn) * 5 / 10)))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q139: metadata-only COUNT through the z-store ([[countZRange]]) —
    * a half-table `l_partkey` band counted over q123's store (build +
    * append + manifest compaction): interior files charge their recorded
    * footer row counts to the manifest, boundary files scan with the
    * residual filter. Oracle = the plain COUNT over the source table, so
    * a manifest count drifting from the data (harvest bug, carried-row
    * mishandling through the compaction) or an unsound coverage decision
    * (nulls, boundary files) hash-fails. The no-open claim for covered
    * files is pinned in ZOrderSpec (count survives a physically deleted
    * covered file); an oracle can't see I/O. */
  val q139ZOrderCount: Q = Q(
    "q139_zorder_count",
    """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx
      |  FROM lineitem)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem l, b
      |WHERE l.l_partkey BETWEEN b.pmn
      |                      AND b.pmn + (b.pmx-b.pmn)*5//10""".stripMargin,
  ) { (s, d) =>
    import s.implicits._
    val dir = storeFor(s, d)
    val b = Tables.lineitem(s, d).agg(
      min(col("l_partkey")), max(col("l_partkey"))).head()
    val (pmn, pmx) = (b.getLong(0), b.getLong(1))
    Seq(countZRange(s, dir,
      Seq(("l_partkey", pmn, pmn + (pmx - pmn) * 5 / 10)))).toDF("n")
  }

  /** q144: metadata-only MIN/MAX through the z-store ([[minMaxZRange]]) —
    * the same half-table `l_partkey` band as q139, aggregating both the
    * predicate column and the second cluster column: interior files
    * charge their recorded footer extremes to the manifest, boundary
    * files scan with the residual filter. Oracle = the plain MIN/MAX
    * over the source table, so a stat drifting from the data (truncated
    * or widened bound trusted, carried-row mishandling through the
    * compaction) or an unsound coverage decision hash-fails. The no-open
    * claim for charged files is pinned in ZOrderSpec (the aggregate
    * survives a physically deleted charged file); an oracle can't see
    * I/O. */
  val q144ZOrderMinMax: Q = Q(
    "q144_zorder_minmax",
    """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx
      |  FROM lineitem)
      |SELECT CAST(MIN(l.l_suppkey) AS BIGINT) AS mn_l_suppkey,
      |  CAST(MAX(l.l_suppkey) AS BIGINT) AS mx_l_suppkey,
      |  CAST(MIN(l.l_partkey) AS BIGINT) AS mn_l_partkey,
      |  CAST(MAX(l.l_partkey) AS BIGINT) AS mx_l_partkey
      |FROM lineitem l, b
      |WHERE l.l_partkey BETWEEN b.pmn
      |                      AND b.pmn + (b.pmx-b.pmn)*5//10""".stripMargin,
  ) { (s, d) =>
    val dir = storeFor(s, d)
    val b = Tables.lineitem(s, d).agg(
      min(col("l_partkey")), max(col("l_partkey"))).head()
    val (pmn, pmx) = (b.getLong(0), b.getLong(1))
    minMaxZRange(s, dir, Seq("l_suppkey", "l_partkey"),
      Seq(("l_partkey", pmn, pmn + (pmx - pmn) * 5 / 10)))
  }

  /** q145: the commit log surfaced as data ([[describeHistory]] —
    * Delta's DESCRIBE HISTORY) — a deterministic lifecycle (create, two
    * appends, a derived-band delete, a keyed merge, a manifest
    * compaction) whose commit TOPOLOGY is the operator's observable
    * output: appends land as versions of the creating epoch, every
    * rewrite opens the next epoch at v0. Oracle = the expected history
    * as a VALUES literal — exact in the q140 sense (coordinates are
    * deterministic by construction), so drift in version allocation,
    * epoch numbering, op recording, or the history read hash-fails.
    * The op labels across rollforward/recluster and the orphan-sidecar
    * vacuum are pinned in ZOrderSpec. */
  val q145ZOrderHistory: Q = Q(
    "q145_zorder_history",
    """SELECT CAST(epoch AS BIGINT) AS epoch, CAST(ver AS BIGINT) AS ver,
      |  op
      |FROM (VALUES (0, 0, 'create'), (0, 1, 'append'), (0, 2, 'append'),
      |             (1, 0, 'delete'), (2, 0, 'merge'),
      |             (3, 0, 'manifest-compact')) AS t(epoch, ver, op)
      |ORDER BY epoch, ver""".stripMargin,
  ) { (s, d) =>
    describeHistory(s, histStoreFor(s, d))
  }

  /** q145's store: the six-op lifecycle, built ONCE per dataset dir (the
    * storeFor discipline — the operator under test is the metadata-plane
    * [[describeHistory]], not the build; the lifecycle's commit topology
    * is deterministic, so the cached store answers every pass). */
  private def histStoreFor(s: SparkSession, d: String): String =
    memo("graft-zhist", d) { dir =>
      val t = Tables.documents(s, d).select(col("doc_id"),
        col("n_chars").cast("long").as("len"))
      writeZOrdered(t.filter(col("doc_id") % 3 === 0), dir,
        Seq("len", "doc_id"), 4)
      appendZOrdered(t.filter(col("doc_id") % 3 === 1), dir,
        Seq("len", "doc_id"), 2)
      appendZOrdered(t.filter(col("doc_id") % 3 === 2), dir,
        Seq("len", "doc_id"), 2)
      val b = t.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      deleteZRange(s, dir, Seq(("doc_id", mn, mn)), Seq("len", "doc_id"))
      val src = t.filter(col("doc_id") === mn + 1)
        .select(col("doc_id"), lit(1L).as("len"))
        .union(t.filter(col("doc_id") === mn + 1)
          .select((col("doc_id") + mx + 1L).as("doc_id"), col("len")))
      mergeByKey(s, dir, src, "doc_id", Seq("len", "doc_id"))
      compactManifest(s, dir)
      dir
    }

  /** q142's store: documents with a synthetic high-cardinality
    * NON-CLUSTERED key `uk = (doc_id * 2654435761) % 100003` (a Knuth
    * multiplicative hash — pure integer arithmetic, so the oracle
    * mirrors it exactly), z-clustered on (n_chars, doc_id) so uk ranges
    * overlap in every file, bloom sidecars built on uk. */
  private def bloomStoreFor(s: SparkSession, d: String): String =
    memo("graft-zbloom", d) { dir =>
      val t = Tables.documents(s, d).select(col("doc_id"),
        ((col("doc_id") * lit(2654435761L)) % lit(100003L)).as("uk"),
        col("n_chars"))
      writeZOrdered(t, dir, Seq("n_chars", "doc_id"), 8)
      buildBloomIndex(s, dir, "uk")
      dir
    }

  /** q142: POINT LOOKUP on a non-clustered column through the bloom
    * sidecar index ([[readZPoint]]) — probe value = the minimum doc's
    * uk, derived by the same arithmetic both engines run. Oracle = the
    * plain equality filter over the source table, so a bloom that
    * wrongly excluded a matching file (the unsound direction), a broken
    * residual filter, or a hash/probe mismatch all hash-fail. The
    * files-opened ∝ matches claim is pinned in ZOrderSpec — an oracle
    * can't see I/O. */
  val q142ZOrderPoint: Q = Q(
    "q142_zorder_point",
    """WITH b AS (SELECT MIN(doc_id) AS dmn FROM documents)
      |SELECT d.doc_id, (d.doc_id * 2654435761) % 100003 AS uk, d.n_chars
      |FROM documents d, b
      |WHERE (d.doc_id * 2654435761) % 100003
      |      = (b.dmn * 2654435761) % 100003
      |ORDER BY d.doc_id""".stripMargin,
  ) { (s, d) =>
    val dir = bloomStoreFor(s, d)
    val dmn = Tables.documents(s, d).agg(min(col("doc_id"))).head().getLong(0)
    readZPoint(s, dir, "uk", (dmn * 2654435761L) % 100003L)
      .select(col("doc_id"), col("uk"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q133: range DELETE through the z-store — build the full table
    * z-clustered, copy-on-write delete a 10%-band on `l_partkey`
    * ([[deleteZRange]]: stats-pruned rewrite, epoch-swap commit), then
    * answer a `l_suppkey` band query through the post-delete snapshot.
    * Oracle = the plain suppkey-band filter EXCLUDING the deleted
    * partkey band, so a row surviving the delete, a row wrongly deleted
    * (carried-file mishandling), or a file lost in the rewrite all
    * hash-fail. The carry-by-reference I/O shape (unaffected files are
    * re-pointed, not rewritten) is pinned in ZOrderSpec — an oracle
    * can't see I/O. */
  val q133ZOrderDelete: Q = Q(
    "q133_zorder_delete",
    """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx,
      |    MIN(l_suppkey) AS smn, MAX(l_suppkey) AS smx FROM lineitem)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
      |  l.l_quantity
      |FROM lineitem l, b
      |WHERE l.l_suppkey BETWEEN b.smn + (b.smx-b.smn)*4//10
      |                      AND b.smn + (b.smx-b.smn)*5//10
      |  AND NOT (l.l_partkey BETWEEN b.pmn + (b.pmx-b.pmn)*2//10
      |                           AND b.pmn + (b.pmx-b.pmn)*3//10)
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
  ) { (s, d) =>
    val dir = delStoreFor(s, d)
    val b = Tables.lineitem(s, d).agg(
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val (smn, smx) = (b.getLong(0), b.getLong(1))
    readZRange(s, dir, Seq(
        ("l_suppkey", smn + (smx - smn) * 4 / 10, smn + (smx - smn) * 5 / 10)))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q134: TIME TRAVEL — answer q123's partkey band at epoch 0 version 0,
    * i.e. the store state BEFORE the incremental append (and before the
    * manifest compaction that moved the current snapshot to a new epoch).
    * Oracle = the band filter restricted to the build slice
    * (`l_orderkey % 10 != 9`), so a travel read that leaks the appended
    * batch, loses a build row, or resolves the wrong coordinate
    * hash-fails. Shares q123's store (build → append → compactManifest),
    * which is exactly what makes the coordinate meaningful. */
  val q134ZOrderTimeTravel: Q = Q(
    "q134_zorder_time_travel",
    """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx
      |  FROM lineitem)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
      |  l.l_quantity
      |FROM lineitem l, b
      |WHERE l.l_orderkey % 10 != 9
      |  AND l.l_partkey BETWEEN b.pmn + (b.pmx-b.pmn)*2//10
      |                      AND b.pmn + (b.pmx-b.pmn)*3//10
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
  ) { (s, d) =>
    val dir = storeFor(s, d)
    val b = Tables.lineitem(s, d).agg(
      min(col("l_partkey")), max(col("l_partkey"))).head()
    val (pmn, pmx) = (b.getLong(0), b.getLong(1))
    readZRangeAt(s, dir, 0, 0, Seq(
        ("l_partkey", pmn + (pmx - pmn) * 2 / 10, pmn + (pmx - pmn) * 3 / 10)))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q136: CHANGE FEED — tail the rows a z-store append added after a
    * committed base coordinate ([[readChangesSince]]): build slice at
    * (e0, v0), one appended batch at v1, delta-since-(0,0) ≡ exactly the
    * appended slice. Oracle = the plain filter to the appended slice, so
    * a delta that leaks base rows (bogus-base validation), misses
    * appended rows, or double-counts a file hash-fails. The refusal
    * shapes (cross-epoch, bogus base) are pinned in ZOrderSpec. */
  val q136ZOrderChangeFeed: Q = Q(
    "q136_zorder_change_feed",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 10 = 9 ORDER BY doc_id""".stripMargin,
  ) { (s, d) =>
    readChangesSince(s, cdfStoreFor(s, d), 0, 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q137: INCREMENTAL VIEW MAINTENANCE over the change feed — what
    * [[readChangesSince]] exists FOR: a per-lang aggregate view is
    * materialized once at the base coordinate (e0, v0), and the refresh
    * after the append is `view ⊎ agg(delta)` — the refresh plan reads the
    * tiny view parquet plus O(delta files), NEVER the base data (pinned
    * via `inputFiles` in ZOrderSpec with the full-re-agg planted
    * positive; q100 is the keyed upsert-CDF sibling — this is the
    * append-only fact-stream form, where the delta is inserts-only so
    * the merge is a pure additive union). Oracle = the straight
    * aggregate over the WHOLE table: a refresh that misses delta rows,
    * double-counts, or drifts from the base view hash-fails. */
  val q137ZOrderIvm: Q = Q(
    "q137_zorder_ivm",
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
  ) { (s, d) =>
    val root = cdfStoreFor(s, d)
    val base = s.read.parquet(s"${viewStoreFor(s, d)}/v0")
    val delta = readChangesSince(s, root, 0, 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
    base.unionByName(delta).groupBy(col("lang"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("sum_chars")).cast("long").as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** q138: keyed copy-on-write MERGE through the z-store — build the
    * documents table z-clustered, apply ONE CDC-style merge
    * ([[mergeByKey]]: a doc_id band of whole-row updates + a slice of
    * beyond-max inserts, per-key stats-pruned rewrite, epoch-swap
    * commit), then answer the full-table query through the post-merge
    * snapshot. Oracle = unchanged ∪ updated ∪ inserted as plain SQL, so a
    * lost update, a surviving stale row (carried-file mishandling), a
    * dropped insert, or a row lost in the rewrite all hash-fail. The
    * carry-by-reference I/O shape and the refusal/null edges are pinned
    * in ZOrderSpec — an oracle can't see I/O. */
  val q138ZOrderMerge: Q = Q(
    "q138_zorder_merge",
    """WITH b AS (SELECT MIN(doc_id) AS dmn, MAX(doc_id) AS dmx
      |  FROM documents)
      |SELECT d.doc_id, d.lang, d.n_chars FROM documents d, b
      |WHERE NOT (d.doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*2//10
      |                        AND b.dmn + (b.dmx-b.dmn)*3//10)
      |UNION ALL
      |SELECT d.doc_id, d.lang, d.n_chars + 1000 AS n_chars
      |FROM documents d, b
      |WHERE d.doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*2//10
      |                   AND b.dmn + (b.dmx-b.dmn)*3//10
      |UNION ALL
      |SELECT d.doc_id + b.dmx + 1 AS doc_id, d.lang, d.n_chars
      |FROM documents d, b
      |WHERE d.doc_id % 5 = 0
      |ORDER BY doc_id""".stripMargin,
  ) { (s, d) =>
    readSnapshot(s, mergeStoreFor(s, d))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q140: STREAMING change feed — tail the z-store's commit log with the
    * graft-zcdf DSv2 source ([[ZcdfStream]]): three committed versions
    * (build + two appends, sliced by doc_id mod 3) consumed at
    * maxVersionsPerTrigger=1, each row stamped with its `_ver` commit
    * coordinate. Oracle: version ≡ doc_id % 3 by construction, so a
    * stream that re-emits a version, misses one, drops rows inside a
    * version, or mislabels coordinates hash-fails. Restart-mid-epoch
    * resume and the cross-epoch full-refresh refusal are pinned in
    * StreamingSpec — a bounded run can't show them. */
  val q140ZcdfStream: Q = Q(
    "q140_zcdf_stream",
    """SELECT CAST(doc_id % 3 AS BIGINT) AS ver, doc_id, lang, n_chars
      |FROM documents ORDER BY ver, doc_id""".stripMargin,
  ) { (s, d) =>
    val dir = zcdfStreamStoreFor(s, d)
    val out = Files.createTempDirectory("graft-zcdfout").toString
    val q = s.readStream.format("graft-zcdf")
      .option("startingVersion", "earliest")
      .option("maxVersionsPerTrigger", "1")
      .load(dir)
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/data")
      .select(col("_ver").as("ver"), col("doc_id"), col("lang"),
        col("n_chars"))
      .orderBy(col("ver"), col("doc_id"))
  }

  // ---- q132: continuous z-store ingest (exactly-once) ---------------------

  /** One z-ingest micro-batch: derive the clustering keys, append the
    * batch under its TAG, then answer the STANDING band query through the
    * store — the q117 append-then-answer shape for the fifth persisted
    * store. Run exactly-once by [[StoreMaint.applyOnce]]; the
    * marker-missed window (crash after the version commit, before the
    * marker) is closed by the batch TAG riding the manifest version —
    * the z-store's rows aren't functional in a key, so duplicate-tolerant
    * reads can't absorb a re-append the way the other four stores do;
    * the tag makes the re-append itself a no-op. */
  private[graft] def ingestBatch(s: SparkSession, root: String,
      df: DataFrame, id: Long, lo: Long, hi: Long,
      rowCap: Long = 4096L): Unit =
    StoreMaint.applyOnce(s, root, id, StoreMaint.batchPartitions(s, rowCap)) {
      val store = s"$root/store"
      appendZOrdered(
        df.select(col("doc_id"),
          length(col("text")).cast("long").as("k1"),
          pmod(col("doc_id"), lit(997L)).as("k2")),
        store, Seq("k1", "k2"), 2, tag = Some(s"b$id"))
      readZRange(s, store, Seq(("k1", lo, hi)))
        .select(col("doc_id"), col("k1"), col("k2"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/out/batch=$id")
    }

  /** q132: CONTINUOUS z-store ingest — documents arrive over the
    * graft-shards stream (explicit doc_id-mod routing) in two
    * rate-limited micro-batches; each derives clustering keys
    * (k1 = text length, k2 = doc_id mod 997 — both engine-mirrorable),
    * z-appends itself to the store (which starts EMPTY), and answers the
    * standing k1-band query through the manifest-pruned read, so batch
    * b's rows are the store state after batches ≤ b. EXACT oracle by the
    * q108/q117 recipe: batch membership is rank-in-shard div limit in
    * SQL, the band bounds derive from the full corpus, and the per-batch
    * answer is the plain filter over member docs — a double-appended
    * batch (broken tag/marker), a lost batch, a wrongly-pruned file, or
    * a broken residual filter all hash-fail. Completes the symmetry:
    * all FIVE persisted stores have exactly-once streaming ingest. */
  val q132ZOrderStreamIngest: Q = Q(
    "q132_zorder_stream_ingest",
    s"""WITH b0 AS (SELECT MIN(LENGTH(text)) AS mn, MAX(LENGTH(text)) AS mx
       |  FROM documents),
       |${StoreMaint.batchedCte("documents", "doc_id")},
       |bs AS (SELECT DISTINCT batch FROM batched),
       |member AS (
       |  SELECT bs.batch, bt.doc_id FROM bs JOIN batched bt ON bt.batch <= bs.batch)
       |SELECT m.batch, d.doc_id, LENGTH(d.text) AS k1, d.doc_id % 997 AS k2
       |FROM member m JOIN documents d USING (doc_id), b0
       |WHERE LENGTH(d.text) BETWEEN b0.mn + (b0.mx - b0.mn) * 3 // 10
       |                         AND b0.mn + (b0.mx - b0.mn) * 7 // 10
       |ORDER BY m.batch, d.doc_id""".stripMargin,
  ) { (s, d) =>
    val (docs, rowCap) = StoreMaint.shardStream(s,
      GraftShards.documentsShards(s, d), GraftShards.DocWire)
    // the standing band derives from the full corpus — a constant of the
    // deployment, mirrored by the oracle's b0 CTE
    val b = Tables.documents(s, d)
      .agg(min(length(col("text"))), max(length(col("text")))).head()
    val (mn, mx) = (b.getInt(0).toLong, b.getInt(1).toLong)
    val (lo, hi) = (mn + (mx - mn) * 3 / 10, mn + (mx - mn) * 7 / 10)
    val root = Files.createTempDirectory("graft-zorder-ingest").toString
    StoreMaint.run(s, docs, root)(ingestBatch(s, root, _, _, lo, hi, rowCap))
      .select(col("batch"), col("doc_id"), col("k1"), col("k2"))
      .orderBy(col("batch"), col("doc_id"))
  }

  // ---- q143: CONTINUOUS IVM over the change-feed stream -------------------

  /** One streaming-IVM micro-batch: fold the change-feed delta into the
    * materialized view — `view(v) = view(v-1) ⊎ agg(delta(v))`, the
    * q137 refresh as a CONTINUOUS loop. The view is versioned by the
    * COMMIT COORDINATE it covers (not the Spark batch id), so a
    * replayed batch recomputes v from the same v-1 + the same delta and
    * overwrites the same dir — deterministic content makes the replay a
    * no-op even without the marker; the marker still short-circuits it.
    * The refresh plan reads the previous view (rows ≤ #langs) plus the
    * batch's own delta rows — structurally never the base store (the
    * delta arrives FROM the source; nothing here can touch base files). */
  private[graft] def ivmBatch(s: SparkSession, root: String,
      df: DataFrame, id: Long): Unit =
    // literal pin kept: admission here is maxVersionsPerTrigger (no row
    // cap exists to derive from) and the fold reduces to <= #langs rows
    // regardless of delta volume — a deployment with huge deltas raises
    // spark.sql.shuffle.partitions around the stream instead
    StoreMaint.applyOnce(s, root, id, 4) {
      import s.implicits._
      // fold PER VERSION, resolving the previous state from what EXISTS:
      // committed version numbers are not contiguous (claimNextVersion
      // skips a crashed claimant's number) and maxVersionsPerTrigger>1
      // puts several commits in one micro-batch — `view/v(ver-1)` may
      // be a nonexistent path, or the batch may span versions (the r10
      // advisor finding). The previous view is the highest existing
      // `view/v*` BELOW the batch's first version; each version's delta
      // then folds in commit order, every covered state still keyed by
      // its own commit coordinate (replay-deterministic as before).
      // ONE aggregate-collect serves the emptiness probe, the version
      // list AND every version's delta (was a distinct-collect + one
      // groupBy job per version): the fold's input is ≤ #versions×#langs
      // rows, and slicing groupBy(ver, lang) per version is the same
      // count/sum algebra as the former per-version groupBy(lang) (r17;
      // guide §1.2 fewer passes). The view states stay COLLECTED rows —
      // the per-version fold writes LocalRelations.
      val deltaRows = df.groupBy(col(ZcdfStream.VerCol).as("__v"), col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3))))
      val vers = deltaRows.map(_._1).distinct.sorted
      if (vers.nonEmpty) {
        val viewDir = new Path(s"$root/view")
        val fs = StoreMaint.fsFor(s, viewDir)
        val prevVer: Option[Long] =
          if (!fs.exists(viewDir)) None
          else fs.listStatus(viewDir).filter(_.isDirectory)
            .flatMap(st => parseIdx(st.getPath.getName, "v"))
            .filter(_ < vers.head).maxOption
        var prev: Seq[(String, Long, Long)] = prevVer match {
          case Some(pv) => s.read.parquet(s"$root/view/v$pv")
            .select(col("lang"), col("n_docs"), col("sum_chars")).collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
          case None => Seq.empty
        }
        def viewDf(rows: Seq[(String, Long, Long)]): DataFrame =
          rows.toDF("lang", "n_docs", "sum_chars")
        val states = vers.map { ver =>
          val delta = deltaRows.filter(_._1 == ver).map(_._2).toSeq
          val merged = (prev ++ delta).groupBy(_._1).map { case (lang, xs) =>
            (lang, xs.map(_._2).sum, xs.map(_._3).sum)
          }.toSeq.sortBy(_._1)
          viewDf(merged).coalesce(1).write
            .mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$root/view/v$ver")
          prev = merged
          merged.map { case (lang, n, sc) => (ver, lang, n, sc) }
        }
        states.toSeq.flatten
          .toDF("ver", "lang", "n_docs", "sum_chars").coalesce(1).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$root/out/batch=$id")
      }
    }

  /** q143: CONTINUOUS incremental view maintenance — the composition the
    * graft-zcdf source exists for, and the streaming completion of
    * q137's batch refresh: the per-lang aggregate view is maintained by
    * tailing the z-store's commit log version-per-trigger and folding
    * each delta into the previous view state (`view ⊎ agg(delta)` — the
    * Delta "CDF → aggregate view" pattern). Output is every view STATE
    * keyed by the commit coordinate it covers, so the oracle replays the
    * cumulative aggregates per version in SQL (version ≡ doc_id % 3 by
    * the store's construction) — a missed delta, a double-fold, or a
    * state keyed to the wrong coordinate all hash-fail. Exactly-once is
    * the marker + coordinate-keyed deterministic view write;
    * StreamingSpec pins checkpoint-restart resume (views re-derived for
    * NEW versions only). */
  val q143ZcdfIvm: Q = Q(
    "q143_zcdf_ivm",
    """WITH vs AS (SELECT 0 AS ver UNION ALL SELECT 1 UNION ALL SELECT 2)
      |SELECT CAST(v.ver AS BIGINT) AS ver, d.lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
      |FROM vs v JOIN documents d ON d.doc_id % 3 <= v.ver
      |GROUP BY v.ver, d.lang
      |ORDER BY ver, d.lang""".stripMargin,
  ) { (s, d) =>
    val dir = zcdfStreamStoreFor(s, d)
    val root = Files.createTempDirectory("graft-zcdfivm").toString
    val deltas = s.readStream.format("graft-zcdf")
      .option("startingVersion", "earliest")
      .option("maxVersionsPerTrigger", "1")
      .load(dir)
    StoreMaint.run(s, deltas, root)(ivmBatch(s, root, _, _))
      .select(col("ver"), col("lang"), col("n_docs"), col("sum_chars"))
      .orderBy(col("ver"), col("lang"))
  }

  // ---- q141: CDC-apply streaming MERGE loop (exactly-once) ----------------

  /** One CDC-apply micro-batch — Delta's "merge in foreachBatch" pattern:
    * reduce the batch to its LAST row per key (a CDC batch can carry two
    * versions of one key; replaying them as separate merges would be
    * order-dependent — the within-batch argmax is the standard dedupe),
    * apply it as a keyed copy-on-write [[mergeByKey]] under the batch
    * TAG, then dump the post-merge snapshot. Run exactly-once by
    * [[StoreMaint.applyOnce]]; the marker-missed window is closed by the
    * tag riding the merge's own epoch commit (a replayed tagged merge
    * no-ops), as in q132. */
  private[graft] def mergeIngestBatch(s: SparkSession, root: String,
      df: DataFrame, id: Long, rowCap: Long = 4096L): Unit =
    StoreMaint.applyOnce(s, root, id, StoreMaint.batchPartitions(s, rowCap)) {
      import org.apache.spark.sql.expressions.Window
      val store = s"$root/store"
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("version").desc, col("doc_id"))
      val latest = df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      // no pre-flight emptiness probe: mergeByKey's own source aggregate
      // already returns MergeResult(0, 0) without committing on an empty
      // batch — the probe was one redundant job per micro-batch (r16)
      prf("q141.mergeByKey")(
        mergeByKey(s, store, latest, "doc_id", Seq("doc_id", "n_chars"), 2,
          tag = Some(s"b$id")))
      prf("q141.snapshotDump")(readSnapshot(s, store)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/out/batch=$id"))
    }

  /** q141: CONTINUOUS CDC apply — a keyed change stream (two waves:
    * doc_id%7 re-crawls at +1000 chars as version 0, doc_id%5 at +5000
    * as version 1, overlapping at %35 to exercise last-writer-wins)
    * arrives over graft-shards in two rate-limited micro-batches and is
    * applied to a base z-store via [[mergeByKey]] in foreachBatch — the
    * sixth exactly-once ingest loop, completing Delta's
    * merge-in-foreachBatch shape on the z-store. EXACT oracle by the
    * q132 recipe: micro-batch membership is rank-in-shard div limit in
    * SQL, and each batch's dump is the full post-merge snapshot, i.e.
    * per doc the LAST change with batch ≤ b else the base row — a lost
    * update, a double-applied batch, stale-row survival, or broken
    * within-batch LWW all hash-fail. */
  val q141ZOrderCdcMerge: Q = Q(
    "q141_zorder_cdc_merge",
    s"""WITH cdc AS (
       |  SELECT doc_id, 0 AS version, n_chars + 1000 AS nc
       |  FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id, 1 AS version, n_chars + 5000 AS nc
       |  FROM documents WHERE doc_id % 5 = 0),
       |${StoreMaint.batchedCte("cdc", "doc_id", "version, doc_id", Seq("version", "nc"))},
       |bs AS (SELECT DISTINCT batch FROM batched),
       |applied AS (
       |  SELECT bs.batch, bt.doc_id, bt.nc,
       |    ROW_NUMBER() OVER (PARTITION BY bs.batch, bt.doc_id
       |      ORDER BY bt.version DESC) AS rn
       |  FROM bs JOIN batched bt ON bt.batch <= bs.batch)
       |SELECT b.batch, d.doc_id, d.lang,
       |  COALESCE(a.nc, d.n_chars) AS n_chars
       |FROM bs b CROSS JOIN documents d
       |LEFT JOIN (SELECT batch, doc_id, nc FROM applied WHERE rn = 1) a
       |  ON a.batch = b.batch AND a.doc_id = d.doc_id
       |ORDER BY b.batch, d.doc_id""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.types.LongType
    val docs = docRows(s, d)
    val cdc = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") + 1000L).as("n_chars"), lit(0L).as("version"))
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 5000L).as("n_chars"), lit(1L).as("version")))
    val root = Files.createTempDirectory("graft-zcdcmerge").toString
    // the base store the stream merges into
    prf("q141.baseStore")(
      writeZOrdered(docs, s"$root/store", Seq("doc_id", "n_chars"), 4))
    // the CDC stream: doc-routed shards, seq ordered by (version, doc_id)
    val shardDir = s"$root/shards"
    prf("q141.shardWrite")(
      GraftShards.writeShardedBy(cdc, shardDir, GraftShards.NumShards,
        pmod(col("doc_id"), lit(GraftShards.NumShards.toLong)),
        Seq(col("version"), col("doc_id"))))
    // metadata-only: the chunk names of the layout just written above
    // carry the per-shard record count (GraftShards.maxShardCount)
    val cdcWire = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("version", LongType)))
    val (changes, rowCap) = prf("q141.maxShardCnt")(
      StoreMaint.shardStream(s, shardDir, cdcWire))
    prf("q141.streamWall")(
      StoreMaint.run(s, changes, root)(mergeIngestBatch(s, root, _, _, rowCap)))
      .select(col("batch"), col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("batch"), col("doc_id"))
  }

  // ---- q146: RESTORE to a past snapshot ------------------------------------

  /** q146's store: documents z-clustered, then an (errant) band delete,
    * then a RESTORE to the pre-delete coordinate — the rollback-a-bad-
    * maintenance-op lifecycle every lakehouse eventually runs. */
  private def restoreStoreFor(s: SparkSession, d: String): String =
    memo("graft-zrestore", d) { dir =>
      val docs = docRows(s, d)
      writeZOrdered(docs, dir, Seq("doc_id", "n_chars"), 4) // (e0, v0)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val n = deleteZRange(s, dir,
        Seq(("doc_id", mn + (mx - mn) * 2 / 10, mn + (mx - mn) * 3 / 10)),
        Seq("doc_id", "n_chars"))
      require(n > 0, "q146 store: the errant delete deleted nothing")
      restoreTo(s, dir, 0, 0)
      dir
    }

  /** q146: RESTORE — roll the store back to the coordinate before a bad
    * range delete ([[restoreTo]]): zero data I/O (the new epoch re-points
    * the original files by reference — spec-pinned), audit trail intact.
    * Oracle = the PLAIN full table: a restore that leaks the delete,
    * drops a row, re-points a wrong file, or resolves the wrong
    * coordinate hash-fails. The refusal shapes (vacuumed files, bogus
    * coordinates) are pinned in ZOrderSpec. */
  val q146ZOrderRestore: Q = Q(
    "q146_zorder_restore",
    "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
  ) { (s, d) =>
    readSnapshot(s, restoreStoreFor(s, d))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q147: copy-on-write predicate UPDATE --------------------------------

  /** q147's store: documents z-clustered, then a band UPDATE (re-tag the
    * language, bump the char count) — the in-place-correction pass
    * (PII re-tagging, quality re-scores) a training-data store serves. */
  private def updStoreFor(s: SparkSession, d: String): String =
    memo("graft-zupdate", d) { dir =>
      val docs = docRows(s, d)
      writeZOrdered(docs, dir, Seq("doc_id", "n_chars"), 4)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val n = updateZRange(s, dir,
        Seq(("doc_id", mn + (mx - mn) * 2 / 10, mn + (mx - mn) * 3 / 10)),
        Map("lang" -> "'upd'", "n_chars" -> "n_chars + 1000"),
        Seq("doc_id", "n_chars"))
      require(n > 0, "q147 store: the band update updated nothing")
      dir
    }

  /** q147: predicate UPDATE — rewrite a doc_id band's lang/n_chars
    * copy-on-write ([[updateZRange]]): stats prune the rewrite to the
    * band's files (carry-by-reference spec-pinned), SET expressions see
    * the pre-update row. Oracle = the equivalent CASE projection over
    * the plain table: an update that touches rows outside the band,
    * misses rows inside it, or mangles an untouched column hash-fails. */
  val q147ZOrderUpdate: Q = Q(
    "q147_zorder_update",
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |  FROM documents)
      |SELECT d.doc_id,
      |  CASE WHEN d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                         AND b.mn + (b.mx-b.mn)*3//10
      |    THEN 'upd' ELSE d.lang END AS lang,
      |  CASE WHEN d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                         AND b.mn + (b.mx-b.mn)*3//10
      |    THEN d.n_chars + 1000 ELSE d.n_chars END AS n_chars
      |FROM documents d, b ORDER BY d.doc_id""".stripMargin,
  ) { (s, d) =>
    readSnapshot(s, updStoreFor(s, d))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q148: the z-store as a plain Spark TABLE (DSv2 batch) ---------------

  /** q148: q123's band query through the graft-z DSv2 TABLE
    * ([[ZBatch]]) — `spark.read.format("graft-z")` + ordinary `.filter`,
    * with the manifest skipping riding the pushed filters instead of the
    * explicit [[readZRange]] API: the "store is a table" completion of
    * the read surface (what lets any SQL consumer query the store).
    * Shares q123's store (build + append + manifest compaction) and
    * oracle, so a wire-decode bug, a filter lost in pushdown, or an
    * unsound prune all hash-fail; the files-planned-∝-band claim is
    * pinned in ZOrderSpec (an oracle can't see I/O). */
  val q148ZBatchTable: Q = Q(
    "q148_zorder_table",
    """WITH b AS (SELECT MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx,
      |    MIN(l_suppkey) AS smn, MAX(l_suppkey) AS smx FROM lineitem)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
      |  l.l_quantity
      |FROM lineitem l, b
      |WHERE l.l_partkey BETWEEN b.pmn + (b.pmx-b.pmn)*2//10
      |                      AND b.pmn + (b.pmx-b.pmn)*3//10
      |  AND l.l_suppkey BETWEEN b.smn + (b.smx-b.smn)*4//10
      |                      AND b.smn + (b.smx-b.smn)*5//10
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
  ) { (s, d) =>
    val dir = storeFor(s, d)
    val b = Tables.lineitem(s, d).agg(
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val (pmn, pmx, smn, smx) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    s.read.format("graft-z").load(dir)
      .filter(col("l_partkey").between(
        pmn + (pmx - pmn) * 2 / 10, pmn + (pmx - pmn) * 3 / 10) &&
        col("l_suppkey").between(
          smn + (smx - smn) * 4 / 10, smn + (smx - smn) * 5 / 10))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  // ---- q149: CHECK constraints gate every write -----------------------------

  /** q149's store: documents behind two CHECK constraints; a violating
    * batch is refused WHOLESALE (nothing lands), the compliant batch
    * lands — the ingestion-contract lifecycle (Delta's ADD CONSTRAINT +
    * enforced writes). */
  private def consStoreFor(s: SparkSession, d: String): String =
    memo("graft-zcons", d) { dir =>
      val docs = docRows(s, d)
      writeZOrdered(docs.filter(col("doc_id") % 10 =!= 9), dir,
        Seq("doc_id", "n_chars"), 4)
      addCheckConstraint(s, dir, "chars_nonneg", "n_chars >= 0")
      addCheckConstraint(s, dir, "doc_id_nonneg", "doc_id >= 0")
      val bad = docs.filter(col("doc_id") % 10 === 9)
        .withColumn("n_chars", -col("n_chars") - 1)
      val refused =
        try { appendZOrdered(bad, dir, Seq("doc_id", "n_chars"), 1); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("chars_nonneg") }
      require(refused, "q149 store: the violating batch was not refused")
      appendZOrdered(docs.filter(col("doc_id") % 10 === 9), dir,
        Seq("doc_id", "n_chars"), 1)
      dir
    }

  /** q149: CHECK constraints — the write-path ingestion gate (Delta's
    * table constraints): declared expressions validated against every
    * incoming batch inside [[zWrite]]'s existing bounds pass (no extra
    * scan), one violation refusing the whole batch before a byte lands.
    * The lifecycle appends a VIOLATING batch (refused — its rows must
    * not appear) then the compliant one; oracle = the plain full table,
    * so a partially-landed refused batch or a lost compliant batch
    * hash-fails. Refusal shapes, SQL UNKNOWN-passes semantics,
    * unvalidatable-batch refusal, add-time validation, drop, and
    * restore-vs-constraint interplay are pinned in ZOrderSpec. */
  val q149ZOrderConstraints: Q = Q(
    "q149_zorder_constraints",
    "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
  ) { (s, d) =>
    readSnapshot(s, consStoreFor(s, d))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q150: DataFrame-API round trip through the graft-z table ------------

  /** q150's store: the build slice lands programmatically, the rest
    * arrives through the PUBLIC TABLE WRITE surface
    * (`df.write.format("graft-z").mode("append")`) under an
    * exactly-once tag — replayed immediately to prove the tag dedups
    * through the API path too. */
  private def apiStoreFor(s: SparkSession, d: String): String =
    memo("graft-zapi", d) { dir =>
      val docs = docRows(s, d)
      writeZOrdered(docs.filter(col("doc_id") % 10 =!= 9), dir,
        Seq("doc_id", "n_chars"), 4)
      def apiAppend(): Unit = docs.filter(col("doc_id") % 10 === 9)
        .write.format("graft-z")
        .option("zcols", "doc_id,n_chars")
        .option("numFiles", "1")
        .option("tag", "api-b1")
        .mode("append").save(dir)
      apiAppend()
      apiAppend() // at-least-once redelivery: the tag makes it a no-op
      dir
    }

  /** q150: the full DataFrame-API round trip — rows written through
    * `df.write.format("graft-z")` (the V1-insert bridge onto the
    * tag-deduped OCC append) and read back through
    * `spark.read.format("graft-z")` with an ordinary band filter doing
    * manifest skipping; the lifecycle REPLAYS the API append to prove
    * exactly-once holds through the public surface. Oracle = the plain
    * band filter over the full table (a lost or doubled API batch
    * hash-fails because the band straddles both slices). */
  val q150ZBatchWrite: Q = Q(
    "q150_zorder_table_write",
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |  FROM documents)
      |SELECT d.doc_id, d.lang, d.n_chars FROM documents d, b
      |WHERE d.doc_id BETWEEN b.mn + (b.mx-b.mn)*1//10
      |                   AND b.mn + (b.mx-b.mn)*4//10
      |ORDER BY d.doc_id""".stripMargin,
  ) { (s, d) =>
    val dir = apiStoreFor(s, d)
    val b = Tables.documents(s, d)
      .agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    s.read.format("graft-z").load(dir)
      .filter(col("doc_id").between(
        mn + (mx - mn) * 1 / 10, mn + (mx - mn) * 4 / 10))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q151: CREATE-on-write — the store born through the table surface ----

  /** q151's store: NEVER touched by the programmatic API — created by
    * `df.write.format("graft-z").option("zcols", …).mode("append")` on a
    * fresh directory (the bootstrap append under an exactly-once tag,
    * replayed immediately to prove create-time dedup), then grown by a
    * second tagged API append. */
  private def createStoreFor(s: SparkSession, d: String): String =
    memo("graft-zcreateq", d) { tmp =>
      val dir = tmp + "/store"
      val docs = docRows(s, d)
      def put(slice: DataFrame, tag: String): Unit =
        slice.write.format("graft-z")
          .option("zcols", "doc_id,n_chars")
          .option("numFiles", "4")
          .option("tag", tag)
          .mode("append").save(dir)
      put(docs.filter(col("doc_id") % 10 =!= 9), "create-b0") // CREATES
      put(docs.filter(col("doc_id") % 10 =!= 9), "create-b0") // replay no-op
      put(docs.filter(col("doc_id") % 10 === 9), "create-b1")
      dir
    }

  /** q151: CREATE-on-write through the table surface (the r11 verdict's
    * top missing item — the first thing a SQL-surface user does with a
    * table format is create a table with it): a fresh directory becomes
    * a z-store purely via `df.write.format("graft-z")`, exactly-once
    * under create-time replay, then serves ordinary pruned reads.
    * Oracle = the plain full table, so a doubled create batch, a lost
    * append, or a mis-clustered decode all hash-fail; the
    * refusal shapes (read of a missing store, write without zcols) are
    * pinned in ZOrderSpec. */
  val q151ZBatchCreate: Q = Q(
    "q151_zorder_table_create",
    "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
  ) { (s, d) =>
    // read back through the TABLE surface too: the whole q151 lifecycle
    // never touches the programmatic API
    s.read.format("graft-z").load(createStoreFor(s, d))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q152: streaming ingest through the NATIVE graft-z sink --------------

  /** q152's store: q132's stream (documents over graft-shards, explicit
    * routing, two rate-limited micro-batches) written through
    * `writeStream.format("graft-z")` — the NATIVE sink, no foreachBatch
    * loop — then the whole bounded stream REPLAYED from a fresh
    * checkpoint under the same `tagPrefix` to prove the sink's
    * cross-checkpoint exactly-once through the public surface. */
  private def sinkStoreFor(s: SparkSession, d: String): String =
    memo("graft-zsinkq", d) { root =>
      val store = s"$root/store"
      val (docs, _) = StoreMaint.shardStream(s,
        GraftShards.documentsShards(s, d), GraftShards.DocWire)
      def run(ckpt: String): Unit = {
        val q = docs
          .select(col("doc_id"),
            length(col("text")).cast("long").as("k1"),
            pmod(col("doc_id"), lit(997L)).as("k2"))
          .writeStream.format("graft-z")
          .option("zcols", "k1,k2").option("numFiles", "2")
          .option("tagPrefix", "q152")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(store)
        q.awaitTermination()
      }
      run(s"$root/ckpt1")
      run(s"$root/ckpt2") // full from-scratch replay: tags dedupe
      root
    }

  /** q152: continuous ingest through the NATIVE streaming sink — q132's
    * pipeline with `writeStream.format("graft-z")` in place of the
    * foreachBatch loop (the r11 verdict's item 4: the table surface's
    * streaming symmetry). Each micro-batch is one tagged OCC append; the
    * lifecycle replays the whole bounded stream from a FRESH checkpoint
    * under the same tagPrefix, so a doubled batch hash-fails against the
    * exact oracle (the standing k1-band over the final store, whose
    * counts double on any re-land). Checkpoint-restart and refusal
    * shapes are pinned in ZOrderSpec. */
  val q152ZStreamSink: Q = Q(
    "q152_zorder_stream_sink",
    """WITH b0 AS (SELECT MIN(LENGTH(text)) AS mn, MAX(LENGTH(text)) AS mx
      |  FROM documents)
      |SELECT d.doc_id, LENGTH(d.text) AS k1, d.doc_id % 997 AS k2
      |FROM documents d, b0
      |WHERE LENGTH(d.text) BETWEEN b0.mn + (b0.mx - b0.mn) * 3 // 10
      |                         AND b0.mn + (b0.mx - b0.mn) * 7 // 10
      |ORDER BY d.doc_id""".stripMargin,
  ) { (s, d) =>
    val root = sinkStoreFor(s, d)
    val b = Tables.documents(s, d)
      .agg(min(length(col("text"))), max(length(col("text")))).head()
    val (mn, mx) = (b.getInt(0).toLong, b.getInt(1).toLong)
    s.read.format("graft-z").load(s"$root/store")
      .filter(col("k1").between(
        mn + (mx - mn) * 3 / 10, mn + (mx - mn) * 7 / 10))
      .select(col("doc_id"), col("k1"), col("k2"))
      .orderBy(col("doc_id"))
  }

  // ---- q153: metadata-answered aggregates through the TABLE surface --------

  /** q153: ungrouped COUNT(*)/MIN/MAX through `spark.read.format
    * ("graft-z")` — the q139/q144 metadata plane wired into the DSv2
    * scan as a COMPLETE aggregate pushdown ([[ZBatchAggScan]]), so any
    * SQL consumer's `SELECT COUNT(*) …` opens no data files (Delta's
    * stats-answered fast path). Shares q123's store (build + appends +
    * manifest compaction); exact oracle = the same aggregates over the
    * source table, so a count row lost/doubled in any manifest rewrite,
    * or a stats bound that isn't an attained value, hash-fails. The
    * files-never-opened claim is pinned in ZOrderSpec by physically
    * deleting a data file (an oracle can't see I/O). */
  val q153ZBatchAgg: Q = Q(
    "q153_zorder_table_agg",
    """SELECT COUNT(*) AS n,
      |  MIN(l_partkey) AS mn_pk, MAX(l_partkey) AS mx_pk,
      |  MIN(l_suppkey) AS mn_sk, MAX(l_suppkey) AS mx_sk
      |FROM lineitem""".stripMargin,
  ) { (s, d) =>
    s.read.format("graft-z").load(storeFor(s, d))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("mn_pk"), max(col("l_partkey")).as("mx_pk"),
        min(col("l_suppkey")).as("mn_sk"), max(col("l_suppkey")).as("mx_sk"))
  }

  // ---- q154: the full SQL DML lifecycle (UPDATE / MERGE INTO / DELETE) -----

  /** q154's store: built and mutated ENTIRELY in SQL through the
    * catalog — CREATE TABLE, INSERT INTO, a banded UPDATE, a MERGE INTO
    * with matched updates + not-matched inserts, and an OR-shaped DELETE
    * (the shape the exact-band conversion refuses, exercising the
    * group-based copy-on-write row-level operation end to end). Returns
    * (catalogName, storeDir). */
  private def sqlDmlStoreFor(s: SparkSession, d: String): (String, String) =
    memo("graft-zsqldml", d) { root =>
      val cat = lakeCatalog(s, "q154", root)
      val docs = docRows(s, d)
      docs.createOrReplaceTempView("q154_base")
      s.sql(s"""CREATE TABLE $cat.lake.docs
        (doc_id BIGINT, lang STRING, n_chars BIGINT)
        PARTITIONED BY (doc_id, n_chars)""")
      s.sql(s"INSERT INTO $cat.lake.docs SELECT * FROM q154_base")
      // banded UPDATE (bounds folded driver-side, q147's band)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (mn + (mx - mn) * 2 / 10, mn + (mx - mn) * 3 / 10)
      s.sql(s"""UPDATE $cat.lake.docs
        SET lang = 'upd', n_chars = n_chars + 1000
        WHERE doc_id BETWEEN $lo AND $hi""")
      // MERGE: every %10==7 doc re-scores (from its PRE-update chars,
      // the source is the base table); every %100==3 doc inserts a
      // 'new' twin at doc_id + 10^9
      s.sql("""SELECT doc_id, 'mrg' AS lang, n_chars * 2 AS n_chars
        FROM q154_base WHERE doc_id % 10 = 7
        UNION ALL
        SELECT doc_id + 1000000000 AS doc_id, 'new' AS lang,
          42L AS n_chars
        FROM q154_base WHERE doc_id % 100 = 3""")
        .createOrReplaceTempView("q154_src")
      s.sql(s"""MERGE INTO $cat.lake.docs t USING q154_src u
        ON t.doc_id = u.doc_id
        WHEN MATCHED THEN UPDATE SET lang = u.lang, n_chars = u.n_chars
        WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
          VALUES (u.doc_id, u.lang, u.n_chars)""")
      // an OR/modulo DELETE: not expressible as closed bands, so it
      // exercises the group-based row-level path (not deleteWhere)
      s.sql(s"""DELETE FROM $cat.lake.docs
        WHERE lang = 'new' AND doc_id % 2 = 1""")
      (cat, s"$root/lake/docs")
    }

  /** q154: SQL row-level DML end to end — `UPDATE`, `MERGE INTO` (matched
    * update + not-matched insert) and a non-band `DELETE` driven through
    * the catalog in pure SQL (Spark 4's `SupportsRowLevelOperations`
    * group-based protocol → [[ZRowLevelOperation]]), then the final
    * state read back through the same table. Oracle = the identical DML
    * algebra over the plain table (CASE for the update, LEFT JOIN +
    * anti-semijoin for the merge, a NOT filter for the delete): a row
    * updated outside the band, a merge that drops/doubles a row, a
    * delete that over- or under-shoots — any of it hash-fails. */
  val q154ZOrderSqlDml: Q = Q(
    "q154_zorder_sql_dml",
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |    FROM documents),
      |  upd AS (
      |    SELECT d.doc_id,
      |      CASE WHEN d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                             AND b.mn + (b.mx-b.mn)*3//10
      |        THEN 'upd' ELSE d.lang END AS lang,
      |      CASE WHEN d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                             AND b.mn + (b.mx-b.mn)*3//10
      |        THEN d.n_chars + 1000 ELSE d.n_chars END AS n_chars
      |    FROM documents d, b),
      |  src AS (
      |    SELECT doc_id, 'mrg' AS lang, n_chars * 2 AS n_chars
      |    FROM documents WHERE doc_id % 10 = 7
      |    UNION ALL
      |    SELECT doc_id + 1000000000 AS doc_id, 'new' AS lang,
      |      42 AS n_chars
      |    FROM documents WHERE doc_id % 100 = 3),
      |  merged AS (
      |    SELECT u.doc_id, COALESCE(s.lang, u.lang) AS lang,
      |      COALESCE(s.n_chars, u.n_chars) AS n_chars
      |    FROM upd u LEFT JOIN src s ON u.doc_id = s.doc_id
      |    UNION ALL
      |    SELECT s.doc_id, s.lang, s.n_chars FROM src s
      |    WHERE s.doc_id NOT IN (SELECT doc_id FROM upd))
      |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      |FROM merged
      |WHERE NOT (lang = 'new' AND doc_id % 2 = 1)
      |ORDER BY doc_id""".stripMargin,
  ) { (s, d) =>
    val (cat, _) = sqlDmlStoreFor(s, d)
    s.sql(s"""SELECT doc_id, lang, n_chars FROM $cat.lake.docs
      ORDER BY doc_id""")
  }

  /** q155: STREAMING read of the catalog table —
    * `spark.readStream.table("<cat>.lake.docs")` tails q154's post-DML
    * store through the TABLE surface (the r12 verdict's item 4: no
    * format("graft-zcdf")+path switch), projecting the zcdf wire's
    * commit coordinates away so the stream's schema IS the table's.
    * A bounded AvailableNow run over the settled store must reproduce
    * the exact final state — oracle = q154's (the stream's current
    * epoch v0 carries the whole post-DML table). Incremental tailing
    * and the epoch-rewrite refusal through the table name are pinned in
    * ZOrderSpec (an oracle can't see offsets). */
  val q155ZTableStream: Q = Q(
    "q155_zorder_table_stream",
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |    FROM documents),
      |  upd AS (
      |    SELECT d.doc_id,
      |      CASE WHEN d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                             AND b.mn + (b.mx-b.mn)*3//10
      |        THEN 'upd' ELSE d.lang END AS lang,
      |      CASE WHEN d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                             AND b.mn + (b.mx-b.mn)*3//10
      |        THEN d.n_chars + 1000 ELSE d.n_chars END AS n_chars
      |    FROM documents d, b),
      |  src AS (
      |    SELECT doc_id, 'mrg' AS lang, n_chars * 2 AS n_chars
      |    FROM documents WHERE doc_id % 10 = 7
      |    UNION ALL
      |    SELECT doc_id + 1000000000 AS doc_id, 'new' AS lang,
      |      42 AS n_chars
      |    FROM documents WHERE doc_id % 100 = 3),
      |  merged AS (
      |    SELECT u.doc_id, COALESCE(s.lang, u.lang) AS lang,
      |      COALESCE(s.n_chars, u.n_chars) AS n_chars
      |    FROM upd u LEFT JOIN src s ON u.doc_id = s.doc_id
      |    UNION ALL
      |    SELECT s.doc_id, s.lang, s.n_chars FROM src s
      |    WHERE s.doc_id NOT IN (SELECT doc_id FROM upd))
      |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      |FROM merged
      |WHERE NOT (lang = 'new' AND doc_id % 2 = 1)
      |ORDER BY doc_id""".stripMargin,
  ) { (s, d) =>
    val (cat, _) = sqlDmlStoreFor(s, d)
    val out = Files.createTempDirectory("graft-ztblstream").toString
    val q = s.readStream.table(s"$cat.lake.docs")
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/data")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q156: streaming write through the TABLE (writeStream.toTable) -------

  /** q156's table: q152's bounded stream written through
    * `writeStream…toTable("<cat>.lake.sunk")` — the DSv2 StreamingWrite
    * twin of the path-based sink ([[ZStreamingWrite]]): per-task parquet
    * staging + ONE tagged OCC append per epoch, clustering keys resolved
    * from the TABLE's recorded policy (no zcols option anywhere). The
    * whole stream then REPLAYS from a fresh checkpoint under the same
    * tagPrefix to prove cross-checkpoint exactly-once through the
    * table-name surface. */
  private def toTableStoreFor(s: SparkSession, d: String): String =
    memo("graft-ztotableq", d) { root =>
      val cat = lakeCatalog(s, "q156", root)
      s.sql(s"""CREATE TABLE $cat.lake.sunk
        (doc_id BIGINT, k1 BIGINT, k2 BIGINT) PARTITIONED BY (k1, k2)""")
      val (docs, _) = StoreMaint.shardStream(s,
        GraftShards.documentsShards(s, d), GraftShards.DocWire)
      def run(ckpt: String): Unit = {
        val q = docs
          .select(col("doc_id"),
            length(col("text")).cast("long").as("k1"),
            pmod(col("doc_id"), lit(997L)).as("k2"))
          .writeStream
          .option("tagPrefix", "q156").option("numFiles", "2")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.lake.sunk")
        q.awaitTermination()
      }
      run(s"$root/ckpt1")
      run(s"$root/ckpt2") // full from-scratch replay: tags dedupe
      cat
    }

  /** q156: continuous ingest through `writeStream.toTable` — the
    * table-name twin of q152 (one table, ALL verbs including the
    * streaming write): the DSv2 StreamingWrite stages per task and the
    * driver commits one tagged lock-free append per epoch; the
    * clustering comes from the table's RECORDED policy, the replay from
    * a fresh checkpoint proves tag-deduped exactly-once, and the read
    * back is plain SQL through the same table name (a doubled epoch or
    * a mis-clustered append hash-fails against the band oracle).
    * Restart, staging hygiene and output-mode refusal are pinned in
    * ZOrderSpec. */
  val q156ZTableStreamWrite: Q = Q(
    "q156_zorder_table_stream_write",
    """WITH b0 AS (SELECT MIN(LENGTH(text)) AS mn, MAX(LENGTH(text)) AS mx
      |  FROM documents)
      |SELECT d.doc_id, LENGTH(d.text) AS k1, d.doc_id % 997 AS k2
      |FROM documents d, b0
      |WHERE LENGTH(d.text) BETWEEN b0.mn + (b0.mx - b0.mn) * 4 // 10
      |                         AND b0.mn + (b0.mx - b0.mn) * 8 // 10
      |ORDER BY d.doc_id""".stripMargin,
  ) { (s, d) =>
    val cat = toTableStoreFor(s, d)
    val b = Tables.documents(s, d)
      .agg(min(length(col("text"))), max(length(col("text")))).head()
    val (mn, mx) = (b.getInt(0).toLong, b.getInt(1).toLong)
    s.sql(s"""SELECT doc_id, k1, k2 FROM $cat.lake.sunk
      WHERE k1 BETWEEN ${mn + (mx - mn) * 4 / 10}
                   AND ${mn + (mx - mn) * 8 / 10}
      ORDER BY doc_id""")
  }

  // ---- q157: batch CHANGE FEED through the table surface -------------------

  /** q157: q136's change feed driven through the TABLE surface —
    * `spark.read.format("graft-z").option("changesSinceEpoch", …)
    * .option("changesSinceVersion", …)` (Delta's `readChangeFeed` as a
    * read option, working identically through the catalog table name):
    * the scan plans exactly the delta's files
    * ([[changeFilesSized]]) under the table's own schema. Shares q136's
    * store and oracle — a delta that leaks base rows, misses appended
    * rows, or double-counts a file hash-fails; the refusal shapes
    * (epoch swap, bogus base, travel/changes combination) are pinned in
    * ZBatchPlanSpec. */
  val q157ZTableChanges: Q = Q(
    "q157_zorder_table_changes",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 10 = 9 ORDER BY doc_id""".stripMargin,
  ) { (s, d) =>
    s.read.format("graft-z")
      .option("changesSinceEpoch", "0").option("changesSinceVersion", "0")
      .load(cdfStoreFor(s, d))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- q158: conditional overwrite (replaceWhere) through the table --------

  /** q158's table: documents behind the catalog, then the [20%, 30%]
    * doc_id band REPLACED in one atomic commit by a corrected slice
    * (`df.writeTo(t).overwrite(cond)` → [[overwriteZRange]]) that keeps
    * only even doc_ids, re-scored — a replacement that both deletes and
    * transforms, so delete-only or update-only bugs can't pass. */
  private def replStoreFor(s: SparkSession, d: String): (String, String) =
    memo("graft-zreplw", d) { root =>
      val cat = lakeCatalog(s, "q158", root)
      val docs = docRows(s, d)
      s.sql(s"""CREATE TABLE $cat.lake.docs
        (doc_id BIGINT, lang STRING, n_chars BIGINT)
        PARTITIONED BY (doc_id, n_chars)""")
      docs.writeTo(s"$cat.lake.docs").append()
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (mn + (mx - mn) * 2 / 10, mn + (mx - mn) * 3 / 10)
      val corrected = docs
        .filter(col("doc_id").between(lo, hi) && col("doc_id") % 2 === 0)
        .withColumn("lang", lit("rw"))
        .withColumn("n_chars", col("n_chars") + 5000)
      corrected.writeTo(s"$cat.lake.docs")
        .overwrite(col("doc_id") >= lo && col("doc_id") <= hi)
      (cat, s"$root/lake/docs")
    }

  /** q158: `replaceWhere` — the idempotent-backfill verb (Delta's
    * conditional `INSERT OVERWRITE`): one atomic epoch commit deletes
    * the band and lands the corrected slice in its place
    * ([[overwriteZRange]] via `SupportsOverwrite` on the table's write
    * builder). Oracle = outside-the-band ∪ the corrected slice: a
    * non-atomic delete+append pair that lost either half, a replacement
    * leaking outside the band, or a surviving stale band row all
    * hash-fail. Atomicity, the outside-band refusal, staging hygiene
    * and the no-store create path are pinned in ZBatchPlanSpec. */
  val q158ZTableReplaceWhere: Q = Q(
    "q158_zorder_replace_where",
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |  FROM documents)
      |SELECT d.doc_id, d.lang, d.n_chars FROM documents d, b
      |WHERE d.doc_id < b.mn + (b.mx-b.mn)*2//10
      |   OR d.doc_id > b.mn + (b.mx-b.mn)*3//10
      |UNION ALL
      |SELECT d.doc_id, 'rw' AS lang, d.n_chars + 5000 AS n_chars
      |FROM documents d, b
      |WHERE d.doc_id BETWEEN b.mn + (b.mx-b.mn)*2//10
      |                   AND b.mn + (b.mx-b.mn)*3//10
      |  AND d.doc_id % 2 = 0
      |ORDER BY doc_id""".stripMargin,
  ) { (s, d) =>
    val (cat, _) = replStoreFor(s, d)
    s.sql(s"SELECT doc_id, lang, n_chars FROM $cat.lake.docs " +
      "ORDER BY doc_id")
  }

  // ---- q159: join-driven dynamic file pruning (DSv2 runtime filtering) -----

  /** q159: a selective dim join against the z-table — Spark's dynamic
    * partition pruning over the DSv2 scan (`SupportsRuntimeV2Filtering`
    * → [[pruneFilesForValueSet]]): the dim side's distinct join keys
    * reach the scan at runtime and drop every fact file whose recorded
    * l_partkey range (and bloom, where present) provably holds none of
    * them — the 100 TB star-join shape where the static plan can't
    * prune (the filter is on the OTHER table). The new reported
    * statistics ([[fileRowCounts]]) are what let Catalyst broadcast the
    * dim. Oracle = the plain join; files-planned shrinkage and the
    * deleted-file no-open proof are pinned in ZBatchPlanSpec. */
  val q159ZTableRuntimePrune: Q = Q(
    "q159_zorder_runtime_prune",
    """SELECT p.p_partkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_partkey % 97 = 0
      |GROUP BY p.p_partkey ORDER BY p.p_partkey""".stripMargin,
  ) { (s, d) =>
    val dim = Tables.part(s, d).filter(col("p_partkey") % 97 === 0)
      .select(col("p_partkey"))
    val fact = s.read.format("graft-z").load(storeFor(s, d))
    fact.join(dim, fact("l_partkey") === dim("p_partkey"))
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("p_partkey"))
  }

  /** q160's store: documents built (e0 v0) + one append (e0 v1), then a
    * band UPDATE (e1) and a CDC MERGE (band of whole-row updates +
    * beyond-max inserts, e2) — three row-delta commits the change feed
    * must cross. Bands are DISJOINT (update 2-3/10, merge 5-6/10 of the
    * id range) so the oracle's pre/postimages are pure functions of the
    * base table. */
  private def dmlCdfStoreFor(s: SparkSession, d: String): String =
    dmlCdfCatStoreFor(s, d)._2

  /** (catalog name, store dir) of the q160/q162/q164 store. */
  private def dmlCdfCatStoreFor(s: SparkSession,
      d: String): (String, String) =
    memo("graft-zdmlcdf", d) { root =>
      // the store lives catalog-shaped so the LAST epoch can be a SQL
      // UPDATE through the group-based row-level op (r15: its change
      // set pairs keyed pre/postimages on the hidden row identity —
      // exactly what the extended oracle hash-checks)
      val cat = lakeCatalog(s, "q160", root)
      val dir = s"$root/lake/docs"
      setChangeFeedEnabled(s, dir, on = true) // the Delta CDF opt-in
      val docs = docRows(s, d)
      writeZOrdered(docs.filter(col("doc_id") % 10 =!= 9), dir,
        Seq("n_chars", "doc_id"), 8)
      appendZOrdered(docs.filter(col("doc_id") % 10 === 9), dir,
        Seq("n_chars", "doc_id"), 2)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (dmn, dmx) = (b.getLong(0), b.getLong(1))
      updateZRange(s, dir,
        Seq(("doc_id", dmn + (dmx - dmn) * 2 / 10,
          dmn + (dmx - dmn) * 3 / 10)),
        Map("n_chars" -> "n_chars + 1000"), Seq("n_chars", "doc_id"))
      val (mlo, mhi) =
        (dmn + (dmx - dmn) * 5 / 10, dmn + (dmx - dmn) * 6 / 10)
      val upd = docs.filter(col("doc_id").between(mlo, mhi))
        .withColumn("n_chars", col("n_chars") + lit(7L))
      val ins = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(dmx + 1))
      mergeByKey(s, dir, upd.unionByName(ins), "doc_id",
        Seq("n_chars", "doc_id"), 4)
      // epoch 4: SQL UPDATE on a band disjoint from every prior one
      // (and below the merge's inserted ids) — keyed pre/postimages
      val (slo, shi) =
        (dmn + (dmx - dmn) * 7 / 10, dmn + (dmx - dmn) * 8 / 10)
      s.sql(s"""UPDATE $cat.lake.docs SET n_chars = n_chars - 3
        WHERE doc_id BETWEEN $slo AND $shi""")
      (cat, dir)
    }

  /** q160: ROW-LEVEL CHANGE FEED ACROSS DML — the r13 verdict's top
    * item: [[readChangeFeed]] spans an append, a band UPDATE and a CDC
    * MERGE as Delta-style `_change_type` rows (insert /
    * update_preimage / update_postimage) instead of refusing
    * full-refresh at the first epoch rewrite. Oracle = the ALGEBRAIC
    * change set as pure SQL over the base table (the bands are disjoint
    * functions of the id range), so a missed delta, a phantom change, a
    * pre/postimage with the wrong values, or a change attributed to the
    * wrong commit coordinate all hash-fail. The refusal contract for
    * no-row-delta rewrites (optimize/recluster), the raced-append
    * exactly-once interplay, and the IVM consumption across a DML
    * commit are pinned in ZOrderSpec/StreamingSpec. */
  val q160ZOrderDmlCdf: Q = Q(
    "q160_zorder_dml_cdf",
    """WITH b AS (SELECT MIN(doc_id) AS dmn, MAX(doc_id) AS dmx
      |  FROM documents),
      |d AS (SELECT doc_id, lang, n_chars FROM documents)
      |SELECT * FROM (
      |  SELECT doc_id, lang, n_chars, 'insert' AS change_type,
      |    CAST(0 AS BIGINT) AS commit_epoch,
      |    CAST(1 AS BIGINT) AS commit_version
      |  FROM d WHERE doc_id % 10 = 9
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 1, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*2//10
      |                             AND b.dmn + (b.dmx-b.dmn)*3//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 1000, 'update_postimage', 1, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*2//10
      |                             AND b.dmn + (b.dmx-b.dmn)*3//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 2, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*5//10
      |                             AND b.dmn + (b.dmx-b.dmn)*6//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 7, 'update_postimage', 2, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*5//10
      |                             AND b.dmn + (b.dmx-b.dmn)*6//10
      |  UNION ALL
      |  SELECT doc_id + b.dmx + 1, lang, n_chars, 'insert', 2, 0
      |  FROM d, b WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 3, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*7//10
      |                             AND b.dmn + (b.dmx-b.dmn)*8//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars - 3, 'update_postimage', 3, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*7//10
      |                             AND b.dmn + (b.dmx-b.dmn)*8//10
      |)
      |ORDER BY commit_epoch, commit_version, change_type, doc_id""".stripMargin,
  ) { (s, d) =>
    readChangeFeed(s, dmlCdfStoreFor(s, d), 0, 0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col(ChangeTypeCol).as("change_type"),
        col(CommitEpochCol).as("commit_epoch"),
        col(CommitVersionCol).as("commit_version"))
      .orderBy(col("commit_epoch"), col("commit_version"),
        col("change_type"), col("doc_id"))
  }

  /** q161's catalog: lineitem and orders as z-tables BUCKETED the same
    * way — `PARTITIONED BY (bucket(16, orderkey))` — with lineitem
    * landed in two appends (multi-file buckets). One catalog per
    * store root; names are root-keyed because Spark caches catalog
    * instances by name (the q154 discipline). */
  private def spjCatalogFor(s: SparkSession, d: String): String =
    memo("graft-zspj", d) { root =>
      val cat = lakeCatalog(s, "q161", root)
      s.sql(s"""CREATE TABLE $cat.lake.li (k BIGINT, qty BIGINT)
        PARTITIONED BY (bucket(16, k))""")
      s.sql(s"""CREATE TABLE $cat.lake.ord (k BIGINT, ck BIGINT)
        PARTITIONED BY (bucket(16, k))""")
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey").as("k"),
        col("l_quantity").cast("long").as("qty"))
      li.filter(col("k") % 4 =!= 0).writeTo(s"$cat.lake.li").append()
      li.filter(col("k") % 4 === 0).writeTo(s"$cat.lake.li").append()
      Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_custkey").as("ck"))
        .writeTo(s"$cat.lake.ord").append()
      cat
    }

  /** q161: STORAGE-PARTITIONED JOIN — the r13 verdict's item 2: two
    * z-tables bucketed on the same key (`bucket(16, orderkey)`; rows
    * route by pmod at write time, per-file bucket ids ride the
    * manifest) join fact-to-fact with ZERO exchange — the scan reports
    * `KeyGroupedPartitioning` from the recorded layout and Spark's
    * planner aligns the two sides bucket-by-bucket (Iceberg's SPJ).
    * At 100 TB this is the single biggest avoidable shuffle in a
    * star/fact-fact schema: co-clustered tables never move. The merge
    * hint forces the sort-merge path (a broadcast would also avoid the
    * shuffle, but for the wrong reason at demo scale); the
    * no-exchange plan and the planted-shuffle positive are pinned in
    * ZBatchPlanSpec. Oracle = the plain join, so a row misrouted to
    * the wrong bucket (the silent SPJ failure mode) hash-fails. */
  val q161ZTableSpjJoin: Q = Q(
    "q161_ztable_spj_join",
    """SELECT o.o_custkey AS ck, CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (s, d) =>
    val cat = spjCatalogFor(s, d)
    // idempotent under the entrypoints' standing default (session
    // builders set it); kept because the frame is LAZY — confs read at
    // action time, so a save/restore here would un-set it before the
    // join ever runs — and a foreign session should still get the
    // exchange-free plan
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.table(s"$cat.lake.li").hint("merge")
      .join(s.table(s"$cat.lake.ord"), "k")
      .groupBy(col("ck"))
      .agg(count(lit(1)).cast("long").as("n_items"),
        sum(col("qty")).cast("long").as("sum_qty"))
      .orderBy(col("ck"))
  }

  /** q162: STREAMING row-level CDF — q160's change feed consumed as a
    * STREAM (`.readStream.format("graft-zcdf").option("changeFeed",
    * "true")`, Delta's streaming readChangeFeed): offsets walk the same
    * feed-coordinate chain ([[feedSteps]]) one coordinate per trigger
    * (`maxVersionsPerTrigger=1` — a DML transition counts as one), so
    * the stream CROSSES the UPDATE and MERGE epochs instead of dying
    * with full-refresh, delivering `_change_type` rows whose union over
    * the bounded run equals the batch feed exactly. Oracle = q160's
    * algebraic change set (batch boundaries don't change content; the
    * wire's `_epoch`/`_ver` ARE the commit coordinates). Restart
    * resume, per-trigger batching and the no-record refusal are pinned
    * in StreamingSpec. */
  val q162ZcdfStreamDml: Q = Q(
    "q162_zcdf_stream_dml",
    """WITH b AS (SELECT MIN(doc_id) AS dmn, MAX(doc_id) AS dmx
      |  FROM documents),
      |d AS (SELECT doc_id, lang, n_chars FROM documents)
      |SELECT * FROM (
      |  SELECT doc_id, lang, n_chars, 'insert' AS change_type,
      |    CAST(0 AS BIGINT) AS commit_epoch,
      |    CAST(1 AS BIGINT) AS commit_version
      |  FROM d WHERE doc_id % 10 = 9
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'insert', 0, 0 FROM d
      |  WHERE doc_id % 10 != 9
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 1, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*2//10
      |                             AND b.dmn + (b.dmx-b.dmn)*3//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 1000, 'update_postimage', 1, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*2//10
      |                             AND b.dmn + (b.dmx-b.dmn)*3//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 2, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*5//10
      |                             AND b.dmn + (b.dmx-b.dmn)*6//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 7, 'update_postimage', 2, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*5//10
      |                             AND b.dmn + (b.dmx-b.dmn)*6//10
      |  UNION ALL
      |  SELECT doc_id + b.dmx + 1, lang, n_chars, 'insert', 2, 0
      |  FROM d, b WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'update_preimage', 3, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*7//10
      |                             AND b.dmn + (b.dmx-b.dmn)*8//10
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars - 3, 'update_postimage', 3, 0
      |  FROM d, b WHERE doc_id BETWEEN b.dmn + (b.dmx-b.dmn)*7//10
      |                             AND b.dmn + (b.dmx-b.dmn)*8//10
      |)
      |ORDER BY commit_epoch, commit_version, change_type, doc_id""".stripMargin,
  ) { (s, d) =>
    val dir = dmlCdfStoreFor(s, d)
    val out = Files.createTempDirectory("graft-zcdfdml").toString
    val q = s.readStream.format("graft-zcdf")
      .option("changeFeed", "true")
      .option("startingVersion", "earliest")
      .option("maxVersionsPerTrigger", "1")
      .load(dir)
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.write.mode("overwrite").parquet(s"$out/batch=$id")
        ()
      }
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/batch=*")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col(ZcdfStream.ChangeCol).as("change_type"),
        col(ZcdfStream.EpochCol).as("commit_epoch"),
        col(ZcdfStream.VerCol).as("commit_version"))
      .orderBy(col("commit_epoch"), col("commit_version"),
        col("change_type"), col("doc_id"))
  }

  /** q164: the CHANGES METADATA TABLE through the catalog NAME (r15 —
    * the r14 verdict's item 4, Iceberg's metadata-table shape):
    * `spark.readStream.table("graftz.ns.t.changes")` tails the
    * row-level change feed across DML epochs with `_change_type` +
    * commit coordinates — the schema the BASE table's stream cannot
    * carry lives on its own analyzer-resolved table, so no format+path
    * incantation is needed. Same wire, offsets and checkpoint-resume as
    * q162 (the oracle is q162's, reused verbatim — batch membership
    * never changes content); the batch form (`SELECT * FROM
    * graftz.ns.t.changes`) and resume-across-new-DML are spec-pinned in
    * StreamingSpec/SqlSurfaceSpec. */
  val q164ZChangesTable: Q = Q(
    "q164_zchanges_table",
    // content-identical to q162's algebra: the same store, the same
    // feed, consumed through the table name instead of format+path
    // (q162 is declared ABOVE — the object-init-order rule)
    q162ZcdfStreamDml.oracle.get,
  ) { (s, d) =>
    val (cat, _) = dmlCdfCatStoreFor(s, d)
    val out = Files.createTempDirectory("graft-zchtbl").toString
    val q = s.readStream
      .option("startingVersion", "earliest")
      .option("maxVersionsPerTrigger", "2")
      .table(s"$cat.lake.docs.changes")
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.write.mode("overwrite").parquet(s"$out/batch=$id")
        ()
      }
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/batch=*")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col(ZcdfStream.ChangeCol).as("change_type"),
        col(ZcdfStream.EpochCol).as("commit_epoch"),
        col(ZcdfStream.VerCol).as("commit_version"))
      .orderBy(col("commit_epoch"), col("commit_version"),
        col("change_type"), col("doc_id"))
  }

  /** q163's store: documents z-clustered, then TWO disjoint-band DML
    * statements run CONCURRENTLY (real threads, a start latch) — an
    * UPDATE over the low 20% of the id space racing a DELETE over the
    * 60-80% band. Under the r15 optimistic-commit protocol BOTH land in
    * either order: the loser of the epoch race rebases its prepared
    * rewrite onto the winner's snapshot (disjoint consumed files), so
    * no interleaving changes the final state — which is what makes an
    * EXACT oracle possible for a concurrency test. A conflict (shared
    * file) would throw [[ConcurrentZRewriteException]] and fail the
    * query loudly; band geometry (16+ range files, bands 4 file-widths
    * apart) keeps the sets disjoint. */
  private def occStoreFor(s: SparkSession, d: String): String =
    memo("graft-zocc-dml", d) { dir =>
      val docs = docRows(s, d)
      writeZOrdered(docs, dir, Seq("doc_id"), 16)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val fUpd = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await()
          updateZRange(s, dir,
            Seq(("doc_id", mn, mn + (mx - mn) * 2 / 10)),
            Map("n_chars" -> "n_chars + 100000"), Seq("doc_id")) }
      })
      val fDel = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await()
          deleteZRange(s, dir,
            Seq(("doc_id", mn + (mx - mn) * 6 / 10,
              mn + (mx - mn) * 8 / 10)), Seq("doc_id")) }
      })
      gate.countDown()
      val (nUpd, nDel) = (fUpd.get(), fDel.get())
      pool.shutdown()
      require(nUpd > 0 && nDel > 0,
        s"q163 store build: both racing statements must land " +
          s"(updated=$nUpd deleted=$nDel)")
      dir
    }

  /** q163: CONCURRENT DISJOINT DML — the r14 verdict's top item made
    * oracle-checkable: an UPDATE and a DELETE on disjoint bands race
    * from two threads with NO store-wide lock (data work fully
    * concurrent; only the epoch-commit turnstile serializes, and the
    * second committer REBASES onto the first's epoch). The final table
    * is interleaving-independent, so the oracle is the plain algebraic
    * composition — a lost update, resurrected row, double-applied
    * delete, or clobbered epoch hash-fails. */
  val q163ZOrderOccDml: Q = Q(
    "q163_zorder_occ_dml",
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |  FROM documents)
      |SELECT d.doc_id, d.lang,
      |  CASE WHEN d.doc_id <= b.mn + (b.mx-b.mn)*2//10
      |       THEN d.n_chars + 100000 ELSE d.n_chars END AS n_chars
      |FROM documents d, b
      |WHERE NOT (d.doc_id BETWEEN b.mn + (b.mx-b.mn)*6//10
      |                        AND b.mn + (b.mx-b.mn)*8//10)
      |ORDER BY d.doc_id""".stripMargin,
  ) { (s, d) =>
    val dir = occStoreFor(s, d)
    readSnapshot(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q165's store: documents z-clustered on doc_id, then the FULL
    * column-mapping lifecycle — RENAME the clustering key (doc_id→id)
    * and a data column (n_chars→chars), DROP source, UPDATE and APPEND
    * through the new names. Every data file written before the renames
    * is untouched (metadata-only commits); the final read filters on
    * the NEW name and prunes via the ORIGINAL physical stats. */
  private def colmapStoreFor(s: SparkSession, d: String): String =
    memo("graft-zcolmap-q", d) { dir =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      writeZOrdered(docs, dir, Seq("doc_id"), 8)
      val before = listDataFiles(s, dir)
      renameColumn(s, dir, "n_chars", "chars")
      renameColumn(s, dir, "doc_id", "id")
      dropColumn(s, dir, "source")
      require(listDataFiles(s, dir) == before,
        "q165 store build: a rename/drop touched a data file — the " +
          "metadata-only contract broke")
      val mn = docs.agg(min(col("doc_id"))).head().getLong(0)
      val nUpd = updateZRange(s, dir, Seq(("id", mn, mn + 49L)),
        Map("chars" -> "chars + 1000"), Seq("id"))
      require(nUpd > 0, s"q165 store build: update landed $nUpd rows")
      appendZOrdered(Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("id"), col("lang"),
          col("n_chars").as("chars")),
        dir, Seq("id"), 1)
      dir
    }

  /** q165: COLUMN MAPPING — `ALTER TABLE RENAME/DROP COLUMN` as
    * metadata-only commits (Delta's column mapping): stable physical
    * names stay on every file, stat row and bloom sidecar; the logical
    * surface (schemas, predicates, SET expressions, appends) speaks the
    * new names. The exact oracle reproduces the lifecycle algebraically
    * over the raw table — a broken translation plane (stale name, lost
    * column, mis-pruned file, resurrected dropped column) hash-fails. */
  val q165ZOrderColumnMap: Q = Q(
    "q165_zorder_column_map",
    """WITH b AS (SELECT MIN(doc_id) AS mn FROM documents),
      |base AS (
      |  SELECT d.doc_id AS id, d.lang,
      |    CASE WHEN d.doc_id <= b.mn + 49 THEN d.n_chars + 1000
      |         ELSE d.n_chars END AS chars
      |  FROM documents d, b),
      |appended AS (
      |  SELECT doc_id + 1000000 AS id, lang, n_chars AS chars
      |  FROM documents WHERE doc_id % 10 = 0)
      |SELECT id, lang, chars FROM base
      |UNION ALL SELECT id, lang, chars FROM appended
      |ORDER BY id""".stripMargin,
  ) { (s, d) =>
    val dir = colmapStoreFor(s, d)
    readZRange(s, dir, Seq(("id", 0L, 2000000L)))
      .select(col("id"), col("lang"), col("chars"))
      .orderBy(col("id"))
  }

  /** q166's store: documents with an INT and a FLOAT column, then TYPE
    * WIDENING both ways it can arrive — an explicit `widenColumn`
    * (ALTER COLUMN TYPE) on the int column, and an APPEND whose batch
    * already carries the wider types (the union promotes). The appended
    * values exceed Int range, so a fake widening (decode truncation)
    * cannot pass the hash check; old INT32/FLOAT files widen at decode. */
  private def widenStoreFor(s: SparkSession, d: String): String =
    memo("graft-zwiden-q", d) { dir =>
      val docs = Tables.documents(s, d)
      writeZOrdered(docs.select(col("doc_id"),
        col("n_chars").cast("int").as("nc"),
        col("n_chars").cast("float").as("fsc")), dir, Seq("doc_id"), 4)
      widenColumn(s, dir, "nc", org.apache.spark.sql.types.LongType)
      appendZOrdered(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          (col("n_chars") + 3000000000L).as("nc"),
          (col("n_chars") * 1.5).as("fsc")), dir, Seq("doc_id"), 1)
      dir
    }

  /** q166: TYPE WIDENING — INT→BIGINT / FLOAT→DOUBLE as metadata-only
    * evolution (Delta 3.x / Iceberg parity): the recorded schema
    * promotes; files written before the promotion keep INT32/FLOAT
    * physical pages and widen at decode. Beyond-Int-range appended
    * values and exact float→double promotion make the oracle
    * truncation-sensitive. */
  val q166ZOrderTypeWidening: Q = Q(
    "q166_zorder_type_widening",
    """WITH base AS (
      |  SELECT doc_id AS id,
      |    CAST(CAST(n_chars AS INTEGER) AS BIGINT) AS nc,
      |    CAST(CAST(n_chars AS FLOAT) AS DOUBLE) AS fsc
      |  FROM documents),
      |appended AS (
      |  SELECT doc_id + 1000000 AS id, n_chars + 3000000000 AS nc,
      |    n_chars * 1.5 AS fsc
      |  FROM documents WHERE doc_id % 10 = 0)
      |SELECT id, nc, fsc FROM base
      |UNION ALL SELECT id, nc, fsc FROM appended
      |ORDER BY id""".stripMargin,
  ) { (s, d) =>
    val dir = widenStoreFor(s, d)
    readSnapshot(s, dir)
      .select(col("doc_id").as("id"), col("nc"), col("fsc"))
      .orderBy(col("id"))
  }

  val all: Seq[Q] = Seq(q123ZOrderRead, q132ZOrderStreamIngest,
    q133ZOrderDelete, q134ZOrderTimeTravel, q136ZOrderChangeFeed,
    q137ZOrderIvm, q138ZOrderMerge, q139ZOrderCount, q140ZcdfStream,
    q141ZOrderCdcMerge, q142ZOrderPoint, q143ZcdfIvm, q144ZOrderMinMax,
    q145ZOrderHistory, q146ZOrderRestore, q147ZOrderUpdate,
    q148ZBatchTable, q149ZOrderConstraints, q150ZBatchWrite,
    q151ZBatchCreate, q152ZStreamSink, q153ZBatchAgg, q154ZOrderSqlDml,
    q155ZTableStream, q156ZTableStreamWrite, q157ZTableChanges,
    q158ZTableReplaceWhere, q159ZTableRuntimePrune, q160ZOrderDmlCdf,
    q161ZTableSpjJoin, q162ZcdfStreamDml, q163ZOrderOccDml,
    q164ZChangesTable, q165ZOrderColumnMap, q166ZOrderTypeWidening)
}
