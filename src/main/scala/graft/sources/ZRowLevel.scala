package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** One SQL row-level statement (`UPDATE` / `MERGE INTO` / non-band
  * `DELETE`) over a graft-z table — the GROUP-BASED (copy-on-write)
  * protocol behind [[ZBatchTable.newRowLevelOperationBuilder]].
  *
  * How Spark drives it: the statement's rewrite (RewriteUpdateTable /
  * RewriteMergeIntoTable / RewriteDeleteFromTable) reads the affected
  * groups through [[newScanBuilder]]'s scan, computes the REPLACEMENT
  * rows itself (condition-matching rows transformed, every other row of
  * the same files copied through, MERGE's not-matched inserts appended),
  * and writes them through [[newWriteBuilder]]'s batch write. The
  * connector's half of the contract: the scan must return every row of
  * every file the write will replace, and the write must replace exactly
  * the files the scan read. Both halves share this operation instance,
  * so the scan records its (snapshot, affected files) here and the
  * write's driver-side commit consumes it.
  *
  * Scale shape: the scan prunes the affected set by the pushed condition
  * bounds + bloom points (an UPDATE of one key band rewrites O(band)
  * files, never O(table)); the replacement rows stage as parquet (one
  * file per task, executor-side — no row ever crosses the driver) and
  * the commit re-clusters them through the same [[ZOrder.zWrite]] path
  * every other write uses, then swaps the manifest copy-on-write. */
class ZRowLevelOperation(path: String, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** Set by the scan at plan time; consumed by the write's commit:
    * (scanned snapshot, affected files, recorded schema). */
  @volatile private[sources] var planned
      : Option[(ZLog.ZSnapshot, Seq[String], StructType)] = None

  /** Flipped by the write's commit the instant it reads [[planned]] —
    * after that, the replacement target is FIXED, and any further
    * runtime narrowing from a re-executed scan must fail loudly instead
    * of silently desynchronizing scan and write (the r13 verdict's
    * item 4, made checkable: Spark today delivers every runtime group
    * filter before the write commits — BatchScanExec.filteredPartitions
    * runs at execution, the commit at job end — and this guard turns a
    * future reordering into an error, never a wrong rewrite). */
  @volatile private[sources] var targetConsumed = false

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-z row-level $cmd $path"

  /** The `_file` metadata column rides every row-level read — it is the
    * GROUP identity ([[ZBatchTable.metadataColumns]]): runtime group
    * filtering collects the distinct `_file`s of MATCHING rows (bounded
    * by file count, never row count — Iceberg's exact recipe) and
    * [[ZRowLevelScan.filter]] narrows the affected set to precisely
    * those files. Requiring a metadata attribute also makes Spark apply
    * its OWN ReplaceData projections (the DataAndMetadata writing task),
    * so the stage writers receive cleanly projected data rows. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(ZBatch.FileCol),
      // STABLE ROW IDENTITY (r15): requiring __rid makes Spark carry
      // each scanned row's id through the ReplaceData projections to
      // the write's metadata row — updated/carried rows keep their
      // identity, MERGE's not-matched inserts arrive with a null — so
      // the staged replacement can record it and the commit's change
      // set pairs exact pre/postimages instead of multiset diffs
      org.apache.spark.sql.connector.expressions.Expressions
        .column(ZOrder.RidCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZRowLevelScanBuilder(this, path)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    new WriteBuilder {
      override def build(): Write = new Write {
        override def description(): String =
          s"graft-z row-level $cmd write $path"
        override def toBatch: BatchWrite =
          new ZRowLevelBatchWrite(ZRowLevelOperation.this, path,
            cmd.toString.toLowerCase, info.schema())
      }
    }
  }
}

/** Filter/column pushdown for the row-level scan — the batch scan's
  * best-effort contract ([[ZBatchScanBuilder]]): every filter stays
  * residual (the rewritten plan re-applies the full condition), bounds
  * and point equalities drive manifest/bloom pruning of the AFFECTED
  * file set. No aggregate pushdown — a row-level scan feeds ReplaceData,
  * never an aggregate. */
class ZRowLevelScanBuilder(op: ZRowLevelOperation, path: String)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var required: Option[StructType] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => ZBatch.foldBounds(f, Map.empty).isDefined)
    filters // ALL filters stay with Spark: pruning is best-effort
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = Some(requiredSchema)
  }

  override def build(): Scan = {
    val (bounds, points) = ZBatch.pruningShapes(pushed.toSeq)
    new ZRowLevelScan(op, path, required, bounds, points)
  }
}

/** The affected-groups scan: resolves the snapshot + pruned file set
  * EAGERLY at scan creation (driver, optimizer time) and records them on
  * the operation so the write's commit replaces exactly what was read.
  * Reading is the batch table's own columnar plane
  * ([[ZBatchReaderFactory]], manifest-sized bin-packed splits). */
class ZRowLevelScan(op: ZRowLevelOperation, path: String,
    required: Option[StructType],
    bounds: Seq[(String, Option[Any], Option[Any])],
    points: Seq[(String, Any)]) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  private val (snap, files0, schema) =
    ZOrder.planRowLevelScan(SparkSession.active, path, bounds, points)
  @volatile private var files: Seq[(String, Option[Long])] = files0
  locally { op.planned = Some((snap, files.map(_._1), schema)) }

  override def readSchema(): StructType = required.getOrElse(schema)
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-z row-level scan $path, ${files.size} affected file(s), " +
      s"pruned on [${bounds.map(_._1).sorted.mkString(", ")}]"

  /** Runtime GROUP filtering (Spark's RowLevelOperationRuntimeGroupFiltering
    * rule): a dynamic-pruning subquery computes the distinct `_file`s of
    * rows MATCHING the statement's condition, and this scan narrows its
    * affected set — and the write's replacement target — to exactly
    * those files. This is what bounds a MERGE (whose join condition can
    * never push statically) to O(matched files) instead of a full-table
    * rewrite. Narrowing is sound by construction: a file outside the
    * matching set provably holds no row the statement changes, so it
    * carries by reference; an unrecognized predicate shape narrows
    * nothing (superset = correct, just unpruned). */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(ZBatch.FileCol))

  override def filter(predicates:
      Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    if (op.targetConsumed) throw new IllegalStateException(
      s"graft-z row-level scan of $path: a runtime group filter arrived " +
        "AFTER the write committed its replacement target — narrowing " +
        "now would desynchronize scan and write (the copy-on-write " +
        "protocol requires every filter to land before the commit " +
        "reads the planned file set); re-run the statement")
    predicates.foreach { p =>
      if (p.name() == "IN" && p.children().nonEmpty &&
          (p.children()(0) match {
            case r: org.apache.spark.sql.connector.expressions.NamedReference =>
              r.fieldNames().toSeq == Seq(ZBatch.FileCol)
            case _ => false
          })) {
        val keep = p.children().drop(1).toSeq.collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value != null => l.value.toString
        }.toSet
        files = files.filter { case (f, _) => keep.contains(f) }
        op.planned = Some((snap, files.map(_._1), schema))
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    ZBatch.packPartitions(SparkSession.active, path, files)

  override def createReaderFactory(): PartitionReaderFactory =
    ZBatchReaderFactory(
      GraftShardsSource.confOverrides(SparkSession.active),
      // requested names translate LOGICAL→physical (r16 column mapping)
      ZOrder.physicalReadFields(SparkSession.active, path, None,
        readSchema().fields.map(f => (f.name, f.dataType.catalogString))),
      metaFileCol = readSchema().fieldNames.contains(ZBatch.FileCol) &&
        !schema.fieldNames.contains(ZBatch.FileCol))
}

/** The replacement write: per-task writers stage the rows as parquet
  * under `<store>/_ztmp/` (invisible to every reader — the manifest is
  * the commit log; vacuum only collects `d-*` dirs), then the
  * driver-side [[commit]] re-reads the staged rows as one DataFrame and
  * runs the copy-on-write swap ([[ZOrder.replaceScannedFiles]]) — the
  * same driver-orchestrated commit discipline as every other z-store
  * write (the z-sort, footer harvest, CHECK validation and manifest CAS
  * are whole-batch operations, not per-task ones). Task retries are
  * safe: file names carry the task id, and Spark's output commit
  * coordinator admits one commit per partition; a failed statement's
  * staging dir dies in [[abort]]. */
class ZRowLevelBatchWrite(op: ZRowLevelOperation, path: String,
    opName: String, querySchema: StructType) extends BatchWrite {

  private val stagingDir =
    s"$path/_ztmp/rlo-" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(12)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    ZStageWriterFactory(stagingDir,
      GraftShardsSource.confOverrides(SparkSession.active),
      querySchema.fields.map(f => (f.name, f.dataType.catalogString)))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val s = SparkSession.active
    try {
      op.targetConsumed = true // late runtime narrowing now fails loudly
      val (snap, affected, schema) = op.planned.getOrElse(
        throw new IllegalStateException(
          s"graft-z row-level $opName on $path: the write committed " +
            "before its scan planned — a plan shape this operation does " +
            "not support"))
      val staged = messages.toSeq.collect {
        case ZStageMsg(Some(f), _) => f
      }
      // affected empty + no replacement rows = the statement matched
      // nothing (or MERGE pruned everything and inserted nothing): no-op.
      // affected empty + staged rows = MERGE's not-matched INSERTs with
      // no matched groups — commits as a pure carry-all append.
      if (affected.nonEmpty || staged.nonEmpty) {
        // staged rows carry the hidden row identity ([[ZOrder.RidCol]]):
        // scan-originated rows keep theirs, MERGE inserts staged null
        val replacement =
          if (staged.isEmpty)
            s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              ZOrder.ridded(schema))
          else s.read.schema(ZOrder.ridded(schema)).parquet(staged: _*)
        ZOrder.replaceScannedFiles(s, path, snap, affected, replacement,
          opName)
      }
    } finally cleanup(s)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanup(SparkSession.active)

  private def cleanup(s: SparkSession): Unit = {
    val p = new Path(stagingDir)
    val fs = StoreMaint.fsFor(s, p)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}

private[sources] case class ZStageMsg(file: Option[String], rows: Long)
  extends WriterCommitMessage

private[sources] case class ZStageWriterFactory(stagingDir: String,
    confOverrides: Map[String, String], fields: Array[(String, String)])
    extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val schema = StructType(fields.map { case (n, ddl) =>
      StructField(n, DataType.fromDDL(ddl))
    })
    private val file =
      new Path(s"$stagingDir/part-$partitionId-$taskId.parquet")
    private var writer
        : org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
    private var rows = 0L
    private var closed = false
    // Incoming row shape, resolved on the first row. A group-based
    // UPDATE/MERGE query carries a LEADING `__row_operation` INT column
    // (RewriteRowLevelCommand.addOperationColumn) that Spark's own
    // writing task strips ONLY on the metadata-projection variant
    // (ReplaceDataExec.writingTask → DataAndMetadataWritingSparkTask);
    // a table with no metadata columns receives the raw row, data
    // columns in declared order AFTER the operation — so the writer
    // applies the same suffix projection Spark's dataProj would.
    // Group-based DELETE plans (remaining rows only) have no operation
    // column and arrive exactly as the write schema.
    private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
    private var projResolved = false

    // the staged file carries data columns PLUS the hidden row identity
    // ([[ZOrder.RidCol]]): scan-originated rows keep theirs (delivered
    // through the metadata variant below), fresh rows stage null
    private val stageSchema = StructType(schema.fields :+
      StructField(ZOrder.RidCol, org.apache.spark.sql.types.LongType,
        nullable = true))
    private val ridRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    private val joined =
      new org.apache.spark.sql.catalyst.expressions.JoinedRow

    private def writeRow(row: InternalRow, rid: Any): Unit = {
      if (writer == null) // lazy: an empty task stages no file
        writer = org.apache.spark.sql.graftshim.ParquetStage.writer(
          file, stageSchema, GraftShardsSource.hadoopConf(confOverrides))
      if (!projResolved) {
        val extra = row.numFields - schema.length
        require(extra == 0 || extra == 1,
          s"graft-z row-level write: incoming row has ${row.numFields} " +
            s"fields for a ${schema.length}-column schema — an " +
            "unrecognized ReplaceData row shape")
        if (extra == 1)
          proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
            schema, (1 to schema.length).toList)
        projResolved = true
      }
      ridRow.update(0, rid)
      val data: InternalRow =
        if (proj == null) row else { proj.project(row); proj }
      writer.write(joined(data, ridRow))
      rows += 1
    }

    override def write(row: InternalRow): Unit = writeRow(row, null)

    /** Scan-originated rows arrive through the metadata variant (the
      * operation requires `_file` and `__rid`, so Spark's
      * DataAndMetadata task projects and calls the two-arg form). The
      * metadata row holds the required metadata attributes in
      * declaration order — (`_file` string, `__rid` long); `_file` is
      * informational (the store derives placement from z-clustering),
      * the rid is the row's STABLE IDENTITY and stages with it. A wrong
      * field order here would stage garbage rids — the round-trip is
      * spec-pinned (two identical rows update distinguishably). */
    override def write(metadata: InternalRow, row: InternalRow): Unit = {
      val rid: Any =
        if (metadata.numFields < 2 || metadata.isNullAt(1)) null
        else java.lang.Long.valueOf(metadata.getLong(1))
      writeRow(row, rid)
    }

    override def commit(): WriterCommitMessage = {
      closeOnce()
      ZStageMsg(if (writer == null) None else Some(file.toString), rows)
    }

    override def abort(): Unit = {
      closeOnce()
      if (writer != null) {
        val fs = file.getFileSystem(
          GraftShardsSource.hadoopConf(confOverrides))
        fs.delete(file, false)
        ()
      }
    }

    override def close(): Unit = closeOnce()

    private def closeOnce(): Unit =
      if (!closed) {
        closed = true
        if (writer != null) writer.close()
      }
  }
}
