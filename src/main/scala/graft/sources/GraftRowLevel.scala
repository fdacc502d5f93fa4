package graft.sources

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Maintenance

/** SQL `UPDATE` / `MERGE INTO` / row-level `DELETE` over the graft
  * store (r15 verdict "Next round" #3) — the DSv2 row-level-operation
  * contract, DELTA-based (Spark's `SupportsDelta`): the rewrite plans
  * a scan that carries each row's POSITION IDENTITY (the
  * `_graft_file_key` / `_graft_row_index` metadata columns the scan
  * already tracks for merge-on-read), executors write exactly two
  * kinds of artifacts — a deletion-vector sidecar of touched positions
  * and an insert-leg data file — and the driver lands both as ONE OCC
  * snapshot commit. UPDATE is represented as delete+insert
  * (`representUpdateAsDeleteAndInsert`), so `UPDATE` = MoR dv +
  * reinsert leg in one commit, and `MERGE INTO` maps onto the
  * io_merge_dv shape with zero data-file rewrites.
  *
  * Scale shape: write amplification is O(changed rows) — the base
  * files move zero bytes; the dv line carries the operation's READ SET
  * (the zone-pruned groups its scan resolved), so a concurrent
  * compaction/overwrite that retires any of them fails this commit
  * closed instead of silently dropping the deletes, and two concurrent
  * row-level writes on the same groups serialize (commitSnapshot's r16
  * rules). Executors write parquet through Spark's own
  * `ParquetFileFormat#prepareWrite` factory — codegen'd write support,
  * no bespoke row encoder.
  */
private[sources] class GraftRowLevelOperation(store: GraftStore.Resolved,
    cmd: RowLevelOperation.Command) extends RowLevelOperation with SupportsDelta {

  /** The groups the operation's scan resolved (post zone-pruning) —
    * the dv line's read set. Defaults to every live group until the
    * scan is built. */
  @volatile private[sources] var scannedGroups: Seq[String] = store.dataPaths

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(store, scan => scannedGroups = scan.keptGroupPaths)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(store,
        GraftRowLevelOperation.this, info.schema())
    }

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftStore.FileKeyCol),
    Expressions.column(GraftStore.RowIndexCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def description(): String = s"GraftRowLevel($cmd) ${store.root}"
}

private[sources] class GraftDeltaWrite(store: GraftStore.Resolved,
    op: GraftRowLevelOperation, rowSchema: StructType) extends DeltaWrite {
  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(store, op, rowSchema)
}

/** Commit message: ALL files one task wrote plus its op counts. The
  * full list is the commit's source of truth — the driver promotes
  * exactly these files and sweeps everything else out of the staging
  * dirs, so a task attempt that died without running abort()
  * (executor crash, killed speculative attempt) cannot leak a partial
  * or duplicate file into the committed group (r16 ADVICE). */
private[sources] case class GraftDeltaCommitMessage(
    dataFiles: Seq[String], dvFile: Option[String],
    deletes: Long, inserts: Long) extends WriterCommitMessage

private[sources] class GraftDeltaBatchWrite(store: GraftStore.Resolved,
    op: GraftRowLevelOperation, rowSchema: StructType) extends DeltaBatchWrite {

  private def spark = SparkSession.active
  private val runId = java.util.UUID.randomUUID().toString.take(12)
  private val appendDir = s"${store.root}/rlw_$runId"
  private val dvDir = s"${store.root}/dv_rlw_$runId"
  // files carry PHYSICAL names (column mapping); row order is the
  // logical schema's, so a rename is just a header swap
  private val physSchema = StructType(
    rowSchema.fields.map(f => f.copy(name = store.phys(f.name))))
  private val dvSchema = StructType(Seq(
    StructField("file_key", StringType, nullable = false),
    StructField("row_index", LongType, nullable = false)))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val fmt = new ParquetFileFormat()
    // encrypted-data stores: both artifact kinds are PME ciphertext
    val dataJob = Job.getInstance(
      Maintenance.storeHadoopConf(spark, store.root))
    val dataFactory = fmt.prepareWrite(spark, dataJob, Map.empty, physSchema)
    val dvJob = Job.getInstance(
      Maintenance.storeHadoopConf(spark, store.root))
    val dvFactory = fmt.prepareWrite(spark, dvJob, Map.empty, dvSchema)
    // partitioned stores: insert legs keep the store's layout — each
    // task routes rows into per-partition-value subdirs, so the commit
    // lands one group per touched partition (pruning never degrades
    // through an UPDATE/MERGE); ordinals resolve against the physical
    // write schema
    // a pure DELETE's write schema carries no data columns (it never
    // inserts), so only resolve ordinals for columns actually present
    val partIdx = store.partitionCols.map(store.phys)
      .filter(physSchema.fieldNames.contains)
      .map { p =>
        val i = physSchema.fieldIndex(p)
        (s"__p_$p", i, physSchema.fields(i).dataType)
      }
    new GraftDeltaWriterFactory(appendDir, dvDir, physSchema, dvSchema,
      dataFactory, new SerializableHadoopConf(dataJob.getConfiguration),
      dvFactory, new SerializableHadoopConf(dvJob.getConfiguration),
      partIdx)
  }

  /** Delete every file under `dir` that is NOT in `committed` (dead /
    * speculative attempts that never ran abort()), then prune emptied
    * partition subdirs — the group contents become exactly the file
    * set the successful tasks reported. */
  private def sweepUncommitted(dir: String, committed: Set[String]): Unit = {
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (!committed.contains(f.getAbsolutePath)) { f.delete(); () }
    val d = new java.io.File(dir)
    if (d.exists()) {
      walk(d)
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory &&
          Option(f.listFiles()).forall(_.isEmpty)).foreach(_.delete())
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.map(_.asInstanceOf[GraftDeltaCommitMessage])
    val nDel = msgs.map(_.deletes).sum
    val nIns = msgs.map(_.inserts).sum
    def drop(dir: String): Unit = graft.Staging.rmTree(new java.io.File(dir))
    if (nDel == 0 && nIns == 0) { drop(appendDir); drop(dvDir); return }
    // promote only the files committed tasks reported (r16 ADVICE)
    val committed = msgs.flatMap(m => m.dataFiles ++ m.dvFile)
      .map(p => new java.io.File(p).getAbsolutePath).toSet
    sweepUncommitted(appendDir, committed)
    sweepUncommitted(dvDir, committed)
    // zone stats for the insert leg(s) from their own footers — the
    // same zero-job harvest every write front door does; partitioned
    // stores commit one group per touched partition-value leaf dir
    val inserted =
      if (nIns > 0) Maintenance.harvestGroups(spark, store.root, appendDir,
        physSchema, partitioned = store.partitionCols.nonEmpty)
      else { drop(appendDir); Nil }
    val deleted =
      if (nDel > 0) Seq(Maintenance.DvLine.render(dvDir, op.scannedGroups))
      else { drop(dvDir); Nil }
    Maintenance.commitGroups(store.root, store.version, Seq.empty,
      inserted ++ deleted, Seq(appendDir, dvDir))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    graft.Staging.rmTree(new java.io.File(appendDir))
    graft.Staging.rmTree(new java.io.File(dvDir))
  }
}

private[sources] class GraftDeltaWriterFactory(
    appendDir: String, dvDir: String,
    physSchema: StructType, dvSchema: StructType,
    dataFactory: OutputWriterFactory, dataConf: SerializableHadoopConf,
    dvFactory: OutputWriterFactory, dvConf: SerializableHadoopConf,
    // (tag dir prefix, row ordinal, type) per store partition column
    partIdx: Seq[(String, Int, org.apache.spark.sql.types.DataType)] = Seq.empty)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private def ctx(conf: org.apache.hadoop.conf.Configuration) =
        new TaskAttemptContextImpl(conf, new TaskAttemptID(
          new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId),
          (taskId % Int.MaxValue).toInt))

      // one open insert writer per partition-value directory (a task
      // usually touches few values; unpartitioned stores use the root)
      private val dataWriters =
        scala.collection.mutable.LinkedHashMap.empty[String, OutputWriter]
      private var dvWriter: OutputWriter = _
      private val dataPaths = Seq.newBuilder[String]
      private var dvPath: Option[String] = None
      private var nDel = 0L
      private var nIns = 0L

      /** The partition subdir of a row — Hive-style escaped values
        * (rendering only affects LAYOUT: the group's footer stats pin
        * the actual value for pruning). */
      private def partDir(row: InternalRow): String =
        if (partIdx.isEmpty) appendDir
        else appendDir + partIdx.map { case (tag, i, dt) =>
          val v =
            if (row.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__"
            else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .escapePathName(String.valueOf(row.get(i, dt)))
          s"/$tag=$v"
        }.mkString

      private def data(row: InternalRow): OutputWriter =
        dataWriters.getOrElseUpdate(partDir(row), {
          val c = ctx(dataConf.value)
          val p = f"${partDir(row)}/part-$partitionId%05d-$taskId-${
            dataWriters.size}${dataFactory.getFileExtension(c)}"
          dataPaths += p
          dataFactory.newInstance(p, physSchema, c)
        })
      private def dv(): OutputWriter = {
        if (dvWriter == null) {
          val c = ctx(dvConf.value)
          val p = f"$dvDir/part-$partitionId%05d-$taskId${dvFactory.getFileExtension(c)}"
          dvWriter = dvFactory.newInstance(p, dvSchema, c)
          dvPath = Some(p)
        }
        dvWriter
      }

      override def delete(metadata: InternalRow, id: InternalRow): Unit = {
        dv().write(id); nDel += 1
      }
      override def insert(row: InternalRow): Unit = {
        data(row).write(row); nIns += 1
      }
      override def update(metadata: InternalRow, id: InternalRow,
          row: InternalRow): Unit = { delete(metadata, id); insert(row) }
      override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
        insert(row)

      override def commit(): WriterCommitMessage = {
        close()
        GraftDeltaCommitMessage(dataPaths.result(), dvPath, nDel, nIns)
      }
      override def abort(): Unit = {
        close()
        for (p <- dataPaths.result() ++ dvPath)
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p))
      }
      override def close(): Unit = {
        dataWriters.valuesIterator.foreach(_.close())
        dataWriters.clear()
        if (dvWriter != null) { dvWriter.close(); dvWriter = null }
      }
    }
}
