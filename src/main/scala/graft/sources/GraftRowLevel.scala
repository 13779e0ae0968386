package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DML write-path selection, per session
  * (`SET spark.graft.dml.mode = cow | mor`). Both modes run
  * [[GraftDeltaOperation]]:
  *
  *  - `cow` (default): the delta write computes exact per-row kill
  *    bitmaps + change files, then a synchronous finalize step
  *    rewrites the touched files' SURVIVORS into the same commit —
  *    the table state ends fully copy-on-write (no residual DVs),
  *    while the bitmaps ride the commit as metadata so `t.feed`
  *    serves EXACT `update_preimage`/`update_postimage`/`delete`
  *    rows for COW DML (O(changed rows), never whole post-image
  *    files). Costs one extra read of the touched files.
  *  - `mor`: deletion vectors + insert files, no rewrite — write
  *    amplification O(changed rows); reads pay the DV filter until
  *    `optimizeCompactDeletes`.
  */
private object GraftRowLevel {
  def builder(root: String, tableSchema: StructType,
              info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = {
        val mode = SparkSession.active.conf.get("spark.graft.dml.mode", "cow")
        require(mode == "cow" || mode == "mor",
          s"spark.graft.dml.mode must be cow or mor, got $mode")
        new GraftDeltaOperation(root, tableSchema, info.command(),
          finalizeCow = mode == "cow")
      }
    }
}

/** One written staging file. */
private case class GraftFileMessage(path: String, rows: Long)
  extends WriterCommitMessage

/** A delta task's result: files written (inserts) plus per-file
  * deleted-row bitmap words (sparse: only words with set bits). The
  * message is O(files + touched-rows/64) — never row-proportional.
  */
private case class GraftDeltaMessage(files: Seq[(String, Long)],
                                     deletes: Map[String, Array[Long]])
  extends WriterCommitMessage

/** SQL `UPDATE` / `MERGE INTO` / rewrite-path `DELETE` as delta
  * row-level operations ([[SupportsDelta]]): the command writes
  * deletion-vector bits and NEW rows — the Iceberg position-delete /
  * Delta DV recipe through Spark's delta-write framework:
  *
  *  - the candidate rows come from a [[GraftScan]], so the command's
  *    ON/WHERE condition prunes FILES against the log's typed stats
  *    and blooms first, and the scan captures the snapshot version
  *    it resolved (the commit's `readVersion`);
  *  - the row ID is `(_file, _pos)` — the coordinates the scan's
  *    readers already materialize and the DV format already
  *    addresses;
  *  - updates arrive as DELETE + INSERT pairs
  *    (`representUpdateAsDeleteAndInsert`), so the writer is two
  *    primitives: set a bit, append a row;
  *  - each task accumulates per-file bitmaps locally (a BitSet per
  *    touched file) and ships O(touched-rows/64) words; the driver
  *    ORs them and publishes ONE commit: `added` = insert files,
  *    `dvFiles`/`dvs` = the vectors, nothing removed.
  *
  * At 100 TB this is the difference between a MERGE that rewrites
  * every stats-admissible file (copy-on-write) and one whose write
  * amplification is O(changed rows): a 0.1%-selectivity MERGE over a
  * 1M-file table writes KB of bitmap per touched file instead of
  * re-materializing each. Reads pay the DV filter until
  * `optimizeCompactDeletes` folds dense vectors back in — the
  * standard MOR maintenance contract. With `finalizeCow` (the default
  * `cow` mode, [[GraftRowLevel.builder]]) the same commit also
  * rewrites the touched files' survivors and removes the files.
  */
private[sources] class GraftDeltaOperation(root: String,
                                           tableSchema: StructType,
                                           cmd: RowLevelOperation.Command,
                                           finalizeCow: Boolean = false)
  extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {

  @volatile private var scanned: Option[(Seq[String], Long)] = None

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftDelta($cmd, root=$root)"

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(GraftTable.FileMetaCol),
      org.apache.spark.sql.connector.expressions.Expressions.column(GraftTable.PosMetaCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes()
    : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      GraftTable.FileMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(SparkSession.active, root, Long.MaxValue, tableSchema,
      options, onPlan = Some((fs, v) => scanned = Some((fs, v))))

  override def newWriteBuilder(info: LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          override def description(): String = s"GraftDeltaWrite($cmd)"

          /** Small-file hygiene (the Iceberg position-delta recipe):
            * cluster the delta rows by `_file` BEST-EFFORT — Spark
            * plans a RebalancePartitions, so with AQE a small MOR
            * update's post-images coalesce into a handful of write
            * tasks instead of one 1-row file per input task
            * (O(advisory-size partitions), not O(tasks)), while a
            * huge merge-insert load (null `_file`, one hash bucket)
            * is split back out by AQE's skew handling. Non-strict:
            * with AQE off the plan degrades to a plain shuffle —
            * never a failure. Delete bitmaps are unaffected (they OR
            * across tasks regardless of placement).
            */
          override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              Array(org.apache.spark.sql.connector.expressions.Expressions.column(
                GraftTable.FileMetaCol)))
          override def distributionStrictlyRequired(): Boolean = false
          override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty

          override def toBatch(): org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new GraftDeltaBatchWrite(root, info.schema(),
              action = (if (finalizeCow) "" else "mor-") +
                cmd.toString.toLowerCase(java.util.Locale.ROOT),
              () => scanned,
              failOnConcurrentAppend = cmd == RowLevelOperation.Command.MERGE,
              finalizeCow = finalizeCow)
        }
    }
}

/** The delta batch write: executors write insert files into
  * `data/<txnId>/` via Spark's own serialized `OutputWriterFactory`,
  * deletion bitmaps are assembled from the sparse per-task words, and
  * one commit carries both.
  */
private class GraftDeltaBatchWrite(root: String, logicalSchema: StructType,
                                   action: String,
                                   scanned: () => Option[(Seq[String], Long)],
                                   failOnConcurrentAppend: Boolean,
                                   finalizeCow: Boolean = false)
  extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  private def spark = SparkSession.active
  private val txnId =
    s"sql-$action-a${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
  private val physSchema = {
    val renames = TxnLog.columnMapping(root)
    StructType(logicalSchema.fields.map(f =>
      f.copy(name = renames.getOrElse(f.name, f.name))))
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
    : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    val dir = Paths.get(root, "data", txnId)
    Files.createDirectories(dir)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, physSchema)
    new GraftDeltaWriterFactory(dir.toString, physSchema,
      new SerializableConfiguration(job.getConfiguration), owf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val deltas = messages.collect { case m: GraftDeltaMessage => m }
    val files = deltas.flatMap(_.files).collect { case (p, n) if n > 0 => p }
      .toSeq.sorted
    // OR the sparse word maps across tasks, render the DV hex per file
    val merged = scala.collection.mutable.Map.empty[String, Array[Long]]
    deltas.foreach(_.deletes.foreach { case (f, words) =>
      val cur = merged.getOrElseUpdate(f, new Array[Long](words.length))
      val grown = if (cur.length >= words.length) cur else java.util.Arrays.copyOf(cur, words.length)
      var i = 0
      while (i < words.length) { grown(i) |= words(i); i += 1 }
      merged(f) = grown
    })
    val (dvFiles, dvs) = merged.toSeq.sortBy(_._1).map { case (f, ws) =>
      (f, ws.map(w => f"$w%016x").mkString)
    }.unzip
    if (files.isEmpty && dvFiles.isEmpty) return
    // MOR post-images (insert halves of update pairs + merge inserts)
    // honor CHECK + NOT NULL like every other write; pure-DV deletes
    // stage no rows and skip via the empty-files early return
    TxnLog.checkStagedConstraints(spark, root, files)
    val readV = scanned().map(_._2).getOrElse(TxnLog.currentVersion(root))
    val statCols = GraftTable.statPaths(physSchema)
    // bucket-partitioned tables: post-image files re-record their
    // derived bucket stats so rewrites never lose bucket pruning
    val buckets = TxnLog.partitionFields(root).collect {
      case TxnLog.BucketField(n, c) if physSchema.fieldNames.contains(c) => (n, c)
    }
    val multi =
      if (files.isEmpty || (statCols.isEmpty && buckets.isEmpty)) Nil
      else TxnLog.statsForStaged(spark, root, txnId, statCols, files, buckets)
    // COW finalize: rewrite the touched files' SURVIVORS into this
    // same commit — added = change files + survivor files (survivors
    // marked row-preserving via `radds`), removed = the touched
    // files, and the kill bitmaps ride along as `dvFiles`/`dvs` so
    // the change feed serves exact pre-images at O(changed rows).
    // The table state ends pure copy-on-write: no residual vectors.
    val (survivors, survMulti) =
      if (finalizeCow && dvFiles.nonEmpty)
        TxnLog.stageCowSurvivors(spark, root, readV, dvFiles.zip(dvs), txnId)
      else (Nil, Nil)
    val allAdds = files ++ survivors
    val allMulti =
      if (multi.isEmpty && survMulti.isEmpty) Nil
      else (if (multi.isEmpty) files.map(_ => Map.empty[String, TxnLog.FileStat])
            else multi) ++
           (if (survMulti.isEmpty && survivors.nonEmpty)
              survivors.map(_ => Map.empty[String, TxnLog.FileStat])
            else survMulti)
    // declare the write schema only when rows were added: a DELETE's
    // LogicalWriteInfo schema is the operation's (not the table's),
    // and a pure-DV commit changes no schema anyway
    TxnLog.commit(root, action, added = allAdds,
      removed = if (finalizeCow) dvFiles else Nil,
      readVersion = readV, txnId = txnId, multiStats = allMulti,
      dvFiles = dvFiles, dvs = dvs,
      schemaId = if (files.isEmpty) "" else TxnLog.schemaFingerprint(physSchema),
      schemaJson =
        if (files.isEmpty) "" else GraftTable.declareJson(root, physSchema),
      failOnConcurrentAppend = failOnConcurrentAppend,
      radds = survivors)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: GraftDeltaMessage =>
        m.files.foreach { case (p, _) => Files.deleteIfExists(Paths.get(p)) }
      case _ => ()
    }
}

private class GraftDeltaWriterFactory(stagingDir: String, schema: StructType,
                                      conf: SerializableConfiguration,
                                      owf: OutputWriterFactory)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
    : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] = {
    val path = s"$stagingDir/part-$partitionId-$taskId.parquet"
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      // insert file opened LAZILY: a delete-only task writes no file
      private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var n = 0L
      private val deletes =
        scala.collection.mutable.Map.empty[String, java.util.BitSet]

      override def insert(row: InternalRow): Unit = {
        if (writer == null) {
          val attempt = new TaskAttemptID(
            new TaskID(new JobID("graft", 1), TaskType.MAP, partitionId), taskId.toInt)
          writer = owf.newInstance(path, schema,
            new TaskAttemptContextImpl(conf.value, attempt))
        }
        writer.write(row); n += 1
      }

      /** `id` carries the row's `(_file, _pos)` in [[rowId]] order. */
      override def delete(metadata: InternalRow, id: InternalRow): Unit = {
        val file = id.getUTF8String(0).toString
        val pos = id.getLong(1)
        require(pos < Int.MaxValue, s"row index $pos out of bitmap range for $file")
        deletes.getOrElseUpdate(file, new java.util.BitSet()).set(pos.toInt)
      }

      override def update(metadata: InternalRow, id: InternalRow,
                          row: InternalRow): Unit =
        throw new IllegalStateException(
          "updates are represented as delete+insert (representUpdateAsDeleteAndInsert)")

      override def commit(): WriterCommitMessage = {
        if (writer != null) writer.close()
        if (n == 0L) Files.deleteIfExists(Paths.get(path))
        GraftDeltaMessage(
          if (n > 0L) Seq((path, n)) else Nil,
          deletes.view.mapValues(_.toLongArray).toMap)
      }

      override def abort(): Unit = {
        if (writer != null) writer.close()
        Files.deleteIfExists(Paths.get(path))
        ()
      }

      override def close(): Unit = ()
    }
  }
}
