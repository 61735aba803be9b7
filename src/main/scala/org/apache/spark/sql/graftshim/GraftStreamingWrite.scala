package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.core.{AppendOp, ManifestIO, ReadOp, SpaceDataset}
import graft.format.{StoragePaths, TxnTag}

/** Native Structured Streaming SINK for graft tables —
  * `df.writeStream.toTable("cat.t")` without the foreachBatch helper:
  *
  *  - tasks stream rows through Spark's own parquet [[OutputWriter]]
  *    (codegen'd row encoding, field-id footers) directly into the
  *    table's data directory — uncommitted files are invisible until
  *    the manifest lands, so no staging rename pass is needed;
  *  - the DRIVER commits each epoch as one snapshot: footer harvest →
  *    manifest (+ manifest-list summary) → optimistic Append commit;
  *  - exactly-once via the same `TxnTag` watermarks the foreachBatch
  *    sinks use: `(queryId, epochId)` is recorded in the commit, so a
  *    replayed epoch skips the commit and deletes its re-written files.
  *
  * Record-field and bucketed tables are rejected (the first needs the
  * record-payload writer, the second a bucket shuffle the streaming
  * write API cannot impose); use the `foreachBatch` upsert/append
  * helpers for those. */
final class GraftStreamingWrite(
    spark: SparkSession,
    ds: SpaceDataset,
    queryId: String) extends StreamingWrite {

  private val storage = ds.storage
  require(storage.recordFields.isEmpty,
    "streaming writes into record-field tables are unsupported — use " +
      "foreachBatch with SpaceDataset.appendOnce")
  require(storage.metadata.numBuckets == 0,
    "streaming writes into bucketed tables are unsupported (no bucket " +
      "shuffle in the streaming write path) — use foreachBatch")

  // physical write schema WITH field-id metadata, so streamed footers
  // carry the same ids as batch appends (schema evolution by id)
  private val idSchema: StructType =
    ReadOp.physicalSchemaWithIds(storage.schema, storage.recordFields)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // the batch writer's options (bloom filters), so streamed footers
    // carry the same membership evidence as appended ones
    val job = Job.getInstance(classic.sessionState.newHadoopConfWithOptions(
      AppendOp.writeOptions(spark, storage)))
    val factory = new ParquetFileFormat()
      .prepareWrite(classic, job, Map.empty, idSchema)
    GraftStreamingWriterFactory(factory,
      new SerializableConfiguration(job.getConfiguration),
      storage.location, idSchema)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val rels = messages.toSeq.collect { case m: GraftFilesMessage => m.files }.flatten
    storage.reload()
    // session conf, matching the writer factory (spark.hadoop.* session
    // overrides must resolve the same filesystem on commit/abort)
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()
    if (storage.metadata.txnVersions.get(queryId).exists(_ >= epochId)) {
      // epoch replay after a successful commit: this epoch's rows are
      // already in the table — the re-written files are orphans
      rels.foreach { rel =>
        val p = new Path(storage.absolute(rel))
        p.getFileSystem(conf).delete(p, false)
      }
      return
    }
    val metas = ManifestIO.harvestLanded(storage, conf, rels.sorted.map(_ -> None)).filter { m =>
      // a task that received no rows still opened a 0-row file
      val keep = m.numRows > 0
      if (!keep) {
        val p = new Path(storage.absolute(m.file))
        p.getFileSystem(conf).delete(p, false)
      }
      keep
    }
    // an epoch with no rows still commits an empty snapshot: the txn
    // watermark must advance or a restart would replay it forever
    val patch = ManifestIO.newFilesPatch(spark, storage, metas)
      .copy(txn = Some(TxnTag(queryId, epochId)))
    try ds.commitAppend(ds.getCurrentBranch)(Some(patch))
    catch {
      // a racing replay of this epoch committed between the up-front
      // check and the lock: the rows are in the table; this attempt's
      // files/manifest are unreferenced (GC reaps them)
      case _: graft.core.DuplicateTransactionException => ()
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // session conf, matching the writer factory (spark.hadoop.* session
    // overrides must resolve the same filesystem on commit/abort)
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()
    messages.collect { case m: GraftFilesMessage => m.files }.flatten.foreach { rel =>
      val p = new Path(storage.absolute(rel))
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, false)
    }
  }
}

/** Table-root-relative paths of the files one task wrote. */
final case class GraftFilesMessage(files: Seq[String]) extends WriterCommitMessage

/** Serializable per-task writer factory: opens Spark's parquet
  * [[OutputWriter]] lazily on the first row, at a fresh index-file name
  * under the table root. */
final case class GraftStreamingWriterFactory(
    factory: OutputWriterFactory,
    conf: SerializableConfiguration,
    tableRoot: String,
    schema: StructType) extends StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int,
      taskId: Long,
      epochId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {

    private var writer: OutputWriter = _
    private var rel: String = _

    override def write(row: InternalRow): Unit = {
      if (writer == null) {
        rel = StoragePaths.newIndexDataFile()
        val ctx = new TaskAttemptContextImpl(conf.value,
          new TaskAttemptID(new TaskID(epochId.toString, partitionId, TaskType.MAP,
            partitionId), taskId.toInt))
        writer = factory.newInstance(s"$tableRoot/$rel", schema, ctx)
      }
      writer.write(row)
    }

    override def commit(): WriterCommitMessage = {
      if (writer != null) writer.close()
      GraftFilesMessage(Option(rel).toSeq)
    }

    override def abort(): Unit = {
      if (writer != null) {
        writer.close()
        val p = new Path(s"$tableRoot/$rel")
        val fs = p.getFileSystem(conf.value)
        if (fs.exists(p)) fs.delete(p, false)
      }
    }

    override def close(): Unit = ()
  }
}
