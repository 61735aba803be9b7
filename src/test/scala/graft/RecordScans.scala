package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.bytes.BytesInput
import org.apache.parquet.column.Encoding
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

import graft.core._

/** Spark jobs started inside a block, the shuffle bytes they wrote, and
  * the file writes (SQL executions of a file-writing command) among
  * them. `calls` names every job, so a failed count assertion that
  * prints the JobCount shows which job appeared. */
final case class JobCount(jobs: Int, stages: Int, shuffleBytes: Long, calls: Seq[JobCount.Call],
    writes: Int = 0) {
  override def toString: String =
    s"JobCount(jobs = $jobs, stages = $stages, shuffleBytes = $shuffleBytes, writes = $writes)" +
      calls.map("\n  " + _).mkString
}

object JobCount {
  /** One job: its SQL execution id (None outside a SQL execution) and
    * the engine frames (`graft.`) of the call that started it, innermost
    * first. A job Spark starts from a thread of its own (a broadcast, an
    * adaptive query stage) has no engine frame; its execution id names
    * the query it serves. */
  final case class Call(jobId: Int, sqlExecution: Option[Long], site: Seq[String]) {
    override def toString: String =
      s"job $jobId, sql execution ${sqlExecution.getOrElse("-")}: " +
        (if (site.isEmpty) "no engine frame (a Spark thread)" else site.mkString(" < "))
  }

  /** The `graft.` frames of a stage's call site, without this object's. */
  private def engineFrames(details: String): Seq[String] =
    details.linesIterator.map(_.trim)
      .filter(l => l.startsWith("graft.") && !l.startsWith("graft.JobCount")).toSeq

  def of[T](spark: SparkSession)(body: => T): (T, JobCount) = {
    val sc = spark.sparkContext
    var stages = 0
    var shuffle = 0L
    var writes = 0
    val calls = mutable.ArrayBuffer[Call]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        stages += e.stageInfos.size
        val sqlId = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        // the result stage carries the job's own call site
        val site = e.stageInfos.sortBy(_.stageId).lastOption.fold(Seq.empty[String])(s =>
          engineFrames(s.details))
        calls += Call(e.jobId, sqlId, site)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        shuffle += Option(e.stageInfo.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          synchronized(writes += 1)
        case _ =>
      }
    }
    org.apache.spark.sql.graftshim.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graftshim.ListenerBusDrain(sc)
      (out, listener.synchronized(JobCount(calls.size, stages, shuffle, calls.toList, writes)))
    } finally sc.removeSparkListener(listener)
  }
}

/** Plain full scans of a record-field table's files with Spark's own
  * Parquet reader: the reference the positional reader is checked
  * against. Also writes record files of a chosen page layout, and reads
  * the layout back. */
object RecordScans {

  private val RecordType =
    MessageTypeParser.parseMessageType("message graft_record { required binary value; }")

  /** Page layouts of a test record file. */
  sealed trait Layout
  /** Row groups of 100 rows, pages of 9 rows. */
  case object NineRowPages extends Layout
  /** The same, written through the page-write call that takes no row
    * count, which leaves the offset index out of the file. */
  case object NoOffsetIndex extends Layout
  /** parquet-mr's defaults (1 MiB pages, dictionary encoding, statistics):
    * how the engine wrote record files before it sized their pages for
    * random access. */
  case object WriterDefaults extends Layout

  /** A record file of `payloads` at `path`. */
  def writeRecordFile(spark: SparkSession, path: String, payloads: Seq[Array[Byte]],
      layout: Layout): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    layout match {
      case NoOffsetIndex =>
        val w = new ParquetFileWriter(conf, RecordType, new Path(path))
        val desc = RecordType.getColumns.get(0)
        w.start()
        payloads.grouped(100).foreach { group =>
          w.startBlock(group.size.toLong)
          w.startColumn(desc, group.size.toLong, CompressionCodecName.UNCOMPRESSED)
          group.grouped(9).foreach { page =>
            val plain = java.nio.ByteBuffer.allocate(page.map(_.length + 4).sum)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            page.foreach(p => plain.putInt(p.length).put(p))
            w.writeDataPage(page.size, plain.capacity, BytesInput.from(plain.array),
              Encoding.BIT_PACKED, Encoding.BIT_PACKED, Encoding.PLAIN)
          }
          w.endColumn()
          w.endBlock()
        }
        w.end(new java.util.HashMap[String, String]())
      case _ =>
        val b = ExampleParquetWriter.builder(new Path(path)).withConf(conf).withType(RecordType)
        val w = (if (layout == NineRowPages)
          b.withRowGroupRowCountLimit(100).withPageRowCountLimit(9)
            .withMinRowCountForPageSizeCheck(1)
        else b).build()
        val groups = new SimpleGroupFactory(RecordType)
        try payloads.foreach(p => w.write(groups.newGroup().append("value",
          Binary.fromConstantByteArray(p))))
        finally w.close()
    }
  }

  /** One page of a record file: its rows, and its bytes as the offset
    * index gives them (page header included). */
  final case class Page(rows: Long, bytes: Long)

  /** The page layout of a Parquet file's first column: pages per row
    * group (one page for a group without an offset index), whether every
    * chunk has an offset index, a dictionary page, and statistics. */
  final case class PageLayout(groups: Seq[Seq[Page]], indexed: Boolean, dictionary: Boolean,
      statistics: Boolean)

  def pageLayout(spark: SparkSession, path: String): PageLayout = {
    val reader = RecordIO.openParquet(path, spark.sparkContext.hadoopConfiguration)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val chunks = blocks.map(_.getColumns.get(0))
      val indexes = chunks.map(c => Option(reader.readOffsetIndex(c)))
      PageLayout(
        blocks.zip(indexes).map {
          case (b, Some(oi)) => (0 until oi.getPageCount).map(p =>
            Page(oi.getLastRowIndex(p, b.getRowCount) - oi.getFirstRowIndex(p) + 1,
              oi.getCompressedPageSize(p).toLong))
          case (b, None) => Seq(Page(b.getRowCount, b.getTotalByteSize))
        },
        indexed = indexes.forall(_.isDefined),
        dictionary = chunks.exists(_.hasDictionaryPage),
        statistics = chunks.exists(c => c.getStatistics != null && !c.getStatistics.isEmpty))
    } finally reader.close()
  }

  /** A table `(id, body)` whose `body` payloads are indexed in place in
    * one external record file, written in `layout` from `payloads`: each
    * payload starts with its id and `\u0001`. */
  def externalTable(spark: SparkSession, payloads: Seq[Array[Byte]],
      layout: Layout): (SpaceDataset, String) = {
    val dir = Files.createTempDirectory("graft_pos_").toString
    val ext = dir + "/records.parquet"
    writeRecordFile(spark, ext, payloads, layout)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("body", BinaryType)))
    val ds = SpaceDataset.create(spark, dir + "/tbl", schema, Seq("id"), Seq("body"))
    RecordLoader.loadRecordParquet(spark, ds, "body", Seq(ext), Map(
      "id" -> expr("CAST(split(decode(value, 'UTF-8'), '\u0001', 2)[0] AS BIGINT)")))
    (ds, ext)
  }

  /** Absolute paths of a table's record files. */
  def recordFiles(ds: SpaceDataset): Seq[String] =
    ds.recordManifest().collect().map(r => ds.storage.absolute(r.getString(0))).toSeq

  /** Every value of `column` in the Parquet file at `absPath`, by row
    * position. */
  def byPosition(spark: SparkSession, absPath: String, column: String): Map[Long, Array[Byte]] =
    spark.read.parquet(absPath).select(col("_metadata.row_index"), col(column)).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap

  /** (key, decoded payload) of every LIVE index row of the current
    * snapshot, in manifest order: manifests in snapshot order, index
    * files in manifest order, rows in file order. */
  def livePayloads(ds: SpaceDataset, field: String, key: String): Seq[(Any, Array[Byte])] = {
    val spark = ds.spark
    val st = ds.storage
    val ms = st.metadata.currentSnapshot.manifestFiles.indexManifestFiles
    val fileIdx = ManifestIO.manifestSchema(st).fieldIndex(ManifestIO.FileCol)
    val files = ManifestIO.readIndexManifestRowsDriver(st, spark.sparkContext.hadoopConfiguration, ms)
      .map(_._2.getString(fileIdx))
    val dead = st.deleteVectors(st.metadata.currentSnapshotId).collect {
      case (rel, bm) if bm.bitmapB64.isDefined => rel -> DmlOps.deserializeBitmap(bm.bitmapB64.get)
    }
    val ser = graft.format.SerializerRegistry.resolve(st.schema(field))
    val records = mutable.Map[String, Map[Long, Array[Byte]]]()
    files.flatMap { rel =>
      spark.read.parquet(st.absolute(rel))
        .select(col("_metadata.row_index"), col(key), col(s"$field._FILE"), col(s"$field._ROW_ID"))
        .collect().sortBy(_.getLong(0)).toSeq
        .filterNot(r => dead.get(rel).exists(_.contains(r.getLong(0).toInt)))
        .map { r =>
          val payload =
            if (r.isNullAt(2)) null
            else records.getOrElseUpdate(r.getString(2),
              byPosition(spark, st.absolute(r.getString(2)), "value"))(r.getInt(3).toLong)
          r.get(1) -> (if (payload == null) null else ser.deserialize(payload))
        }
    }
  }

  /** Payloads as comparable values (byte arrays compare by identity). */
  def bytes(xs: Seq[Array[Byte]]): Seq[Option[Seq[Byte]]] = xs.map(b => Option(b).map(_.toSeq))

  /** The table read back by positional stitch (`readAll`) and by
    * random access (every ordinal in order, then an unsorted batch with
    * duplicates) must equal the full scans of its files. */
  def check(ds: SpaceDataset, field: String, key: String): Unit = {
    import org.scalatest.Assertions._
    val want = livePayloads(ds, field, key)
    val got = ds.readAll().select(col(key), col(field)).collect()
      .map(r => r.get(0) -> r.getAs[Array[Byte]](1)).toSeq
    assert(keyed(got) == keyed(want), "stitched read differs from a full scan")
    val ra = new RandomAccessReader(ds, field)
    assert(ra.length == want.size.toLong)
    assert(bytes(ra.getBatch(0L until ra.length)) == bytes(want.map(_._2)),
      "ordinals do not follow manifest order")
    val rnd = new scala.util.Random(want.size)
    val ords = Seq.fill(40)(rnd.nextInt(want.size).toLong) ++
      Seq(want.size - 1L, 0L, want.size - 1L, 0L)
    assert(bytes(ra.getBatch(ords)) == bytes(ords.map(o => want(o.toInt)._2)))
  }

  /** (key, payload) pairs as a sorted comparable list. */
  def keyed(xs: Seq[(Any, Array[Byte])]): Seq[(String, Option[Seq[Byte]])] =
    xs.map { case (k, b) => (String.valueOf(k), Option(b).map(_.toSeq)) }.sortBy(_.toString)
}
