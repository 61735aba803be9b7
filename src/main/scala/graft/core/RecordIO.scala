package graft.core

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.column.columnindex.OffsetIndex
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.internal.filter2.columnindex.{ColumnIndexStore, RowRanges}
import org.apache.parquet.io.InputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{GroupType, MessageTypeParser}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.format._

/** Hybrid columnar/row storage: record-field payloads in row-oriented
  * record Parquet files (single `value` binary column, one row group per
  * flush), index files holding `{_FILE,_ROW_ID}` addresses — the
  * reference's core idea (SURVEY.md §1.2; reference
  * `/root/reference/python/src/space/core/ops/append.py:197-283`, read
  * stitch `ops/read.py:155-205`).
  *
  * Write: one `mapPartitions` pass — each Spark task streams its rows,
  * appends payload bytes to a per-field record file (rotated at the size
  * cap), and emits the index row with the address struct. The index rows
  * flow straight into the distributed index write: a single job, no row
  * through the driver, no staging copy.
  *
  * Read: positional stitch. Each index row's address is fetched from its
  * record file by row position ([[PositionalFile]]): the footer is opened
  * once per task, the offset index names the page that holds the row,
  * and only that page is read and decoded ([[RecordCache]] keeps decoded
  * pages for the rest of the task). Only the record files the filtered
  * index rows reference are opened, and the read stays one scan of the
  * index files: no join, no shuffle, no extra job.
  */
object RecordIO {

  /** Per-record-file cap, uncompressed payload bytes. The reference caps
    * its ArrayRecord files at 100 MiB (options.py:74-75); this cap is
    * larger because a lookup's cost does not grow with its file: it
    * decodes one page (see [[RecordPageBytes]]), so a larger file only
    * means fewer footers to open. */
  val MaxRecordFileBytes: Long = 512L * 1024 * 1024

  /** Page byte target of a record file's `value` column. A lookup
    * decodes the whole page that holds its row, so the page is the unit
    * of random access, like the reference's ArrayRecord group (default
    * one record, options.py:80-87, docs/performance.md:44-46). Records
    * smaller than the target pack into a page of at most the target plus
    * one record; a record at or above the target closes its page.
    * Parquet's 1 MiB default made every lookup of a 1 KiB record decode
    * about a thousand records. */
  val RecordPageBytes: Int = 64 * 1024

  /** Append `df` (logical schema) writing record payloads + index files +
    * both manifests; returns the merged Patch. `carryover` (physical
    * rows, record addresses as-is) lands in the same write job, in files
    * of its own ([[AppendOp.writeFilesWithMeta]]): only `df` writes
    * payloads, and only its files are harvested for the record
    * manifest, whose carried-over record files are listed already. */
  def writeWithRecords(spark: SparkSession, storage: Storage, df: DataFrame,
      carryover: Option[DataFrame] = None): Patch = {
    val recordFields = storage.recordFields
    if (recordFields.isEmpty) return AppendOp.writeFilesWithMeta(spark, storage, df,
      writeClustered = true, carryover = carryover).patch

    val schema = storage.schema
    val physical = ReadOp.physicalSchema(schema, recordFields)
    // align input columns to schema order first
    val aligned = df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val recordIdx = recordFields.map(rf => schema.fieldIndex(rf)).toArray
    val location = storage.location
    val fieldNames = recordFields.toArray
    // per-field payload codec (serializers/base.py:30-108; FieldSerializer
    // is Serializable, so instances ride the task closure)
    val serializers = recordIdx.map(i => i -> SerializerRegistry.resolve(schema(i))).toMap

    // ship the SESSION's Hadoop conf: the table may live on a filesystem
    // configured via spark.hadoop.* (credentials, custom fs impl) that a
    // default executor-side Configuration would not resolve
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val indexDF = aligned.mapPartitions { it =>
      val conf = serConf.value
      val writers = fieldNames.map(f => new RecordFileWriter(location, f, conf))
      val writerByIdx = recordIdx.zip(writers).toMap
      new Iterator[Row] {
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h) writers.foreach(_.close())
          h
        }
        def next(): Row = {
          val row = it.next()
          val vals = row.toSeq.toArray
          recordIdx.foreach { i =>
            val bytes = row.getAs[Array[Byte]](i)
            vals(i) =
              if (bytes == null) null
              else {
                val (file, rowId) = writerByIdx(i).write(serializers(i).serialize(bytes))
                Row(file, rowId)
              }
          }
          Row.fromSeq(vals.toIndexedSeq)
        }
      }
    }(Encoders.row(physical))

    // writeClustered: re-arranging the INDEX rows after the payload
    // write is safe — addresses are data and ride the shuffle. The range
    // shuffle samples its input in a job of its own, which would run the
    // payload-writing mapPartitions a second time and orphan a second
    // set of record files: on clustered layouts the (small) index rows
    // are cached by the first evaluation instead.
    val clustered = storage.metadata.writeClusterBy.nonEmpty && storage.metadata.numBuckets == 0
    if (clustered) indexDF.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val result =
      try AppendOp.writeFilesWithMeta(spark, storage, indexDF, writeClustered = true,
        carryover = carryover)
      finally if (clustered) indexDF.unpersist(blocking = false)
    if (result.files.isEmpty) return result.patch

    // record manifest: distinct record files referenced by the new ADD
    // index files, footer-harvested (record.py:27-32)
    val newIndexAbs = result.files.map(f => storage.absolute(f.file))
    val idxDF = spark.read.schema(physical).parquet(newIndexAbs: _*)
    val toHarvest = recordFields.flatMap { rf =>
      val fid = FieldIds.fieldId(schema(rf))
      idxDF.select(col(s"$rf._FILE")).na.drop().distinct()
        .collect().map(_.getString(0) -> fid).toSeq
    }
    val recordMetas = harvestRecordFooters(spark, storage, toHarvest)
    recordManifestPatch(spark, storage, recordMetas) match {
      case None => result.patch
      case Some(p) => Patch.merge(Seq(result.patch, p)).get
    }
  }

  /** One (file, fieldId, numRows, uncompressedBytes) row per record file,
    * footer-harvested on the [[DriverPool]]. */
  private[core] def harvestRecordFooters(
      spark: SparkSession,
      storage: Storage,
      files: Seq[(String, Int)]): Seq[(String, Int, Long, Long)] = {
    // session Hadoop conf, for the same spark.hadoop.* reason as above
    val conf = spark.sessionState.newHadoopConf()
    DriverPool.parMap(files) { case (rel, fid) =>
      val reader = openParquet(storage.absolute(rel), conf)
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        (rel, fid, blocks.map(_.getRowCount).sum, blocks.map(_.getTotalByteSize).sum)
      } finally reader.close()
    }.sortBy(r => (r._2, r._1))
  }

  /** Record manifest schema: one row per (record file, field)
    * (record.py:27-32). */
  private[core] val RecordManifestSchema = StructType(Seq(
    StructField("_FILE", StringType, nullable = false),
    StructField("_FIELD_ID", IntegerType, nullable = false),
    StructField("_NUM_ROWS", LongType, nullable = false),
    StructField("_UNCOMPRESSED_BYTES", LongType, nullable = false)))

  /** Rows of record `manifests`, read on the driver. */
  private[core] def readRecordManifests(
      storage: Storage,
      conf: Configuration,
      manifests: Seq[String]): Seq[Row] =
    manifests.flatMap(m => DriverParquet.read(conf, storage.absolute(m), RecordManifestSchema))

  /** Write a record manifest for `metas`; None when there is nothing to
    * record. The stats delta counts record payload bytes. */
  private[core] def recordManifestPatch(
      spark: SparkSession,
      storage: Storage,
      metas: Seq[(String, Int, Long, Long)]): Option[Patch] = {
    if (metas.isEmpty) return None
    val rows = metas.map(m => Row(m._1, m._2, m._3, m._4))
    val rel = StoragePaths.newRecordManifestFile()
    DriverParquet.write(spark.sparkContext.hadoopConfiguration,
      storage.absolute(rel), RecordManifestSchema, rows)
    Some(Patch(
      addedRecordManifests = List(rel),
      statsDelta = StorageStatistics(
        recordUncompressedBytes = metas.map(_._4).sum)))
  }

  /** Stitch record values back into a physical-schema DataFrame
    * (read.py:155-205: fetch each address from its record file by
    * position). Each record field becomes a deterministic projection
    * over its address struct, so Catalyst still pushes later filters and
    * projections into the index scan, and a projection without the field
    * never opens a record file. Rows keep the index scan's order. */
  def stitch(
      spark: SparkSession,
      storage: Storage,
      physicalDF: DataFrame,
      fields: Option[Seq[String]]): DataFrame = {
    val wanted = fields.getOrElse(storage.schema.fieldNames.toSeq)
    val present = storage.recordFields.filter(wanted.contains)
    if (present.isEmpty) return physicalDF
    // the SESSION's Hadoop conf, for the spark.hadoop.* reason above;
    // broadcast, not captured: the projection ships inside every task
    val conf = spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf()))
    val root = new Path(storage.location)
    present.foldLeft(physicalDF) { (df, rf) =>
      // inverse payload codec (base.py:30-108: serializers apply in the
      // record read path)
      val fetch = udf(new FetchRecord(root, conf, SerializerRegistry.resolve(storage.schema(rf))))
      df.withColumn(rf, fetch(col(s"$rf._FILE"), col(s"$rf._ROW_ID")))
    }
  }

  // ------------------------------------------------- positional reads

  /** Leaf column of a record file. */
  private[graft] val ValueColumn: Seq[Seq[String]] = Seq(Seq("value"))

  /** Decoded-page budget of one task's [[RecordCache]]: a sixteenth of
    * the heap, so four concurrent tasks hold at most a quarter. */
  private[graft] def cacheBytes: Long = Runtime.getRuntime.maxMemory / 16

  private[core] val positionalOpens = new java.util.concurrent.atomic.AtomicLong(0)
  /** Observability: files opened by [[PositionalFile]] in this JVM
    * (record files, and index files read by [[RandomAccessReader]]). */
  private[graft] def positionalFileOpens: Long = positionalOpens.get()

  private[core] val decodedBytes = new java.util.concurrent.atomic.AtomicLong(0)
  /** Observability: bytes of the pages [[PositionalFile]] decoded in this
    * JVM ([[Span.bytes]], record and index files alike). */
  private[graft] def positionalDecodedBytes: Long = decodedBytes.get()

  /** Open a Parquet file with read options built from `conf`.
    * `ParquetFileReader.open(InputFile)` alone builds a fresh Hadoop
    * `Configuration` per call and re-parses the XML defaults, which
    * outweighs reading a small footer; every footer open in the engine
    * goes through here. */
  private[graft] def openParquet(file: InputFile, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(file, HadoopReadOptions.builder(conf).build())

  private[graft] def openParquet(absPath: String, conf: Configuration): ParquetFileReader =
    openParquet(HadoopInputFile.fromPath(new Path(absPath), conf), conf)

  private val taskCaches = new java.util.concurrent.ConcurrentHashMap[(Long, Path), RecordCache]()

  /** The running task's record cache for the table at `root` (addresses
    * are relative to it), closed when the task completes. */
  private[core] def taskCache(tc: TaskContext, conf: => Configuration, root: Path): RecordCache =
    taskCaches.computeIfAbsent((tc.taskAttemptId(), root), key => {
      val c = new RecordCache(conf, ValueColumn, cacheBytes, Storage.absolute(root, _))
      tc.addTaskCompletionListener[Unit] { _ => taskCaches.remove(key); c.close() }
      c
    })
}

/** The stitch projection: (address file, row) → payload. A task shares
  * one [[RecordCache]] per table; a call outside a task (a driver-side
  * plan evaluation) opens and closes its own. */
private final class FetchRecord(
    root: Path,
    conf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration],
    ser: FieldSerializer) extends ((String, Int) => Array[Byte]) with Serializable {
  def apply(file: String, row: Int): Array[Byte] = {
    if (file == null) return null
    val tc = TaskContext.get()
    val bytes =
      if (tc != null) RecordIO.taskCache(tc, conf.value.value, root).bytes(file, row)
      else {
        val c = new RecordCache(conf.value.value, RecordIO.ValueColumn, RecordIO.cacheBytes,
          Storage.absolute(root, _))
        try c.bytes(file, row) finally c.close()
      }
    if (bytes == null) null else ser.deserialize(bytes)
  }
}

/** Decoded rows `[first, first + values(c).length)` of one file: per
  * leaf column, the value at each row (`Binary`, boxed `Int`, or null). */
private[graft] final class Span(val first: Long, val values: Array[Array[AnyRef]], val bytes: Long) {
  def contains(row: Long): Boolean = row >= first && row < first + values(0).length
  def get(column: Int, row: Long): AnyRef = values(column)((row - first).toInt)
}

/** One Parquet file read by row position: the footer is opened once, the
  * rows of a page are found through the offset index, and only that
  * page is read and decoded (for every requested column, the pages that
  * overlap it). A row group without an offset index is read and decoded
  * whole. `columns` are leaf paths of binary or int32 columns (payloads,
  * addresses). */
private[graft] final class PositionalFile(
    absPath: String,
    conf: Configuration,
    columns: Seq[Seq[String]]) extends java.io.Closeable {
  private val reader = RecordIO.openParquet(absPath, conf)
  private val fileSchema = reader.getFooter.getFileMetaData.getSchema
  private val createdBy = reader.getFooter.getFileMetaData.getCreatedBy
  private val descs = columns.map(c => fileSchema.getColumnDescription(c.toArray)).toArray
  reader.setRequestedSchema(descs.toList.asJava)
  private val blocks = reader.getFooter.getBlocks.asScala.toIndexedSeq
  private val groupStart: Array[Long] = blocks.scanLeft(0L)(_ + _.getRowCount).toArray
  // per row group: the offset index of the first column (None = decode
  // the whole group), read on first use
  private val offsets = new Array[Option[OffsetIndex]](blocks.size)

  /** Decoded spans held by the owning [[RecordCache]], by (group, page),
    * and the last one served (the cache's fast path). */
  private[core] val decoded = new java.util.HashMap[java.lang.Long, Span]()
  private[core] var hot: Span = _

  def numRows: Long = groupStart.last

  /** From the reader's own column-index store, the one
    * `readFilteredRowGroup` reads the group's pages through, so each
    * offset index is read once. The store reads every requested
    * column's offset index and has none if any is missing. */
  private def offsetIndex(g: Int): Option[OffsetIndex] = {
    if (offsets(g) == null) {
      offsets(g) =
        try Some(reader.getColumnIndexStore(g).getOffsetIndex(ColumnPath.get(descs.head.getPath: _*)))
        catch { case _: ColumnIndexStore.MissingOffsetIndexException => None }
    }
    offsets(g)
  }

  /** (row group, page) holding file row `row`. */
  def locate(row: Long): (Int, Int) = {
    if (row < 0 || row >= numRows)
      throw new IndexOutOfBoundsException(s"row $row outside [0, $numRows) of $absPath")
    var g = java.util.Arrays.binarySearch(groupStart, row) match {
      case i if i >= 0 => i
      case i => -i - 2
    }
    while (groupStart(g + 1) <= row) g += 1 // past empty row groups
    val p = offsetIndex(g).fold(0) { oi =>
      val r = row - groupStart(g)
      var lo = 0
      var hi = oi.getPageCount - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) / 2
        if (oi.getFirstRowIndex(mid) <= r) lo = mid else hi = mid - 1
      }
      lo
    }
    (g, p)
  }

  /** Read and decode page `p` of row group `g`. */
  def decode(g: Int, p: Int): Span = {
    val groupRows = blocks(g).getRowCount
    val (store, first, count) = offsetIndex(g) match {
      case Some(oi) =>
        val ranges = RowRanges.create(groupRows, java.util.stream.IntStream.of(p).iterator(), oi)
        (reader.readFilteredRowGroup(g, ranges), oi.getFirstRowIndex(p),
          oi.getLastRowIndex(p, groupRows) - oi.getFirstRowIndex(p) + 1)
      case None => (reader.readRowGroup(g), 0L, groupRows)
    }
    // a page range that spans the whole group comes back unfiltered,
    // with `first` = 0: the column readers start at row `first` either way
    val columnStore = new ColumnReadStoreImpl(store, PositionalFile.noopConverter(fileSchema),
      fileSchema, createdBy)
    var bytes = 0L
    val values = descs.map { d =>
      val cr = columnStore.getColumnReader(d)
      val maxDef = d.getMaxDefinitionLevel
      val out = new Array[AnyRef](count.toInt)
      var j = 0
      while (j < out.length) {
        if (cr.getCurrentDefinitionLevel == maxDef) {
          out(j) = d.getPrimitiveType.getPrimitiveTypeName match {
            case PrimitiveTypeName.BINARY =>
              val b = cr.getBinary
              bytes += b.length()
              b
            case PrimitiveTypeName.INT32 => Int.box(cr.getInteger)
            case other => throw new UnsupportedOperationException(
              s"positional read of $other column ${d.getPath.mkString(".")} in $absPath")
          }
        }
        cr.consume()
        j += 1
      }
      bytes += 16L * out.length
      out
    }
    new Span(groupStart(g) + first, values, bytes)
  }

  def close(): Unit = reader.close()
}

private object PositionalFile {
  /** Converters the column readers require but that are never written
    * to: values are pulled with `getBinary`/`getInteger`/... instead. */
  def noopConverter(t: GroupType): GroupConverter = new GroupConverter {
    private val kids = new Array[Converter](t.getFieldCount)
    def getConverter(i: Int): Converter = {
      if (kids(i) == null) kids(i) = t.getType(i) match {
        case g: GroupType => noopConverter(g)
        case _ => new PrimitiveConverter {}
      }
      kids(i)
    }
    def start(): Unit = ()
    def end(): Unit = ()
  }
}

/** Open [[PositionalFile]]s (footers and offset indexes) and their
  * decoded pages, keyed by the path spelling the caller uses; `resolve`
  * maps it to an absolute path on open. Pages are evicted least recently
  * used past `budgetBytes`, files past a fixed count of open files.
  * Not thread-safe: one per task, or one per driver-side batch. */
private[graft] final class RecordCache(
    conf: Configuration,
    columns: Seq[Seq[String]],
    budgetBytes: Long,
    resolve: String => String) extends java.io.Closeable {
  // each open file holds a file handle
  private val MaxOpenFiles = 64
  private val files = new java.util.LinkedHashMap[String, PositionalFile](16, 0.75f, true)
  // access-ordered: eldest = least recently used
  private val lru = new java.util.LinkedHashMap[Span, PositionalFile](16, 0.75f, true)
  private var heldBytes = 0L

  private def file(path: String): PositionalFile = {
    val hit = files.get(path)
    if (hit != null) return hit
    if (files.size >= MaxOpenFiles) drop(files.keySet.iterator.next())
    RecordIO.positionalOpens.incrementAndGet()
    val f = new PositionalFile(resolve(path), conf, columns)
    files.put(path, f)
    f
  }

  private def drop(path: String): Unit = {
    val f = files.remove(path)
    f.decoded.values.forEach { s => lru.remove(s); heldBytes -= s.bytes }
    f.close()
  }

  /** The decoded span of `path` that holds `row`. */
  def span(path: String, row: Long): Span = {
    val f = file(path)
    if (f.hot != null && f.hot.contains(row)) return f.hot
    val (g, p) = f.locate(row)
    val key = Long.box((g.toLong << 32) | p)
    var s = f.decoded.get(key)
    if (s != null) lru.get(s)
    else {
      s = f.decode(g, p)
      RecordIO.decodedBytes.addAndGet(s.bytes)
      f.decoded.put(key, s)
      lru.put(s, f)
      heldBytes += s.bytes
      val it = lru.entrySet.iterator
      while (heldBytes > budgetBytes && it.hasNext) {
        val e = it.next()
        val (old, owner) = (e.getKey, e.getValue)
        if (old ne s) {
          owner.decoded.values.remove(old)
          if (owner.hot eq old) owner.hot = null
          heldBytes -= old.bytes
          it.remove()
        }
      }
    }
    f.hot = s
    s
  }

  /** Bytes of the first column at `row` of `path`; null for a null value. */
  def bytes(path: String, row: Long): Array[Byte] = span(path, row).get(0, row) match {
    case null => null
    case b: Binary => b.getBytes
  }

  def close(): Unit = {
    files.values.forEach(_.close())
    files.clear(); lru.clear(); heldBytes = 0L
  }
}

/** Executor-side rotating record-file writer (append.py:269-283 analog):
  * parquet files with a single binary column, rotated when the
  * uncompressed payload size passes the cap. Returns (relativePath,
  * rowIdInFile) addresses. */
final class RecordFileWriter(tableLocation: String, field: String, conf: Configuration) {
  private val schema = MessageTypeParser.parseMessageType(
    "message graft_record { required binary value; }")
  private val factory = new SimpleGroupFactory(schema)

  private var writer: org.apache.parquet.hadoop.ParquetWriter[org.apache.parquet.example.data.Group] = _
  private var currentRel: String = _
  private var rowId: Int = 0
  private var bytesWritten: Long = 0L

  private def open(): Unit = {
    currentRel = StoragePaths.newRecordDataFile(field)
    val abs = new Path(tableLocation, currentRel)
    import org.apache.parquet.hadoop.example.GroupWriteSupport
    val c = new Configuration(conf)
    GroupWriteSupport.setSchema(schema, c)
    // pages for random access (RecordIO.RecordPageBytes): the size check
    // runs after every record, not every 100 or more. Payloads are
    // opaque: a dictionary page would be decoded by every lookup into
    // the pages it encodes, and min/max statistics of blobs never prune.
    writer = ExampleParquetWriter.builder(abs).withConf(c).withType(schema)
      .withPageSize(RecordIO.RecordPageBytes)
      .withMinRowCountForPageSizeCheck(1)
      .withMaxRowCountForPageSizeCheck(1)
      .withDictionaryEncoding(false)
      .withStatisticsEnabled("value", false)
      .build()
    rowId = 0
    bytesWritten = 0L
  }

  def write(bytes: Array[Byte]): (String, Int) = {
    if (writer == null) open()
    else if (bytesWritten + bytes.length > RecordIO.MaxRecordFileBytes && rowId > 0) {
      writer.close(); open()
    }
    val g = factory.newGroup()
    g.append("value", Binary.fromConstantByteArray(bytes))
    writer.write(g)
    val addr = (currentRel, rowId)
    rowId += 1
    bytesWritten += bytes.length
    addr
  }

  def close(): Unit = if (writer != null) { writer.close(); writer = null }
}
