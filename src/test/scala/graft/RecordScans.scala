package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core._

/** Spark jobs started inside a block, and the shuffle bytes they wrote. */
final case class JobCount(jobs: Int, stages: Int, shuffleBytes: Long)

object JobCount {
  def of[T](spark: SparkSession)(body: => T): (T, JobCount) = {
    val sc = spark.sparkContext
    var jobs = 0
    var stages = 0
    var shuffle = 0L
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs += 1
        stages += e.stageInfos.size
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        shuffle += Option(e.stageInfo.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
      }
    }
    org.apache.spark.sql.graftshim.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graftshim.ListenerBusDrain(sc)
      (out, listener.synchronized(JobCount(jobs, stages, shuffle)))
    } finally sc.removeSparkListener(listener)
  }
}

/** Plain full scans of a record-field table's files with Spark's own
  * Parquet reader: the reference the positional reader is checked
  * against. */
object RecordScans {

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
