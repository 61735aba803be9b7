package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.format.RowBitmap

object ChangeType {
  val Add = "ADD"
  val Delete = "DELETE"
}

/** One change-data batch: all rows added to / deleted from the table in
  * one snapshot. DELETE batches carry PRIMARY KEYS ONLY
  * (change_data.py:111-112). */
final case class ChangeBatch(snapshotId: Long, changeType: String, data: DataFrame)

/** Change-data feed (reference `read_change_data`
  * `/root/reference/python/src/space/core/ops/change_data.py:87-161`).
  *
  * Per snapshot the DELETE batch is emitted BEFORE the ADD batch — the
  * ordering invariant consumers (MV refresh) rely on to re-apply changes
  * (change_data.py:122-132). UPDATE is not a type: DELETE+ADD of the same
  * PK within one snapshot (change_data.py:42-44).
  *
  * Bitmap row masks are applied via `_metadata.row_index` + a broadcast
  * file→bitmap map, so a 1%-of-file delete never materializes the other
  * 99% (SURVEY.md §7.3 "Row bitmaps ↔ DataFrame").
  */
object ChangeData {

  /** `deletesPksOnly = false` reads the FULL deleted rows (values, not
    * just keys) from the parent snapshot's still-on-disk files — CoW
    * keeps them until gc — for consumers that must INVERT the deleted
    * rows' contribution (aggregate-view maintenance) rather than merely
    * locate victims by key. The reference feed is keys-only
    * (change_data.py:122-132); this is a strict superset. */
  def diff(
      spark: SparkSession,
      storage: Storage,
      startId: Long,
      endId: Long,
      deletesPksOnly: Boolean = true): Seq[ChangeBatch] =
    storage.orderedSnapshotIds(startId, endId).flatMap { sid =>
      storage.changeLog(sid).toSeq.flatMap { cl =>
        val del = readRowSet(spark, storage, cl.deletedRows, pksOnly = deletesPksOnly)
          .map(ChangeBatch(sid, ChangeType.Delete, _))
        val add = readRowSet(spark, storage, cl.addedRows, pksOnly = false)
          .map(ChangeBatch(sid, ChangeType.Add, _))
        del.toSeq ++ add.toSeq // DELETE first
      }
    }

  /** The ADDED rows of ONE snapshot's changelog — the exact delta that
    * commit appended. Backs replay self-exclusion in streaming
    * ingest-dedup: a replaying exactly-once writer excludes only the
    * PKs its own earlier commit added (found via
    * [[Storage.snapshotIdForTxn]]), never rows an earlier batch
    * admitted. `pksOnly` skips record stitching when only keys matter. */
  def addedRows(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      pksOnly: Boolean = false): Option[DataFrame] =
    storage.changeLog(snapshotId).flatMap(cl =>
      readRowSet(spark, storage, cl.addedRows, pksOnly = pksOnly))

  private def readRowSet(
      spark: SparkSession,
      storage: Storage,
      rows: Seq[RowBitmap],
      pksOnly: Boolean): Option[DataFrame] = {
    if (rows.isEmpty) return None
    val physical = ReadOp.physicalSchema(storage.schema, storage.recordFields)
    val pkCols = storage.primaryKeys.map(col)

    val fullFiles = rows.filter(_.allRows).map(_.file)
    val maskedFiles = rows.filter(r => !r.allRows && r.bitmapB64.isDefined)

    val fullDF =
      if (fullFiles.isEmpty) None
      else Some(spark.read.schema(physical).parquet(fullFiles.map(storage.absolute): _*))

    val maskedDF =
      if (maskedFiles.isEmpty) None
      else {
        // FULL normalized path → serialized bitmap (basenames collide for
        // zero-copy-ingested external files)
        val bc = DeleteVectorOps.broadcastMap(spark, storage,
          maskedFiles.map(r => r.file -> r).toMap)
        // native codegen'd membership test (no UDF boundary in the scan);
        // strict, unlike the read mask's lenient form: a row set KEEPS
        // the rows of its bitmaps, and every scanned file has one
        val inBitmap = org.apache.spark.sql.graftshim.BitmapContains(
          col("_metadata.file_path"), col("_metadata.row_index"), bc)
        Some(spark.read.schema(physical)
          .parquet(maskedFiles.map(r => storage.absolute(r.file)): _*)
          .filter(inBitmap))
      }

    val all = (fullDF.toSeq ++ maskedDF.toSeq).reduceOption(_.unionByName(_))
    all.map { df =>
      if (pksOnly) df.select(pkCols: _*)
      // ADD batches carry the LOGICAL schema: stitch record payloads back
      // (reference change-data reads return logical batches; without this
      // an MV over a record-field source sees address structs)
      else RecordIO.stitch(spark, storage, df, None)
    }
  }
}

/** Per-executor deserialized-bitmap cache — the bitmap-contains filter
  * runs per row; deserialization (and path normalization) must not.
  * Keyed by the SERIALIZED BITMAP CONTENT (the b64 string), not the file
  * path: with merge-on-read delete vectors the same file legitimately
  * carries DIFFERENT bitmaps at different snapshots (and across multiple
  * CDC changelogs), so a path-keyed cache would serve a stale mask.
  * String keys hash once (String caches hashCode) and compare cheaply on
  * hit; bounded LRU so long-lived executors don't accumulate bitmaps. */
object BitmapCache {
  private val MaxBitmaps = 1024
  private val norm = TrieMap.empty[String, String]
  private val cache = new java.util.LinkedHashMap[String, org.roaringbitmap.RoaringBitmap](64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, org.roaringbitmap.RoaringBitmap]): Boolean =
      size() > MaxBitmaps
  }

  /** Memoized raw-path → canonical-key normalization. */
  def normKey(raw: String): String = {
    if (norm.size > 65536) norm.clear()
    norm.getOrElseUpdate(raw, DmlOps.pathKey(raw))
  }

  def get(b64: String): org.roaringbitmap.RoaringBitmap = cache.synchronized {
    val hit = cache.get(b64)
    if (hit != null) hit
    else {
      val bm = DmlOps.deserializeBitmap(b64)
      cache.put(b64, bm)
      bm
    }
  }
}
