package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.io.api.Binary
import org.roaringbitmap.RoaringBitmap

/** Driver-side random access over a record field (reference
  * `RandomAccessDataSource`,
  * `/root/reference/python/src/space/core/random_access.py:37-287`):
  * `length`/`get(i)`/`getBatch(is)` for training loops that index into
  * the dataset without Spark jobs.
  *
  * Implemented OFF Spark (SURVEY.md §7.3 "Random access"): the index
  * files come from the cached manifest rows, and ordinals follow
  * MANIFEST order (manifest by manifest, file by file, row by row).
  * A batch reads addresses from the index files and then payloads from
  * the record files, both through [[PositionalFile]]: each file's footer
  * is opened once per batch and only the pages that hold wanted rows are
  * decoded, visited in (file, row) order — the reference's
  * file-instruction batching (random_access.py:244-279).
  *
  * MERGE-ON-READ snapshots (VERDICT r11 #3): ordinals address LIVE rows.
  * A file with a delete vector maps live rank `j` to the physical row
  * `select(j)` of its flipped (live-row) bitmap, so the training-loop
  * reader stays available between a scattered MoR delete and the next
  * compaction. Vector-free files map ranks to rows one to one. */
final class RandomAccessReader(ds: SpaceDataset, field: String) {
  require(ds.storage.recordFields.contains(field), s"$field is not a record field")

  private val conf: Configuration = ds.spark.sparkContext.hadoopConfiguration
  // inverse payload codec, same hook as the stitch path (the reference
  // deserializes TFDS records on random access, random_access.py:176-183)
  private val serializer = graft.format.SerializerRegistry.resolve(ds.storage.schema(field))

  /** (absolute index file path, LIVE rows, live-row bitmap under a delete
    * vector) in manifest order. */
  private val files: IndexedSeq[(String, Long, Option[RoaringBitmap])] = {
    val storage = ds.storage
    val snapshot = storage.metadata.currentSnapshot
    // delete vectors of the pinned (current) snapshot: file → dead rows
    val deadByFile = storage.deleteVectors(storage.metadata.currentSnapshotId).collect {
      case (rel, bm) if bm.bitmapB64.isDefined =>
        rel -> DmlOps.deserializeBitmap(bm.bitmapB64.get)
    }
    ManifestIO.liveFileRowCounts(ds.spark, storage, snapshot.manifestFiles.indexManifestFiles)
      .toIndexedSeq.map { case (rel, n) =>
        val live = deadByFile.get(rel).map { dead =>
          val l = RoaringBitmap.flip(dead, 0L, n)
          l.runOptimize()
          l
        }
        (storage.absolute(rel), live.fold(n)(_.getLongCardinality), live)
      }
  }
  private val cumulative: Array[Long] = files.scanLeft(0L)(_ + _._2).toArray

  def length: Long = cumulative.last

  def get(i: Long): Array[Byte] = getBatch(Seq(i)).head

  /** Fetch payloads for `ordinals`, preserving input order. */
  def getBatch(ordinals: Seq[Long]): Seq[Array[Byte]] = {
    ordinals.foreach(i => require(i >= 0 && i < length, s"index $i out of [0, $length)"))

    // ordinal → (index file, PHYSICAL row)
    val physical = ordinals.map { ord =>
      val fi = java.util.Arrays.binarySearch(cumulative, ord) match {
        case i if i >= 0 => i
        case i => -i - 2
      }
      // a hit on a boundary may land on an empty file: skip forward
      var f = fi
      while (cumulative(f + 1) <= ord) f += 1
      val rank = ord - cumulative(f)
      (f, files(f)._3.fold(rank)(_.select(rank.toInt).toLong))
    }

    val addressCols = Seq(Seq(field, "_FILE"), Seq(field, "_ROW_ID"))
    val index = new RecordCache(conf, addressCols, RecordIO.cacheBytes, identity)
    val records = new RecordCache(conf, RecordIO.ValueColumn, RecordIO.cacheBytes,
      ds.storage.absolute)
    try {
      // pass 1: addresses; a NULL payload stores a null address struct
      // (RecordIO writes null for null bytes) and resolves to null
      val addresses = new Array[(String, Int)](ordinals.size)
      physical.zipWithIndex.sortBy(_._1).foreach { case ((fi, row), pos) =>
        val span = index.span(files(fi)._1, row)
        addresses(pos) = span.get(0, row) match {
          case null => null
          case f: Binary => (f.toStringUsingUTF8, span.get(1, row).asInstanceOf[Integer].intValue)
        }
      }
      // pass 2: payloads, visited in (record file, row) order
      val result = new Array[Array[Byte]](ordinals.size)
      addresses.zipWithIndex.filter(_._1 != null).sortBy(_._1).foreach { case ((file, row), pos) =>
        val bytes = records.bytes(file, row)
        result(pos) = if (bytes == null) null else serializer.deserialize(bytes)
      }
      result.toSeq
    } finally {
      index.close()
      records.close()
    }
  }
}
