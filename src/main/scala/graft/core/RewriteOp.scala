package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.roaringbitmap.RoaringBitmap

import graft.format._

/** The one copy-on-write file rewrite (reference `delete.py:144-150`;
  * Iceberg's `RewriteFiles`): compaction, clustering, rebucketing, the
  * record rewrite and the CoW leg of a delete all replace files through
  * [[replaceFiles]]. Callers shape the live rows and write them; the
  * helper owns everything a file swap needs around that write.
  */
object RewriteOp {

  /** Replace `files` (table-relative, all listed in snapshot
    * `snapshotId`) with what `write` lands, as one Patch:
    *
    *  1. scan `files` under the physical schema, in the given order
    *     (record addresses stay opaque, payload files never move);
    *  2. fold the snapshot's delete vectors on `files` into the scan,
    *     merged with `deleted` (the rows the caller drops, per file), so
    *     `write` sees the surviving rows only; the folded entries retire
    *     (`dvRemoved`);
    *  3. `write` lands its files and returns the landed Patch plus the
    *     number of scanned rows it carried over (rows it adds from
    *     elsewhere, like a fused upsert's ADDs, do not count);
    *  4. the manifests listing `files` are removed and their untouched
    *     rows carried over into one new manifest.
    *
    * Conservation, checked before anything is returned (so a failing
    * rewrite commits nothing):
    * {{{ rows carried = physical rows of files - folded dead rows - deleted rows }}}
    * where the deleted rows are those of `deleted` (a delete's newly
    * dead rows, never already dead). The stats delta is written +
    * removed + the fold compensation: folded rows were subtracted when
    * their vector was written, and the removed manifests subtract them
    * again.
    *
    * Returns the assembled Patch (no changelog: callers that log changes
    * add their own) and the written Patch. Empty `files`: two empty
    * Patches, `write` is not called. */
  private[graft] def replaceFiles(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      files: Seq[String],
      deleted: Map[String, RoaringBitmap] = Map.empty)(
      write: DataFrame => (Patch, Long)): (Patch, Patch) = {
    if (files.isEmpty) return (Patch(), Patch())
    val fileSet = files.toSet
    val physical = ReadOp.physicalSchema(storage.schema, storage.recordFields)
    val scan = spark.read.schema(physical).parquet(files.map(storage.absolute): _*)
    val dvs = storage.deleteVectors(snapshotId).view.filterKeys(fileSet).toMap
    val mask = dvs ++ deleted.map { case (f, bm) => f -> DeleteVectorOps.withDead(dvs, f, bm) }
    val live = DeleteVectorOps.maskFilter(spark, storage, mask).fold(scan)(scan.filter)
    val folded = dvs.valuesIterator.map(_.numRows).sum
    val deletedRows = deleted.valuesIterator.map(_.getLongCardinality).sum

    val (written, carried) = write(live)
    val co = manifestCarryover(spark, storage, snapshotId, fileSet)
    val physicalRows = co.affectedFileRows.valuesIterator.sum
    require(carried == physicalRows - folded - deletedRows,
      s"rewrite row-count drift: carried $carried rows, expected $physicalRows " +
        s"physical - $folded folded dead - $deletedRows deleted")
    val patch = Patch(
      addedIndexManifests = written.addedIndexManifests ++ co.carryoverManifests,
      removedIndexManifests = co.removedManifests,
      addedRecordManifests = written.addedRecordManifests,
      statsDelta = written.statsDelta + co.removedStats +
        StorageStatistics(numRows = folded),
      manifestSummaries = written.manifestSummaries ++ co.summaries,
      dvRemoved = dvs.keys.toList.sorted,
      layoutEpoch = written.layoutEpoch)
    (patch, written)
  }

  /** Files a written Patch landed (its changelog logs one ADD per file). */
  private[core] def fileCount(written: Patch): Int =
    written.changeLog.fold(0)(_.addedRows.size)

  private[core] final case class CarryoverResult(
      removedManifests: List[String],
      carryoverManifests: List[String],
      removedStats: StorageStatistics,
      affectedFileRows: Map[String, Long],
      summaries: Map[String, ManifestSummary])

  /** Drop the manifests that list `affectedRel` and re-emit their
    * UNTOUCHED rows as one carryover manifest. Also returns the negative
    * stats delta of the affected files and their per-file row counts.
    * Pure set arithmetic over the snapshot's cached manifest rows: no
    * Spark job. */
  private[core] def manifestCarryover(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      affectedRel: Set[String]): CarryoverResult = {
    val manifests = storage.snapshotOrFail(snapshotId).manifestFiles.indexManifestFiles
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = ManifestIO.manifestSchema(storage)
    val fIdx = schema.fieldIndex(ManifestIO.FileCol)
    val nIdx = schema.fieldIndex(ManifestIO.NumRowsCol)
    val cIdx = schema.fieldIndex(ManifestIO.CompressedCol)
    val uIdx = schema.fieldIndex(ManifestIO.UncompressedCol)
    val rows = ManifestIO.readIndexManifestRowsLive(spark, storage, manifests)
    val affected = rows.filter { case (_, r) => affectedRel.contains(r.getString(fIdx)) }
    val affectedManifests = affected.map(_._1).toSet
    val removedManifests = manifests.filter(affectedManifests.contains).toList
    val carryRows = rows.collect {
      case (m, r) if affectedManifests.contains(m) &&
        !affectedRel.contains(r.getString(fIdx)) => r
    }
    val (carryoverManifest, summaries) =
      if (carryRows.isEmpty) (Nil, Map.empty[String, ManifestSummary])
      else {
        val rel = StoragePaths.newIndexManifestFile()
        DriverParquet.write(conf, storage.absolute(rel), schema, carryRows)
        (List(rel), Map(rel -> ManifestIO.summarizeRows(storage, schema, carryRows)))
      }
    val removed = StorageStatistics(
      numRows = -affected.map(_._2.getLong(nIdx)).sum,
      indexCompressedBytes = -affected.map(_._2.getLong(cIdx)).sum,
      indexUncompressedBytes = -affected.map(_._2.getLong(uIdx)).sum)
    CarryoverResult(removedManifests, carryoverManifest, removed,
      affected.map { case (_, r) => r.getString(fIdx) -> r.getLong(nIdx) }.toMap,
      summaries)
  }
}
