package graft.core

import org.apache.spark.sql.{Row, SparkSession}

import graft.format._

/** Manifest compaction (`rewrite_manifests`) — the metadata-plane
  * sibling of [[CompactOp]] (Iceberg ships the same procedure for the
  * same reason; the reference has no metadata maintenance at all).
  *
  * Every append adds one manifest and CoW carryover rewrites only the
  * touched ones, so after 10k trickle commits a snapshot carries
  * thousands of small manifest files: the manifest-list summaries keep
  * OPENS pruned for selective queries, but the list itself grows
  * linearly and a full scan's planning pays one footer/read per
  * manifest. This op bin-packs the UNDER-FILLED index manifests of the
  * pinned snapshot into ~`targetFilesPerManifest`-row manifests in ONE
  * commit (already-packed manifests are never reread):
  *
  *  - Rows are RANGE-SORTED by the first stats column's `_MIN` before
  *    packing, so each output manifest covers a tight key range and the
  *    manifest-list summaries regain their pruning power (a trickle
  *    history interleaves ranges across manifests; packing without
  *    sorting would keep every summary spanning everything).
  *  - CDC-silent and stats-neutral: no data file moves, no row changes;
  *    `diff()` across the commit reports nothing and MV refreshes skip
  *    it. Delete vectors are untouched (they key data files).
  *  - The replaced manifests stay on disk for time travel until
  *    snapshot expiry + GC reclaim them, like any rewrite.
  *
  * Driver-only: the selected manifests load through the one manifest
  * loader, sort and chunk in memory, and write with [[DriverParquet]] —
  * no Spark job.
  */
object RewriteManifestsOp {

  final case class RewriteManifestsResult(
      rewrittenManifests: Int,
      outputManifests: Int,
      files: Long)

  /** Build the rewrite patch, or None when there is nothing to gain.
    * INCREMENTAL: only UNDER-FILLED manifests (fewer rows than the
    * target) are selected and packed — a steady-state table whose bulk
    * is already packed pays only for its small tail, never a re-pack of
    * the whole list (the same small-file selection rule as
    * [[CompactOp]]'s data-plane bin-pack). Converges: packed output
    * chunks are full except at most one remainder, which a later pass
    * leaves alone until enough new tail accumulates. */
  def rewriteManifests(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      targetFilesPerManifest: Long = 100000L): Option[(Patch, RewriteManifestsResult)] = {
    require(targetFilesPerManifest > 0,
      s"targetFilesPerManifest must be positive, got $targetFilesPerManifest")
    val snap = storage.snapshotOrFail(snapshotId)
    val manifests = snap.manifestFiles.indexManifestFiles
    if (manifests.size <= 1) return None

    // per-manifest file counts: from the manifest-list summaries when
    // complete (pure metadata), else counted over the loaded rows
    val conf = spark.sparkContext.hadoopConfiguration
    val summaries = storage.metadata.manifestSummaries
    val sizes: Map[String, Long] =
      if (manifests.forall(summaries.contains))
        manifests.map(m => m -> summaries(m).numFiles).toMap
      else {
        val byM = ManifestIO.readIndexManifestRowsDriver(storage, conf, manifests).groupBy(_._1)
        manifests.map(m => m -> byM.get(m).fold(0L)(_.size.toLong)).toMap
      }
    // under-filled manifests only — the already-packed bulk never rereads
    val small = manifests.filter(m => sizes(m) < targetFilesPerManifest)
    if (small.size <= 1) return None
    val totalFiles: Long = small.map(sizes).sum
    val parts = math.max(1, math.ceil(totalFiles.toDouble / targetFilesPerManifest).toInt)
    if (small.size <= parts) return None // the tail is already as packed as it gets

    // sort by the first stats column's _MIN (nulls first) when the
    // schema carries one, then by file path — deterministic packing
    val schema = ManifestIO.manifestSchema(storage)
    val fIdx = schema.fieldIndex(ManifestIO.FileCol)
    val sortIdx = storage.statsColumns.headOption
      .flatMap(c => ManifestIO.fieldAtPath(storage.schema, c)
        .filter(f => ManifestIO.statsEligible(f.dataType)))
      .map(f => schema.fieldIndex(ManifestIO.statsColName(FieldIds.fieldId(f))))
    def minOf(r: Row): Option[Any] = sortIdx.collect {
      case i if !r.isNullAt(i) && !r.getStruct(i).isNullAt(0) => r.getStruct(i).get(0)
    }
    val order: Ordering[Row] = (a, b) => {
      val c = (minOf(a), minOf(b)) match {
        case (Some(x), Some(y)) => ClusterOp.cmpStat(x, y)
        case (x, y) => java.lang.Boolean.compare(x.isDefined, y.isDefined)
      }
      if (c != 0) c else a.getString(fIdx).compareTo(b.getString(fIdx))
    }
    val rows = ManifestIO.readIndexManifestRowsDriver(storage, conf, small).map(_._2)
      .sorted(order).map(backfillStatus(schema, storage.location, conf))
    val written: List[(String, ManifestSummary)] =
      rows.grouped(targetFilesPerManifest.toInt).map { chunk =>
        val rel = StoragePaths.newIndexManifestFile()
        DriverParquet.write(conf, storage.absolute(rel), schema, chunk)
        rel -> ManifestIO.summarizeRows(storage, schema, chunk)
      }.toList

    val outFiles = written.map(_._2.numFiles).sum
    require(outFiles == totalFiles,
      s"rewrite_manifests row-count drift: packed $outFiles manifest rows, " +
        s"the selected manifests list $totalFiles")

    // RECORD manifests pack along (each append of a record-field table
    // mints one): same bin-pack, no stats sorting (their rows are
    // (file, field) pairs)
    val recMans = snap.manifestFiles.recordManifestFiles
    val (recAdded, recRemoved) =
      if (recMans.size <= 1) (Nil, Nil)
      else {
        val recRows = RecordIO.readRecordManifests(storage, conf, recMans)
        val recParts = math.max(1,
          math.ceil(recRows.size.toDouble / targetFilesPerManifest).toInt)
        if (recMans.size <= recParts) (Nil, Nil)
        else {
          val sorted = recRows.sortBy(_.getString(0))
          val rels = sorted.grouped(
            math.max(1, math.ceil(sorted.size.toDouble / recParts).toInt)).map { chunk =>
            val rel = StoragePaths.newRecordManifestFile()
            DriverParquet.write(conf, storage.absolute(rel), RecordIO.RecordManifestSchema, chunk)
            rel
          }.toList
          (rels, recMans)
        }
      }

    val patch = Patch(
      addedIndexManifests = written.map(_._1),
      removedIndexManifests = small,
      addedRecordManifests = recAdded,
      removedRecordManifests = recRemoved,
      changeLog = None,
      manifestSummaries = written.toMap)
    Some((patch, RewriteManifestsResult(small.size, written.size, totalFiles)))
  }

  /** Fill a legacy manifest row's null `_FILE_BYTES`/`_FILE_MTIME`
    * while the pack is rewriting it anyway — one `getFileStatus` per
    * LEGACY row, after which every scan of the packed table synthesizes
    * its `FileStatus`es and the per-directory `listStatus` fallback is
    * never paid again (VERDICT r15 #3). Rows already carrying both
    * values pass through untouched. */
  private def backfillStatus(
      schema: org.apache.spark.sql.types.StructType,
      root: String,
      conf: org.apache.hadoop.conf.Configuration)(
      r: org.apache.spark.sql.Row): org.apache.spark.sql.Row = {
    val bi = schema.fieldIndex(ManifestIO.FileBytesCol)
    val mi = schema.fieldIndex(ManifestIO.FileMtimeCol)
    if (!r.isNullAt(bi) && !r.isNullAt(mi)) return r
    val rel = r.getString(schema.fieldIndex(ManifestIO.FileCol))
    val p0 = new org.apache.hadoop.fs.Path(rel)
    val p = if (p0.isAbsolute || rel.contains("://")) p0
      else new org.apache.hadoop.fs.Path(root, rel)
    val st = p.getFileSystem(conf).getFileStatus(p)
    val vals = r.toSeq.toArray
    vals(bi) = st.getLen
    vals(mi) = st.getModificationTime
    org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq)
  }
}
