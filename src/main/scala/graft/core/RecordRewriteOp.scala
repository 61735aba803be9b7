package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.format.{Patch, StoragePaths, StorageStatistics}

/** Record-payload space reclamation — the missing GC dimension of the
  * hybrid layout: CoW deletes rewrite INDEX files but never touch
  * payload rows, so a record file's live fraction only decays, and
  * [[GcOps.garbageCollect]] cannot delete it while ANY row is still
  * referenced. At 100 TB of payloads that is unbounded storage
  * amplification — delete 90% of a corpus and all its record bytes
  * stay. The reference defers GC entirely (ops/delete.py:44); this op
  * closes the loop:
  *
  *  - measure live references per record file: ONE distributed scan of
  *    the snapshot's address columns, joined against the record
  *    manifests' per-file totals;
  *  - pick files with live/total <= `maxLiveFraction` (all-dead files
  *    included — they are still pinned by the record manifest);
  *  - rewrite the index files that reference picked files: stitch the
  *    payloads back, write fresh record + index files (live payloads
  *    re-co-located), carry over untouched manifest rows;
  *  - drop picked files from the record manifests. The payload files
  *    themselves stay on disk for time travel until snapshot expiry
  *    makes them unreachable and `garbageCollect` deletes them.
  *
  * CDC-silent like compaction: no logical row changed, so no changelog
  * — `diff()` skips the snapshot and MV refresh passes over it.
  *
  * Addresses pointing at UNPICKED files that happen to live in a
  * rewritten index file are rewritten too (their payloads duplicate
  * into the new record files): bounded write amplification traded for
  * a one-pass rewrite. The duplicated-from files decay toward the
  * threshold and get picked on a later run.
  */
object RecordRewriteOp {

  final case class RewriteResult(
      pickedRecordFiles: Int,
      rewrittenIndexFiles: Int,
      rewrittenRows: Long)

  def rewriteRecords(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      maxLiveFraction: Double = 0.5): Option[(Patch, RewriteResult)] = {
    require(maxLiveFraction >= 0.0 && maxLiveFraction < 1.0,
      s"maxLiveFraction must be in [0, 1), got $maxLiveFraction")
    val recordFields = storage.recordFields
    if (recordFields.isEmpty) return None
    val snap = storage.snapshotOrFail(snapshotId)
    val recMans = snap.manifestFiles.recordManifestFiles
    if (recMans.isEmpty) return None
    // an empty index plane (the whole table was CoW-deleted) still needs
    // the pass: the record manifests can pin all-dead payload files
    val idxFiles = ReadOp.plan(spark, storage, snapshotId, None).files

    val conf = spark.sparkContext.hadoopConfiguration
    val physical = ReadOp.physicalSchema(storage.schema, recordFields)
    // merge-on-read mask BEFORE counting live references: a soft-deleted
    // index row must not pin its payload — masking here is what lets a
    // MoR-deleted corpus slice become reclaimable record bytes
    val dvs = storage.deleteVectors(snapshotId)
    val mask = DeleteVectorOps.maskFilter(spark, storage, dvs)
    val idxOpt =
      if (idxFiles.isEmpty) None
      else {
        val raw = spark.read.schema(physical)
          .parquet(idxFiles.map(storage.absolute): _*)
          .withColumn("__idx_file", col("_metadata.file_path"))
        Some(mask.fold(raw)(raw.filter))
      }

    // live reference counts per record file (map-side combined count)
    val liveDF = idxOpt match {
      case Some(idx) => recordFields.map(rf =>
          idx.select(col(s"$rf._FILE").as("__rfile")).na.drop())
        .reduce(_.unionAll(_))
        .groupBy(col("__rfile")).agg(count(lit(1)).as("__live"))
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("__rfile", StringType, nullable = false),
          StructField("__live", LongType, nullable = false))))
    }

    // totals per record file (record manifests; metadata plane)
    val recRows = RecordIO.readRecordManifests(storage, conf, recMans)
    val totalsDF = spark.createDataFrame(recRows.asJava, RecordIO.RecordManifestSchema)
      .groupBy(col("_FILE").as("__rfile"))
      .agg(sum(col("_NUM_ROWS")).as("__total"),
        sum(col("_UNCOMPRESSED_BYTES")).as("__bytes"))

    val pickedRows = totalsDF.join(liveDF, Seq("__rfile"), "left")
      .withColumn("__live", coalesce(col("__live"), lit(0L)))
      .filter(col("__live") <= col("__total") * lit(maxLiveFraction))
      .select(col("__rfile"), col("__bytes"))
      .collect()
    if (pickedRows.isEmpty) return None
    val picked = pickedRows.map(_.getString(0)).toSeq
    val pickedBytes = pickedRows.map(_.getLong(1)).sum

    // index files holding >= 1 address into a picked record file
    // (semi-join per record field — `isin` would inline a huge literal)
    val pickedDF = spark.createDataset(picked)(Encoders.STRING).toDF("__rfile")
    val affectedFull = idxOpt match {
      case Some(idx) => recordFields.map { rf =>
        idx.join(broadcast(pickedDF), idx(s"$rf._FILE") === pickedDF("__rfile"), "leftsemi")
          .select(col("__idx_file"))
      }.reduce(_.unionAll(_)).distinct().collect().map(_.getString(0)).toSeq
      case None => Nil
    }

    val relByKey = DmlOps.relByQualifiedKey(storage, conf, idxFiles)
    val affectedRel: Set[String] = affectedFull.map(f => relByKey(DmlOps.pathKey(f))).toSet

    // rewrite the affected index files: payloads stitched back in, then
    // re-written as fresh record + index files. All-dead picked files
    // have no referencing index file left (their rows were CoW-deleted
    // already): then only the record manifests change.
    val (rewritten, written) = RewriteOp.replaceFiles(spark, storage, snapshotId,
        affectedRel.toSeq) { live =>
      val p = RecordIO.writeWithRecords(spark, storage, RecordIO.stitch(spark, storage, live, None))
      (p, p.statsDelta.numRows)
    }
    // record-manifest carryover: every row of an UNPICKED file survives;
    // picked rows are dropped (their bytes leave the statistics)
    val pickedSet = picked.toSet
    val keptRows = recRows.filterNot(r => pickedSet.contains(r.getString(0)))
    val recCarry =
      if (keptRows.isEmpty) Nil
      else {
        val rel = StoragePaths.newRecordManifestFile()
        DriverParquet.write(conf, storage.absolute(rel), RecordIO.RecordManifestSchema, keptRows)
        List(rel)
      }

    val patch = Patch.merge(Seq(rewritten, Patch(
      addedRecordManifests = recCarry,
      removedRecordManifests = recMans,
      statsDelta = StorageStatistics(recordUncompressedBytes = -pickedBytes)))).get
    Some((patch, RewriteResult(picked.size, affectedRel.size,
      written.statsDelta.numRows)))
  }
}
