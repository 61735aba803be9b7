package graft.core

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, NoopCache, PartitionDirectory, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, element_at, split}
import org.apache.spark.sql.types.StructType

/** Catalyst-integrated scan: a [[PartitioningAwareFileIndex]] whose
  * `listFiles` applies the falsifiable-filter manifest pruning
  * ([[Pruning]]) to the DATA FILTERS Catalyst resolved for the query —
  * so `spark.sql("… WHERE pk < 100")` over a registered graft table
  * prunes files exactly like an explicit `read(filter = …)`, with no
  * eager planning step (the "deeper-integration alternative" of
  * SURVEY.md §4.1; same division of labor as the reference's
  * `Storage.data_files`, storage.py:369-403, now driven BY the
  * optimizer instead of before it). Extending the partitioning-aware
  * base lets the SAME index back both the V1 `HadoopFsRelation` path
  * ([[GraftRelation.dataFrame]]) and the DSv2 `ParquetScanBuilder` path
  * (the `graft` TableCatalog).
  *
  * The index is pinned to one snapshot (graft snapshots are immutable)
  * and is LAZY along the manifest-list level: construction touches only
  * metadata; `listFiles` first prunes WHOLE manifests from the
  * per-manifest summaries in snapshot metadata, then loads (and caches)
  * only the surviving manifests' rows and resolves only the surviving
  * files' statuses (per-directory `listStatus`, memoized). A selective
  * query plans in O(manifests + surviving files) driver work; a full
  * scan degenerates to the old O(files) — it needs every status anyway.
  */
final class GraftFileIndex(
    spark: SparkSession,
    storage: Storage,
    snapshotId: Long)
  extends PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {

  private val conf = spark.sparkContext.hadoopConfiguration

  private val manifests: Seq[String] =
    storage.snapshotOrFail(snapshotId).manifestFiles.indexManifestFiles
  private val mSchema: StructType = ManifestIO.manifestSchema(storage)
  private val fileIdx = mSchema.fieldIndex(ManifestIO.FileCol)

  /** (logical column, manifest row index) of each membership-evidence
    * marker — consulted so evidence-less files skip footer probes. */
  private val evidIdx: Seq[(String, Int)] =
    ManifestIO.evidenceColumns(storage).flatMap { c =>
      ManifestIO.fieldAtPath(storage.schema, c).map { f =>
        c -> mSchema.fieldIndex(ManifestIO.evidColName(graft.format.FieldIds.fieldId(f)))
      }
    }

  private def evidenceOf(rows: Seq[Row]): Map[(String, String), Boolean] =
    if (evidIdx.isEmpty) Map.empty
    else rows.iterator.flatMap { r =>
      val file = r.getString(fileIdx)
      evidIdx.iterator.collect {
        case (c, i) if !r.isNullAt(i) => (file, c) -> r.getBoolean(i)
      }
    }.toMap

  // ------------------------------------------ lazy manifest-row loading

  /** Rows of `ms` via the PROCESS-WIDE manifest cache ([[ManifestIO
    * .readIndexManifestRowsCached]]): manifests are immutable, so
    * repeated plans of an unchanged table — every fresh FileIndex a new
    * read constructs, every snapshot of a CDC walk sharing manifests —
    * are memory-resident instead of re-reading manifest parquet
    * (misses load on the driver). */
  private def rowsOf(ms: Seq[String]): Seq[Row] = {
    val byM = ManifestIO.readIndexManifestRowsCached(spark, storage, ms)
    ms.flatMap(m => byM.get(m).map(_.toSeq).getOrElse(Nil))
  }

  // --------------------------------------------- lazy status resolution

  private val dirListCache =
    scala.collection.concurrent.TrieMap.empty[Path, Map[String, FileStatus]]

  private val bytesIdx = mSchema.fieldIndex(ManifestIO.FileBytesCol)
  private val mtimeIdx = mSchema.fieldIndex(ManifestIO.FileMtimeCol)

  /** Status SYNTHESIZED from the manifest row when it records the exact
    * file length (`_FILE_BYTES`, every file indexed since the column
    * exists): zero filesystem calls on the read path — at object-store
    * scale a multi-million-file `data/` listing was pure planning tax
    * the manifests already had the answer to (VERDICT r14 #4). Rows
    * from older manifests (null length) fall back to [[statusOf]].
    * Modification time comes from `_FILE_MTIME` (same harvest stat), so
    * `_metadata.file_modification_time` stays truthful (ADVICE r15);
    * rows between the two columns' introductions report 0 until a
    * `rewrite_manifests` pack backfills them. */
  private def statusFor(r: Row): FileStatus = {
    val rel = r.getString(fileIdx)
    if (r.isNullAt(bytesIdx)) return statusOf(rel)
    val p = new Path(storage.absolute(rel))
    // makeQualified is client-side (fs URI + cwd) — no RPC
    val q = p.getFileSystem(conf).makeQualified(p)
    val mtime = if (r.isNullAt(mtimeIdx)) 0L else r.getLong(mtimeIdx)
    new FileStatus(r.getLong(bytesIdx), false, 1,
      GraftFileIndex.DefaultBlockSize, mtime, q)
  }

  /** One `listStatus` per distinct data directory (native files share
    * `<root>/data/`), per-file lookup only for stragglers (external
    * zero-copy files outside listed dirs). Legacy fallback — see
    * [[statusFor]]. */
  private def statusOf(rel: String): FileStatus = {
    val p = new Path(storage.absolute(rel))
    val dir = p.getParent
    val fs = dir.getFileSystem(conf)
    val listed = dirListCache.getOrElseUpdate(dir, {
      GraftFileIndex.dirListings.incrementAndGet()
      try fs.listStatus(dir).map(s => s.getPath.toString -> s).toMap
      catch { case _: java.io.IOException => Map.empty }
    })
    listed.getOrElse(fs.makeQualified(p).toString, fs.getFileStatus(p))
  }

  private lazy val allStatuses: Seq[FileStatus] =
    rowsOf(manifests).map(statusFor)

  // ------------------------------------------------- FileIndex surface

  override def rootPaths: Seq[Path] = Seq(new Path(storage.location))

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override protected def leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(allStatuses.map(s => s.getPath -> s): _*)

  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    allStatuses.groupBy(_.getPath.getParent).map { case (dir, ss) => dir -> ss.toArray }

  /** Size estimate from snapshot statistics (maintained by every patch)
    * — no file statuses needed at relation-construction time. */
  override def sizeInBytes: Long = {
    val s = storage.snapshotOrFail(snapshotId).storageStatistics.indexCompressedBytes
    if (s > 0) s else allStatuses.map(_.getLen).sum
  }

  override def inputFiles: Array[String] =
    rowsOf(manifests).map(r => storage.absolute(r.getString(fileIdx))).toArray

  override def refresh(): Unit = () // snapshot-pinned: nothing to refresh

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keepOpt =
      Pruning.keepConditionForFilters(storage.schema, storage.statsColumns, dataFilters)

    // manifest-LIST level: falsify whole manifests from their summaries
    // before reading any manifest rows
    val surviving: Seq[String] =
      ManifestIO.pruneManifestsBySummary(spark, storage, manifests, keepOpt)

    val rows = rowsOf(surviving)
    val kept: Seq[String] = keepOpt match {
      case None => rows.map(_.getString(fileIdx))
      case Some(keep) =>
        if (rows.isEmpty) Nil
        else spark.createDataFrame(rows.asJava, mSchema)
          .filter(keep)
          .select(ManifestIO.FileCol)
          .collect().map(_.getString(0)).toSeq
    }
    // bucket pruning: a filter pinning the bucket columns reaches only
    // the buckets its literals hash to — stats-free O(1/n) point lookups
    val bucketKept = BucketPruning.pruneFiles(storage, snapshotId, dataFilters, kept)
    // bloom pruning: point predicates on bloom-carrying columns drop
    // files whose embedded parquet blooms prove the value absent —
    // the arbitrary-layout complement to stats and buckets. Manifest
    // evidence markers let it skip the footer RPC for files the write
    // path proved evidence-less.
    val bloomKept = BloomPruning.pruneFiles(spark, storage, dataFilters, bucketKept,
      evidenceOf(rows))
    val rowByFile = rows.iterator.map(r => r.getString(fileIdx) -> r).toMap
    Seq(PartitionDirectory(InternalRow.empty,
      bloomKept.map(f => statusFor(rowByFile(f))).toArray))
  }
}

object GraftFileIndex {
  /** HDFS-default block size for synthesized statuses (the value only
    * feeds locality hints; split sizing uses `maxPartitionBytes`). */
  private val DefaultBlockSize = 128L * 1024 * 1024

  /** Observability: process-wide count of data-directory `listStatus`
    * calls taken by the legacy status path — specs pin this FLAT for
    * scans of natively-written tables (every status synthesized). */
  private[graft] val dirListings = new java.util.concurrent.atomic.AtomicLong(0)
}

/** Builds the relation-backed DataFrame over a [[GraftFileIndex]]:
  * Spark's own vectorized parquet reader + pushdown + split planning,
  * with file listing (and therefore manifest pruning) delegated to the
  * index above. */
object GraftRelation {

  def dataFrame(spark: SparkSession, storage: Storage, snapshotId: Long): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val physical = ReadOp.physicalSchema(storage.schema, storage.recordFields)
    val relation = HadoopFsRelation(
      new GraftFileIndex(spark, storage, snapshotId),
      new StructType(),
      physical,
      None,
      new ParquetFileFormat,
      Map.empty[String, String])(classic)
    classic.baseRelationToDataFrame(relation)
  }
}
