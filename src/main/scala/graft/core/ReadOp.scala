package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.format.FieldIds

/** Scan planning + execution (reference `Storage.data_files`
  * storage.py:369-403 and `FileSetReadOp` ops/read.py:47-152).
  *
  * Planning is driver-side and has one entry, [[ReadOp.prune]]: read
  * the snapshot's index manifests, apply the summary, stats, bucket and
  * membership pruning to a scan's resolved filters, get the surviving
  * file list. Execution is a Spark relation whose file index runs that
  * same planner ([[GraftFileIndex]]) — Catalyst pushes filters and
  * projections into the parquet scan, and Spark's own split planning
  * replaces the reference's per-file/row-range read tasks
  * (SURVEY.md §2.1).
  */
object ReadOp {

  /** Address struct stored in index files for each record field
    * (constants at reference schema/constants.py:17-18, struct type
    * arrow.py:212-215). */
  val AddressType: StructType = StructType(Seq(
    StructField("_FILE", StringType), StructField("_ROW_ID", IntegerType)))

  /** Physical schema = logical schema with record fields replaced by
    * address structs (arrow.py:227-241). Field-id metadata is STRIPPED —
    * this is a read schema (see [[graft.format.FieldIds.strip]]); the
    * write path re-attaches ids. */
  def physicalSchema(schema: StructType, recordFields: Seq[String]): StructType =
    graft.format.FieldIds.strip(StructType(schema.fields.map { f =>
      if (recordFields.contains(f.name)) StructField(f.name, AddressType, f.nullable, f.metadata)
      else f
    }))

  /** Physical schema KEEPING field-id metadata — for the write path,
    * where Spark embeds `parquet.field.id` into the files it writes. */
  def physicalSchemaWithIds(schema: StructType, recordFields: Seq[String]): StructType =
    StructType(schema.fields.map { f =>
      if (recordFields.contains(f.name)) StructField(f.name, AddressType, f.nullable, f.metadata)
      else f
    })

  final case class ScanPlan(
      files: Seq[String],
      totalFiles: Int,
      totalManifests: Int = 0,
      prunedManifests: Int = 0) {
    def prunedFiles: Int = totalFiles - files.size
  }

  /** The one scan planner: a snapshot and the resolved data filters of
    * a scan (implicitly ANDed, as Catalyst hands them to a FileIndex) →
    * the kept manifest rows and the plan's counts. Every scan
    * ([[GraftFileIndex]].listFiles) and every [[plan]] runs it; each
    * stage only drops what it proves unreachable:
    *
    *  1. manifest LIST: manifests whose per-manifest summaries in
    *     snapshot metadata falsify the filters are never opened, so a
    *     selective plan costs O(manifests + surviving files);
    *  2. file stats: the falsifiable keep-condition ([[Pruning]]) over
    *     the surviving manifests' rows, which come from the
    *     process-wide cache and are filtered as a LOCAL relation (no
    *     Spark job; no DataFrame at all without a keep-condition);
    *  3. buckets ([[BucketPruning]]): filters pinning the bucket
    *     columns reach only the buckets their literals hash to;
    *  4. membership ([[BloomPruning]]): point filters drop files whose
    *     blooms or dictionaries prove the values absent; the manifest's
    *     evidence markers skip the footer read of evidence-less files.
    *
    * Tables whose manifests predate summaries are never manifest-pruned
    * (conservative). */
  def prune(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      filters: Seq[Expression]): (Seq[Row], ScanPlan) = {
    val manifests = storage.snapshotOrFail(snapshotId).manifestFiles.indexManifestFiles
    if (manifests.isEmpty) return (Nil, ScanPlan(Nil, 0))
    val keep = Pruning.keepConditionForFilters(storage.schema, storage.statsColumns, filters)
    val surviving = ManifestIO.pruneManifestsBySummary(spark, storage, manifests, keep)
    val schema = ManifestIO.manifestSchema(storage)
    val fileIdx = schema.fieldIndex(ManifestIO.FileCol)
    def fileOf(r: Row): String = r.getString(fileIdx)
    val rows = manifestRows(spark, storage, surviving)
    val statsKept = keep match {
      case Some(k) if rows.nonEmpty =>
        val files = spark.createDataFrame(rows.asJava, schema).filter(k)
          .select(ManifestIO.FileCol).collect().map(_.getString(0)).toSet
        rows.filter(r => files(fileOf(r)))
      case _ => rows
    }
    // membership-evidence markers (file, column) → usable?
    val evidIdx = ManifestIO.evidenceColumns(storage).flatMap(c =>
      ManifestIO.fieldAtPath(storage.schema, c).map(f =>
        c -> schema.fieldIndex(ManifestIO.evidColName(FieldIds.fieldId(f)))))
    val evidence = statsKept.iterator.flatMap { r =>
      evidIdx.iterator.collect { case (c, i) if !r.isNullAt(i) => (fileOf(r), c) -> r.getBoolean(i) }
    }.toMap
    val files = BloomPruning.pruneFiles(spark, storage, filters,
      BucketPruning.pruneFiles(storage, snapshotId, filters, statsKept.map(fileOf)),
      evidence).toSet
    val kept = statsKept.filter(r => files(fileOf(r)))
    // unsummarized manifests are never pruned, so the loaded rows ARE the total
    val total = ManifestIO.summarizedFileCount(storage, manifests).fold(rows.size)(_.toInt)
    (kept, ScanPlan(kept.map(fileOf), total, manifests.size, manifests.size - surviving.size))
  }

  /** Rows of `manifests`, in manifest order, via the process-wide cache
    * ([[ManifestIO.readIndexManifestRowsCached]]): manifests are
    * immutable, so repeated plans of an unchanged table read none. */
  private[core] def manifestRows(
      spark: SparkSession, storage: Storage, manifests: Seq[String]): Seq[Row] =
    ManifestIO.readIndexManifestRowsLive(spark, storage, manifests).map(_._2)

  /** Scan plan of `predicate` at a snapshot: exactly the files a scan of
    * `scanPhysical(…, Some(predicate))` reads, because it runs [[prune]]
    * over the same filters that scan's file index gets — the optimized
    * conjuncts over the relation, deterministic and subquery-free
    * (FileSourceStrategy's data filters). The delete-vector mask is left
    * out: it never prunes, and building it would broadcast the vectors.
    * An optimizer that removed the relation proved the filter false, so
    * the plan keeps nothing. Without a predicate no DataFrame is built. */
  def plan(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      predicate: Option[Column]): ScanPlan = {
    val filters = predicate.fold(Seq.empty[Expression]) { p =>
      val index = new GraftFileIndex(spark, storage, snapshotId)
      def scans(l: LogicalRelation): Boolean = l.relation match {
        case h: HadoopFsRelation => h.location eq index
        case _ => false
      }
      GraftRelation.dataFrame(spark, storage, index).filter(zeroSafe(p))
        .queryExecution.optimizedPlan.collectFirst {
          case ScanOperation(_, _, fs, l: LogicalRelation) if scans(l) =>
            fs.filter(f => f.deterministic && !SubqueryExpression.hasSubquery(f))
        }.getOrElse(Seq(Literal.FalseLiteral))
    }
    prune(spark, storage, snapshotId, filters)._2
  }

  /** Read a snapshot as a DataFrame of the PHYSICAL schema (record fields
    * as address structs; stitching is RecordIO's job).
    *
    * Built over [[GraftRelation]]/[[GraftFileIndex]], so manifest pruning
    * runs INSIDE Catalyst planning from the query's own data filters —
    * the predicate here, a later `.filter`, or a SQL WHERE over a
    * registered view all prune identically and lazily. */
  def scanPhysical(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      predicate: Option[Column] = None): DataFrame = {
    val df0 = GraftRelation.dataFrame(spark, storage, new GraftFileIndex(spark, storage, snapshotId))
    // merge-on-read: mask soft-deleted rows (no-op Column when the
    // snapshot has no delete vectors — the common steady state). The
    // mask is a plain conjunct, so the user's own filters still push
    // down past it into the parquet scan and the file index; the
    // broadcast vector map is REUSED across reads of the same snapshot
    // (DV files are immutable).
    val df = DeleteVectorOps.maskFilterForSnapshot(spark, storage, snapshotId)
      .fold(df0)(df0.filter)
    predicate.map(zeroSafe).fold(df)(df.filter)
  }

  /** ±0.0 pushdown soundness even on sessions without GraftExtensions:
    * rewrite zero-equality forms before Catalyst pushes them to parquet
    * (see FloatingZeroRewrite — vanilla pushdown drops row groups whose
    * zeros carry the other sign bit). */
  private def zeroSafe(p: Column): Column = {
    val e = org.apache.spark.sql.graftshim.ColumnExpr.catalystExpression(p)
    if (org.apache.spark.sql.graftshim.FloatingZeroRewrite.mentionsFpZero(e))
      org.apache.spark.sql.graftshim.ColumnExpr.column(
        org.apache.spark.sql.graftshim.FloatingZeroRewrite.rewriteUnresolved(e))
    else p
  }

  def emptyDF(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
}
