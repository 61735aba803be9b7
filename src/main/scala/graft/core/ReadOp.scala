package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Scan planning + execution (reference `Storage.data_files`
  * storage.py:369-403 and `FileSetReadOp` ops/read.py:47-152).
  *
  * Planning is driver-side: read the snapshot's index manifests, apply
  * the falsifiable-filter pruning predicate, get the surviving file list.
  * Execution is one declarative `spark.read.parquet(files).filter(...)`
  * — Catalyst then pushes filters/projections into the parquet scan and
  * Spark's own split planning replaces the reference's per-file/row-range
  * read tasks (SURVEY.md §2.1).
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

  /** Snapshot → pruned list of table-root-relative index files.
    *
    * Two-level (manifest-list design): the per-manifest summaries in
    * snapshot metadata are consulted FIRST — a manifest whose combined
    * min/max range is falsified by the predicate is never opened — then
    * file-level stats prune within the surviving manifests. Driver work
    * for a selective query is O(manifests + surviving files), not
    * O(all files). Tables whose manifests predate summaries fall back to
    * reading everything (conservative).
    *
    * Manifest rows come from the process-wide cache on the driver: a
    * repeated plan of an unchanged table costs zero Spark jobs and zero
    * manifest IO. The stats filter runs over them as a LOCAL relation
    * (folded driver-side by ConvertToLocalRelation); without a
    * keep-condition no DataFrame is built at all. */
  def plan(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      predicate: Option[Column]): ScanPlan = {
    import scala.jdk.CollectionConverters._
    val manifests = storage.snapshotOrFail(snapshotId).manifestFiles.indexManifestFiles
    if (manifests.isEmpty) return ScanPlan(Nil, 0)
    val keep = predicate.flatMap(p =>
      Pruning.keepCondition(spark, storage.schema, storage.statsColumns, p))
    val surviving: Seq[String] =
      ManifestIO.pruneManifestsBySummary(spark, storage, manifests, keep)
    val prunedM = manifests.size - surviving.size
    val schema = ManifestIO.manifestSchema(storage)
    val byM = ManifestIO.readIndexManifestRowsCached(spark, storage, surviving)
    val rows = surviving.flatMap(byM(_).toSeq)
    val kept = keep.fold(rows)(k =>
      spark.createDataFrame(rows.asJava, schema).filter(k).collect().toSeq)
    val fIdx = schema.fieldIndex(ManifestIO.FileCol)
    val files0 = kept.map(_.getString(fIdx))
    val files = predicate match {
      case Some(p) =>
        // membership-evidence markers (file, column) → usable?, so the
        // bloom layer can skip footer RPCs for evidence-less files
        val evidIdx: Seq[(String, Int)] = ManifestIO.evidenceColumns(storage).flatMap(c =>
          ManifestIO.fieldAtPath(storage.schema, c).map(f =>
            c -> schema.fieldIndex(ManifestIO.evidColName(graft.format.FieldIds.fieldId(f)))))
        val evidence: Map[(String, String), Boolean] = kept.iterator.flatMap { r =>
          evidIdx.iterator.collect {
            case (c, i) if !r.isNullAt(i) => (r.getString(fIdx), c) -> r.getBoolean(i)
          }
        }.toMap
        val exprs = Seq(org.apache.spark.sql.graftshim.ColumnExpr.catalystExpression(p))
        BloomPruning.pruneFiles(spark, storage, exprs,
          BucketPruning.pruneFiles(storage, snapshotId, exprs, files0), evidence)
      case None => files0
    }
    // legacy (unsummarized) tables are never manifest-pruned, so the
    // loaded rows ARE the total
    val total = ManifestIO.summarizedFileCount(storage, manifests).fold(rows.size)(_.toInt)
    ScanPlan(files, total, manifests.size, prunedM)
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
    val df0 = GraftRelation.dataFrame(spark, storage, snapshotId)
    // merge-on-read: mask soft-deleted rows (no-op Column when the
    // snapshot has no delete vectors — the common steady state). The
    // mask is a plain conjunct, so the user's own filters still push
    // down past it into the parquet scan and the file index; the
    // broadcast vector map is REUSED across reads of the same snapshot
    // (DV files are immutable).
    val df = DeleteVectorOps.maskFilterForSnapshot(spark, storage, snapshotId)
      .fold(df0)(df0.filter)
    // ±0.0 pushdown soundness even on sessions without GraftExtensions:
    // rewrite zero-equality forms before Catalyst pushes them to parquet
    // (see FloatingZeroRewrite — vanilla pushdown drops row groups whose
    // zeros carry the other sign bit)
    predicate.map { p =>
      val e = org.apache.spark.sql.graftshim.ColumnExpr.catalystExpression(p)
      if (org.apache.spark.sql.graftshim.FloatingZeroRewrite.mentionsFpZero(e))
        org.apache.spark.sql.graftshim.ColumnExpr.column(
          org.apache.spark.sql.graftshim.FloatingZeroRewrite.rewriteUnresolved(e))
      else p
    }.fold(df)(df.filter)
  }

  def emptyDF(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
}
