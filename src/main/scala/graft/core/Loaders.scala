package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, struct, udf}
import org.apache.spark.sql.types.IntegerType

import graft.format.{FieldIds, Patch}

/** Zero-copy ingest of EXTERNAL parquet files (reference
  * `LocalParquetLoadOp` `/root/reference/python/src/space/core/loaders/
  * parquet.py:30-74`): no data is read or copied — the table's manifest
  * rows are built purely from the external files' footers (row counts +
  * PK min/max stats), and the manifest references the files by absolute
  * path. The files keep living where they are; pruning and scans work
  * exactly as for native files. */
object ParquetLoader {

  /** Append the given external parquet files to `ds` by footer harvest
    * only. Returns the new snapshot id. */
  def loadParquet(spark: SparkSession, ds: SpaceDataset, files: Seq[String]): Long = {
    require(ds.storage.metadata.numBuckets == 0,
      "zero-copy ingest into a BUCKETED table is not supported: external " +
        "files carry no bucket assignment (rewrite through append instead)")
    // a repeated path would create two manifest rows for one file —
    // every scan then reads it twice (duplicate rows AND duplicate PKs)
    val unique = files.distinct
    require(unique.size == files.size,
      s"duplicate paths in loadParquet input: " +
        files.diff(unique).distinct.take(3).mkString(", "))
    val conf = spark.sparkContext.hadoopConfiguration
    // schema gate: external files must carry every index field with a
    // compatible type — a missing PK would otherwise null-fill on read,
    // silently breaking insert/upsert dup checks and key-range pruning
    val physical = ReadOp.physicalSchema(ds.storage.schema, ds.storage.recordFields)
    val extSchema = spark.read.parquet(unique: _*).schema
    physical.fields.filterNot(_.name.startsWith("_")).foreach { f =>
      val ext = extSchema.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"external parquet lacks table field ${f.name} " +
            s"(external schema: ${extSchema.map(_.name).mkString(", ")})"))
      require(ext.dataType == f.dataType,
        s"external field ${f.name} has type ${ext.dataType}, table expects ${f.dataType}")
    }
    // harvested and written once, before the transaction: the patch
    // does not depend on the pinned head, so it commits with Append
    val metas = ManifestIO.harvestLanded(ds.storage, conf,
      unique.map(f => new Path(f).toString -> None)).filter(_.numRows > 0)
    val patch = ManifestIO.newFilesPatch(spark, ds.storage, metas)
    ds.storage.commitTransaction(policy = ConflictPolicy.Append)(_ =>
      if (metas.isEmpty) None else Some(patch))
  }
}

/** Zero-copy ingest of EXTERNAL record files (reference
  * `LocalArrayRecordLoadOp` `/root/reference/python/src/space/core/
  * loaders/array_record.py:36-109`, mapped to record-Parquet per
  * SURVEY.md §2.1): existing record files — parquet with a single binary
  * `value` column — are indexed IN PLACE. Index columns are derived from
  * each payload by user expressions (`index_fn` analog; arbitrary logic
  * via `udf(...)` columns), the address column points at the external
  * file + row position, and the record manifest is built from the
  * external files' footers. Payload bytes are never copied.
  *
  * Spark-first: the reference loads every record file into driver memory
  * (array_record.py:95 TODO) — here the index derivation is one
  * distributed scan of the external files, and only the derived index
  * rows are written.
  */
object RecordLoader {

  /** Index `files` into `ds` without copying payloads.
    *
    * @param field the table's (single) record field the payloads belong
    *   to — the reference supports exactly one (array_record.py:66)
    * @param indexExprs one Column per non-record field, evaluated over
    *   the payload bytes column `value`
    * @return the new snapshot id */
  def loadRecordParquet(
      spark: SparkSession,
      ds: SpaceDataset,
      field: String,
      files: Seq[String],
      indexExprs: Map[String, Column]): Long = {
    val st = ds.storage
    require(st.recordFields == Seq(field),
      s"record loader supports exactly one record field, got ${st.recordFields}")
    val indexFields = st.schema.fieldNames.filterNot(_ == field)
    require(indexExprs.keySet == indexFields.toSet,
      s"indexExprs must cover exactly the index fields ${indexFields.mkString(", ")}")
    val conf = spark.sparkContext.hadoopConfiguration

    // address _FILE uses the caller's path spelling; map the scanner's
    // qualified URIs back to it (full-path keys — basenames collide)
    val relByKey = files.map { f =>
      val p = new Path(f)
      DmlOps.pathKey(p.getFileSystem(conf).makeQualified(p).toString) -> f
    }.toMap
    val bc = spark.sparkContext.broadcast(relByKey)
    val toGivenPath = udf((p: String) => bc.value(BitmapCache.normKey(p)))

    val physical = ReadOp.physicalSchema(st.schema, st.recordFields)
    val raw = spark.read.parquet(files: _*).select(
      col("value"),
      toGivenPath(col("_metadata.file_path")).as("__file"),
      col("_metadata.row_index").cast(IntegerType).as("__row"))
    val indexDF = raw.select(physical.fields.map { f =>
      if (f.name == field)
        struct(col("__file").as("_FILE"), col("__row").as("_ROW_ID")).as(field)
      else indexExprs(f.name).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)

    // written and harvested once, like loadParquet's patch, under the
    // freshest layout: it commits with Append, and a rebucket in between
    // fails it (its layout epoch is stale)
    st.reload()
    val result = AppendOp.writeFilesWithMeta(spark, st, indexDF)
    val patch =
      if (result.files.isEmpty) None
      else {
        val fid = FieldIds.fieldId(st.schema(field))
        val recordMetas = RecordIO.harvestRecordFooters(spark, st, files.map(_ -> fid))
        Patch.merge(Seq(result.patch) ++ RecordIO.recordManifestPatch(spark, st, recordMetas))
      }
    st.commitTransaction(policy = ConflictPolicy.Append)(_ => patch)
  }
}
