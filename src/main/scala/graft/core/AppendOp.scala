package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.format._

/** Distributed append (reference `LocalAppendOp`/`RayAppendOp`,
  * `/root/reference/python/src/space/core/ops/append.py:69-298` and
  * `/root/reference/python/src/space/ray/ops/append.py:32-120`).
  *
  * Spark-first shape: the input DataFrame is written by executors with a
  * plain `df.write.parquet` (one file per task — Spark tasks play the
  * reference's writer-actor role), then the DRIVER harvests only the
  * footers for row counts + PK min/max stats, moves the files into
  * `data/`, and emits one manifest + a Patch. No row ever passes through
  * the driver; footer IO is O(files), not O(rows).
  *
  * The reference caps index files at 1 MiB uncompressed
  * (options.py:66-67) — pathological at 100 TB; we instead inherit
  * Spark's task partitioning (≈128 MB splits), and [[CompactOp]]
  * right-sizes small files afterwards (SURVEY.md §7.3 "small-file
  * defaults").
  */
object AppendOp {

  /** A landed write: its Patch and the files of its added rows (every
    * landed file, unless the write carried rows over). */
  final case class AppendResult(patch: Patch, files: Seq[IndexFileMeta])

  /** Synthetic per-column bucket-id column names for the dynamic-
    * partition write of a [[graft.format.StorageMetadata.bucketCounts]]
    * layout. */
  private[core] def bucketDirNames(m: Int): Seq[String] =
    (0 until m).map(i => s"__graft_b$i")
  private[core] def bucketDirCols(m: Int): Seq[org.apache.spark.sql.Column] =
    bucketDirNames(m).map(org.apache.spark.sql.functions.col)

  /** `pmod(murmur3(cᵢ, seed 42), nᵢ)` per bucket column — the exact
    * per-column hash [[BucketPruning.bucketId]] probes and the `bucket`
    * V2 function computes for one column. Float/double inputs collapse
    * -0.0 onto +0.0 first (x + 0.0 is the identity everywhere else,
    * incl. NaN/∞), matching the normalization `df.repartition` keys get
    * in the single-hash layout. `columns`/`counts` default to the
    * table's — rebucket passes its NEW layout. */
  private[core] def perColumnBucketExprs(
      storage: Storage,
      columns: Seq[String] = Nil,
      counts: Seq[Int] = Nil): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val effectiveCols = if (columns.nonEmpty) columns else storage.metadata.bucketColumns.toSeq
    val effective = if (counts.nonEmpty) counts else storage.metadata.bucketCounts
    effectiveCols.zip(effective)
      .zipWithIndex.map { case ((c, n), i) =>
        val base = storage.schema(c).dataType match {
          case org.apache.spark.sql.types.FloatType => col(c) + lit(0.0f)
          case org.apache.spark.sql.types.DoubleType => col(c) + lit(0.0d)
          case _ => col(c)
        }
        pmod(hash(base), lit(n)).as(s"__graft_b$i")
      }
  }

  /** Row-major flat id of a dynamic-partition output file's directory
    * tuple (`.../__graft_b0=X/__graft_b1=Y/part-…`). */
  private[core] def flatBucketOfDir(p: Path, counts: Seq[Int]): Int = {
    val byName = Iterator.iterate(p.getParent)(_.getParent)
      .takeWhile(_ != null)
      .map(_.getName)
      .filter(_.startsWith("__graft_b"))
      .map { seg =>
        val Array(k, v) = seg.split("=", 2)
        k.stripPrefix("__graft_b").toInt -> v.toInt
      }.toMap
    require(byName.size == counts.size,
      s"malformed bucket directory layout at $p (want ${counts.size} levels)")
    counts.indices.foldLeft(0) { (acc, i) => acc * counts(i) + byName(i) }
  }

  /** Inverse of [[flatBucketOfDir]]: the per-column tuple of a flat id
    * (public: the shim-side bucketed batch decodes partition keys). */
  def tupleOfFlat(flat: Int, counts: Seq[Int]): Seq[Int] = {
    var rem = flat
    val out = new Array[Int](counts.size)
    var i = counts.size - 1
    while (i >= 0) { out(i) = rem % counts(i); rem /= counts(i); i -= 1 }
    out.toSeq
  }

  /** Align `df` to the table's physical index schema: schema order,
    * field-id metadata re-attached so Spark embeds `parquet.field.id`
    * in the written footers (schema-evolution-by-id). Type alignment:
    * a column whose frame type differs from the table's UPCASTS in
    * place (int frame into a widened bigint table — files then always
    * match the declared schema); a frame WIDER than the table refuses
    * loudly — writing it would commit files the declared schema cannot
    * read back (the row-wise-MV-after-source-widen shape: widen the
    * target table's column first, then retry). */
  private[core] def alignToSchema(storage: Storage, df: DataFrame): DataFrame = {
    val idSchema = ReadOp.physicalSchemaWithIds(storage.schema, storage.recordFields)
    val inTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // catalogString compare: metadata- and nullability-insensitive, so
    // the type-matched fast path is exactly the old raw projection.
    // Beyond Catalyst's canUpCast, a small-precision decimal widens
    // losslessly into double (a double holds 15 significant digits
    // exactly) — the shape SQL UPDATE literals arrive in (0.5 parses as
    // decimal(1,1) against a double column).
    def safeCast(from: org.apache.spark.sql.types.DataType,
        to: org.apache.spark.sql.types.DataType): Boolean =
      org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, to) ||
        ((from, to) match {
          case (d: org.apache.spark.sql.types.DecimalType,
                org.apache.spark.sql.types.DoubleType) => d.precision <= 15
          case _ => false
        })
    def typeAligned(f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.Column = {
      val cur = inTypes.getOrElse(f.name, throw new IllegalArgumentException(
        s"append: missing column ${f.name}"))
      val base =
        if (cur.catalogString == f.dataType.catalogString)
          org.apache.spark.sql.functions.col(f.name)
        else if (safeCast(cur, f.dataType))
          org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
        else throw new IllegalArgumentException(
          s"append: column ${f.name} arrives as ${cur.simpleString} but the " +
            s"table stores ${f.dataType.simpleString}, and that is not a safe " +
            "upcast — files written as-is could not be read back under the " +
            "table schema. If a source column was type-widened, widen this " +
            "table's column first (widenColumn), then retry")
      base.as(f.name, f.metadata)
    }
    df.select(idSchema.fields.map(typeAligned).toIndexedSeq: _*)
  }

  /** Parquet options of every data file the engine writes, batch or
    * streamed. BLOOM FILTERS on the primary-key and bloom columns: min/max
    * stats prune files only when the layout correlates with the key; a
    * bloom skips row groups on point lookups regardless of layout, the
    * unbucketed-table complement to hash buckets. ADAPTIVE sizing
    * (parquet 1.15+) right-sizes the filter to the row group's actual
    * distinct count under a hard byte cap: a fixed expected-NDV would be
    * oversized for small files and badly undersized (useless FPP) for
    * 128 MB row groups holding ~1M distinct keys. Write tax measured ≤
    * noise (~0.1s on a 600k-row append); the reader consults the filters
    * for pushed equality predicates. `spark.graft.pkBloomFilters=false`
    * opts a write-heavy pipeline out (e.g. bulk ingest that will be
    * compacted or clustered anyway). */
  def writeOptions(spark: SparkSession, storage: Storage): Map[String, String] = {
    val idSchema = ReadOp.physicalSchemaWithIds(storage.schema, storage.recordFields)
    val bloomEnabled = Confs.boolConf(spark, "spark.graft.pkBloomFilters", dflt = true)
    val bloomCols =
      if (!bloomEnabled) Nil
      else (storage.primaryKeys ++ storage.metadata.bloomColumns).distinct.filter(c =>
        idSchema.fields.exists(f => f.name == c && ManifestIO.statsEligible(f.dataType)))
    Map(
      "parquet.bloom.filter.adaptive.enabled" -> "true",
      "parquet.bloom.filter.max.bytes" -> (128 * 1024).toString,
      // Every batch write lands in a UUID-named tmp dir whose part
      // files the footer harvest immediately renames into data/ and
      // whose directory is then deleted — the engine's manifest IS
      // the commit marker. The Hadoop committer's _SUCCESS file and
      // v1's second rename pass (task dir → job dir → output) are
      // driver-side filesystem round-trips per commit that nothing
      // ever observes; committer v2 renames task outputs straight
      // into the (private, single-writer) tmp dir at task commit.
      "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false",
      "mapreduce.fileoutputcommitter.algorithm.version" -> "2") ++
      bloomCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true")
  }

  /** The one landing tail of every engine write: `frame` is written
    * into a fresh tmp dir under `data/` (dynamic partitions on
    * `partitionCols`), every part file is harvested and moved to the
    * table-relative name `relOf` gives it ([[ManifestIO.harvestLanded]]),
    * 0-row task outputs are deleted (they never enter a manifest), the
    * tmp dir is removed and the kept files become one new-files Patch.
    * Returns that Patch and the kept (part path, meta) pairs in file
    * order.
    *
    * `clustered` (a write-clustered shuffle) runs the write under the
    * reduced AQE advisory of [[clusterAdvisoryConfs]], in a cloned
    * session: a set/restore on the shared conf would leak into jobs
    * planning concurrently in this session. Every other write runs
    * with the session's own AQE settings (a write over a scan runs one
    * job with AQE on or off, a write over a broadcast join two). */
  private def land(
      spark: SparkSession,
      storage: Storage,
      frame: DataFrame,
      clustered: Boolean,
      partitionCols: Seq[String])(
      relOf: Path => String): (Patch, Seq[(Path, IndexFileMeta)]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmpAbs = storage.absolute(
      s"${StoragePaths.DataDir}/tmp_append_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    def writeOut(f: DataFrame): Unit = {
      val w = f.write.mode("overwrite").options(writeOptions(spark, storage))
      (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*)).parquet(tmpAbs)
    }
    if (clustered) org.apache.spark.sql.graftshim.ScopedConf.withScopedConf(
      frame, clusterAdvisoryConfs(spark))(writeOut)
    else writeOut(frame)

    val fs = new Path(tmpAbs).getFileSystem(conf)
    val listed = Seq.newBuilder[Path]
    val it = fs.listFiles(new Path(tmpAbs), true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.startsWith("part-")) listed += p
    }
    val parts = listed.result().sortBy(_.toString)
    val metas = ManifestIO.harvestLanded(storage, conf,
      parts.map(p => relOf(p) -> Some(p.toString)))
    val (kept, empties) = parts.zip(metas).partition(_._2.numRows > 0)
    DriverPool.parMap(empties) { case (_, m) =>
      fs.delete(new Path(storage.absolute(m.file)), false)
    }
    fs.delete(new Path(tmpAbs), true)
    val byFile = kept.sortBy(_._2.file)
    (ManifestIO.newFilesPatch(spark, storage, byFile.map(_._2)), byFile)
  }

  /** `writeClustered = true` (APPEND-path callers only) honors the
    * table's `write_cluster_by` columns: the batch is range-partitioned
    * + sorted so it lands as an internally-disjoint tier. Maintenance
    * rewrites (compact/cluster/CoW survivors) pass false — they arrange
    * their own layout and must not be re-shuffled.
    *
    * `carryover` (a delete's CoW survivors, physical schema) lands in
    * the SAME Spark write job as `df` but in separate files: both frames
    * are unioned under a transient kind column that is a dynamic
    * partition, so every task writes at most one file per kind (under
    * its bucket id on bucketed layouts). The patch carries the manifest
    * and stats of both groups; its changelog and [[AppendResult.files]]
    * list only the files of `df` (carryover rows are CDC-silent). On a
    * write-clustered table both groups range-sort on (kind, cluster
    * columns), so the survivors regain tier shape too. */
  def writeFilesWithMeta(
      spark: SparkSession,
      storage: Storage,
      df: DataFrame,
      writeClustered: Boolean = false,
      /** Rebucket's hook: write under this PER-COLUMN (columns, counts)
        * layout instead of the table's current one (the metadata
        * switches to it in the same commit that references the written
        * files). */
      bucketLayoutOverride: Option[(Seq[String], Seq[Int])] = None,
      carryover: Option[DataFrame] = None): AppendResult = {
    import org.apache.spark.sql.functions.{col, lit}
    // Bucketed tables: EVERY write shuffles rows to
    // pmod(murmur3(bucketColumns), numBuckets) — partition index IS the
    // bucket id (HashPartitioning semantics), and the output file name
    // encodes it. CoW rewrites and compaction flow through here too, so
    // the invariant survives delete/update/upsert/compact.
    val numBuckets = bucketLayoutOverride
      .map(_._2.map(_.toLong).product.toInt)
      .getOrElse(storage.metadata.numBuckets)
    val bucketCounts = bucketLayoutOverride.map(_._2).getOrElse(
      storage.metadata.bucketCounts.toSeq)
    val bucketColumns = bucketLayoutOverride.map(_._1).getOrElse(
      storage.metadata.bucketColumns.toSeq)
    // per-column sub-buckets (multi-column SPJ layout): rows shuffle by
    // the TUPLE of per-column ids — one task per occupied tuple — and
    // the dynamic-partition write below splits tasks into tuple-pure
    // files whose directory names carry the ids
    val perColumn = numBuckets > 0 && bucketCounts.nonEmpty
    val wcb = storage.metadata.writeClusterBy
    val clustered = writeClustered && wcb.nonEmpty && numBuckets == 0
    // align to schema order + upcast frame types (see [[alignToSchema]]).
    // Alignment happens BEFORE bucketing: bucket ids hash the STORED
    // type (murmur3-of-long ≠ murmur3-of-int for the same value), so an
    // int frame appended to a widened-bigint bucket column must be cast
    // first or its files land under ids BucketPruning/SPJ would never
    // probe — a silent layout corruption instead of a wrong hash.
    val alignedDf = carryover.fold(alignToSchema(storage, df))(c =>
      alignToSchema(storage, c).withColumn(KindCol, lit(0))
        .unionByName(alignToSchema(storage, df).withColumn(KindCol, lit(1))))
    val kindCols = carryover.map(_ => KindCol).toSeq
    // the per-column layout keeps its (synthetic) bucket-id columns
    // through the repartition for the dynamic-partition write;
    // partitionBy excludes them from the written data files
    val aligned =
      if (perColumn) {
        val bCols = AppendOp.perColumnBucketExprs(storage, bucketColumns, bucketCounts)
        alignedDf.select((alignedDf.columns.map(col) ++ bCols).toIndexedSeq: _*)
          .repartition(numBuckets, AppendOp.bucketDirCols(bucketCounts.size): _*)
      } else if (numBuckets > 0)
        alignedDf.repartition(numBuckets, storage.metadata.bucketColumns.map(col): _*)
      else if (clustered) {
        // cluster-on-write: the batch lands as an internally-disjoint
        // sorted tier with tight per-file stats. NO explicit partition
        // count — AQE coalesces tiny range partitions (a small batch
        // becomes one sorted file, a large ingest fans out), under the
        // REDUCED advisory size set around the write below: pruning
        // granularity needs several files per tier, and AQE's default
        // 64 MB advisory would fold a whole mid-size tier into one. A
        // leading kind column keeps tasks kind-contiguous.
        val cols = (kindCols ++ wcb).map(col)
        alignedDf.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)
      } else alignedDf
    // part-NNNNN task numbering = partition index = bucket id (an
    // explicit df.repartition(n, expr) is never AQE-coalesced); the
    // per-column layout reads the tuple from the directory names and
    // flattens it row-major into the file-name id
    val partIdxRe = "part-(\\d+)-.*".r
    val (patch, landed) = land(spark, storage, aligned, clustered,
      partitionCols = (if (perColumn) bucketDirNames(bucketCounts.size) else Nil) ++ kindCols) { p =>
      if (perColumn)
        StoragePaths.newIndexDataFile(bucket = flatBucketOfDir(p, bucketCounts))
      else if (numBuckets > 0) p.getName match {
        case partIdxRe(idx) => StoragePaths.newIndexDataFile(bucket = idx.toInt)
        case other => throw new IllegalStateException(s"unparseable part file $other")
      }
      else StoragePaths.newIndexDataFile()
    }
    val adds = landed.collect { case (p, m) if carryover.isEmpty || isAddFile(p) => m }
    val addFiles = adds.map(_.file).toSet
    AppendResult(patch.copy(changeLog = patch.changeLog.map(cl =>
      cl.copy(addedRows = cl.addedRows.filter(b => addFiles(b.file))))), adds)
  }

  /** Transient kind column of a write with a carryover (0 = carried
    * over, 1 = added) — a dynamic partition, so parquet drops it from
    * the written data. */
  private val KindCol = "__graft_kind"

  /** Whether a landed part file holds added rows: its kind directory,
    * read from its ancestors like [[flatBucketOfDir]] reads bucket ids. */
  private def isAddFile(p: Path): Boolean =
    Iterator.iterate(p.getParent)(_.getParent).takeWhile(_ != null)
      .exists(_.getName == s"$KindCol=1")

  /** Scoped-conf set for a write-clustered shuffle: the reduced AQE
    * advisory (`spark.graft.writeCluster.advisoryBytes`, default 8 MB —
    * several tight-range files per tier beat one 64 MB-coalesced file)
    * plus a matching coalesce floor when the advisory is set BELOW
    * AQE's default 1 MB `minPartitionSize` (otherwise the floor wins
    * and a small tier still folds into one file). At the default
    * advisory the floor stays at Spark's default — no behavior
    * change. */
  private def clusterAdvisoryConfs(
      spark: SparkSession): Seq[(String, String)] = {
    val advisory = Confs.longConf(spark,
      "spark.graft.writeCluster.advisoryBytes", 8L * 1024 * 1024)
    Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory.toString,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
        math.min(advisory, 1L * 1024 * 1024).toString)
  }
}
