package org.apache.spark.sql.graftshim

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{DirCatalog, ReadOp, SpaceDataset, GraftFileIndex}

/** Spark DSv2 [[TableCatalog]] over a graft [[DirCatalog]] root — the
  * full `spark.sql` catalog surface on graft tables, no temp views
  * needed:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.location", "/data/graft")
  *   spark.sql("CREATE TABLE graft.t (id BIGINT, v STRING) TBLPROPERTIES ('primary_keys'='id')")
  *   spark.sql("INSERT INTO graft.t VALUES (1, 'a')")
  *   spark.sql("SELECT * FROM graft.t WHERE id < 100")          // manifest-pruned scan
  *   spark.sql("SELECT * FROM graft.t VERSION AS OF 1")         // time travel (id or tag)
  *   spark.sql("DELETE FROM graft.t WHERE id = 1")              // CoW delete
  *   spark.sql("INSERT OVERWRITE graft.t SELECT ...")           // atomic truncate+append
  * }}}
  *
  * Reads plan through Spark's own DSv2 `ParquetScanBuilder` backed by a
  * snapshot-pinned [[GraftFileIndex]], so Catalyst column pruning +
  * parquet filter pushdown AND graft's falsifiable-filter manifest
  * pruning all apply to SQL queries. Writes go through the optimistic
  * transaction path ([[SpaceDataset.append]]/[[SpaceDataset.overwrite]]).
  * The catalog maps the reference's directory catalog
  * (`/root/reference/python/src/space/catalogs/directory.py:30-77`) into
  * Spark's catalog plugin API — name resolution, listing, create/drop —
  * which the reference has no analog for (its README points SQL users at
  * an external engine; here the SQL engine is native).
  *
  * Namespace model: flat (a single root namespace), like the reference's
  * directory catalog.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
  with ProcedureCatalog {

  // ------------------------------------------ procedure catalog surface
  // SQL maintenance parity: CALL <cat>.system.compact/cluster_by/zorder/
  // expire_snapshots/gc/rollback — see [[GraftProcedures]]. The
  // procedure set is static per catalog — built once, not on every
  // CALL resolution / SHOW PROCEDURES
  private[graftshim] lazy val procedures = GraftProcedures.procs(this)

  override def loadProcedure(
      ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(this, namespace)

  private[graftshim] def datasetByName(name: String): SpaceDataset = {
    if (!dir.exists(name))
      throw new NoSuchTableException(Identifier.of(Array.empty, name))
    dir.dataset(name)
  }

  private[graftshim] def mvByName(name: String): graft.views.Refreshable = {
    if (!dir.exists(name))
      throw new NoSuchTableException(Identifier.of(Array.empty, name))
    dir.refreshableView(name)
  }

  private[graftshim] def dirCatalog: graft.core.DirCatalog = dir

  // ------------------------------------------- function catalog surface
  // One function: bucket(numBuckets, col). Catalyst resolves it while
  // proving two bucketed scans' KeyGroupedPartitionings compatible
  // (storage-partitioned joins).
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    Array(Identifier.of(Array.empty, "bucket"))
  }

  override def loadFunction(
      ident: Identifier): org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    if (ident.namespace.isEmpty && ident.name == "bucket") GraftBucketing.BucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
  }


  private var catalogName: String = _
  private var root: String = _

  private def spark: SparkSession = SparkSession.active
  private def dir: DirCatalog = new DirCatalog(spark, root)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("location")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option spark.sql.catalog.$name.location"))
  }

  override def name(): String = catalogName

  override def defaultNamespace(): Array[String] = Array.empty

  private def tableName(ident: Identifier): String = {
    if (ident.namespace.nonEmpty) throw new NoSuchTableException(ident)
    ident.name
  }

  private def loadDataset(ident: Identifier): SpaceDataset = {
    val n = tableName(ident)
    if (!dir.exists(n)) throw new NoSuchTableException(ident)
    dir.dataset(n)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    dir.datasets().map(Identifier.of(Array.empty[String], _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.isEmpty && dir.exists(ident.name)

  /** Metadata tables: `SELECT * FROM <cat>.<table>.<meta>` with meta ∈
    * versions | files | record_files | delete_vectors | view (the SQL
    * face of `versions()` / `indexManifest()` / `recordManifest()` /
    * the merge-on-read vector set / `AggregateView.read()` — an
    * aggregate view's TABLE holds partial state; `.view` serves the
    * FINAL per-group values). `<cat>.<t>.versions` parses as namespace
    * [t], name "versions" — resolved here before the flat-namespace
    * table lookup. */
  private def metadataTable(ident: Identifier): Option[Table] =
    if (ident.namespace.length == 1 && dir.exists(ident.namespace.head)) {
      val ds = dir.dataset(ident.namespace.head)
      val full = s"$catalogName.${ident.namespace.head}.${ident.name}"
      ident.name match {
        case "versions" => Some(new GraftMetadataTable(full, () => ds.versions()))
        case "files" => Some(new GraftMetadataTable(full, () => ds.indexManifest()))
        case "record_files" => Some(new GraftMetadataTable(full, () => ds.recordManifest()))
        // merge-on-read observability: which files carry soft-deleted
        // rows, how many, and each file's DEAD FRACTION — the exact
        // input of the cumulative dvMaxFraction cutover and compact's
        // dvDebtFraction policy, so an operator can see which files a
        // debt-threshold compaction would select. `sum(_NUM_DELETED)`
        // is the table's compaction debt; empty = clean-at-rest
        // (export/random access contracts hold)
        case "delete_vectors" => Some(new GraftMetadataTable(full, () => {
          val sid = ds.storage.metadata.currentSnapshotId
          val dvs = ds.storage.deleteVectors(sid)
          val physRows: Map[String, Long] =
            if (dvs.isEmpty) Map.empty
            else graft.core.ManifestIO.fileRowCounts(ds.storage,
                spark.sparkContext.hadoopConfiguration,
                ds.storage.snapshotOrFail(sid).manifestFiles.indexManifestFiles)
              .filter { case (f, _) => dvs.contains(f) }.toMap
          val rows = dvs.toSeq.sortBy(_._1).map { case (f, e) =>
            val phys = physRows.get(f)
            org.apache.spark.sql.Row(f, e.numRows,
              phys.map(Long.box).orNull,
              phys.map(p => Double.box(e.numRows.toDouble / p)).orNull)
          }
          spark.createDataFrame(
            java.util.Arrays.asList(rows: _*),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("_FILE",
                org.apache.spark.sql.types.StringType, nullable = false),
              org.apache.spark.sql.types.StructField("_NUM_DELETED",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("_NUM_ROWS",
                org.apache.spark.sql.types.LongType, nullable = true),
              org.apache.spark.sql.types.StructField("_DEAD_FRACTION",
                org.apache.spark.sql.types.DoubleType, nullable = true))))
        }))
        case "view" if ds.storage.metadata.logicalPlan
            .exists(graft.views.AggPlan.isAggregate) =>
          Some(new GraftMetadataTable(full,
            () => new graft.views.AggregateView(spark, ds).read()))
        case "view" if ds.storage.metadata.logicalPlan
            .exists(graft.views.JoinPlan.isJoin) =>
          Some(new GraftMetadataTable(full,
            () => new graft.views.JoinView(spark, ds).read()))
        case _ => None
      }
    } else None

  override def loadTable(ident: Identifier): Table =
    metadataTable(ident).getOrElse(
      new GraftTable(spark, loadDataset(ident), s"$catalogName.${ident.name}", None))

  /** `VERSION AS OF <snapshot-id | tag | branch>` time travel. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val ds = loadDataset(ident)
    new GraftTable(spark, ds, s"$catalogName.${ident.name}",
      Some(ds.storage.versionToSnapshotId(version)))
  }

  /** `TIMESTAMP AS OF` time travel; Spark hands micros since epoch —
    * resolve to the latest snapshot at or before that instant (the same
    * rule [[graft.core.Storage.snapshotIdAtTimestamp]] gives API reads). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val ds = loadDataset(ident)
    new GraftTable(spark, ds, s"$catalogName.${ident.name}",
      Some(ds.storage.snapshotIdAtTimestamp(Math.floorDiv(timestampMicros, 1000L))))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // standard bucketing syntax (CLUSTERED BY ... INTO N BUCKETS) arrives
    // as a bucket Transform — translate it, since bucketing is exactly
    // what graft tables support; only hive-style PARTITIONED BY is not
    // DDL fidelity: a silently-dropped SORTED BY would promise a sort
    // order graft writes don't produce — reject by name, don't let it
    // fall into the generic not-hive-partitioned error (or worse, be
    // swallowed by the BucketTransform extractor's 3-tuple form)
    require(!partitions.exists(
        _.isInstanceOf[org.apache.spark.sql.connector.expressions.SortedBucketTransform]),
      "SORTED BY is unsupported: graft bucketing hashes rows to buckets " +
        "but does not sort within them; drop the SORTED BY clause")
    val (bucketTs, otherTs) = partitions.partition(
      _.isInstanceOf[org.apache.spark.sql.connector.expressions.BucketTransform])
    require(otherTs.isEmpty,
      "graft tables are not hive-partitioned; file pruning comes from manifest stats")
    require(bucketTs.length <= 1, "at most one CLUSTERED BY clause")
    val props = properties.asScala
    val clusteredBy = bucketTs.headOption
      .map(_.asInstanceOf[org.apache.spark.sql.connector.expressions.BucketTransform])
    require(clusteredBy.isEmpty ||
        (!props.contains("bucket_columns") && !props.contains("num_buckets")),
      "specify bucketing either as CLUSTERED BY or as TBLPROPERTIES, not both")
    val pks = props.getOrElse("primary_keys",
      throw new IllegalArgumentException(
        "CREATE TABLE requires TBLPROPERTIES ('primary_keys'='col1,col2')"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val recordFields = props.get("record_fields")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val statsFields = props.get("stats_fields")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val bloomCols = props.get("bloom_columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val bucketCols = clusteredBy
      .map(_.columns.map(_.fieldNames.mkString(".")).toSeq)
      .orElse(props.get("bucket_columns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      .getOrElse(Nil)
    // `num_buckets` accepts a COMMA LIST for the per-column layout
    // ('4,4' with bucket_columns 'k1,k2' → tuple buckets, the
    // multi-column SPJ shape); a single int keeps the single-hash layout
    val numBucketsSpec: Seq[Int] = clusteredBy
      .map(b => Seq(b.numBuckets.value.asInstanceOf[Number].intValue()))
      .orElse(props.get("num_buckets")
        .map(_.split(",").map(_.trim.toInt).toSeq))
      .getOrElse(Nil)
    val (numBuckets, bucketCounts) = numBucketsSpec match {
      case Nil => (0, Nil)
      case Seq(n) => (n, Nil)
      case counts => (counts.map(_.toLong).product.toInt, counts)
    }
    val writeClusterBy = props.get("write_cluster_by")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val ds = dir.createDataset(tableName(ident), schema, pks, recordFields, statsFields,
      bucketCols, numBuckets, bloomCols, writeClusterBy, bucketCounts)
    new GraftTable(spark, ds, s"$catalogName.${ident.name}", None)
  }

  /** `ALTER TABLE graft.t ADD|RENAME|DROP COLUMN` — all metadata-only
    * schema evolution (see [[graft.core.Storage]]: null-fill adds,
    * column-mapping renames, id-retiring drops). Other alterations are
    * unsupported. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val ds = loadDataset(ident)
    // VALIDATE every change before applying ANY: each application below
    // persists immediately, so a rejected later change must not leave
    // the earlier ones committed (the TableCatalog contract is that a
    // rejected change means none were applied — and a half-applied
    // multi-change ALTER cannot be safely re-run). Column existence and
    // collision are SIMULATED through the change sequence over every
    // logical column path (the empty path is the table itself), so e.g.
    // DROP COLUMNS (a, no_such) rejects before dropping `a`.
    val paths = scala.collection.mutable.Set[Seq[String]](Seq.empty)
    def collect(st: StructType, prefix: Seq[String]): Unit = st.fields.foreach { f =>
      paths += prefix :+ f.name
      f.dataType match {
        case s: StructType => collect(s, prefix :+ f.name)
        case _ =>
      }
    }
    collect(ds.schema, Vector.empty)
    def requireColumn(p: Seq[String]): Unit =
      require(paths.contains(p), s"no such column ${p.mkString(".")}")
    val skip = scala.collection.mutable.Set[Int]() // IF EXISTS no-ops
    changes.zipWithIndex.foreach { case (c, i) => c match {
      case add: TableChange.AddColumn =>
        // DDL fidelity over silent drift: an added column is null-filled
        // for existing rows, so NOT NULL cannot be honored — reject it
        // instead of silently creating a nullable column; likewise a
        // position spec (AFTER/FIRST), which metadata-only evolution
        // appends at the end, must not silently land elsewhere
        val p = add.fieldNames.toSeq
        require(add.isNullable,
          s"ADD COLUMN ${p.mkString(".")} NOT NULL is " +
            "unsupported: existing rows null-fill the new column")
        require(add.position == null,
          s"ADD COLUMN ${p.mkString(".")} with a position " +
            "(FIRST/AFTER) is unsupported: added columns append at the end")
        requireColumn(p.init)
        require(!paths.contains(p), s"column ${p.mkString(".")} already exists")
        paths += p
      case ren: TableChange.RenameColumn =>
        val p = ren.fieldNames.toSeq
        val to = p.init :+ ren.newName
        requireColumn(p)
        require(!paths.contains(to), s"column ${to.mkString(".")} already exists")
        val moved = paths.filter(_.startsWith(p))
        paths --= moved
        paths ++= moved.map(to ++ _.drop(p.length))
      case del: TableChange.DeleteColumn =>
        val p = del.fieldNames.toSeq
        if (paths.contains(p)) {
          paths --= paths.filter(_.startsWith(p))
          // a drop may not empty its parent (Storage.dropColumn)
          require(paths.exists(q => q.length == p.length && q.init == p.init),
            s"cannot drop ${p.mkString(".")}: a drop may not empty its parent")
        }
        else if (del.ifExists) { skip += i; () }
        else throw new IllegalArgumentException(
          s"no such column ${p.mkString(".")} (use IF EXISTS to ignore)")
      case upd: TableChange.UpdateColumnType =>
        requireColumn(upd.fieldNames.toSeq)
      case other =>
        throw new UnsupportedOperationException(s"unsupported ALTER TABLE change: $other")
    }}
    changes.zipWithIndex.withFilter { case (_, i) => !skip.contains(i) }.foreach {
      case (c, _) => c match {
      case add: TableChange.AddColumn =>
        val meta =
          if (add.comment == null) org.apache.spark.sql.types.Metadata.empty
          else new org.apache.spark.sql.types.MetadataBuilder()
            .putString("comment", add.comment).build()
        ds.storage.addColumn(add.fieldNames.init.toSeq, org.apache.spark.sql.types.StructField(
          add.fieldNames.last, add.dataType, nullable = true, meta))
      case ren: TableChange.RenameColumn =>
        ds.storage.renameColumn(ren.fieldNames.toSeq, ren.newName)
      case del: TableChange.DeleteColumn =>
        ds.storage.dropColumn(del.fieldNames.toSeq)
      case upd: TableChange.UpdateColumnType =>
        // metadata-only type widening (int->bigint, int->double,
        // float->double); Storage validates the promotion
        ds.storage.widenColumn(upd.fieldNames.toSeq, upd.newDataType)
      case other =>
        throw new UnsupportedOperationException(s"unsupported ALTER TABLE change: $other")
    }}
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    ident.namespace.isEmpty && dir.exists(ident.name) && {
      dir.deleteDataset(ident.name); true
    }

  /** `ALTER TABLE … RENAME TO …` — a directory rename: every internal
    * file reference is table-root-relative, so snapshots, manifests,
    * time travel, and CDC history all survive under the new name. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (oldIdent.namespace.nonEmpty || !dir.exists(oldIdent.name))
      throw new NoSuchTableException(oldIdent)
    if (newIdent.namespace.nonEmpty)
      throw new NoSuchNamespaceException(newIdent.namespace)
    if (dir.exists(newIdent.name))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(newIdent)
    dir.renameDataset(oldIdent.name, newIdent.name)
  }

  // ------------------------------------------- flat namespace surface

  override def listNamespaces(): Array[Array[String]] = Array(Array.empty[String])

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    Array.empty
  }

  override def namespaceExists(namespace: Array[String]): Boolean = namespace.isEmpty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    Map("location" -> root).asJava
  }

  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("graft catalog has a single flat namespace")

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog has a single flat namespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("graft catalog has a single flat namespace")
}

/** One graft table in the DSv2 API. `pinned` carries a time-travel
  * snapshot id; mutations are rejected on pinned tables.
  *
  * Tables with record fields surface their PHYSICAL schema (address
  * structs) in SQL — payload stitching is the API read path's job
  * ([[SpaceDataset.read]]); SQL writes to such tables are rejected.
  */
/** Read-only metadata table backed by a small introspection DataFrame.
  * Rows materialize driver-side ([[org.apache.spark.sql.connector.read.LocalScan]])
  * — this is the metadata plane, the same O(manifest rows) driver bound
  * the planner itself has; the data plane never flows through here. */
final class GraftMetadataTable(ident: String, frame: () => org.apache.spark.sql.DataFrame)
  extends Table with SupportsRead {

  private lazy val df = frame()

  override def name(): String = ident

  override def schema(): StructType = df.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            df.queryExecution.executedPlan.executeCollect().map(_.copy())
          override def readSchema(): StructType = df.schema
        }
    }
}

final class GraftTable(
    spark: SparkSession,
    ds: SpaceDataset,
    ident: String,
    pinned: Option[Long])
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  private def storage = ds.storage
  private[graftshim] def dataset: SpaceDataset = ds
  private[graftshim] def isPinned: Boolean = pinned.isDefined
  private val snapshotId: Long = pinned.getOrElse(storage.branchHead(ds.getCurrentBranch))
  /** The snapshot this table handle reads — the DV-mask rule rewrites
    * reads of vector-carrying snapshots through the masked V1 plan. */
  private[graftshim] def pinnedSnapshotId: Long = snapshotId
  private val physical: StructType = ReadOp.physicalSchema(storage.schema, storage.recordFields)
  // SQL surface speaks LOGICAL names (renames applied, top-level and
  // struct members); the parquet delegate underneath speaks physical —
  // GraftScanBuilder translates.
  private val logicalOut: StructType = storage.logicalize(physical)

  override def name(): String = ident

  override def schema(): StructType = logicalOut

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  // logical-name translation lives in ONE place (Storage's rename
  // lookups) — record_fields previously leaked raw physical names
  private def logicalNames(cols: Seq[String]): String =
    cols.map(c => storage.logicalLeafOf(Seq(c))).mkString(",")

  override def properties(): util.Map[String, String] = Map(
    "location" -> storage.location,
    "primary_keys" -> ds.primaryKeys.mkString(","),
    "record_fields" -> logicalNames(storage.recordFields),
    "bucket_columns" -> logicalNames(storage.metadata.bucketColumns),
    "bloom_columns" -> logicalNames(storage.metadata.bloomColumns),
    "write_cluster_by" -> logicalNames(storage.metadata.writeClusterBy),
    "num_buckets" -> storage.metadata.numBuckets.toString,
    "bucket_counts" -> storage.metadata.bucketCounts.mkString(","),
    "provider" -> "graft",
    "snapshot_id" -> snapshotId.toString).asJava

  /** Batch reads delegate every pushdown to Spark's ParquetScanBuilder
    * (over the pruning file index); the built Scan additionally answers
    * `toMicroBatchStream`, so `spark.readStream.table("graft.t")` gives
    * an append-only stream of committed snapshots (ADD rowsets in the
    * table schema; deletes fail the stream unless option
    * `ignoreDeletes=true` — stream `format("graft-cdc")` for the full
    * DELETE+ADD feed). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val delegate = ParquetScanBuilder(spark, new GraftFileIndex(spark, storage, snapshotId),
      physical, physical, options)
    new GraftScanBuilder(spark, storage, delegate, options, snapshotId)
  }

  private def requireMutable(op: String): Unit = {
    require(pinned.isEmpty, s"$op: cannot mutate a time-travel (pinned) table")
    require(storage.recordFields.isEmpty,
      s"$op: tables with record fields take writes through the SpaceDataset API " +
        "(SQL would need payload stitching)")
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false

      override def truncate(): WriteBuilder = { replace = true; this }

      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data, _) => {
            requireMutable(if (replace) "INSERT OVERWRITE" else "INSERT")
            if (replace) ds.overwrite(data) else ds.append(data)
          }

        /** `df.writeStream.toTable("cat.t")` — exactly-once per-epoch
          * appends, no foreachBatch needed (see [[GraftStreamingWrite]]). */
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          requireMutable("streaming write")
          require(!replace,
            "streaming writes support append output mode only (no truncate)")
          new GraftStreamingWrite(spark, ds, info.queryId())
        }
      }
    }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireMutable("DELETE")
    val cond = filters.flatMap(GraftTable.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    ds.delete(cond)
  }
}

/** Forwards batch pushdown (column pruning, catalyst filters,
  * aggregate pushdown) to the wrapped ParquetScanBuilder; the built
  * scan keeps the parquet Batch/statistics behavior and adds the
  * streaming entry point. */
final class GraftScanBuilder(
    spark: SparkSession,
    storage: graft.core.Storage,
    delegate: ParquetScanBuilder,
    options: CaseInsensitiveStringMap,
    snapshotId: Long)
  extends ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  /** Catalyst addresses this table by LOGICAL names; the parquet
    * delegate must see PHYSICAL ones (and residual filters must go back
    * logical, bound to the ORIGINAL attribute ids). So rename an
    * expression's attributes logical→physical (`phys=true`) or back,
    * through Storage's rename lookups. Attribute names AND struct dataTypes translate (nested
    * renames live inside the type); transformUp so a GetStructField's
    * name hint can be re-derived from its already-translated child —
    * the parquet pushdown builds dotted V2 references from those. */
  private def renameExpr(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      phys: Boolean): org.apache.spark.sql.catalyst.expressions.Expression =
    if (!storage.hasRenames) e
    else e.transformUp {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        val name =
          if (phys) storage.physicalLeafOf(Nil, a.name) else storage.logicalLeafOf(Seq(a.name))
        val dt =
          if (phys) storage.physicalizeType(a.dataType, Seq(name))
          else storage.logicalizeType(a.dataType, Seq(a.name))
        if (name == a.name && dt == a.dataType) a
        else org.apache.spark.sql.catalyst.expressions.AttributeReference(
          name, dt, a.nullable, a.metadata)(a.exprId, a.qualifier)
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
        g.copy(name = Some(g.childSchema(g.ordinal).name))
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate.pruneColumns(storage.physicalize(requiredSchema))

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    // remember that ANY data filter reached this scan — not just ones
    // translatable to V2 predicates (delegate.pushedFilters): an
    // untranslatable filter still flows to GraftFileIndex.listFiles,
    // where manifest pruning can drop files, so exact-rows statistics
    // would overstate the scan's output
    if (filters.nonEmpty) filtersPushed = true
    delegate.pushFilters(filters.map(renameExpr(_, phys = true)))
      .map(renameExpr(_, phys = false))
  }

  /** The delegate's predicates, in PHYSICAL names (EXPLAIN prints the
    * delegate scan's own description, which speaks them too). */
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters

  private var aggPushed = false
  private var filtersPushed = false

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val pushed = !storage.hasRenames && delegate.pushAggregation(aggregation)
    if (pushed) aggPushed = true
    pushed
  }

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    !storage.hasRenames && delegate.supportCompletePushDown(aggregation)

  override def build(): Scan = new GraftDelegatingScan(
    spark, storage, delegate.build(), options,
    // exact-rows statistics are only safe for an unfiltered, un-
    // aggregated scan: ANY data filter (translatable to V2 or not —
    // untranslatable ones still prune files in GraftFileIndex) makes
    // the post-scan cardinality unknowable here, and a pushed
    // aggregate's output is the (few) aggregated rows, not the table's
    exactRows = if (!filtersPushed && !aggPushed)
      Some(storage.snapshotOrFail(snapshotId).storageStatistics.numRows)
    else None,
    snapshotId = snapshotId)
}

/** The parquet scan plus `toMicroBatchStream`. */
final class GraftDelegatingScan(
    spark: SparkSession,
    storage: graft.core.Storage,
    delegate: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
    options: CaseInsensitiveStringMap,
    exactRows: Option[Long] = None,
    /** The scanned snapshot; Long.MaxValue (callers without time travel)
      * always reads the CURRENT layout. */
    snapshotId: Long = Long.MaxValue)
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** A snapshot outside the current layout EPOCH (rebucket — see
    * [[graft.core.BucketPruning.layoutApplies]]) holds files hashed
    * under a PREVIOUS layout: reporting the current bucket transforms
    * for it would let Catalyst align a join on a partitioning the files
    * don't have — treat such scans as unbucketed (plain parquet batch,
    * UnknownPartitioning). */
  private def layoutApplies: Boolean =
    graft.core.BucketPruning.layoutApplies(storage, snapshotId)

  /** Reported back in LOGICAL names (top-level and struct members):
    * Spark rebuilds the scan relation's output attributes from this
    * schema and resolves the post-scan projection against them BY NAME;
    * the parquet reader keeps its own (physical) readDataSchema, and
    * row binding is positional — renames are in-place, so ordinals
    * never move. */
  override def readSchema(): StructType = storage.logicalize(delegate.readSchema())

  private def numBuckets: Int = storage.metadata.numBuckets
  private def bucketCounts: Seq[Int] = storage.metadata.bucketCounts

  private lazy val bucketedBatch =
    new GraftBucketing.BucketedBatch(delegate, bucketCounts)

  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    if (numBuckets > 0 && layoutApplies) bucketedBatch else delegate.toBatch

  /** Bucketed tables report key-grouped partitioning — with
    * `spark.sql.sources.v2.bucketing.enabled=true`, joins between
    * co-bucketed graft tables on the bucket columns need NO exchange
    * (storage-partitioned join).
    *
    *  - Per-column layout ([[graft.format.StorageMetadata.bucketCounts]]):
    *    one single-leaf `bucket(nᵢ, cᵢ)` transform per column, partition
    *    keys = the id tuples — the shape Spark's SPJ machinery matches
    *    for MULTI-column join keys (its numBuckets folding accepts
    *    single-reference bucket transforms only, V2ExpressionUtils).
    *  - Legacy single-hash layout: one `bucket(n, cols…)` transform —
    *    zero-exchange only when it has exactly one column; multi-column
    *    legacy tables still get correct joins (with exchange) and
    *    fully-pinned bucket pruning. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (numBuckets > 0 && layoutApplies && bucketedBatch.partitions.nonEmpty) {
      val transforms: Array[org.apache.spark.sql.connector.expressions.Expression] =
        if (bucketCounts.nonEmpty)
          storage.metadata.bucketColumns.zip(bucketCounts).map { case (c, n) =>
            org.apache.spark.sql.connector.expressions.Expressions.bucket(
              n, storage.logicalLeafOf(Seq(c)))
          }.toArray
        else
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
            numBuckets,
            storage.metadata.bucketColumns.map(c => storage.logicalLeafOf(Seq(c))): _*))
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        transforms, bucketedBatch.partitions.length)
    } else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  override def description(): String = delegate.description()

  /** Parquet's size estimate, upgraded with the EXACT row count from
    * the scanned snapshot's O(1) storage statistics when no data filter
    * was pushed — Catalyst's cardinality estimates (join-side choice,
    * AQE thresholds) then start from truth instead of a byte-size
    * heuristic. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val del = delegate.estimateStatistics()
    exactRows match {
      case Some(n) =>
        new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong = del.sizeInBytes()
          override def numRows(): java.util.OptionalLong =
            java.util.OptionalLong.of(n)
        }
      case None => del
    }
  }

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftCdcMicroBatchStream(spark, storage, options, appendOnly = true)
}

object GraftTable {

  /** V1 `Filter` → `Column` for the CoW delete path (the inverse of
    * Catalyst's pushdown translation; only translatable filters are
    * accepted by `canDeleteWhere`, so Spark keeps DELETEs it can't
    * express here as analysis errors instead of silent misdeletes). */
  private[graftshim] def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case Not(c) => filterToColumn(c).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}
