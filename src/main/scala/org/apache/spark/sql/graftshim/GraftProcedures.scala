package org.apache.spark.sql.graftshim

import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.SpaceDataset

/** SQL surface for table MAINTENANCE — Spark 4's DSv2 procedure API
  * (`ProcedureCatalog` + `CALL`, SPARK-44167), so every maintenance op
  * a Scala caller has is reachable from pure SQL, the same parity bar
  * as DML (the reference has no SQL surface at all; this mirrors the
  * `CALL catalog.system.proc(...)` UX lakehouse users know):
  *
  * {{{
  * CALL cat.system.compact(table => 't', target_file_rows => 100000)
  * CALL cat.system.cluster_by(table => 't', columns => 'a,b', target_file_rows => 100000)
  * CALL cat.system.zorder(table => 't', columns => 'a,b', target_file_rows => 100000)
  * CALL cat.system.expire_snapshots(table => 't', older_than_ms => 0, keep_last => 1)
  * CALL cat.system.gc(table => 't', min_age_ms => 0)
  * CALL cat.system.rollback(table => 't', version => 'v1')
  * CALL cat.system.create_tag(table => 't', name => 'v1')
  * CALL cat.system.create_branch(table => 't', name => 'dev', version => '3')
  * CALL cat.system.drop_ref(table => 't', name => 'dev')
  * }}}
  *
  * Each procedure returns a small summary relation (a [[LocalScan]] —
  * driver-materialized rows, which is the right plane: these are
  * metadata results; the heavy work inside compact/cluster/GC runs as
  * distributed jobs through the same ops the Scala API uses).
  */
object GraftProcedures {

  val Namespace: Array[String] = Array("system")

  private final class RowsScan(schema: StructType, rs: Array[InternalRow])
    extends LocalScan {
    override def rows(): Array[InternalRow] = rs
    override def readSchema(): StructType = schema
  }

  /** Self-binding procedure: fixed parameters, fixed output schema.
    * Spark's analyzer normalizes named/positional args and fills
    * declared defaults before `call`, so `run` reads positionally. */
  private abstract class Proc(
      procName: String,
      procDescription: String,
      params: => Array[ProcedureParameter],
      outSchema: StructType) extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    protected def run(input: InternalRow): Seq[InternalRow]
    override def call(input: InternalRow): JIterator[Scan] =
      Collections.singletonList[Scan](
        new RowsScan(outSchema, run(input).toArray)).iterator()
  }

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private def rewriteSchema = StructType(Seq(
    StructField("rewritten_files", IntegerType, nullable = false),
    StructField("output_files", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = false)))

  private[graftshim] def procs(cat: GraftCatalog): Map[String, UnboundProcedure] = {
    def ds(input: InternalRow): SpaceDataset =
      cat.datasetByName(input.getUTF8String(0).toString)
    def cols(input: InternalRow, i: Int): Seq[String] =
      input.getUTF8String(i).toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq

    val all = Seq[UnboundProcedure](
      new Proc("compact",
        "Bin-pack small index files into ~target_file_rows-row files",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_file_rows", LongType).build(),
          ProcedureParameter.in("small_fraction", DoubleType)
            .defaultValue("0.5").build()),
        rewriteSchema) {
        override def run(input: InternalRow): Seq[InternalRow] =
          ds(input).compact(input.getLong(1), input.getDouble(2)).toSeq
            .map(r => InternalRow(r.rewrittenFiles, r.outputFiles, r.rows))
      },

      new Proc("cluster_by",
        "Rewrite index files range-sorted by `columns` so stats-based pruning bites; " +
          "incremental => true rewrites only the unclustered delta tier",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("columns", StringType)
            .comment("comma-separated column names").build(),
          ProcedureParameter.in("target_file_rows", LongType).build(),
          ProcedureParameter.in("incremental", BooleanType)
            .defaultValue("false").build()),
        rewriteSchema) {
        override def run(input: InternalRow): Seq[InternalRow] =
          ds(input).clusterBy(cols(input, 1), input.getLong(2),
            incremental = input.getBoolean(3)).toSeq
            .map(r => InternalRow(r.rewrittenFiles, r.outputFiles, r.rows))
      },

      new Proc("zorder",
        "Rewrite index files Morton-tiled over `columns` so every listed column prunes",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("columns", StringType)
            .comment("comma-separated column names").build(),
          ProcedureParameter.in("target_file_rows", LongType).build()),
        rewriteSchema) {
        override def run(input: InternalRow): Seq[InternalRow] =
          ds(input).zorderBy(cols(input, 1), input.getLong(2)).toSeq
            .map(r => InternalRow(r.rewrittenFiles, r.outputFiles, r.rows))
      },

      new Proc("expire_snapshots",
        "Drop unreferenced snapshots older than `older_than_ms`, keeping `keep_last` most recent",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("older_than_ms", LongType).build(),
          ProcedureParameter.in("keep_last", IntegerType)
            .defaultValue("1").build()),
        StructType(Seq(StructField("expired_snapshot_id", LongType, nullable = false)))) {
        override def run(input: InternalRow): Seq[InternalRow] =
          ds(input).expireSnapshots(input.getLong(1), input.getInt(2))
            .map(id => InternalRow(id))
      },

      new Proc("gc",
        "Delete files no live snapshot reaches; `min_age_ms` protects in-flight writers",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("min_age_ms", LongType)
            .defaultValue("3600000").build()),
        StructType(Seq(
          StructField("deleted_file", StringType, nullable = false)))) {
        override def run(input: InternalRow): Seq[InternalRow] =
          ds(input).garbageCollect(input.getLong(1)).deleted
            .map(f => InternalRow(utf8(f)))
      },

      new Proc("rewrite_manifests",
        "Bin-pack the snapshot's index manifests into ~target_files_per_manifest-row " +
          "manifests, range-sorted so manifest-list pruning regains power (CDC-silent)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_files_per_manifest", LongType)
            .defaultValue("100000").build()),
        StructType(Seq(
          StructField("rewritten_manifests", IntegerType, nullable = false),
          StructField("output_manifests", IntegerType, nullable = false),
          StructField("files", LongType, nullable = false)))) {
        override def run(input: InternalRow): Seq[InternalRow] =
          ds(input).rewriteManifests(input.getLong(1)).toSeq
            .map(r => InternalRow(r.rewrittenManifests, r.outputManifests, r.files))
      },

      new Proc("rebucket",
        "Rewrite the whole table under a new per-column bucket layout and switch " +
          "it in one CDC-silent commit (storage-partitioned joins and bucket " +
          "pruning follow the new layout; time travel below it is guarded); " +
          "`columns` re-keys or ADOPTS bucketing on an unbucketed table",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("counts", StringType)
            .comment("comma-separated per-bucket-column counts, e.g. '8,8'").build(),
          ProcedureParameter.in("columns", StringType)
            .defaultValue("NULL")
            .comment("comma-separated bucket columns; default keeps the current ones")
            .build()),
        StructType(Seq(
          StructField("rewritten_files", IntegerType, nullable = false),
          StructField("output_files", IntegerType, nullable = false),
          StructField("rows", LongType, nullable = false),
          StructField("num_buckets", IntegerType, nullable = false)))) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val counts = cols(input, 1).map(_.toInt)
          val columns = if (input.isNullAt(2)) None else Some(cols(input, 2))
          val r = ds(input).rebucket(counts, columns = columns)
          Seq(InternalRow(r.rewrittenFiles, r.outputFiles, r.rows,
            r.newCounts.map(_.toLong).product.toInt))
        }
      },

      new Proc("rewrite_records",
        "Reclaim record-payload space: rewrite index files referencing mostly-dead record files",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("max_live_fraction", DoubleType)
            .defaultValue("0.5").build()),
        StructType(Seq(
          StructField("picked_record_files", IntegerType, nullable = false),
          StructField("rewritten_index_files", IntegerType, nullable = false),
          StructField("rows", LongType, nullable = false)))) {
        override def run(input: InternalRow): Seq[InternalRow] =
          ds(input).rewriteRecords(input.getDouble(1)).toSeq
            .map(r => InternalRow(r.pickedRecordFiles, r.rewrittenIndexFiles, r.rewrittenRows))
      },

      new Proc("refresh_mv",
        "Incrementally refresh a materialized view from its source's CDC " +
          "feed; coalesce => fold the whole backlog into one state commit " +
          "(per side for a join view) instead of one per source snapshot",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("coalesce", BooleanType)
            .defaultValue("false").build()),
        StructType(Seq(
          StructField("commits", IntegerType, nullable = false),
          StructField("source_snapshot_id", LongType)))) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val mv = cat.mvByName(input.getUTF8String(0).toString)
          val commits = mv.refresh(None, coalesce = input.getBoolean(1))
          Seq(InternalRow(commits,
            mv.refreshedTo.map(Long.box).getOrElse(null)))
        }
      },

      new Proc("create_agg_view",
        "Create an incrementally-maintained GROUP BY view over `table` " +
          "(state refreshes from the source's CDC feed via refresh_mv); " +
          "aggs are comma-separated kind:input:as entries — kinds " +
          "count_all (empty input), count, sum, avg, min, max",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("view", StringType).build(),
          ProcedureParameter.in("group_by", StringType)
            .comment("comma-separated group-by column names").build(),
          ProcedureParameter.in("aggs", StringType)
            .comment("comma-separated kind:input:as (count_all::n for no input)").build(),
          ProcedureParameter.in("where", StringType)
            .defaultValue("NULL")
            .comment("optional deterministic pre-aggregation SQL predicate " +
              "over source columns (the WHERE of the materialized GROUP BY)")
            .build()),
        StructType(Seq(
          StructField("view_location", StringType, nullable = false),
          StructField("reservoir_k", IntegerType, nullable = false)))) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val source = ds(input)
          val viewName = input.getUTF8String(1).toString
          val aggSpecs = input.getUTF8String(3).toString.split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq.map { s =>
              s.split(":", -1) match {
                case Array(kind, in, as) =>
                  graft.views.AggSpec(kind, if (in.isEmpty) None else Some(in), as)
                case _ => throw new IllegalArgumentException(
                  s"bad agg spec '$s' (want kind:input:as)")
              }
            }
          val filt =
            if (input.isNullAt(4)) None else Some(input.getUTF8String(4).toString)
          val av = cat.dirCatalog.createAggregateView(
            viewName, source, cols(input, 2), aggSpecs, filt)
          Seq(InternalRow(utf8(av.dataset.location), av.plan.reservoirK))
        }
      },

      new Proc("create_join_view",
        "Create an incrementally-maintained JOIN view over two tables " +
          "(bi-delta maintenance from both sources' CDC feeds via " +
          "refresh_mv); keys are shared-name equi-join columns; each " +
          "side's primary key must be covered by keys + its fields",
        Array(
          ProcedureParameter.in("left", StringType).build(),
          ProcedureParameter.in("right", StringType).build(),
          ProcedureParameter.in("view", StringType).build(),
          ProcedureParameter.in("keys", StringType)
            .comment("comma-separated shared join column names").build(),
          ProcedureParameter.in("left_fields", StringType)
            .comment("comma-separated left output columns (non-key)").build(),
          ProcedureParameter.in("right_fields", StringType)
            .comment("comma-separated right output columns (non-key)").build(),
          ProcedureParameter.in("join_type", StringType)
            .defaultValue("'inner'")
            .comment("'inner', 'left_outer', 'right_outer' or 'full_outer' " +
              "(outer maintains unmatched-side table(s); reads null-extend)").build()),
        StructType(Seq(
          StructField("view_location", StringType, nullable = false)))) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val left = cat.dirCatalog.dataset(input.getUTF8String(0).toString)
          val right = cat.dirCatalog.dataset(input.getUTF8String(1).toString)
          val viewName = input.getUTF8String(2).toString
          val jv = cat.dirCatalog.createJoinView(viewName, left, right,
            cols(input, 3), cols(input, 4), cols(input, 5),
            input.getUTF8String(6).toString)
          Seq(InternalRow(utf8(jv.dataset.location)))
        }
      },

      new Proc("create_tag",
        "Tag a snapshot (default: current head) for SQL time travel via VERSION AS OF",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", StringType)
            .defaultValue("NULL")
            .comment("snapshot id, tag, or branch; default current head").build()),
        StructType(Seq(StructField("snapshot_id", LongType, nullable = false)))) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val d = ds(input)
          val name = input.getUTF8String(1).toString
          val version =
            if (input.isNullAt(2)) None else Some(input.getUTF8String(2).toString)
          d.addTag(name, version)
          Seq(InternalRow(d.storage.versionToSnapshotId(name)))
        }
      },

      new Proc("create_branch",
        "Create a branch (default: at current head); commits to it move only that head",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", StringType)
            .defaultValue("NULL")
            .comment("snapshot id, tag, or branch; default current head").build()),
        StructType(Seq(StructField("snapshot_id", LongType, nullable = false)))) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val d = ds(input)
          val name = input.getUTF8String(1).toString
          val version =
            if (input.isNullAt(2)) None else Some(input.getUTF8String(2).toString)
          d.addBranch(name, version)
          Seq(InternalRow(d.storage.branchHead(name)))
        }
      },

      new Proc("drop_ref",
        "Remove a tag or branch (the main branch and a dataset's current branch are protected)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(StructField("dropped", StringType, nullable = false)))) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val d = ds(input)
          val name = input.getUTF8String(1).toString
          // dispatch on the ref's actual type so the branch protections
          // (main / current branch) apply
          val ref = d.storage.metadata.refs.getOrElse(name,
            throw new IllegalArgumentException(s"ref $name not found"))
          if (ref.refType == graft.format.SnapshotRef.Tag) d.removeTag(name)
          else d.removeBranch(name)
          Seq(InternalRow(utf8(name)))
        }
      },

      new Proc("rollback",
        "Reset a branch head to an ancestor snapshot (id, tag, or branch name)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", StringType).build(),
          ProcedureParameter.in("branch", StringType)
            .defaultValue("'main'").build()),
        StructType(Seq(StructField("current_snapshot_id", LongType, nullable = false)))) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val d = ds(input)
          val branch = input.getUTF8String(2).toString
          d.storage.rollback(
            d.storage.versionToSnapshotId(input.getUTF8String(1).toString), branch)
          Seq(InternalRow(d.storage.branchHead(branch)))
        }
      },

      new Proc("fast_forward",
        "Fast-forward a branch to a descendant branch's head (the " +
          "write-audit-publish publish step; metadata-only)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("to_branch", StringType).build(),
          ProcedureParameter.in("branch", StringType)
            .defaultValue("'main'").build()),
        StructType(Seq(StructField("current_snapshot_id", LongType, nullable = false)))) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val d = ds(input)
          val branch = input.getUTF8String(2).toString
          d.storage.fastForward(branch, input.getUTF8String(1).toString)
          Seq(InternalRow(d.storage.branchHead(branch)))
        }
      })
    all.map(p => p.name() -> p).toMap
  }

  // a missing procedure is an ANALYSIS error (CALL resolves during
  // analysis) — classify it as such instead of a raw runtime
  // IllegalArgumentException (Spark 4.1 ships no NoSuchProcedureException
  // class to throw)
  private def notFound(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3100", messageParameters = Map("message" -> msg))

  def load(cat: GraftCatalog, ident: Identifier): UnboundProcedure = {
    if (!(ident.namespace.isEmpty || ident.namespace.sameElements(Namespace)))
      notFound(s"unknown procedure namespace ${ident.namespace.mkString(".")}")
    val all = cat.procedures
    all.getOrElse(ident.name,
      notFound(s"unknown procedure ${ident.name}; " +
        s"available: ${all.keys.toSeq.sorted.mkString(", ")}"))
  }

  def list(cat: GraftCatalog, namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Namespace))
      cat.procedures.keys.toSeq.sorted.map(Identifier.of(Namespace, _)).toArray
    else Array.empty
}
