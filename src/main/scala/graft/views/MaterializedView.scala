package graft.views

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.format.{Patch, TableType}

/** Materialized view = a graft table + a persisted logical plan +
  * incremental refresh from the source's change feed (reference
  * `MaterializedView` views.py:247-323; refresh loop
  * `/root/reference/python/src/space/ray/runners.py:174-236`). Each
  * CDC window of a refresh (see [[Refreshable.refresh]]) is one MV
  * commit: sweep by the source keys, append the transformed ADD rows.
  *
  * Known caveat carried over from the reference (views.py:166-169): a
  * filter transform is NOT applied to the DELETE stream (PKs only) — a
  * delete of a row the filter would have dropped becomes a no-op delete
  * on the MV, which is correctness-neutral.
  */
final class MaterializedView(val spark: SparkSession, val dataset: SpaceDataset)
    extends Refreshable {

  val plan: ViewPlan = {
    val meta = dataset.storage.metadata
    meta.logicalPlan.map(ViewPlan.fromJson)
      .orElse(meta.logicalPlanSubstrait.map(SubstraitPlans.decodeBase64))
      .getOrElse(throw new IllegalArgumentException(
        s"${dataset.location} is not a materialized view"))
  }

  def view: View = new View(plan)

  /** Source snapshot id the MV is currently refreshed to. */
  def refreshedTo: Option[Long] = dataset.storage.metadata.mvSourceSnapshotId

  /** Incrementally refresh to the source's `targetVersion` (default:
    * current head). Returns the number of MV commits made. */
  protected def refreshInner(targetVersion: Option[String], coalesce: Boolean): Int = {
    val source = SpaceDataset.load(spark, plan.sourceLocation)
    val target = targetVersion.map(source.storage.versionToSnapshotId)
      .getOrElse(source.storage.metadata.currentSnapshotId)
    // expired watermark snapshot: a row-wise view's state is pure
    // transform(live source rows) — rebuild it at the target in one
    // atomic overwrite commit instead of failing until someone drops
    // and recreates the view
    ViewMaintenance.refreshPass(spark, source.storage, target, Seq(ViewMaintenance.StateTable(
        dataset.storage, ViewMaintenance.Watermark.Source, step(source))), coalesce)
      .fold(rebuild(source, target))(_.sum)
  }

  /** One CDC window's data change on the MV. */
  private def step(source: SpaceDataset)(w: ViewMaintenance.Window, pinned: Long): Patch =
    // Branch on the FRESHLY RELOADED watermark: unset means the state
    // is still empty — one transform pass over the source at `to`, no
    // CDC replay. A stale handle or a concurrent first refresh that
    // already built sees it set and applies only the pending part of
    // the window instead of appending transform(source@to) onto built
    // state (ADVICE r14).
    if (refreshedTo.isEmpty)
      RecordIO.writeWithRecords(spark, dataset.storage, plan.processSource(
        spark, source.read(version = Some(w.to.toString))))
    else
      // sweep by the SOURCE-pk columns that survived the transform
      // (they do by contract). For row-wise views these are exactly the
      // MV's own PKs; for EXPAND transforms (one source row → N view
      // rows, e.g. a postings index) the MV PK is a superset and the
      // source key must sweep every derived row.
      ViewMaintenance.applyDelta(spark, dataset.storage, pinned,
        ChangeData.diff(spark, source.storage, w.from, w.to), source.primaryKeys,
        source.storage.primaryKeys.filter(dataset.storage.schema.fieldNames.contains))(
        plan.processSource(spark, _))

  /** Expired-history fallback: one transform pass over the source AT
    * `target`, committed as an atomic whole-state overwrite with the
    * watermark advanced; incremental maintenance resumes from there.
    * Sound because a row-wise/EXPAND view's state is exactly
    * transform(live source rows), independent of arrival order. */
  private def rebuild(source: SpaceDataset, target: Long): Int =
    ViewMaintenance.buildState(spark, dataset.storage,
        Seq(ViewMaintenance.Watermark.Source -> target), overwrite = true)(
      _(plan.processSource(spark, source.read(version = Some(target.toString)))))

  /** CONTINUOUS MV maintenance through Structured Streaming: each
    * micro-batch of the source's CDC stream triggers an incremental
    * [[refresh]] to the source head (see [[ViewMaintenance.refreshOnCdc]]);
    * change rows are applied by `refresh()` itself, one MV commit per
    * window, and exactly-once comes from the MV's own `refreshedTo`
    * watermark. */
  def refreshStream(checkpointLocation: String): org.apache.spark.sql.streaming.StreamingQuery =
    ViewMaintenance.refreshOnCdc(this, plan.sourceLocation, checkpointLocation)
}

object MaterializedView {

  /** Create the MV table (schema inferred from the view's output over the
    * current source — storage.py:149-196 analog). */
  def create(
      spark: SparkSession,
      location: String,
      view: View,
      primaryKeys: Seq[String],
      recordFields: Seq[String] = Nil,
      writeClusterBy: Seq[String] = Nil): MaterializedView = {
    // the reference raises on materializing joins (transform/join.py:128-129)
    require(!view.plan.containsJoin, "materialized view of a join is not supported")
    // chaining onto an OUTER join view's bare state table silently
    // drops its unmatched rows — refuse at create (VERDICT r14 #1)
    ViewMaintenance.requireChainableSource(spark,
      SpaceDataset.load(spark, view.plan.sourceLocation))
    val schema = view.plan.toDF(spark).schema
    val storage = Storage.create(location, schema, primaryKeys, recordFields,
      tableType = TableType.MaterializedView,
      writeClusterBy = writeClusterBy,
      logicalPlan = Some(view.plan.json),
      // interop sidecar: the same plan in the reference's wire format,
      // with each source's field-id-carrying schema as ReadRel.base_schema
      logicalPlanSubstrait = Some(SubstraitPlans.encodeBase64(view.plan,
        loc => scala.util.Try(SpaceDataset.load(spark, loc).storage.schema).toOption)),
      conf = spark.sparkContext.hadoopConfiguration)
    new MaterializedView(spark, new SpaceDataset(spark, storage))
  }

  def load(spark: SparkSession, location: String): MaterializedView =
    new MaterializedView(spark, SpaceDataset.load(spark, location))
}
