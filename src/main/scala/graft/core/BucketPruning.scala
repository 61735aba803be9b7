package graft.core

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, In, InSet, Literal, Murmur3HashFunction, Or}
import org.apache.spark.sql.types.DataType

import graft.format.StoragePaths

/** File pruning from the BUCKET layout alone: a filter that pins EVERY
  * bucket column to literals can only match rows in the buckets those
  * tuples hash to, so every other bucket's files are skipped without
  * any stats — the O(1/numBuckets) point-lookup path of a bucketed
  * table (works even when the table was never clustered, where min/max
  * stats are useless).
  *
  * Conservative by construction: anything that does not reduce to a
  * bounded set of full bucket-column assignments — non-literal
  * comparisons, type-mismatched literals (whose murmur3 differs from the
  * column type's), a disjunct that leaves a bucket column unpinned —
  * keeps ALL buckets. AND merges assignments (conflicting pins make the
  * conjunct unsatisfiable and drop out), OR unions disjuncts. */
object BucketPruning {

  /** Write-side bucket id of a fully-pinned bucket-column tuple:
    * murmur3_32 CHAINED across the columns in spec order from seed 42,
    * then pmod — `HashPartitioning(cols, n)`'s partition id, exactly
    * what AppendOp's `repartition(n, cols…)` and the catalog's `bucket`
    * V2 function compute. Float/double probe values canonicalize
    * -0.0 → +0.0 first: Spark's NormalizeFloatingNumbers normalizes
    * repartition keys at WRITE time (verified: ±0.0 rows land in one
    * partition), so a raw -0.0 probe would hash to a bucket no zero
    * row was ever written to and wrongly prune every match. */
  def bucketId(values: Seq[(Any, DataType)], numBuckets: Int): Int = {
    val h = values.foldLeft(42L) { case (seed, (v0, dt)) =>
      val v = v0 match {
        case f: java.lang.Float if f.floatValue() == 0.0f => java.lang.Float.valueOf(0.0f)
        case d: java.lang.Double if d.doubleValue() == 0.0d => java.lang.Double.valueOf(0.0d)
        case other => other
      }
      Murmur3HashFunction.hash(v, dt, seed)
    }.toInt
    ((h % numBuckets) + numBuckets) % numBuckets
  }

  def bucketId(value: Any, dt: DataType, numBuckets: Int): Int =
    bucketId(Seq(value -> dt), numBuckets)

  /** IN-lists cross-multiply under AND; beyond this many candidate
    * assignments give up (keep all buckets) rather than enumerate. */
  private val MaxAssignments = 256

  /** Buckets resolved `filters` (implicitly ANDed) can reach under the
    * SINGLE-HASH layout; None = all. `colTypes` must cover every bucket
    * column. */
  def reachableBuckets(
      bucketCols: Seq[String],
      colTypes: Map[String, DataType],
      numBuckets: Int,
      filters: Seq[Expression]): Option[Set[Int]] =
    pinnedAssignments(bucketCols, colTypes, filters).flatMap { assignments =>
      // every disjunct must pin EVERY bucket column; one partial
      // disjunct can reach any bucket. An empty disjunct set means the
      // filter is unsatisfiable -- zero buckets reachable is sound.
      if (assignments.forall(_.keySet == bucketCols.toSet))
        Some(assignments.map(m =>
          bucketId(bucketCols.map(c => m(c) -> colTypes(c)), numBuckets)))
      else None
    }

  /** Cap on enumerated flat ids in the per-column layout. */
  private val MaxEnumeratedFlats = 4096

  /** Flat ids `filters` can reach under the PER-COLUMN layout
    * ([[graft.format.StorageMetadata.bucketCounts]]). Stronger than the
    * single-hash rule: a disjunct pinning ANY SUBSET of the bucket
    * columns prunes its dimensions (unpinned dimensions range over all
    * their sub-buckets). */
  def reachableFlatsPerColumn(
      bucketCols: Seq[String],
      colTypes: Map[String, DataType],
      counts: Seq[Int],
      filters: Seq[Expression]): Option[Set[Int]] =
    pinnedAssignments(bucketCols, colTypes, filters).flatMap { assignments =>
      val flats = scala.collection.mutable.Set[Int]()
      for (m <- assignments) {
        val dimSets: Seq[Seq[Int]] = bucketCols.zip(counts).map { case (c, n) =>
          m.get(c) match {
            case Some(v) => Seq(bucketId(v, colTypes(c), n))
            case None => 0 until n
          }
        }
        if (dimSets.map(_.size.toLong).product > MaxEnumeratedFlats) return None
        val combo = dimSets.zip(counts).foldLeft(Seq(0)) { case (acc, (s, n)) =>
          acc.flatMap(a => s.map(b => a * n + b))
        }
        flats ++= combo
      }
      Some(flats.toSet)
    }

  /** `filters`' disjuncts as partial bucket-column assignments (see
    * `walk` below); None = no information. */
  private def pinnedAssignments(
      bucketCols: Seq[String],
      colTypes: Map[String, DataType],
      filters: Seq[Expression]): Option[Set[Map[String, Any]]] = {
    if (bucketCols.isEmpty || filters.isEmpty) return None
    val bucketSet = bucketCols.toSet

    def bucketAttr(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name).filter(bucketSet.contains)
      case _ => None
    }
    def litOf(e: Expression, col: String): Option[Any] = e match {
      // a literal of a DIFFERENT type than the column hashes differently
      // than the write path did — never prune on it
      case Literal(v, dt) if v != null && dt == colTypes(col) => Some(v)
      case _ => None
    }

    // walk returns e's DISJUNCTS as partial bucket-column assignments:
    // Some(set) = "e can only hold under one of these assignments" (each
    // pinning a subset of the bucket columns); None = no information.
    // An empty set means e is unsatisfiable over the bucket columns.
    type Assign = Map[String, Any]
    def pin(col: String, v: Any): Option[Set[Assign]] = Some(Set(Map(col -> v)))
    def capped(s: Set[Assign]): Option[Set[Assign]] =
      if (s.size > MaxAssignments) None else Some(s)

    def walk(e: Expression): Option[Set[Assign]] = e match {
      case And(l, r) =>
        (walk(l), walk(r)) match {
          case (Some(a), Some(b)) =>
            // cross-merge; combos pinning the same column to different
            // values are unsatisfiable and drop out
            capped(for {
              ma <- a; mb <- b
              if ma.keySet.intersect(mb.keySet).forall(k => ma(k) == mb(k))
            } yield ma ++ mb)
          case (a, b) => a.orElse(b) // AND with an unknown side only narrows
        }
      case Or(l, r) =>
        for (a <- walk(l); b <- walk(r); s <- capped(a union b)) yield s
      case EqualTo(a, v) if bucketAttr(a).isDefined =>
        val c = bucketAttr(a).get
        litOf(v, c).flatMap(pin(c, _))
      case EqualTo(v, a) if bucketAttr(a).isDefined =>
        val c = bucketAttr(a).get
        litOf(v, c).flatMap(pin(c, _))
      case In(a, vs) if bucketAttr(a).isDefined =>
        val c = bucketAttr(a).get
        val lits = vs.map(litOf(_, c))
        if (lits.forall(_.isDefined)) capped(lits.flatten.map(v => Map(c -> v): Assign).toSet)
        else None
      case InSet(a, vs) if bucketAttr(a).isDefined =>
        val c = bucketAttr(a).get
        capped(vs.filter(_ != null).map(v => Map(c -> v): Assign).toSet)
      case _ => None
    }

    walk(filters.reduce(And))
  }

  /** The bucket layout that soundly describes the files of one
    * snapshot (columns, per-column counts — empty = single hash —
    * and flat count). */
  final case class EffectiveLayout(
      columns: Seq[String], counts: Seq[Int], numBuckets: Int)

  /** Resolve the layout whose claims are SOUND for `snapshotId`, or
    * None (no claims — stats/bloom pruning still apply):
    *
    *  - epoch == current ([[graft.format.Snapshot.bucketLayoutId]] vs
    *    [[graft.format.StorageMetadata.currentBucketLayoutId]]) AND the
    *    legacy `bucketLayoutSince` watermark → the CURRENT layout. The
    *    epoch check is lineage-safe: only descendants of the rebucket
    *    commit inherit its epoch, so a side branch forked before it
    *    (whose later commits get ids above the watermark while still
    *    carrying old-layout files) correctly disengages.
    *  - a RETIRED epoch with a [[graft.format.BucketLayoutSpec]] in
    *    history → that layout, iff the snapshot is PURE (its id is
    *    below the NEXT epoch's id — a snapshot committed while the
    *    layout was current holds only files written under it; a
    *    post-rebucket side-branch commit mixes layouts and fails this)
    *    and the layout columns' current types still match the recorded
    *    ones (a re-keyed-away column may have widened since).
    *
    * `Long.MaxValue` is the read-current-head sentinel; an expired
    * (missing) snapshot keeps only the legacy watermark claim on the
    * current layout. */
  def layoutFor(storage: Storage, snapshotId: Long): Option[EffectiveLayout] = {
    val meta = storage.metadata
    val sid = if (snapshotId == Long.MaxValue) meta.currentSnapshotId else snapshotId
    val current =
      if (meta.numBuckets > 0)
        Some(EffectiveLayout(meta.bucketColumns, meta.bucketCounts, meta.numBuckets))
      else None
    meta.snapshot(sid) match {
      case None => // expired snapshot: epoch unknowable — watermark only
        if (sid >= meta.bucketLayoutSince) current else None
      case Some(snap) if snap.bucketLayoutId == meta.currentBucketLayoutId =>
        if (sid >= meta.bucketLayoutSince) current else None
      case Some(snap) =>
        meta.bucketLayoutHistory.get(snap.bucketLayoutId.toString) match {
          case Some(spec) if spec.numBuckets > 0 => {
            // purity: committed before the NEXT epoch existed
            val epochs = meta.bucketLayoutHistory.keysIterator.map(_.toLong) ++
              Iterator.single(meta.currentBucketLayoutId)
            val next = epochs.filter(_ > snap.bucketLayoutId)
              .foldLeft(Long.MaxValue)(math.min)
            val pure = next != Long.MaxValue && sid < next
            val typesHold = spec.columns.zip(spec.columnTypes).forall {
              case (c, t) => storage.schema.fields.exists(f =>
                f.name == c && f.dataType.catalogString == t)
            }
            if (pure && typesHold)
              Some(EffectiveLayout(spec.columns, spec.counts, spec.numBuckets))
            else None
          }
          case _ => None
        }
    }
  }

  /** Does the CURRENT layout describe `snapshotId`'s files? (Scan-side
    * callers that can only serve the current layout's bucket function
    * use this; [[layoutFor]] is the full per-epoch resolution.) */
  def layoutApplies(storage: Storage, snapshotId: Long): Boolean = {
    val meta = storage.metadata
    val sid = if (snapshotId == Long.MaxValue) meta.currentSnapshotId else snapshotId
    sid >= meta.bucketLayoutSince &&
      meta.snapshot(sid).forall(_.bucketLayoutId == meta.currentBucketLayoutId)
  }

  /** Drop files of unreachable buckets (files without a bucket id in
    * their name are conservatively kept). `snapshotId` selects the
    * layout via [[layoutFor]]: current-epoch snapshots prune under the
    * current layout, PURE retired-epoch snapshots under their own
    * recorded layout, anything else keeps everything. */
  def pruneFiles(
      storage: Storage,
      snapshotId: Long,
      filters: Seq[Expression],
      files: Seq[String]): Seq[String] = {
    val layout = layoutFor(storage, snapshotId) match {
      case Some(l) => l
      case None => return files
    }
    val colTypes = layout.columns.map(c => c -> storage.schema(c).dataType).toMap
    val reach =
      if (layout.counts.nonEmpty)
        reachableFlatsPerColumn(layout.columns, colTypes, layout.counts, filters)
      else reachableBuckets(layout.columns, colTypes, layout.numBuckets, filters)
    reach match {
      case None => files
      case Some(r) =>
        files.filter(f => StoragePaths.bucketOf(f).forall(r.contains))
    }
  }
}
