package graft.core

import java.util.Base64

import org.apache.hadoop.fs.Path
import org.roaringbitmap.RoaringBitmap
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.format._

/** Copy-on-write mutations (reference
  * `/root/reference/python/src/space/core/ops/delete.py:56-228`,
  * `insert.py:60-104`).
  *
  * Delete: prune to candidate files, locate matching rows WITH their
  * per-file row positions (`_metadata.row_index` — no full-file
  * materialization), rewrite only affected files keeping the surviving
  * rows, carry over untouched manifest rows, and record the deleted row
  * positions as RoaringBitmaps in the change log.
  *
  * The deletion bitmaps are built IN THE EXECUTORS by a typed
  * [[Aggregator]] (the reference builds per-file bitmaps inside each
  * remote `FileSetDeleteOp`, ray/ops/delete.py:32-70, bitmap at
  * core/ops/delete.py:215-228): the shuffle carries only `(file, row)`
  * pairs and the driver receives one `(file, serializedBitmap)` row per
  * affected FILE — O(files), never O(deleted rows).
  *
  * Insert/upsert replace the reference's OR-of-ANDs `primary_key_filter`
  * (flagged inefficient at ops/utils.py:77-78) with left-semi / left-anti
  * joins — the distributed-native formulation.
  */
object DmlOps {

  private[graft] val FileCol = "__graft_file"
  private[graft] val RowCol = "__graft_row"

  /** CoW delete of rows matching `cond`. None = no-op (nothing matched).
    * `dvMaxFraction` overrides the session's merge-on-read threshold for
    * THIS operation only (the safe alternative to set/unset on the
    * shared session conf — a concurrent job planning in the same
    * session never observes it). */
  def delete(spark: SparkSession, storage: Storage, snapshotId: Long, cond: Column,
      dvMaxFraction: Option[Double] = None,
      /** Rows appended inside the delete's write pass, in files of
        * their own (UPDATE's rewritten rows, overwriteWhere's
        * replacement; see [[deleteByKeysOn]]'s same param). Not written
        * when nothing matched: the caller appends them itself if it
        * needs to (an UPDATE matching zero rows has none). */
      extraAdds: Option[DataFrame] = None): Option[Patch] =
    deleteCore(spark, storage, snapshotId,
      candidates = ReadOp.plan(spark, storage, snapshotId, Some(cond)).files,
      markMatched = df => df.filter(cond),
      dvFracOverride = dvMaxFraction,
      extraAdds = extraAdds)

  /** CoW delete of rows whose primary key appears in `keys`. */
  def deleteByKeys(spark: SparkSession, storage: Storage, snapshotId: Long, keys: DataFrame): Option[Patch] =
    deleteByKeysOn(spark, storage, snapshotId, keys, storage.primaryKeys)

  /** CoW delete of rows matching `keys` on `keyCols` (top-level physical
    * columns, not necessarily this table's PK). This is the MV-refresh
    * generalization: an EXPAND transform (one source row → N view rows,
    * e.g. an inverted-index postings view) makes the view's PK a strict
    * superset of the source's, and a source-row delete must sweep EVERY
    * derived row — so the match runs on the source-PK columns that
    * survived the transform. With `keyCols == primaryKeys` this is
    * exactly [[deleteByKeys]]. */
  def deleteByKeysOn(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      keys: DataFrame,
      keyCols: Seq[String],
      /** [[deleteByKeysAndAppend]]'s fusion hook: rows appended INSIDE
        * the delete's write pass (None = delete only). When the sweep
        * short-circuits (empty table / zero matches) the adds are NOT
        * written and the caller appends them itself. */
      extraAdds: Option[DataFrame] = None,
      /** Per-call merge-on-read threshold (see [[delete]]'s same
        * param) — view maintenance passes its state-sweep fraction so
        * refresh sweeps take vectors instead of CoW rewrites. */
      dvFracOverride: Option[Double] = None): Option[Patch] = {
    // an empty table can't match any key: skip the key-range job entirely
    // (first upsert into a fresh table — e.g. a streaming sink's batch 0)
    val manifests = storage.snapshotOrFail(snapshotId).manifestFiles.indexManifestFiles
    if (manifests.isEmpty) return None
    require(keyCols.nonEmpty, "deleteByKeysOn: empty key column list")
    keyCols.foreach(c => require(storage.schema.fieldNames.contains(c),
      s"deleteByKeysOn: key column $c is not in the table schema " +
        s"(${storage.schema.fieldNames.mkString(", ")})"))
    val k = keys.select(keyCols.map(col): _*).distinct()
    // SMALL-TABLE fast path (O(1) gate from the manifest-list
    // summaries): with only a handful of files there is nothing worth
    // pruning — the stats-prefilter construction (persist + probe
    // collect) costs MORE than scanning every file. Candidates are
    // every file of the manifests; everything downstream (exact
    // semi/anti joins, bitmaps, CDC) is identical. MV state sweeps hit
    // this on every refresh commit.
    val candidates = ManifestIO.summarizedFileCount(storage, manifests) match {
      case Some(n) if n <= DriverScanMaxFiles =>
        ManifestIO.liveFileRowCounts(spark, storage, manifests).map(_._1)
      case _ =>
        ReadOp.plan(spark, storage, snapshotId,
          keyLookupPredicate(spark, k, storage, keyCols)).files
    }
    deleteCore(spark, storage, snapshotId,
      candidates = candidates,
      markMatched = df => df.join(k, keyCols, "left_semi"),
      dvFracOverride = dvFracOverride,
      extraAdds = extraAdds)
  }

  /** The one sweep-and-append entry point: a key sweep (`keys` on
    * `keyCols`) and an append (`adds`) as ONE patch, already merged —
    * what every view state commit, upsert and merge goes through. With
    * both present, the sweep's CoW survivor rewrite and the replacement
    * rows land in a single write job on every table layout (the
    * carryover of [[AppendOp.writeFilesWithMeta]]: separate files, so
    * the changelog still tells carryover from ADDs). When the sweep
    * matches nothing the adds are appended alone. One side alone is a
    * plain [[deleteByKeysOn]] or [[RecordIO.writeWithRecords]]; with
    * neither side the result is None. */
  def deleteByKeysAndAppend(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      keys: Option[DataFrame],
      keyCols: Seq[String],
      adds: Option[DataFrame],
      /** Per-call merge-on-read threshold for the sweep leg (see
        * [[delete]]): a view refresh passes its state-sweep fraction,
        * so steady-state maintenance soft-deletes instead of CoW-
        * rewriting every touched state file. */
      dvFracOverride: Option[Double] = None): Option[Patch] = {
    val swept = keys.flatMap(k =>
      deleteByKeysOn(spark, storage, snapshotId, k, keyCols, adds, dvFracOverride))
    // the fused pass wrote the adds only when its sweep matched something
    val appended = adds.filter(_ => swept.isEmpty).map(RecordIO.writeWithRecords(spark, storage, _))
    Patch.merge(swept.toSeq ++ appended)
  }

  /** Up to this many FILES in a snapshot, a key delete skips stats
    * pruning (every file is a candidate) and its bitmap query runs with
    * AQE off — at this size job scheduling dominates. */
  private[core] val DriverScanMaxFiles = 256L

  /** A point-shaped key lookup is one the planner can prune EXACTLY:
    * below this many key rows the prefilter is a per-column IN list
    * (falsifiable-IN manifest pruning + file-level parquet blooms both
    * engage) instead of a min/max box. The bound keeps driver-side
    * literals and bloom probes small; larger batches fall back to the
    * range box, which costs one aggregate regardless of size. */
  private[graft] val MaxPointLookupKeys = 1024

  /** Stats-driven pre-filter for key lookups over `cols` (default: the
    * primary keys — insert/upsert/merge all route here).
    *
    * Point form: when the lookup carries at most [[MaxPointLookupKeys]]
    * rows (a CDC delete batch, an upsert of a few keys, an MV sweep),
    * the predicate is the exact per-column IN list — on a clustered
    * layout the falsifiable-IN manifest form prunes to the touched
    * files, and on a layout DECORRELATED from the key the embedded
    * parquet blooms ([[BloomPruning]]) still drop every file that
    * cannot hold any key. The `limit(n+1)` probe short-circuits, so
    * large batches pay one cheap partial scan, never a shuffle.
    *
    * Range form (large batches): `pk BETWEEN min AND max` of the
    * incoming keys, per column, ANDed (the useful half of the
    * reference's range partitioning, ray/ops/join.py:148-176). With a
    * composite PK each column contributes its own range, so an upsert
    * keyed on (l_orderkey, l_linenumber) still prunes on BOTH; one tiny
    * agg job computes every min/max at once. */
  private[graft] def keyLookupPredicate(
      spark: SparkSession,
      keys: DataFrame,
      storage: Storage,
      cols: Seq[String]): Option[Column] = {
    val pks = cols.filter(pk => ManifestIO.statsEligible(storage.schema(pk).dataType))
    if (pks.isEmpty) return None
    // persist the PK projection across the point probe and the range
    // agg: for a large batch from an expensive keys plan, the probe
    // would otherwise evaluate (part of) the plan once and the min/max
    // agg a second time. Everything collected is literals, so the cache
    // is released before returning.
    val proj = keys.select(pks.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bounded probes (≤1025 rows / one min-max row) run without AQE;
    // the CacheManager lives in SharedState, so the clone sees the persist
    try {
      val probe = withoutAqe(proj.limit(MaxPointLookupKeys + 1))(_.collect())
      if (probe.isEmpty) return None
      if (probe.length <= MaxPointLookupKeys) {
        // exact point form: every row matching the full composite key has
        // each column's value in that column's collected set, so the
        // per-column IN conjunction is a sound (superset) prefilter
        val preds = pks.indices.flatMap { i =>
          val vals = probe.map(_.get(i)).filter(_ != null).distinct.toSeq
          if (vals.isEmpty) None else Some(col(pks(i)).isInCollection(vals))
        }
        preds.reduceOption(_ && _)
      } else {
        val aggs = pks.flatMap(pk =>
          Seq(min(col(pk)).as(s"__lo_$pk"), max(col(pk)).as(s"__hi_$pk")))
        val row = withoutAqe(proj.agg(aggs.head, aggs.tail: _*))(_.collect())(0)
        val preds = pks.zipWithIndex.flatMap { case (pk, i) =>
          if (row.isNullAt(2 * i)) None
          else Some(col(pk) >= lit(row.get(2 * i)) && col(pk) <= lit(row.get(2 * i + 1)))
        }
        preds.reduceOption(_ && _)
      }
    } finally {
      proj.unpersist(blocking = false)
      ()
    }
  }

  /** Canonical identity of a data file for executor↔driver matching:
    * scheme + authority + path. `_metadata.file_path` renders a qualified
    * URI (`file:///…`) while manifest paths are table-root-relative (or
    * arbitrary absolute paths for zero-copy-ingested EXTERNAL files), so
    * comparing by anything less than the full normalized path can
    * collide — two external files legitimately share a basename. */
  private[graft] def pathKey(s: String): String = {
    val u = new Path(s).toUri
    val scheme = Option(u.getScheme).getOrElse("file")
    val auth = Option(u.getAuthority).getOrElse("")
    s"$scheme://$auth${u.getPath}"
  }

  /** Full-normalized-path → manifest-path map for a set of manifest
    * entries, keyed exactly like [[pathKey]] over `_metadata.file_path`.
    * The one idiom every scanned-file↔manifest-row join must use —
    * basenames are NOT unique once zero-copy-ingested external files
    * exist. */
  private[graft] def relByQualifiedKey(
      storage: Storage,
      conf: org.apache.hadoop.conf.Configuration,
      rels: Seq[String]): Map[String, String] =
    rels.map { rel =>
      val abs = new Path(storage.absolute(rel))
      pathKey(abs.getFileSystem(conf).makeQualified(abs).toString) -> rel
    }.toMap

  /** Per-file deletion bitmaps, built executor-side: group the matched
    * `(file, row)` pairs by file and fold row positions into a
    * RoaringBitmap inside the aggregation buffer. Exposed for the plan
    * spec: the physical plan must contain this aggregate and NO
    * `collect_list` of row positions. */
  private[graft] def matchedBitmaps(matched: DataFrame): DataFrame = {
    val agg = udaf(new RowBitmapAgg, Encoders.scalaLong)
    matched
      .groupBy(col(FileCol))
      .agg(agg(col(RowCol)).as("bitmap"))
  }

  private def deleteCore(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      candidates: Seq[String],
      markMatched: DataFrame => DataFrame,
      dvFracOverride: Option[Double] = None,
      extraAdds: Option[DataFrame] = None): Option[Patch] = {
    if (candidates.isEmpty) return None
    val physical = ReadOp.physicalSchema(storage.schema, storage.recordFields)
    val conf = spark.sparkContext.hadoopConfiguration
    val relByKey = relByQualifiedKey(storage, conf, candidates)
    val dvs = storage.deleteVectors(snapshotId)

    val raw = spark.read.schema(physical)
      .parquet(candidates.map(storage.absolute): _*)
      .withColumn(FileCol, col("_metadata.file_path"))
      .withColumn(RowCol, col("_metadata.row_index"))
    // rows already soft-deleted by an earlier merge-on-read commit are
    // not matchable — re-deleting them would double-log the CDC DELETE
    // (an aggregate view would subtract them twice)
    val candDvs = dvs.view.filterKeys(candidates.toSet).toMap
    val withPos = DeleteVectorOps.maskFilter(spark, storage, candDvs)
      .fold(raw)(raw.filter)

    // one (file, serializedBitmap) row per affected file — bitmaps are
    // built in executors; the driver never sees row positions. A
    // driver-small candidate set (every MV state sweep and most keyed
    // DML) collects without AQE: profiled at 5-7 jobs with it, 1-2
    // without. Large candidate sets keep AQE (skew handling on the
    // semi-join matters there).
    val bitmapQuery = matchedBitmaps(markMatched(withPos))
    val matchedRows =
      if (candidates.size <= DriverScanMaxFiles) withoutAqe(bitmapQuery)(_.collect())
      else bitmapQuery.collect()
    if (matchedRows.isEmpty) return None

    val deletedByFile: Map[String, RoaringBitmap] = matchedRows.map { r =>
      val bm = deserializeBitmapBytes(r.getAs[Array[Byte]](1))
      relByKey(pathKey(r.getString(0))) -> bm
    }.toMap
    val affectedRel = deletedByFile.keySet

    // ---- merge-on-read split: a file whose CUMULATIVE dead fraction
    // (existing vector + this delete) stays at or below the threshold
    // (and that keeps at least one live row) takes a delete VECTOR
    // instead of a rewrite; fully-dead files and debt-heavy files take
    // the copy-on-write leg. The cumulative form is what bounds
    // steady-state read debt (VERDICT r11 #1): under repeated small
    // deletes a file's vector can never grow past dvMaxFraction of its
    // physical rows — the delete that would cross the line flips the
    // file to CoW, folding its vector — where the per-delete form let
    // debt accumulate without bound. The physical row counts also tell
    // the changelog which files died whole (allRows).
    val dvFrac = dvFracOverride match {
      case Some(v) =>
        require(java.lang.Double.isFinite(v) && v >= 0 && v <= 1,
          s"dvMaxFraction override must be a number in [0, 1], got $v")
        v
      case None => DeleteVectorOps.dvMaxFraction(spark)
    }
    val physRows = ManifestIO.liveFileRowCounts(spark, storage,
        storage.snapshotOrFail(snapshotId).manifestFiles.indexManifestFiles)
      .filter { case (f, _) => affectedRel.contains(f) }.toMap
    val (morFiles, cowFiles) =
      if (dvFrac == 0) (Set.empty[String], affectedRel)
      else affectedRel.partition { f =>
        val phys = physRows(f)
        val existing = dvs.get(f).map(_.numRows).getOrElse(0L)
        val newDead = deletedByFile(f).getLongCardinality
        existing + newDead < phys && (existing + newDead).toDouble / phys <= dvFrac
      }

    // ---- merge-on-read leg: no data IO — merge each file's new dead
    // rows into its (possibly absent) existing vector
    val dvAdded: Map[String, RowBitmap] = morFiles.iterator.map(f =>
      f -> DeleteVectorOps.withDead(dvs, f, deletedByFile(f))).toMap

    // ---- copy-on-write leg: rewrite ONLY the CoW files, keeping the
    // survivors (record addresses as-is, the record_address_input=True
    // analog, delete.py:103). The rewrite scan masks the matched rows by
    // their bitmaps, so the match is not evaluated a second time: a row
    // whose condition or key is NULL never matched and so survives.
    // With `extraAdds` the adds ride the same write as the survivors'
    // carryover, in their own files (ADD bitmaps; survivors stay
    // CDC-silent); a pure-MoR sweep appends them alone.
    def addsOf(p: Patch) = p.changeLog.toList.flatMap(_.addedRows)
    val (cowPatch, addBitmaps) =
      if (cowFiles.isEmpty) {
        val ap = extraAdds.fold(Patch())(RecordIO.writeWithRecords(spark, storage, _))
        (ap, addsOf(ap))
      } else {
        val (patch, written) = RewriteOp.replaceFiles(spark, storage, snapshotId,
            cowFiles.toSeq, deleted = deletedByFile.view.filterKeys(cowFiles).toMap) { survivors =>
          extraAdds match {
            case Some(adds) =>
              val p = RecordIO.writeWithRecords(spark, storage, adds, Some(survivors))
              (p, p.statsDelta.numRows - addsOf(p).map(_.numRows).sum)
            case None =>
              val p = AppendOp.writeFilesWithMeta(spark, storage, survivors).patch
              (p, p.statsDelta.numRows)
          }
        }
        (patch, if (extraAdds.isDefined) addsOf(written) else Nil)
      }

    val deleteLog = ChangeLog(deletedRows = deletedByFile.toList.sortBy(_._1).map {
      case (file, bm) =>
        val n = bm.getLongCardinality
        // n == physical rows is only possible when the file had no
        // existing vector (masked rows are unmatchable), so allRows
        // stays exact under merge-on-read
        val all = physRows.get(file).contains(n)
        RowBitmap(file, allRows = all, numRows = n,
          bitmapB64 = if (all) None else Some(bitmapToB64(bm)))
    }, addedRows = addBitmaps)

    Some(cowPatch.copy(
      statsDelta = cowPatch.statsDelta + StorageStatistics(
        numRows = -morFiles.iterator.map(f => deletedByFile(f).getLongCardinality).sum),
      changeLog = Some(deleteLog),
      dvAdded = dvAdded,
      dvObserved = morFiles.iterator.map(f => f -> dvs.get(f).flatMap(_.bitmapB64)).toMap))
  }

  /** Atomic whole-table overwrite (SQL `INSERT OVERWRITE` = truncate +
    * append in ONE snapshot): drop every index/record manifest of the
    * pinned snapshot, negate its statistics, log every current row as
    * deleted (`allRows` per file — no bitmap bytes), and append the new
    * data. Single commit, so readers never observe an empty table and
    * CDC sees one DELETE(all)+ADD(new) snapshot (the reference's
    * DELETE+ADD encoding, change_data.py:42-44, at whole-table scope).
    * Old files stay on disk for time travel until GC, like any CoW
    * rewrite. */
  def overwriteAll(spark: SparkSession, storage: Storage, snapshotId: Long, df: DataFrame): Patch = {
    val snap = storage.snapshotOrFail(snapshotId)
    val appendPatch = RecordIO.writeWithRecords(spark, storage, df)
    val manifests = snap.manifestFiles.indexManifestFiles
    // no early return on empty index manifests: a prior full delete can
    // leave the snapshot with ZERO index manifests but dangling record
    // manifests and positive record-byte statistics (CoW delete only
    // rewrites the index side) — the overwrite must still drop those and
    // negate the stats, or phantom record files stay referenced forever
    val fileRows = ManifestIO.fileRowCounts(storage,
      spark.sparkContext.hadoopConfiguration, manifests).sortBy(_._1)
    val s = snap.storageStatistics
    // merge-on-read: a vector-carrying file's DELETE rowset is its LIVE
    // rows (the complement of the vector) — logging allRows would
    // re-delete rows an earlier MoR commit already logged, and an
    // aggregate view would subtract them twice. Every vector entry
    // retires with the overwrite.
    val dvs = storage.deleteVectors(snapshotId)
    val removePatch = Patch(
      removedIndexManifests = manifests,
      removedRecordManifests = snap.manifestFiles.recordManifestFiles,
      statsDelta = StorageStatistics(-s.numRows, -s.indexCompressedBytes,
        -s.indexUncompressedBytes, -s.recordUncompressedBytes),
      changeLog =
        if (fileRows.isEmpty) None
        else Some(ChangeLog(deletedRows = fileRows.toList.map { case (f, n) =>
          dvs.get(f).flatMap(_.bitmapB64) match {
            case Some(b64) =>
              val live = RoaringBitmap.flip(deserializeBitmap(b64), 0L, n)
              RowBitmap(f, allRows = false, numRows = live.getLongCardinality,
                bitmapB64 = Some(bitmapToB64(live)))
            case None => RowBitmap(f, allRows = true, numRows = n)
          }
        })),
      dvRemoved = dvs.keys.toList.sorted)
    Patch.merge(Seq(removePatch, appendPatch)).get
  }

  /** Append with duplicate-primary-key rejection against the current
    * snapshot AND within the input (insert.py:60-104, filter_matched
    * :119-134 — as a distributed semi-join instead of OR-chains). The
    * dup-check scan is pre-pruned to files overlapping the input's key
    * range (the same stats prefilter deleteByKeys uses), so inserting a
    * narrow key range never scans the whole table. */
  def insert(spark: SparkSession, storage: Storage, snapshotId: Long, df: DataFrame): Patch = {
    val pks = storage.primaryKeys
    // pinned: the dup checks and the write each evaluate the input — a
    // nondeterministic source re-evaluated after passing the checks
    // could write keys the checks never saw
    val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      failOnInternalDupes(pinned, pks)
      val keys = pinned.select(pks.map(col): _*)
      val rangePred = keyLookupPredicate(spark, keys, storage, pks)
      val existing = ReadOp.scanPhysical(spark, storage, snapshotId, rangePred)
        .select(pks.map(col): _*)
      val dupes = existing.join(keys, pks, "left_semi").limit(1).count()
      require(dupes == 0, s"insert: input contains existing primary keys")
      RecordIO.writeWithRecords(spark, storage, pinned)
    } finally { pinned.unpersist(); () }
  }

  /** Delete-matching-PKs + append, one snapshot; DELETE+ADD of the same
    * key in one snapshot is the UPDATE encoding (change_data.py:42-44).
    * The input is PINNED (like [[merge]]/overwriteWhere): the delete leg
    * and the append leg each evaluate it, and a nondeterministic source
    * re-evaluated between them could delete keys it never re-appends. */
  def upsert(spark: SparkSession, storage: Storage, snapshotId: Long, df: DataFrame): Patch = {
    val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      failOnInternalDupes(pinned, storage.primaryKeys)
      // fused: the matched-key CoW sweep and the incoming rows land in
      // one write pass (see deleteByKeysAndAppend)
      deleteByKeysAndAppend(spark, storage, snapshotId,
        Some(pinned), storage.primaryKeys, Some(pinned)).get
    } finally { pinned.unpersist(); () }
  }

  /** MERGE semantics on a PK-keyed table, ONE snapshot (the general form
    * of upsert; the reference ships upsert only, insert.py:93-99 — merge
    * composes the same CoW delete + append machinery):
    *
    *   - matched source rows (PK exists in target) satisfying
    *     `matchedDeleteCond` delete the target row;
    *   - other matched rows, when `matchedUpdate`, REPLACE the target row
    *     (the DELETE+ADD encoding, change_data.py:42-44) — when
    *     `matchedUpdate` is false they leave the target untouched;
    *   - unmatched source rows, when `insertNew`, append;
    *   - TARGET rows with no matching source row ("NOT MATCHED BY
    *     SOURCE", the sync-two-tables shape): when
    *     `notMatchedBySourceDelete` is set, rows satisfying it delete;
    *     when `notMatchedBySourceUpdate` is set, remaining unmatched
    *     rows satisfying its condition are rewritten with the
    *     assignments applied (every RHS sees the PRE-update row —
    *     same staging rule as row-level UPDATE). Assignments address
    *     top-level non-key columns. These two legs necessarily scan the
    *     WHOLE target (a row outside the source's key range is by
    *     definition unmatched), so only merges that use them pay a full
    *     anti-join pass; the matched legs keep the pruned scan.
    *
    * The target-side match scan is pre-pruned to the source's key range
    * (same stats prefilter as insert/deleteByKeys), so merging a narrow
    * key range never scans the whole table; matching is one distributed
    * semi/anti join pair. All delete legs combine into ONE CoW pass and
    * all appends into ONE write, so each data file is rewritten at most
    * once per MERGE. */
  def merge(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      source: DataFrame,
      matchedUpdate: Boolean,
      matchedDeleteCond: Option[Column],
      insertNew: Boolean,
      notMatchedBySourceDelete: Option[Column] = None,
      notMatchedBySourceUpdate: Option[(Column, Seq[(String, Column)])] = None): Option[Patch] = {
    val pks = storage.primaryKeys
    failOnInternalDupes(source, pks)
    // every merge condition/assignment is evaluated MORE THAN ONCE over
    // the same rows (a matched delete cond filters the delete leg and,
    // negated, the re-append leg; the NMBS cond/assignments derive both
    // the delete-key union and the rewritten rows) — a nondeterministic
    // expression (rand()) would delete keys one evaluation saw and
    // re-append rows another saw, silently losing or duplicating rows.
    // Spark's analyzer guards the SQL MERGE path; mirror it here
    // (same rule as AggregateView.create's filter check — ADVICE r11).
    def requireDeterministic(frame: DataFrame, c: Column, what: String): Unit =
      require(frame.select(c).queryExecution.analyzed.deterministic,
        s"merge: $what must be deterministic — it is evaluated more than once")
    val src = source.persist()
    try {
      val keys = src.select(pks.map(col): _*)
      val rangePred = keyLookupPredicate(spark, keys, storage, pks)
      val targetKeys = ReadOp.scanPhysical(spark, storage, snapshotId, rangePred)
        .select(pks.map(col): _*)
      val matched = src.join(targetKeys, pks, "left_semi")
      matchedDeleteCond.foreach(c =>
        requireDeterministic(matched, c, "the WHEN MATCHED delete condition"))
      val delCond = matchedDeleteCond.getOrElse(lit(false))
      val toDelete = (matchedDeleteCond, matchedUpdate) match {
        case (None, false) => None // no matched clause: matched rows untouched
        case (None, true) => Some(matched)
        case (Some(_), false) => Some(matched.filter(delCond))
        case (Some(_), true) => Some(matched) // updates also delete-then-add
      }

      // ---- NOT MATCHED BY SOURCE legs (full-target anti-join; rows are
      // read at the pinned snapshot, logical shape — record payloads
      // stitched so the rewritten rows re-append uniformly)
      val nmbsNeeded = notMatchedBySourceDelete.isDefined || notMatchedBySourceUpdate.isDefined
      val notMatched: Option[DataFrame] =
        if (!nmbsNeeded) None
        else {
          val full = ReadOp.scanPhysical(spark, storage, snapshotId, None)
          val stitched =
            if (storage.recordFields.isEmpty) full
            else RecordIO.stitch(spark, storage, full, None)
          Some(stitched.join(keys, pks, "left_anti"))
        }
      notMatchedBySourceDelete.foreach(c => requireDeterministic(notMatched.get, c,
        "the NOT MATCHED BY SOURCE delete condition"))
      notMatchedBySourceUpdate.foreach { case (c, assigns) =>
        requireDeterministic(notMatched.get, c,
          "the NOT MATCHED BY SOURCE update condition")
        assigns.foreach { case (k, v) => requireDeterministic(notMatched.get, v,
          s"the NOT MATCHED BY SOURCE assignment to $k") }
      }
      val nmbsDelVictims = notMatchedBySourceDelete.map(c => notMatched.get.filter(c))
      val nmbsUpdVictims = notMatchedBySourceUpdate.map { case (cond, _) =>
        // a row claimed by the DELETE clause never reaches UPDATE
        val base = notMatchedBySourceDelete.fold(notMatched.get)(dc =>
          notMatched.get.filter(!coalesce(dc, lit(false))))
        base.filter(cond)
      }
      val nmbsUpdatedRows = notMatchedBySourceUpdate.map { case (_, assigns) =>
        // stage every RHS first so later assignments read PRE-update values
        val tmp = assigns.zipWithIndex.map { case ((k, v), i) => (k, v, s"__graft_set_$i") }
        val staged = tmp.foldLeft(nmbsUpdVictims.get) { case (df, (_, v, t)) => df.withColumn(t, v) }
        val applied = tmp.foldLeft(staged) { case (df, (k, _, t)) => df.withColumn(k, col(t)) }
        applied.drop(tmp.map(_._3): _*)
      }

      // ONE CoW delete pass over the union of every leg's victim keys
      val deleteKeyFrames =
        toDelete.map(_.select(pks.map(col): _*)).toSeq ++
          nmbsDelVictims.map(_.select(pks.map(col): _*)).toSeq ++
          nmbsUpdVictims.map(_.select(pks.map(col): _*)).toSeq
      val deleteKeys = deleteKeyFrames.reduceOption(_.unionByName(_))

      val toAppend =
        (if (matchedUpdate) Seq(matched.filter(!coalesce(delCond, lit(false)))) else Nil) ++
          (if (insertNew) Seq(src.join(targetKeys, pks, "left_anti")) else Nil) ++
          nmbsUpdatedRows.toSeq
      val appendRows = toAppend.reduceOption(_.unionByName(_)).filter(!_.isEmpty)
      // fused: the one CoW pass and the one append share a write job
      deleteByKeysAndAppend(spark, storage, snapshotId, deleteKeys, pks, appendRows)
    } finally {
      src.unpersist()
      ()
    }
  }

  private def failOnInternalDupes(df: DataFrame, pks: Seq[String]): Unit = {
    val dupes = df.groupBy(pks.map(col): _*).count().filter(col("count") > 1)
    require(withoutAqe(dupes)(_.limit(1).count()) == 0, "input contains duplicate primary keys")
  }

  /** Runs `body` over `df` with AQE off, in a scoped session clone: the
    * one scope for collect-type probes with bounded output (the
    * duplicate-key check, key probes, the bitmaps of a driver-small
    * delete). AQE would run each of their exchanges as its own job with
    * a replan between, and there is no output write for it to size. */
  private def withoutAqe[A](df: DataFrame)(body: DataFrame => A): A =
    org.apache.spark.sql.graftshim.ScopedConf.withScopedConf(df,
      Seq("spark.sql.adaptive.enabled" -> "false"))(body)

  def serializeBitmap(rows: Seq[Long]): String = {
    val bm = new RoaringBitmap()
    rows.foreach { r =>
      // same wrap hazard as RowBitmapAgg.reduce: a silent toInt past 2^31
      // would mark the wrong rows deleted with no downstream error
      require(r >= 0 && r <= Int.MaxValue,
        s"row position $r exceeds the 2^31-1 per-file bitmap range; " +
          "split the file (writer batch-size options) before row-level ops")
      bm.add(r.toInt)
    }
    bitmapToB64(bm)
  }

  def bitmapToB64(bm: RoaringBitmap): String =
    Base64.getEncoder.encodeToString(bitmapBytes(bm))

  def bitmapBytes(bm: RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    val buf = java.nio.ByteBuffer.allocate(bm.serializedSizeInBytes())
    bm.serialize(buf)
    buf.array()
  }

  def deserializeBitmapBytes(bytes: Array[Byte]): RoaringBitmap = {
    val bm = new RoaringBitmap()
    bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
    bm
  }

  def deserializeBitmap(b64: String): RoaringBitmap =
    deserializeBitmapBytes(Base64.getDecoder.decode(b64))
}

/** Folds per-file row positions into a RoaringBitmap executor-side
  * (delete.py:215-228's bitmap, built where the rows are). The buffer
  * rides shuffles via Java serialization (RoaringBitmap is
  * Externalizable); partial aggregation means each map task ships at most
  * one small bitmap per file, not its row ids. */
private[graft] class RowBitmapAgg extends Aggregator[Long, RoaringBitmap, Array[Byte]] {
  override def zero: RoaringBitmap = new RoaringBitmap()
  override def reduce(b: RoaringBitmap, row: Long): RoaringBitmap = {
    // row positions are per-FILE indexes; the writer caps files far below
    // 2^31 rows, but a future big-file config must fail loudly here — a
    // silent toInt wrap would corrupt the delete bitmap (drop/hit the
    // wrong rows) with no error anywhere downstream.
    require(row >= 0 && row <= Int.MaxValue,
      s"row position $row exceeds the 2^31-1 per-file bitmap range; " +
        "split the file (writer batch-size options) before row-level ops")
    b.add(row.toInt); b
  }
  override def merge(a: RoaringBitmap, b: RoaringBitmap): RoaringBitmap = { a.or(b); a }
  override def finish(b: RoaringBitmap): Array[Byte] = DmlOps.bitmapBytes(b)
  override def bufferEncoder: Encoder[RoaringBitmap] = Encoders.javaSerialization[RoaringBitmap]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
