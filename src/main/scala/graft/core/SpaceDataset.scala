package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.format._

/** User-facing table handle: storage location + Spark session, with the
  * full DML/read/versioning surface of the reference's `Dataset`
  * (`/root/reference/python/src/space/core/datasets.py:32-138`) and its
  * local/Ray runners (`runners.py:207-315`) — on Spark there is one
  * runner: the cluster.
  *
  * All mutations run inside an optimistic transaction
  * (storage.py:545-596): pin branch head → build patch (distributed) →
  * abort if head moved → commit.
  */
final class SpaceDataset(val spark: SparkSession, val storage: Storage) {

  def schema: StructType = storage.logicalSchema
  def primaryKeys: Seq[String] = storage.primaryKeys.map(k => storage.logicalLeafOf(Seq(k)))
  def location: String = storage.location

  // Column-mapping boundary (RENAME COLUMN, metadata-only): everything
  // below SpaceDataset — files, manifests, DML, CDC — speaks PHYSICAL
  // names; the public surface speaks logical. These four translators are
  // the entire rename implementation on the data path; every name goes
  // through Storage's lookups.

  /** Physical frame → logical names. Nested renames apply as a
    * positional no-op cast: our scans emit struct members in canonical
    * physical order, so only names change — never data. */
  private[core] def toLogical(df: DataFrame): DataFrame =
    if (!storage.hasRenames) df
    else df.select(df.columns.map { c =>
      val base =
        if (storage.hasNestedRenamesUnder(c))
          col(c).cast(storage.logicalizeType(df.schema(c).dataType, Seq(c)))
        else col(c)
      base.as(storage.logicalLeafOf(Seq(c)))
    }.toIndexedSeq: _*)

  /** User (logical) frame → physical names. Struct columns with nested
    * renames are rebuilt member-BY-NAME in canonical order — a
    * positional cast would silently mis-assign members if the caller's
    * struct uses a different inner order. */
  private[core] def toPhysicalDf(df: DataFrame): DataFrame =
    if (!storage.hasRenames) df
    else {
      val physFields = storage.schema.fields.map(f => f.name -> f).toMap
      df.select(df.columns.map { c =>
        val phys = storage.physicalLeafOf(Nil, c)
        val base = physFields.get(phys) match {
          case Some(f) if storage.hasNestedRenamesUnder(phys) =>
            physStructExpr(col(c), f.dataType, Seq(phys))
          case _ => col(c)
        }
        base.as(phys)
      }.toIndexedSeq: _*)
    }

  /** Rebuild `e` (a value of the LOGICAL shape of the physical type
    * `dt` at `physPath`) with physical member names, accessing the
    * caller's members by logical name; NULL structs stay NULL. */
  private def physStructExpr(e: Column, dt: org.apache.spark.sql.types.DataType,
      physPath: Seq[String]): Column = dt match {
    case st: org.apache.spark.sql.types.StructType =>
      val rebuilt = org.apache.spark.sql.functions.struct(st.fields.map { pf =>
        val p = physPath :+ pf.name
        physStructExpr(e.getField(storage.logicalLeafOf(p)), pf.dataType, p).as(pf.name)
      }.toIndexedSeq: _*)
      org.apache.spark.sql.functions.when(e.isNull,
        org.apache.spark.sql.functions.lit(null).cast(st)).otherwise(rebuilt)
    case _ => e
  }

  private[core] def toPhysicalCol(c: Column): Column =
    if (!storage.hasRenames) c
    else org.apache.spark.sql.graftshim.ColumnExpr.mapPaths(c, storage.physicalPathOf)

  private def toPhysicalNames(names: Seq[String]): Seq[String] =
    names.map(storage.physicalLeafOf(Nil, _))

  /** Branch that reads and mutations target by default
    * (`set_current_branch`, reference storage.py:238-313 surface). */
  @volatile private var currentBranch: String = SnapshotRef.MainBranch

  def setCurrentBranch(name: String): Unit = {
    storage.branchHead(name) // validates existence
    currentBranch = name
  }

  def getCurrentBranch: String = currentBranch

  // ------------------------------------------------------------- reads

  /** Read the table (optionally: a version = tag/branch/snapshot-id/ISO
    * timestamp, a filter, a field projection). Record fields are
    * stitched back from record files unless `referenceRead` asks for raw
    * addresses (read.py:112-114). `resolveFilePaths` resolves File-typed
    * columns ([[graft.format.ExtTypes.fileField]]) from their stored
    * RELATIVE paths to full paths against the column's directory prefix
    * — the reference File extension type's `full_path`
    * (schema/types/files.py:29-64); absolute values pass through, like
    * `os.path.join`. */
  def read(
      filter: Option[Column] = None,
      fields: Option[Seq[String]] = None,
      version: Option[String] = None,
      referenceRead: Boolean = false,
      resolveFilePaths: Boolean = false): DataFrame = {
    val sid = version.map(storage.versionToSnapshotId)
      .getOrElse(storage.branchHead(currentBranch))
    val physFields = fields.map(toPhysicalNames)
    val physical = ReadOp.scanPhysical(spark, storage, sid, filter.map(toPhysicalCol))
    val projected = physFields match {
      case Some(fs) => physical.select(fs.map(col): _*)
      case None => physical
    }
    val out = toLogical(
      if (referenceRead || storage.recordFields.isEmpty) projected
      else RecordIO.stitch(spark, storage, projected, physFields))
    if (!resolveFilePaths) out else resolveFileColumns(out)
  }

  /** Codegen'd projection: File-typed columns resolve `dir/<value>`
    * (nulls stay null, absolute paths pass through, empty prefix is
    * identity). */
  private def resolveFileColumns(df: DataFrame): DataFrame = {
    import graft.format.ExtTypes
    val byName = storage.logicalSchema.fields.map(f => f.name -> f).toMap
    val anyFile = df.columns.exists(c => byName.get(c).exists(f =>
      ExtTypes.isFile(f) && ExtTypes.fileDirectory(f).exists(_.nonEmpty)))
    if (!anyFile) df
    else df.select(df.columns.map { c =>
      byName.get(c) match {
        case Some(f) if ExtTypes.isFile(f) &&
            ExtTypes.fileDirectory(f).exists(_.nonEmpty) =>
          val dir = ExtTypes.fileDirectory(f).get.stripSuffix("/")
          org.apache.spark.sql.functions.when(col(c).startsWith("/"), col(c))
            .otherwise(org.apache.spark.sql.functions.concat(
              org.apache.spark.sql.functions.lit(dir + "/"), col(c)))
            .as(c, f.metadata)
        case _ => col(c)
      }
    }.toIndexedSeq: _*)
  }

  def readAll(): DataFrame = read()

  /** Metadata-only row count at a version — O(1) from the snapshot's
    * accumulated storage statistics, no file listing and no scan (the
    * 100 TB `count(*)`). Copy-on-write mutation keeps it exact: every
    * append/delete/upsert/compact commit patches the statistics with
    * the rows it added and removed. Accepts any version string a read
    * does (snapshot id, tag, branch); default = current branch head.
    * Resolves against the currently-loaded metadata, exactly like
    * [[read]] — so `countRows() == readAll().count()` holds even with
    * concurrent external writers; call [[refresh]] first when you want
    * the latest committed head. */
  def countRows(version: Option[String] = None): Long = {
    val snapId = version.map(storage.versionToSnapshotId)
      .getOrElse(storage.branchHead(currentBranch))
    storage.snapshotOrFail(snapId).storageStatistics.numRows
  }

  /** Register this table (at `version`, default current) as a temp view.
    * The view is relation-backed ([[GraftFileIndex]]), so a SQL `WHERE`
    * over it prunes manifest files inside Catalyst planning — full
    * `spark.sql` surface with storage-aware scans. */
  def createOrReplaceTempView(name: String, version: Option[String] = None): Unit =
    read(version = version).createOrReplaceTempView(name)

  /** Scan plan for a predicate — exposes pruning decisions (files kept vs
    * total) for tests/bench. */
  def plan(filter: Option[Column] = None, version: Option[String] = None): ReadOp.ScanPlan = {
    val sid = version.map(storage.versionToSnapshotId)
      .getOrElse(storage.branchHead(currentBranch))
    ReadOp.plan(spark, storage, sid, filter.map(toPhysicalCol))
  }

  // --------------------------------------------------------- mutations

  def append(df: DataFrame, branch: String = currentBranch): Long =
    commitAppend(branch)(Some(RecordIO.writeWithRecords(spark, storage, toPhysicalDf(df))))

  /** The one append-shaped commit: commits `patch` (re-evaluated on a
    * retry; None commits nothing and returns the head) under
    * [[ConflictPolicy.Append]], then self-packs the manifest tail.
    * [[append]], [[appendFrom]], [[appendOnce]] and the streaming
    * sink's epoch commit all go through it; public because the sink
    * commits from outside the `graft` package. A patch tagged with an
    * already-applied txn throws [[DuplicateTransactionException]] and
    * packs nothing. */
  def commitAppend(branch: String)(patch: => Option[Patch]): Long = {
    val sid = storage.commitTransaction(branch, ConflictPolicy.Append)(_ => patch)
    maybeAutoPackManifests(branch)
    sid
  }

  /** Self-maintenance (the [[graft.views.ViewMaintenance]] /
    * [[ClusterOp]] shape, for the METADATA plane): every trickle append
    * mints one small index manifest, and past a few dozen of them a
    * full scan's planning pays one read per manifest. When an append
    * ([[commitAppend]]) leaves at least
    * `spark.graft.manifest.autoPackManifests` (default 64, 0 disables)
    * UNDER-FILLED index manifests, the already-incremental
    * [[RewriteManifestsOp]] bin-pack runs right after the commit —
    * CDC-silent, so CDC feeds and chained views see nothing. The check
    * is O(1) off the manifest-list summaries; unsummarized (legacy)
    * manifests never trigger. Best-effort: a racing writer or a
    * transient failure just defers the pack to a later append. */
  private def maybeAutoPackManifests(branch: String): Unit = {
    val threshold = Confs.longConf(spark,
      SpaceDataset.AutoPackManifestsKey, SpaceDataset.DefaultAutoPackManifests)
    if (threshold <= 0) return
    val target = SpaceDataset.AutoPackTargetFiles
    val snap = storage.metadata.snapshot(storage.branchHead(branch))
      .getOrElse(return)
    val summaries = storage.metadata.manifestSummaries
    val underFilled = snap.manifestFiles.indexManifestFiles.count(m =>
      summaries.get(m).exists(_.numFiles < target))
    if (underFilled < threshold) return
    try rewriteManifests(targetFilesPerManifest = target, branch = branch)
    catch { case scala.util.control.NonFatal(_) => }
    ()
  }

  /** Append from N sources in ONE snapshot (`append_from`, reference
    * runners.py:149-157 / ray/runners.py:282-318: parallel writers, one
    * merged patch, one commit). Each source function returns a DataFrame
    * — the Spark analog of the reference's iterator factories; each
    * source's write is its own distributed job, patches merge into a
    * single atomic commit whose changelog covers all sources. */
  def appendFrom(sources: Seq[() => DataFrame], branch: String = currentBranch): Long =
    commitAppend(branch)(Patch.merge(sources.map(fn =>
      RecordIO.writeWithRecords(spark, storage, toPhysicalDf(fn())))))

  /** Idempotent append for exactly-once sinks (the foreachBatch /
    * streaming-restart pattern): the commit records `appId → version`,
    * so a redelivered batch (same appId, version ≤ recorded) is skipped
    * — checked cheaply up front AND enforced under the commit lock, so
    * a duplicate can never double-commit. Returns the snapshot id, or
    * None when the batch was already committed. */
  def appendOnce(
      df: DataFrame,
      appId: String,
      version: Long,
      branch: String = currentBranch): Option[Long] = {
    storage.reload()
    if (storage.metadata.txnVersions.get(appId).exists(_ >= version)) return None
    try Some(commitAppend(branch) {
      val patch = RecordIO.writeWithRecords(spark, storage, toPhysicalDf(df))
      Some(patch.copy(txn = Some(TxnTag(appId, version))))
    }) catch {
      // a concurrent worker committed the same (appId, version) between
      // the up-front check and the commit lock: the documented
      // "skipped, already delivered" outcome, not an error (the staged
      // files of the losing attempt are unreferenced; GC reaps them)
      case _: DuplicateTransactionException => None
    }
  }

  /** Atomic truncate-and-append: ONE snapshot replacing the whole table
    * content (backs SQL `INSERT OVERWRITE` through the graft catalog). */
  def overwrite(df: DataFrame, branch: String = currentBranch): Long =
    storage.commitTransaction(branch) { pinned =>
      Some(DmlOps.overwriteAll(spark, storage, pinned, toPhysicalDf(df)))
    }

  /** Delete rows matching `cond` (CoW, or merge-on-read vectors under
    * `spark.graft.delete.dvMaxFraction`). `dvMaxFraction` overrides the
    * session conf for THIS call only — the safe form of a scoped
    * override (no set/unset window that concurrent jobs in the same
    * session could observe). */
  def delete(
      cond: Column,
      branch: String = currentBranch,
      dvMaxFraction: Option[Double] = None): Long =
    storage.commitTransaction(branch, ConflictPolicy.Rewrite) { pinned =>
      DmlOps.delete(spark, storage, pinned, toPhysicalCol(cond), dvMaxFraction)
    }

  /** Predicate overwrite (the backfill primitive, Delta's
    * `replaceWhere`): delete every row matching `cond` and append `df`,
    * in ONE snapshot — readers never observe the partial state, CDC
    * sees one DELETE+ADD snapshot, and a conflicting concurrent commit
    * aborts the whole pair. The caller is responsible for `df` only
    * containing rows that satisfy `cond` (checked with a loud require
    * so a mis-scoped backfill cannot silently widen the overwrite). */
  def overwriteWhere(cond: Column, df: DataFrame,
      branch: String = currentBranch): Long = {
    // pin ONE evaluation of df (guard + write must see the same rows —
    // a nondeterministic df could otherwise pass the guard yet write
    // different rows), and treat a NULL predicate as a violation
    // (three-valued logic would silently admit NULL-keyed rows the
    // delete leg never covers)
    val pinnedDf = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      require(
        pinnedDf.filter(!org.apache.spark.sql.functions.coalesce(
          cond, org.apache.spark.sql.functions.lit(false))).limit(1).count() == 0,
        "overwriteWhere: replacement rows must satisfy the predicate " +
          "(NULL predicate values count as violations)")
      storage.commitTransaction(branch, ConflictPolicy.Rewrite) { pinned =>
        // fused: the CoW sweep and the replacement rows share one write
        // pass; when nothing matched the replacement is appended alone
        val adds = toPhysicalDf(pinnedDf)
        DmlOps.delete(spark, storage, pinned, toPhysicalCol(cond), extraAdds = Some(adds))
          .orElse(Some(RecordIO.writeWithRecords(spark, storage, adds)))
      }
    } finally { pinnedDf.unpersist(); () }
  }

  def insert(df: DataFrame, branch: String = currentBranch): Long =
    storage.commitTransaction(branch) { pinned =>
      Some(DmlOps.insert(spark, storage, pinned, toPhysicalDf(df)))
    }

  def upsert(df: DataFrame, branch: String = currentBranch): Long =
    storage.commitTransaction(branch) { pinned =>
      Some(DmlOps.upsert(spark, storage, pinned, toPhysicalDf(df)))
    }

  /** MERGE builder (general form of upsert; one snapshot):
    * {{{
    *   ds.merge(source)
    *     .whenMatchedDelete(col("op") === "D")  // optional, cond on source row
    *     .whenMatchedUpdate()                   // replace matched target rows
    *     .whenNotMatchedInsert()                // append unmatched source rows
    *     .execute()
    * }}} */
  def merge(source: DataFrame): MergeBuilder = new MergeBuilder(this, toPhysicalDf(source))

  /** Row-level UPDATE: rewrite rows matching `cond` with `assignments`
    * applied (CoW; ONE snapshot). CDC encodes it as DELETE+ADD of the
    * same primary keys — the reference's UPDATE semantics
    * (change_data.py:42-44). Primary keys cannot be assigned (that's a
    * delete+insert, spell it as one). Returns the new snapshot id, or
    * the current head when nothing matched (no-op, like delete). */
  def update(
      cond: Column,
      assignments: Map[String, Column],
      branch: String = currentBranch,
      /** Per-call merge-on-read threshold override (see [[delete]]). */
      dvMaxFraction: Option[Double] = None): Long = {
    require(assignments.nonEmpty, "update requires at least one assignment")
    val pkSet = primaryKeys.toSet
    assignments.keys.foreach { k =>
      // dotted keys assign struct members ("meta.price"); rows whose
      // struct is NULL stay NULL (a member update cannot materialize
      // its parent)
      require(ManifestIO.fieldAtPath(schema, k).isDefined, s"unknown column $k")
      require(!pkSet.contains(k), s"cannot update primary key $k")
    }
    val ordered = assignments.toSeq.sortBy(_._1)
    for ((a, _) <- ordered; (b, _) <- ordered if a != b)
      require(!columnPath(b).startsWith(columnPath(a)),
        s"conflicting assignments: $b is a member of assigned column $a")
    storage.commitTransaction(branch, ConflictPolicy.Rewrite) { pinned =>
      val physCond = toPhysicalCol(cond)
      // updated rows, built from the same pinned snapshot (CoW: the
      // delete rewrites files, it never mutates the pinned inputs)
      val matched = read(filter = Some(cond), version = Some(pinned.toString))
      val updated = toPhysicalDf(DmlOps.assign(matched,
        ordered.map { case (k, v) => columnPath(k) -> v }))
      // fused: the CoW sweep and the rewritten rows share one write
      // pass (None = nothing matched: no-op, returns the current head
      // — zero matches also means zero rewritten rows)
      DmlOps.delete(spark, storage, pinned, physCond, dvMaxFraction, Some(updated))
    }
  }

  // -------------------------------------------------------------- CDC

  def diff(startVersion: String, endVersion: String): Seq[ChangeBatch] =
    ChangeData.diff(spark, storage,
      storage.versionToSnapshotId(startVersion),
      storage.versionToSnapshotId(endVersion))
      .map(b => b.copy(data = toLogical(b.data)))

  // -------------------------------------------------------- versioning

  def addTag(name: String, version: Option[String] = None): Unit =
    storage.addTag(name, version.map(storage.versionToSnapshotId))

  def addBranch(name: String, version: Option[String] = None): Unit =
    storage.addBranch(name, version.map(storage.versionToSnapshotId))

  /** Roll the current branch back to an earlier snapshot on its own
    * chain (metadata-only undo; see [[Storage.rollback]]). Accepts any
    * version string a read does — snapshot id, tag, or branch name. */
  def rollback(version: String): Unit =
    storage.rollback(storage.versionToSnapshotId(version), currentBranch)

  /** Publish step of write-audit-publish: fast-forward the current
    * branch to `toBranch`'s head (metadata-only; requires this branch's
    * head to be an ancestor — see [[Storage.fastForward]]). */
  def fastForward(toBranch: String): Unit =
    storage.fastForward(currentBranch, toBranch)

  def removeRef(name: String): Unit = storage.removeRef(name)

  def removeTag(name: String): Unit = storage.removeTag(name)

  /** Cannot remove the branch this dataset is currently on
    * (storage.py:291-296). */
  def removeBranch(name: String): Unit = {
    require(name != currentBranch, "cannot remove the current branch")
    storage.removeBranch(name)
  }

  // ------------------------------------------------------------ schema

  /** The path a column name addresses: the top-level column of exactly
    * that name wins (names may contain dots); otherwise dots walk struct
    * members, so "meta.price" is member `price` of struct `meta`
    * ([[Storage.columnPath]] over the logical schema). */
  private def columnPath(name: String): Seq[String] = Storage.columnPath(schema, name)

  /** ADD COLUMN (see [[Storage.addColumn]]): a nullable column, or with
    * a dotted `name` a nullable member of an existing struct; existing
    * files null-fill it on read. */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType): Unit = {
    val path = columnPath(name)
    storage.addColumn(path.init,
      org.apache.spark.sql.types.StructField(path.last, dataType, nullable = true))
  }

  /** RENAME COLUMN (see [[Storage.renameColumn]]): `to` is the new leaf
    * name. Time travel and CDC read every snapshot under the CURRENT
    * logical names. */
  def renameColumn(name: String, to: String): Unit = storage.renameColumn(columnPath(name), to)

  /** DROP COLUMN (see [[Storage.dropColumn]]); the bytes are shed by the
    * next compact/cluster rewrite or GC'd with the file. */
  def dropColumn(name: String): Unit = storage.dropColumn(columnPath(name))

  /** TYPE WIDENING (see [[Storage.widenColumn]]): int→bigint,
    * int→double, float→double. */
  def widenColumn(name: String, newType: org.apache.spark.sql.types.DataType): Unit =
    storage.widenColumn(columnPath(name), newType)

  // ------------------------------------------------------- maintenance

  /** Expire old unreferenced snapshots (metadata-only; see GcOps). */
  def expireSnapshots(olderThanMs: Long, keepLast: Int = 1): Seq[Long] =
    GcOps.expireSnapshots(storage, olderThanMs, keepLast)

  /** Delete files no live snapshot reaches (see GcOps). `minAgeMs`
    * protects files staged by in-flight writers. */
  def garbageCollect(minAgeMs: Long = 3600000L): GcOps.GcStats =
    GcOps.garbageCollect(spark, storage, minAgeMs)

  /** Bin-pack small index files into ~`targetFileRows`-row files (one
    * snapshot, no logical change — see CompactOp). Returns stats, or
    * None when there was nothing worth compacting.
    *
    * TIER-AWARE on `write_cluster_by` tables: the selected small files
    * re-range-sort into one disjoint tier (one bounded shuffle of just
    * the small-file bytes), so the point-read pruning the clustering
    * bought survives routine compaction. `clusterBy(cols, n,
    * incremental = true)` remains the fuller maintenance op (it also
    * self-merges the delta tier into the backbone when it outgrows
    * `spark.graft.cluster.mergeFraction`). */
  def compact(
      targetFileRows: Long,
      smallFraction: Double = 0.5,
      branch: String = currentBranch): Option[CompactOp.CompactResult] =
    storage.transaction(branch, ConflictPolicy.Rewrite) { pinned =>
      CompactOp.compact(spark, storage, pinned, targetFileRows, smallFraction) match {
        case Some((patch, res)) => (Some(patch), Some(res))
        case None => (None, None)
      }
    }

  /** BUCKET-LAYOUT EVOLUTION: rewrite every data file under new
    * per-column bucket counts and switch the layout metadata in the
    * same CDC-silent commit (see [[RebucketOp]] — one shuffle, record
    * payloads untouched, delete vectors folded, time travel below the
    * switch guarded). Strict concurrency: any concurrent commit aborts
    * with [[ConcurrentCommitException]]; re-run. Layout metadata is
    * table-wide — run it from the MAIN branch; side branches parked on
    * pre-rebucket snapshots keep reading correctly (the layout guards
    * disengage below the watermark) but should not take bucketed
    * maintenance rewrites afterwards. */
  def rebucket(
      newCounts: Seq[Int],
      branch: String = currentBranch,
      /** Re-key the layout (or ADOPT bucketing on an unbucketed table);
        * logical column names. Omitted = keep the current columns. */
      columns: Option[Seq[String]] = None): RebucketOp.RebucketResult =
    RebucketOp.rebucket(spark, storage, newCounts, branch,
      columns.map(toPhysicalNames))

  /** Bin-pack the snapshot's index MANIFESTS into
    * ~`targetFilesPerManifest`-row manifests, range-sorted by the first
    * stats column so manifest-list summaries regain their pruning power
    * (one commit; CDC-silent, stats-neutral — see [[RewriteManifestsOp]]).
    * The metadata-plane sibling of [[compact]]: run it when a trickle
    * history has grown the manifest list past what planning should pay.
    * Returns stats, or None when the layout is already packed. */
  def rewriteManifests(
      targetFilesPerManifest: Long = 100000L,
      branch: String = currentBranch): Option[RewriteManifestsOp.RewriteManifestsResult] =
    storage.transaction(branch, ConflictPolicy.Rewrite) { pinned =>
      RewriteManifestsOp.rewriteManifests(spark, storage, pinned, targetFilesPerManifest) match {
        case Some((patch, res)) => (Some(patch), Some(res))
        case None => (None, None)
      }
    }

  /** Reclaim record-payload space: rewrite the index files whose record
    * addresses point into mostly-dead record files (live fraction <=
    * `maxLiveFraction`) and drop those files from the record manifests;
    * snapshot expiry + GC then delete the payload bytes (see
    * [[RecordRewriteOp]]). CDC-silent. Returns stats, or None when no
    * record file is below the threshold. */
  def rewriteRecords(
      maxLiveFraction: Double = 0.5,
      branch: String = currentBranch): Option[RecordRewriteOp.RewriteResult] =
    storage.transaction(branch, ConflictPolicy.Rewrite) { pinned =>
      RecordRewriteOp.rewriteRecords(spark, storage, pinned, maxLiveFraction) match {
        case Some((patch, res)) => (Some(patch), Some(res))
        case None => (None, None)
      }
    }

  /** Rewrite index files range-partitioned + sorted by `sortCols`
    * so min/max stats become disjoint ranges and pruning on those
    * columns bites (one snapshot, CDC-silent — see ClusterOp).
    *
    * `incremental = true` rewrites ONLY the files not already part of a
    * pairwise-disjoint backbone on `sortCols.head` — the steady-state
    * maintenance shape: appends since the last pass become a small
    * sorted delta tier, the clustered bulk is never reread. Returns
    * None when the layout is already fully clustered. */
  def clusterBy(
      sortCols: Seq[String],
      targetFileRows: Long,
      branch: String = currentBranch,
      incremental: Boolean = false): Option[ClusterOp.ClusterResult] =
    storage.transaction(branch, ConflictPolicy.Rewrite) { pinned =>
      ClusterOp.cluster(spark, storage, pinned, toPhysicalNames(sortCols), targetFileRows,
        incremental = incremental) match {
        case Some((patch, res)) => (Some(patch), Some(res))
        case None => (None, None)
      }
    }

  /** Z-ORDER rewrite: like [[clusterBy]], but files tile the
    * multi-dimensional space of `cols` (Morton key), so manifest stats
    * prune filters on EVERY listed column, not just the first (see
    * [[ClusterOp.cluster]] with zorder=true). */
  def zorderBy(
      cols: Seq[String],
      targetFileRows: Long,
      branch: String = currentBranch): Option[ClusterOp.ClusterResult] =
    storage.transaction(branch, ConflictPolicy.Rewrite) { pinned =>
      ClusterOp.cluster(spark, storage, pinned, toPhysicalNames(cols), targetFileRows,
        zorder = true) match {
        case Some((patch, res)) => (Some(patch), Some(res))
        case None => (None, None)
      }
    }

  /** versions() table (storage.py:410-443): snapshot × refs, newest first. */
  def versions(): DataFrame = {
    import spark.implicits._
    storage.versions
      .map { case (id, parent, ts, refs) => (id, parent, new java.sql.Timestamp(ts), refs) }
      .toDF("snapshot_id", "parent_snapshot_id", "create_time", "refs")
  }

  /** Index files of a version (datasets.py:99-104; default current).
    * `version` accepts what reads accept — tag/branch/snapshot-id/ISO
    * timestamp. This is the HuggingFace-export surface of the reference
    * (notebooks/huggingface_conversion.ipynb: `load_dataset("parquet",
    * data_files=ds.index_files(version=tag))`): a table whose fields
    * all live in parquet converts BACK to an HF dataset by handing the
    * pinned file list to any raw parquet reader — CoW snapshots are
    * complete at rest (no masks), so no engine sits on that read path.
    * Paths are RESOLVED (native files under the table root become
    * absolute; zero-copy external files pass through as written) so the
    * list is directly consumable outside the engine. */
  def indexFiles(
      filter: Option[Column] = None,
      version: Option[String] = None): Seq[String] = {
    // the no-masks contract above is what makes this list directly
    // consumable by raw parquet readers — a merge-on-read snapshot
    // VIOLATES it (files contain soft-deleted rows), so fail loudly
    // instead of silently exporting dead rows; compact() folds the
    // vectors and restores exportability
    val sid = version.map(storage.versionToSnapshotId)
      .getOrElse(storage.branchHead(currentBranch))
    require(storage.deleteVectors(sid).isEmpty,
      s"index_files: snapshot $sid carries merge-on-read delete vectors — " +
        "raw file export would include soft-deleted rows; run compact() " +
        "to fold the vectors first")
    plan(filter, version).files.map(storage.absolute)
  }

  /** Filterable index-manifest table (storage.py:459-480). */
  def indexManifest(): DataFrame = {
    val ms = storage.metadata.currentSnapshot.manifestFiles.indexManifestFiles
    spark.createDataFrame(ReadOp.manifestRows(spark, storage, ms).asJava,
      ManifestIO.manifestSchema(storage))
  }

  /** Filterable record-manifest table (`_FILE,_FIELD_ID,_NUM_ROWS,
    * _UNCOMPRESSED_BYTES`; record.py:27-32, storage.py:459-480). */
  def recordManifest(): DataFrame =
    spark.createDataFrame(RecordIO.readRecordManifests(storage,
      spark.sparkContext.hadoopConfiguration,
      storage.metadata.currentSnapshot.manifestFiles.recordManifestFiles).asJava,
      RecordIO.RecordManifestSchema)

  def refresh(): Unit = storage.reload()
}

/** Accumulates MERGE clauses; `execute` runs them in ONE optimistic
  * transaction (one snapshot, one changelog). At least one clause is
  * required. The matched-delete condition is evaluated against the
  * SOURCE row; the NOT-MATCHED-BY-SOURCE conditions and assignment
  * values against the TARGET row. */
final class MergeBuilder private[core] (ds: SpaceDataset, source: DataFrame) {
  private var matchedUpdate = false
  private var matchedDeleteCond: Option[Column] = None
  private var insertNew = false
  private var nmbsDeleteCond: Option[Column] = None
  private var nmbsUpdate: Option[(Column, Seq[(String, Column)])] = None

  def whenMatchedUpdate(): MergeBuilder = { matchedUpdate = true; this }

  def whenMatchedDelete(cond: Column = org.apache.spark.sql.functions.lit(true)): MergeBuilder = {
    matchedDeleteCond = Some(cond); this
  }

  def whenNotMatchedInsert(): MergeBuilder = { insertNew = true; this }

  /** Delete target rows with no matching source row (optionally only
    * those satisfying `cond`, over target columns) — the sync shape:
    * `merge(snapshotOfTruth).whenMatchedUpdate().whenNotMatchedInsert()
    * .whenNotMatchedBySourceDelete()` makes the target equal the
    * source. */
  def whenNotMatchedBySourceDelete(
      cond: Column = org.apache.spark.sql.functions.lit(true)): MergeBuilder = {
    nmbsDeleteCond = Some(cond); this
  }

  /** Rewrite target rows with no matching source row: `assignments`
    * (top-level non-key column → value over the PRE-update target row)
    * apply to rows satisfying `cond`; rows claimed by a
    * NOT-MATCHED-BY-SOURCE DELETE clause are skipped. */
  def whenNotMatchedBySourceUpdate(
      assignments: Map[String, Column],
      cond: Column = org.apache.spark.sql.functions.lit(true)): MergeBuilder = {
    require(assignments.nonEmpty, "NOT MATCHED BY SOURCE UPDATE needs assignments")
    val pkSet = ds.primaryKeys.toSet
    assignments.keys.foreach { k =>
      require(ds.schema.fieldNames.contains(k),
        s"unknown or non-top-level column $k (NOT MATCHED BY SOURCE UPDATE " +
          "assigns top-level columns)")
      require(!pkSet.contains(k), s"cannot update primary key $k")
    }
    nmbsUpdate = Some((cond, assignments.toSeq.sortBy(_._1)))
    this
  }

  /** Returns the id the new snapshot committed as (a no-op merge —
    * nothing matched any enabled clause — commits nothing, same
    * convention as [[SpaceDataset.delete]]). */
  def execute(branch: String = ds.getCurrentBranch): Long = {
    require(matchedUpdate || matchedDeleteCond.isDefined || insertNew ||
      nmbsDeleteCond.isDefined || nmbsUpdate.isDefined,
      "merge requires at least one WHEN clause")
    ds.storage.commitTransaction(branch) { pinned =>
      DmlOps.merge(ds.spark, ds.storage, pinned, source,
        matchedUpdate, matchedDeleteCond.map(ds.toPhysicalCol), insertNew,
        nmbsDeleteCond.map(ds.toPhysicalCol),
        nmbsUpdate.map { case (c, as) =>
          (ds.toPhysicalCol(c),
            as.map { case (k, v) =>
              ds.storage.physicalLeafOf(Nil, k) -> ds.toPhysicalCol(v)
            })
        })
    }
  }
}

object SpaceDataset {

  /** Under-filled index-manifest count that makes an append self-pack
    * the manifest tail ([[SpaceDataset.commitAppend]]); `0` disables. */
  val AutoPackManifestsKey = "spark.graft.manifest.autoPackManifests"
  val DefaultAutoPackManifests = 64L

  /** Target rows (= data files) per packed manifest for the self-pack
    * — also the under-filled threshold, like `rewrite_manifests`. */
  val AutoPackTargetFiles = 100L * 1000

  def create(
      spark: SparkSession,
      location: String,
      schema: StructType,
      primaryKeys: Seq[String],
      recordFields: Seq[String] = Nil,
      statsFields: Seq[String] = Nil,
      bucketColumns: Seq[String] = Nil,
      numBuckets: Int = 0,
      bloomColumns: Seq[String] = Nil,
      writeClusterBy: Seq[String] = Nil,
      /** Per-column bucket counts (see [[graft.format.StorageMetadata
        * .bucketCounts]]) — the multi-column storage-partitioned-join
        * layout; empty = single-hash. */
      bucketCounts: Seq[Int] = Nil): SpaceDataset =
    new SpaceDataset(spark, Storage.create(location, schema, primaryKeys, recordFields,
      statsFields = statsFields, bloomColumns = bloomColumns,
      bucketColumns = bucketColumns, numBuckets = numBuckets,
      bucketCounts = bucketCounts,
      writeClusterBy = writeClusterBy,
      conf = spark.sparkContext.hadoopConfiguration))

  def load(spark: SparkSession, location: String): SpaceDataset =
    new SpaceDataset(spark, Storage.load(location, spark.sparkContext.hadoopConfiguration))
}
