package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.format._

class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** The commit lock stayed held by a live writer past the acquisition
  * timeout. A [[ConcurrentCommitException]], so existing handlers still
  * match, but a transaction does not retry it: a retry would re-run the
  * whole op only to wait out the same lock again. */
class CommitLockTimeoutException(msg: String) extends ConcurrentCommitException(msg)

/** Thrown by [[Storage.orderedSnapshotIds]] when the CDC walk is
  * impossible because the START snapshot (an MV's refresh watermark) has
  * been EXPIRED out of metadata — the one condition a consumer may
  * legitimately resolve with a whole-state rebuild. A walk failure while
  * the start snapshot still EXISTS is a caller bug (target below the
  * watermark, or on an unrelated lineage) and stays a plain
  * IllegalArgumentException, so a typo'd refresh target surfaces instead
  * of silently triggering a full source rescan (ADVICE r10). */
class ExpiredHistoryException(msg: String) extends IllegalArgumentException(msg)

/** Thrown by the under-lock exactly-once guard when a transaction tag
  * (appId, version) has already committed — the signal `appendOnce`
  * turns into its documented `None` ("skipped, already delivered")
  * result instead of crashing the redelivered worker. */
class DuplicateTransactionException(val appId: String, val version: Long)
  extends RuntimeException(
    s"duplicate transaction: appId=$appId version=$version already committed")

/** How a transaction's patch relates to concurrent commits — see
  * [[Storage.transaction]]. */
sealed trait ConflictPolicy
object ConflictPolicy {
  case object Append extends ConflictPolicy
  case object Rewrite extends ConflictPolicy
  case object Strict extends ConflictPolicy
}

/** The metadata engine of a graft table: loads/commits metadata, resolves
  * versions, manages tags/branches. Plain JVM (no Spark dependency) —
  * mirrors the reference's `Storage`
  * (`/root/reference/python/src/space/core/storage.py:60-510`).
  *
  * Concurrency model is the reference's: optimistic single-writer — a
  * transaction pins the branch head at start, re-reads it before commit,
  * and aborts if the head moved (storage.py:545-596). Atomicity relies on
  * write-temp-then-rename of the entrypoint file, atomic on local
  * filesystems and HDFS within a directory; the same documented
  * limitation as the reference (fs/arrow.py:46-49).
  */
final class Storage(val location: String, val conf: Configuration) {

  private val rootPath = new Path(location)
  private val fs: FileSystem = {
    val f = rootPath.getFileSystem(conf)
    // metadata files are tiny and atomically replaced; the local
    // ChecksumFileSystem's .crc sidecars break replace-by-rename under
    // concurrent readers (stale checksum window) — disable them
    f.setWriteChecksum(false)
    f.setVerifyChecksum(false)
    f
  }

  private var meta: StorageMetadata = _
  private var metaFilePath: String = _

  reload()

  def metadata: StorageMetadata = meta
  /** Root-relative path of the current metadata json. */
  def metadataFile: String = metaFilePath
  def schema: StructType = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]

  /** User-visible schema: physical schema with column renames applied —
    * top-level ([[StorageMetadata.renames]]) and struct members
    * ([[StorageMetadata.nestedRenames]]). */
  def logicalSchema: StructType = logicalize(schema)

  /** Whether any column or struct member is renamed: the read and write
    * boundaries skip every name translation when none is. */
  def hasRenames: Boolean = meta.renames.nonEmpty || meta.nestedRenames.nonEmpty

  /** Logical leaf name of the field at a full PHYSICAL path (length 1 =
    * top-level); identity for never-renamed fields. */
  def logicalLeafOf(physPath: Seq[String]): String =
    if (physPath.lengthCompare(1) == 0) meta.renames.getOrElse(physPath.head, physPath.head)
    else meta.nestedRenames.getOrElse(physPath.mkString("."), physPath.last)

  /** Physical leaf name of the member of `parentPhys` (a physical path;
    * empty = top level) whose current logical name is `logical`. */
  def physicalLeafOf(parentPhys: Seq[String], logical: String): String =
    if (parentPhys.isEmpty)
      meta.renames.collectFirst { case (p, l) if l == logical => p }.getOrElse(logical)
    else {
      val prefix = parentPhys.mkString(".") + "."
      meta.nestedRenames.collectFirst {
        case (p, l) if l == logical && p.startsWith(prefix) &&
          !p.stripPrefix(prefix).contains(".") => p.stripPrefix(prefix)
      }.getOrElse(logical)
    }

  /** Full physical path of a LOGICAL dotted path, each step resolved
    * against the renames at its level. */
  def physicalPathOf(logicalPath: Seq[String]): Seq[String] =
    logicalPath.foldLeft(Vector.empty[String]) { (phys, step) =>
      phys :+ physicalLeafOf(phys, step)
    }

  /** Rename fields physical→logical recursively. Subset-safe: walks the
    * GIVEN struct (possibly a pruned read schema), mapping any member
    * whose physical path has a rename. Descends struct spines only —
    * renames inside array/map element structs are unsupported, matching
    * [[addColumn]]'s reach. */
  def logicalize(st: StructType): StructType =
    if (!hasRenames) st
    else logicalizeType(st, Nil).asInstanceOf[StructType]

  /** [[logicalize]] for a type sitting at physical path `physPath`
    * (Nil = a whole top-level schema). */
  def logicalizeType(t: DataType, physPath: Seq[String]): DataType = t match {
    case s: StructType => StructType(s.fields.map { f =>
      val p = physPath :+ f.name
      f.copy(name = logicalLeafOf(p), dataType = logicalizeType(f.dataType, p))
    })
    case other => other
  }

  /** Inverse of [[logicalize]]: rename fields logical→physical
    * recursively; subset-safe. */
  def physicalize(st: StructType): StructType =
    if (!hasRenames) st
    else physicalizeType(st, Nil).asInstanceOf[StructType]

  /** [[physicalize]] for a type whose PARENT physical path is
    * `physPath` (Nil = a whole top-level schema). */
  def physicalizeType(t: DataType, physPath: Seq[String]): DataType = t match {
    case s: StructType => StructType(s.fields.map { f =>
      val pl = physicalLeafOf(physPath, f.name)
      f.copy(name = pl, dataType = physicalizeType(f.dataType, physPath :+ pl))
    })
    case other => other
  }

  /** Whether any struct member under top-level PHYSICAL column `phys`
    * carries a nested rename (the read/write boundaries use this to
    * leave untouched columns on the fast path). */
  def hasNestedRenamesUnder(phys: String): Boolean =
    meta.nestedRenames.keysIterator.exists(_.startsWith(phys + "."))

  def primaryKeys: Seq[String] = meta.primaryKeys
  /** Columns with per-file min/max manifest stats: primary keys (the
    * reference's rule) plus any declared extra stats fields. */
  def statsColumns: Seq[String] = (meta.primaryKeys ++ meta.statsFields).distinct
  def recordFields: Seq[String] = meta.recordFields

  /** Resolve a manifest path: table-root-relative normally; absolute
    * paths pass through (zero-copy-ingested EXTERNAL files live outside
    * the table root, loaders/parquet.py:30-74 semantics). */
  def absolute(rel: String): String = Storage.absolute(rootPath, rel)

  // ---------------------------------------------------------------- IO

  def readString(rel: String): String = {
    val in = fs.open(new Path(rootPath, rel))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Write a new metadata, change-log or DV file in place and return
    * `rel`. Each has a fresh UUID name and no reader opens it before the
    * entry point names it, so it needs no temp-then-rename. */
  private def writeNew(rel: String, content: String): String = {
    Storage.createExclusive(fs, new Path(rootPath, rel),
      content.getBytes(StandardCharsets.UTF_8))
    rel
  }

  /** Write-temp-then-rename, for the entry point: the one file that is
    * replaced. On local filesystems the rename is a true POSIX atomic
    * replace (no visibility window); on Hadoop FSes it degrades to
    * delete-then-rename with the same documented small window as the
    * reference (fs/arrow.py:46-49). */
  private def writeStringAtomic(rel: String, content: String): Unit = {
    val dst = new Path(rootPath, rel)
    val tmp = new Path(rootPath, rel + ".tmp-" + java.util.UUID.randomUUID())
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val scheme = Option(dst.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      if (fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"rename $tmp -> $dst failed")
    }
  }

  // ------------------------------------------------------------ loading

  def reload(): Unit = {
    val ep = MetadataJson.readEntryPoint(readString(StoragePaths.EntryPointFile))
    metaFilePath = ep.metadataFile
    meta = MetadataJson.readMetadata(readString(ep.metadataFile))
  }

  // ----------------------------------------------------------- versions

  def branchHead(branch: String): Long =
    if (branch == SnapshotRef.MainBranch) meta.currentSnapshotId
    else meta.refs.get(branch) match {
      case Some(r) if r.refType == SnapshotRef.Branch => r.snapshotId
      case _ => throw new IllegalArgumentException(s"branch $branch not found")
    }

  /** tag/branch name, numeric snapshot id, or ISO-8601 timestamp
    * (`2026-08-13T01:00:00Z` → latest snapshot at or before it) →
    * snapshot id (storage.py:224-236, plus TIMESTAMP-AS-OF parity with
    * the SQL path). */
  def versionToSnapshotId(version: String): Long =
    meta.refs.get(version).map(_.snapshotId).getOrElse {
      if (version == SnapshotRef.MainBranch) meta.currentSnapshotId
      else try version.toLong catch {
        case _: NumberFormatException =>
          try snapshotIdAtTimestamp(java.time.Instant.parse(version).toEpochMilli)
          catch {
            case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"version $version is not a tag, branch, snapshot id, " +
                  "or ISO-8601 timestamp")
          }
      }
    }

  /** Latest snapshot created at or before `cutoffMs` — the
    * `TIMESTAMP AS OF` rule, shared by the SQL catalog and the API read
    * path. Ties on createTimeMs resolve to the higher snapshot id. */
  def snapshotIdAtTimestamp(cutoffMs: Long): Long = {
    val eligible = meta.snapshots.values.filter(_.createTimeMs <= cutoffMs)
    require(eligible.nonEmpty,
      s"no snapshot of $location exists at or before timestamp $cutoffMs ms")
    eligible.maxBy(s => (s.createTimeMs, s.snapshotId)).snapshotId
  }

  def snapshotOrFail(id: Long): Snapshot = meta.snapshot(id).getOrElse(
    throw new IllegalArgumentException(s"snapshot $id not found"))

  /** (snapshotId, parent, createTimeMs, tagOrBranchNames) rows, newest
    * first — the versions() table (storage.py:410-443). */
  def versions: Seq[(Long, Option[Long], Long, Seq[String])] = {
    val refsBySnapshot = meta.refs.values.toSeq.groupBy(_.snapshotId)
    meta.snapshots.values.toSeq.sortBy(-_.createTimeMs).map { s =>
      (s.snapshotId, s.parentSnapshotId, s.createTimeMs,
        refsBySnapshot.getOrElse(s.snapshotId, Nil).map(_.name).sorted)
    }
  }

  // ------------------------------------------------------------- mutate

  /** The one writer of table metadata: under the commit lock, reload the
    * current metadata, apply `edit` to it, stamp `lastUpdateTimeMs`,
    * persist the result (a new metadata file, then the entry point) and
    * return `edit`'s result. An edit that returns its input unchanged
    * persists nothing. Snapshot commits, schema evolution, refs,
    * rollback, snapshot expiry and rebucket are all edits passed here,
    * and no other code writes metadata, so a mutation from a stale
    * handle applies to the latest metadata and never overwrites what
    * was committed since the handle loaded. `edit` runs after the
    * reload: this handle's accessors (`schema`, `branchHead`, ...) read
    * the same metadata it receives. */
  private[core] def mutate[A](edit: StorageMetadata => (StorageMetadata, A)): A =
    withCommitLock {
      reload()
      val (next, result) = edit(meta)
      if (next ne meta) persist(next.copy(lastUpdateTimeMs = System.currentTimeMillis()))
      result
    }

  /** [[mutate]] for an edit with no result. */
  private def update(edit: StorageMetadata => StorageMetadata): Unit =
    mutate(m => (edit(m), ()))

  private def persist(newMeta: StorageMetadata): Unit = {
    val newFile = writeNew(StoragePaths.newMetadataFile(), MetadataJson.write(newMeta))
    writeStringAtomic(StoragePaths.EntryPointFile, MetadataJson.write(EntryPoint(newFile)))
    meta = newMeta
    metaFilePath = newFile
  }

  // ------------------------------------------------------------- schema
  //
  // Every schema change addresses a column by its LOGICAL path: a
  // top-level column is a path of length 1, a struct member the path of
  // struct names down to it (Iceberg's full-name addressing). Each step
  // resolves against the renames at its depth ([[physicalPathOf]]), and
  // the physical struct is edited through [[Storage.editStruct]].

  /** Physical path of the LOGICAL `path`. Every step must round-trip to
    * its given logical name, so a renamed column's stale physical name
    * never resolves. */
  private def resolvePath(path: Seq[String]): Vector[String] = {
    val phys = physicalPathOf(path).toVector
    phys.indices.foreach { i =>
      require(logicalLeafOf(phys.take(i + 1)) == path(i),
        s"column ${path.take(i + 1).mkString(".")} not found")
    }
    phys
  }

  /** [[Storage.editStruct]] on the current schema at physical `parent`;
    * `logicalParent` names it in the error. */
  private def editSchema[A](parent: Seq[String], logicalParent: Seq[String])(
      edit: StructType => (StructType, A)): (StructType, A) =
    Storage.editStruct(schema, parent)(edit).getOrElse(throw new IllegalArgumentException(
      s"no struct column ${logicalParent.mkString(".")}"))

  /** The existing column at LOGICAL `path`: its physical path and the
    * struct holding it. */
  private def locate(path: Seq[String]): (Vector[String], StructType) = {
    require(path.nonEmpty, "empty column path")
    val phys = resolvePath(path)
    val parent = editSchema(phys.init, path.init)(st => (st, st))._2
    require(parent.fieldNames.contains(phys.last), s"column ${path.mkString(".")} not found")
    (phys, parent)
  }

  /** Edit the rename map that holds the entry for physical path
    * `physPath`: [[StorageMetadata.renames]] at depth 1,
    * [[StorageMetadata.nestedRenames]] below. Both key an entry by the
    * dotted physical path. */
  private def editRenames(m: StorageMetadata, physPath: Seq[String])(
      edit: Map[String, String] => Map[String, String]): StorageMetadata =
    if (physPath.lengthCompare(1) == 0) m.copy(renames = edit(m.renames))
    else m.copy(nestedRenames = edit(m.nestedRenames))

  /** Metadata-only ADD COLUMN: append a NULLABLE field to the struct at
    * LOGICAL `parent` (empty = the top level). Existing data files are
    * untouched: reads null-fill the field (schema-on-read; Spark's
    * parquet reader clips nested requested schemas by name). Field ids
    * are never reused: [[FieldIds.assign]] continues from the
    * consumed-id watermark. The whole table, every snapshot and time
    * travel included, reads with the evolved schema. Stats fields are
    * declared at creation, so an added column carries none. */
  def addColumn(parent: Seq[String], field: StructField): Unit = {
    require(field.nullable, s"added column ${field.name} must be nullable " +
      "(existing files null-fill it)")
    update { m =>
      val parentPhys = resolvePath(parent)
      val start = nextFieldId
      val dropped = (leaf: String) =>
        m.droppedColumns.contains((parentPhys :+ leaf).mkString("."))
      val (newSchema, physLeaf) = editSchema(parentPhys, parent) { st =>
        val logicalHere = st.fields.map(f => logicalLeafOf(parentPhys :+ f.name))
        require(!logicalHere.contains(field.name),
          s"column ${(parent :+ field.name).mkString(".")} already exists")
        // a name that was EVER dropped here, or that is still a renamed
        // field's PHYSICAL name, gets a generated physical name and a
        // rename entry: old files hold data under the original name, and
        // name-based parquet reads must never resurrect or alias those
        // bytes into the new field. The generated name dodges live
        // physical and logical names and every ever-dropped name (a
        // dropped user field literally named "x_f7" would otherwise
        // resurrect its bytes into the re-added field).
        val physLeaf =
          if (!dropped(field.name) && !st.fieldNames.contains(field.name)) field.name
          else Iterator.from(0)
            .map(i => s"${field.name}_f$start" + (if (i == 0) "" else s"_$i"))
            .find(c => !st.fieldNames.contains(c) && !logicalHere.contains(c) &&
              !dropped(c)).get
        val assigned = FieldIds.assign(StructType(Seq(field.copy(name = physLeaf))), start)
        (StructType(st.fields ++ assigned.fields), physLeaf)
      }
      val key = (parentPhys :+ physLeaf).mkString(".")
      val renamed =
        if (physLeaf == field.name) m
        else editRenames(m, parentPhys :+ physLeaf)(_ + (key -> field.name))
      // the added field consumes ids start..start+consumed-1 (the
      // whole-schema maxAssignedId formula assumes contiguous subtree
      // spans, which nested adds break)
      renamed.copy(schemaJson = newSchema.json,
        maxFieldId = start + FieldIds.consumedIds(StructType(Seq(field))) - 1)
    }
  }

  /** Metadata-only RENAME COLUMN (column-mapping "name mode"): data
    * files keep the physical name forever; only the rename entry, keyed
    * by the full physical path, changes. Pruning is untouched because
    * manifest stats are keyed by FIELD ID, not name. `path` is the
    * column's current LOGICAL path. */
  def renameColumn(path: Seq[String], to: String): Unit = update { m =>
    val (phys, parent) = locate(path)
    require(path.last != to, "rename to the same name")
    val logicalSiblings = parent.fields.map(f => logicalLeafOf(phys.init :+ f.name))
    require(!logicalSiblings.contains(to),
      s"column ${(path.init :+ to).mkString(".")} already exists")
    // a new logical name may not shadow a DIFFERENT field's physical
    // name either: writes resolve logical→physical by name
    require(to == phys.last || !parent.fieldNames.contains(to),
      s"$to collides with an existing physical column name")
    val key = phys.mkString(".")
    editRenames(m, phys)(r =>
      if (to == phys.last) r - key // renamed back to the original
      else r + (key -> to))
  }

  /** Metadata-only DROP COLUMN: the field (subtree) leaves the schema.
    * Reads stop requesting it (compaction/clustering rewrites shed the
    * bytes), its ids are retired forever via
    * [[StorageMetadata.maxFieldId]], its stats and rename entries are
    * cleaned up, and its physical path joins
    * [[StorageMetadata.droppedColumns]] so a later re-add of the same
    * name never resurrects old files' bytes. A drop may not empty its
    * parent, and a top-level column the layout names (primary key,
    * record field, bucket or write-cluster column) cannot be dropped.
    * `path` is the column's current LOGICAL path. */
  def dropColumn(path: Seq[String]): Unit = update { m =>
    val (phys, parent) = locate(path)
    val name = path.mkString(".")
    val key = phys.mkString(".")
    if (phys.lengthCompare(1) == 0) {
      require(!m.primaryKeys.contains(key), s"cannot drop primary key $name")
      require(!m.recordFields.contains(key), s"cannot drop record field $name")
      require(!m.bucketColumns.contains(key), s"cannot drop bucket column $name")
      require(!m.writeClusterBy.contains(key), s"cannot drop write-cluster column $name")
    }
    require(parent.fields.length > 1, s"cannot drop $name: a drop may not empty its " +
      (if (path.lengthCompare(1) == 0) "table" else s"struct ${path.init.mkString(".")}"))
    val (newSchema, _) = editSchema(phys.init, path.init)(st =>
      (StructType(st.fields.filterNot(_.name == phys.last)), ()))
    val cleaned = editRenames(m, phys)(_ - key)
    cleaned.copy(
      schemaJson = newSchema.json,
      statsFields = m.statsFields.filterNot(s => s == key || s.startsWith(key + ".")),
      nestedRenames = cleaned.nestedRenames.filterNot(_._1.startsWith(key + ".")),
      maxFieldId = math.max(m.maxFieldId, FieldIds.maxAssignedId(schema)),
      droppedColumns = (m.droppedColumns :+ key).distinct)
  }

  /** Metadata-only TYPE WIDENING: promote a column (or struct member)
    * to a wider type — the safe promotions `int→bigint`, `int→double`,
    * `float→double`. No byte of data is rewritten: Spark 4's parquet
    * readers (vectorized and row-based) widen INT32/FLOAT values to the
    * requested LONG/DOUBLE at scan time, for top-level and nested
    * fields alike, with filter pushdown intact (probed on this build;
    * SPARK-40876 is the upstream feature). The field keeps its id, so
    * manifest stats (`_STATS_f<id>` structs, themselves widened on
    * read by the same mechanism), renames, and pruning stay keyed
    * correctly; NEW files and manifests simply write the wider type.
    * Membership pruning hashes per-FILE physical types
    * ([[BloomPruning]]), so old files' blooms/dictionaries keep
    * engaging after the widen. Bucket columns cannot widen — the
    * murmur3 bucket hash of an int differs from the same value hashed
    * as long, which would break the layout contract.
    *
    * Dependent AGGREGATE VIEWS: a view's partial-state schema was
    * derived from the pre-widen type; the table holds no
    * back-references to its views, so the widen cannot be blocked
    * here — the view's next refresh detects the mismatch and fails
    * with recreate guidance instead of truncating silently
    * ([[graft.views.AggregateView]], ADVICE r11).
    *
    * `path` is the column's current LOGICAL path. */
  def widenColumn(path: Seq[String], newType: DataType): Unit = update { m =>
    val (phys, _) = locate(path)
    val name = path.mkString(".")
    if (phys.lengthCompare(1) == 0) {
      require(!m.recordFields.contains(phys.head), s"cannot widen record field $name")
      require(!m.bucketColumns.contains(phys.head),
        s"cannot widen bucket column $name: the bucket hash of the " +
          "widened type differs, which would break the bucket layout")
    }
    val (newSchema, _) = editSchema(phys.init, path.init) { st =>
      val idx = st.fieldNames.indexOf(phys.last)
      val f = st.fields(idx)
      val ok = (f.dataType, newType) match {
        case (org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.LongType) => true
        case (org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.DoubleType) => true
        case (org.apache.spark.sql.types.FloatType,
              org.apache.spark.sql.types.DoubleType) => true
        case _ => false
      }
      require(ok, s"unsupported type widening ${f.dataType.simpleString} -> " +
        s"${newType.simpleString} for $name (supported: " +
        "int->bigint, int->double, float->double)")
      // copy keeps the field-id metadata: stats/pruning stay keyed
      (StructType(st.fields.updated(idx, f.copy(dataType = newType))), ())
    }
    m.copy(schemaJson = newSchema.json)
  }

  /** First field id not yet handed out: past both the live schema's ids
    * and the high-water mark left by dropped columns (never reuse). */
  private def nextFieldId: Int =
    math.max(meta.maxFieldId, FieldIds.maxAssignedId(schema)) + 1

  // --------------------------------------------------------------- refs

  /** Is `ancestor` on `of`'s parent chain (inclusive)? The shared walk
    * behind [[rollback]]'s forward guard and [[fastForward]]'s inverse
    * one — one definition so a future cycle/expiry fix hits both. */
  @annotation.tailrec
  private def isAncestor(ancestor: Long, of: Long): Boolean =
    ancestor == of || (snapshotOrFail(of).parentSnapshotId match {
      case Some(p) => isAncestor(ancestor, p)
      case None => false
    })

  /** Reset `branch`'s head to an ANCESTOR snapshot — a metadata-only
    * undo (Iceberg's rollback semantics; the reference has no undo op).
    * The abandoned descendant snapshots stay readable by id/tag until
    * snapshot expiry + GC reclaim them, and snapshot ids are never
    * reused (`maxSnapshotId` is a high-water mark), so the next commit
    * continues from the restored head under a fresh id. Restricting the
    * target to the branch's own parent chain keeps its history linear —
    * jumping to an arbitrary snapshot would silently splice another
    * branch's lineage into this one's CDC feed. */
  def rollback(snapshotId: Long, branch: String = SnapshotRef.MainBranch): Unit =
    update { m =>
      val head = branchHead(branch)
      require(snapshotId != head, s"branch $branch is already at snapshot $snapshotId")
      require(isAncestor(ancestor = snapshotId, of = head),
        s"snapshot $snapshotId is not an ancestor of $branch head $head")
      moveHead(m, branch, snapshotId)
    }

  /** Fast-forward `branch` to the head of `toBranch` — the publish step
    * of a write-audit-publish flow: stage writes on an audit branch,
    * validate them there, then move the consuming branch up in one
    * metadata-only operation. The inverse guard of [[rollback]]:
    * `branch`'s head must be an ANCESTOR of `toBranch`'s head, so the
    * move only appends already-committed audited snapshots — histories
    * stay linear and the CDC feed never splices an unrelated lineage. */
  def fastForward(branch: String, toBranch: String): Unit =
    update { m =>
      val target = branchHead(toBranch)
      val head = branchHead(branch)
      // already at the target head: an idempotent no-op, not an error —
      // an unchanged-audit publish or a retried WAP publish step must
      // succeed silently; require failures are for non-ancestor moves
      if (target == head) m
      else {
        require(isAncestor(ancestor = head, of = target),
          s"$branch head $head is not an ancestor of $toBranch head $target " +
            "— fast-forward would rewrite history; use rollback for that")
        moveHead(m, branch, target)
      }
    }

  /** `m` with `branch`'s head moved to `snapshotId`: the one head move
    * of commits, [[rollback]] and [[fastForward]]. */
  private def moveHead(m: StorageMetadata, branch: String, snapshotId: Long): StorageMetadata =
    if (branch == SnapshotRef.MainBranch) m.copy(currentSnapshotId = snapshotId)
    else m.copy(refs = m.refs + (branch -> SnapshotRef(branch, SnapshotRef.Branch, snapshotId)))

  def addTag(name: String, snapshotId: Option[Long] = None): Unit =
    addRef(name, SnapshotRef.Tag, snapshotId)

  def addBranch(name: String, snapshotId: Option[Long] = None): Unit =
    addRef(name, SnapshotRef.Branch, snapshotId)

  private def addRef(name: String, refType: String, snapshotId: Option[Long]): Unit =
    update { m =>
      require(name != SnapshotRef.MainBranch, s"ref name $name is reserved")
      require(!m.refs.contains(name), s"ref $name already exists")
      val id = snapshotId.getOrElse(m.currentSnapshotId)
      snapshotOrFail(id)
      m.copy(refs = m.refs + (name -> SnapshotRef(name, refType, id)))
    }

  def removeRef(name: String): Unit = update { m =>
    require(m.refs.contains(name), s"ref $name not found")
    m.copy(refs = m.refs - name)
  }

  /** Remove a tag; fails if `name` is missing or is a branch
    * (storage.py:287-289, 298-307). */
  def removeTag(name: String): Unit = removeTypedRef(name, SnapshotRef.Tag)

  /** Remove a branch; fails if `name` is missing, is a tag, or is the
    * main branch (storage.py:291-296). The caller (SpaceDataset) also
    * guards against removing its current read/write branch. */
  def removeBranch(name: String): Unit = {
    require(name != SnapshotRef.MainBranch, "cannot remove the main branch")
    removeTypedRef(name, SnapshotRef.Branch)
  }

  private def removeTypedRef(name: String, refType: String): Unit = update { m =>
    val ref = m.refs.getOrElse(name,
      throw new IllegalArgumentException(s"ref $name not found"))
    require(ref.refType == refType, s"ref $name is a ${ref.refType}, not a $refType")
    m.copy(refs = m.refs - name)
  }

  // ------------------------------------------------------------- commit

  /** Apply a patch as a new snapshot on `branch` (storage.py:315-367),
    * on top of the latest metadata. Returns the new snapshot id. No
    * conflict check: use [[transaction]] for the optimistic one. */
  def commit(patch: Patch, branch: String = SnapshotRef.MainBranch): Long =
    mutate(applyPatch(_, patch, branch))

  /** The snapshot-commit edit: the new snapshot's manifests, change-log
    * and DV files, the exactly-once tag, the layout switch of a
    * rebucket and the head move. Returns the new snapshot id. */
  private def applyPatch(m: StorageMetadata, patch: Patch, branch: String)
      : (StorageMetadata, Long) = {
    // exactly-once writer guard, before any file is written: it runs on
    // freshly reloaded metadata under the lock, so a duplicate delivery
    // can NEVER double-commit — the typed exception lets appendOnce
    // resolve a concurrent redelivery to its documented None result
    patch.txn.foreach { t =>
      if (m.txnVersions.getOrElse(t.appId, Long.MinValue) >= t.version)
        throw new DuplicateTransactionException(t.appId, t.version)
    }
    val baseId = branchHead(branch)
    val base = snapshotOrFail(baseId)
    val newId = m.maxSnapshotId + 1

    // _patch_manifests (storage.py:513-535): removals must exist exactly once.
    def patched(current: List[String], added: List[String], removed: List[String]): List[String] = {
      val cur = current.toSet
      removed.foreach(r => require(cur.contains(r), s"manifest to remove not present: $r"))
      (current.filterNot(removed.toSet) ++ added).distinct
    }
    val manifests = ManifestFiles(
      patched(base.manifestFiles.indexManifestFiles, patch.addedIndexManifests, patch.removedIndexManifests),
      patched(base.manifestFiles.recordManifestFiles, patch.addedRecordManifests, patch.removedRecordManifests))

    val changeLogFile = patch.changeLog.map(cl =>
      writeNew(StoragePaths.newChangeLogFile(), MetadataJson.write(cl)))

    // merge-on-read delete vectors: fold the patch's vector edits into
    // the parent's consolidated set; write a new DV file only when the
    // set actually changed (appends inherit the parent's file pointer)
    val parentDvs = deleteVectors(baseId)
    val dvFile =
      if (patch.dvAdded.isEmpty &&
          // a removal that names no live entry is a no-op
          !patch.dvRemoved.exists(parentDvs.contains))
        base.deleteVectorFile
      else {
        val next = (parentDvs -- patch.dvRemoved) ++ patch.dvAdded
        if (next.isEmpty) None
        else Some(writeNew(StoragePaths.newDeleteVectorFile(), MetadataJson.write(
          DeleteVectors(next.toList.sortBy(_._1).map(_._2)))))
      }

    // a rebucket's snapshot starts a NEW layout epoch (stamped with its
    // own id); every other commit inherits its parent's, so layout
    // claims follow COMMIT LINEAGE, not raw id order (see
    // [[graft.format.Snapshot.bucketLayoutId]])
    val snap = Snapshot(newId, Some(baseId), System.currentTimeMillis(), manifests,
      base.storageStatistics + patch.statsDelta, changeLogFile, dvFile, patch.txn,
      bucketLayoutId = if (patch.bucketLayout.isDefined) newId else base.bucketLayoutId)
    val withSnap = m.copy(
      snapshots = m.snapshots + (newId.toString -> snap),
      maxSnapshotId = newId,
      manifestSummaries = m.manifestSummaries ++ patch.manifestSummaries,
      txnVersions = patch.txn.fold(m.txnVersions)(t =>
        m.txnVersions + (t.appId -> t.version)),
      mvSourceSnapshotId = patch.sourceSnapshotId.orElse(m.mvSourceSnapshotId),
      mvSourceSnapshotIds =
        if (patch.sourceSnapshotIds.isEmpty) m.mvSourceSnapshotIds
        else m.mvSourceSnapshotIds ++ patch.sourceSnapshotIds)
    val relaid = patch.bucketLayout.fold(withSnap) { case (cols, counts) =>
      withSnap.copy(
        bucketColumns = cols.toList,
        bucketCounts = counts.toList,
        numBuckets = counts.product,
        bucketLayoutSince = newId,
        currentBucketLayoutId = newId,
        // retire the outgoing layout into history (if bucketed): pure
        // old-epoch snapshots keep EXACT pruning/SPJ under their own
        // layout; column types pinned so a later widen of a re-keyed-
        // away column disengages instead of probing wrong hashes
        bucketLayoutHistory =
          if (m.numBuckets == 0) m.bucketLayoutHistory
          else m.bucketLayoutHistory + (m.currentBucketLayoutId.toString ->
            BucketLayoutSpec(m.bucketColumns, m.bucketCounts, m.numBuckets,
              m.bucketColumns.map(c => schema(c).dataType.catalogString))))
    }
    (moveHead(relaid, branch, newId), newId)
  }

  /** Optimistic transaction: pin the branch head, run the (distributed,
    * lock-free) op, then under a short commit lock re-check the head and
    * commit (storage.py:545-596 semantics, hardened: the reference's
    * check-then-flip is racy between writers — storage.py:317-319 admits
    * single-writer; the exclusive-create lock file makes the final
    * check+flip mutually exclusive, so concurrent writers serialize
    * instead of silently losing commits).
    *
    * Conflict is adjudicated with Iceberg-style policies (beyond the
    * reference's single-winner-per-head):
    *
    *  - [[ConflictPolicy.Append]]: the patch only ADDS manifests — valid
    *    against any head; concurrent appends serialize under the lock
    *    and never abort.
    *  - [[ConflictPolicy.Rewrite]]: CoW rewrites of specific files
    *    (delete/update/compact/cluster) — valid iff every manifest the
    *    patch removes still exists in the CURRENT head
    *    (first-committer-wins on overlapping files; disjoint rewrites
    *    and concurrent appends commit side by side). Snapshot-isolation
    *    caveat: rows appended concurrently are not seen by the rewrite —
    *    the outcome equals the serial order rewrite-then-append.
    *  - [[ConflictPolicy.Strict]]: patch validity depends on the whole
    *    table state read at pin time (PK dup checks, key matching,
    *    whole-table overwrite) — any head movement invalidates it.
    *
    * A patch built BEFORE the transaction (a zero-copy load, a streaming
    * commit) does not depend on the pinned head, so it commits with
    * Append: under Strict a retry would re-pin and commit the same patch
    * anyway, after a needless abort.
    *
    * Under every policy, a patch whose new files were written under a
    * bucket layout epoch a rebucket has since replaced
    * ([[graft.format.Patch.layoutEpoch]]) is invalid: an op that writes
    * inside `op` re-runs under the new layout; a patch prepared before
    * the transaction fails the same way on every attempt.
    *
    * An invalid patch aborts the attempt and `op` RE-RUNS from the new
    * head, up to `maxRetries` times (data files written by a failed
    * attempt are unreferenced and reaped by [[GcOps.garbageCollect]]);
    * retries exhausted → [[ConcurrentCommitException]]. A commit-lock
    * timeout is not retried ([[CommitLockTimeoutException]]). */
  def transaction[T](
      branch: String = SnapshotRef.MainBranch,
      policy: ConflictPolicy = ConflictPolicy.Strict,
      maxRetries: Int = 3)(
      op: Long => (Option[Patch], T)): T = {
    var result: Option[T] = None
    commitTransaction(branch, policy, maxRetries) { pinned =>
      val (patch, t) = op(pinned)
      result = Some(t)
      patch
    }
    result.get
  }

  /** [[transaction]] whose RESULT is the snapshot id the commit actually
    * produced (under the lock), or the branch head at lock time when the
    * op yields no patch (no-op mutation). Callers must use this — never
    * precompute `maxSnapshotId + 1` inside op: under the Append/Rewrite
    * policies a racing writer can take that id first, and the precomputed
    * value would name the OTHER writer's snapshot. */
  def commitTransaction(
      branch: String = SnapshotRef.MainBranch,
      policy: ConflictPolicy = ConflictPolicy.Strict,
      maxRetries: Int = 3)(
      op: Long => Option[Patch]): Long = {
    var attempt = 0
    while (true) {
      reload()
      val pinned = branchHead(branch)
      val patch = op(pinned)
      try {
        return mutate { m =>
          val head = branchHead(branch)
          val valid = head == pinned || (policy match {
            case ConflictPolicy.Append => true
            case ConflictPolicy.Rewrite =>
              val mf = snapshotOrFail(head).manifestFiles
              patch.forall { p =>
                p.removedIndexManifests.forall(mf.indexManifestFiles.contains) &&
                  p.removedRecordManifests.forall(mf.recordManifestFiles.contains) && {
                    // merge-on-read vector edits: valid iff (a) no index
                    // manifest was removed since pin (a concurrent CoW/
                    // compact rewrite could have replaced a file this
                    // vector targets) and (b) the HEAD's vector for each
                    // touched file is exactly what the op observed and
                    // merged with — a concurrent MoR delete of the same
                    // file would otherwise have its rows silently
                    // dropped from the last-writer's merged vector.
                    p.dvAdded.isEmpty || {
                      val pinnedMf = snapshotOrFail(pinned).manifestFiles
                      val headDvs = deleteVectors(head)
                      pinnedMf.indexManifestFiles.forall(mf.indexManifestFiles.contains) &&
                        p.dvAdded.keys.forall(f =>
                          headDvs.get(f).flatMap(_.bitmapB64) ==
                            p.dvObserved.getOrElse(f, None))
                    }
                  } && {
                    // the INVERSE interleave: a CoW/maintenance rewrite
                    // (removes manifests) computed its survivors against
                    // the PINNED snapshot's vectors — if a concurrent
                    // MoR delete changed ANY vector since pin, the
                    // rewrite could resurrect its soft-deleted rows (the
                    // CoW-vs-CoW analogue aborts via the manifest check
                    // above; MoR removes no manifests, so it must be
                    // caught here). Comparing whole vector SETS is
                    // coarser than per-file but lock-cheap; an abort
                    // just re-runs the op from the fresh head.
                    p.removedIndexManifests.isEmpty ||
                      deleteVectors(pinned) == deleteVectors(head)
                  }
              }
            case ConflictPolicy.Strict => false
          })
          if (!valid)
            throw new ConcurrentCommitException(
              s"abort commit: branch $branch moved from snapshot $pinned to $head " +
                s"and the $policy patch no longer applies")
          patch.flatMap(_.layoutEpoch).filter(_ != m.currentBucketLayoutId).foreach { e =>
            throw new ConcurrentCommitException(
              s"abort commit: files written under bucket layout epoch $e, but a " +
                s"rebucket moved the table to epoch ${m.currentBucketLayoutId}")
          }
          patch.fold((m, head))(applyPatch(m, _, branch))
        }
      } catch {
        case e: ConcurrentCommitException
            if attempt < maxRetries && !e.isInstanceOf[CommitLockTimeoutException] =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private val lockPath = new Path(rootPath, s"${StoragePaths.MetadataDir}/commit.lock")

  /** Steal a lock only after it has sat untouched this long. The locked
    * critical section is metadata-only IO (reload + commit, milliseconds)
    * — the threshold is orders of magnitude above worst case, so a steal
    * means the holder died, not that it is slow. */
  private val LockStaleMs = 300000L

  private def readLockToken(): Option[String] =
    try {
      val in = fs.open(lockPath)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Exclusive-create ([[Storage.createExclusive]]) lock file carrying
    * an OWNERSHIP TOKEN; taken only by [[mutate]].
    *
    * Stale locks (crashed writer) are stolen after [[LockStaleMs]] via
    * RENAME — only one concurrent stealer's rename succeeds, so two
    * stealers never both proceed. Release deletes the lock only while it
    * still holds our token: a holder that somehow outlived the stale
    * window cannot delete the stealer's lock out from under it. */
  private def withCommitLock[A](body: => A): A = {
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + 30000L
    var acquired = false
    while (!acquired) {
      try {
        Storage.createExclusive(fs, lockPath, token.getBytes(StandardCharsets.UTF_8))
        acquired = true
      } catch {
        case _: java.io.IOException => // includes FileAlreadyExistsException
          try {
            val age = System.currentTimeMillis() - fs.getFileStatus(lockPath).getModificationTime
            if (age > LockStaleMs) {
              // rename-to-steal: at most one stealer wins the rename; a
              // holder releasing concurrently just makes the rename fail
              val stale = new Path(lockPath.getParent,
                lockPath.getName + ".stale-" + java.util.UUID.randomUUID())
              if (fs.rename(lockPath, stale)) fs.delete(stale, false)
            }
          } catch { case _: java.io.IOException => /* lock vanished: retry */ }
          if (System.currentTimeMillis() > deadline)
            throw new CommitLockTimeoutException(s"commit lock timeout at $lockPath")
          Thread.sleep(20L)
      }
    }
    try body finally {
      // ownership check: delete only OUR lock (ADVICE r1 — without it a
      // slow holder whose lock was stolen would delete the stealer's)
      if (readLockToken().contains(token)) fs.delete(lockPath, false)
    }
  }

  def changeLog(snapshotId: Long): Option[ChangeLog] =
    snapshotOrFail(snapshotId).changeLogFile.map(f => MetadataJson.readChangeLog(readString(f)))

  /** The consolidated merge-on-read delete vectors of a snapshot:
    * data-file relative path → dead-row bitmap entry. Empty for
    * copy-on-write-only tables (the common case — one metadata field
    * check, no IO). DV files are immutable, so loads cache process-wide
    * by absolute path. */
  def deleteVectors(snapshotId: Long): Map[String, RowBitmap] =
    snapshotOrFail(snapshotId).deleteVectorFile match {
      case None => Map.empty
      case Some(f) => Storage.dvCacheGet(absolute(f), () =>
        MetadataJson.readDeleteVectors(readString(f))
          .vectors.map(v => v.file -> v).toMap)
    }

  /** The snapshot committed under exactly the exactly-once tag
    * (appId, version), if any — lets a replaying writer read the
    * changelog of ITS OWN earlier commit (what that batch actually
    * added) instead of approximating from the redelivered batch.
    * Metadata-plane scan over the snapshot map; None when the tagged
    * commit never happened (e.g. the batch had nothing to append) or
    * predates the per-snapshot tag field. */
  def snapshotIdForTxn(appId: String, version: Long): Option[Long] =
    meta.snapshots.values.collectFirst {
      case s if s.txn.contains(TxnTag(appId, version)) => s.snapshotId
    }

  /** Walk parent pointers from end back to start, exclusive of start
    * (change_data.py:59-84): returns (start, end] in increasing order.
    * Throws [[ExpiredHistoryException]] iff the walk fails AND `startId`
    * no longer exists in metadata (snapshot expiry removed it) — the
    * rebuild-eligible condition; any other failure is a caller bug and
    * throws IllegalArgumentException. */
  def orderedSnapshotIds(startId: Long, endId: Long): Seq[Long] = {
    if (startId == endId) return Nil
    def walkFailed(): Nothing =
      if (meta.snapshot(startId).isEmpty)
        throw new ExpiredHistoryException(
          s"snapshot $startId has been expired from $location — " +
            s"the change walk to $endId is impossible")
      else throw new IllegalArgumentException(
        s"snapshot $startId is not an ancestor of $endId")
    var ids = List.empty[Long]
    var cur = endId
    while (cur != startId) {
      val s = meta.snapshot(cur).getOrElse(walkFailed())
      ids = cur :: ids
      cur = s.parentSnapshotId.getOrElse(walkFailed())
    }
    ids
  }
}

object Storage {

  /** A column name as a path: the top-level column of exactly that
    * name wins (names may contain dots); otherwise dots walk struct
    * members (`meta.price`). Never empty. */
  private[core] def columnPath(schema: StructType, name: String): Seq[String] =
    if (schema.fieldNames.contains(name)) Seq(name) else name.split("\\.", -1).toSeq

  /** The one struct-path walker: descend `parent` (struct member names;
    * empty = the top level) from `st`, hand the struct found there to
    * `edit`, and rebuild the spine around the struct it returns (an
    * unchanged struct is returned as is). None when a step is missing
    * or not a struct. */
  private[core] def editStruct[A](st: StructType, parent: Seq[String])(
      edit: StructType => (StructType, A)): Option[(StructType, A)] =
    parent match {
      case Seq() => Some(edit(st))
      case p +: rest =>
        val idx = st.fields.indexWhere(_.name == p)
        if (idx < 0) None
        else st.fields(idx).dataType match {
          case s: StructType => editStruct(s, rest)(edit).map { case (inner, a) =>
            (if (inner eq s) st
             else StructType(st.fields.updated(idx, st.fields(idx).copy(dataType = inner))), a)
          }
          case _ => None
        }
    }

  /** `rel` resolved against the table root; absolute paths and URIs
    * (zero-copy-ingested external files) pass through. */
  def absolute(root: Path, rel: String): String = {
    val p = new Path(rel)
    if (p.isAbsolute || rel.contains("://")) rel else new Path(root, rel).toString
  }

  /** Process-wide LRU of parsed delete-vector files (immutable once
    * written, like manifests) — a bench/driver process re-loads Storage
    * handles per query and must not re-parse the same DV JSON each time.
    *
    * Weighted by RETAINED BYTES, not entry count (ADVICE r11): each
    * entry is a table's full consolidated vector map, so at the
    * many-table / 100 TB scale an entry-count bound lets the driver
    * heap grow without limit. A map too large to ever fit under the cap
    * is served uncached rather than evicting everything else. */
  private val DvCacheMaxBytes = 256L * 1024 * 1024
  private val dvCache =
    new java.util.LinkedHashMap[String, (Map[String, RowBitmap], Long)](16, 0.75f, true)
  private var dvCacheBytes = 0L
  private object dvCacheLock

  /** Approximate retained heap of one parsed vector map: dominated by
    * the base64 bitmap strings (2 bytes/char) plus per-entry object
    * overhead. */
  private def dvWeight(m: Map[String, RowBitmap]): Long =
    64L + m.iterator.map { case (k, v) =>
      2L * k.length + 2L * v.file.length +
        v.bitmapB64.map(2L * _.length).getOrElse(0L) + 96L
    }.sum

  private[core] def dvCacheGet(k: String, load: () => Map[String, RowBitmap]) =
    dvCacheLock.synchronized {
      val hit = dvCache.get(k)
      if (hit != null) hit._1
      else {
        val v = load()
        val w = dvWeight(v)
        if (w < DvCacheMaxBytes) {
          val it = dvCache.entrySet().iterator()
          while (dvCacheBytes + w > DvCacheMaxBytes && it.hasNext) {
            dvCacheBytes -= it.next().getValue._2
            it.remove()
          }
          dvCache.put(k, (v, w))
          dvCacheBytes += w
        }
        v
      }
    }

  /** Visible for the cache-bound spec. */
  private[graft] def dvCacheRetainedBytes: Long = dvCacheLock.synchronized(dvCacheBytes)
  private[graft] def dvCacheEntryCount: Int = dvCacheLock.synchronized(dvCache.size())

  def create(
      location: String,
      schema: StructType,
      primaryKeys: Seq[String],
      recordFields: Seq[String] = Nil,
      tableType: String = TableType.Dataset,
      logicalPlan: Option[String] = None,
      logicalPlanSubstrait: Option[String] = None,
      statsFields: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      bucketColumns: Seq[String] = Nil,
      numBuckets: Int = 0,
      bucketCounts: Seq[Int] = Nil,
      writeClusterBy: Seq[String] = Nil,
      conf: Configuration = new Configuration()): Storage = {
    SchemaValidation.validate(schema, primaryKeys, recordFields)
    if (bucketCounts.nonEmpty) {
      require(bucketCounts.length == bucketColumns.length,
        s"bucketCounts (${bucketCounts.length}) must align with " +
          s"bucketColumns (${bucketColumns.length})")
      require(bucketCounts.forall(_ >= 1), s"bucket counts must be >= 1: $bucketCounts")
      val product = bucketCounts.map(_.toLong).product
      require(numBuckets == 0 || numBuckets.toLong == product,
        s"numBuckets ($numBuckets) must equal the bucketCounts product ($product)")
      require(product <= 100000, s"bucketCounts product $product exceeds 100000")
    }
    val effectiveNumBuckets =
      if (bucketCounts.nonEmpty) bucketCounts.map(_.toLong).product.toInt else numBuckets
    bloomColumns.foreach { c =>
      val fld = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"bloom column $c not in schema (top-level only)"))
      require(ManifestIO.statsEligible(fld.dataType),
        s"bloom column $c has non-bloom-eligible type ${fld.dataType}")
      require(!recordFields.contains(c), s"record field $c cannot carry a bloom filter")
    }
    require(bucketColumns.isEmpty == (effectiveNumBuckets == 0),
      "bucketColumns and numBuckets must be set together")
    require(effectiveNumBuckets >= 0 && effectiveNumBuckets <= 100000,
      s"bad numBuckets $effectiveNumBuckets")
    bucketColumns.foreach { c =>
      require(schema.fieldNames.contains(c), s"bucket column $c not in schema")
      require(!recordFields.contains(c), s"record field $c cannot be a bucket column")
    }
    statsFields.foreach { f =>
      // dotted names address struct members ("meta.price") — manifest
      // stats and pruning key them by the same physical dotted path
      val fld = ManifestIO.fieldAtPath(schema, f).getOrElse(
        throw new IllegalArgumentException(s"stats field $f not in schema"))
      require(ManifestIO.statsEligible(fld.dataType),
        s"stats field $f has non-stats-eligible type ${fld.dataType}")
      require(!recordFields.contains(f), s"record field $f cannot carry stats")
    }
    require(writeClusterBy.isEmpty || effectiveNumBuckets == 0,
      "write_cluster_by and bucketing are exclusive: a bucketed write's " +
        "partitioning IS the bucket layout")
    writeClusterBy.foreach { c =>
      require(schema.fieldNames.contains(c), s"write-cluster column $c not in schema")
      require(!recordFields.contains(c), s"record field $c cannot write-cluster")
    }
    val withIds = FieldIds.assign(schema)
    val root = new Path(location)
    val fs = root.getFileSystem(conf)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    require(!fs.exists(new Path(root, StoragePaths.EntryPointFile)),
      s"table already exists at $location")
    fs.mkdirs(new Path(root, StoragePaths.ChangesDir))
    fs.mkdirs(new Path(root, StoragePaths.RecordDataDir))

    val now = System.currentTimeMillis()
    val initial = Snapshot(0L, None, now, ManifestFiles(), StorageStatistics(), None)
    val meta = StorageMetadata(
      createTimeMs = now, lastUpdateTimeMs = now, tableType = tableType,
      schemaJson = withIds.json,
      primaryKeys = primaryKeys.toList, recordFields = recordFields.toList,
      statsFields = statsFields.toList, bloomColumns = bloomColumns.toList,
      bucketColumns = bucketColumns.toList, numBuckets = effectiveNumBuckets,
      bucketCounts = bucketCounts.toList,
      writeClusterBy = writeClusterBy.toList,
      currentSnapshotId = 0L, maxSnapshotId = 0L,
      snapshots = Map("0" -> initial), logicalPlan = logicalPlan,
      logicalPlanSubstrait = logicalPlanSubstrait)

    def createFile(rel: String, content: String): Unit = createExclusive(
      fs, new Path(root, rel), content.getBytes(StandardCharsets.UTF_8))
    val metaFile = StoragePaths.newMetadataFile()
    createFile(metaFile, MetadataJson.write(meta))
    // entrypoint birth is EXCLUSIVE: the up-front exists() is
    // check-then-act, so two concurrent creators could both pass it and
    // the second would silently clobber the first's table
    try createFile(StoragePaths.EntryPointFile, MetadataJson.write(EntryPoint(metaFile)))
    catch {
      // only a genuine exists-collision means "lost the race" — other
      // IOExceptions (transient IO, disk full) must surface as what
      // they are, not be misdiagnosed as an existing table
      case e @ (_: java.nio.file.FileAlreadyExistsException |
          _: org.apache.hadoop.fs.FileAlreadyExistsException) =>
        throw new IllegalStateException(
          s"table already exists at $location (lost a concurrent create race)", e)
    }
    new Storage(location, conf)
  }

  def load(location: String, conf: Configuration = new Configuration()): Storage =
    new Storage(location, conf)

  def exists(location: String, conf: Configuration = new Configuration()): Boolean = {
    val root = new Path(location)
    root.getFileSystem(conf).exists(new Path(root, StoragePaths.EntryPointFile))
  }

  /** The one file-creation rule of the metadata layer: create `path`
    * holding `bytes`, failing if it exists. Local scheme uses nio
    * CREATE_NEW (true O_EXCL — Hadoop LocalFileSystem's
    * `create(overwrite=false)` is check-then-create and NOT atomic);
    * remote schemes use create-no-overwrite, atomic at the namenode. */
  private def createExclusive(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit =
    if (Option(path.toUri.getScheme).forall(_ == "file"))
      java.nio.file.Files.write(java.nio.file.Paths.get(path.toUri.getPath), bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    else {
      val out = fs.create(path, false)
      try out.write(bytes) finally out.close()
    }
}
