package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.format.SnapshotRef

/** Regression specs for the round-6 core review findings: stale-handle
  * metadata mutations, duplicate-transaction typing, UTF-8 stats merging,
  * overwrite of record-manifest-only snapshots, external-ingest
  * validation, null record payloads, and exclusive table creation. */
class CoreHardeningSpec extends AnyFunSuite {
  import TestSpark._

  private def freshTable(prefix: String): (String, SpaceDataset) = {
    val docs = Tables.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
    val loc = Files.createTempDirectory(prefix).toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, docs.schema, Seq("doc_id"))
    ds.append(docs)
    (loc, ds)
  }

  /** Every metadata mutation, run from a STALE handle: its edit and the
    * state it must leave. Setup: snapshot 1 holds rows 0..9 and carries
    * tag t0 and branch b0; the concurrent append is the snapshot after.
    * Each schema change runs at depth 1 and, under a `Nested` label, at
    * depth 2. */
  private val staleMutations: Seq[(String, Storage => Unit, (Storage, Long) => Boolean)] = Seq(
    ("addColumn", _.addColumn(Nil, StructField("c", StringType, nullable = true)),
      (st, _) => st.logicalSchema.fieldNames.contains("c")),
    ("addNestedColumn",
      _.addColumn(Seq("s"), StructField("c", IntegerType, nullable = true)),
      (st, _) => st.schema("s").dataType.asInstanceOf[StructType].fieldNames.contains("c")),
    ("renameColumn", _.renameColumn(Seq("v"), "w"),
      (st, _) => st.logicalSchema.fieldNames.toSeq == Seq("id", "w", "s")),
    ("renameNestedColumn", _.renameColumn(Seq("s", "a"), "z"),
      (st, _) => st.metadata.nestedRenames == Map("s.a" -> "z")),
    ("dropColumn", _.dropColumn(Seq("v")),
      (st, _) => st.schema.fieldNames.toSeq == Seq("id", "s")),
    ("dropNestedColumn", _.dropColumn(Seq("s", "b")),
      (st, _) => st.metadata.droppedColumns == List("s.b")),
    ("widenColumn", _.widenColumn(Seq("v"), LongType),
      (st, _) => st.schema("v").dataType == LongType),
    ("addTag", _.addTag("v1"), (st, b) => st.versionToSnapshotId("v1") == b),
    ("addBranch", _.addBranch("dev"), (st, b) => st.branchHead("dev") == b),
    ("removeTag", _.removeTag("t0"), (st, _) => !st.metadata.refs.contains("t0")),
    ("removeBranch", _.removeBranch("b0"), (st, _) => !st.metadata.refs.contains("b0")),
    ("rollback", _.rollback(1L), (st, _) => st.metadata.currentSnapshotId == 1L),
    ("fastForward", _.fastForward("b0", SnapshotRef.MainBranch),
      (st, b) => st.branchHead("b0") == b),
    ("expireSnapshots", GcOps.expireSnapshots(_, olderThanMs = 0L),
      (st, _) => st.metadata.snapshot(0L).isEmpty),
    ("commit", _.commit(graft.format.Patch()),
      (st, b) => st.snapshotOrFail(st.metadata.currentSnapshotId).parentSnapshotId.contains(b)))

  staleMutations.foreach { case (name, mutation, applied) =>
    test(s"$name from a STALE handle must not orphan concurrently committed snapshots") {
      val rows = (lo: Long, hi: Long) => spark.range(lo, hi).select(col("id"),
        col("id").cast("int").as("v"),
        struct(col("id").cast("int").as("a"), col("id").cast("int").as("b")).as("s"))
      val loc = Files.createTempDirectory("graft_hard_stale_").toString + "/tbl"
      val ds = SpaceDataset.create(spark, loc, rows(0, 1).schema, Seq("id"))
      ds.append(rows(0, 10))
      ds.addTag("t0")
      ds.addBranch("b0")
      val stA = Storage.load(loc) // handle A loads
      val dsB = SpaceDataset.load(spark, loc) // a second process's handle
      dsB.append(rows(10, 20)) // B commits AFTER A loaded its metadata
      val snapB = dsB.storage.metadata.currentSnapshotId
      val manifestsB = dsB.storage.snapshotOrFail(snapB).manifestFiles
      mutation(stA) // A mutates from its stale metadata
      val fresh = SpaceDataset.load(spark, loc)
      assert(fresh.storage.metadata.snapshot(snapB).map(_.manifestFiles).contains(manifestsB),
        s"a stale-handle $name overwrote a concurrent commit")
      assert(fresh.read(version = Some(snapB.toString)).count() == 20)
      assert(applied(fresh.storage, snapB), s"the stale-handle $name did not apply")
    }
  }

  test("duplicate transaction tags throw typed; appendOnce resolves them to None") {
    val (loc, ds) = freshTable("graft_hard_txn_")
    val more = Tables.read(spark, sfDir, "documents")
      .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"))
    assert(ds.appendOnce(more, "eo", 1L).isDefined)
    // redelivery through the public API: documented None
    assert(ds.appendOnce(more, "eo", 1L).isEmpty)
    // redelivery racing past the up-front check: the commit-path guard
    // must throw the TYPED exception appendOnce knows how to absorb
    val e = intercept[DuplicateTransactionException] {
      ds.storage.commitTransaction() { _ =>
        Some(graft.format.Patch(txn = Some(graft.format.TxnTag("eo", 1L))))
      }
    }
    assert(e.appId == "eo" && e.version == 1L)
    // the guard runs before the commit writes any file: a duplicate that
    // carries a change log and a delete vector leaves no orphan behind
    def sideFiles = Seq("metadata/changes", "metadata").flatMap(d =>
      Option(new java.io.File(loc, d).list()).toSeq.flatten
        .filter(f => f.startsWith("change_") || f.startsWith("dv_")).map(d + "/" + _)).toSet
    val before = sideFiles
    val bitmap = graft.format.RowBitmap("data/x.parquet", allRows = true, numRows = 1)
    intercept[DuplicateTransactionException] {
      ds.storage.commitTransaction() { _ =>
        Some(graft.format.Patch(txn = Some(graft.format.TxnTag("eo", 1L)),
          changeLog = Some(graft.format.ChangeLog(addedRows = List(bitmap))),
          dvAdded = Map(bitmap.file -> bitmap.copy(allRows = false))))
      }
    }
    assert(sideFiles == before, "a duplicate transaction left change-log or DV files")
  }

  test("string stats merge in UTF-8 binary order, not UTF-16 code-unit order") {
    val bmpMax = "￿"            // U+FFFF: UTF-8 EF BF BF
    val supp = "𐀀"        // U+10000: UTF-8 F0 90 80 80
    // UTF-16 code units say bmpMax > supp (surrogates sort low); UTF-8
    // bytes say supp > bmpMax — the order Spark compares min/max with
    assert(ManifestIO.maxAny(bmpMax, supp) == supp)
    assert(ManifestIO.maxAny(supp, bmpMax) == supp)
    assert(ManifestIO.minAny(bmpMax, supp) == bmpMax)
    assert(ManifestIO.minAny(supp, bmpMax) == bmpMax)
  }

  test("overwrite after a full delete drops dangling record manifests and stats") {
    val docs = Tables.read(spark, sfDir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val loc = Files.createTempDirectory("graft_hard_ow_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, docs.schema, Seq("doc_id"), Seq("payload"))
    ds.append(docs)
    // CoW delete of EVERY row rewrites the index side only: record
    // manifests (and their byte statistics) survive the delete
    ds.delete(lit(true))
    assert(ds.readAll().count() == 0)
    assert(ds.recordManifest().count() > 0, "precondition: record manifests dangle")
    val statsBefore = ds.storage.metadata
      .snapshots(ds.storage.metadata.currentSnapshotId.toString)
      .storageStatistics
    assert(statsBefore.recordUncompressedBytes > 0)

    val replacement = docs.limit(10)
    ds.overwrite(replacement)
    val stats = ds.storage.metadata
      .snapshots(ds.storage.metadata.currentSnapshotId.toString)
      .storageStatistics
    assert(ds.readAll().count() == 10)
    // ONLY the new payload bytes may remain: the dangling pre-delete
    // record manifests and their byte counts must be gone
    val freshBytes = {
      val loc2 = Files.createTempDirectory("graft_hard_ow2_").toString + "/tbl"
      val ds2 = SpaceDataset.create(spark, loc2, docs.schema, Seq("doc_id"), Seq("payload"))
      ds2.append(replacement)
      ds2.storage.metadata.snapshots(ds2.storage.metadata.currentSnapshotId.toString)
        .storageStatistics.recordUncompressedBytes
    }
    assert(stats.recordUncompressedBytes == freshBytes,
      s"record bytes ${stats.recordUncompressedBytes} != fresh-table $freshBytes — " +
        "overwrite left dangling record manifests double-counted")
  }

  test("loadParquet rejects duplicate paths and schema-incompatible files") {
    val loc = Files.createTempDirectory("graft_hard_load_").toString + "/tbl"
    val schema = Tables.read(spark, sfDir, "orders").schema
    val ds = SpaceDataset.create(spark, loc, schema, Seq("o_orderkey"))
    val src = s"$sfDir/orders.parquet"
    val dup = intercept[IllegalArgumentException] {
      ParquetLoader.loadParquet(spark, ds, Seq(src, src))
    }
    assert(dup.getMessage.contains("duplicate"), dup.getMessage)
    // a file missing the table's PK column must be rejected up front
    val bad = intercept[IllegalArgumentException] {
      ParquetLoader.loadParquet(spark, ds, Seq(s"$sfDir/documents.parquet"))
    }
    assert(bad.getMessage.contains("o_orderkey"), bad.getMessage)
    // the valid file still loads
    ParquetLoader.loadParquet(spark, ds, Seq(src))
    assert(ds.readAll().count() == Tables.read(spark, sfDir, "orders").count())
  }

  test("random access returns null for rows with a null record payload") {
    import spark.implicits._
    val rows = Seq((1L, "one".getBytes("UTF-8")), (2L, null), (3L, "three".getBytes("UTF-8")))
      .toDF("id", "payload")
    val loc = Files.createTempDirectory("graft_hard_null_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, rows.schema, Seq("id"), Seq("payload"))
    ds.append(rows.coalesce(1).sortWithinPartitions("id"))
    val ra = new RandomAccessReader(ds, "payload")
    val got = ra.getBatch(Seq(0L, 1L, 2L))
    assert(new String(got(0), "UTF-8") == "one")
    assert(got(1) == null, "null payload must read back as null, not crash")
    assert(new String(got(2), "UTF-8") == "three")
  }

  test("creating a table twice fails instead of clobbering the first") {
    val loc = Files.createTempDirectory("graft_hard_create_").toString + "/tbl"
    val schema = Tables.read(spark, sfDir, "region").schema
    SpaceDataset.create(spark, loc, schema, Seq("r_regionkey"))
    intercept[Exception] {
      SpaceDataset.create(spark, loc, schema, Seq("r_regionkey"))
    }
  }
}
