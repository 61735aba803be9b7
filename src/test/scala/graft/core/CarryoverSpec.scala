package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.format.{FieldIds, StorageStatistics}

/** Manifest carryover ([[RewriteOp.manifestCarryover]]) must re-emit exactly
  * the untouched rows of the affected manifests, checked against a plain
  * Spark read of the input manifests. In graft.core for access to the
  * private op. */
class CarryoverSpec extends AnyFunSuite {
  import TestSpark._

  test("carryover writes the input manifests' rows minus the affected files") {
    val orders = Tables.read(spark, sfDir, "orders")
    val dir = Files.createTempDirectory("graft_carry_").toString
    val ds = SpaceDataset.create(spark, dir + "/tbl", orders.schema, Seq("o_orderkey"))
    // 16 files in one manifest → rewriting 2 carries over 14 rows
    ds.append(orders.repartition(16))
    val snap = ds.storage.metadata.currentSnapshotId
    // manifestCarryover matches files AS WRITTEN in manifests (table-
    // root-relative) — plan().files, not the user-facing indexFiles()
    // which resolves paths for external consumption
    val files = ds.plan().files.sorted
    assert(files.size == 16)
    val affected = files.take(2).toSet

    def readManifests(rels: Seq[String]) =
      spark.read.parquet(rels.map(ds.storage.absolute): _*)
    // reference: the input manifests, split by the affected file set
    val manifests = ds.storage.snapshotOrFail(snap).manifestFiles.indexManifestFiles
    val input = readManifests(manifests)
    val isAffected = col(ManifestIO.FileCol).isin(affected.toSeq: _*)
    val expected = input.filter(!isAffected)
    val gone = input.filter(isAffected).collect()

    val co = RewriteOp.manifestCarryover(spark, ds.storage, snap, affected)
    assert(co.carryoverManifests.size == 1)
    assert(readManifests(co.carryoverManifests).collect().map(_.toString).sorted.toSeq ==
      expected.collect().map(_.toString).sorted.toSeq,
      "carryover must re-emit every untouched manifest row unchanged")
    assert(expected.count() == 14)
    assert(co.removedManifests == manifests)
    assert(co.removedStats == StorageStatistics(
      numRows = -gone.map(_.getAs[Long](ManifestIO.NumRowsCol)).sum,
      indexCompressedBytes = -gone.map(_.getAs[Long](ManifestIO.CompressedCol)).sum,
      indexUncompressedBytes = -gone.map(_.getAs[Long](ManifestIO.UncompressedCol)).sum))
    assert(co.affectedFileRows == gone.map(r =>
      r.getAs[String](ManifestIO.FileCol) -> r.getAs[Long](ManifestIO.NumRowsCol)).toMap)

    // the summary covers the carried files with their combined key range
    assert(co.summaries.keySet == co.carryoverManifests.toSet)
    assert(co.summaries.values.map(_.numFiles).sum == 14)
    val stats = ManifestIO.statsColName(FieldIds.fieldId(ds.storage.schema("o_orderkey")))
    val range = expected.agg(min(col(s"$stats._MIN")), max(col(s"$stats._MAX"))).collect()(0)
    val s = co.summaries.values.head.stats("o_orderkey")
    assert(s.min.toLong == range.getLong(0) && s.max.toLong == range.getLong(1),
      "the summary must cover the carried rows' key range")

    // end-to-end: a delete through the real carryover stays correct
    val before = ds.readAll().count()
    ds.delete(col("o_orderkey") % 5 === 0)
    assert(ds.readAll().count() ==
      before - orders.filter(col("o_orderkey") % 5 === 0).count())
  }
}
