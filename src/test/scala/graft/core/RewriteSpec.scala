package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.format.Patch

/** The one file-rewrite path ([[RewriteOp.replaceFiles]]): its
  * row-conservation check, and the rules of the writes that use it. In
  * graft.core for access to the private helper. */
class RewriteSpec extends AnyFunSuite {
  import TestSpark._

  private def freshLoc(): String =
    Files.createTempDirectory("graft_rewrite_").toString + "/tbl"

  test("a rewrite that drops or duplicates a row fails the check and commits nothing") {
    val orders = Tables.read(spark, sfDir, "orders")
    val ds = SpaceDataset.create(spark, freshLoc(), orders.schema, Seq("o_orderkey"))
    ds.append(orders.repartition(4))
    // a merge-on-read delete first, so the check also counts folded rows
    ds.delete(col("o_orderkey") === orders.agg(min("o_orderkey")).collect()(0).getLong(0),
      dvMaxFraction = Some(1.0))
    val st = ds.storage
    val head = st.metadata.currentSnapshotId
    val dvFile = st.deleteVectors(head).keys.head
    val files = (dvFile +: ds.plan().files.filterNot(_ == dvFile)).take(2)
    val rowsBefore = ds.readAll().count()

    def rewrite(shape: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      st.commitTransaction(policy = ConflictPolicy.Rewrite) { pinned =>
        Some(RewriteOp.replaceFiles(spark, st, pinned, files) { live =>
          val p = AppendOp.writeFilesWithMeta(spark, st, shape(live)).patch
          (p, p.statsDelta.numRows)
        }._1)
      }
    val dropped = intercept[IllegalArgumentException](rewrite(_.orderBy("o_orderkey").offset(1)))
    assert(dropped.getMessage.contains("rewrite row-count drift"), dropped.getMessage)
    val duplicated = intercept[IllegalArgumentException](rewrite(df => df.union(df.limit(1))))
    assert(duplicated.getMessage.contains("rewrite row-count drift"), duplicated.getMessage)

    st.reload()
    assert(st.metadata.currentSnapshotId == head, "a failed check must commit nothing")
    assert(ds.readAll().count() == rowsBefore)
    // the same rewrite with the rows conserved commits and folds the vector
    val sid = rewrite(identity)
    assert(sid != head && st.deleteVectors(sid).isEmpty)
    assert(ds.readAll().count() == rowsBefore)
    assert(st.snapshotOrFail(sid).storageStatistics.numRows == rowsBefore)
  }

  test("update on a write-clustered table fuses: at most carryover + ONE data manifest") {
    val orders = Tables.read(spark, sfDir, "orders")
    val ds = SpaceDataset.create(spark, freshLoc(), orders.schema, Seq("o_orderkey"),
      statsFields = Seq("o_totalprice"), writeClusterBy = Seq("o_totalprice"))
    // several range files, so an update of the top prices leaves
    // untouched files in the manifest (a carryover manifest)
    spark.conf.set("spark.graft.writeCluster.advisoryBytes", "4096")
    try ds.append(orders.repartition(4))
    finally spark.conf.unset("spark.graft.writeCluster.advisoryBytes")
    def manifests: Set[String] = ds.storage
      .snapshotOrFail(ds.storage.metadata.currentSnapshotId)
      .manifestFiles.indexManifestFiles.toSet
    val before = manifests
    assert(before.size == 1 && ds.plan().files.size > 2)

    val cond = col("o_totalprice") > 300000.0
    ds.update(cond, Map("o_totalprice" -> col("o_totalprice") * 2))

    val added = manifests -- before
    assert(added.size <= 2,
      s"write-clustered update must fuse: at most carryover + ONE data " +
        s"manifest, got ${added.size}")
    val cl = ds.storage.changeLog(ds.storage.metadata.currentSnapshotId).get
    assert(cl.addedRows.nonEmpty && cl.addedRows.forall(_.allRows),
      "fused adds land in their own all-adds files")
    assert(cl.addedRows.map(_.file).toSet
      .intersect(cl.deletedRows.map(_.file).toSet).isEmpty)
    val exp = orders.withColumn("o_totalprice",
      when(cond, col("o_totalprice") * 2).otherwise(col("o_totalprice")))
    assert(ds.readAll().exceptAll(exp).isEmpty && exp.exceptAll(ds.readAll()).isEmpty)
  }

  test("a malformed writeCluster.advisoryBytes fails naming the key") {
    val orders = Tables.read(spark, sfDir, "orders").limit(50)
    val ds = SpaceDataset.create(spark, freshLoc(), orders.schema, Seq("o_orderkey"),
      writeClusterBy = Seq("o_totalprice"))
    spark.conf.set("spark.graft.writeCluster.advisoryBytes", "8MB")
    val e =
      try intercept[IllegalArgumentException](ds.append(orders))
      finally spark.conf.unset("spark.graft.writeCluster.advisoryBytes")
    assert(e.getMessage.contains("spark.graft.writeCluster.advisoryBytes"), e.getMessage)
    assert(ds.readAll().count() == 0)
  }

  test("a merged patch keeps the oldest layout epoch") {
    val merged = Patch.merge(Seq(Patch(layoutEpoch = Some(7L)), Patch(),
      Patch(layoutEpoch = Some(3L)))).get
    assert(merged.layoutEpoch.contains(3L))
  }
}
