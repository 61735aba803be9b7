package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, Tables, TestSpark}
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

  test("a copy-on-write delete keeps the rows whose key or condition is NULL") {
    val rows = Seq[(java.lang.Long, java.lang.Integer)](
      (1L, 1), (2L, null), (3L, 3), (null, 4), (5L, null), (6L, 6))
    val df = spark.createDataFrame(rows).toDF("id", "v")
    val ds = SpaceDataset.create(spark, freshLoc(), df.schema, Seq("id"))
    ds.append(df.coalesce(1))
    val st = ds.storage
    def live() = ds.readAll().collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet

    // a NULL key matches no key, not even a NULL one
    val keys = spark.createDataFrame(Seq[Tuple1[java.lang.Long]](Tuple1(1L), Tuple1(null)))
      .toDF("id")
    st.commitTransaction(policy = ConflictPolicy.Rewrite) { pinned =>
      DmlOps.deleteByKeys(spark, st, pinned, keys)
    }
    assert(st.deleteVectors(st.metadata.currentSnapshotId).isEmpty, "expected a rewrite")
    assert(live() == rows.tail.map(r => (Option(r._1), Option(r._2))).toSet)

    // a NULL condition deletes nothing
    ds.delete(col("v") >= 3)
    assert(live() == Set((Some(2L), None), (Some(5L), None)))
    assert(st.metadata.currentSnapshot.storageStatistics.numRows == 2)
  }

  test("a 5-row upsert into a 1,000-row table runs 4 jobs") {
    val rows = spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v"))
    val ds = SpaceDataset.create(spark, freshLoc(), rows.schema, Seq("id"))
    ds.append(rows.repartition(4))
    val up = spark.range(100, 105).select(col("id"), lit(-1L).as("v"))
    // 1 for the duplicate-key check of the input, 2 for the match bitmaps
    // (the keys' broadcast, the scan of the candidate files), 1 for the
    // write of survivors and new rows: the survivors are the scan minus
    // the bitmaps, with no second join against the keys
    val (_, jc) = JobCount.of(spark)(ds.upsert(up))
    assert(jc.jobs == 4, jc)
    val back = ds.readAll()
    assert(back.count() == 1000 && back.filter(col("v") === -1L).count() == 5)
  }

  test("a merged patch keeps the oldest layout epoch") {
    val merged = Patch.merge(Seq(Patch(layoutEpoch = Some(7L)), Patch(),
      Patch(layoutEpoch = Some(3L)))).get
    assert(merged.layoutEpoch.contains(3L))
  }
}
