package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

class CompactSpec extends AnyFunSuite {
  import TestSpark._

  private def freshLoc(): String =
    Files.createTempDirectory("graft_cp_").toString + "/tbl"

  private def orders = Tables.read(spark, sfDir, "orders")

  private def indexFileCount(ds: SpaceDataset): Int = {
    val st = ds.storage
    st.reload()
    val ms = st.metadata.currentSnapshot.manifestFiles.indexManifestFiles
    ManifestIO.fileRowCounts(st, spark.sparkContext.hadoopConfiguration, ms)
      .map(_._1).distinct.size
  }

  test("compact bin-packs small files, preserves content, skips big files") {
    val loc = freshLoc()
    val ds = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))
    // 5 trickle appends of ~100 rows → 5+ small files, then 1 big append
    (0 until 5).foreach { i =>
      ds.append(orders.filter(col("o_orderkey") % 15 === i).repartition(1))
    }
    ds.append(orders.filter(col("o_orderkey") % 15 >= 5).repartition(1))
    val before = ds.readAll().collect().toSet
    val filesBefore = indexFileCount(ds)
    assert(filesBefore >= 6)

    // big file (~1000 rows) stays; 5 small (~100-row) files merge into 1
    val res = ds.compact(targetFileRows = 600L).get
    assert(res.rewrittenFiles == 5)
    assert(res.outputFiles == 1)
    assert(indexFileCount(ds) == filesBefore - 5 + 1)

    // content identical, stats consistent
    assert(ds.readAll().collect().toSet == before)
    val st = ds.storage
    st.reload()
    assert(st.metadata.currentSnapshot.storageStatistics.numRows == before.size)

    // compaction is CDC-silent: diff over the compaction snapshot is empty
    val head = st.metadata.currentSnapshotId
    assert(ds.diff((head - 1).toString, head.toString).isEmpty)

    // idempotent: nothing small remains
    assert(ds.compact(targetFileRows = 600L).isEmpty)

    // time travel to the pre-compaction snapshot still works
    assert(ds.read(version = Some((head - 1).toString)).collect().toSet == before)
  }

  test("compact preserves record-field addresses without touching payloads") {
    val loc = freshLoc()
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val ds = SpaceDataset.create(spark, loc, schema, Seq("id"),
      recordFields = Seq("payload"))
    import spark.implicits._
    (0 until 3).foreach { i =>
      val df = (i * 50 until (i + 1) * 50).toDF("id")
        .select(col("id").cast("long"),
          concat(lit("blob"), col("id")).cast("binary").as("payload"))
      ds.append(df.repartition(1))
    }
    val before = ds.readAll().select(col("id"), col("payload").cast("string"))
      .collect().toSet
    val recordFilesBefore = new java.io.File(loc, "data/records").listFiles().map(_.getName).toSet

    val res = ds.compact(targetFileRows = 1000L).get
    assert(res.rewrittenFiles == 3)

    // payload files untouched; stitched reads identical after compaction
    val recordFilesAfter = new java.io.File(loc, "data/records").listFiles().map(_.getName).toSet
    assert(recordFilesAfter == recordFilesBefore)
    assert(ds.readAll().select(col("id"), col("payload").cast("string"))
      .collect().toSet == before)
  }
}
