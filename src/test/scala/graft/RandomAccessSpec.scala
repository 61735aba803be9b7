package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

class RandomAccessSpec extends AnyFunSuite {
  import TestSpark._

  test("random access reader fetches payloads by ordinal without Spark jobs") {
    val docs = Tables.read(spark, sfDir, "documents")
      .withColumn("text", encode(col("text"), "UTF-8"))
    val loc = Files.createTempDirectory("graft_ra_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, docs.schema, Seq("doc_id"), Seq("text"))
    ds.append(docs.repartition(4))

    val n = docs.count()
    // no Spark job: the file list comes from the cached manifest rows,
    // the payloads from positional reads on the driver
    val ((reader, all), jc) = JobCount.of(spark) {
      val r = new RandomAccessReader(ds, "text")
      (r, r.getBatch(0L until n))
    }
    assert(jc.jobs == 0, jc)
    assert(reader.length == n)

    val expected = Tables.read(spark, sfDir, "documents")
      .select("text").collect().map(_.getString(0)).toSet

    // full sweep: every ordinal resolves to a real payload, all distinct
    assert(all.size == n)
    assert(all.map(new String(_, "UTF-8")).toSet == expected)

    // random-order batch preserves input order
    val idx = Seq(n - 1, 0L, n / 2, 1L, n / 3)
    val batch = reader.getBatch(idx)
    assert(batch.map(new String(_, "UTF-8")) == idx.map(i => new String(all(i.toInt), "UTF-8")))

    // duplicate ordinals each get their payload (ADVICE r1: pass 1 used
    // to skip the second request for the same row)
    val dup = Seq(5L, 5L, 0L, n - 1, n - 1, 5L)
    val dupBatch = reader.getBatch(dup)
    assert(dupBatch.map(new String(_, "UTF-8")) ==
      dup.map(i => new String(all(i.toInt), "UTF-8")))

    // single get + bounds
    assert(new String(reader.get(0), "UTF-8") == new String(all(0), "UTF-8"))
    intercept[IllegalArgumentException](reader.get(n))
    intercept[IllegalArgumentException](reader.get(-1))
  }

  test("ordinals follow manifest order and match a full scan, also under delete vectors") {
    val docs = Tables.read(spark, sfDir, "documents")
      .withColumn("text", encode(col("text"), "UTF-8"))
    val loc = Files.createTempDirectory("graft_ra_dv_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, docs.schema, Seq("doc_id"), Seq("text"))
    ds.append(docs.filter(col("doc_id") % 2 === 0).repartition(3))
    ds.append(docs.filter(col("doc_id") % 2 === 1).repartition(3))
    RecordScans.check(ds, "text", "doc_id")

    // scattered merge-on-read delete: vectors on several index files
    spark.conf.set(DeleteVectorOps.DvMaxFractionKey, "1.0")
    try ds.delete(col("doc_id") % 5 === 0 || col("doc_id") < 20L)
    finally spark.conf.unset(DeleteVectorOps.DvMaxFractionKey)
    val sid = ds.storage.metadata.currentSnapshotId
    val vectors = ds.storage.deleteVectors(sid).count(_._2.bitmapB64.isDefined)
    assert(vectors > 1, s"expected vectors on several index files, got $vectors")
    val ((ra, _), jc) = JobCount.of(spark) {
      val r = new RandomAccessReader(ds, "text")
      (r, r.getBatch(Seq(r.length - 1, 0L, r.length / 2, 0L)))
    }
    assert(jc.jobs == 0, jc)
    assert(ra.length == docs.filter(!(col("doc_id") % 5 === 0 || col("doc_id") < 20L)).count())
    RecordScans.check(ds, "text", "doc_id")
  }

  test("catalog create/list/load/delete lifecycle") {
    val cat = new DirCatalog(spark, Files.createTempDirectory("graft_cat_").toString)
    assert(cat.datasets().isEmpty)
    val region = Tables.read(spark, sfDir, "region")
    cat.createDataset("r1", region.schema, Seq("r_regionkey")).append(region)
    assert(cat.datasets() == Seq("r1"))
    assert(cat.dataset("r1").readAll().count() == region.count())
    intercept[IllegalArgumentException](cat.dataset("missing"))
    intercept[IllegalArgumentException](
      cat.createDataset("r1", region.schema, Seq("r_regionkey")))
    cat.deleteDataset("r1")
    assert(cat.datasets().isEmpty)
  }

  test("zero-copy parquet load: no files copied, pruning stats present") {
    val li = Tables.read(spark, sfDir, "lineitem")
    val loc = Files.createTempDirectory("graft_zc_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, li.schema, Seq("l_orderkey", "l_linenumber"))
    ParquetLoader.loadParquet(spark, ds, Seq(s"$sfDir/lineitem.parquet"))

    assert(ds.readAll().count() == li.count())
    // data dir stays empty: the table references the external file
    val dataDir = new java.io.File(s"$loc/data")
    assert(dataDir.listFiles().filter(_.isFile).isEmpty)
    // footer stats made it into the manifest
    val m = ds.indexManifest().collect()
    assert(m.length == 1 && m(0).getLong(1) == li.count())
  }
}
