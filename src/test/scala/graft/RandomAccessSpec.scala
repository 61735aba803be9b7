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

  /** `"<id>\u0001"` and then `8 * copies` bytes of filler. */
  private def keyedPayload(id: Long, copies: Int): Array[Byte] =
    (s"$id\u0001" + f"$id%08d" * copies).getBytes("UTF-8")

  /** [[keyedPayload]] of every `id` of a Spark range. */
  private def keyedRows(from: Long, until: Long, copies: Int) =
    spark.range(from, until).select(col("id"), encode(concat(col("id").cast("string"),
      lit("\u0001"), repeat(lpad(col("id").cast("string"), 8, "0"), copies)), "UTF-8").as("body"))

  /** Every payload of `ds`, by the id in its first bytes, read by random
    * access and by stitch. */
  private def payloadsByKey(ds: SpaceDataset): (Map[Long, Seq[Byte]], Map[Long, Seq[Byte]]) = {
    def key(b: Array[Byte]) = new String(b, "UTF-8").takeWhile(_ != '\u0001').toLong
    val ra = new RandomAccessReader(ds, "body")
    (ra.getBatch(0L until ra.length).map(b => key(b) -> b.toSeq).toMap,
      ds.readAll().collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap)
  }

  test("record files of the 1 MiB-page layout and the paged layout read identically") {
    // the first 3000 payloads in one file of parquet-mr's default layout
    // (how record files were written before they were paged), the rest
    // appended by the engine
    val (mixed, ext) = RecordScans.externalTable(spark,
      (0L until 3000L).map(keyedPayload(_, 128)), RecordScans.WriterDefaults)
    mixed.append(keyedRows(3000, 6000, 128).repartition(2))
    val paged = SpaceDataset.create(spark,
      Files.createTempDirectory("graft_ra_paged_").toString + "/tbl",
      mixed.schema, Seq("id"), Seq("body"))
    paged.append(keyedRows(0, 6000, 128).repartition(3))

    val pageBytes = (f: String) => RecordScans.pageLayout(spark, f).groups.flatten.map(_.bytes).max
    assert(pageBytes(ext) > 512 * 1024)
    val engineFiles = RecordScans.recordFiles(mixed).filterNot(_.endsWith("records.parquet")) ++
      RecordScans.recordFiles(paged)
    val record = keyedPayload(5999, 128).length
    assert(engineFiles.size >= 3 &&
      engineFiles.forall(pageBytes(_) <= RecordIO.RecordPageBytes + record))

    RecordScans.check(mixed, "body", "id")
    val want = (0L until 6000L).map(i => i -> keyedPayload(i, 128).toSeq).toMap
    assert(payloadsByKey(mixed) == ((want, want)))
    assert(payloadsByKey(paged) == ((want, want)))
  }

  test("a 64-ordinal batch decodes at most one page and one record per ordinal") {
    val rows = keyedRows(0, 2000, 1024) // 8 KiB payloads
    val record = keyedPayload(1999, 1024).length
    val bound = 64L * (RecordIO.RecordPageBytes + record)
    val paged = SpaceDataset.create(spark,
      Files.createTempDirectory("graft_ra_decode_").toString + "/tbl",
      rows.schema, Seq("id"), Seq("body"))
    paged.append(rows.coalesce(2))
    // the same payloads in one file of 1 MiB pages
    val (unpaged, _) = RecordScans.externalTable(spark,
      (0L until 2000L).map(keyedPayload(_, 1024)), RecordScans.WriterDefaults)

    val rnd = new scala.util.Random(64)
    val ordinals = Seq.fill(64)(rnd.nextInt(2000).toLong)
    def decoded(ds: SpaceDataset): Long = {
      val ra = new RandomAccessReader(ds, "body")
      val before = RecordIO.positionalDecodedBytes
      val got = ra.getBatch(ordinals)
      val bytes = RecordIO.positionalDecodedBytes - before
      assert(got.forall(_.length >= 8 * 1024))
      bytes
    }
    val onPages = decoded(paged)
    assert(onPages <= bound, s"decoded $onPages B, bound $bound B")
    // the bound tells the layouts apart
    val unpagedBytes = decoded(unpaged)
    assert(unpagedBytes > bound, s"1 MiB pages decoded $unpagedBytes B, bound $bound B")
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
