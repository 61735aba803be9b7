package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.format.StoragePaths

/** Hybrid columnar/row layout: payloads in record parquet, addresses in
  * index parquet, stitched on read (SURVEY.md §1.2). */
class RecordFieldSpec extends AnyFunSuite {
  import TestSpark._

  private def freshLoc(): String =
    Files.createTempDirectory("graft_rec_").toString + "/tbl"

  // documents with `text` as a binary record field
  private def docsBinary = Tables.read(spark, sfDir, "documents")
    .withColumn("text", encode(col("text"), "UTF-8"))

  /** A table over one external record file of `n` payloads
    * `"<id>\u0001<filler>"` of varying length. */
  private def externalTable(n: Int, layout: RecordScans.Layout): (SpaceDataset, String) =
    RecordScans.externalTable(spark, (0 until n).map(i =>
      (s"$i\u0001" + "abcdefgh" * (i % 23)).getBytes("UTF-8")), layout)

  private def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).head.metrics("numFiles").value
  }

  test("append + read stitches record payloads back, in order") {
    val docs = docsBinary
    val loc = freshLoc()
    val ds = SpaceDataset.create(spark, loc, docs.schema, Seq("doc_id"),
      recordFields = Seq("text"))
    ds.append(docs)

    val back = ds.readAll().withColumn("text", decode(col("text"), "UTF-8"))
    val exp = Tables.read(spark, sfDir, "documents")
    assert(back.count() == exp.count())
    assert(back.exceptAll(exp).isEmpty && exp.exceptAll(back).isEmpty)

    // physical layout: addresses in index files, payloads in record files
    val ref = ds.read(referenceRead = true)
    assert(ref.schema("text").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("_FILE", "_ROW_ID"))
    val recDir = new java.io.File(s"$loc/data/records")
    assert(recDir.listFiles().nonEmpty)
  }

  test("filtered read only opens record rows it needs; projection skips payloads") {
    val docs = docsBinary
    val loc = freshLoc()
    val ds = SpaceDataset.create(spark, loc, docs.schema, Seq("doc_id"), Seq("text"))
    ds.append(docs)

    val got = ds.read(filter = Some(col("doc_id") < 50L))
      .withColumn("text", decode(col("text"), "UTF-8"))
    val exp = Tables.read(spark, sfDir, "documents").filter(col("doc_id") < 50L)
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)

    // projection without the record field never touches record files
    val proj = ds.read(fields = Some(Seq("doc_id", "lang")))
    assert(proj.columns.toSeq == Seq("doc_id", "lang"))
    assert(proj.count() == docs.count())
  }

  test("CoW delete keeps surviving record addresses valid") {
    val docs = docsBinary
    val loc = freshLoc()
    val ds = SpaceDataset.create(spark, loc, docs.schema, Seq("doc_id"), Seq("text"))
    ds.append(docs)
    val n = docs.count()
    ds.delete(col("doc_id") % 7 === 0)

    val back = ds.readAll().withColumn("text", decode(col("text"), "UTF-8"))
    val exp = Tables.read(spark, sfDir, "documents").filter(col("doc_id") % 7 =!= 0)
    assert(back.count() == exp.count() && back.count() < n)
    assert(back.exceptAll(exp).isEmpty && exp.exceptAll(back).isEmpty)
  }

  test("zero-copy record ingest: external payload files indexed in place") {
    val docs = Tables.read(spark, sfDir, "documents")
    val extDir = Files.createTempDirectory("graft_ext_").toString
    docs.select(encode(concat_ws("\u0001", col("doc_id"), col("text")), "UTF-8").as("value"))
      .repartition(3).write.mode("overwrite").parquet(extDir)
    val extFiles = new java.io.File(extDir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted.toSeq
    assert(extFiles.size == 3)

    val loc = freshLoc()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("body", org.apache.spark.sql.types.BinaryType)))
    val ds = SpaceDataset.create(spark, loc, schema, Seq("doc_id"), Seq("body"))
    RecordLoader.loadRecordParquet(spark, ds, "body", extFiles, Map(
      "doc_id" -> expr("CAST(split(decode(value, 'UTF-8'), '\u0001', 2)[0] AS BIGINT)")))

    // payloads were NOT copied: no record data files under the table,
    // record manifest points at the external paths
    val recDir = new java.io.File(loc, "data/records")
    val copied = Option(recDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    assert(copied.isEmpty, s"payloads copied: ${copied.map(_.getName).toSeq}")
    val manifestFiles = ds.recordManifest().select("_FILE")
      .collect().map(_.getString(0)).toSet
    assert(manifestFiles == extFiles.toSet)

    // roundtrip: stitched payloads decode to the original text
    val back = ds.readAll()
      .select(col("doc_id"), expr("split(decode(body, 'UTF-8'), '\u0001', 2)[1]").as("text"))
    val exp = docs.select(col("doc_id"), col("text"))
    assert(back.count() == exp.count())
    assert(back.exceptAll(exp).isEmpty && exp.exceptAll(back).isEmpty)

    // random access works over external record files too
    val ra = new RandomAccessReader(ds, "body")
    assert(ra.length == docs.count())
    val one = new String(ra.get(0), "UTF-8")
    assert(one.contains("\u0001"))
    RecordScans.check(ds, "body", "doc_id")
  }

  test("migrates a pre-addressed payload layout (ArrayRecord export shape)") {
    // Synthetic stand-in for an existing Space dataset (README
    // "Migrating an existing Space dataset"): payloads live in external
    // per-file stores where a record's identity is (file, row-position)
    // — exactly the ArrayRecord address model — and the index rows carry
    // the address struct, as a reference_read export would.
    val docs = Tables.read(spark, sfDir, "documents").limit(200)
    val store = Files.createTempDirectory("graft_ar_store_").toString
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("value"))
      .repartition(4).write.mode("overwrite").parquet(store)

    // the "exported" index: (doc_id, addr{_FILE,_ROW_ID}) derived from
    // the store's physical layout — no payload bytes in it
    val addressed = spark.read.parquet(store)
      .select(col("doc_id"),
        struct(col("_metadata.file_path").as("_FILE"),
          col("_metadata.row_index").as("_ROW_ID")).as("addr"))

    // migration step 2: one distributed join of addresses to payload
    // bytes on (_FILE, _ROW_ID) — the bulk copy, O(payload bytes), no
    // driver materialization
    val bytesByPos = spark.read.parquet(store)
      .select(col("_metadata.file_path").as("_FILE"),
        col("_metadata.row_index").as("_ROW_ID"), col("value"))
    val fetched = addressed
      .join(bytesByPos, col("addr._FILE") === col("_FILE") &&
        col("addr._ROW_ID") === col("_ROW_ID"))
      .select(col("doc_id"), col("value").as("body"))

    // migration step 3: append into a record-field table — the engine
    // writes record-Parquet and fresh addresses itself
    val loc = freshLoc()
    val ds = SpaceDataset.create(spark, loc, fetched.schema, Seq("doc_id"),
      recordFields = Seq("body"))
    ds.append(fetched)

    val back = ds.readAll().select(col("doc_id"),
      decode(col("body"), "UTF-8").as("text"))
    val exp = docs.select(col("doc_id"), col("text"))
    assert(back.count() == exp.count())
    assert(back.exceptAll(exp).isEmpty && exp.exceptAll(back).isEmpty)
    // and the migrated table serves random access like any native one
    val ra = new RandomAccessReader(ds, "body")
    assert(ra.length == docs.count())
    RecordScans.check(ds, "body", "doc_id")
  }

  test("field serializer: payloads encoded on write, decoded on read and random access") {
    graft.format.SerializerRegistry.register("xor-test", new XorSerializer)
    val docs = docsBinary.filter(col("doc_id") < 100L)
    val loc = freshLoc()
    // schema carries the serializer marker on the record field
    val schema = org.apache.spark.sql.types.StructType(
      docs.schema.fields.map { f =>
        if (f.name == "text") graft.format.ExtTypes.serializedField("text", "xor-test")
        else f
      })
    val ds = SpaceDataset.create(spark, loc, schema, Seq("doc_id"), Seq("text"))
    ds.append(docs)

    // logical read round-trips through the codec
    val back = ds.readAll().withColumn("text", decode(col("text"), "UTF-8"))
    val exp = Tables.read(spark, sfDir, "documents").filter(col("doc_id") < 100L)
    assert(back.exceptAll(exp).isEmpty && exp.exceptAll(back).isEmpty)

    // on-disk record bytes are the ENCODED form, not the raw payload
    val recDir = new java.io.File(s"$loc/data/records")
    val rawOnDisk = spark.read.parquet(recDir.listFiles().map(_.getAbsolutePath).toIndexedSeq: _*)
      .select("value").limit(1).collect()(0).getAs[Array[Byte]](0)
    val plainTexts = exp.select("text").collect().map(_.getString(0)).toSet
    assert(!plainTexts.contains(new String(rawOnDisk, "UTF-8")),
      "record file stores raw payloads; serializer was not applied on write")
    assert(plainTexts.contains(new String(new XorSerializer().deserialize(rawOnDisk), "UTF-8")))

    // random access decodes too
    val ra = new RandomAccessReader(ds, "text")
    assert(plainTexts.contains(new String(ra.get(0), "UTF-8")))
    RecordScans.check(ds, "text", "doc_id")
  }

  test("File-typed column resolves relative paths against the directory prefix on read") {
    import org.apache.spark.sql.types._
    import graft.format.ExtTypes
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      ExtTypes.fileField("img", "/data/images"),
      StructField("plain", StringType)))
    val loc = freshLoc()
    val ds = SpaceDataset.create(spark, loc, schema, Seq("id"))
    ds.append(spark.createDataFrame(
      Seq((1L, "a/x.png", "a"), (2L, "/abs/y.png", "b"), (3L, null, "c"))
        .toDF("id", "img", "plain").rdd, schema))

    // default read: stored (relative) values untouched
    val raw = ds.readAll().orderBy("id").select("img").collect().map(_.getString(0))
    assert(raw.toSeq == Seq("a/x.png", "/abs/y.png", null))

    // resolveFilePaths: relative → directory-prefixed, absolute passes
    // through (os.path.join semantics, files.py:62-64), null stays null,
    // non-File columns untouched
    val resolved = ds.read(resolveFilePaths = true).orderBy("id")
      .select("img", "plain").collect()
    assert(resolved.map(_.getString(0)).toSeq ==
      Seq("/data/images/a/x.png", "/abs/y.png", null))
    assert(resolved.map(_.getString(1)).toSeq == Seq("a", "b", "c"))

    // the marker survives the table's schema round-trip
    val reloaded = SpaceDataset.load(spark, loc)
    assert(ExtTypes.isFile(reloaded.schema("img")))
    assert(ExtTypes.fileDirectory(reloaded.schema("img")).contains("/data/images"))
    assert(ExtTypes.fullPath(reloaded.schema("img"), "z.png") == "/data/images/z.png")
  }

  test("positional stitch over many row groups and pages matches a full scan") {
    val (ds, ext) = externalTable(1000, RecordScans.NineRowPages)
    val layout = RecordScans.pageLayout(spark, ext)
    assert(layout.groups.size == 10 && layout.groups.head.size > 5 && layout.indexed, layout)
    RecordScans.check(ds, "body", "id")
    // a filtered read stitches only the surviving rows, from the pages
    // that hold them
    val got = ds.read(filter = Some(col("id").between(95L, 310L)))
      .select(col("id"), decode(col("body"), "UTF-8")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    assert(got == (95 to 310).map(i => i.toLong -> (s"$i\u0001" + "abcdefgh" * (i % 23))))
  }

  test("positional stitch falls back to whole row groups without a page index") {
    val (ds, ext) = externalTable(450, RecordScans.NoOffsetIndex)
    val layout = RecordScans.pageLayout(spark, ext)
    assert(layout.groups.size == 5 && !layout.indexed, layout)
    RecordScans.check(ds, "body", "id")
  }

  test("engine-written record files are paged for random access") {
    val target = RecordIO.RecordPageBytes
    val big = target + 4096
    val rnd = new scala.util.Random(7)
    def payload(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    // 1 KiB payloads with one past the target in every 500, then a run
    // of five past the target
    val rows = (0 until 2000).map(i => (i.toLong, payload(if (i % 500 == 250) big else 1024))) ++
      (2000 until 2005).map(i => (i.toLong, payload(big)))
    val df = spark.createDataFrame(rows).toDF("id", "body")
    val ds = SpaceDataset.create(spark, freshLoc(), df.schema, Seq("id"), Seq("body"))
    ds.append(df.coalesce(1))

    val Seq(file) = RecordScans.recordFiles(ds)
    val layout = RecordScans.pageLayout(spark, file)
    assert(layout.indexed && !layout.dictionary && !layout.statistics, layout)
    val sizes = RecordScans.byPosition(spark, file, "value").toSeq.sortBy(_._1).map(_._2.length)
    assert(sizes.size == rows.size)
    val pages = layout.groups.flatten
    val pageSizes = pages.scanLeft(0L)(_ + _.rows).sliding(2)
      .map { case Seq(a, b) => sizes.slice(a.toInt, b.toInt) }.toSeq
    pages.zip(pageSizes).foreach { case (page, recs) =>
      // a page closes on the record that brings it to the target, so it
      // holds at most the target plus that one record
      assert(recs.init.sum < target, s"$page holds ${recs.init.sum} B before its last record")
      assert(page.bytes <= target + recs.max, s"$page of records of ${recs.max} B")
    }
    // small records pack; a record past the target closes its page, and
    // one that follows such a record sits alone
    assert(pageSizes.filter(_.forall(_ == 1024)).map(_.size).max >= target / 2 / 1024)
    assert(pageSizes.forall(recs => !recs.init.contains(big)))
    assert(pageSizes.takeRight(4).forall(_ == Seq(big)), pageSizes.takeRight(5))
    RecordScans.check(ds, "body", "id")
  }

  test("null payloads stitch and fetch as null") {
    val docs = docsBinary.withColumn("text",
      when(col("doc_id") % 3 === 0, lit(null).cast("binary")).otherwise(col("text")))
    val ds = SpaceDataset.create(spark, freshLoc(), docs.schema, Seq("doc_id"), Seq("text"))
    ds.append(docs.repartition(3))
    val nulls = ds.readAll().filter(col("text").isNull).count()
    assert(nulls > 0 && nulls == docs.filter(col("doc_id") % 3 === 0).count())
    RecordScans.check(ds, "text", "doc_id")
  }

  test("addresses of two tables stitched in one task resolve against their own roots") {
    // the join-view shape: payloads of both sides stitched after the join
    val docs = docsBinary.filter(col("doc_id") < 200L)
    val a = SpaceDataset.create(spark, freshLoc(), docs.schema, Seq("doc_id"), Seq("text"))
    a.append(docs)
    val bDocs = docs.select(col("doc_id"), concat(col("text"), col("text")).as("rtext"))
    val b = SpaceDataset.create(spark, freshLoc(), bDocs.schema, Seq("doc_id"), Seq("rtext"))
    b.append(bDocs)
    val joined = a.read(referenceRead = true).join(b.read(referenceRead = true), "doc_id")
      .coalesce(1)
    val both = RecordIO.stitch(spark, b.storage,
      RecordIO.stitch(spark, a.storage, joined, Some(Seq("text"))), Some(Seq("rtext")))
    val got = both.select(col("doc_id"), col("text"), col("rtext")).collect()
    assert(got.length == docs.count())
    assert(got.forall { r =>
      val t = r.getAs[Array[Byte]](1).toSeq
      r.getAs[Array[Byte]](2).toSeq == t ++ t
    })
  }

  test("plan shape: one job per filtered read, pruning after readAll, no record opens for index fields") {
    val docs = docsBinary
    val ds = SpaceDataset.create(spark, freshLoc(), docs.schema, Seq("doc_id"), Seq("text"))
    ds.append(docs.repartitionByRange(4, col("doc_id")))
    val total = ds.plan().files.size
    assert(total > 1, s"need several index files, got $total")

    // the stitch is a projection over the index scan: no file-list
    // collect, no broadcast, no join
    val (rows, jc) = JobCount.of(spark)(ds.read(filter = Some(col("doc_id") < 50L)).collect())
    assert(rows.length == docs.filter(col("doc_id") < 50L).count())
    assert(jc.jobs == 1 && jc.stages == 1 && jc.shuffleBytes == 0L, jc)

    // a filter applied after read() still reaches the index scan
    assert(filesRead(ds.readAll().filter(col("doc_id") < 50L)) < total)

    // a projection to index fields never opens a record file
    val opens = RecordIO.positionalFileOpens
    assert(ds.readAll().select("doc_id", "lang").collect().length == docs.count())
    assert(RecordIO.positionalFileOpens == opens)
    assert(ds.readAll().select("text").collect().length == docs.count())
    assert(RecordIO.positionalFileOpens > opens)
  }

  test("a record-field append harvests record footers with no Spark job") {
    val docs = docsBinary
    val ds = SpaceDataset.create(spark, freshLoc(), docs.schema, Seq("doc_id"), Seq("text"))
    val (_, append) = JobCount.of(spark)(ds.append(docs))
    // the append's own jobs: the write, then the address scan that
    // finds the record files its index rows point at (under the known
    // physical schema: no schema-inference job)
    val index = ds.plan().files.map(ds.storage.absolute)
    val physical = ReadOp.physicalSchema(ds.storage.schema, ds.storage.recordFields)
    val (recordFiles, scan) = JobCount.of(spark)(spark.read.schema(physical).parquet(index: _*)
      .select(col("text._FILE")).na.drop().distinct().collect().map(_.getString(0)))
    assert(append.jobs == 1 + scan.jobs, s"append ran $append, its address scan $scan")
    assert(append.jobs == 3, s"append ran $append")
    assert(recordFiles.nonEmpty &&
      ds.recordManifest().collect().map(_.getString(0)).toSet == recordFiles.toSet)
    assert(ds.readAll().select("text").collect().length == docs.count())
  }

  test("a write-clustered record-field append writes each payload once") {
    // the range shuffle of a clustered write samples its input in a job
    // of its own: the payload write must not run a second time there
    val rows = spark.range(0, 10000).select(col("id"), (col("id") % 97).as("c"),
      encode(concat(lit("payload-"), col("id").cast("string")), "UTF-8").as("body"))
    val ds = SpaceDataset.create(spark, freshLoc(), rows.schema, Seq("id"), Seq("body"),
      writeClusterBy = Seq("c"))
    ds.append(rows.repartition(4))
    val onDisk = Files.list(java.nio.file.Paths.get(ds.storage.absolute(StoragePaths.RecordDataDir)))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .map(n => s"${StoragePaths.RecordDataDir}/$n").toSet
    val inManifest = ds.recordManifest().collect().map(_.getString(0)).toSet
    assert(onDisk == inManifest,
      s"${onDisk.size} record files on disk, ${inManifest.size} in the record manifest")
    val back = ds.readAll().select(col("id"), decode(col("body"), "UTF-8").as("body"))
    assert(back.count() == 10000)
    assert(back.filter(col("body") =!= concat(lit("payload-"), col("id").cast("string")))
      .isEmpty)
  }

  test("upsert replaces record payloads") {
    val docs = docsBinary
    val loc = freshLoc()
    val ds = SpaceDataset.create(spark, loc, docs.schema, Seq("doc_id"), Seq("text"))
    ds.append(docs)
    val up = docs.filter(col("doc_id") < 10L)
      .withColumn("text", encode(lit("REPLACED"), "UTF-8"))
    ds.upsert(up)
    val back = ds.readAll().withColumn("text", decode(col("text"), "UTF-8"))
    assert(back.filter(col("doc_id") < 10L && col("text") === "REPLACED").count() ==
      up.count())
    assert(back.count() == docs.count())
  }
}

/** Trivially invertible codec for the serializer-wiring spec. */
class XorSerializer extends graft.format.FieldSerializer {
  private def xor(b: Array[Byte]): Array[Byte] = b.map(x => (x ^ 0x5a).toByte)
  def serialize(value: Array[Byte]): Array[Byte] = xor(value)
  def deserialize(bytes: Array[Byte]): Array[Byte] = xor(bytes)
}
