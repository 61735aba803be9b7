package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Native `writeStream.toTable` into graft catalog tables: per-epoch
  * snapshots, exactly-once across checkpointed restarts, CDC-visible
  * appends, and clear rejections for record-field/bucketed tables. */
class StreamingWriteSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft_swrite_").toString
    spark.conf.set("spark.sql.catalog.graft_sw",
      classOf[org.apache.spark.sql.graftshim.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_sw.location", r)
    r
  }

  test("writeStream.toTable appends per epoch, exactly-once across restart") {
    root
    spark.sql("CREATE TABLE graft_sw.ev (event_id BIGINT, event_type STRING, " +
      "value DOUBLE) TBLPROPERTIES ('primary_keys'='event_id')")

    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val ckpt = Files.createTempDirectory("graft_swc_").toString
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sfDir)
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .toTable("graft_sw.ev")
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val expected = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(spark.sql("SELECT count(*) FROM graft_sw.ev").collect()(0).getLong(0) == expected)

    // restart from the same checkpoint with no new input: nothing replays
    run()
    assert(spark.sql("SELECT count(*) FROM graft_sw.ev").collect()(0).getLong(0) == expected)

    // the epoch snapshot carries an ADD changelog (CDC-visible) and a
    // manifest-list summary (plan-time pruning stays intact)
    val ds = new DirCatalog(spark, root).dataset("ev")
    val sid = ds.storage.metadata.currentSnapshotId
    val withRows = (1L to sid).flatMap(s => ds.storage.changeLog(s))
      .filter(_.addedRows.nonEmpty)
    assert(withRows.nonEmpty, "streamed epochs must log ADDs for CDC")
    val manifests = ds.storage.metadata.currentSnapshot.manifestFiles.indexManifestFiles
    assert(manifests.forall(ds.storage.metadata.manifestSummaries.contains),
      "streamed manifests must carry manifest-list summaries")
    // no orphan files: every parquet under data/ is in the manifest
    val listed = ManifestIO.fileRowCounts(ds.storage,
      spark.sparkContext.hadoopConfiguration, manifests).map(_._1).toSet
    val onDisk = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "ev", "data"))
      try s.filter(p => p.toString.endsWith(".parquet"))
        .map[String](p => "data/" + p.getFileName.toString).toArray.map(_.toString).toSet
      finally s.close()
    }
    assert(onDisk == listed, s"orphans on disk: ${onDisk -- listed}")
  }

  test("a wide epoch (many task outputs) commits with no harvest job") {
    root
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    def streamInto(table: String, tasks: Int): JobCount = {
      spark.sql(s"CREATE TABLE graft_sw.$table (event_id BIGINT, value DOUBLE) " +
        "TBLPROPERTIES ('primary_keys'='event_id')")
      JobCount.of(spark) {
        val q = spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(sfDir)
          .select(col("event_id"), col("value"))
          .repartition(tasks)
          .writeStream
          .option("checkpointLocation", Files.createTempDirectory("graft_sww_").toString)
          .toTable(s"graft_sw.$table")
        try q.processAllAvailable() finally q.stop()
      }._2
    }
    // one landing path at every width: a 12-file epoch commits on the
    // driver like a 2-file one, so both runs are the epoch's write jobs
    val narrow = streamInto("narrow", 2)
    val wide = streamInto("wide", 12)
    assert(wide.jobs == narrow.jobs, s"12-task epoch ran $wide, 2-task epoch $narrow")
    val expected = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(spark.sql("SELECT count(*) FROM graft_sw.wide").collect()(0).getLong(0) == expected)
    val ds = new DirCatalog(spark, root).dataset("wide")
    assert(ds.indexFiles().size > 8, "epoch must have landed one file per task")
  }

  test("streamed files record the same membership evidence as a batch append") {
    root
    Seq("evs", "evb").foreach(t => spark.sql(s"CREATE TABLE graft_sw.$t " +
      "(event_id BIGINT, value DOUBLE) TBLPROPERTIES ('primary_keys'='event_id')"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val q = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
      .select(col("event_id"), col("value")).repartition(1)
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft_swe_").toString)
      .toTable("graft_sw.evs")
    try q.processAllAvailable() finally q.stop()
    val catalog = new DirCatalog(spark, root)
    catalog.dataset("evb").append(spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("value")).repartition(1))
    def markers(t: String): Seq[Seq[Any]] = {
      val m = catalog.dataset(t).indexManifest()
      val cols = m.columns.filter(_.startsWith("_EVID_")).sorted
      assert(cols.nonEmpty, s"$t: no evidence columns")
      m.select(cols.map(col).toIndexedSeq: _*).collect().map(_.toSeq).toSeq
    }
    val streamed = markers("evs")
    assert(streamed.size == 1 && streamed.flatten.forall(_ != null),
      s"streamed evidence markers are missing: $streamed")
    assert(streamed == markers("evb"))
  }

  test("record-field and bucketed tables reject streaming writes clearly") {
    root
    import org.apache.spark.sql.types._
    spark.sql("CREATE TABLE graft_sw.bk (id BIGINT, v STRING) TBLPROPERTIES " +
      "('primary_keys'='id', 'bucket_columns'='id', 'num_buckets'='4')")
    val srcDir = Files.createTempDirectory("graft_swsrc_").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(srcDir)
    def src = spark.readStream.schema(StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
      .parquet(srcDir)
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    def streamInto(table: String, in: org.apache.spark.sql.DataFrame = src): String =
      messages(intercept[Exception] {
        val q = in.writeStream
          .option("checkpointLocation", Files.createTempDirectory("graft_swck_").toString)
          .toTable(table)
        try q.processAllAvailable() finally q.stop()
      })
    assert(streamInto("graft_sw.bk").contains("bucketed"))

    // record-field tables: the shared mutation guard fires (its message
    // points at the SpaceDataset API) before the streaming-specific one
    spark.sql("CREATE TABLE graft_sw.rf (id BIGINT, v BINARY) TBLPROPERTIES " +
      "('primary_keys'='id', 'record_fields'='v')")
    assert(streamInto("graft_sw.rf", src.select($"id", $"v".cast("binary").as("v")))
      .contains("record fields"))
  }

  test("streaming curation equals the batch quality gate over the corpus") {
    val streamed = graft.streaming.EventsStream.streamCurate(spark, sfDir)
    val batch = Tables.read(spark, sfDir, "documents")
      .filter(graft.functions.TextFunctions.qualityScore(col("text")) >= 0.3)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality"),
        graft.functions.TextFunctions.approxBpeTokenCount(col("text"))
          .cast("long").as("n_tok"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("ingest dedup maintains its index: a later wave duplicating an earlier one drops") {
    import java.nio.file.{Files => JF, Paths, StandardCopyOption}
    val root = JF.createTempDirectory("graft_sidw_").toString
    val corpus = Tables.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val corpusT = core.SpaceDataset.create(
      spark, s"$root/corpus", corpus.schema, Seq("doc_id"))
    corpusT.append(corpus.repartitionByRange(4, col("doc_id")))
    val idx = graft.operators.Dedup.minhashIndexRows(corpus, "text", "doc_id",
      numHashes = 32, bands = 16, shingleSize = 3)
    val idxT = core.SpaceDataset.create(spark, s"$root/idx", idx.schema,
      Seq("id", "band"))
    idxT.append(idx)

    // wave1: novel reversed docs PLUS one intra-batch near-copy of the
    // first novelty (id 900000 copies 500000 — must drop within the
    // SAME batch, before the index ever sees either); wave2:
    // near-copies OF WAVE1 (not of the corpus) — only the maintained
    // index can catch those
    val w1base = corpus.filter(col("doc_id") < 30)
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(reverse(col("text")), lit(" xx"), col("doc_id")).as("text"))
    val w1 = w1base.unionByName(
      w1base.filter(col("doc_id") === 500000L)
        .select(lit(900000L).as("doc_id"),
          concat(col("text"), lit(" intradup")).as("text")))
    val w2 = w1base.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" tail2")).as("text"))
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = s"$root/stage_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = JF.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = Paths.get(s"$root/in/$name.parquet")
      JF.createDirectories(dst.getParent)
      JF.move(Paths.get(part), dst, StandardCopyOption.REPLACE_EXISTING)
      JF.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val now = System.currentTimeMillis()
    stage(w1, "w1", now - 60000)
    stage(w2, "w2", now)

    val sink = core.SpaceDataset.create(spark, s"$root/tbl", w1.schema, Seq("doc_id"))
    val q = spark.readStream.schema(w1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(graft.streaming.EventsStream.ingestDedupBatch(
        idxT, corpusT, sink, "sidw_test"))
      .start()
    try q.processAllAvailable() finally q.stop()

    val admitted = sink.readAll().select("doc_id").collect().map(_.getLong(0)).toSet
    // expected = wave1 minus docs with a LOWER-id exact-Jaccard near-dup
    // inside wave1 (the testdata plants near-dup pairs, e.g. docs 8/12 at
    // sf0.001 — they must intra-dedup too). Computed via the independent
    // exact all-pairs route, not the banded-minhash path under test.
    import graft.functions.{TextFunctions => TFn}
    val sh = w1.select(col("doc_id"),
      array_sort(array_distinct(TFn.wordShingleHashes(col("text"), 3))).as("g"))
    val a = sh.select(col("doc_id").as("ia"), col("g").as("ga"))
    val b = sh.select(col("doc_id").as("ib"), col("g").as("gb"))
    val intraDrop = a.crossJoin(b).filter(col("ia") < col("ib"))
      .filter(TFn.jaccardSorted(col("ga"), col("gb")) >= 0.6)
      .select("ib").collect().map(_.getLong(0)).toSet
    val expected = w1.collect().map(_.getLong(0)).toSet -- intraDrop
    assert(admitted == expected,
      s"admitted ${admitted.size} != expected ${expected.size} (intraDrop=$intraDrop)")
    assert(!admitted.contains(900000L), "the intra-batch near-copy was admitted")
    assert(!admitted.exists(_ >= 1000000L), "a wave2 near-copy was admitted")
  }

  test("ingest-dedup candidate fetch point-reads only files containing candidates") {
    import graft.operators.Dedup
    val docs = Tables.read(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val loc = Files.createTempDirectory("graft_sid_pr_").toString
    val corpusT = core.SpaceDataset.create(
      spark, s"$loc/corpus", docs.schema, Seq("doc_id"))
    corpusT.append(docs.repartitionByRange(4, col("doc_id")))
    val totalFiles = corpusT.plan().totalFiles
    assert(totalFiles == 4, s"expected 4 range files, got $totalFiles")

    val idx = Dedup.minhashIndexRows(docs, "text", "doc_id",
      numHashes = 32, bands = 16, shingleSize = 3)
    // near-copies of 3 docs from the LOWEST key range: their candidates
    // all live in one of the four corpus files
    val batch = docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graft tail")).as("text"))

    var fetchedIds: Seq[Long] = Nil
    val fetch: Seq[Long] => org.apache.spark.sql.DataFrame = { ids =>
      fetchedIds = ids
      corpusT.read(filter = Some(col("doc_id").isin(ids.map(Long.box): _*)))
    }
    val viaPoint = Dedup.minhashAgainstStoredIndexPointRead(
      idx, fetch, batch, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaJoin = Dedup.minhashAgainstStoredIndex(
      idx, docs, batch, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPoint == viaJoin, s"point-read pairs $viaPoint != join pairs $viaJoin")
    assert(viaPoint.nonEmpty, "planted near-copies produced no candidate pairs")

    // the scale property: manifest stats pruning skips every corpus
    // file containing no candidate id — the same planning path
    // corpusT.read(filter) takes (DataFrame.inputFiles is filter-blind)
    val p = corpusT.plan(
      Some(col("doc_id").isin(fetchedIds.map(Long.box): _*)))
    assert(p.prunedFiles > 0 && p.totalFiles - p.prunedFiles < totalFiles,
      s"candidate fetch scans ${p.totalFiles - p.prunedFiles} of " +
        s"${p.totalFiles} corpus files (candidates $fetchedIds) — no pruning")
    spark.catalog.clearCache()
  }

  test("ingest-dedup index fetch point-reads only index files touching batch band keys") {
    import graft.operators.Dedup
    val docs = Tables.read(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val loc = Files.createTempDirectory("graft_sid_ix_").toString
    val idx = Dedup.minhashIndexRows(docs, "text", "doc_id",
      numHashes = 32, bands = 16, shingleSize = 3)
    val idxT = core.SpaceDataset.create(spark, s"$loc/idx", idx.schema,
      Seq("id", "band"), statsFields = Seq("band_key"))
    // 64 disjoint band_key ranges: a 1-doc batch carries ≤ 16 band keys,
    // so ≥ 48 index files are provably untouchable — manifest stats
    // pruning must skip them (the scale property: per-batch index cost
    // is O(touched files), never O(index size))
    idxT.append(idx.repartitionByRange(64, col("band_key")))
    val totalFiles = idxT.plan().totalFiles
    assert(totalFiles == 64, s"expected 64 range files, got $totalFiles")

    val batch = docs.filter(col("doc_id") === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graft tail")).as("text"))
    var fetchedKeys: Seq[Long] = Nil
    val fetchIdx: Seq[Long] => org.apache.spark.sql.DataFrame = { ks =>
      fetchedKeys = ks
      idxT.read(filter = Some(col("band_key").isin(ks.map(Long.box): _*)))
    }
    val fetchText: Seq[Long] => org.apache.spark.sql.DataFrame = { ids =>
      if (ids.isEmpty) docs.limit(0)
      else docs.filter(col("doc_id").isin(ids.map(Long.box): _*))
    }
    val viaPruned = Dedup.minhashAgainstStoredIndexPruned(fetchIdx, fetchText,
      batch, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaJoin = Dedup.minhashAgainstStoredIndex(idxT.readAll(), docs, batch,
      "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPruned == viaJoin, s"pruned pairs $viaPruned != full-read pairs $viaJoin")
    assert(viaPruned.nonEmpty, "planted near-copy produced no candidate pairs")
    assert(fetchedKeys.nonEmpty && fetchedKeys.size <= 16,
      s"1-doc batch fetched ${fetchedKeys.size} band keys")

    // the same planning path idxT.read(filter) takes inside fetchIdx
    val p = idxT.plan(Some(col("band_key").isin(fetchedKeys.map(Long.box): _*)))
    assert(p.prunedFiles >= totalFiles - fetchedKeys.size,
      s"index fetch scans ${p.totalFiles - p.prunedFiles} of ${p.totalFiles} " +
        s"index files for ${fetchedKeys.size} band keys — no pruning")
    spark.catalog.clearCache()
  }

  test("periodic cluster_by maintenance restores index point-read pruning") {
    import graft.operators.Dedup
    val docs = Tables.read(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft_sid_mx_").toString
    spark.conf.set("spark.sql.catalog.graft_mx",
      classOf[org.apache.spark.sql.graftshim.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_mx.location", root)

    val base = Dedup.minhashIndexRows(docs.filter(col("doc_id") < 200),
      "text", "doc_id", numHashes = 32, bands = 16, shingleSize = 3)
    val idxT = core.SpaceDataset.create(spark, s"$root/idx", base.schema,
      Seq("id", "band"), statsFields = Seq("band_key"))
    idxT.append(base.repartitionByRange(16, col("band_key")))

    // the stream runs: 8 appendOnce index increments, one per admitted
    // micro-batch — each lands as (a) tiny unclustered file(s) whose
    // band_key range spans ~the whole key space, so every increment is
    // unprunable for any point read and the round-7 win decays
    (0 until 8).foreach { i =>
      val b = docs.filter(col("doc_id") >= 200 + i * 10 && col("doc_id") < 210 + i * 10)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(reverse(col("text")), lit(" b"), lit(i)).as("text"))
      idxT.appendOnce(Dedup.minhashIndexRows(b, "text", "doc_id",
        numHashes = 32, bands = 16, shingleSize = 3), "mx#idx", i.toLong)
    }
    val rowsBefore = idxT.readAll().collect().map(_.toSeq).toSet

    // a 1-doc batch's point read: ≤16 band keys
    val probe = docs.filter(col("doc_id") === 42L)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(col("text"), lit(" probe")).as("text"))
    val keys = Dedup.minhashIndexRows(probe, "text", "doc_id",
      numHashes = 32, bands = 16, shingleSize = 3)
      .select(col("band_key")).collect().map(_.getLong(0)).toSeq.distinct
    assert(keys.nonEmpty && keys.size <= 16)

    def scanned(): (Int, Int) = {
      idxT.refresh()
      val p = idxT.plan(Some(col("band_key").isin(keys.map(Long.box): _*)))
      (p.totalFiles - p.prunedFiles, p.totalFiles)
    }
    val (scannedBefore, totalBefore) = scanned()
    assert(scannedBefore >= 8,
      s"expected every unclustered increment scanned, got $scannedBefore of $totalBefore")

    // the maintenance cycle Dedup.scala prescribes: re-cluster on
    // band_key through the SQL surface a scheduled job would use
    val cb = spark.sql("CALL graft_mx.system.cluster_by(table => 'idx', " +
      "columns => 'band_key', target_file_rows => 300)").collect()
    assert(cb.length == 1)

    // point-read pruning is restored to the standing-index bar: only
    // files whose range a batch key touches are read
    val (scannedAfter, totalAfter) = scanned()
    assert(totalAfter - scannedAfter >= totalAfter - keys.size,
      s"after cluster_by a ${keys.size}-key fetch still scans " +
        s"$scannedAfter of $totalAfter index files")
    assert(scannedAfter < scannedBefore,
      s"maintenance did not reduce the point-read cost " +
        s"($scannedBefore -> $scannedAfter)")
    // the rewrite moved bytes, not data: same rows, same PK uniqueness
    assert(idxT.readAll().collect().map(_.toSeq).toSet == rowsBefore,
      "cluster_by changed the index contents")
    spark.catalog.clearCache()
  }

  test("ingest-dedup index append heals on replay after a partial commit") {
    import graft.operators.Dedup
    val docs = Tables.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 50)
    val loc = Files.createTempDirectory("graft_sid_eo_").toString
    val corpusT = core.SpaceDataset.create(
      spark, s"$loc/corpus", docs.schema, Seq("doc_id"))
    corpusT.append(docs)
    val idx = Dedup.minhashIndexRows(docs, "text", "doc_id",
      numHashes = 32, bands = 16, shingleSize = 3)
    val idxT = core.SpaceDataset.create(
      spark, s"$loc/idx", idx.schema, Seq("id", "band"))
    idxT.append(idx)
    val batch = docs.select((col("doc_id") + 700000L).as("doc_id"),
      concat(reverse(col("text")), lit(" novel"), col("doc_id")).as("text"))
    val sink = core.SpaceDataset.create(
      spark, s"$loc/tbl", batch.schema, Seq("doc_id"))

    // simulate the crash window: sink committed batch 0, index did NOT
    sink.appendOnce(batch, "sid_eo", 0L)
    val idxRowsBefore = idxT.readAll().count()

    // replay of batch 0: the batch's own sink rows must not self-match
    // as duplicates, and the missing index append must commit
    graft.streaming.EventsStream.ingestDedupBatch(
      idxT, corpusT, sink, "sid_eo")(batch, 0L)
    assert(sink.readAll().count() == batch.count(),
      "replay re-appended or dropped admitted docs")
    assert(idxT.readAll().count() > idxRowsBefore,
      "replay did not heal the missing index append")

    // a second replay is a full no-op on both tables
    val idxRowsHealed = idxT.readAll().count()
    graft.streaming.EventsStream.ingestDedupBatch(
      idxT, corpusT, sink, "sid_eo")(batch, 0L)
    assert(sink.readAll().count() == batch.count())
    assert(idxT.readAll().count() == idxRowsHealed)
    spark.catalog.clearCache()
  }

  test("replay excludes only THIS batch's sink delta, not earlier-batch admits") {
    import graft.operators.Dedup
    val docs = Tables.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 50)
    val loc = Files.createTempDirectory("graft_sid_rx_").toString
    val corpusT = core.SpaceDataset.create(
      spark, s"$loc/corpus", docs.schema, Seq("doc_id"))
    corpusT.append(docs)
    val idx = Dedup.minhashIndexRows(docs, "text", "doc_id",
      numHashes = 32, bands = 16, shingleSize = 3)
    val idxT = core.SpaceDataset.create(
      spark, s"$loc/idx", idx.schema, Seq("id", "band"))
    idxT.append(idx)
    // batch 0 admits novel doc X (id 820003)
    val x = docs.filter(col("doc_id") === 3L)
      .select((col("doc_id") + 820000L).as("doc_id"),
        concat(reverse(col("text")), lit(" first")).as("text"))
    val sink = core.SpaceDataset.create(
      spark, s"$loc/tbl", x.schema, Seq("doc_id"))
    graft.streaming.EventsStream.ingestDedupBatch(
      idxT, corpusT, sink, "sid_rx")(x, 0L)
    assert(sink.readAll().count() == 1)
    assert(idxT.readAll().filter(col("id") === 820003L).count() == 16)
    // batch 1 = X re-arriving (near-dup of its batch-0 text) + novel Y.
    // Simulate the crash window: batch 1's sink commit landed (correct
    // decision: Y admitted, X-rearrival dropped as a dup of its own
    // batch-0 sink row), the #idx commit did NOT.
    val xAgain = x.select(col("doc_id"),
      concat(col("text"), lit(" tail")).as("text"))
    val y = docs.filter(col("doc_id") === 4L)
      .select((col("doc_id") + 830000L).as("doc_id"),
        concat(reverse(col("text")), lit(" other")).as("text"))
    val batch1 = xAgain.unionByName(y)
    sink.appendOnce(y, "sid_rx", 1L)
    // replay of batch 1: self-exclusion must hide only Y's sink row
    // (this batch's committed delta), NOT X's batch-0 row — else the
    // recomputed survivors re-admit X and the healing #idx appendOnce
    // writes duplicate (id, band) primary-key rows for it
    graft.streaming.EventsStream.ingestDedupBatch(
      idxT, corpusT, sink, "sid_rx")(batch1, 1L)
    assert(sink.readAll().count() == 2,
      "replay changed the committed sink decision")
    assert(idxT.readAll().filter(col("id") === 820003L).count() == 16,
      "replay wrote duplicate index rows for an earlier-batch admit")
    assert(idxT.readAll().filter(col("id") === 830004L).count() == 16,
      "replay did not heal the index rows for this batch's admit")
    // a second replay is a full no-op on both tables
    val idxRows = idxT.readAll().count()
    graft.streaming.EventsStream.ingestDedupBatch(
      idxT, corpusT, sink, "sid_rx")(batch1, 1L)
    assert(sink.readAll().count() == 2)
    assert(idxT.readAll().count() == idxRows)
    spark.catalog.clearCache()
  }

  test("a doc_id admitted by an EARLIER batch re-arriving later still dedupes") {
    import graft.operators.Dedup
    val docs = Tables.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 50)
    val loc = Files.createTempDirectory("graft_sid_xb_").toString
    val corpusT = core.SpaceDataset.create(
      spark, s"$loc/corpus", docs.schema, Seq("doc_id"))
    corpusT.append(docs)
    val idx = Dedup.minhashIndexRows(docs, "text", "doc_id",
      numHashes = 32, bands = 16, shingleSize = 3)
    val idxT = core.SpaceDataset.create(
      spark, s"$loc/idx", idx.schema, Seq("id", "band"))
    idxT.append(idx)
    // batch 0 admits a novel doc; batch 1 re-delivers the SAME doc_id
    // with near-identical text (a re-crawl). The batch-1 copy must
    // verify against the batch-0 sink text and be dropped — replay
    // self-exclusion must NOT blind a first-attempt batch, or the sink
    // gains a second row under the same primary key.
    val novel = docs.filter(col("doc_id") === 7L)
      .select((col("doc_id") + 800000L).as("doc_id"),
        concat(reverse(col("text")), lit(" fresh")).as("text"))
    val sink = core.SpaceDataset.create(
      spark, s"$loc/tbl", novel.schema, Seq("doc_id"))
    graft.streaming.EventsStream.ingestDedupBatch(
      idxT, corpusT, sink, "sid_xb")(novel, 0L)
    assert(sink.readAll().count() == 1, "the novel doc was not admitted")
    val rearrival = novel.select(col("doc_id"),
      concat(col("text"), lit(" tail")).as("text"))
    graft.streaming.EventsStream.ingestDedupBatch(
      idxT, corpusT, sink, "sid_xb")(rearrival, 1L)
    val rows = sink.readAll().collect()
    assert(rows.length == 1,
      s"re-arrived doc_id duplicated the sink primary key (${rows.length} rows)")
    spark.catalog.clearCache()
  }

  test("the same doc_id twice within ONE micro-batch appends a single row") {
    import graft.operators.Dedup
    val docs = Tables.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 50)
    val loc = Files.createTempDirectory("graft_sid_2x_").toString
    val corpusT = core.SpaceDataset.create(
      spark, s"$loc/corpus", docs.schema, Seq("doc_id"))
    corpusT.append(docs)
    val idx = Dedup.minhashIndexRows(docs, "text", "doc_id",
      numHashes = 32, bands = 16, shingleSize = 3)
    val idxT = core.SpaceDataset.create(
      spark, s"$loc/idx", idx.schema, Seq("id", "band"))
    idxT.append(idx)
    // at-least-once delivery: one novel doc arrives TWICE in the same
    // micro-batch (identical ids never pair in intra-batch dedup)
    val novel = docs.filter(col("doc_id") === 9L)
      .select((col("doc_id") + 810000L).as("doc_id"),
        concat(reverse(col("text")), lit(" once")).as("text"))
    val doubled = novel.unionByName(novel)
    val sink = core.SpaceDataset.create(
      spark, s"$loc/tbl", novel.schema, Seq("doc_id"))
    graft.streaming.EventsStream.ingestDedupBatch(
      idxT, corpusT, sink, "sid_2x")(doubled, 0L)
    assert(sink.readAll().count() == 1,
      "duplicate delivery within one batch wrote a duplicate primary key")
    assert(idxT.readAll().filter(col("id") === 810009L).count() == 16,
      "index gained duplicate (id, band) rows for the doubled doc")
    spark.catalog.clearCache()
  }

  test("stream-curate's quality gate evaluates the scoring expression once") {
    import graft.functions.{TextFunctions => TFn}
    import TestSpark.spark.implicits._
    // the batch shape of streamCurate's gate: typed filter above the
    // projection — the object boundary blocks predicate pushdown, so the
    // Filter must NOT re-inline the text-tokenizing expression
    val df = Tables.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        TFn.qualityScore(col("text")).as("quality"),
        TFn.approxBpeTokenCount(col("text")).cast("long").as("n_tok"))
      .as[(Long, String, Double, Long)]
      .filter(_._3 >= 0.3)
      .toDF("doc_id", "lang", "quality", "n_tok")
    val opt = df.queryExecution.optimizedPlan
    val filterRefs = opt.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.map(_.name).toSet
    }
    assert(filterRefs.forall(!_.contains("text")),
      s"quality gate re-inlined the scoring expression over text: $filterRefs")
    // the optimizer collapses the ser/de pair into a TypedFilter sitting
    // ABOVE the Project — the barrier held and the text-tokenizing
    // expression appears exactly once (in the Project)
    assert(opt.toString.contains("TypedFilter"),
      "typed pushdown barrier missing — gate would double-evaluate")
    assert("split\\(text".r.findAllIn(opt.toString).size <= 2,
      "scoring expressions over text evaluated more than once each")
  }

  test("a re-crawled doc reusing a corpus id still dedupes against its corpus text") {
    import graft.operators.Dedup
    val docs = Tables.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 50)
    val loc = Files.createTempDirectory("graft_sid_rc_").toString
    val corpusT = core.SpaceDataset.create(
      spark, s"$loc/corpus", docs.schema, Seq("doc_id"))
    corpusT.append(docs)
    val idx = Dedup.minhashIndexRows(docs, "text", "doc_id",
      numHashes = 32, bands = 16, shingleSize = 3)
    val idxT = core.SpaceDataset.create(
      spark, s"$loc/idx", idx.schema, Seq("id", "band"))
    idxT.append(idx)
    // the batch doc keeps the CORPUS doc's id — the replay
    // self-exclusion must not also blind the corpus-side fetch, or the
    // (X, X) candidate pair never verifies and the near-dup is admitted
    val batch = docs.filter(col("doc_id") === 3L)
      .select(col("doc_id"), concat(col("text"), lit(" graft dedup tail")).as("text"))
    val sink = core.SpaceDataset.create(
      spark, s"$loc/tbl", batch.schema, Seq("doc_id"))
    graft.streaming.EventsStream.ingestDedupBatch(
      idxT, corpusT, sink, "sid_rc")(batch, 0L)
    assert(sink.readAll().count() == 0,
      "a near-duplicate re-crawl of an existing corpus id was admitted")
    spark.catalog.clearCache()
  }

  test("custom-state streaming sessionization equals batch sessionization") {
    import org.apache.spark.sql.expressions.Window
    val out = graft.streaming.EventsStream.streamSessions(spark, sfDir)
    // independent batch formulation of the same gap semantics
    val ev = Tables.read(spark, sfDir, "events")
    val e = ev.select(col("user_id"),
      graft.functions.EventTime.epochSeconds(ev.schema, "ts").as("t"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
    val exp = e
      .withColumn("new_s",
        when(lag(col("t"), 1).over(w).isNull ||
          col("t") - lag(col("t"), 1).over(w) > 1800, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("t")).as("s_start"), count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .drop("sid")
    assert(out.count() == exp.count())
    assert(out.exceptAll(exp).isEmpty && exp.exceptAll(out).isEmpty)
  }

  test("sessionization keeps user_id -1 and survives an empty events table") {
    import TestSpark.spark.implicits._
    // user_id is a plain signed BIGINT: -1 is a legitimate user and must
    // sessionize (the sentinel is an out-of-band flag, not a magic id)
    val dir = Files.createTempDirectory("graft_sess_edge_").toString
    Seq((-1L, 1000L, 1.0), (-1L, 1100L, 2.0), (-1L, 4000L, 3.0), (5L, 1000L, 4.0))
      .toDF("user_id", "t", "value")
      .select(lit(1L).as("event_id"), col("user_id"),
        lit("click").as("event_type"), col("value"),
        timestamp_seconds(col("t")).as("ts"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = graft.streaming.EventsStream.streamSessions(spark, dir).collect()
    val neg = out.filter(_.getLong(0) == -1L)
    assert(neg.length == 2,
      s"user -1 must yield 2 sessions, got ${neg.mkString("; ")}")
    assert(out.count(_.getLong(0) == 5L) == 1)

    // zero rows: no stream runs, result is empty instead of an NPE
    val empty = Files.createTempDirectory("graft_sess_empty_").toString
    Seq.empty[(Long, Long, String, Double, Long)]
      .toDF("event_id", "user_id", "event_type", "value", "t")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        timestamp_seconds(col("t")).as("ts"))
      .coalesce(1).write.parquet(s"$empty/events.parquet")
    assert(graft.streaming.EventsStream.streamSessions(spark, empty).count() == 0)
  }
}
