package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, Tables, TestSpark}

/** The manifest-list level: per-manifest summaries in snapshot metadata
  * prune WHOLE manifests at plan time; file-level stats prune within the
  * survivors. In graft.core for Storage.mutate (legacy-table
  * simulation). */
class ManifestListSpec extends AnyFunSuite {
  import TestSpark._

  /** 4 range-disjoint appends → 4 manifests with disjoint key ranges,
    * each holding several range-partitioned files. */
  private def quartered(prefix: String): (SpaceDataset, org.apache.spark.sql.DataFrame) = {
    val orders = Tables.read(spark, sfDir, "orders")
    val loc = Files.createTempDirectory(s"graft_$prefix").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))
    val maxKey = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val q = maxKey / 4 + 1
    (0 until 4).foreach { i =>
      ds.append(orders
        .filter(col("o_orderkey") >= i * q && col("o_orderkey") < (i + 1) * q)
        .repartitionByRange(3, col("o_orderkey")))
    }
    (ds, orders)
  }

  test("summaries prune whole manifests; results match the plain filter") {
    val (ds, orders) = quartered("mlist_")
    val meta = ds.storage.metadata
    assert(meta.currentSnapshot.manifestFiles.indexManifestFiles.size == 4)
    // every manifest carries a summary with PK stats
    meta.currentSnapshot.manifestFiles.indexManifestFiles.foreach { m =>
      val s = meta.manifestSummaries(m)
      assert(s.numFiles > 0 && s.stats.contains("o_orderkey"))
    }

    // a narrow PK filter falsifies 3 of the 4 manifests without opening them
    val lo = orders.agg(min(col("o_orderkey"))).collect()(0).getLong(0)
    val p = ds.plan(Some(col("o_orderkey") === lit(lo)))
    assert(p.totalManifests == 4)
    assert(p.prunedManifests >= 3, s"expected manifest-level pruning, got $p")
    assert(p.prunedFiles > 0)
    assert(ds.read(filter = Some(col("o_orderkey") === lit(lo))).count() ==
      orders.filter(col("o_orderkey") === lit(lo)).count())

    // an unfiltered plan keeps every manifest and file
    val full = ds.plan(None)
    assert(full.prunedManifests == 0 && full.prunedFiles == 0)
    assert(full.totalFiles == 12)
    assert(ds.readAll().count() == orders.count())

    // soundness fuzz: random range predicates agree with the plain filter
    val rnd = new scala.util.Random(7)
    val maxKey = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    (1 to 15).foreach { _ =>
      val a = math.abs(rnd.nextLong()) % maxKey
      val b = math.abs(rnd.nextLong()) % maxKey
      val (x, y) = (math.min(a, b), math.max(a, b))
      val cond = col("o_orderkey") >= x && col("o_orderkey") <= y
      assert(ds.read(filter = Some(cond)).count() == orders.filter(cond).count())
    }

    // the relation-backed (Catalyst) path agrees too
    val sqlCount = ds.readAll().filter(col("o_orderkey") === lit(lo)).count()
    assert(sqlCount == orders.filter(col("o_orderkey") === lit(lo)).count())
  }

  test("CoW delete and compaction keep every live manifest summarized") {
    val (ds, orders) = quartered("mlistc_")
    ds.delete(col("o_totalprice") > 300000.0)
    val afterDelete = ds.storage.metadata
    afterDelete.currentSnapshot.manifestFiles.indexManifestFiles.foreach { m =>
      assert(afterDelete.manifestSummaries.contains(m), s"no summary for $m after delete")
    }
    ds.compact(targetFileRows = 1000000L)
    val afterCompact = ds.storage.metadata
    afterCompact.currentSnapshot.manifestFiles.indexManifestFiles.foreach { m =>
      assert(afterCompact.manifestSummaries.contains(m), s"no summary for $m after compact")
    }
    // pruning still fires on the rewritten layout... on the PK, which
    // survives both the delete and the bin-packing
    val lo = orders.agg(min(col("o_orderkey"))).collect()(0).getLong(0)
    assert(ds.read(filter = Some(col("o_orderkey") === lit(lo))).count() ==
      orders.filter(col("o_orderkey") === lit(lo) && !(col("o_totalprice") > 300000.0)).count())
  }

  test("legacy tables without summaries fall back to reading every manifest") {
    val (ds, orders) = quartered("mlistl_")
    val st = ds.storage
    st.mutate(m => (m.copy(manifestSummaries = Map.empty), ())) // simulate pre-summary table
    val lo = orders.agg(min(col("o_orderkey"))).collect()(0).getLong(0)
    val p = ds.plan(Some(col("o_orderkey") === lit(lo)))
    assert(p.prunedManifests == 0, "no summaries -> no manifest-level pruning")
    assert(p.prunedFiles > 0, "file-level stats still prune")
    assert(ds.read(filter = Some(col("o_orderkey") === lit(lo))).count() ==
      orders.filter(col("o_orderkey") === lit(lo)).count())
  }

  test("rewrite_manifests bin-packs the list, preserves stats, stays CDC-silent") {
    val orders = Tables.read(spark, sfDir, "orders")
    val loc = Files.createTempDirectory("graft_mlrw_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))
    val maxKey = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val step = maxKey / 8 + 1
    // INTERLEAVED trickle: appends alternate low/high ranges, so before
    // the rewrite consecutive manifests do NOT sort by key
    val order = Seq(0, 4, 1, 5, 2, 6, 3, 7)
    order.foreach { i =>
      ds.append(orders.filter(
        col("o_orderkey") >= i * step && col("o_orderkey") < (i + 1) * step))
    }
    val beforeSnap = ds.storage.metadata.currentSnapshotId
    val beforeManifests = ds.storage.metadata.currentSnapshot
      .manifestFiles.indexManifestFiles
    assert(beforeManifests.size >= 8)
    val total = orders.count()

    val res = ds.rewriteManifests(targetFilesPerManifest = 3L).get
    val meta = ds.storage.metadata
    val after = meta.currentSnapshot.manifestFiles.indexManifestFiles
    assert(after.size == res.outputManifests && after.size < beforeManifests.size)
    assert(res.rewrittenManifests == beforeManifests.size)
    // every new manifest is summarized; counts conserve
    assert(after.forall(meta.manifestSummaries.contains))
    assert(after.map(meta.manifestSummaries(_).numFiles).sum == res.files)
    // range-sorted packing: a low-range probe prunes whole manifests
    val p = ds.plan(Some(col("o_orderkey") < lit(step)))
    assert(p.prunedManifests > 0, s"expected summary pruning, got $p")
    assert(ds.readAll().count() == total)
    // CDC-silent: the rewrite snapshot carries no changelog and diff
    // across it reports nothing
    assert(ds.storage.metadata.currentSnapshot.changeLogFile.isEmpty)
    assert(ds.diff(beforeSnap.toString,
      ds.storage.metadata.currentSnapshotId.toString).isEmpty)
    // time travel to the pre-rewrite snapshot still reads the old list
    assert(ds.read(version = Some(beforeSnap.toString)).count() == total)
    // idempotent: a second rewrite at the same target is a no-op
    assert(ds.rewriteManifests(targetFilesPerManifest = 3L).isEmpty)

    // INCREMENTAL: new trickle appends pack WITHOUT rereading the
    // already-full manifests — the packed bulk survives by identity
    val packedFull = ds.storage.metadata.currentSnapshot
      .manifestFiles.indexManifestFiles
      .filter(m => ds.storage.metadata.manifestSummaries(m).numFiles >= 3).toSet
    assert(packedFull.nonEmpty)
    order.take(4).foreach { i =>
      ds.append(orders.filter(
        col("o_orderkey") >= i * step && col("o_orderkey") < (i + 1) * step)
        .limit(5))
    }
    val res2 = ds.rewriteManifests(targetFilesPerManifest = 3L).get
    val after2 = ds.storage.metadata.currentSnapshot
      .manifestFiles.indexManifestFiles.toSet
    assert(packedFull.subsetOf(after2),
      "full manifests must survive an incremental pack untouched")
    assert(res2.rewrittenManifests <= 4 + 1,
      s"only the under-filled tail may pack (packed ${res2.rewrittenManifests})")
    assert(ds.readAll().count() == total + 20)
  }

  test("rewrite_manifests splits a pack into several target-size manifests") {
    val orders = Tables.read(spark, sfDir, "orders")
    val loc = Files.createTempDirectory("graft_mlrwd_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))
    (0 until 3).foreach(i => ds.append(
      orders.filter(col("o_orderkey") % 3 === i).repartitionByRange(4, col("o_orderkey"))))
    val nFiles = ds.storage.metadata.currentSnapshot.manifestFiles.indexManifestFiles
      .map(ds.storage.metadata.manifestSummaries(_).numFiles).sum
    val res = ds.rewriteManifests(targetFilesPerManifest = math.max(1L, nFiles / 2))
    assert(res.isDefined && res.get.files == nFiles)
    assert(res.get.outputManifests >= 2, s"expected several outputs, got ${res.get}")
    val meta = ds.storage.metadata
    val after = meta.currentSnapshot.manifestFiles.indexManifestFiles
    assert(after.size == res.get.outputManifests)
    assert(after.forall(meta.manifestSummaries.contains),
      "packed manifests must carry summaries")
    assert(ds.readAll().count() == orders.count())
  }

  test("rewrite_manifests packs record manifests too; stitching survives") {
    import org.apache.spark.sql.functions.encode
    val docs = Tables.read(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val loc = Files.createTempDirectory("graft_mlrwr_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, docs.schema, Seq("doc_id"),
      recordFields = Seq("payload"))
    (0 until 4).foreach(i => ds.append(docs.filter(col("doc_id") % 4 === i)))
    val before = ds.storage.metadata.currentSnapshot
    assert(before.manifestFiles.recordManifestFiles.size == 4)

    val res = ds.rewriteManifests(targetFilesPerManifest = 100L).get
    val after = ds.storage.metadata.currentSnapshot
    assert(after.manifestFiles.indexManifestFiles.size == res.outputManifests)
    assert(after.manifestFiles.recordManifestFiles.size <
      before.manifestFiles.recordManifestFiles.size,
      "record manifests must bin-pack alongside the index manifests")
    // payload stitching and counts survive the metadata reorganization
    assert(ds.readAll().count() == docs.count())
    assert(ds.readAll().filter(col("payload").isNull).count() == 0)
  }

  test("trickle appends self-pack the manifest tail (no manual CALL)") {
    val orders = Tables.read(spark, sfDir, "orders")
    val loc = Files.createTempDirectory("graft_mlap_").toString + "/tbl"
    spark.conf.set(SpaceDataset.AutoPackManifestsKey, "6")
    try {
      val ds = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))
      (0 until 20).foreach(i => ds.append(orders.filter(col("o_orderkey") % 20 === i)))
      val meta = ds.storage.metadata
      val n = meta.currentSnapshot.manifestFiles.indexManifestFiles.size
      assert(n <= 7, s"self-pack must bound the manifest tail, got $n")
      // the pack commits are CDC-silent: a view/CDC walk sees ONLY the
      // 20 data snapshots
      val dataSids = ds.storage.orderedSnapshotIds(0L, meta.currentSnapshotId)
        .filter(sid => ds.storage.snapshotOrFail(sid).changeLogFile.isDefined)
      assert(dataSids.size == 20, s"expected 20 data snapshots, got ${dataSids.size}")
      assert(ds.readAll().count() == orders.count())
    } finally spark.conf.unset(SpaceDataset.AutoPackManifestsKey)
  }

  test("repeated plans of an unchanged table serve manifest rows from the process cache") {
    val (ds, orders) = quartered("mlcache_")
    // warm: the first planned read loads each manifest once
    assert(ds.readAll().count() == orders.count())
    val opens0 = ManifestIO.manifestParquetOpens
    // repeated plans — fresh FileIndex per read, filtered and full —
    // must not reopen any manifest parquet (they are immutable)
    assert(ds.read(filter = Some(col("o_orderkey") < 100L)).count() ==
      orders.filter(col("o_orderkey") < 100L).count())
    assert(ds.readAll().count() == orders.count())
    assert(ds.plan(Some(col("o_orderkey") < 100L)).files.nonEmpty)
    assert(ManifestIO.manifestParquetOpens == opens0,
      s"unchanged table must replan with ZERO manifest loads " +
        s"(${ManifestIO.manifestParquetOpens - opens0} loads)")
    // an append mints ONE new manifest: the next plan loads exactly it
    ds.append(orders.limit(5))
    assert(ds.readAll().count() == orders.count() + 5)
    val delta = ManifestIO.manifestParquetOpens - opens0
    assert(delta >= 1 && delta <= 2,
      s"only the new manifest should load after an append, loaded $delta")
  }

  test("a small key upsert reads the live manifests through the process cache") {
    val (ds, orders) = quartered("mlups_")
    val live = ds.storage.metadata.currentSnapshot.manifestFiles.indexManifestFiles.size
    // warm: a planned read loads each live manifest once
    assert(ds.readAll().count() == orders.count())
    val opens0 = ManifestIO.manifestParquetOpens
    // the key sweep's candidates, its physical row counts and the
    // carryover of the manifests it rewrites all read the same
    // immutable manifests: each loads at most once (three times when
    // every pass opened them anew)
    ds.upsert(orders.filter(col("o_orderkey") < 40L).limit(5)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0))
    val opens = ManifestIO.manifestParquetOpens - opens0
    assert(opens <= live, s"a 5-row upsert opened $opens manifests; $live are live")
    assert(ds.readAll().count() == orders.count())
  }

  test("snapshot expiry drops summaries of stranded manifests") {
    val (ds, _) = quartered("mliste_")
    ds.delete(col("o_orderkey") % 2 === 0) // rewrites → old manifests stranded on old snapshots
    val before = ds.storage.metadata.manifestSummaries.size
    ds.expireSnapshots(olderThanMs = -1L, keepLast = 1)
    val meta = ds.storage.metadata
    val live = meta.snapshots.values.flatMap(_.manifestFiles.indexManifestFiles).toSet
    assert(meta.manifestSummaries.keySet.subsetOf(live))
    assert(meta.manifestSummaries.size < before, "expiry must shed dead summaries")
    assert(live.forall(meta.manifestSummaries.contains))
  }

  test("GC, the manifest table and a key delete's metadata side run no Spark job") {
    val (ds, orders) = quartered("mljobs_")
    val (gc, gcJobs) = JobCount.of(spark)(ds.garbageCollect())
    assert(gc.deleted.isEmpty)
    assert(gcJobs.jobs == 0, s"GC reachability must not run a job: $gcJobs")
    val (m, mJobs) = JobCount.of(spark)(ds.indexManifest().collect())
    assert(m.length == 12)
    assert(mJobs.jobs == 0, s"indexManifest().collect() ran $mJobs")
    // a key delete's metadata side: candidate planning by key, then the
    // carryover of the two rewritten files
    val sid = ds.storage.metadata.currentSnapshotId
    val lo = orders.agg(min(col("o_orderkey"))).collect()(0).getLong(0)
    val (p, planJobs) = JobCount.of(spark)(
      ReadOp.plan(spark, ds.storage, sid, Some(col("o_orderkey") === lit(lo))))
    assert(p.files.nonEmpty && planJobs.jobs == 0, s"plan ran $planJobs")
    val affected = ds.plan().files.take(2).toSet
    val (co, coJobs) = JobCount.of(spark)(
      RewriteOp.manifestCarryover(spark, ds.storage, sid, affected))
    assert(co.affectedFileRows.keySet == affected)
    assert(coJobs.jobs == 0, s"carryover ran $coJobs")
    // sweeping more than 64 unreachable files: the deletes run on the
    // driver pool, not as a Spark job
    val dead = (0 until 70).map(i => s"data/orphan_$i.parquet")
    dead.foreach { rel =>
      val f = java.nio.file.Paths.get(ds.storage.absolute(rel))
      Files.write(f, Array[Byte](1))
      assert(f.toFile.setLastModified(0L))
    }
    val (swept, sweepJobs) = JobCount.of(spark)(ds.garbageCollect())
    assert(swept.deleted.toSet == dead.toSet)
    assert(sweepJobs.jobs == 0, s"GC of ${dead.size} files ran $sweepJobs")
    assert(dead.forall(rel => !Files.exists(java.nio.file.Paths.get(ds.storage.absolute(rel)))))
  }

  test("a table past 256 files: plan, DML and maintenance match full scans") {
    val orders = Tables.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val loc = Files.createTempDirectory("graft_ml300_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))
    ds.append(orders.repartitionByRange(300, col("o_orderkey")))
    val nFiles = ds.plan().files.size
    assert(nFiles > 256, s"expected > 256 files, got $nFiles")
    val pred = col("o_orderkey") < 200L
    // reference model of the table's rows, kept next to every op
    var model: Set[org.apache.spark.sql.Row] = orders.collect().toSet
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    def check(what: String): Unit = {
      assert(rows(ds.readAll()) == model, s"$what: table differs from the model")
      // the plan lists exactly the files of a full manifest scan
      val ms = ds.storage.metadata.currentSnapshot.manifestFiles.indexManifestFiles
      val listed = spark.read.parquet(ms.map(ds.storage.absolute): _*)
        .select(ManifestIO.FileCol).collect().map(_.getString(0)).toSet
      assert(ds.plan().files.toSet == listed, s"$what: plan(None) lost files")
      // a filtered plan keeps every file holding a match
      val planned = ds.plan(Some(pred)).files
      assert(rows(spark.read.parquet(planned.map(ds.storage.absolute): _*).filter(pred)) ==
        model.filter(_.getLong(0) < 200L), s"$what: the filtered plan dropped a match")
    }
    check("append")
    assert(ds.plan(Some(pred)).files.size < nFiles, "the filtered plan must prune")

    // key delete (carryover past 256 files)
    val keys = orders.filter(col("o_orderkey") % 7 === 0).select("o_orderkey")
    ds.storage.commitTransaction(policy = ConflictPolicy.Rewrite) { pinned =>
      DmlOps.deleteByKeys(spark, ds.storage, pinned, keys)
    }
    model = model.filterNot(_.getLong(0) % 7 == 0)
    check("key delete")

    // upsert: replace some rows, add new ones
    val up = orders.filter(col("o_orderkey") % 11 === 1)
      .withColumn("o_totalprice", lit(1.0))
      .union(orders.filter(col("o_orderkey") < 40L)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L))
    ds.upsert(up)
    val upRows = rows(up)
    model = model.filterNot(r => upRows.exists(_.getLong(0) == r.getLong(0))) ++ upRows
    check("upsert")

    assert(ds.rewriteManifests(targetFilesPerManifest = 1000L).isDefined)
    check("rewriteManifests")

    assert(ds.compact(targetFileRows = 100L).isDefined)
    assert(ds.plan().files.size < nFiles)
    check("compact")

    ds.expireSnapshots(olderThanMs = -1L, keepLast = 1)
    assert(ds.garbageCollect(minAgeMs = 0L).deleted.nonEmpty)
    check("garbageCollect")
    val onDisk = {
      val s = Files.walk(java.nio.file.Paths.get(loc, "data"))
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }
    assert(onDisk == ds.plan().files.size, "GC must keep exactly the live data files")
  }
}
