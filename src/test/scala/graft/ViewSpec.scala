package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.views._

class ViewSpec extends AnyFunSuite {
  import TestSpark._

  private def freshLoc(p: String): String =
    Files.createTempDirectory(s"graft_$p").toString + "/tbl"

  private def orders = Tables.read(spark, sfDir, "orders")

  private def sourceTable(): SpaceDataset = {
    val ds = SpaceDataset.create(spark, freshLoc("src"), orders.schema, Seq("o_orderkey"))
    ds.append(orders.filter(col("o_orderkey") <= 1000L))
    ds
  }

  test("view plan JSON roundtrips") {
    val v = View.ofTable("/tmp/x")
      .filterExpr("o_totalprice > 100")
      .selectExprs("o_orderkey", "o_totalprice * 2 AS doubled")
    val back = ViewPlan.fromJson(v.plan.json)
    assert(back == v.plan)
    intercept[IllegalArgumentException](ViewPlan.fromJson("""{"type":"nope"}"""))
  }

  test("a cloudpickled-UDF transform name fails with the conversion path") {
    // a Python-reference MV persists its UDF as a pickle blob; the JVM
    // loader must say WHY it cannot run and HOW to convert, not just
    // "not registered"
    val e = intercept[IllegalArgumentException](
      TransformRegistry.resolve("map_udf_3f2a.pkl"))
    assert(e.getMessage.contains("cloudpickled"), e.getMessage)
    assert(e.getMessage.contains("Re-materialize"), e.getMessage)
    val plain = intercept[IllegalArgumentException](
      TransformRegistry.resolve("no_such_transform"))
    assert(plain.getMessage.contains("TransformRegistry.register"), plain.getMessage)
  }

  test("view compiles to DataFrame lineage") {
    val ds = sourceTable()
    val v = View.ofDataset(ds)
      .filterExpr("o_totalprice > 100000")
      .selectExprs("o_orderkey", "o_custkey", "o_totalprice * 0.5 AS half_price")
    val got = v.toDF(spark)
    val exp = orders.filter(col("o_orderkey") <= 1000L && col("o_totalprice") > 100000)
      .select(col("o_orderkey"), col("o_custkey"), (col("o_totalprice") * 0.5).as("half_price"))
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
  }

  test("one-key join view") {
    val ds = sourceTable()
    val custLoc = freshLoc("cust")
    val cust = Tables.read(spark, sfDir, "customer")
    val cds = SpaceDataset.create(spark, custLoc, cust.schema, Seq("c_custkey"))
    cds.append(cust)
    val v = View.ofDataset(ds).selectExprs("o_orderkey", "o_custkey AS c_custkey", "o_totalprice")
      .join(View.ofDataset(cds), "c_custkey")
    val got = v.toDF(spark)
    assert(got.columns.contains("c_name"))
    assert(got.count() > 0)
    intercept[UnsupportedOperationException](v.plan.sourceLocation)
  }

  test("join view: per-side fields, reference_read, payloads stay out of the shuffle") {
    val docs = Tables.read(spark, sfDir, "documents")
    // two record-field tables sharing the doc_id key
    val lLoc = freshLoc("jl")
    val lds = SpaceDataset.create(spark, lLoc,
      docs.selectExpr("doc_id", "source", "encode(text, 'UTF-8') AS body").schema,
      Seq("doc_id"), Seq("body"))
    lds.append(docs.selectExpr("doc_id", "source", "encode(text, 'UTF-8') AS body"))

    val rLoc = freshLoc("jr")
    val rRows = docs.filter(col("doc_id") % 3 === 0)
      .selectExpr("doc_id", "length(text) AS text_len", "encode(substring(text, 1, 40), 'UTF-8') AS head")
    val rds = SpaceDataset.create(spark, rLoc, rRows.schema, Seq("doc_id"), Seq("head"))
    rds.append(rRows)

    val v = View.ofDataset(lds).join(View.ofDataset(rds), "doc_id",
      leftFields = Some(Seq("source", "body")))
    val got = v.toDF(spark)
    assert(got.columns.toSeq == Seq("doc_id", "source", "body", "text_len", "head"))

    // scale shape: no binary payload column feeds the key join — only
    // address structs cross that shuffle; payloads join in afterwards
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.BinaryType
    val joins = got.queryExecution.optimizedPlan.collect { case jn: Join => jn }
    val keyJoin = joins.find(_.condition.exists(_.toString.contains("doc_id"))).get
    val binIn = (keyJoin.left.output ++ keyJoin.right.output).filter(_.dataType == BinaryType)
    assert(binIn.isEmpty, s"payload bytes cross the key join: ${binIn.map(_.name)}")

    // content correct after the post-join stitch
    val exp = docs.filter(col("doc_id") % 3 === 0)
      .selectExpr("doc_id", "source", "text AS body_s", "length(text) AS text_len",
        "substring(text, 1, 40) AS head_s")
    val gotS = got.selectExpr("doc_id", "source", "decode(body, 'UTF-8') AS body_s",
      "text_len", "decode(head, 'UTF-8') AS head_s")
    assert(gotS.count() == exp.count())
    assert(gotS.exceptAll(exp).isEmpty && exp.exceptAll(gotS).isEmpty)

    // reference_read=true keeps the address struct in the output
    val vRef = View.ofDataset(lds).join(View.ofDataset(rds), "doc_id",
      leftFields = Some(Seq("source", "body")), leftReferenceRead = true)
    val refDF = vRef.toDF(spark)
    assert(refDF.schema("body").dataType == ReadOp.AddressType)

    // plan JSON roundtrips the join options
    assert(ViewPlan.fromJson(vRef.plan.json) == vRef.plan)

    // name collisions between sides are rejected
    val rColl = freshLoc("jc")
    val cds = SpaceDataset.create(spark, rColl,
      docs.selectExpr("doc_id", "source").schema, Seq("doc_id"))
    cds.append(docs.selectExpr("doc_id", "source"))
    intercept[IllegalArgumentException](
      View.ofDataset(lds).join(View.ofDataset(cds), "doc_id").toDF(spark))

    // projecting only the key is rejected (views.py:202-210)
    intercept[IllegalArgumentException](
      View.ofDataset(lds).join(View.ofDataset(rds), "doc_id",
        leftFields = Some(Seq("doc_id"))).toDF(spark))

    // MVs of joins are rejected (transform/join.py:128-129)
    intercept[IllegalArgumentException](
      MaterializedView.create(spark, freshLoc("jmv"), v, Seq("doc_id")))
  }

  test("MV incremental refresh == full recompute across append/delete/upsert") {
    val src = sourceTable() // s1: keys <= 1000
    val v = View.ofDataset(src)
      .filterExpr("o_totalprice > 50000")
      .selectExprs("o_orderkey", "o_custkey", "o_totalprice", "o_totalprice * 0.1 AS fee")
    val mv = v.materialize(spark, freshLoc("mv"), Seq("o_orderkey"))

    def check(): Unit = {
      val got = mv.dataset.readAll()
      val exp = v.toDF(spark)
      assert(got.count() == exp.count())
      assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
    }
    check() // initial materialization

    src.append(orders.filter(col("o_orderkey") > 1000L && col("o_orderkey") <= 1200L))
    src.delete(col("o_orderkey") <= 100L)
    src.upsert(orders.filter(col("o_orderkey") > 200L && col("o_orderkey") <= 300L)
      .withColumn("o_totalprice", col("o_totalprice") + 500000.0))
    assert(mv.refresh() == 3) // one MV commit per source snapshot
    check()

    // idempotent: nothing new → no commits
    assert(mv.refresh() == 0)

    // reload from disk: plan + refreshed-to survive
    val mv2 = MaterializedView.load(spark, mv.dataset.location)
    assert(mv2.refreshedTo == mv.refreshedTo)
    assert(mv2.refresh() == 0)
  }

  test("state sweeps take delete VECTORS: a small source delete rewrites no state file") {
    // VERDICT r15 #3: a refresh's key sweep used to CoW-rewrite every
    // touched state file. Under the default stateDvMaxFraction a small
    // delete must soft-delete instead: the state commit removes NO
    // index manifests and the state table carries a vector; readers
    // mask it; pure-CoW returns with the conf at 0.
    val src = sourceTable()
    val v = View.ofDataset(src)
      .selectExprs("o_orderkey", "o_custkey", "o_totalprice")
    val mv = v.materialize(spark, freshLoc("mvdv"), Seq("o_orderkey"))
    val st = mv.dataset.storage

    src.delete(col("o_orderkey") % 50 === 7) // ~2% of keys: far under the bound
    assert(mv.refresh() == 1)
    val snap = st.snapshotOrFail(st.metadata.currentSnapshotId)
    val removed = {
      val parent = st.snapshotOrFail(snap.parentSnapshotId.get)
      parent.manifestFiles.indexManifestFiles.toSet --
        snap.manifestFiles.indexManifestFiles.toSet
    }
    assert(removed.isEmpty,
      s"a sliver-delete sweep must not CoW-rewrite state files, removed $removed")
    assert(st.deleteVectors(st.metadata.currentSnapshotId).nonEmpty,
      "the sweep must have recorded delete vectors on the state table")
    // masked read stays exact
    val exp = v.toDF(spark)
    val got = mv.dataset.readAll()
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)

    // conf at 0 restores pure-CoW sweeps
    spark.conf.set(graft.views.ViewMaintenance.StateDvMaxFractionKey, "0")
    try {
      src.delete(col("o_orderkey") % 50 === 9)
      assert(mv.refresh() == 1)
      val snap2 = st.snapshotOrFail(st.metadata.currentSnapshotId)
      val parent2 = st.snapshotOrFail(snap2.parentSnapshotId.get)
      assert((parent2.manifestFiles.indexManifestFiles.toSet --
        snap2.manifestFiles.indexManifestFiles.toSet).nonEmpty,
        "with the fraction at 0 the sweep must CoW-rewrite")
    } finally spark.conf.unset(graft.views.ViewMaintenance.StateDvMaxFractionKey)
    val got2 = mv.dataset.readAll()
    val exp2 = v.toDF(spark)
    assert(got2.exceptAll(exp2).isEmpty && exp2.exceptAll(got2).isEmpty)
  }

  test("coalesced refresh: one commit, state identical to per-snapshot application") {
    val src = sourceTable()
    val v = View.ofDataset(src)
      .filterExpr("o_totalprice > 50000")
      .selectExprs("o_orderkey", "o_custkey", "o_totalprice", "o_totalprice * 0.1 AS fee")
    val mv = v.materialize(spark, freshLoc("mvseq"), Seq("o_orderkey"))
    val twin = v.materialize(spark, freshLoc("mvcoal"), Seq("o_orderkey"))

    // backlog: append + delete + upsert + a CDC-SILENT compact
    src.append(orders.filter(col("o_orderkey") > 1000L && col("o_orderkey") <= 1300L))
    src.delete(col("o_orderkey") % 9 === 2)
    src.upsert(orders.filter(col("o_orderkey") > 300L && col("o_orderkey") <= 400L)
      .withColumn("o_totalprice", col("o_totalprice") + 500000.0))
    src.compact(targetFileRows = 1000000L)
    // same-PK churn inside the one coalesced window: a PK appended and
    // then deleted, a PK updated twice, a PK deleted and re-inserted
    def liveKey(c: org.apache.spark.sql.Column): Long =
      src.readAll().filter(c && col("o_totalprice") > 50000)
        .agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    src.delete(col("o_orderkey") === liveKey(col("o_orderkey") > 1000L))
    val twice = liveKey(col("o_orderkey") > 300L && col("o_orderkey") <= 400L)
    src.upsert(orders.filter(col("o_orderkey") === twice)
      .withColumn("o_totalprice", col("o_totalprice") + 700000.0))
    val back = liveKey(col("o_orderkey") <= 300L)
    src.delete(col("o_orderkey") === back)
    src.append(orders.filter(col("o_orderkey") === back)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0))
    assert(mv.refresh() == 7,
      "per-snapshot refresh: one commit per DATA snapshot, silent compact skipped")
    assert(twin.refresh(None, coalesce = true) == 1,
      "coalesced refresh: the whole backlog in ONE state commit")
    val a = mv.dataset.readAll()
    val b = twin.dataset.readAll()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "coalesced state diverged from per-snapshot application")
    val exp = v.toDF(spark)
    assert(b.exceptAll(exp).isEmpty && exp.exceptAll(b).isEmpty,
      "coalesced state diverged from the from-scratch transform")
    // both are no-ops afterwards (the per-snapshot twin re-checks the
    // silent tail without committing)
    assert(mv.refresh() == 0 && twin.refresh(None, coalesce = true) == 0)
  }

  test("CDC-silent source snapshots mint no MV commits") {
    val src = sourceTable()
    src.append(orders.filter(col("o_orderkey") > 1000L && col("o_orderkey") <= 1100L))
    src.append(orders.filter(col("o_orderkey") > 1100L && col("o_orderkey") <= 1200L))
    val v = View.ofDataset(src).selectExprs("o_orderkey", "o_totalprice")
    val mv = v.materialize(spark, freshLoc("mvsilent"), Seq("o_orderkey"))
    val wm = mv.refreshedTo.get
    assert(src.compact(targetFileRows = 1000000L).isDefined, "compact must commit for this arm to bite")
    // the compacting snapshot is CDC-silent: no state commit, watermark
    // parked (an hourly-compacting source must not mint empty commits)
    assert(mv.refresh() == 0)
    assert(MaterializedView.load(spark, mv.dataset.location).refreshedTo.get == wm)
    // the next data-bearing commit folds the watermark past the silent one
    src.append(orders.filter(col("o_orderkey") > 1200L && col("o_orderkey") <= 1250L))
    assert(mv.refresh() == 1)
    assert(mv.refreshedTo.get == src.storage.metadata.currentSnapshotId)
    val exp = v.toDF(spark)
    val got = mv.dataset.readAll()
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
  }

  test("expired source history between refreshes: the MV REBUILDS instead of failing") {
    val src = sourceTable()
    val v = View.ofDataset(src)
      .filterExpr("o_totalprice > 50000")
      .selectExprs("o_orderkey", "o_totalprice")
    val mv = v.materialize(spark, freshLoc("mv_exp"), Seq("o_orderkey"))
    assert(mv.refreshedTo.isDefined)

    // commits after the watermark, then expire + GC them away: the CDC
    // walk from the watermark is impossible
    src.append(orders.filter(col("o_orderkey") > 1000L && col("o_orderkey") <= 1200L))
    src.delete(col("o_orderkey") <= 100L)
    src.expireSnapshots(olderThanMs = -1000L, keepLast = 1)
    src.garbageCollect(minAgeMs = 0L)

    assert(mv.refresh() == 1, "expired history must trigger a one-commit rebuild")
    val got = mv.dataset.readAll()
    val exp = v.toDF(spark)
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
    // incremental maintenance resumes from the rebuilt watermark
    src.append(orders.filter(col("o_orderkey") > 1200L && col("o_orderkey") <= 1300L))
    assert(mv.refresh() == 1)
    val got2 = mv.dataset.readAll()
    val exp2 = v.toDF(spark)
    assert(got2.exceptAll(exp2).isEmpty && exp2.exceptAll(got2).isEmpty)
  }

  test("overlapping refreshers: a stale MV handle must not double-apply snapshots") {
    val src = sourceTable()
    val v = View.ofDataset(src).selectExprs("o_orderkey", "o_totalprice")
    val mv = v.materialize(spark, freshLoc("mv_race"), Seq("o_orderkey"))
    // staleHandle loads BEFORE new source commits land
    val staleHandle = MaterializedView.load(spark, mv.dataset.location)
    src.append(orders.filter(col("o_orderkey") > 1000L && col("o_orderkey") <= 1100L))
    assert(mv.refresh() == 1)
    val rows = mv.dataset.readAll().count()
    // the stale handle still believes refreshedTo is the OLD watermark;
    // its per-snapshot transaction must re-check under the lock and
    // no-op instead of appending snapshot 2's rows a second time
    assert(staleHandle.refresh() == 0,
      "a stale refresher re-applied an already-applied source snapshot")
    assert(mv.dataset.readAll().count() == rows, "MV rows were double-applied")
  }

  test("incremental PQ-index MV re-encodes only the delta and equals a full rebuild") {
    import graft.operators.{PqEncodeTransform, Similarity}
    val e = Tables.read(spark, sfDir, "embeddings")
    val vecs = e.select(col("vec_id"), col("embedding"))
    val codebook = Similarity.pqCodebook(e, "embedding", "vec_id", 16)
    val src = SpaceDataset.create(spark, freshLoc("annsrc"), vecs.schema, Seq("vec_id"))
    src.append(vecs.filter(col("vec_id") >= 100))
    val mv = View.ofDataset(src)
      .mapTransform(classOf[PqEncodeTransform].getName,
        Similarity.pqEncodeParams("embedding", "vec_id", dim = 64, m = 8, codebook))
      .materialize(spark, freshLoc("annmv"), Seq("vec_id"))
    val headBefore = mv.dataset.storage.metadata.currentSnapshotId

    val delta = vecs.filter(col("vec_id") < 100)
    val nDelta = delta.count()
    src.append(delta)
    assert(mv.refresh() == 1, "one source snapshot → one MV commit")

    // delta-only maintenance: the refresh commit's change feed carries
    // exactly the new vectors' codes — nothing already in the index was
    // re-encoded or rewritten
    val headAfter = mv.dataset.storage.metadata.currentSnapshotId
    val batches = ChangeData.diff(spark, mv.dataset.storage, headBefore, headAfter)
    val added = batches.filter(_.changeType == ChangeType.Add).map(_.data.count()).sum
    val deleted = batches.filter(_.changeType == ChangeType.Delete).map(_.data.count()).sum
    assert(added == nDelta, s"refresh re-encoded $added rows, delta was $nDelta")
    assert(deleted == 0, s"refresh deleted $deleted index rows")

    // the maintained index equals encoding the whole corpus from scratch
    val rebuilt = Similarity.pqEncode(vecs, "embedding", "vec_id", 64, 8, codebook)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    val maintained = mv.dataset.readAll()
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(maintained == rebuilt,
      s"maintained index diverges from full rebuild (${maintained.size}/${rebuilt.size} rows)")
  }

  test("selectExprs with a literal ';;' round-trips through the persisted plan") {
    val ds = sourceTable()
    val v = View.ofDataset(ds)
      .selectExprs("o_orderkey", "concat('a', ';;', o_orderstatus) AS tagged")
    // the plan must survive JSON persistence AND apply identically
    val back = ViewPlan.fromJson(v.plan.json)
    assert(back == v.plan)
    val got = new View(back).toDF(spark)
    assert(got.columns.toSeq == Seq("o_orderkey", "tagged"))
    assert(got.filter(col("tagged").startsWith("a;;")).count() == got.count())
    // new plans carry the escaping-version marker
    assert(v.plan.asInstanceOf[MapNode].params.get("escaped").contains("1"))
  }

  test("a pre-escaping plan without escape sequences replays verbatim") {
    // plans persisted before expression escaping existed carry no
    // `escaped` flag — their parts must be taken as written, not
    // percent-decoded
    val ds = sourceTable()
    val legacy = MapNode("select_exprs",
      Map("exprs" -> "o_orderkey;;concat('a', 'b') AS lit"),
      ReadTable(ds.location))
    val got = new View(legacy).toDF(spark)
    assert(got.select("lit").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("ab"))
  }

  test("an unflagged plan carrying %3B/%25 refuses to run (ambiguous vintage)") {
    // an unflagged expr containing the escape sequences is ambiguous: a
    // pre-escaping plan with those characters LITERAL, or a plan from
    // the intermediate build that escaped without flagging. Executing
    // either reading silently changes one of them — the loader must
    // fail with a re-materialize instruction instead.
    val ds = sourceTable()
    val legacy = MapNode("select_exprs",
      Map("exprs" -> "o_orderkey;;concat('%3B', '%25') AS lit"),
      ReadTable(ds.location))
    val err = intercept[IllegalStateException](new View(legacy).toDF(spark))
    assert(err.getMessage.contains("re-materialize"), err.getMessage)
  }

  test("MV refresh handles rows leaving and entering the filter") {
    val src = sourceTable()
    val v = View.ofDataset(src).filterExpr("o_totalprice > 200000")
    val mv = v.materialize(spark, freshLoc("mv2"), Seq("o_orderkey"))
    val before = mv.dataset.readAll().count()
    assert(before > 0)

    // upsert drops some rows below the filter threshold: the UPDATE's
    // DELETE removes them from the MV; its ADD is filtered out
    src.upsert(orders.filter(col("o_orderkey") <= 1000L && col("o_totalprice") > 200000)
      .limit(10).withColumn("o_totalprice", lit(1.0)))
    mv.refresh()
    val exp = v.toDF(spark)
    val got = mv.dataset.readAll()
    assert(got.count() == exp.count())
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
  }

  test("refresh to a target BELOW the watermark is a caller error, not a rebuild") {
    val src = sourceTable()
    val oldHead = src.storage.metadata.currentSnapshotId
    val v = View.ofDataset(src).selectExprs("o_orderkey", "o_totalprice")
    val mv = v.materialize(spark, freshLoc("mv_below"), Seq("o_orderkey"))
    src.append(orders.filter(col("o_orderkey") > 1000L && col("o_orderkey") <= 1100L))
    assert(mv.refresh() == 1) // watermark is now past oldHead
    // the old snapshot still EXISTS — asking to refresh back to it must
    // surface as an error (the r10 blanket IllegalArgumentException
    // catch silently turned this into a full-source rebuild)
    val e = intercept[IllegalArgumentException](
      mv.refresh(targetVersion = Some(oldHead.toString)))
    assert(!e.isInstanceOf[graft.core.ExpiredHistoryException])
  }
}
