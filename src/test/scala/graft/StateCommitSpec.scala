package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.views._

/** The shared state-commit path of every view kind
  * (`ViewMaintenance.commitUnlessApplied` + `DmlOps.deleteByKeysAndAppend`):
  * one state commit per source snapshot and state table, and the fused
  * delete+append shape on plain and record-field state tables. */
class StateCommitSpec extends AnyFunSuite {
  import TestSpark._

  private def freshLoc(p: String): String =
    Files.createTempDirectory(s"graft_$p").toString + "/tbl"

  private def orders = Tables.read(spark, sfDir, "orders")

  private def assertSame(got: DataFrame, exp: DataFrame, what: String): Unit = {
    val g = got.select(exp.columns.map(col): _*)
    assert(g.count() == exp.count(), s"$what: row count")
    assert(g.exceptAll(exp).isEmpty && exp.exceptAll(g).isEmpty, s"$what: rows differ")
  }

  test("fused shape: one source upsert is one state commit per state table, every view kind") {
    val fact = SpaceDataset.create(spark, freshLoc("scfact"),
      orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice").schema,
      Seq("o_orderkey"))
    fact.append(orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .repartitionByRange(4, col("o_orderkey")))
    // a third of the customers missing: the left-outer view's unmatched
    // table holds rows and the upsert touches both of its legs
    val cust = Tables.read(spark, sfDir, "customer").filter(col("c_custkey") % 3 =!= 0)
      .selectExpr("c_custkey AS o_custkey", "c_nationkey")
    val dim = SpaceDataset.create(spark, freshLoc("scdim"), cust.schema, Seq("o_custkey"))
    dim.append(cust)

    val v = View.ofDataset(fact)
      .selectExprs("o_orderkey", "o_custkey", "o_totalprice * 2 AS doubled")
    val mv = v.materialize(spark, freshLoc("scmv"), Seq("o_orderkey"))
    val agg = AggregateView.create(spark, freshLoc("scagg"), fact, Seq("o_orderstatus"),
      Seq(AggSpec.countAll("n"), AggSpec.sum("o_totalprice", "total")))
    def join(jt: String) = JoinView.create(spark, freshLoc(s"sc$jt"), fact, dim,
      Seq("o_custkey"), Seq("o_orderkey", "o_totalprice"), Seq("c_nationkey"), jt)
    val inner = join(JoinView.Inner)
    val outer = join(JoinView.LeftOuter)
    Seq[Refreshable](agg, inner, outer).foreach(_.refresh())

    // pure-CoW sweeps: a merge-on-read sweep writes no file, so only a
    // CoW sweep tells one fused write pass from sweep-then-append
    spark.conf.set(ViewMaintenance.StateDvMaxFractionKey, "0")
    try {
      fact.upsert(orders.filter(col("o_orderkey") >= 100L && col("o_orderkey") < 300L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice")))

      val views: Seq[(String, Refreshable, Seq[Storage])] = Seq(
        ("mv", mv, Seq(mv.dataset.storage)),
        ("aggregate", agg, Seq(agg.dataset.storage)),
        ("inner join", inner, Seq(inner.dataset.storage)),
        ("left-outer join", outer,
          Seq(outer.dataset.storage, outer.unmatchedDataset.get.storage)))
      for ((what, view, tables) <- views) {
        def manifests(st: Storage): Set[String] =
          st.snapshotOrFail(st.metadata.currentSnapshotId)
            .manifestFiles.indexManifestFiles.toSet
        val before = tables.map(st => (st.metadata.currentSnapshotId, manifests(st)))
        assert(view.refresh() == tables.size,
          s"$what: one source snapshot must be exactly one commit per state table")
        for ((st, (head0, manifests0)) <- tables.zip(before)) {
          val head = st.metadata.currentSnapshotId
          assert(st.snapshotOrFail(head).parentSnapshotId.contains(head0),
            s"$what ${st.location}: more than one state commit")
          val added = manifests(st) -- manifests0
          assert(added.size <= 2,
            s"$what ${st.location}: a fused state commit mints at most a carryover " +
              s"and ONE data manifest, got ${added.size}")
          val cl = st.changeLog(head).get
          assert(cl.deletedRows.nonEmpty && cl.addedRows.nonEmpty,
            s"$what ${st.location}: the upsert must both sweep and add")
          assert(cl.addedRows.map(_.file).toSet
            .intersect(cl.deletedRows.map(_.file).toSet).isEmpty,
            s"$what ${st.location}: ADD files must be disjoint from the swept files")
          assert(cl.addedRows.forall(_.allRows),
            s"$what ${st.location}: survivors must live in their own files")
        }
      }
    } finally spark.conf.unset(ViewMaintenance.StateDvMaxFractionKey)

    assertSame(mv.dataset.readAll(), v.toDF(spark), "mv")
    assertSame(agg.read(), fact.readAll().groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), // exact decimal state, surfaced as double
        sum(col("o_totalprice").cast("decimal(38,18)")).cast("double").as("total")),
      "aggregate")
    val matched = fact.readAll().join(dim.readAll(), Seq("o_custkey"), "inner")
      .select("o_custkey", "o_orderkey", "o_totalprice", "c_nationkey")
    assertSame(inner.read(), matched, "inner join")
    assertSame(outer.read(), fact.readAll().join(dim.readAll(), Seq("o_custkey"), "left_outer")
      .select("o_custkey", "o_orderkey", "o_totalprice", "c_nationkey"), "left-outer join")
  }

  test("fused record-field leg: an MV over delete-only, add-only, upsert and coalesced windows") {
    val docs = Tables.read(spark, sfDir, "documents")
      .selectExpr("doc_id", "source", "encode(text, 'UTF-8') AS body")
    val src = SpaceDataset.create(spark, freshLoc("scdocs"), docs.schema, Seq("doc_id"))
    src.append(docs.filter(col("doc_id") < 400L))
    val v = View.ofDataset(src)
      .selectExprs("doc_id", "upper(source) AS src", "body")
    // the record field takes the payload-writing path of the fused write
    val mv = v.materialize(spark, freshLoc("screcmv"), Seq("doc_id"), recordFields = Seq("body"))
    assert(mv.dataset.storage.recordFields == Seq("body"))
    def check(what: String): Unit =
      assertSame(mv.dataset.readAll(), v.toDF(spark), what)
    check("initial build")

    src.delete(col("doc_id") % 7 === 3)
    assert(mv.refresh() == 1)
    check("delete-only snapshot")

    src.append(docs.filter(col("doc_id") >= 400L && col("doc_id") < 450L))
    assert(mv.refresh() == 1)
    check("add-only snapshot")

    src.upsert(docs.filter(col("doc_id") >= 100L && col("doc_id") < 180L)
      .withColumn("body", concat(col("body"), lit("!").cast("binary"))))
    // a pure-CoW sweep: a merge-on-read sweep writes no file, so only a
    // CoW sweep shows the fused shape
    val st = mv.dataset.storage
    def manifests: Set[String] =
      st.snapshotOrFail(st.metadata.currentSnapshotId).manifestFiles.indexManifestFiles.toSet
    val before = manifests
    spark.conf.set(ViewMaintenance.StateDvMaxFractionKey, "0")
    try assert(mv.refresh() == 1)
    finally spark.conf.unset(ViewMaintenance.StateDvMaxFractionKey)
    val cl = st.changeLog(st.metadata.currentSnapshotId).get
    assert(cl.deletedRows.nonEmpty && cl.addedRows.nonEmpty,
      "the upsert's state commit must both sweep and add")
    assert((manifests -- before).size <= 2,
      "a fused state commit mints at most a carryover and ONE data manifest")
    assert(cl.addedRows.map(_.file).toSet.intersect(cl.deletedRows.map(_.file).toSet).isEmpty,
      "ADD files must be disjoint from the swept files")
    assert(cl.addedRows.forall(_.allRows), "survivors must live in their own files")
    check("upsert snapshot")

    // a backlog of every shape, folded into one coalesced commit
    src.delete(col("doc_id") % 5 === 1)
    src.append(docs.filter(col("doc_id") >= 450L))
    src.upsert(docs.filter(col("doc_id") >= 200L && col("doc_id") < 260L)
      .withColumn("source", lit("rewritten")))
    assert(mv.refresh(None, coalesce = true) == 1)
    check("coalesced backlog")
    assert(mv.refresh() == 0)
  }
}
