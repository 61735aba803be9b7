package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Physical-plan audits: the storage layer must COMPOSE with Catalyst's
  * pushdown, not defeat it — filters/projections reach the parquet scan
  * of graft data files, scans stay columnar/batched, small sides
  * broadcast. */
class PlanQualitySpec extends AnyFunSuite {
  import TestSpark._

  private lazy val ds: SpaceDataset = {
    val orders = Tables.read(spark, sfDir, "orders")
    val loc = Files.createTempDirectory("graft_plan_").toString + "/tbl"
    val d = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))
    d.append(orders.repartitionByRange(4, col("o_orderkey")))
    d
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get

  test("filters push into the graft data-file scan") {
    val df = ds.read(filter = Some(col("o_totalprice") > 1000.0 && col("o_orderkey") < 500L))
    val scan = scanOf(df)
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThan(o_totalprice,1000.0)"), pushed)
    assert(pushed.contains("LessThan(o_orderkey,500)"), pushed)
    assert(scan.supportsColumnar || scan.metadata("Batched") == "true")
  }

  test("projection prunes the read schema of the graft scan") {
    val df = ds.read(fields = Some(Seq("o_orderkey", "o_totalprice")))
    val scan = scanOf(df)
    assert(scan.requiredSchema.fieldNames.toSeq == Seq("o_orderkey", "o_totalprice"),
      scan.requiredSchema.treeString)
  }

  test("record stitch pushes index-side filter and stitches without a join") {
    val docs = Tables.read(spark, sfDir, "documents")
      .withColumn("text", encode(col("text"), "UTF-8"))
    val loc = Files.createTempDirectory("graft_plan_rec_").toString + "/tbl"
    val rds = SpaceDataset.create(spark, loc, docs.schema, Seq("doc_id"), Seq("text"))
    rds.append(docs)
    val df = rds.read(filter = Some(col("doc_id") < 100L))
    // positional stitch: a projection over the index scan, which still
    // takes the pushed filter; no join and no exchange
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(doc_id,100)"), plan.take(3000))
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan.take(3000))
  }

  test("event-time window agg is map-side partial with a single shuffle") {
    val df = operators.Relational.queries("q11_events_window")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // partial aggregation before the exchange: the shuffle carries one
    // row per (window, type) per partition, not per event — the property
    // that keeps this op viable at 100 TB
    assert(plan.contains("partial_count"), plan.take(3000))
    val nShuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nShuffles == 1, s"expected exactly 1 shuffle:\n${plan.take(3000)}")
  }

  test("as-of join is one shuffle + one sort, never a range explosion") {
    val df = operators.Relational.queries("q21_asof_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the union-window formulation: both sides shuffle ONCE on the key;
    // a naive range join would show BroadcastNestedLoopJoin / Cartesian
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(3000))
    assert(plan.contains("Window"), plan.take(3000))
    val nShuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nShuffles == 1, s"expected exactly 1 shuffle:\n${plan.take(3000)}")
  }

  test("int8 quantization is a pure projection — zero exchanges") {
    val df = operators.Pipeline.queries("v_quantize")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(3000))
  }

  test("column profile is one aggregate pass over the table") {
    val df = operators.Curation.queries("d_profile")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // one scan of documents; the per-column fan-out happens in the
    // aggregate (Expand for exact distincts), never as repeated scans
    val nScans = "FileScan parquet".r.findAllIn(plan).length
    assert(nScans == 1, s"expected a single table scan:\n${plan.take(3000)}")
  }

  test("surprisal scoring is one corpus scan with a reused occurrence shuffle") {
    val df = operators.Pipeline.queries("d_surprisal")(spark, sfDir)
    // the (doc_id, token) occurrence frame feeds BOTH the scoring join
    // and the corpus model — AQE must reuse its shuffle stage at
    // runtime, leaving a single explode scan of documents (no second
    // corpus pass for the model or the total); reuse is a RUNTIME
    // decision, so execute first and audit the final adaptive plan
    df.collect()
    // AdaptiveSparkPlan.toString appends the pre-reuse "== Initial
    // Plan ==" section — audit only the final executed section
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val nScans = "FileScan parquet".r.findAllIn(plan).length
    assert(nScans == 1, s"expected a single documents scan, got $nScans:\n${plan.take(4000)}")
    assert(plan.contains("ReusedExchange"), s"occurrence shuffle not reused:\n${plan.take(4000)}")
  }

  test("retrieval top-k plans never funnel unbounded data into one task") {
    // the round-5 scale-killers: a global Window.orderBy (or an
    // unpartitioned per-key window) ships the whole relation into a
    // single task. Fixed shapes: TakeOrderedAndProject for global
    // top-k (rank windows only over the bounded k-row frame), and the
    // map-side-capped TopKByScore aggregate for per-query top-k.
    import org.apache.spark.sql.graftshim.PlanAudit
    for (name <- Seq("v_ann_brute", "v_ann_filtered", "v_hybrid_rrf",
        "v_hybrid_rrf_multi", "v_hybrid_rrf_pq", "d_token_freq")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val bad = PlanAudit.unboundedSinglePartitionExchanges(df)
      assert(bad.isEmpty, s"$name has unbounded single-partition shuffles: $bad")
    }
    // the whole ANN family ranks through the bounded aggregate — no
    // per-query window anywhere (map-side-capped partial top-k instead)
    for (name <- Seq("v_ann_brute", "v_ann_filtered", "v_ann_ivf",
        "v_ann_ivf_kmeans", "v_pq")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name: ${plan.take(3000)}")
      assert(plan.contains("graft_top_k"), s"$name: ${plan.take(3000)}")
    }
  }

  // the whole-gate sweep: every SparkEntry query's physical plan is
  // audited for SinglePartition exchanges whose input is not bounded
  // below (by a limit, a bounded top-k, or an ungrouped aggregate's
  // per-partition partial). Building s_*/e_* queries executes their
  // storage scenarios — acceptable cost for pinning the scale-shape
  // property across all queries, forever. Runs at BOTH the spec scale
  // and the bench scale: AQE plans from runtime statistics, so a shape
  // that is safe against sf0.001's tiny stats can still regress with
  // real row counts (and vice versa) — each scale is audited on the
  // plans it actually produces.
  for (dir <- Seq(sfDir, "/root/testdata/sf0.1")
      if new java.io.File(dir).isDirectory)
    test(s"NO gate query funnels unbounded data into a single task ($dir)") {
      import org.apache.spark.sql.graftshim.PlanAudit
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          spark.catalog.clearCache()
          val bad = PlanAudit.unboundedSinglePartitionExchanges(fn(spark, dir))
          if (bad.isEmpty) None else Some(s"$name: ${bad.mkString("; ")}")
      }
      spark.catalog.clearCache()
      assert(offenders.isEmpty,
        s"queries with unbounded single-task funnels:\n${offenders.mkString("\n")}")
    }

  test("stratified sample shuffles on (stratum, cell) then stratum — no global sort") {
    val df = operators.Curation.queries("d_stratified_sample")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // two window stages, each hash-partitioned; a single-partition sort
    // (Exchange SinglePartition + global Sort) would be the skew trap
    assert(!plan.contains("Exchange SinglePartition"), plan.take(3000))
    val nShuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nShuffles == 2, s"expected exactly 2 shuffles:\n${plan.take(3000)}")
  }
}
