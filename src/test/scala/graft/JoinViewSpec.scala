package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.views._

/** Incrementally-maintained INNER-JOIN views (JoinView): after every
  * refresh the state must equal a from-scratch join of both sources'
  * live rows, under appends/deletes/updates on either side (including
  * both sides mutating inside ONE refresh window — the ΔL⋈ΔR case the
  * asymmetric bi-delta algebra exists for), merge-on-read DML, and
  * expired-history rebuilds. */
class JoinViewSpec extends AnyFunSuite {
  import TestSpark._

  private def freshLoc(p: String): String =
    Files.createTempDirectory(s"graft_$p").toString + "/tbl"

  private def lineitem = Tables.read(spark, sfDir, "lineitem")
  private def orders = Tables.read(spark, sfDir, "orders")

  /** Left: lineitem subset keyed (okey, l_linenumber). The SYNTHETIC
    * lineitem has duplicate (orderkey, linenumber) pairs — dedup at
    * ingest to honor the view's source-PK-uniqueness contract. */
  private def leftTable(max: Long = 2000L): SpaceDataset = {
    val li = lineitem.filter(col("l_orderkey") <= max)
      .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice")
      .dropDuplicates("okey", "l_linenumber")
    val ds = SpaceDataset.create(spark, freshLoc("jvleft"), li.schema,
      Seq("okey", "l_linenumber"))
    ds.append(li)
    ds
  }

  /** Right: orders subset keyed okey (the join key IS the right PK). */
  private def rightTable(max: Long = 2000L): SpaceDataset = {
    val o = orders.filter(col("o_orderkey") <= max)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice")
    val ds = SpaceDataset.create(spark, freshLoc("jvright"), o.schema, Seq("okey"))
    ds.append(o)
    ds
  }

  private def createView(l: SpaceDataset, r: SpaceDataset): JoinView =
    JoinView.create(spark, freshLoc("jview"), l, r, Seq("okey"),
      Seq("l_linenumber", "l_quantity", "l_extendedprice"),
      Seq("o_custkey", "o_totalprice"))

  /** From-scratch truth: live left ⋈ live right, same projection. */
  private def expected(l: SpaceDataset, r: SpaceDataset): DataFrame =
    l.readAll().join(r.readAll(), Seq("okey"), "inner")
      .select("okey", "l_linenumber", "l_quantity", "l_extendedprice",
        "o_custkey", "o_totalprice")

  private def assertSame(got: DataFrame, exp: DataFrame): Unit = {
    val g = got.select(exp.columns.map(col): _*)
    assert(g.exceptAll(exp).isEmpty && exp.exceptAll(g).isEmpty,
      "join view state diverged from the from-scratch join")
    assert(got.count() == exp.count())
  }

  test("join plan JSON roundtrips; single-source loaders reject it by name") {
    val p = JoinPlan("/l", "/r", List("k"), List("a"), List("b"))
    assert(JoinPlan.fromJson(p.json) == p)
    assert(JoinPlan.isJoin(p.json) && !AggPlan.isAggregate(p.json))
    intercept[IllegalArgumentException](JoinPlan.fromJson("""{"type":"read"}"""))
  }

  test("create validates keys, fields, PK coverage, and record fields") {
    val l = leftTable(500L)
    val r = rightTable(500L)
    // unknown key / field
    intercept[IllegalArgumentException](JoinView.create(spark, freshLoc("jv"),
      l, r, Seq("nope"), Seq("l_quantity"), Seq("o_custkey")))
    intercept[IllegalArgumentException](JoinView.create(spark, freshLoc("jv"),
      l, r, Seq("okey"), Seq("nope"), Seq("o_custkey")))
    // left PK (l_linenumber) not covered
    intercept[IllegalArgumentException](JoinView.create(spark, freshLoc("jv"),
      l, r, Seq("okey"), Seq("l_quantity"), Seq("o_custkey")))
    // duplicate output name
    intercept[IllegalArgumentException](JoinView.create(spark, freshLoc("jv"),
      l, r, Seq("okey"), Seq("l_linenumber", "l_quantity"), Seq("l_quantity")))
    // key type mismatch
    val rl = orders.filter(col("o_orderkey") <= 500L)
      .selectExpr("CAST(o_orderkey AS INT) AS okey", "o_custkey")
    val rlds = SpaceDataset.create(spark, freshLoc("jvint"), rl.schema, Seq("okey"))
    intercept[IllegalArgumentException](JoinView.create(spark, freshLoc("jv"),
      l, rlds, Seq("okey"), Seq("l_linenumber"), Seq("o_custkey")))
  }

  test("lifecycle: build, both-side DML, one refresh — state equals the fresh join") {
    // seed 2/3 of the keyspace; sf0.001 orderkeys top out ~1500, so the
    // follow-up appends below carry real rows (a zero-row snapshot is
    // CDC-silent and refresh skips it)
    val l = leftTable(1000L)
    val r = rightTable(1000L)
    val jv = createView(l, r)

    // initial build: one commit, both watermarks set
    assert(jv.refresh() == 1)
    assertSame(jv.read(), expected(l, r))
    val (lw, rw) = jv.refreshedToSides.get
    assert(lw == l.storage.metadata.currentSnapshotId &&
      rw == r.storage.metadata.currentSnapshotId)
    // watermark no-op
    assert(jv.refresh() == 0)

    // BOTH sides mutate before one refresh — ΔL⋈ΔR must appear exactly
    // once (left deltas join right@R0; the pairs with ΔR arrive via the
    // right pass against left@L1)
    val newLeft = lineitem
      .filter(col("l_orderkey") > 1000L && col("l_orderkey") <= 1300L)
      .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice")
      .dropDuplicates("okey", "l_linenumber")
    val newRight = orders
      .filter(col("o_orderkey") > 1000L && col("o_orderkey") <= 1300L)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice")
    l.append(newLeft)
    r.append(newRight)
    l.delete(col("okey") % 7 === 1) // scattered left delete
    r.delete(col("o_custkey") % 5 === 2) // right delete sweeps many lefts
    val commits = jv.refresh()
    assert(commits == 4, s"one state commit per source snapshot, got $commits")
    assertSame(jv.read(), expected(l, r))

    // non-key update on the right: every joined row of that order
    // refreshes its payload (pick a key that EXISTS — orderkeys are
    // sparse, and a zero-match update commits nothing)
    val liveKey = r.readAll().select(min(col("okey"))).collect()(0).getLong(0)
    r.update(col("okey") === liveKey, Map("o_totalprice" -> lit(999.0)))
    assert(jv.refresh() == 1)
    assertSame(jv.read(), expected(l, r))
  }

  test("a non-PK join key can move: the update re-partners the row") {
    import spark.implicits._
    // join on a NON-PK column of both sides — an update can then move a
    // row across join partners (CDC delete+add in one snapshot; the
    // delete sweeps by source PK, so the OLD partner rows vanish and
    // the add joins under the NEW key)
    val a = (1L to 100L).map(i => (i, "k" + (i % 10), i * 1.0)).toDF("id", "k", "v")
    val b = (1L to 30L).map(i => (i, "k" + (i % 10), i * 10.0)).toDF("bid", "k", "w")
    val ads = SpaceDataset.create(spark, freshLoc("jvka"), a.schema, Seq("id"))
    ads.append(a)
    val bds = SpaceDataset.create(spark, freshLoc("jvkb"), b.schema, Seq("bid"))
    bds.append(b)
    val jv = JoinView.create(spark, freshLoc("jvkv"), ads, bds,
      Seq("k"), Seq("id", "v"), Seq("bid", "w"))
    jv.refresh()
    def exp: DataFrame = ads.readAll().join(bds.readAll(), Seq("k"), "inner")
      .select("k", "id", "v", "bid", "w")
    assertSame(jv.read(), exp)

    ads.update(col("id") === 7L, Map("k" -> lit("k3")))
    assert(jv.refresh() == 1)
    assertSame(jv.read(), exp)
    // and on the right side too
    bds.update(col("bid") === 4L, Map("k" -> lit("k9")))
    assert(jv.refresh() == 1)
    assertSame(jv.read(), exp)
  }

  test("first-refresh race: a stale second builder must not duplicate the state") {
    val l = leftTable(800L)
    val r = rightTable(800L)
    val jv = createView(l, r)
    // a handle loaded BEFORE any refresh keeps seeing an EMPTY
    // watermark (handles are snapshot-stale until a transaction
    // reload) — the deterministic stand-in for two concurrent
    // refreshers both observing "never built"
    val stale = JoinView.load(spark, jv.dataset.location)
    assert(jv.refresh() == 1)
    // sources advance past the first build, so the stale builder's
    // targets are STRICTLY NEWER than the committed watermarks
    l.append(lineitem.filter(col("l_orderkey") > 800L && col("l_orderkey") <= 1200L)
      .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice")
      .dropDuplicates("okey", "l_linenumber"))
    r.append(orders.filter(col("o_orderkey") > 800L && col("o_orderkey") <= 1200L)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice"))
    // the stale handle still believes the view was never built. Its
    // non-overwrite fullBuild must no-op inside the transaction (ANY
    // existing watermark = already built) and fall through to the
    // incremental walk — before the ADVICE r14 fix it APPENDED a
    // second full live⋈live join, duplicating every matched row
    val commits = stale.refresh()
    assert(commits == 2, s"expected the two incremental side commits, got $commits")
    assertSame(stale.read(), expected(l, r))
  }

  test("fat-commit deltas are not force-broadcast (gated on changelog rows)") {
    // hint mechanics first: under the bound → ResolvedHint in the
    // analyzed plan; bound reached → no hint (AQE plans the join)
    val probe = spark.range(3).toDF("okey")
    assert(ViewMaintenance.maybeBroadcast(spark, probe, 3L)
      .queryExecution.analyzed.toString.contains("ResolvedHint"),
      "a steady-state delta under the default bound must keep the hint")
    spark.conf.set(ViewMaintenance.BroadcastMaxRowsKey, "50")
    try {
      assert(!ViewMaintenance.maybeBroadcast(spark, probe, 50L)
        .queryExecution.analyzed.toString.contains("ResolvedHint"))

      val l = leftTable(600L)
      val r = rightTable(600L)
      val jv = createView(l, r)
      assert(jv.refresh() == 1)
      // a fat single-commit backfill: far more rows than the bound —
      // the O(1) changelog count must withhold the broadcast hint
      l.append(lineitem.filter(col("l_orderkey") > 600L && col("l_orderkey") <= 1600L)
        .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice")
        .dropDuplicates("okey", "l_linenumber"))
      val gatedBefore = ViewMaintenance.broadcastsGated
      val hintedBefore = ViewMaintenance.broadcastsHinted
      assert(jv.refresh() == 1)
      assert(ViewMaintenance.broadcastsGated > gatedBefore,
        "the backfill delta must be planned WITHOUT a broadcast hint")
      assert(ViewMaintenance.broadcastsHinted == hintedBefore)
      assertSame(jv.read(), expected(l, r))

      // steady state resumes hinting: a trickle append under the bound
      r.append(orders.filter(col("o_orderkey") > 600L && col("o_orderkey") <= 640L)
        .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice"))
      assert(jv.refresh() == 1)
      assert(ViewMaintenance.broadcastsHinted > hintedBefore)
      assertSame(jv.read(), expected(l, r))
    } finally spark.conf.unset(ViewMaintenance.BroadcastMaxRowsKey)
  }

  test("merge-on-read sources maintain identically (CDC is mode-oblivious)") {
    val l = leftTable(1500L)
    val r = rightTable(1500L)
    val jv = createView(l, r)
    jv.refresh()
    // scattered MoR deletes: vectors, zero rewrites — the CDC feed the
    // view maintains from must not notice
    l.delete(col("okey") % 11 === 3, dvMaxFraction = Some(1.0))
    r.delete(col("okey") % 13 === 4, dvMaxFraction = Some(1.0))
    assert(jv.refresh() == 2)
    assertSame(jv.read(), expected(l, r))
  }

  /** Left-outer truth: live left ⋈ live right, unmatched null-extended. */
  private def expectedOuter(l: SpaceDataset, r: SpaceDataset): DataFrame =
    l.readAll().join(r.readAll(), Seq("okey"), "left_outer")
      .select("okey", "l_linenumber", "l_quantity", "l_extendedprice",
        "o_custkey", "o_totalprice")

  private def createOuterView(l: SpaceDataset, r: SpaceDataset): JoinView =
    JoinView.create(spark, freshLoc("jviewo"), l, r, Seq("okey"),
      Seq("l_linenumber", "l_quantity", "l_extendedprice"),
      Seq("o_custkey", "o_totalprice"), joinType = JoinView.LeftOuter)

  test("left outer: plan roundtrips; lifecycle moves rows across the match boundary") {
    // partial dim: a third of the orders are missing, so unmatched
    // lineitems exist from the initial build
    val l = leftTable(900L)
    val o = orders.filter(col("o_orderkey") <= 900L && col("o_orderkey") % 3 =!= 1)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice")
    val r = SpaceDataset.create(spark, freshLoc("jvro"), o.schema, Seq("okey"))
    r.append(o)
    val jv = createOuterView(l, r)
    // plan JSON roundtrip incl. the outer fields
    assert(JoinPlan.fromJson(jv.plan.json) == jv.plan)
    assert(jv.plan.joinType == JoinView.LeftOuter && jv.plan.unmatchedLocation.isDefined)

    assert(jv.refresh() >= 1)
    assertSame(jv.read(), expectedOuter(l, r))
    assert(jv.read().filter(col("o_custkey").isNull).count() > 0,
      "partial dim must null-extend")
    assert(jv.refresh() == 0)

    // dim delete ORPHANS matched facts; dim insert RE-PARTNERS orphans;
    // fact DML flows through both tables. The dim delete is MERGE-ON-
    // READ (vectors, zero rewrites): the unmatched maintenance needs
    // the dying rows' FULL values (join keys), which the CDC feed must
    // supply under vectors exactly as under CoW
    r.delete(col("okey") % 4 === 2, dvMaxFraction = Some(1.0))
    r.insert(orders.filter(col("o_orderkey") <= 900L && col("o_orderkey") % 3 === 1)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice"))
    l.delete(col("okey") % 5 === 3)
    l.append(lineitem.filter(col("l_orderkey") > 900L && col("l_orderkey") <= 1200L)
      .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice")
      .dropDuplicates("okey", "l_linenumber"))
    assert(jv.refresh() > 0)
    assertSame(jv.read(), expectedOuter(l, r))

    // the unmatched table holds EXACTLY live(L) anti live(R)
    val um = jv.unmatchedDataset.get.readAll()
    val umExp = l.readAll().join(r.readAll(), Seq("okey"), "left_anti")
      .select("okey", "l_linenumber", "l_quantity", "l_extendedprice")
    assert(um.exceptAll(umExp).isEmpty && umExp.exceptAll(um).isEmpty,
      "unmatched state diverged from live-anti-join truth")

    // a right UPDATE that moves the join key re-partitions the boundary
    val liveKey = r.readAll().select(min(col("okey"))).collect()(0).getLong(0)
    r.update(col("okey") === liveKey, Map("o_totalprice" -> lit(77.0)))
    assert(jv.refresh() > 0)
    assertSame(jv.read(), expectedOuter(l, r))

    // reload from the persisted plan: the outer view resumes
    val re = JoinView.load(spark, jv.dataset.location)
    assert(re.plan == jv.plan && re.refresh() == 0)
    assertSame(re.read(), expectedOuter(l, r))
  }

  test("left outer: coalesced refresh equals the per-snapshot twin") {
    val l = leftTable(700L)
    val o = orders.filter(col("o_orderkey") <= 700L && col("o_orderkey") % 2 === 0)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice")
    def mkRight(): SpaceDataset = {
      val ds = SpaceDataset.create(spark, freshLoc("jvro"), o.schema, Seq("okey"))
      ds.append(o)
      ds
    }
    val r = mkRight()
    val jv = createOuterView(l, r)
    val twin = createOuterView(l, r)
    assert(jv.refresh() >= 1 && twin.refresh() >= 1)

    l.append(lineitem.filter(col("l_orderkey") > 700L && col("l_orderkey") <= 1000L)
      .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice")
      .dropDuplicates("okey", "l_linenumber"))
    l.delete(col("okey") % 7 === 2)
    r.delete(col("okey") % 6 === 0)
    r.append(orders.filter(col("o_orderkey") <= 1000L && col("o_orderkey") % 2 === 1)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice"))
    assert(jv.refresh() > 0)
    // coalesced: one inner commit + one unmatched commit per side
    assert(twin.refresh(None, coalesce = true) == 4)
    val a = jv.read()
    val b = twin.read()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "coalesced outer state diverged from per-snapshot application")
    assertSame(b, expectedOuter(l, r))
    assert(jv.refresh() == 0 && twin.refresh(None, coalesce = true) == 0)
  }

  test("left outer: expired source history rebuilds BOTH state tables") {
    val l = leftTable(600L)
    val o = orders.filter(col("o_orderkey") <= 600L && col("o_orderkey") % 2 === 0)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice")
    val r = SpaceDataset.create(spark, freshLoc("jvro"), o.schema, Seq("okey"))
    r.append(o)
    val jv = createOuterView(l, r)
    jv.refresh()
    l.append(lineitem.filter(col("l_orderkey") > 600L && col("l_orderkey") <= 900L)
      .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice")
      .dropDuplicates("okey", "l_linenumber"))
    l.delete(col("okey") % 3 === 0)
    assert(l.expireSnapshots(olderThanMs = 0L, keepLast = 1).nonEmpty)
    assert(jv.refresh() > 0)
    assertSame(jv.read(), expectedOuter(l, r))
    // incremental maintenance resumes on both tables
    r.delete(col("okey") % 5 === 1)
    assert(jv.refresh() > 0)
    assertSame(jv.read(), expectedOuter(l, r))
  }

  test("right outer: first-class — only the unmatched-RIGHT table, lifecycle converges") {
    // partial fact side: a third of the orders have no lineitems, so
    // unmatched dims exist from the initial build
    val li = lineitem.filter(col("l_orderkey") <= 900L && col("l_orderkey") % 3 =!= 1)
      .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice")
      .dropDuplicates("okey", "l_linenumber")
    val l = SpaceDataset.create(spark, freshLoc("jvgl"), li.schema,
      Seq("okey", "l_linenumber"))
    l.append(li)
    val r = rightTable(900L)
    val jv = JoinView.create(spark, freshLoc("jviewg"), l, r, Seq("okey"),
      Seq("l_linenumber", "l_quantity", "l_extendedprice"),
      Seq("o_custkey", "o_totalprice"), joinType = JoinView.RightOuter)
    // right-outer plan: NO unmatched-left table, one unmatched-right
    assert(JoinPlan.fromJson(jv.plan.json) == jv.plan)
    assert(jv.plan.joinType == JoinView.RightOuter &&
      jv.plan.unmatchedLocation.isEmpty && jv.plan.unmatchedRightLocation.isDefined)

    def expectedRight(): DataFrame =
      l.readAll().join(r.readAll(), Seq("okey"), "right_outer")
        .select("okey", "l_linenumber", "l_quantity", "l_extendedprice",
          "o_custkey", "o_totalprice")
    assert(jv.refresh() >= 1)
    assertSame(jv.read(), expectedRight())
    assert(jv.read().filter(col("l_linenumber").isNull).count() > 0,
      "lineitem-less orders must null-extend")
    assert(jv.refresh() == 0)

    // fact delete ORPHANS dims; late facts RE-PARTNER them; dim DML
    // flows through both tables
    l.delete(col("okey") % 4 === 2)
    l.append(lineitem.filter(col("l_orderkey") <= 900L && col("l_orderkey") % 3 === 1)
      .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice")
      .dropDuplicates("okey", "l_linenumber"))
    r.delete(col("okey") % 5 === 3, dvMaxFraction = Some(1.0))
    assert(jv.refresh() > 0)
    assertSame(jv.read(), expectedRight())

    // the unmatched-right table holds EXACTLY live(R) anti live(L)
    val um = jv.unmatchedRightDataset.get.readAll()
    val umExp = r.readAll().join(l.readAll(), Seq("okey"), "left_anti")
      .select("okey", "o_custkey", "o_totalprice")
    assert(um.exceptAll(umExp).isEmpty && umExp.exceptAll(um).isEmpty,
      "unmatched-right state diverged from live-anti-join truth")

    // reload from the persisted plan: the right-outer view resumes
    val re = JoinView.load(spark, jv.dataset.location)
    assert(re.plan == jv.plan && re.refresh() == 0)
    assertSame(re.read(), expectedRight())
  }

  test("typed state-schema derivation equals the analyzed-join inference, all types") {
    import org.apache.spark.sql.types._
    // mixed nullabilities + field metadata on both sides
    val md = new MetadataBuilder().putString("note", "x").build()
    val ls = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("k2", StringType, nullable = true),
      StructField("a", StringType, nullable = true, md),
      StructField("b", DoubleType, nullable = false)))
    val rs = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("k2", StringType, nullable = false),
      StructField("c", IntegerType, nullable = false),
      StructField("d", TimestampType, nullable = true)))
    val l = SpaceDataset.create(spark, freshLoc("sdl"), ls, Seq("k"))
    val r = SpaceDataset.create(spark, freshLoc("sdr"), rs, Seq("k"))
    val keys = Seq("k", "k2")
    val lf = Seq("a", "b")
    val rf = Seq("c", "d")
    for (jt <- Seq(JoinView.Inner, JoinView.LeftOuter,
        JoinView.RightOuter, JoinView.FullOuter)) {
      // the OLD inference: analyze an actual inner join, then null-
      // extend the absent side (exactly what create() used to run)
      val schema0 = l.readAll().select((keys ++ lf).map(col): _*)
        .join(r.readAll().select((keys ++ rf).map(col): _*), keys, "inner")
        .select((keys ++ lf ++ rf).map(col): _*).schema
      val nullableSide: Set[String] = jt match {
        case JoinView.LeftOuter => rf.toSet
        case JoinView.RightOuter => lf.toSet
        case JoinView.FullOuter => (lf ++ rf).toSet
        case _ => Set.empty
      }
      val analyzed = StructType(schema0.fields.map(f =>
        if (nullableSide.contains(f.name)) f.copy(nullable = true) else f))
      val derived = JoinView.deriveStateSchema(
        l.storage.logicalSchema, r.storage.logicalSchema, keys, lf, rf, jt)
      assert(derived == analyzed,
        s"$jt: derived $derived != analyzed $analyzed")
    }
  }

  test("consistent cut: read() pins companions at the inner head's recorded ids") {
    // a companion head that advanced past the inner table's recorded
    // pin (the mid-refresh / crashed-refresh window) must be INVISIBLE
    // to readers — read() resolves the unmatched table at the pinned
    // snapshot, not its live head (VERDICT r15 #1)
    val l = leftTable(600L)
    val o = orders.filter(col("o_orderkey") <= 600L && col("o_orderkey") % 2 === 0)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice")
    val r = SpaceDataset.create(spark, freshLoc("jvro"), o.schema, Seq("okey"))
    r.append(o)
    val jv = createOuterView(l, r)
    assert(jv.refresh() >= 1)
    // the inner head records a pin for the companion
    val wm = jv.dataset.storage.metadata.mvSourceSnapshotIds
    assert(wm.contains(JoinView.UmPin), "inner commits must record the companion pin")
    assert(wm(JoinView.UmPin) ==
      jv.unmatchedDataset.get.storage.metadata.currentSnapshotId)
    val before = jv.read().collect().toSet

    // companion advances WITHOUT an inner pin update — simulated torn
    // window: a reader must still see the old cut
    val um = SpaceDataset.load(spark, jv.plan.unmatchedLocation.get)
    um.append(um.readAll().limit(1).withColumn("okey", lit(999999L)))
    val reloaded = JoinView.load(spark, jv.dataset.location)
    assert(reloaded.read().collect().toSet == before,
      "a companion head past the recorded pin must not leak into read()")
    assert(reloaded.read().filter(col("okey") === 999999L).isEmpty)
  }

  test("consistent cut: a concurrent reader never sees a torn match transition") {
    import spark.implicits._
    // dims keyed BY the join key (at most one match per key), so any
    // key observed BOTH matched and null-extended — or any fact id
    // observed twice — is a torn cut, impossible under pinned reads
    val facts = (1L to 240L).map(i => (i, "k" + (i % 60), i * 1.0)).toDF("id", "k", "v")
    val dims = (0 until 40).map(i => ("k" + i, i * 10.0)).toDF("k", "w")
    val fds = SpaceDataset.create(spark, freshLoc("ccf"), facts.schema, Seq("id"))
    fds.append(facts)
    val dds = SpaceDataset.create(spark, freshLoc("ccd"), dims.schema, Seq("k"))
    dds.append(dims)
    val jv = JoinView.create(spark, freshLoc("ccv"), fds, dds,
      Seq("k"), Seq("id", "v"), Seq("w"), joinType = JoinView.FullOuter)
    jv.refresh()

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val refresherErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val refresher = new Thread(() => {
      try {
        var round = 0
        while (!stop.get() && round < 8) {
          // push keys across the match boundary both ways each round
          dds.delete(col("k").isin((0 until 40 by 3).map(i => "k" + ((i + round) % 40)): _*))
          dds.insert((0 until 40 by 3).map(i => ("k" + ((i + round) % 40), i * 10.0 + round))
            .toDF("k", "w"))
          fds.delete(col("id") % 7 === (round % 7).toLong)
          fds.insert((1L to 240L).filter(_ % 7 == round % 7)
            .map(i => (i, "k" + (i % 60), i * 1.0 + round)).toDF("id", "k", "v"))
          jv.refresh()
          round += 1
        }
      } catch { case t: Throwable => refresherErr.set(t) }
      finally stop.set(true)
    })
    refresher.start()
    try {
      var reads = 0
      while (!stop.get() && reads < 60) {
        val cut = JoinView.load(spark, jv.dataset.location).read()
          .select(col("k"), col("id"), col("w")).collect()
        // tear #1: a fact id appearing twice (matched + null-extended)
        val idCounts = cut.filter(_.get(1) != null).groupBy(_.getLong(1))
          .view.mapValues(_.length)
        assert(!idCounts.exists(_._2 > 1),
          s"torn read: fact ids duplicated: ${idCounts.filter(_._2 > 1).take(3)}")
        // tear #2: a dim key both matched and null-extended (dim PK =
        // join key, so a key is matched xor unmatched at any version)
        val byKey = cut.filter(_.get(2) != null).groupBy(_.getString(0))
        val torn = byKey.filter { case (_, rows) =>
          rows.exists(_.get(1) == null) && rows.exists(_.get(1) != null)
        }
        assert(torn.isEmpty,
          s"torn read: dim keys both matched and unmatched: ${torn.keys.take(3)}")
        reads += 1
      }
    } finally {
      stop.set(true)
      refresher.join(120000)
    }
    assert(refresherErr.get() == null, s"refresher failed: ${refresherErr.get()}")
    // converged: the final cut equals the from-scratch full-outer truth
    val exp = fds.readAll().join(dds.readAll(), Seq("k"), "full_outer")
      .select("k", "id", "v", "w")
    val got = JoinView.load(spark, jv.dataset.location).read().select("k", "id", "v", "w")
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
  }

  test("coalesced refresh: one commit per side, equals the per-snapshot twin") {
    val l = leftTable(700L)
    val r = rightTable(700L)
    val jv = createView(l, r)
    val twin = createView(l, r)
    assert(jv.refresh() == 1 && twin.refresh() == 1)

    // backlog on BOTH sides: appends + deletes + an update + silent compacts
    l.append(lineitem.filter(col("l_orderkey") > 700L && col("l_orderkey") <= 1100L)
      .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice")
      .dropDuplicates("okey", "l_linenumber"))
    l.delete(col("okey") % 7 === 1)
    r.append(orders.filter(col("o_orderkey") > 700L && col("o_orderkey") <= 1100L)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice"))
    val liveKey = r.readAll().select(min(col("okey"))).collect()(0).getLong(0)
    r.update(col("okey") === liveKey, Map("o_totalprice" -> lit(123.0)))
    l.compact(targetFileRows = 1000000L)
    r.compact(targetFileRows = 1000000L)
    // same-PK churn inside each side's coalesced window: a left row
    // appended and then deleted, a right PK updated twice, a left row
    // deleted and re-inserted
    def leftRow(c: org.apache.spark.sql.Column) = l.readAll().filter(c)
      .orderBy(col("okey").desc, col("l_linenumber")).limit(1).collect()(0)
    def deleteRow(row: org.apache.spark.sql.Row): Unit =
      l.delete(col("okey") === lit(row.getAs[Any]("okey")) &&
        col("l_linenumber") === lit(row.getAs[Any]("l_linenumber")))
    deleteRow(leftRow(col("okey") > 700L))
    r.update(col("okey") === liveKey, Map("o_totalprice" -> lit(456.0)))
    val back = leftRow(col("okey") <= 700L)
    deleteRow(back)
    val lSchema = l.readAll().schema
    l.append(spark.createDataFrame(java.util.Arrays.asList(back), lSchema)
      .withColumn("l_quantity",
        (col("l_quantity") + 1).cast(lSchema("l_quantity").dataType)))

    assert(jv.refresh() == 8, "per-snapshot: 5 left + 3 right data snapshots " +
      "(silent compacts mint no commits)")
    assert(twin.refresh(None, coalesce = true) == 2,
      "coalesced: exactly ONE state commit per side")
    val a = jv.read()
    val b = twin.read()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "coalesced state diverged from per-snapshot application")
    assertSame(a, expected(l, r))
    assertSame(b, expected(l, r))
    assert(jv.refresh() == 0 && twin.refresh(None, coalesce = true) == 0)
  }

  test("expired source history falls back to a one-commit rebuild") {
    val l = leftTable(800L)
    val r = rightTable(800L)
    val jv = createView(l, r)
    jv.refresh()
    l.append(lineitem.filter(col("l_orderkey") > 800L && col("l_orderkey") <= 1200L)
      .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice"))
    l.delete(col("okey") % 3 === 0)
    // expire everything but the head on the left: the watermark
    // snapshot is gone, orderedSnapshotIds raises ExpiredHistory
    val expired = l.expireSnapshots(olderThanMs = 0L, keepLast = 1)
    assert(expired.nonEmpty)
    assert(jv.refresh() == 1, "expired history must rebuild in ONE commit")
    assertSame(jv.read(), expected(l, r))
    // incremental maintenance resumes after the rebuild
    r.delete(col("okey") % 5 === 1)
    assert(jv.refresh() == 1)
    assertSame(jv.read(), expected(l, r))
  }

  test("views chain: an aggregate view maintains over a join view's state") {
    // the join view's state table is a full graft table (PKs, CDC
    // changelogs per refresh commit), so downstream incremental view
    // maintenance composes: orders ⋈ customer, then GROUP BY nation
    // over the joined state — both layers refresh O(delta)
    val o = orders.filter(col("o_orderkey") <= 3000L)
      .selectExpr("o_custkey AS custkey", "o_orderkey", "o_totalprice")
    val c = Tables.read(spark, sfDir, "customer")
      .selectExpr("c_custkey AS custkey", "c_nationkey")
    val l = SpaceDataset.create(spark, freshLoc("jvcl"), o.schema, Seq("o_orderkey"))
    l.append(o)
    val r = SpaceDataset.create(spark, freshLoc("jvcr"), c.schema, Seq("custkey"))
    r.append(c)
    val jv = JoinView.create(spark, freshLoc("jvcv"), l, r, Seq("custkey"),
      Seq("o_orderkey", "o_totalprice"), Seq("c_nationkey"))
    jv.refresh()
    val av = AggregateView.create(spark, freshLoc("jvca"), jv.dataset,
      Seq("c_nationkey"), Seq(
        AggSpec.countAll("n_orders"), AggSpec.sum("o_totalprice", "sum_price")))
    av.refresh()
    def expAgg: DataFrame = jv.read().groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("sum_price"))
    def gotAgg: DataFrame = av.read()
      .select(col("c_nationkey"), col("n_orders"), round(col("sum_price"), 4).as("sum_price"))
    assert(gotAgg.exceptAll(expAgg).isEmpty && expAgg.exceptAll(gotAgg).isEmpty)

    // mutate BOTH base tables; the chain refreshes layer by layer
    l.delete(col("o_totalprice") > 300000.0)
    r.update(col("c_nationkey") === 3, Map("c_nationkey" -> lit(99)))
    assert(jv.refresh() == 2)
    assert(av.refresh() >= 1, "agg layer must see the join layer's commits")
    assert(gotAgg.exceptAll(expAgg).isEmpty && expAgg.exceptAll(gotAgg).isEmpty)
    assert(av.lastRecomputedGroups == 0L,
      "chained deletes must stay arithmetic (full rows ride the state CDC)")
  }

  test("streaming maintenance: both sources' CDC streams drive the refresh") {
    val root = Files.createTempDirectory("graft_jvstream_").toString
    import spark.implicits._
    val a = (1L to 50L).map(i => (i, "k" + (i % 5), i * 1.0)).toDF("id", "k", "v")
    val b = (1L to 20L).map(i => (i, "k" + (i % 5), i * 10.0)).toDF("bid", "k", "w")
    val ads = SpaceDataset.create(spark, s"$root/a", a.schema, Seq("id"))
    ads.append(a)
    val bds = SpaceDataset.create(spark, s"$root/b", b.schema, Seq("bid"))
    bds.append(b)
    val jv = JoinView.create(spark, s"$root/jv", ads, bds,
      Seq("k"), Seq("id", "v"), Seq("bid", "w"))
    def exp: DataFrame = ads.readAll().join(bds.readAll(), Seq("k"), "inner")
      .select("k", "id", "v", "bid", "w")
    val qs = jv.refreshStreams(s"$root/ckpt")
    try {
      qs.foreach(_.processAllAvailable())
      assertSame(jv.read(), exp)
      // either side's commit wakes the view
      ads.delete(col("id") % 4 === 1)
      bds.update(col("bid") === 3L, Map("w" -> lit(-1.0)))
      qs.foreach(_.processAllAvailable())
      jv.dataset.refresh()
      assertSame(jv.read(), exp)
      val wm = jv.refreshedToSides
      // replayed/empty batches never re-commit (watermark exactly-once)
      qs.foreach(_.processAllAvailable())
      jv.dataset.refresh()
      assert(jv.refreshedToSides == wm)
    } finally qs.foreach(_.stop())
  }

  test("streaming maintenance drives a LEFT-OUTER view across the match boundary") {
    val root = Files.createTempDirectory("graft_jvostream_").toString
    import spark.implicits._
    val a = (1L to 60L).map(i => (i, "k" + (i % 6), i * 1.0)).toDF("id", "k", "v")
    // dim covers only half the keys: unmatched lefts from the start
    val b = (1L to 20L).map(i => (i, "k" + (i % 3), i * 10.0)).toDF("bid", "k", "w")
    val ads = SpaceDataset.create(spark, s"$root/a", a.schema, Seq("id"))
    ads.append(a)
    val bds = SpaceDataset.create(spark, s"$root/b", b.schema, Seq("bid"))
    bds.append(b)
    val jv = JoinView.create(spark, s"$root/jv", ads, bds,
      Seq("k"), Seq("id", "v"), Seq("bid", "w"), joinType = JoinView.LeftOuter)
    def exp: DataFrame = ads.readAll().join(bds.readAll(), Seq("k"), "left_outer")
      .select("k", "id", "v", "bid", "w")
    val qs = jv.refreshStreams(s"$root/ckpt")
    try {
      qs.foreach(_.processAllAvailable())
      assertSame(jv.read(), exp)
      assert(jv.read().filter(col("bid").isNull).count() > 0)
      // a dim delete pushes lefts INTO unmatched; a dim append with a
      // previously-uncovered key pulls lefts OUT — both via the streams
      bds.delete(col("k") === "k1")
      bds.append(Seq((100L, "k4", 7.0)).toDF("bid", "k", "w"))
      qs.foreach(_.processAllAvailable())
      jv.dataset.refresh()
      jv.unmatchedDataset.foreach(_.refresh())
      assertSame(jv.read(), exp)
    } finally qs.foreach(_.stop())
  }

  test("fuzz: random interleaved DML on both sides, refresh always converges") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val a0 = (1L to 300L).map(i => (i, "k" + (i % 17), rnd.nextInt(1000) * 1.0))
      .toDF("id", "k", "v")
    val b0 = (1L to 60L).map(i => (i, "k" + (i % 17), rnd.nextInt(1000) * 1.0))
      .toDF("bid", "k", "w")
    val ads = SpaceDataset.create(spark, freshLoc("jvfa"), a0.schema, Seq("id"))
    ads.append(a0)
    val bds = SpaceDataset.create(spark, freshLoc("jvfb"), b0.schema, Seq("bid"))
    bds.append(b0)
    // FOUR views over the same mutating sources — every join type's
    // maintenance algebra fuzzed against its own from-scratch truth,
    // including the auto-coalesce path (multi-snapshot windows cross
    // the default bound naturally) and random explicit coalescing
    val jv = JoinView.create(spark, freshLoc("jvfv"), ads, bds,
      Seq("k"), Seq("id", "v"), Seq("bid", "w"))
    val jvL = JoinView.create(spark, freshLoc("jvfvl"), ads, bds,
      Seq("k"), Seq("id", "v"), Seq("bid", "w"), joinType = JoinView.LeftOuter)
    val jvR = JoinView.create(spark, freshLoc("jvfvr"), ads, bds,
      Seq("k"), Seq("id", "v"), Seq("bid", "w"), joinType = JoinView.RightOuter)
    val jvF = JoinView.create(spark, freshLoc("jvfvf"), ads, bds,
      Seq("k"), Seq("id", "v"), Seq("bid", "w"), joinType = JoinView.FullOuter)
    jv.refresh(); jvL.refresh(); jvR.refresh(); jvF.refresh()
    var nextId = 301L
    var nextBid = 61L
    for (round <- 1 to 12) {
      // 1-3 random ops per round across both sides; MoR for some deletes
      (1 to (1 + rnd.nextInt(3))).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 =>
            val n = 5 + rnd.nextInt(20)
            val fresh = (nextId until nextId + n)
              .map(i => (i, "k" + rnd.nextInt(17), rnd.nextInt(1000) * 1.0))
              .toDF("id", "k", "v")
            nextId += n
            ads.append(fresh)
          case 1 =>
            val m = 2 + rnd.nextInt(9)
            ads.delete(col("id") % m === rnd.nextInt(m),
              dvMaxFraction = if (rnd.nextBoolean()) Some(1.0) else None)
          case 2 =>
            if (ads.readAll().limit(1).count() > 0)
              ads.update(col("id") % 13 === rnd.nextInt(13),
                Map("k" -> concat(lit("k"), lit(rnd.nextInt(17)))))
          case 3 =>
            val n = 1 + rnd.nextInt(5)
            val fresh = (nextBid until nextBid + n)
              .map(i => (i, "k" + rnd.nextInt(17), rnd.nextInt(1000) * 1.0))
              .toDF("bid", "k", "w")
            nextBid += n
            bds.append(fresh)
          case 4 =>
            val m = 2 + rnd.nextInt(7)
            bds.delete(col("bid") % m === rnd.nextInt(m),
              dvMaxFraction = if (rnd.nextBoolean()) Some(1.0) else None)
          case 5 =>
            bds.update(col("bid") % 11 === rnd.nextInt(11),
              Map("w" -> (col("w") + lit(1.0))))
        }
      }
      // refresh every other round: multi-snapshot windows on both sides
      if (round % 2 == 0) {
        for ((view, jt) <- Seq(jv -> "inner", jvL -> "left_outer",
            jvR -> "right_outer", jvF -> "full_outer")) {
          view.refresh(None, coalesce = rnd.nextBoolean())
          val exp = ads.readAll().join(bds.readAll(), Seq("k"), jt)
            .select("k", "id", "v", "bid", "w")
          val got = view.read().select("k", "id", "v", "bid", "w")
          assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
            s"fuzz divergence ($jt) at round $round")
        }
      }
    }
  }

  test("overlapping refreshers apply each source snapshot exactly once") {
    import spark.implicits._
    val a = (1L to 200L).map(i => (i, "k" + (i % 8), i * 1.0)).toDF("id", "k", "v")
    val b = (1L to 40L).map(i => (i, "k" + (i % 8), i * 10.0)).toDF("bid", "k", "w")
    val ads = SpaceDataset.create(spark, freshLoc("jvra"), a.schema, Seq("id"))
    ads.append(a)
    val bds = SpaceDataset.create(spark, freshLoc("jvrb"), b.schema, Seq("bid"))
    bds.append(b)
    val jv = JoinView.create(spark, freshLoc("jvrv"), ads, bds,
      Seq("k"), Seq("id", "v"), Seq("bid", "w"))
    jv.refresh()
    // pile up multi-snapshot windows on both sides, then race two
    // refreshers: the per-side watermark re-check inside each state
    // transaction must make every source snapshot apply EXACTLY once
    ads.append((201L to 260L).map(i => (i, "k" + (i % 8), i * 1.0)).toDF("id", "k", "v"))
    ads.delete(col("id") % 5 === 2)
    bds.delete(col("bid") % 4 === 1)
    bds.append((41L to 55L).map(i => (i, "k" + (i % 8), i * 10.0)).toDF("bid", "k", "w"))
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val totals = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to 2).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit =
          try totals.addAndGet(JoinView.load(spark, jv.dataset.location).refresh())
          catch { case t: Throwable => errs.add(t) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(errs.isEmpty, s"refresher failed: ${Option(errs.peek()).map(_.toString)}")
    // 4 source snapshots -> exactly 4 state commits across BOTH racers
    assert(totals.get() == 4, s"expected 4 total commits, got ${totals.get()}")
    // the racers committed through their own handles: reload this one
    jv.dataset.refresh()
    val exp = ads.readAll().join(bds.readAll(), Seq("k"), "inner")
      .select("k", "id", "v", "bid", "w")
    assertSame(jv.read().select("k", "id", "v", "bid", "w"), exp)
  }

  test("SQL surface: create_join_view + refresh_mv + .view metadata read") {
    val root = Files.createTempDirectory("graft_jvsql_").toString
    spark.conf.set("spark.sql.catalog.gjv",
      classOf[org.apache.spark.sql.graftshim.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gjv.location", root)
    try {
      val l = lineitem.filter(col("l_orderkey") <= 1000L)
        .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity")
      val r = orders.filter(col("o_orderkey") <= 1000L)
        .selectExpr("o_orderkey AS okey", "o_totalprice")
      val lds = SpaceDataset.create(spark, s"$root/l", l.schema, Seq("okey", "l_linenumber"))
      lds.append(l)
      val rds = SpaceDataset.create(spark, s"$root/r", r.schema, Seq("okey"))
      rds.append(r)
      val loc = spark.sql(
        "CALL gjv.system.create_join_view(left => 'l', right => 'r', " +
          "view => 'jv', keys => 'okey', " +
          "left_fields => 'l_linenumber,l_quantity', " +
          "right_fields => 'o_totalprice')").collect()(0).getString(0)
      assert(loc.endsWith("/jv"))
      val out = spark.sql("CALL gjv.system.refresh_mv(table => 'jv')").collect()(0)
      assert(out.getInt(0) == 1)
      val viaSql = spark.sql("SELECT * FROM gjv.jv.view")
      val exp = l.join(r, Seq("okey"), "inner")
      assert(viaSql.count() == exp.count() && viaSql.count() > 0)
      assert(viaSql.exceptAll(
        exp.select("okey", "l_linenumber", "l_quantity", "o_totalprice")).isEmpty)
      // refresh_mv dispatches the join view through the shared
      // Refreshable surface: incremental after right-side DML
      rds.delete(col("okey") % 2 === 0)
      assert(spark.sql("CALL gjv.system.refresh_mv(table => 'jv')")
        .collect()(0).getInt(0) == 1)
      assert(spark.sql("SELECT count(*) FROM gjv.jv.view").collect()(0).getLong(0) ==
        lds.readAll().join(rds.readAll(), Seq("okey"), "inner").count())

      // LEFT OUTER through SQL: `.view` null-extends (the bare table
      // name reads the inner STATE, like every view kind's state table;
      // half the right side was deleted above, so unmatched lefts exist)
      spark.sql(
        "CALL gjv.system.create_join_view(left => 'l', right => 'r', " +
          "view => 'jvo', keys => 'okey', " +
          "left_fields => 'l_linenumber,l_quantity', " +
          "right_fields => 'o_totalprice', join_type => 'left_outer')")
      assert(spark.sql("CALL gjv.system.refresh_mv(table => 'jvo')")
        .collect()(0).getInt(0) >= 1)
      val outer = spark.sql("SELECT * FROM gjv.jvo.view")
      val expOuter = lds.readAll().join(rds.readAll(), Seq("okey"), "left_outer")
        .select("okey", "l_linenumber", "l_quantity", "o_totalprice")
      assert(outer.count() == expOuter.count())
      assert(outer.exceptAll(expOuter).isEmpty && expOuter.exceptAll(outer).isEmpty)
      assert(spark.sql(
        "SELECT count(*) FROM gjv.jvo.view WHERE o_totalprice IS NULL")
        .collect()(0).getLong(0) > 0)

      // FULL OUTER through SQL: both sides' unmatched rows null-extend.
      // Half the right side was deleted above (unmatched lefts), and
      // the left side is then thinned so order-less rights exist too.
      lds.delete(col("okey") % 3 === 1)
      spark.sql(
        "CALL gjv.system.create_join_view(left => 'l', right => 'r', " +
          "view => 'jvf', keys => 'okey', " +
          "left_fields => 'l_linenumber,l_quantity', " +
          "right_fields => 'o_totalprice', join_type => 'full_outer')")
      assert(spark.sql("CALL gjv.system.refresh_mv(table => 'jvf')")
        .collect()(0).getInt(0) >= 1)
      val full = spark.sql("SELECT * FROM gjv.jvf.view")
      val expFull = lds.readAll().join(rds.readAll(), Seq("okey"), "full_outer")
        .select("okey", "l_linenumber", "l_quantity", "o_totalprice")
      assert(full.count() == expFull.count())
      assert(full.exceptAll(expFull).isEmpty && expFull.exceptAll(full).isEmpty)
      assert(spark.sql(
        "SELECT count(*) FROM gjv.jvf.view WHERE l_quantity IS NULL")
        .collect()(0).getLong(0) > 0, "order-less rights must null-extend")
      // the chaining refusal also guards the SQL create path
      val err = intercept[Exception](spark.sql(
        "CALL gjv.system.create_agg_view(table => 'jvf', view => 'chainf', " +
          "group_by => 'okey', aggs => 'count_all::n')"))
      assert(err.getMessage.contains("__unmatched"),
        s"SQL chaining over outer state must refuse: ${err.getMessage}")
    } finally {
      spark.conf.unset("spark.sql.catalog.gjv")
      spark.conf.unset("spark.sql.catalog.gjv.location")
    }
  }

  /** Full-outer truth: both sides' unmatched rows null-extended. */
  private def expectedFull(l: SpaceDataset, r: SpaceDataset): DataFrame =
    l.readAll().join(r.readAll(), Seq("okey"), "full_outer")
      .select("okey", "l_linenumber", "l_quantity", "l_extendedprice",
        "o_custkey", "o_totalprice")

  private def createFullView(l: SpaceDataset, r: SpaceDataset): JoinView =
    JoinView.create(spark, freshLoc("jviewf"), l, r, Seq("okey"),
      Seq("l_linenumber", "l_quantity", "l_extendedprice"),
      Seq("o_custkey", "o_totalprice"), joinType = JoinView.FullOuter)

  test("full outer: lifecycle across both match boundaries; coalesced twin") {
    // BOTH sides partial: a third of the dims are missing (unmatched
    // lefts) AND the dim covers keys past the fact range (unmatched
    // rights) — both unmatched tables are non-empty from the build
    val l = leftTable(900L)
    val o = orders.filter(col("o_orderkey") <= 1200L && col("o_orderkey") % 3 =!= 1)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice")
    val r = SpaceDataset.create(spark, freshLoc("jvrf"), o.schema, Seq("okey"))
    r.append(o)
    val jv = createFullView(l, r)
    val twin = createFullView(l, r)
    assert(JoinPlan.fromJson(jv.plan.json) == jv.plan)
    assert(jv.plan.joinType == JoinView.FullOuter &&
      jv.plan.unmatchedLocation.isDefined && jv.plan.unmatchedRightLocation.isDefined)

    assert(jv.refresh() >= 1 && twin.refresh() >= 1)
    assertSame(jv.read(), expectedFull(l, r))
    assert(jv.read().filter(col("o_custkey").isNull).count() > 0,
      "missing dims must null-extend the right fields")
    assert(jv.read().filter(col("l_linenumber").isNull).count() > 0,
      "dim keys past the fact range must null-extend the left fields")
    assert(jv.refresh() == 0)

    // boundary moves in BOTH directions: dim deletes orphan facts, dim
    // re-inserts re-partner them; fact deletes orphan dims into the
    // unmatched-right table, fact appends pull them back out. The dim
    // delete is merge-on-read (full-value CDC under vectors).
    r.delete(col("okey") % 4 === 2, dvMaxFraction = Some(1.0))
    r.insert(orders.filter(col("o_orderkey") <= 1200L && col("o_orderkey") % 3 === 1)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice"))
    l.delete(col("okey") % 5 === 3)
    l.append(lineitem.filter(col("l_orderkey") > 900L && col("l_orderkey") <= 1100L)
      .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice")
      .dropDuplicates("okey", "l_linenumber"))
    assert(jv.refresh() > 0)
    assertSame(jv.read(), expectedFull(l, r))
    // coalesced twin: same final state through one commit per (table, side)
    assert(twin.refresh(None, coalesce = true) > 0)
    assertSame(twin.read(), expectedFull(l, r))

    // each unmatched table holds EXACTLY its side's live anti-join
    val umL = jv.unmatchedDataset.get.readAll()
    val umLExp = l.readAll().join(r.readAll(), Seq("okey"), "left_anti")
      .select("okey", "l_linenumber", "l_quantity", "l_extendedprice")
    assert(umL.exceptAll(umLExp).isEmpty && umLExp.exceptAll(umL).isEmpty,
      "unmatched-left state diverged from live-anti-join truth")
    val umR = jv.unmatchedRightDataset.get.readAll()
    val umRExp = r.readAll().join(l.readAll(), Seq("okey"), "left_anti")
      .select("okey", "o_custkey", "o_totalprice")
    assert(umR.exceptAll(umRExp).isEmpty && umRExp.exceptAll(umR).isEmpty,
      "unmatched-right state diverged from live-anti-join truth")

    // reload from the persisted plan; expired fact history rebuilds all
    // three state tables and incremental maintenance resumes
    val re = JoinView.load(spark, jv.dataset.location)
    assert(re.plan == jv.plan && re.refresh() == 0)
    l.delete(col("okey") % 11 === 7)
    assert(l.expireSnapshots(olderThanMs = 0L, keepLast = 1).nonEmpty)
    assert(re.refresh() > 0)
    assertSame(re.read(), expectedFull(l, r))
    r.delete(col("okey") % 9 === 4)
    assert(re.refresh() > 0)
    assertSame(re.read(), expectedFull(l, r))
    // RIGHT-side expiry rebuilds too (the mirror of the left case —
    // the unmatched-right walk loses its own-side history)
    r.insert(orders.filter(col("o_orderkey") > 1200L && col("o_orderkey") <= 1400L)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice"))
    assert(r.expireSnapshots(olderThanMs = 0L, keepLast = 1).nonEmpty)
    assert(re.refresh() > 0)
    assertSame(re.read(), expectedFull(l, r))
    // and incremental maintenance resumes on all three tables after
    l.delete(col("okey") % 13 === 2)
    assert(re.refresh() > 0)
    assertSame(re.read(), expectedFull(l, r))
  }

  test("chaining onto an outer view's bare state table is refused at create") {
    val l = leftTable(500L)
    val o = orders.filter(col("o_orderkey") <= 500L && col("o_orderkey") % 2 === 0)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice")
    val r = SpaceDataset.create(spark, freshLoc("jvrc"), o.schema, Seq("okey"))
    r.append(o)
    val jv = createOuterView(l, r)
    jv.refresh()
    val state = SpaceDataset.load(spark, jv.dataset.location)

    // aggregate view over the outer STATE would silently see only
    // matched rows — typed refusal names the unmatched twin + .view
    val e = intercept[IllegalArgumentException](AggregateView.create(
      spark, freshLoc("chain"), state, Seq("okey"),
      Seq(AggSpec.sum("l_quantity", "q"))))
    assert(e.getMessage.contains("__unmatched") && e.getMessage.contains(".view"),
      s"refusal must name the twin table and the .view surface: ${e.getMessage}")
    // a join view over it is refused the same way
    intercept[IllegalArgumentException](JoinView.create(
      spark, freshLoc("chain"), state, r, Seq("okey"),
      Seq("l_linenumber", "l_quantity", "l_extendedprice"), Seq("o_custkey")))
    // row-wise MV over it too (the View.materialize path)
    intercept[IllegalArgumentException](MaterializedView.create(
      spark, freshLoc("chain"),
      View.ofTable(state.location), Seq("okey", "l_linenumber")))

    // explicit opt-in: the caller acknowledges matched-rows-only
    spark.conf.set(ViewMaintenance.AllowOuterStateChainKey, "true")
    try {
      val av = AggregateView.create(spark, freshLoc("chainok"), state,
        Seq("okey"), Seq(AggSpec.sum("l_quantity", "q")))
      av.refresh()
      assert(av.read().count() ==
        l.readAll().join(r.readAll(), Seq("okey"), "inner")
          .select("okey").distinct().count())
    } finally spark.conf.unset(ViewMaintenance.AllowOuterStateChainKey)

    // INNER view state keeps chaining freely (state IS the result)
    val inner = createView(l, r)
    inner.refresh()
    val chained = AggregateView.create(spark, freshLoc("chaininner"),
      SpaceDataset.load(spark, inner.dataset.location),
      Seq("okey"), Seq(AggSpec.countAll("n")))
    assert(chained.refresh() == 1)
  }

  test("a malformed allowOuterStateChain value fails with the key named") {
    val l = leftTable(200L)
    val o = orders.filter(col("o_orderkey") <= 200L)
      .selectExpr("o_orderkey AS okey", "o_custkey", "o_totalprice")
    val r = SpaceDataset.create(spark, freshLoc("jvrcb"), o.schema, Seq("okey"))
    r.append(o)
    val jv = createOuterView(l, r)
    jv.refresh()
    val state = SpaceDataset.load(spark, jv.dataset.location)
    // "yes" is neither true nor false: refused loudly, never read as false
    spark.conf.set(ViewMaintenance.AllowOuterStateChainKey, "yes")
    try {
      val e = intercept[IllegalArgumentException](AggregateView.create(
        spark, freshLoc("chainbad"), state, Seq("okey"), Seq(AggSpec.sum("l_quantity", "q"))))
      assert(e.getMessage.contains(ViewMaintenance.AllowOuterStateChainKey) &&
        e.getMessage.contains("'yes'"), e.getMessage)
    } finally spark.conf.unset(ViewMaintenance.AllowOuterStateChainKey)
  }

  test("deep backlog auto-coalesces under the default refresh call") {
    spark.conf.set(ViewMaintenance.AutoCoalesceSnapshotsKey, "3")
    try {
      val l = leftTable(400L)
      val r = rightTable(400L)
      val jv = createView(l, r)
      assert(jv.refresh() == 1)
      // 4 data snapshots on the left — past the bound of 3
      for (lo <- Seq(400L, 600L, 800L, 1000L)) {
        l.append(lineitem.filter(col("l_orderkey") > lo && col("l_orderkey") <= lo + 200L)
          .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice")
          .dropDuplicates("okey", "l_linenumber"))
      }
      // DEFAULT call (no coalesce flag): one state commit, not four
      val commits = jv.refresh()
      assert(commits == 1, s"deep backlog must auto-coalesce to ONE commit, got $commits")
      assert(jv.refreshedToSides.get._1 == l.storage.metadata.currentSnapshotId)
      assertSame(jv.read(), expected(l, r))
      // a shallow backlog below the bound keeps per-snapshot commits
      l.delete(col("okey") % 7 === 1)
      l.delete(col("okey") % 7 === 2)
      assert(jv.refresh() == 2)
      assertSame(jv.read(), expected(l, r))
    } finally spark.conf.unset(ViewMaintenance.AutoCoalesceSnapshotsKey)
  }

  test("silent-tail watermark advance prevents expiry-forced rebuilds") {
    spark.conf.set(ViewMaintenance.SilentTailMaxSnapshotsKey, "2")
    try {
      val l = leftTable(400L)
      val r = rightTable(400L)
      val jv = createView(l, r)
      assert(jv.refresh() == 1)
      // two CDC-silent left snapshots (zero-row appends commit without
      // a changelog — same shape as compact/GC)
      val before = l.storage.metadata.currentSnapshotId
      l.append(lineitem.filter(col("l_orderkey") < 0)
        .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice"))
      l.append(lineitem.filter(col("l_orderkey") < 0)
        .selectExpr("l_orderkey AS okey", "l_linenumber", "l_quantity", "l_extendedprice"))
      assert(l.storage.metadata.currentSnapshotId > before, "silent commits must exist")
      // the tail crossed the bound: ONE empty advance commit, watermark
      // at the head even though no data changed
      assert(jv.refresh() == 1)
      assert(jv.refreshedToSides.get._1 == l.storage.metadata.currentSnapshotId)
      val stateSnaps = jv.dataset.storage.metadata.currentSnapshotId
      // the old (pre-silent-tail) snapshots can now expire without
      // forcing a rebuild: the next refresh is a pure no-op
      assert(l.expireSnapshots(olderThanMs = 0L, keepLast = 1).nonEmpty)
      assert(jv.refresh() == 0, "advanced watermark must survive expiry with no rebuild")
      assert(jv.dataset.storage.metadata.currentSnapshotId == stateSnaps)
      assertSame(jv.read(), expected(l, r))
    } finally spark.conf.unset(ViewMaintenance.SilentTailMaxSnapshotsKey)
  }

  test("failed outer create leaves no orphan unmatched table") {
    val l = leftTable(300L)
    val r = rightTable(300L)
    // occupy the view location so the state-table create fails AFTER
    // the unmatched table was written
    val loc = freshLoc("jvorph")
    SpaceDataset.create(spark, loc,
      l.readAll().schema, Seq("okey", "l_linenumber"))
    intercept[Exception](JoinView.create(spark, loc, l, r, Seq("okey"),
      Seq("l_linenumber", "l_quantity", "l_extendedprice"),
      Seq("o_custkey", "o_totalprice"), joinType = JoinView.LeftOuter))
    assert(!Storage.exists(loc + "__unmatched",
      spark.sparkContext.hadoopConfiguration),
      "orphan unmatched table must be cleaned up on create failure")
    // the location stays usable for an inner view named differently
    val jv = JoinView.create(spark, loc + "_ok", l, r, Seq("okey"),
      Seq("l_linenumber", "l_quantity", "l_extendedprice"),
      Seq("o_custkey", "o_totalprice"), joinType = JoinView.LeftOuter)
    assert(jv.refresh() >= 1)
  }
}
