package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Soundness fuzz for falsifiable-filter pruning (SURVEY.md §5: the one
  * place property-based testing pays off): for ANY predicate, a pruned
  * scan must return exactly the rows a full scan+filter returns —
  * pruning may only skip files that PROVABLY contain no matches.
  * Deterministic seed; mixes convertible and unconvertible nodes. */
class PruningFuzzSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val orders = Tables.read(spark, sfDir, "orders")
  private lazy val ds: SpaceDataset = {
    val loc = Files.createTempDirectory("graft_fuzz_").toString + "/tbl"
    val d = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))
    d.append(orders.repartitionByRange(8, col("o_orderkey")))
    d
  }

  private def randomPredicate(rnd: Random, depth: Int): Column = {
    def leaf(): Column = rnd.nextInt(9) match {
      case 0 => col("o_orderkey") < lit(rnd.nextLong(2000))
      case 1 => col("o_orderkey") >= lit(rnd.nextLong(2000))
      case 2 => col("o_orderkey") === lit(rnd.nextLong(2000))
      case 3 => col("o_totalprice") > lit(rnd.nextDouble() * 500000) // non-PK
      case 4 => col("o_orderkey").isin(Seq.fill(3)(rnd.nextLong(2000)): _*)
      case 5 => col("o_orderstatus") === lit(Seq("F", "O", "P")(rnd.nextInt(3)))
      case 6 => lit(rnd.nextLong(2000)) > col("o_orderkey") // literal-first
      // int literals against the bigint key
      case 7 => col("o_orderkey") === lit(rnd.nextInt(2000))
      case 8 => col("o_orderkey").isin(Seq.fill(3)(rnd.nextInt(2000)): _*)
    }
    if (depth == 0) leaf()
    else rnd.nextInt(4) match {
      case 0 => randomPredicate(rnd, depth - 1) && randomPredicate(rnd, depth - 1)
      case 1 => randomPredicate(rnd, depth - 1) || randomPredicate(rnd, depth - 1)
      case 2 => !randomPredicate(rnd, depth - 1)
      case _ => leaf()
    }
  }

  test("pruned scans equal full filters for 60 random predicates") {
    val rnd = new Random(20260812L)
    var prunedAtLeastOnce = false
    for (i <- 1 to 60) {
      val pred = randomPredicate(rnd, rnd.nextInt(3))
      val plan = ds.plan(Some(pred))
      if (plan.prunedFiles > 0) prunedAtLeastOnce = true
      ScanFiles.assertParity(ds, pred, s"iteration $i")
      val got = ds.read(filter = Some(pred)).count()
      val exp = orders.filter(pred).count()
      assert(got == exp,
        s"iteration $i: pruned plan gave $got rows, expected $exp for $pred " +
          s"(kept ${plan.files.size}/${plan.totalFiles})")
    }
    assert(prunedAtLeastOnce, "fuzz never exercised an actual pruning decision")
  }

  /** IN lists past Pruning.InTreeMax take the shallow higher-order-filter
    * falsifiable form instead of an AND-over-equalities tree — same
    * soundness, and a clustered key set must still prune (the per-batch
    * band-key point read carries thousands of keys through this path). */
  test("large isin (HOF falsifiable form) prunes soundly") {
    val rnd = new Random(7L)
    // keys clustered in the lowest key range → most of the 8 range files
    // are provably untouchable
    val keys = Seq.fill(200)(rnd.nextLong(300)).distinct.map(Long.box)
    val pred = col("o_orderkey").isin(keys: _*)
    val plan = ds.plan(Some(pred))
    assert(plan.prunedFiles > 0,
      s"large IN kept all ${plan.totalFiles} files")
    assert(ds.read(filter = Some(pred)).count() == orders.filter(pred).count())
    // a key set entirely above the table's range prunes every file
    val none = ds.plan(Some(col("o_orderkey")
      .isin((1 to 100).map(i => Long.box(100000000L + i)): _*)))
    assert(none.files.isEmpty, s"all-miss IN kept ${none.files.size} files")
  }

  /** NULL min/max (stats unknown for a file/manifest — ManifestIO emits
    * null stats structs when footer stats are absent) must mean KEEP for
    * BOTH falsifiable-IN forms: evaluating the keep condition directly
    * over a synthetic manifest frame pins it — the HOF form initially
    * shipped treating null stats as provably falsifiable. */
  test("unknown (null) stats are kept by both IN falsifiable forms") {
    import org.apache.spark.sql.types._
    val tblSchema = graft.format.FieldIds.assign(StructType(Seq(
      StructField("k", LongType, nullable = false))))
    val fid = graft.format.FieldIds.fieldId(tblSchema("k"))
    val statsName = ManifestIO.statsColName(fid)
    val mSchema = StructType(Seq(
      StructField("f", StringType),
      StructField(statsName, StructType(Seq(
        StructField("_MIN", LongType), StructField("_MAX", LongType))))))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row("in_range", org.apache.spark.sql.Row(1L, 10L)),
      org.apache.spark.sql.Row("no_stats", null),
      org.apache.spark.sql.Row("out_of_range", org.apache.spark.sql.Row(5000L, 6000L)))
    val manifests = spark.createDataFrame(rows, mSchema)
    for (nVals <- Seq(3, 40)) { // small (AND-tree) and large (HOF) forms
      val pred = col("k").isin((1 to nVals).map(i => Long.box(i.toLong)): _*)
      val resolved = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          graft.format.FieldIds.strip(tblSchema)).filter(pred).queryExecution.analyzed
        .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      val keep = Pruning.keepConditionForFilters(tblSchema, Seq("k"), resolved.toSeq)
        .getOrElse(fail(s"IN($nVals) did not convert"))
      val kept = manifests.filter(keep).select("f")
        .collect().map(_.getString(0)).toSet
      assert(kept == Set("in_range", "no_stats"),
        s"IN($nVals) kept $kept — null stats must KEEP, out-of-range must prune")
    }
  }

  /** NaN-bearing files: stats merge in Spark's ordering (NaN greatest).
    * A primitive-compare merge recorded min=NaN when an all-NaN file
    * reduced first (falsifying EVERY normal probe via `min > v`) and
    * dropped a NaN max (falsifying `v = NaN` probes) — both silent
    * row loss at the manifest-LIST level. */
  test("NaN values never falsify normal or NaN point probes") {
    import spark.implicits._
    val loc = Files.createTempDirectory("graft_fuzz_nan_").toString + "/tbl"
    val rows = (0 until 50).map(i => (i.toLong, Double.NaN)) ++
      (50 until 100).map(i => (i.toLong, i * 1.0))
    val d = SpaceDataset.create(spark, loc, rows.toDF("id", "v").schema,
      Seq("id"), statsFields = Seq("v"))
    // one append, two files: ids 0-49 (all NaN) and 50-99 (normal) —
    // the MANIFEST SUMMARY reduces both files' stats into one range
    d.append(rows.toDF("id", "v").repartitionByRange(2, col("id")))

    val normal = d.read(filter = Some(col("v") === 75.0))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(normal == Seq(75L), s"normal probe lost rows: $normal")
    val nan = d.read(filter = Some(col("v") === lit(Double.NaN)))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(nan == (0L until 50L).toSet, s"NaN probe lost rows: ${nan.size}")
    // and the merged helpers themselves follow Spark ordering
    assert(ManifestIO.minAny(Double.NaN, 5.0) == 5.0)
    assert(ManifestIO.minAny(5.0, Double.NaN) == 5.0)
    assert(ManifestIO.maxAny(5.0, Double.NaN).asInstanceOf[Double].isNaN)
    assert(ManifestIO.maxAny(Double.NaN, 5.0).asInstanceOf[Double].isNaN)
  }

  /** Same soundness property when NON-KEY columns carry declared stats
    * (statsFields): predicates on them become falsifiable, results must
    * not change, and pruning must actually fire on a non-key filter. */
  test("declared non-key stats fields prune soundly (40 random predicates)") {
    val loc = Files.createTempDirectory("graft_fuzz_sf_").toString + "/tbl"
    val d = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"),
      statsFields = Seq("o_totalprice", "o_orderstatus"))
    // range-partition by the NON-KEY column so its per-file ranges are
    // disjoint and stats-pruning has something to skip
    d.append(orders.repartitionByRange(8, col("o_totalprice")))

    val rnd = new Random(42L)
    var prunedOnNonKey = false
    for (i <- 1 to 40) {
      val pred = randomPredicate(rnd, rnd.nextInt(3))
      val plan = d.plan(Some(pred))
      val got = d.read(filter = Some(pred)).count()
      val exp = orders.filter(pred).count()
      assert(got == exp,
        s"iteration $i: $got rows vs $exp for $pred (kept ${plan.files.size}/${plan.totalFiles})")
    }
    // a pure non-key range filter must prune files now
    val nonKey = d.plan(Some(col("o_totalprice") > 400000.0))
    prunedOnNonKey = nonKey.prunedFiles > 0
    assert(prunedOnNonKey, s"non-key stats filter kept all ${nonKey.totalFiles} files")
    assert(d.read(filter = Some(col("o_totalprice") > 400000.0)).count() ==
      orders.filter(col("o_totalprice") > 400000.0).count())
  }

  /** Same soundness property for BUCKET pruning: stats pruning + bucket
    * pruning compose, and neither may drop a matching row. The random
    * predicates mix bucket-column equalities/INs with everything else
    * (ORs, NOTs, non-bucket columns, literal-first shapes). */
  test("bucket pruning is sound for 40 random predicates") {
    val loc = Files.createTempDirectory("graft_fuzz_bk_").toString + "/tbl"
    val d = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"),
      bucketColumns = Seq("o_custkey"), numBuckets = 8)
    d.append(orders)

    val custs = orders.select("o_custkey").distinct().limit(16)
      .collect().map(_.getLong(0)).toIndexedSeq
    val rnd = new Random(20260813L)
    def pred(depth: Int): Column = {
      def leaf(): Column = rnd.nextInt(7) match {
        case 0 => col("o_custkey") === lit(custs(rnd.nextInt(custs.size)))
        case 1 => col("o_custkey").isin(Seq.fill(3)(custs(rnd.nextInt(custs.size))): _*)
        case 2 => lit(custs(rnd.nextInt(custs.size))) === col("o_custkey")
        case 3 => col("o_totalprice") > lit(rnd.nextDouble() * 500000)
        case 4 => col("o_orderkey") < lit(rnd.nextLong(2000))
        // int literals against the bigint bucket column
        case 5 => col("o_custkey") === lit(custs(rnd.nextInt(custs.size)).toInt)
        case 6 => col("o_custkey").isin(Seq.fill(3)(custs(rnd.nextInt(custs.size)).toInt): _*)
      }
      if (depth == 0) leaf()
      else rnd.nextInt(4) match {
        case 0 => pred(depth - 1) && pred(depth - 1)
        case 1 => pred(depth - 1) || pred(depth - 1)
        case 2 => !pred(depth - 1)
        case _ => leaf()
      }
    }
    var prunedAtLeastOnce = false
    for (i <- 1 to 40) {
      val p = pred(rnd.nextInt(3))
      val plan = d.plan(Some(p))
      if (plan.prunedFiles > 0) prunedAtLeastOnce = true
      ScanFiles.assertParity(d, p, s"iteration $i")
      val got = d.read(filter = Some(p)).count()
      val exp = orders.filter(p).count()
      assert(got == exp,
        s"iteration $i: $got rows vs $exp for $p (kept ${plan.files.size}/${plan.totalFiles})")
    }
    assert(prunedAtLeastOnce, "bucket fuzz never pruned anything")
  }
}
