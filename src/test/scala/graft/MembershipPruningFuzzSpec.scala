package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Soundness fuzz for MEMBERSHIP file pruning (BloomPruning): per-file
  * evidence is a parquet bloom for high-NDV (plain-encoded) chunks and
  * an EXACT dictionary for low-NDV (dict-encoded) chunks — the fuzz
  * mixes both encodings in ONE table and fires random point predicates,
  * asserting every pruned read equals the unpruned filter and that
  * absent keys prune on the dictionary tier (exact, no false positives
  * possible). Layout is deliberately DECORRELATED from the key so
  * min/max stats can never do the work. */
class MembershipPruningFuzzSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val N = 6000

  /** Half the files hold FEW distinct keys (dictionary-encoded chunks →
    * dict prover), half hold nearly-unique keys (plain + bloom). */
  private lazy val ds: SpaceDataset = {
    val rnd = new Random(20260815L)
    // low-NDV stripe: ids drawn from a small pool, re-used heavily
    val lowPool = Array.fill(40)(rnd.nextLong(1000000L))
    val low = (0 until N).map(i => (lowPool(rnd.nextInt(lowPool.length)), s"low_$i"))
    // high-NDV stripe: unique ids in a disjoint range
    val high = (0 until N).map(i => (2000000L + i * 7L, s"high_$i"))
    val loc = Files.createTempDirectory("graft_membfuzz_").toString + "/tbl"
    // PK includes tag to allow duplicate low ids; blooms/dicts on k too
    val df = (low ++ high).toDF("k", "tag")
    val d = SpaceDataset.create(spark, loc, df.schema, Seq("k", "tag"),
      bloomColumns = Seq("k"))
    // scatter by tag hash → every file spans the whole k range; the
    // low/high stripes land in separate files (disjoint partitions)
    d.append(low.toDF("k", "tag").repartitionByRange(4, xxhash64(col("tag"))))
    d.append(high.toDF("k", "tag").repartitionByRange(4, xxhash64(col("tag"))))
    d
  }

  test("random point predicates: pruned read == full filter, 60 trials") {
    val rnd = new Random(4242L)
    val allKeys = ds.readAll().select("k").distinct().collect().map(_.getLong(0))
    val total = ds.plan().files.size
    var prunedSomething = false
    for (trial <- 1 to 60) {
      val nVals = 1 + rnd.nextInt(4)
      val vals = Seq.fill(nVals) {
        if (rnd.nextBoolean()) allKeys(rnd.nextInt(allKeys.length))
        else rnd.nextLong(3000000L) // mostly absent
      }.distinct
      // int literals against the bigint key as often as long ones
      val lits: Seq[Any] = if (rnd.nextBoolean()) vals else vals.map(_.toInt)
      val pred = if (vals.size == 1) col("k") === lit(lits.head)
                 else col("k").isin(lits: _*)
      val kept = ds.plan(Some(pred)).files.size
      if (kept < total) prunedSomething = true
      ScanFiles.assertParity(ds, pred, s"trial $trial")
      val got = ds.read(filter = Some(pred)).select("k", "tag").collect().toSet
      val exp = ds.readAll().filter(pred).select("k", "tag").collect().toSet
      assert(got == exp, s"trial $trial: pruned read diverged for $vals")
    }
    assert(prunedSomething, "no trial ever pruned — the fuzz is vacuous")
  }

  test("double evidence: ±0.0 and NaN probes follow Spark equality on BOTH tiers") {
    // Spark SQL evaluates -0.0 = 0.0 as true and NaN = NaN as true;
    // boxed-set membership and raw-bits bloom hashes disagree with
    // both. Seed zeros stored ONLY as -0.0 (plus NaN) in each tier and
    // assert a +0.0 / NaN point read still returns the rows.
    val loc = Files.createTempDirectory("graft_membfuzz_fp_").toString + "/tbl"
    val schema = Seq((0L, 0.0d)).toDF("id", "v").schema
    val d = SpaceDataset.create(spark, loc, schema, Seq("id"), bloomColumns = Seq("v"))
    // dictionary tier: a 6-value pool, zeros as -0.0 only → exact prover
    val pool = Array(-0.0d, 1.5d, 2.5d, Double.NaN, 42.0d, -7.25d)
    d.append((0 until 3000).map(i => (i.toLong, pool(i % pool.length)))
      .toDF("id", "v").repartition(1))
    // bloom tier: >2^17 distinct doubles overflow parquet's 1MB
    // dictionary page → plain encoding + bloom; seed one -0.0, one NaN
    val high = (0 until 150000).map(i => (1000000L + i, 10000.0 + i * 0.5)) ++
      Seq((9000000L, -0.0d), (9000001L, Double.NaN))
    d.append(high.toDF("id", "v").repartition(1))
    BloomPruning.clearCache()

    def ids(pred: org.apache.spark.sql.Column): Set[Long] =
      d.read(filter = Some(pred)).select("id").collect().map(_.getLong(0)).toSet
    def full(pred: org.apache.spark.sql.Column): Set[Long] =
      d.readAll().filter(pred).select("id").collect().map(_.getLong(0)).toSet

    for (probe <- Seq(lit(0.0d), lit(-0.0d), lit(Double.NaN), lit(1.5d), lit(10000.0d))) {
      val pred = col("v") === probe
      val got = ids(pred)
      assert(got == full(pred), s"pruned read diverged for probe $probe")
      assert(got.nonEmpty, s"probe $probe matched nothing — the case is vacuous")
    }
    // absent value still prunes at least the dictionary-tier file
    val total = d.plan().files.size
    assert(d.plan(Some(col("v") === 3.25d)).files.size < total,
      "absent double pruned nothing — fp evidence never engaged")
  }

  test("absent key prunes the dictionary tier exactly (zero false positives)") {
    // a key INSIDE the low stripe's value range but absent from its
    // 40-value pool: min/max can't falsify it, a bloom could false-
    // positive it, the dictionary CANNOT — low-stripe files must drop
    val lowKeys = ds.readAll().filter(col("k") < 2000000L)
      .select("k").distinct().collect().map(_.getLong(0)).toSet
    val absent = (0L until 1000000L).find(v => !lowKeys.contains(v)).get
    val kept = ds.plan(Some(col("k") === absent)).files
    assert(ds.read(filter = Some(col("k") === absent)).count() == 0L)
    // every kept file, if any, must be a high-stripe file (bloom FP
    // allowed there); dictionary-proved low files never survive
    val lowFiles = ds.plan(Some(col("k") < 2000000L)).files.toSet
    val falsePos = kept.filter(lowFiles.contains)
    // low files all contain k<2000000 AND k>=2000000? No: stripes were
    // appended separately, so low files hold only pool values — any
    // kept low file would be a dictionary false positive, impossible
    assert(falsePos.isEmpty, s"dictionary tier false positives: $falsePos")
  }
}
