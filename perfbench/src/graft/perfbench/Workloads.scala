package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{ManifestIO, RandomAccessReader, SpaceDataset, Storage}
import graft.views.{AggSpec, AggregateView, JoinView}

/** A closed-loop workload: a seeded table set, a cycle of ops that is a
  * pure function of (seed, cycle index), and the benchmark's own model
  * of the expected table contents, against which every result is
  * checked off the clock. */
abstract class Workload(val spark: SparkSession, val seed: Long, val root: java.io.File) {
  def name: String
  /** Timed cycles every run completes; the per-layer counts cover
    * exactly these, so they repeat run to run for one seed. */
  def minCycles: Int
  def warmCycles: Int = 1
  def setup(): Unit
  def cycle(h: Harness, c: Int): Unit
  /** Full result check at the end of the run. */
  def finalCheck(h: Harness): Unit
  /** Tables the traced run probes around each op. */
  def tables: Seq[Storage]
  /** Every table's live rows, for the plain-Parquet space baseline. */
  def liveFrames: Seq[DataFrame]

  /** Ops whose result did not match the model, and failed checks. */
  val wrongOps = mutable.LinkedHashSet.empty[Int]
  val mismatches = mutable.ArrayBuffer.empty[String]
  var checks = 0L
  /** Failed checks not tied to a timed op (warm-up, recomputes, final). */
  var otherFailures = 0L

  /** Checks the result of the op just run, off the clock. */
  protected def check(h: Harness, ok: => Boolean, what: => String): Unit = h.untimed {
    checks += 1
    if (!ok) {
      h.ops.lastOption.filter(_ => h.recording && !h.inCheck) match {
        case Some(o) => wrongOps += o.id
        case None => otherFailures += 1
      }
      if (mismatches.size < 20) mismatches += s"cycle ${h.cycle}: $what"
    }
  }

  protected def loc(n: String): String = new java.io.File(root, n).getAbsolutePath

  protected def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  protected def plan(h: Harness, ds: SpaceDataset, f: Column, arg: Long): Unit = {
    val ms = ds.storage.metadata.currentSnapshot.manifestFiles.indexManifestFiles
    val summarized = ManifestIO.summarizedFileCount(ds.storage, ms)
    val p = h.op("plan", "plan", 0L, arg)(ds.plan(Some(f)))
    h.noteLast("files_kept", p.files.size)
    h.noteLast("files_total", p.totalFiles)
    h.noteLast("manifests_total", p.totalManifests)
    h.noteLast("manifests_pruned", p.prunedManifests)
    // DmlOps.DriverScanMaxFiles: at or below it, manifests are read on the driver
    h.noteLast("driver_path", if (summarized.exists(_ <= 256L)) 1 else 0)
  }
}

object Workload {
  val names = Seq("trickle_dml", "view_refresh", "training_read")

  def apply(name: String, spark: SparkSession, seed: Long, root: java.io.File): Workload =
    name match {
      case "trickle_dml" => new TrickleDml(spark, seed, root)
      case "view_refresh" => new ViewRefresh(spark, seed, root)
      case "training_read" => new TrainingRead(spark, seed, root)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (expected one of ${names.mkString(", ")})")
    }
}

/** Write-heavy trickle on one PK table: append, skewed upsert, range
  * delete, plan and small range read per cycle, with an operator
  * maintenance pass (compact, expire, GC) every `MaintEvery` cycles. */
final class TrickleDml(spark: SparkSession, seed: Long, root: java.io.File)
    extends Workload(spark, seed, root) {
  def name = "trickle_dml"
  def minCycles = 3
  val BaseRows = 300000L
  val BaseFiles = 8
  val MaintEvery = 3

  val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType),
    StructField("tag", StringType)))

  private var ds: SpaceDataset = _
  private val model = mutable.LongMap.empty[Long]
  private var next = 0L

  def tables = Seq(ds.storage)
  def liveFrames = Seq(ds.readAll())

  def setup(): Unit = {
    ds = SpaceDataset.create(spark, loc("trickle"), schema, Seq("k"))
    val s = seed
    val gv = udf((k: Long) => TrickleDml.value(s, k, 0L))
    ds.append(spark.range(0L, BaseRows, 1, BaseFiles)
      .select(col("id").as("k"), gv(col("id")).as("v"))
      .withColumn("tag", concat(lit("t"), (col("v") % 9973).cast("string"))))
    model.clear()
    var k = 0L
    while (k < BaseRows) { model(k) = TrickleDml.value(seed, k, 0L); k += 1 }
    next = BaseRows
  }

  private def row(k: Long, v: Long) = Row(k, v, "t" + (v % 9973))

  def cycle(h: Harness, c: Int): Unit = {
    // append 1k new keys
    val add = (next until next + 1000).map(k => k -> TrickleDml.value(seed, k, 4L * c + 1))
    h.op("append", "write", add.size, next)(ds.append(frame(add.map((row _).tupled), schema)))
    add.foreach { case (k, v) => model(k) = v }
    next += 1000

    // upsert ~500 keys from the newest fifth, skewed toward recent ones
    val keys = mutable.LinkedHashSet.empty[Long]
    var i = 0L
    while (keys.size < 500 && i < 5000) {
      val x = Gen.u(seed, c, 100000L + i)
      keys += next - 1 - math.floor(next * 0.2 * x * x).toLong
      i += 1
    }
    val ups = keys.toSeq.map(k => k -> TrickleDml.value(seed, k, 4L * c + 2))
    h.op("upsert", "write", ups.size, Gen.fingerprint(keys))(ds.upsert(frame(ups.map((row _).tupled), schema)))
    ups.foreach { case (k, v) => model(k) = v }

    // delete a 200-key range
    val start = Gen.below(seed, c, 3, next - 200)
    val doomed = (start until start + 200).count(model.contains)
    h.op("delete", "write", doomed, start)(
      ds.delete(col("k") >= start && col("k") < start + 200))
    (start until start + 200).foreach(model.remove)

    // plan, then read one small key range
    val a = Gen.below(seed, c, 4, next - 500)
    val f = col("k") >= a && col("k") < a + 500
    plan(h, ds, f, a)
    val got = h.op("range_read", "lookup", 500, a)(ds.read(filter = Some(f)).collect())
    check(h, sameRows(got, (a until a + 500).filter(model.contains)),
      s"range read [$a, ${a + 500}) differs from the op log replay")

    if (c > 0 && c % MaintEvery == 0) {
      h.op("compact", "maint")(ds.compact(targetFileRows = 50000L))
      h.op("expire", "maint")(ds.expireSnapshots(olderThanMs = 0L, keepLast = 1))
      h.op("gc", "maint")(ds.garbageCollect(minAgeMs = 0L))
    }
  }

  private def sameRows(got: Array[Row], keys: Seq[Long]): Boolean =
    got.length == keys.size && got.sortBy(_.getLong(0)).toSeq.zip(keys).forall {
      case (r, k) => r.getLong(0) == k && r.getLong(1) == model(k) &&
        r.getString(2) == "t" + (model(k) % 9973)
    }

  def finalCheck(h: Harness): Unit = h.checking {
    val got = ds.readAll().collect()
    check(h, sameRows(got, model.keys.toSeq.sorted),
      s"final table (${got.length} rows) differs from the op log replay (${model.size} rows)")
  }
}

object TrickleDml {
  def value(seed: Long, k: Long, version: Long): Long =
    (Gen.h(seed, k, version) >>> 1) % 1000000000L
}

/** A fact and a dim table under one AggregateView and one inner
  * JoinView: small source DML each cycle, then both refreshes and reads. */
final class ViewRefresh(spark: SparkSession, seed: Long, root: java.io.File)
    extends Workload(spark, seed, root) {
  def name = "view_refresh"
  def minCycles = 1
  val FactRows = 200000L
  val Customers = 1000
  val Regions = 20
  val Cats = 8
  val RecheckEvery = 2

  val factSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("cust", IntegerType),
    StructField("amt", LongType),
    StructField("cat", IntegerType)))
  val dimSchema = StructType(Seq(
    StructField("cust", IntegerType, nullable = false),
    StructField("region", IntegerType),
    StructField("name", StringType)))

  private var fact: SpaceDataset = _
  private var dim: SpaceDataset = _
  private var agg: AggregateView = _
  private var join: JoinView = _
  // model: fact k -> (cust, amt, cat); dim cust -> region
  private val facts = mutable.LongMap.empty[(Int, Long, Int)]
  private val region = new Array[Int](Customers)
  private var next = 0L
  private var pendingAgg = 0L
  private var pendingJoin = 0L

  def tables = Seq(fact.storage, dim.storage, agg.dataset.storage, join.dataset.storage)
  def liveFrames = Seq(fact.readAll(), dim.readAll(), agg.read(), join.read())

  private def factRow(k: Long): (Int, Long, Int) = (
    Gen.below(seed, k, 11, Customers).toInt,
    Gen.below(seed, k, 12, 100000),
    Gen.below(seed, k, 13, Cats).toInt)

  def setup(): Unit = {
    fact = SpaceDataset.create(spark, loc("fact"), factSchema, Seq("k"))
    dim = SpaceDataset.create(spark, loc("dim"), dimSchema, Seq("cust"))
    val s = seed
    val gc = udf((k: Long) => Gen.below(s, k, 11, 1000).toInt)
    val ga = udf((k: Long) => Gen.below(s, k, 12, 100000))
    val gt = udf((k: Long) => Gen.below(s, k, 13, 8).toInt)
    fact.append(spark.range(0L, FactRows, 1, 4).select(col("id").as("k"),
      gc(col("id")).as("cust"), ga(col("id")).as("amt"), gt(col("id")).as("cat")))
    facts.clear()
    var k = 0L
    while (k < FactRows) { facts(k) = factRow(k); k += 1 }
    next = FactRows
    (0 until Customers).foreach(c => region(c) = Gen.below(seed, c, 14, Regions).toInt)
    dim.append(frame((0 until Customers).map(c => Row(c, region(c), s"c$c")), dimSchema))
    agg = AggregateView.create(spark, loc("agg"), fact, Seq("cat"), Seq(
      AggSpec.countAll("n"), AggSpec.sum("amt", "s"),
      AggSpec.min("amt", "lo"), AggSpec.max("amt", "hi")))
    join = JoinView.create(spark, loc("join"), fact, dim, Seq("cust"),
      Seq("k", "amt"), Seq("region"))
    agg.refresh()
    join.refresh()
  }

  def cycle(h: Harness, c: Int): Unit = {
    val add = (next until next + 1000).map(k => k -> factRow(k))
    h.op("append", "write", add.size, next)(fact.append(frame(add.map {
      case (k, (cu, a, ct)) => Row(k, cu, a, ct)
    }, factSchema)))
    add.foreach { case (k, r) => facts(k) = r }
    next += 1000

    val start = Gen.below(seed, c, 7, next - 200)
    val doomed = (start until start + 200).count(facts.contains)
    h.op("delete", "write", doomed, start)(fact.delete(col("k") >= start && col("k") < start + 200))
    (start until start + 200).foreach(facts.remove)

    val custs = mutable.LinkedHashSet.empty[Int]
    var i = 0L
    while (custs.size < 5) { custs += Gen.below(seed, c, 200L + i, Customers).toInt; i += 1 }
    val touched = h.untimed(facts.valuesIterator.count(r => custs.contains(r._1)).toLong)
    h.op("update", "write", 5, Gen.fingerprint(custs.map(_.toLong)))(dim.update(col("cust").isin(custs.toSeq: _*),
      Map("region" -> pmod(col("region") + 1, lit(Regions)))))
    custs.foreach(cu => region(cu) = (region(cu) + 1) % Regions)
    pendingAgg += add.size + doomed
    pendingJoin += add.size + doomed + 2 * touched

    val aggCommits = h.op("refresh_agg", "refresh", pendingAgg)(agg.refresh())
    h.noteLast("state_commits", aggCommits)
    h.noteLast("delta_rows", pendingAgg)
    pendingAgg = 0
    val joinCommits = h.op("refresh_join", "refresh", pendingJoin)(join.refresh())
    h.noteLast("state_commits", joinCommits)
    h.noteLast("delta_rows", pendingJoin)
    pendingJoin = 0

    val aggRows = h.op("agg_read", "scan")(agg.read().collect())
    check(h, aggRows.map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)))).toMap == expectedAgg, "aggregate view differs from the model")
    val joined = h.op("join_read", "scan")(join.read()
      .agg(count(lit(1)), sum("amt"), sum("region"), sum("k")).collect().head)
    check(h, Seq(joined.getLong(0), joined.getLong(1), joined.getLong(2), joined.getLong(3)) ==
      expectedJoin, "join view differs from the model")

    if ((c + 1) % RecheckEvery == 0) recompute(h)
  }

  private def expectedAgg: Map[Int, (Long, Long, Long, Long)] =
    facts.valuesIterator.toSeq.groupBy(_._3).map { case (ct, rs) =>
      ct -> (rs.size.toLong, rs.map(_._2).sum, rs.map(_._2).min, rs.map(_._2).max)
    }

  private def expectedJoin: Seq[Long] = {
    var n, a, r, k = 0L
    facts.foreach { case (key, (cu, amt, _)) => n += 1; a += amt; r += region(cu); k += key }
    Seq(n, a, r, k)
  }

  /** Each view equals a recompute from its sources. The join view is
    * compared by row count and a sum of per-row hashes, which a missing,
    * extra or altered row changes. */
  private def recompute(h: Harness): Unit = h.checking {
    val src = fact.readAll()
    val aggWant = src.groupBy("cat").agg(count(lit(1)).as("n"), sum("amt").as("s"),
      min("amt").as("lo"), max("amt").as("hi")).collect().toSet
    val aggGot = agg.read().select("cat", "n", "s", "lo", "hi").collect().toSet
    check(h, aggWant == aggGot, "aggregate view differs from a recompute from its source")
    def digest(df: DataFrame) = df
      .agg(count(lit(1)), sum(pmod(xxhash64(col("cust"), col("k"), col("amt"), col("region")),
        lit(1000000007L))))
      .collect().head.toSeq
    val joinWant = digest(src.join(dim.readAll(), "cust"))
    check(h, joinWant == digest(join.read()),
      "join view differs from a recompute from its sources")
  }

  def finalCheck(h: Harness): Unit = h.checking {
    recompute(h)
    val got = fact.readAll().select("k", "cust", "amt", "cat").collect()
    check(h, got.length == facts.size && got.forall(r => facts.get(r.getLong(0))
      .contains((r.getInt(1), r.getLong(2), r.getInt(3)))),
      "fact table differs from the op log replay")
    val dims = dim.readAll().select("cust", "region").collect()
    check(h, dims.length == Customers && dims.forall(r => region(r.getInt(0)) == r.getInt(1)),
      "dim table differs from the op log replay")
  }
}

/** Read-only after setup: index fields plus a 1 KiB binary record field.
  * Random-access batches, key-range reads that stitch payloads,
  * index-only projection scans and a stats-field filter scan. */
final class TrainingRead(spark: SparkSession, seed: Long, root: java.io.File)
    extends Workload(spark, seed, root) {
  def name = "training_read"
  def minCycles = 3
  val Rows = 100000
  val PayloadBytes = 1024
  val BatchSize = 64
  val RangeRows = 64

  val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("bucket", IntegerType),
    StructField("score", DoubleType),
    StructField("label", IntegerType),
    StructField("payload", BinaryType)))

  private var ds: SpaceDataset = _
  private val score = new Array[Double](Rows)
  private val label = new Array[Int](Rows)

  def tables = Seq(ds.storage)
  def liveFrames = Seq(ds.readAll())

  def setup(): Unit = {
    ds = SpaceDataset.create(spark, loc("train"), schema, Seq("k"),
      recordFields = Seq("payload"), statsFields = Seq("score"))
    val s = seed
    val n = PayloadBytes
    val gs = udf((k: Long) => Gen.u(s, k, 21))
    val gl = udf((k: Long) => Gen.below(s, k, 22, 10).toInt)
    val gp = udf((k: Long) => Gen.payload(s, k, n))
    ds.append(spark.range(0L, Rows.toLong, 1, 8).select(col("id").as("k"),
      (col("id") % 64).cast("int").as("bucket"), gs(col("id")).as("score"),
      gl(col("id")).as("label"), gp(col("id")).as("payload")))
    (0 until Rows).foreach { k =>
      score(k) = Gen.u(seed, k, 21)
      label(k) = Gen.below(seed, k, 22, 10).toInt
    }
  }

  private def payloadOk(p: Array[Byte]): Boolean = {
    val k = Gen.payloadKey(p)
    k >= 0 && k < Rows && java.util.Arrays.equals(p, Gen.payload(seed, k, PayloadBytes))
  }

  def cycle(h: Harness, c: Int): Unit = {
    val reader = h.op("ra_open", "open")(new RandomAccessReader(ds, "payload"))
    check(h, reader.length == Rows, s"reader length ${reader.length} != $Rows")
    for (b <- 0 until 4) {
      val ords = (0 until BatchSize).map(i => Gen.below(seed, c, 1000L * b + i, Rows))
      val got = h.op("ra_batch", "lookup", BatchSize, Gen.fingerprint(ords))(reader.getBatch(ords))
      h.noteLast("bytes", got.map(_.length.toLong).sum)
      check(h, got.size == BatchSize && got.forall(payloadOk) &&
        got.map(Gen.payloadKey).distinct.size == ords.distinct.size,
        "random-access batch returned payloads the generator did not make")
    }
    for (r <- 0 until 2) {
      val a = Gen.below(seed, c, 50L + r, Rows - RangeRows)
      val f = col("k") >= a && col("k") < a + RangeRows
      plan(h, ds, f, a)
      val got = h.op("range_read", "lookup", RangeRows, a)(ds.read(filter = Some(f)).collect())
      check(h, got.length == RangeRows && got.sortBy(_.getLong(0)).zipWithIndex.forall {
        case (row, i) =>
          val k = row.getLong(0)
          k == a + i && row.getInt(1) == k % 64 && row.getDouble(2) == score(k.toInt) &&
            row.getInt(3) == label(k.toInt) &&
            java.util.Arrays.equals(row.getAs[Array[Byte]](4), Gen.payload(seed, k, PayloadBytes))
      }, s"range read [$a, ${a + RangeRows}) differs from the generator")
    }
    val proj = h.op("proj_scan", "scan", Rows)(ds.read(fields = Some(Seq("k", "label")))
      .agg(count(lit(1)), sum("label"), sum("k")).collect().head)
    check(h, proj.getLong(0) == Rows && proj.getLong(1) == label.map(_.toLong).sum &&
      proj.getLong(2) == Rows.toLong * (Rows - 1) / 2, "projection scan differs from the generator")
    val lo = Gen.u(seed, c, 60) * 0.95
    val hi = lo + 0.05
    val filt = h.op("filter_scan", "scan", 0L, java.lang.Double.doubleToLongBits(lo))(ds.read(
      filter = Some(col("score") >= lo && col("score") < hi), fields = Some(Seq("k", "label")))
      .agg(count(lit(1)), sum("label")).collect().head)
    val want = (0 until Rows).filter(k => score(k) >= lo && score(k) < hi)
    check(h, filt.getLong(0) == want.size &&
      (want.isEmpty || filt.getLong(1) == want.map(label(_).toLong).sum),
      "filter scan differs from the generator")
  }

  /** Payloads were checked on every lookup; the table must still hold
    * exactly the generated keys. */
  def finalCheck(h: Harness): Unit = h.checking {
    val got = ds.read(fields = Some(Seq("k"))).agg(count(lit(1)), sum("k"), min("k"), max("k"))
      .collect().head
    check(h, got.getLong(0) == Rows && got.getLong(1) == Rows.toLong * (Rows - 1) / 2 &&
      got.getLong(2) == 0L && got.getLong(3) == Rows - 1L, "table keys differ from the generator")
  }
}
