package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Soundness fuzz for schema evolution: random sequences of
  * ADD/RENAME/DROP (top-level and nested, including re-adding dropped
  * names and renaming/dropping whole struct members) interleaved with
  * appends and CoW deletes, checked after every few ops against an
  * in-memory model keyed by STABLE synthetic field identity. Any
  * divergence — a resurrected dropped byte, a positionally mis-assigned
  * struct member, a rename not applied on some path — fails the
  * multiset comparison. Deterministic seeds. */
class EvolutionFuzzSpec extends AnyFunSuite {
  import TestSpark._

  /** A scalar leaf: stable model id + current logical name. */
  private final class MField(val id: Int, var logical: String)

  private final class Model {
    var nextId = 0
    var nextName = 0
    def freshId(): Int = { nextId += 1; nextId }
    def fresh(prefix: String): String = { nextName += 1; s"$prefix$nextName" }

    val top = mutable.Buffer[MField]()
    var sName = "s"
    val sFields = mutable.Buffer[MField]()
    var tName: Option[String] = Some("t")
    val tFields = mutable.Buffer[MField]()
    // logical names previously used and since freed, per level — the
    // re-add pool that exercises the resurrection guard
    val droppedTop = mutable.Set[String]()
    val droppedS = mutable.Set[String]()
    val droppedT = mutable.Set[String]()

    var nextRowId = 0L
    val rows = mutable.Buffer[(Long, Map[Int, String])]()

    /** (logical dotted path, field id) for every current leaf. */
    def leaves: Seq[(String, Int)] =
      top.map(f => f.logical -> f.id).toSeq ++
        sFields.map(f => s"$sName.${f.logical}" -> f.id) ++
        tName.toSeq.flatMap(t => tFields.map(f => s"$sName.$t.${f.logical}" -> f.id))
  }

  private def appendRows(ds: SpaceDataset, m: Model, rnd: Random, n: Int): Unit = {
    // shuffled field order exercises the by-name struct realignment on
    // the write boundary (a positional mapping would mis-assign)
    val topOrder = rnd.shuffle(m.top.toSeq)
    val sOrder = rnd.shuffle(m.sFields.toSeq)
    val tOrder = rnd.shuffle(m.tFields.toSeq)
    val tStruct = m.tName.map(t =>
      StructField(t, StructType(tOrder.map(f => StructField(f.logical, StringType)))))
    val sStruct = StructField(m.sName, StructType(
      sOrder.map(f => StructField(f.logical, StringType)) ++ tStruct))
    val schema = StructType(
      StructField("id", LongType, nullable = false) +:
        topOrder.map(f => StructField(f.logical, StringType)) :+ sStruct)
    val newRows = (1 to n).map { _ =>
      m.nextRowId += 1
      val rid = m.nextRowId
      def v(f: MField) = s"v${rid}x${f.id}"
      val all = (m.top ++ m.sFields ++ m.tFields).map(f => f.id -> v(f)).toMap
      m.rows += ((rid, all))
      val tRow = m.tName.map(_ => Row(tOrder.map(v): _*))
      Row.fromSeq(rid +: topOrder.map(v) :+ Row.fromSeq(sOrder.map(v) ++ tRow))
    }
    import scala.jdk.CollectionConverters._
    ds.append(spark.createDataFrame(newRows.asJava, schema))
  }

  private def verify(ds: SpaceDataset, m: Model, where: String): Unit = {
    val ls = m.leaves
    val out = ds.readAll()
      .select(col("id") +: ls.map { case (p, id) => col(p).as(s"f$id") }: _*)
      .collect()
      .map(r => r.getLong(0) ->
        ls.zipWithIndex.map { case ((_, id), i) => id -> Option(r.getString(i + 1)) }.toMap)
      .toSet
    val want = m.rows.map { case (rid, vals) =>
      rid -> ls.map { case (_, id) => id -> vals.get(id) }.toMap
    }.toSet
    assert(out == want, s"divergence $where: got ${out.size} rows, want ${want.size}\n" +
      s"schema: ${ds.schema.simpleString}\nmissing: ${(want -- out).take(3)}\n" +
      s"extra: ${(out -- want).take(3)}")
  }

  private def runFuzz(seed: Long): Unit = {
    val rnd = new Random(seed)
    val m = new Model
    m.top += new MField(m.freshId(), "c0")
    m.sFields += new MField(m.freshId(), "m0")
    m.tFields += new MField(m.freshId(), "n0")
    val loc = Files.createTempDirectory(s"graft_evofuzz_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("c0", StringType),
      StructField("s", StructType(Seq(
        StructField("m0", StringType),
        StructField("t", StructType(Seq(StructField("n0", StringType))))))))),
      Seq("id"))
    appendRows(ds, m, rnd, 3)

    def pickName(pool: mutable.Set[String], prefix: String): String =
      if (pool.nonEmpty && rnd.nextInt(10) < 3) {
        val n = pool.toSeq.sorted.apply(rnd.nextInt(pool.size)); pool -= n; n
      } else m.fresh(prefix)

    for (op <- 1 to 40) {
      rnd.nextInt(12) match {
        case 0 | 1 => appendRows(ds, m, rnd, 3)
        case 2 => // add top-level
          val n = pickName(m.droppedTop, "c")
          ds.addColumn(n, StringType); m.top += new MField(m.freshId(), n)
        case 3 => // add member of s
          val n = pickName(m.droppedS, "m")
          ds.addColumn(s"${m.sName}.$n", StringType)
          m.sFields += new MField(m.freshId(), n)
        case 4 => // add member of s.t
          m.tName.foreach { t =>
            val n = pickName(m.droppedT, "n")
            ds.addColumn(s"${m.sName}.$t.$n", StringType)
            m.tFields += new MField(m.freshId(), n)
          }
        case 5 => // rename a top-level scalar
          if (m.top.nonEmpty) {
            val f = m.top(rnd.nextInt(m.top.size)); val to = m.fresh("c")
            ds.renameColumn(f.logical, to); m.droppedTop += f.logical; f.logical = to
          }
        case 6 => // rename a member of s
          if (m.sFields.nonEmpty) {
            val f = m.sFields(rnd.nextInt(m.sFields.size)); val to = m.fresh("m")
            ds.renameColumn(s"${m.sName}.${f.logical}", to)
            m.droppedS += f.logical; f.logical = to
          }
        case 7 => // rename a member of s.t
          m.tName.foreach { t =>
            if (m.tFields.nonEmpty) {
              val f = m.tFields(rnd.nextInt(m.tFields.size)); val to = m.fresh("n")
              ds.renameColumn(s"${m.sName}.$t.${f.logical}", to)
              m.droppedT += f.logical; f.logical = to
            }
          }
        case 8 => // rename the struct column itself, or the nested struct
          if (rnd.nextBoolean()) {
            val to = m.fresh("s"); ds.renameColumn(m.sName, to); m.sName = to
          } else m.tName.foreach { t =>
            val to = m.fresh("t")
            ds.renameColumn(s"${m.sName}.$t", to); m.tName = Some(to)
          }
        case 9 => // drop a scalar somewhere
          rnd.nextInt(3) match {
            case 0 if m.top.nonEmpty =>
              val i = rnd.nextInt(m.top.size)
              ds.dropColumn(m.top(i).logical)
              m.droppedTop += m.top.remove(i).logical
            case 1 if m.sFields.size > 1 =>
              val i = rnd.nextInt(m.sFields.size)
              ds.dropColumn(s"${m.sName}.${m.sFields(i).logical}")
              m.droppedS += m.sFields.remove(i).logical
            case 2 if m.tName.isDefined && m.tFields.size > 1 =>
              val i = rnd.nextInt(m.tFields.size)
              ds.dropColumn(s"${m.sName}.${m.tName.get}.${m.tFields(i).logical}")
              m.droppedT += m.tFields.remove(i).logical
            case _ =>
          }
        case 10 => // drop / re-add the whole nested struct subtree
          m.tName match {
            case Some(t) if rnd.nextInt(4) == 0 =>
              ds.dropColumn(s"${m.sName}.$t")
              m.droppedS += t; m.tName = None; m.tFields.clear()
            case None =>
              val t = pickName(m.droppedS, "t"); val n0 = m.fresh("n")
              ds.addColumn(s"${m.sName}.$t",
                StructType(Seq(StructField(n0, StringType))))
              m.tName = Some(t); m.tFields += new MField(m.freshId(), n0)
            case _ =>
          }
        case 11 => // CoW delete through current logical names
          if (m.rows.nonEmpty) {
            if (rnd.nextBoolean() || m.sFields.isEmpty) {
              val ids = rnd.shuffle(m.rows.map(_._1).toSeq).take(2)
              ds.delete(col("id").isin(ids: _*))
              val keep = m.rows.filterNot { case (rid, _) => ids.contains(rid) }
              m.rows.clear(); m.rows ++= keep
            } else { // by a nested member's value — alternate between the
              // dotted-path and getField spellings (both must map through
              // renames, and must map each chain exactly once)
              val f = m.sFields(rnd.nextInt(m.sFields.size))
              val victim = m.rows(rnd.nextInt(m.rows.size))
              victim._2.get(f.id).foreach { value =>
                val member =
                  if (rnd.nextBoolean()) col(s"${m.sName}.${f.logical}")
                  else col(m.sName).getField(f.logical)
                ds.delete(member === value)
                val keep = m.rows.filterNot { case (_, vals) =>
                  vals.get(f.id).contains(value) }
                m.rows.clear(); m.rows ++= keep
              }
            }
          }
      }
      if (op % 8 == 0) verify(ds, m, s"seed=$seed op=$op")
    }
    verify(ds, m, s"seed=$seed final")
    // metadata round-trip: a fresh load must agree
    verify(SpaceDataset.load(spark, loc), m, s"seed=$seed reloaded")

    // the DSv2 SQL surface must agree too (scan-builder translation)
    TempCatalog.withTempCatalog(spark, new java.io.File(loc).getParent, "gfz") { c =>
      val ls = m.leaves
      val viaSql = spark.sql(s"SELECT id, ${ls.map { case (p, id) => s"$p AS f$id" }
        .mkString(", ")} FROM $c.tbl")
        .collect()
        .map(r => r.getLong(0) ->
          ls.zipWithIndex.map { case ((_, id), i) => id -> Option(r.getString(i + 1)) }.toMap)
        .toSet
      val want = m.rows.map { case (rid, vals) =>
        rid -> ls.map { case (_, id) => id -> vals.get(id) }.toMap
      }.toSet
      assert(viaSql == want, s"SQL surface diverges for seed=$seed")
    }
  }

  test("random evolution sequences match the model (seed 1)") { runFuzz(20260813L) }
  test("random evolution sequences match the model (seed 2)") { runFuzz(8130020L) }

  test("getField chains map once even when a re-added name shadows a renamed-away physical") {
    // rename s.t -> u, then re-add s.t: nestedRenames now holds BOTH
    // {s.t -> u} and {s.t_fN -> t}. A naive transform-based rewriter
    // re-maps the rewritten chain's physical prefix (s.t -> s.t_fN) and
    // targets the re-added member instead of the renamed one.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_shadow_").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StructType(Seq(
        StructField("t", StringType), StructField("k", StringType))))))
    val ds = SpaceDataset.create(spark, dir + "/tbl", schema, Seq("id"))
    ds.append(Seq((1L, "t1", "k1"), (2L, "t2", "k2")).toDF("id", "t", "k")
      .select(col("id"), struct(col("t"), col("k")).as("s")))
    ds.renameColumn("s.t", "u")
    ds.addColumn("s.t", StringType)

    // the renamed member still reads its old data; the re-added one is null
    assert(ds.readAll().filter(col("s").getField("u") === "t1").count() == 1)
    assert(ds.readAll().filter(col("s").getField("t").isNotNull).count() == 0)
    // DML through the getField spelling hits the RENAMED member
    ds.delete(col("s").getField("u") === "t1")
    assert(ds.readAll().collect().map(_.getLong(0)).toSeq == Seq(2L))

    // same shadow state at top level
    ds.renameColumn("s", "s2")
    ds.addColumn("s", StringType)
    assert(ds.readAll().filter(col("s2").getField("u") === "t2").count() == 1)
    assert(ds.readAll().filter(col("s").isNotNull).count() == 0)
  }

  test("random widen/append/delete interleavings match a typed model") {
    for (seed <- Seq(11, 12)) {
      val rnd = new Random(seed)
      val loc = Files.createTempDirectory(s"graft_widenfuzz${seed}_").toString + "/t"
      var aWide = false // int -> bigint
      var bWide = false // float -> double
      def schemaNow = StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("a", if (aWide) LongType else IntegerType),
        StructField("b", if (bWide) DoubleType else FloatType)))
      val ds = SpaceDataset.create(spark, loc, schemaNow, Seq("k"),
        statsFields = Seq("a"), bloomColumns = Seq("a"))
      // model values carried at the WIDE types the engine reads under
      val model = mutable.Map[Long, (Long, Double)]()
      var nextK = 0L

      def check(): Unit = {
        val got = ds.readAll().collect()
          .map(r => r.getLong(0) -> ((
            r.get(1) match { case i: Int => i.toLong; case l: Long => l },
            r.get(2) match { case f: Float => f.toDouble; case d: Double => d }))).toMap
        assert(got == model.toMap, s"seed $seed: content diverged from model")
        assert(ds.countRows() == model.size.toLong)
        // point lookup through stats + blooms on the (possibly widened)
        // column: exact value present and absent
        if (model.nonEmpty) {
          val (_, (av, _)) = model.head
          val hits = model.valuesIterator.count(_._1 == av)
          assert(ds.read(filter = Some(col("a") === av)).count() == hits)
          assert(ds.read(filter = Some(col("a") === 777777777777L)).count() == 0)
        }
      }

      for (_ <- 1 to 10) {
        rnd.nextInt(5) match {
          case 0 | 1 => // append under the CURRENT schema types
            val rows = (1 to 20 + rnd.nextInt(30)).map { _ =>
              nextK += 1
              val a: Long =
                if (aWide && rnd.nextBoolean()) 10000000000L + rnd.nextInt(1000)
                else rnd.nextInt(5000).toLong
              // pre-widen floats: values exactly representable as float
              val bF: Float = (rnd.nextInt(100) / 4.0).toFloat
              val bD: Double = if (bWide && rnd.nextBoolean()) 0.1 + rnd.nextInt(10) else bF.toDouble
              model(nextK) = (a, bD)
              Row(nextK,
                if (aWide) a else a.toInt,
                if (bWide) bD else bD.toFloat)
            }
            import scala.jdk.CollectionConverters._
            ds.append(spark.createDataFrame(rows.asJava, schemaNow))
          case 2 if !aWide => aWide = true; ds.widenColumn("a", LongType)
          case 3 if !bWide => bWide = true; ds.widenColumn("b", DoubleType)
          case _ => // delete a k-range
            if (nextK > 0) {
              val lo = 1L + rnd.nextLong(nextK)
              val hi = lo + rnd.nextInt(25)
              ds.delete(col("k") >= lo && col("k") <= hi)
              model.filterInPlace { case (k, _) => k < lo || k > hi }
            }
        }
        check()
      }
    }
  }
}
