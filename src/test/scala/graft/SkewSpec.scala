package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewUtils

class SkewSpec extends AnyFunSuite {
  import TestSpark._

  test("salted join equals plain join on skewed keys") {
    val li = Tables.read(spark, sfDir, "lineitem") // l_orderkey is skew-free,
    val o = Tables.read(spark, sfDir, "orders")    // but equality must hold regardless
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, Seq("l_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("q"))
    val salted = SkewUtils.saltedJoin(li, o, "l_orderkey", salts = 4)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("q"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("ngram-jaccard block join is salted and matches the unsalted result") {
    val docs = Tables.read(spark, sfDir, "documents")
    val salted = graft.operators.Dedup.ngramJaccardPairs(
      docs, "text", "doc_id", "source", n = 2, threshold = 0.5, salts = 8)
    // plan shape: the block self-join carries the salt key (the hot-block
    // O(n²) work spreads over `salts` tasks instead of one straggler)
    assert(salted.queryExecution.optimizedPlan.toString.contains("__salt"),
      "block self-join is not salted")
    // same pairs as a 1-salt (unsalted) run
    val plain = graft.operators.Dedup.ngramJaccardPairs(
      docs, "text", "doc_id", "source", n = 2, threshold = 0.5, salts = 1)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("fanOut decides a shuffled input without running a job") {
    // one range split, shuffled by key: AQE coalesces the shuffle of a
    // few rows to one partition, so the input is fanned out
    val df = spark.range(0, 1000, 1, 1).toDF().repartition(col("id") % 7)
    val (out, jc) = JobCount.of(spark)(SkewUtils.fanOut(df))
    assert(jc.jobs == 0, jc)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(out.exceptAll(df).isEmpty && df.exceptAll(out).isEmpty)
  }

  test("left join keeps unmatched big-side rows under salting") {
    import spark.implicits._
    val big = Seq((1L, "a"), (1L, "b"), (2L, "c"), (9L, "z")).toDF("k", "v")
    val small = Seq((1L, "x"), (2L, "y")).toDF("k", "w")
    val got = SkewUtils.saltedJoin(big, small, "k", salts = 3, joinType = "left")
    assert(got.count() == 4)
    assert(got.filter(col("k") === 9L && col("w").isNull).count() == 1)
  }
}
