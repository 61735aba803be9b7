package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** What a scan reads, for `ds.plan` parity checks. */
object ScanFiles {

  /** File names the file scans of `df`'s physical plan list: none when
    * the optimizer removed the relation. */
  def of(df: DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec =>
      s.selectedPartitions.filePartitionIterator.flatMap(_.files).map(_.getPath.getName).toSet
    }.flatten.toSet

  /** `plan(p)` keeps exactly the files the pruned scan of `p` reads. */
  def assertParity(ds: SpaceDataset, p: Column, what: => String): Unit = {
    val planned = ds.plan(Some(p)).files.map(f => new Path(f).getName).toSet
    val scanned = of(ds.read(filter = Some(p)))
    assert(planned == scanned,
      s"$what: plan kept ${planned.size} files, the scan of $p reads ${scanned.size}")
  }
}

/** `ds.plan` and the scan share one planner: on a table bucketed on a
  * bigint column, int literals and IN lists prune the plan exactly as
  * they prune the scan, and a delete reads only the planned files. */
class ScanPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  /** 400 rows, 8 buckets on the bigint column `c` (100 values). */
  private def bucketedTable(): SpaceDataset = {
    val rows = spark.range(0, 400).select(col("id"), (col("id") % 100).as("c"))
    val loc = Files.createTempDirectory("graft_scanplan_").toString + "/tbl"
    val d = SpaceDataset.create(spark, loc, rows.schema, Seq("id"),
      bucketColumns = Seq("c"), numBuckets = 8)
    d.append(rows)
    d
  }

  private lazy val ds = bucketedTable()

  test("an int literal on a bigint bucket column keeps 1 of 8 files in plan and scan") {
    assert(ds.plan().files.size == 8)
    val p = col("c") === 5
    assert(ds.plan(Some(p)).files.size == 1, ds.plan(Some(p)))
    ScanFiles.assertParity(ds, p, "c = 5")
  }

  test("an int IN list on a bigint bucket column keeps 2 of 8 files in plan and scan") {
    assert(BucketPruning.bucketId(5L, org.apache.spark.sql.types.LongType, 8) !=
      BucketPruning.bucketId(6L, org.apache.spark.sql.types.LongType, 8))
    val p = col("c").isin(5, 6)
    assert(ds.plan(Some(p)).files.size == 2, ds.plan(Some(p)))
    ScanFiles.assertParity(ds, p, "c IN (5, 6)")
  }

  test("a statically false filter plans no files, like its scan") {
    val p = col("c") === 5 && col("c") === 6
    assert(ds.plan(Some(p)).files.isEmpty)
    ScanFiles.assertParity(ds, p, "c = 5 AND c = 6")
  }

  test("delete(c = 5) reads exactly the planned files") {
    val d = bucketedTable()
    val planned = d.plan(Some(col("c") === 5)).files.map(f => new Path(f).getName).toSet
    assert(planned.size == 1)

    val scanned = mutable.Set[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        scanned.synchronized {
          scanned ++= collect(qe.executedPlan) { case s: FileSourceScanExec =>
            s.relation.location.inputFiles.map(f => new Path(f).getName).toSeq
          }.flatten
        }
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // scoped-conf clones copy the session's listeners when they are made
    org.apache.spark.sql.graftshim.ScopedConf.invalidate(spark)
    try {
      d.delete(col("c") === 5)
      org.apache.spark.sql.graftshim.ListenerBusDrain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      org.apache.spark.sql.graftshim.ScopedConf.invalidate(spark)
    }
    assert(scanned.toSet == planned, s"delete read ${scanned.size} files, planned $planned")
    assert(d.readAll().count() == 396)
  }
}
