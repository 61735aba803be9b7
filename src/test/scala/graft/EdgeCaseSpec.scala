package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

class EdgeCaseSpec extends AnyFunSuite {
  import TestSpark._

  private def orders = Tables.read(spark, sfDir, "orders")

  private def fresh(): String =
    Files.createTempDirectory("graft_edge_").toString + "/tbl"

  test("empty table reads as empty DataFrame with full schema") {
    val ds = SpaceDataset.create(spark, fresh(), orders.schema, Seq("o_orderkey"))
    val df = ds.readAll()
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == orders.schema.fieldNames.toSeq)
    assert(ds.plan().files.isEmpty)
    assert(ds.versions().count() == 1) // snapshot 0
  }

  test("delete-all leaves a readable empty table; time travel still works") {
    val ds = SpaceDataset.create(spark, fresh(), orders.schema, Seq("o_orderkey"))
    ds.append(orders.limit(500))
    ds.delete(lit(true))
    assert(ds.readAll().count() == 0)
    assert(ds.read(version = Some("1")).count() == 500)
    // changelog recorded all rows as deleted
    val cl = ds.storage.changeLog(ds.storage.metadata.currentSnapshotId).get
    assert(cl.deletedRows.map(_.numRows).sum == 500)
    assert(cl.deletedRows.forall(_.allRows))
    // stats back to zero
    assert(ds.storage.metadata.currentSnapshot.storageStatistics.numRows == 0)
  }

  test("upsert into empty table behaves as append") {
    val ds = SpaceDataset.create(spark, fresh(), orders.schema, Seq("o_orderkey"))
    ds.upsert(orders.limit(100))
    assert(ds.readAll().count() == 100)
  }

  test("append of an empty DataFrame commits no files") {
    val ds = SpaceDataset.create(spark, fresh(), orders.schema, Seq("o_orderkey"))
    ds.append(orders.filter(lit(false)))
    assert(ds.readAll().count() == 0)
    assert(ds.storage.metadata.currentSnapshot.manifestFiles.indexManifestFiles.isEmpty)
  }

  test("diff over a no-change range is empty") {
    val ds = SpaceDataset.create(spark, fresh(), orders.schema, Seq("o_orderkey"))
    ds.append(orders.limit(10))
    assert(ds.diff("1", "1").isEmpty)
  }

  test("update through a renamed column; evolution ops compose") {
    val ds = SpaceDataset.create(spark, fresh(), orders.schema, Seq("o_orderkey"))
    ds.append(orders.limit(100))
    ds.renameColumn("o_totalprice", "price")
    // update matches and assigns via the LOGICAL name
    ds.update(col("price") > 0.0, Map("price" -> col("price") * 2))
    val doubled = ds.readAll().agg(sum(col("price"))).collect()(0).getDouble(0)
    val base = orders.limit(100).agg(sum(col("o_totalprice"))).collect()(0).getDouble(0)
    assert(math.abs(doubled - base * 2) < 1e-6)
    // add → rename the ADDED column → drop it again, all metadata-only
    ds.addColumn("note", org.apache.spark.sql.types.StringType)
    ds.renameColumn("note", "comment")
    assert(ds.schema.fieldNames.contains("comment"))
    ds.dropColumn("comment")
    assert(!ds.schema.fieldNames.contains("comment"))
    // the table still reads and mutates fine afterwards
    ds.delete(col("price") < 100.0)
    assert(ds.readAll().columns.toSeq ==
      orders.columns.toSeq.map(c => if (c == "o_totalprice") "price" else c))
  }

  test("nested add under a RENAMED struct column; old files null-fill") {
    import org.apache.spark.sql.types._
    val docs = Tables.read(spark, sfDir, "documents").limit(100)
    val nested = docs.select(col("doc_id"),
      struct(col("source").as("src")).as("meta"))
    val ds = SpaceDataset.create(spark, fresh(), nested.schema, Seq("doc_id"))
    ds.append(nested.filter(col("doc_id") % 2 === 0))
    // rename the STRUCT column, then add a nested field under the NEW name
    ds.renameColumn("meta", "info")
    ds.addColumn("info.lang", StringType)
    ds.append(nested.filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"),
        struct(col("meta.src").as("src"), lit("en").as("lang")).as("info")))
    val out = ds.readAll().select(col("doc_id"), col("info.src"), col("info.lang"))
    assert(out.count() == nested.count())
    assert(out.filter(col("doc_id") % 2 === 0 && col("lang").isNotNull).count() == 0)
    assert(out.filter(col("doc_id") % 2 =!= 0 && col("lang") =!= "en").count() == 0)
    // the old logical name is gone
    intercept[IllegalArgumentException] { ds.addColumn("meta.x", StringType) }
  }

  test("SQL UPDATE and MERGE work through renamed columns") {
    val root = Files.createTempDirectory("graft_edgesql_").toString
    val ds = SpaceDataset.create(spark, root + "/t",
      orders.select("o_orderkey", "o_totalprice").schema, Seq("o_orderkey"))
    ds.append(orders.select("o_orderkey", "o_totalprice").limit(100))
    ds.renameColumn("o_totalprice", "price")
    val cat = "gedge" + java.util.UUID.randomUUID().toString.replace("-", "").take(6)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graftshim.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.location", root)
    try {
      // UPDATE addresses the renamed column by its LOGICAL name
      spark.sql(s"UPDATE $cat.t SET price = 0.0 WHERE o_orderkey % 2 = 0")
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t WHERE price = 0.0")
        .collect()(0).getLong(0) ==
        orders.limit(100).filter(col("o_orderkey") % 2 === 0).count())
      // MERGE sources speak logical names too
      spark.sql(s"SELECT o_orderkey, price * 10 AS price FROM $cat.t WHERE price = 0.0")
        .createOrReplaceTempView("edge_merge_src")
      spark.sql(s"MERGE INTO $cat.t t USING edge_merge_src s " +
        "ON t.o_orderkey = s.o_orderkey WHEN MATCHED THEN UPDATE SET *")
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t WHERE price = 0.0")
        .collect()(0).getLong(0) ==
        orders.limit(100).filter(col("o_orderkey") % 2 === 0).count(),
        "0 * 10 stays 0: merge must have replaced rows, not duplicated them")
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").collect()(0).getLong(0) == 100)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.location")
      spark.catalog.dropTempView("edge_merge_src")
    }
  }

  test("update on a bucketed table preserves the bucket layout") {
    val ds = SpaceDataset.create(spark, fresh(), orders.schema, Seq("o_orderkey"),
      bucketColumns = Seq("o_custkey"), numBuckets = 4)
    ds.append(orders.limit(200))
    ds.update(col("o_orderkey") % 3 === 0, Map("o_totalprice" -> lit(1.0)))
    ds.indexFiles().foreach { f =>
      val b = graft.format.StoragePaths.bucketOf(f)
      assert(b.isDefined, s"unbucketed file $f after update")
      val hashed = spark.read.parquet(ds.storage.absolute(f))
        .select(pmod(hash(col("o_custkey")), lit(4))).distinct()
        .collect().map(_.getInt(0)).toSet
      assert(hashed.subsetOf(Set(b.get)))
    }
    assert(ds.readAll().filter(col("o_totalprice") === 1.0).count() ==
      orders.limit(200).filter(col("o_orderkey") % 3 === 0).count())
  }
}
