package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** TIMESTAMP AS OF parity between the API read path
  * ([[Storage.versionToSnapshotId]] with an ISO-8601 version string /
  * [[Storage.snapshotIdAtTimestamp]]) and the SQL catalog. Snapshot
  * create times are synthesized (no sleeps) by rewriting the metadata —
  * this file lives in graft.core for [[Storage.mutate]]. */
class TimestampTravelSpec extends AnyFunSuite {
  import TestSpark._

  test("API reads resolve ISO timestamps to the latest snapshot at or before; SQL agrees") {
    val orders = Tables.read(spark, sfDir, "orders").limit(100)
    val dir = Files.createTempDirectory("graft_tts_").toString
    val ds = SpaceDataset.create(spark, dir + "/tbl", orders.schema, Seq("o_orderkey"))
    ds.append(orders.filter(col("o_orderkey") <= 1000L)) // snap 1
    ds.append(orders.filter(col("o_orderkey") > 1000L))  // snap 2

    // synthesize create times: snap0 @1000ms, snap1 @2000ms, snap2 @3000ms
    val st = ds.storage
    val shifted = st.metadata.snapshots.map { case (k, s) =>
      k -> s.copy(createTimeMs = 1000L * (s.snapshotId + 1))
    }
    st.mutate(m => (m.copy(snapshots = shifted), ()))

    val atSnap1 = orders.filter(col("o_orderkey") <= 1000L).count()
    val all = orders.count()

    // exact hit, between snapshots, and after the head
    assert(st.versionToSnapshotId("1970-01-01T00:00:02Z") == 1L)
    assert(st.versionToSnapshotId("1970-01-01T00:00:02.500Z") == 1L)
    assert(st.versionToSnapshotId("1970-01-01T00:00:03Z") == 2L)
    assert(st.versionToSnapshotId("1970-01-01T00:01:00Z") == 2L)
    assert(st.versionToSnapshotId("1970-01-01T00:00:01.500Z") == 0L) // empty table
    assert(ds.read(version = Some("1970-01-01T00:00:02.500Z")).count() == atSnap1)
    assert(ds.read(version = Some("1970-01-01T00:00:59Z")).count() == all)
    assert(ds.read(version = Some("1970-01-01T00:00:01.200Z")).count() == 0)

    // before the table existed → error; garbage versions still error
    intercept[IllegalArgumentException] {
      st.versionToSnapshotId("1970-01-01T00:00:00.500Z")
    }
    intercept[IllegalArgumentException] { st.versionToSnapshotId("not-a-version") }

    // the SQL path resolves the SAME snapshot for the same instant
    val cat = "gtts" + java.util.UUID.randomUUID().toString.replace("-", "").take(6)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graftshim.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.location", dir)
    try {
      val viaSql = spark.sql(
        s"SELECT count(*) AS n FROM $cat.tbl TIMESTAMP AS OF '1970-01-01 00:00:02.5'")
        .collect()(0).getLong(0)
      assert(viaSql == atSnap1, "SQL and API must resolve the same snapshot")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.location")
    }
  }
}
