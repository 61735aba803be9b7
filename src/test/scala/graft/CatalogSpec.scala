package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** The DSv2 graft catalog: spark.sql over `graft_test.<table>` with
  * CREATE/INSERT/SELECT/DELETE/OVERWRITE/time-travel, manifest pruning
  * included in SQL planning. */
class CatalogSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft_cat_").toString
    spark.conf.set("spark.sql.catalog.graft_test",
      classOf[org.apache.spark.sql.graftshim.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_test.location", r)
    r
  }

  private def orders = Tables.read(spark, sfDir, "orders")

  /** Files actually read by the final (AQE-finalized) DSv2 scan. */
  private def filesRead(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case b: BatchScanExec => Seq(b)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).head.inputPartitions.map {
      case f: FilePartition => f.files.length
      case _ => 0
    }.sum
  }

  test("CREATE TABLE + INSERT + SELECT round-trip") {
    root // force catalog registration
    spark.sql(
      "CREATE TABLE graft_test.kv (id BIGINT, v STRING) TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.kv VALUES (1, 'a'), (2, 'b')")
    val rows = spark.sql("SELECT * FROM graft_test.kv ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "b")))
    assert(spark.sql("SHOW TABLES IN graft_test").collect().map(_.getString(1)).contains("kv"))
  }

  test("unfiltered catalog scans report the exact snapshot row count") {
    root
    spark.sql("CREATE TABLE graft_test.stats_t (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('primary_keys'='id')")
    import spark.implicits._
    (1L to 137L).map(i => (i, i * 2)).toDF("id", "v")
      .write.mode("append").insertInto("graft_test.stats_t")
    def scanStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
            .estimateStatistics()
      }.head
    val full = scanStats(spark.sql("SELECT * FROM graft_test.stats_t"))
    assert(full.numRows.isPresent && full.numRows.getAsLong == 137L,
      s"numRows = ${full.numRows}")
    // a pushed data filter must not claim the unfiltered exact count
    val filt = scanStats(spark.sql("SELECT * FROM graft_test.stats_t WHERE v > 100"))
    assert(!filt.numRows.isPresent || filt.numRows.getAsLong != 137L)
    // an UNtranslatable data filter (no V2 predicate, so
    // delegate.pushedFilters stays empty) still reaches the file index
    // and can prune — it must not claim the exact count either
    val odd = scanStats(spark.sql("SELECT * FROM graft_test.stats_t WHERE id % 97 = 5"))
    assert(!odd.numRows.isPresent || odd.numRows.getAsLong != 137L,
      s"untranslatable-filter scan claims table cardinality: ${odd.numRows}")
    // a pushed AGGREGATE outputs few rows — claiming the table count
    // there would poison join cardinality estimates (aggregate
    // pushdown is opt-in: spark.sql.parquet.aggregatePushdown)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val agg = scanStats(spark.sql("SELECT count(*) FROM graft_test.stats_t"))
      assert(!agg.numRows.isPresent || agg.numRows.getAsLong != 137L,
        s"pushed-aggregate scan claims table cardinality: ${agg.numRows}")
    } finally spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
  }

  test("ADD COLUMN rejects NOT NULL and positions instead of silently drifting") {
    root
    spark.sql("CREATE TABLE graft_test.addcol_t (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('primary_keys'='id')")
    val nn = intercept[Exception](spark.sql(
      "ALTER TABLE graft_test.addcol_t ADD COLUMN c BIGINT NOT NULL"))
    assert(nn.getMessage.contains("NOT NULL"), nn.getMessage)
    val pos = intercept[Exception](spark.sql(
      "ALTER TABLE graft_test.addcol_t ADD COLUMN c BIGINT AFTER id"))
    assert(pos.getMessage.contains("position"), pos.getMessage)
    // plain nullable add (with comment) still works
    spark.sql("ALTER TABLE graft_test.addcol_t ADD COLUMN c BIGINT COMMENT 'new'")
    assert(spark.table("graft_test.addcol_t").schema.fieldNames.contains("c"))
  }

  test("CREATE TABLE requires primary_keys and rejects partitioning") {
    root
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_test.nopk (id BIGINT)")
    }
    intercept[Exception] {
      spark.sql(
        "CREATE TABLE graft_test.part (id BIGINT, v STRING) PARTITIONED BY (v) " +
          "TBLPROPERTIES ('primary_keys'='id')")
    }
  }

  test("SQL WHERE on the PK prunes manifest files in the DSv2 scan") {
    root
    spark.sql(
      "CREATE TABLE graft_test.ord (" +
        orders.schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ") +
        ") TBLPROPERTIES ('primary_keys'='o_orderkey')")
    val ds = new DirCatalog(spark, root).dataset("ord")
    ds.append(orders.repartitionByRange(8, col("o_orderkey")))

    val total = filesRead(spark.sql("SELECT * FROM graft_test.ord"))
    assert(total == 8, s"expected 8 files, read $total")
    val pruned = filesRead(
      spark.sql("SELECT count(*) AS n FROM graft_test.ord WHERE o_orderkey < 100"))
    assert(pruned < total, s"read $pruned of $total files")
    // correctness vs the plain parquet table
    assert(
      spark.sql("SELECT count(*) AS n FROM graft_test.ord WHERE o_orderkey < 100")
        .collect()(0).getLong(0) ==
        orders.filter(col("o_orderkey") < 100).count())
  }

  test("DELETE FROM runs a CoW delete through the catalog") {
    root
    spark.sql(
      "CREATE TABLE graft_test.del (id BIGINT, v STRING) TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.del VALUES (1,'a'), (2,'b'), (3,'c')")
    spark.sql("DELETE FROM graft_test.del WHERE id >= 2")
    assert(spark.sql("SELECT * FROM graft_test.del").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // the delete is a snapshot with a deletedRows changelog
    val ds = new DirCatalog(spark, root).dataset("del")
    val sid = ds.storage.metadata.currentSnapshotId
    assert(ds.storage.changeLog(sid).exists(_.deletedRows.nonEmpty))
  }

  test("metadata tables: versions, files, record_files through SQL") {
    root
    spark.sql(
      "CREATE TABLE graft_test.meta (id BIGINT, v STRING) TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.meta VALUES (1,'a')")
    spark.sql("INSERT INTO graft_test.meta VALUES (2,'b')")
    val vers = spark.sql("SELECT snapshot_id FROM graft_test.meta.versions")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(vers == Seq(0L, 1L, 2L))
    val files = spark.sql("SELECT `_FILE`, `_NUM_ROWS` FROM graft_test.meta.files").collect()
    assert(files.length == 2 && files.map(_.getLong(1)).sum == 2L)
    assert(spark.sql("SELECT * FROM graft_test.meta.record_files").collect().isEmpty)
    // aggregations and filters compose like any table
    assert(spark.sql("SELECT count(*) FROM graft_test.meta.versions WHERE snapshot_id > 0")
      .collect()(0).getLong(0) == 2L)
  }

  test("CTAS and REPLACE TABLE AS SELECT create-and-load in one statement") {
    root
    spark.sql("CREATE TABLE graft_test.ct TBLPROPERTIES ('primary_keys'='id') " +
      "AS SELECT id, id * 2 AS v FROM range(0, 100)")
    assert(spark.sql("SELECT count(*) FROM graft_test.ct").collect()(0).getLong(0) == 100L)
    spark.sql("REPLACE TABLE graft_test.ct TBLPROPERTIES ('primary_keys'='id') " +
      "AS SELECT id, id * 3 AS v FROM range(0, 50)")
    assert(spark.sql("SELECT count(*) FROM graft_test.ct").collect()(0).getLong(0) == 50L)
    assert(spark.sql("SELECT max(v) FROM graft_test.ct").collect()(0).getLong(0) == 147L)
  }

  test("TRUNCATE TABLE empties through the delete path, CDC-visible") {
    root
    spark.sql(
      "CREATE TABLE graft_test.tr (id BIGINT, v STRING) TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.tr VALUES (1,'a'), (2,'b'), (3,'c')")
    spark.sql("TRUNCATE TABLE graft_test.tr")
    assert(spark.sql("SELECT * FROM graft_test.tr").collect().isEmpty)
    val ds = new DirCatalog(spark, root).dataset("tr")
    val sid = ds.storage.metadata.currentSnapshotId
    assert(ds.storage.changeLog(sid).exists(_.deletedRows.nonEmpty),
      "truncate must log the removed rows for CDC")
  }

  test("INSERT OVERWRITE replaces content atomically in one snapshot") {
    root
    spark.sql(
      "CREATE TABLE graft_test.ow (id BIGINT, v STRING) TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.ow VALUES (1,'a'), (2,'b')")
    val ds = new DirCatalog(spark, root).dataset("ow")
    val before = ds.storage.metadata.currentSnapshotId
    spark.sql("INSERT OVERWRITE graft_test.ow VALUES (9,'z')")
    val rows = spark.sql("SELECT * FROM graft_test.ow").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(9L))
    ds.storage.reload()
    val after = ds.storage.metadata.currentSnapshotId
    assert(after == before + 1, "overwrite must be ONE snapshot")
    // changelog: everything deleted (allRows), new rows added
    val log = ds.storage.changeLog(after).get
    assert(log.deletedRows.nonEmpty && log.deletedRows.forall(_.allRows))
    assert(log.addedRows.nonEmpty)
  }

  test("VERSION AS OF and TIMESTAMP AS OF time travel") {
    root
    spark.sql(
      "CREATE TABLE graft_test.tt (id BIGINT, v STRING) TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.tt VALUES (1,'a')")
    val ds = new DirCatalog(spark, root).dataset("tt")
    ds.addTag("v1")
    spark.sql("INSERT INTO graft_test.tt VALUES (2,'b')")

    assert(spark.sql("SELECT * FROM graft_test.tt").count() == 2)
    assert(spark.sql("SELECT * FROM graft_test.tt VERSION AS OF 1").count() == 1)
    assert(spark.sql("SELECT * FROM graft_test.tt VERSION AS OF 'v1'").count() == 1)
    // far-future timestamp resolves to the latest snapshot
    assert(spark.sql("SELECT * FROM graft_test.tt TIMESTAMP AS OF '2999-01-01'").count() == 2)
    // a time-travel table refuses writes
    intercept[Exception] {
      spark.sql("DELETE FROM graft_test.tt VERSION AS OF 1 WHERE id = 1")
    }
  }

  test("readStream.table streams appends; deletes fail unless ignored") {
    root
    spark.sql(
      "CREATE TABLE graft_test.st (id BIGINT, v STRING) TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.st VALUES (1,'a'), (2,'b')")
    val ds = new DirCatalog(spark, root).dataset("st")
    val ckroot = Files.createTempDirectory("graft_cat_stream_").toString

    def drain(ckpt: String, ignoreDeletes: Boolean = false): Seq[Long] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      var reader = spark.readStream
      if (ignoreDeletes) reader = reader.option("ignoreDeletes", "true")
      val q = reader.table("graft_test.st")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          buf.synchronized { buf ++= b.collect().map(_.getLong(0)) }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      buf.toSeq.sorted
    }

    assert(drain(s"$ckroot/c1") == Seq(1L, 2L))
    // restart from the same checkpoint: only the NEW append arrives
    spark.sql("INSERT INTO graft_test.st VALUES (3,'c')")
    assert(drain(s"$ckroot/c1") == Seq(3L))
    // a delete breaks the append-only contract...
    spark.sql("DELETE FROM graft_test.st WHERE id = 1")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(s"$ckroot/c1")
    }
    // ...unless explicitly ignored (fresh checkpoint replays adds only)
    assert(drain(s"$ckroot/c2", ignoreDeletes = true) == Seq(1L, 2L, 3L))
  }

  test("UPDATE through SQL runs the CoW row-level update") {
    root
    spark.sql("CREATE TABLE graft_test.upd (id BIGINT, price DOUBLE, tag STRING) " +
      "TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.upd VALUES (1, 10.0, 'a'), (2, 20.0, 'b'), " +
      "(3, 30.0, 'a')")
    spark.sql("UPDATE graft_test.upd SET price = price * 2, tag = 'x' WHERE id % 2 = 1")
    val rows = spark.sql("SELECT * FROM graft_test.upd ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, 20.0, "x"), (2L, 20.0, "b"), (3L, 60.0, "x")))

    // unconditional UPDATE hits every row
    spark.sql("UPDATE graft_test.upd SET tag = 'all'")
    assert(spark.sql("SELECT count(*) AS n FROM graft_test.upd WHERE tag = 'all'")
      .collect()(0).getLong(0) == 3)

    // ONE snapshot per UPDATE, encoded as DELETE+ADD in the change feed
    val ds = SpaceDataset.load(spark, s"$root/upd")
    val head = ds.storage.metadata.currentSnapshotId
    val batches = ds.diff((head - 1).toString, head.toString)
    assert(batches.map(_.changeType).sorted == Seq("ADD", "DELETE"))

    // assigning a primary key is refused (delete+insert, spell it as one)
    intercept[Exception] {
      spark.sql("UPDATE graft_test.upd SET id = id + 1 WHERE id = 1")
    }
    // time-travel tables are immutable
    intercept[Exception] {
      spark.sql(s"UPDATE graft_test.upd VERSION AS OF 1 SET tag = 'nope'")
    }
  }

  test("UPDATE of a struct member through SQL and the API") {
    root
    import org.apache.spark.sql.functions.{col, struct}
    import spark.implicits._
    spark.sql("CREATE TABLE graft_test.nupd (id BIGINT, " +
      "meta STRUCT<a: STRING, b: DOUBLE>) TBLPROPERTIES ('primary_keys'='id')")
    Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("id", "a", "b")
      .select(col("id"), struct(col("a"), col("b")).as("meta"))
      .writeTo("graft_test.nupd").append()
    // a NULL struct row: a member update cannot materialize its parent
    spark.sql("INSERT INTO graft_test.nupd VALUES (3, NULL)")

    spark.sql("UPDATE graft_test.nupd SET meta.b = meta.b * 10 WHERE id <= 1")
    val got = spark.sql("SELECT id, meta.a AS a, meta.b AS b, meta IS NULL AS n " +
      "FROM graft_test.nupd ORDER BY id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getBoolean(3))).toSeq
    assert(got == Seq((1L, Some("x"), Some(10.0), false),
      (2L, Some("y"), Some(2.0), false), (3L, None, None, true)))

    // unconditional member update keeps the NULL-struct row NULL
    spark.sql("UPDATE graft_test.nupd SET meta.a = 'z'")
    assert(spark.sql("SELECT count(*) AS n FROM graft_test.nupd WHERE meta.a = 'z'")
      .collect()(0).getLong(0) == 2)
    assert(spark.sql("SELECT count(*) AS n FROM graft_test.nupd WHERE meta IS NULL")
      .collect()(0).getLong(0) == 1)

    // API spelling with a dotted key — and it follows nested renames
    val ds = SpaceDataset.load(spark, s"$root/nupd")
    ds.renameColumn("meta.b", "price")
    ds.update(col("id") === 2L, Map("meta.price" -> (col("meta.price") + 0.5)))
    assert(ds.readAll().filter(col("meta.price") === 2.5).count() == 1)
    intercept[IllegalArgumentException] {
      ds.update(col("id") === 2L, Map("meta.nope" -> col("id")))
    }
  }

  test("UPDATE evaluates every assignment against the pre-update row") {
    root
    spark.sql("CREATE TABLE graft_test.swp (id BIGINT, a DOUBLE, b DOUBLE, " +
      "meta STRUCT<x: DOUBLE, y: DOUBLE>) TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.swp VALUES " +
      "(1, 1.0, 2.0, named_struct('x', 10.0, 'y', 20.0))")
    // SQL UPDATE semantics: SET a = b, b = a SWAPS (all RHS see the
    // original row, not earlier assignments' results)
    spark.sql("UPDATE graft_test.swp SET a = b, b = a")
    val r1 = spark.sql("SELECT a, b FROM graft_test.swp").collect()(0)
    assert((r1.getDouble(0), r1.getDouble(1)) == (2.0, 1.0))
    // struct members swap the same way
    spark.sql("UPDATE graft_test.swp SET meta.x = meta.y, meta.y = meta.x")
    val r2 = spark.sql("SELECT meta.x, meta.y FROM graft_test.swp").collect()(0)
    assert((r2.getDouble(0), r2.getDouble(1)) == (20.0, 10.0))
    // API spelling swaps too (and swaps back)
    val ds = SpaceDataset.load(spark, s"$root/swp")
    ds.update(lit(true), Map("a" -> col("b"), "b" -> col("a")))
    val r3 = spark.sql("SELECT a, b FROM graft_test.swp").collect()(0)
    assert((r3.getDouble(0), r3.getDouble(1)) == (1.0, 2.0))
    // assigning a column AND one of its members is ambiguous: refused
    intercept[IllegalArgumentException] {
      ds.update(lit(true), Map("meta" -> col("meta"), "meta.x" -> lit(0.0)))
    }
  }

  test("identity-only UPDATE is a valid row rewrite, not an error") {
    root
    spark.sql("CREATE TABLE graft_test.noop (id BIGINT, v STRING, " +
      "meta STRUCT<x: DOUBLE>) TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.noop VALUES (1, 'a', named_struct('x', 1.0)), " +
      "(2, 'b', named_struct('x', 2.0))")
    val before = SpaceDataset.load(spark, s"$root/noop").storage.metadata.currentSnapshotId
    // every assignment is an identity no-op after alignment — still a
    // legal UPDATE: matched rows rewrite unchanged in one snapshot
    spark.sql("UPDATE graft_test.noop SET v = v")
    spark.sql("UPDATE graft_test.noop SET meta.x = meta.x WHERE id = 1")
    assert(spark.sql("SELECT id, v, meta.x FROM graft_test.noop ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val after = SpaceDataset.load(spark, s"$root/noop").storage.metadata.currentSnapshotId
    assert(after == before + 2, "each identity UPDATE commits one rewrite snapshot")
  }

  test("MERGE INTO through SQL: delete, update-star, insert-star in one snapshot") {
    root
    spark.sql("CREATE TABLE graft_test.mt (id BIGINT, price DOUBLE, st STRING) " +
      "TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.mt VALUES (1, 10.0, 'F'), (2, 20.0, 'O'), " +
      "(3, 30.0, 'F')")
    import spark.implicits._
    Seq((2L, 200.0, "O"), (3L, 300.0, "F"), (4L, 400.0, "O"))
      .toDF("id", "price", "st").createOrReplaceTempView("mt_src")

    val before = SpaceDataset.load(spark, s"$root/mt").storage.metadata.currentSnapshotId
    spark.sql("""MERGE INTO graft_test.mt t USING mt_src s ON t.id = s.id
      |WHEN MATCHED AND s.st = 'F' THEN DELETE
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql("SELECT * FROM graft_test.mt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    // 1 untouched, 2 updated, 3 deleted (matched + F), 4 inserted
    assert(rows == Seq((1L, 10.0, "F"), (2L, 200.0, "O"), (4L, 400.0, "O")))
    val ds = SpaceDataset.load(spark, s"$root/mt")
    assert(ds.storage.metadata.currentSnapshotId == before + 1, "MERGE must be ONE snapshot")

    // unsupported shapes fail loudly instead of changing semantics
    intercept[Exception] { // ON must equate the primary keys
      spark.sql("MERGE INTO graft_test.mt t USING mt_src s ON t.price = s.price " +
        "WHEN MATCHED THEN DELETE")
    }
    intercept[Exception] { // general assignments need the API
      spark.sql("MERGE INTO graft_test.mt t USING mt_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET price = s.price + 1")
    }
    // NOT MATCHED BY SOURCE is supported since round 11: the sync shape.
    // State here: (1,10.0,F), (2,200.0,O), (4,400.0,O); source ids 2,3,4
    // -> row 1 is not matched by source and deletes
    spark.sql("MERGE INTO graft_test.mt t USING mt_src s ON t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(spark.sql("SELECT id FROM graft_test.mt ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 4L))
    // ...but its conditions/values must stay on TARGET columns
    intercept[Exception] {
      spark.sql("MERGE INTO graft_test.mt t USING mt_src s ON t.id = s.id " +
        "WHEN NOT MATCHED BY SOURCE AND s.st = 'F' THEN DELETE")
    }
  }

  test("partial MERGE coverage and duplicate UPDATE targets are rejected, table untouched") {
    root
    spark.sql("CREATE TABLE graft_test.gd (id BIGINT, a DOUBLE, b STRING) " +
      "TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.gd VALUES (1, 1.0, 'x')")
    import spark.implicits._
    Seq((1L, 9.0, "y"), (2L, 8.0, "z")).toDF("id", "a", "b")
      .createOrReplaceTempView("gd_src")
    // a partial UPDATE SET would pass the per-assignment star check but
    // the merge machinery replaces matched rows WHOLESALE — unmentioned
    // column b would silently take s.b; must be rejected
    val e1 = intercept[Exception](spark.sql(
      "MERGE INTO graft_test.gd t USING gd_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET a = s.a"))
    assert(e1.getMessage.contains("cover every target column"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "MERGE INTO graft_test.gd t USING gd_src s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id, a) VALUES (s.id, s.a)"))
    assert(e2.getMessage.contains("cover every target column"), e2.getMessage)
    // duplicate assignment targets would execute with pick-the-last
    // semantics through toMap — standard SQL rejects them
    val e3 = intercept[Exception](spark.sql("UPDATE graft_test.gd SET a = 1.0, a = 2.0"))
    assert(e3.getMessage.contains("duplicate"), e3.getMessage)
    // none of the rejected statements touched the table
    val rows = spark.sql("SELECT * FROM graft_test.gd").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, 1.0, "x")), rows.toString)
  }

  test("CLUSTERED BY creates a bucketed table; a rejected ALTER applies nothing") {
    root
    spark.sql("CREATE TABLE graft_test.cb (id BIGINT, v STRING) " +
      "CLUSTERED BY (id) INTO 4 BUCKETS TBLPROPERTIES ('primary_keys'='id')")
    val props = spark.sql("SHOW TBLPROPERTIES graft_test.cb").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("bucket_columns") == "id" && props("num_buckets") == "4", props.toString)
    // bucketing specified both ways is ambiguous — rejected
    intercept[Exception](spark.sql("CREATE TABLE graft_test.cb2 (id BIGINT) " +
      "CLUSTERED BY (id) INTO 4 BUCKETS " +
      "TBLPROPERTIES ('primary_keys'='id','num_buckets'='8')"))
    // hive partitioning is still rejected
    intercept[Exception](spark.sql("CREATE TABLE graft_test.cb3 (id BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('primary_keys'='id')"))
    // SORTED BY is not silently dropped — graft buckets are unsorted
    val eSort = intercept[Exception](spark.sql(
      "CREATE TABLE graft_test.cb4 (id BIGINT, v STRING) " +
        "CLUSTERED BY (id) SORTED BY (v) INTO 4 BUCKETS " +
        "TBLPROPERTIES ('primary_keys'='id')"))
    assert(eSort.getMessage.contains("SORTED BY is unsupported"), eSort.getMessage)

    // ALTER atomicity: the valid first ADD must NOT survive the rejected
    // second one (each applied change persists immediately — validation
    // must run over the whole change list first)
    intercept[Exception](spark.sql(
      "ALTER TABLE graft_test.cb ADD COLUMNS (ok INT, bad INT NOT NULL)"))
    assert(spark.table("graft_test.cb").columns.toSeq == Seq("id", "v"))
    // the existence simulation catches a bad later DROP before any apply
    intercept[Exception](spark.sql(
      "ALTER TABLE graft_test.cb DROP COLUMNS (v, no_such)"))
    assert(spark.table("graft_test.cb").columns.toSeq == Seq("id", "v"))
    // IF EXISTS on a missing column no-ops instead of erroring
    spark.sql("ALTER TABLE graft_test.cb DROP COLUMN IF EXISTS no_such")
    assert(spark.table("graft_test.cb").columns.toSeq == Seq("id", "v"))

    // unknown procedures are ANALYSIS errors, not raw runtime exceptions
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("CALL graft_test.system.nope()"))
    assert(e.getMessage.contains("unknown procedure"), e.getMessage)
  }

  test("ALTER TABLE RENAME TO keeps history under the new name") {
    root
    spark.sql(
      "CREATE TABLE graft_test.rn1 (id BIGINT, v STRING) TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_test.rn1 VALUES (1,'a')")
    spark.sql("INSERT INTO graft_test.rn1 VALUES (2,'b')")
    spark.sql("ALTER TABLE graft_test.rn1 RENAME TO rn2")
    assert(!new DirCatalog(spark, root).exists("rn1"))
    assert(spark.sql("SELECT count(*) FROM graft_test.rn2").collect()(0).getLong(0) == 2L)
    // history survives the rename: time travel + CDC references intact
    assert(spark.sql("SELECT count(*) FROM graft_test.rn2 VERSION AS OF 1")
      .collect()(0).getLong(0) == 1L)
    intercept[Exception](spark.sql("SELECT * FROM graft_test.rn1").collect())
    // renaming onto an existing table is rejected
    spark.sql(
      "CREATE TABLE graft_test.rn3 (id BIGINT) TBLPROPERTIES ('primary_keys'='id')")
    intercept[Exception](spark.sql("ALTER TABLE graft_test.rn2 RENAME TO rn3"))
  }

  test("DROP TABLE removes the dataset") {
    root
    spark.sql(
      "CREATE TABLE graft_test.gone (id BIGINT) TBLPROPERTIES ('primary_keys'='id')")
    assert(new DirCatalog(spark, root).exists("gone"))
    spark.sql("DROP TABLE graft_test.gone")
    assert(!new DirCatalog(spark, root).exists("gone"))
  }
}
