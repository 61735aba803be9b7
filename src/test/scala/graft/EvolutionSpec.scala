package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Schema evolution: metadata-only ADD COLUMN, null-fill on old files,
  * field-id continuity, catalog ALTER TABLE, and CDC across the
  * evolution boundary. */
class EvolutionSpec extends AnyFunSuite {
  import TestSpark._

  private val kvSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType)))

  private def kv(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("added column null-fills old files and carries a fresh field id") {
    val loc = Files.createTempDirectory("graft_evo_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, kvSchema, Seq("id"))
    ds.append(kv(1L -> "a", 2L -> "b"))
    val idsBefore = ds.schema.fields.map(graft.format.FieldIds.fieldId).toSet

    ds.addColumn("score", DoubleType)
    val f = ds.schema.fields.find(_.name == "score").get
    assert(f.nullable)
    assert(!idsBefore.contains(graft.format.FieldIds.fieldId(f)), "field ids never reuse")

    // old rows null-fill; new append populates
    import spark.implicits._
    ds.append(Seq((3L, "c", 0.5)).toDF("id", "v", "score"))
    val got = ds.readAll().collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    assert(got == Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(0.5))))

    // filters on the evolved column plan and run (old files scan as null)
    assert(ds.readAll().filter(col("score") > 0.1).count() == 1)
    // PK pruning still sound after evolution
    assert(ds.read(filter = Some(col("id") === 3L)).count() == 1)
  }

  test("rejects duplicates and non-nullable adds; CDC spans the boundary") {
    val loc = Files.createTempDirectory("graft_evo2_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, kvSchema, Seq("id"))
    ds.append(kv(1L -> "a"))
    intercept[IllegalArgumentException] { ds.addColumn("v", StringType) }
    intercept[IllegalArgumentException] {
      ds.storage.addColumn(Nil, StructField("x", LongType, nullable = false))
    }

    ds.addColumn("score", DoubleType)
    import spark.implicits._
    ds.append(Seq((2L, "b", 1.5)).toDF("id", "v", "score"))
    // diff across the evolution boundary: both ADD batches read with the
    // evolved schema (old batch null-fills)
    val batches = ds.diff("0", "2")
    assert(batches.map(_.changeType) == Seq("ADD", "ADD"))
    assert(batches.forall(_.data.schema.fieldNames.contains("score")))
    val first = batches.head.data.collect()
    assert(first.length == 1 && first(0).isNullAt(first(0).fieldIndex("score")))
  }

  test("ALTER TABLE ADD COLUMN works through the SQL catalog") {
    val root = Files.createTempDirectory("graft_evo_cat_").toString
    spark.conf.set("spark.sql.catalog.graft_evo",
      classOf[org.apache.spark.sql.graftshim.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_evo.location", root)
    spark.sql(
      "CREATE TABLE graft_evo.t (id BIGINT, v STRING) TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_evo.t VALUES (1, 'a')")
    spark.sql("ALTER TABLE graft_evo.t ADD COLUMN tag STRING")
    spark.sql("INSERT INTO graft_evo.t VALUES (2, 'b', 'new')")
    val rows = spark.sql("SELECT id, tag FROM graft_evo.t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, None), (2L, Some("new"))))
  }

  test("nested ADD COLUMN: old files null-fill the struct field; SQL path agrees") {
    val orders = Tables.read(spark, sfDir, "orders").limit(200)
    val nested = orders.select(col("o_orderkey"),
      struct(col("o_orderstatus").as("status"), col("o_totalprice").as("price")).as("meta"))
    val dir = Files.createTempDirectory("graft_nestadd_").toString
    val ds = SpaceDataset.create(spark, dir + "/tbl", nested.schema, Seq("o_orderkey"))
    ds.append(nested.filter(col("o_orderkey") <= 1000L))

    val beforeMax = ds.storage.metadata.maxFieldId max
      graft.format.FieldIds.maxAssignedId(ds.storage.schema)
    ds.addColumn("meta.band", StringType)
    // the nested field got a FRESH id past the watermark
    val metaField = ds.storage.schema("meta").dataType.asInstanceOf[StructType]("band")
    assert(graft.format.FieldIds.fieldId(metaField) > beforeMax)

    ds.append(nested.filter(col("o_orderkey") > 1000L)
      .withColumn("meta", struct(col("meta.status").as("status"),
        col("meta.price").as("price"),
        when(col("meta.price") > 150000.0, "hi").otherwise("lo").as("band"))))

    val out = ds.readAll()
      .select(col("o_orderkey"), col("meta.status"), col("meta.price"), col("meta.band"))
    assert(out.count() == nested.count())
    // old rows null-fill band; new rows populate it
    assert(out.filter(col("o_orderkey") <= 1000L && col("band").isNotNull).count() == 0)
    assert(out.filter(col("o_orderkey") > 1000L && col("band").isNull).count() == 0)

    // duplicate / missing-parent / non-struct-parent all fail loudly
    intercept[IllegalArgumentException] { ds.addColumn("meta.band", StringType) }
    intercept[IllegalArgumentException] { ds.addColumn("nope.x", StringType) }
    intercept[IllegalArgumentException] { ds.addColumn("o_orderkey.x", StringType) }

    // SQL: ALTER TABLE ADD COLUMNS (meta.src STRING) through the catalog
    val cat = "gnest" + java.util.UUID.randomUUID().toString.replace("-", "").take(6)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graftshim.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.location", dir)
    try {
      spark.sql(s"ALTER TABLE $cat.tbl ADD COLUMNS (meta.src STRING)")
      val viaSql = spark.sql(s"SELECT meta.src AS src FROM $cat.tbl")
      assert(viaSql.filter(col("src").isNotNull).count() == 0) // all null-filled
      ds.refresh()
      assert(ds.storage.schema("meta").dataType.asInstanceOf[StructType]
        .fieldNames.toSeq == Seq("status", "price", "band", "src"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.location")
    }
  }

  test("renameColumn is metadata-only: old files read under the new name") {
    val loc = Files.createTempDirectory("graft_ren_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, kvSchema, Seq("id"))
    ds.append(kv(1L -> "a", 2L -> "b"))
    ds.renameColumn("v", "label")

    assert(ds.schema.fieldNames.toSeq == Seq("id", "label"))
    // appends arrive under the NEW logical name; files keep physical "v"
    import spark.implicits._
    ds.append(Seq((3L, "c")).toDF("id", "label"))
    val got = ds.readAll().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // filters on the logical name work (and PK pruning still plans)
    assert(ds.readAll().filter(col("label") === "c").count() == 1)
    assert(ds.read(filter = Some(col("id") === 2L)).count() == 1)
    // DML through the logical name
    ds.delete(col("label") === "a")
    assert(ds.readAll().count() == 2)
    // CDC reads under the current logical names
    val batches = ds.diff("0", ds.storage.metadata.currentSnapshotId.toString)
    assert(batches.forall(b => b.data.schema.fieldNames.forall(Seq("id", "label").contains)))
    // rename back to the physical name empties the mapping
    ds.renameColumn("label", "v")
    assert(ds.storage.metadata.renames.isEmpty)
    // collisions rejected
    intercept[IllegalArgumentException] { ds.renameColumn("v", "id") }
    intercept[IllegalArgumentException] { ds.renameColumn("nope", "x") }
  }

  test("dropColumn retires the field id; re-added name gets a fresh id") {
    val loc = Files.createTempDirectory("graft_drop_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, kvSchema, Seq("id"))
    ds.append(kv(1L -> "a", 2L -> "b"))
    val droppedId = graft.format.FieldIds.fieldId(ds.schema("v"))

    ds.dropColumn("v")
    assert(ds.schema.fieldNames.toSeq == Seq("id"))
    assert(ds.readAll().columns.toSeq == Seq("id"))

    // re-adding the same NAME must NOT reuse the retired id (a recycled
    // id would alias old manifest stats/file data onto the new column)
    ds.addColumn("v", StringType)
    val newId = graft.format.FieldIds.fieldId(ds.schema("v"))
    assert(newId != droppedId, s"field id $droppedId was recycled")
    // old files' physical "v" data must NOT leak into the new "v"
    assert(ds.readAll().collect().forall(_.isNullAt(1)))

    intercept[IllegalArgumentException] { ds.dropColumn("id") } // PK
  }

  test("generated physical name dodges a dropped user column of that literal name") {
    val loc = Files.createTempDirectory("graft_dodge_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, kvSchema, Seq("id"))
    ds.append(kv(1L -> "a"))
    // a user column whose literal name matches the physical name the
    // engine would generate when "v" is later re-added: decoy consumes
    // the next field id d, so the re-add's start id is d+1
    val decoy = "v_f" + (math.max(ds.storage.metadata.maxFieldId,
      graft.format.FieldIds.maxAssignedId(ds.storage.schema)) + 2)
    ds.addColumn(decoy, StringType)
    import spark.implicits._
    ds.append(Seq(("2", 2L, "b")).toDF(decoy, "id", "v").select("id", "v", decoy))
    ds.dropColumn(decoy)
    ds.dropColumn("v")

    // re-add "v": its generated physical name must NOT collide with the
    // dropped decoy, or the decoy's bytes would resurrect into "v"
    ds.addColumn("v", StringType)
    assert(ds.schema.fieldNames.toSeq == Seq("id", "v"))
    val got = ds.readAll().collect()
      .map(r => (r.getLong(r.fieldIndex("id")), Option(r.get(r.fieldIndex("v"))))).toSet
    assert(got == Set((1L, None), (2L, None)),
      "dropped bytes resurrected into the re-added column")
    // and the physical schema holds no duplicate names
    val phys = ds.storage.schema.fieldNames.toSeq
    assert(phys.distinct == phys)

    // the same dodge at depth 2: a struct member whose literal name is
    // the one generated when member "b" is re-added
    val nds = SpaceDataset.create(spark,
      Files.createTempDirectory("graft_dodge_n_").toString + "/tbl",
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("meta", StructType(Seq(
          StructField("a", StringType), StructField("b", StringType)))))),
      Seq("id"))
    nds.append(Seq((1L, "a1", "b1")).toDF("id", "a", "b")
      .select(col("id"), struct(col("a"), col("b")).as("meta")))
    val nDecoy = "b_f" + (math.max(nds.storage.metadata.maxFieldId,
      graft.format.FieldIds.maxAssignedId(nds.storage.schema)) + 2)
    nds.addColumn(s"meta.$nDecoy", StringType)
    nds.append(Seq((2L, "a2", "b2", "d2")).toDF("id", "a", "b", nDecoy)
      .select(col("id"), struct(col("a"), col("b"), col(nDecoy)).as("meta")))
    nds.dropColumn(s"meta.$nDecoy")
    nds.dropColumn("meta.b")

    nds.addColumn("meta.b", StringType)
    assert(nds.schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("a", "b"))
    val nGot = nds.readAll().select(col("id"), col("meta.b")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(nGot == Set((1L, None), (2L, None)),
      "dropped member bytes resurrected into the re-added member")
    val nPhys = nds.storage.schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq
    assert(nPhys.distinct == nPhys && !nPhys.contains(nDecoy), nPhys)
  }

  test("a write-cluster column cannot be dropped; the table keeps appending") {
    import spark.implicits._
    val rows = (lo: Long) => Seq((lo, "a", 3), (lo + 1, "b", 1)).toDF("id", "v", "c")
    val ds = SpaceDataset.create(spark,
      Files.createTempDirectory("graft_drop_wc_").toString + "/tbl",
      rows(0L).schema, Seq("id"), writeClusterBy = Seq("c"))
    ds.append(rows(1L))
    intercept[IllegalArgumentException] { ds.dropColumn("c") }
    assert(ds.schema.fieldNames.toSeq == Seq("id", "v", "c"))
    assert(ds.storage.metadata.writeClusterBy == Seq("c"))
    // the write-cluster repartition still resolves its column
    ds.append(rows(10L))
    assert(ds.countRows() == 4)
  }

  test("nested RENAME is metadata-only: reads, appends, DML and SQL speak the new name") {
    val orders = Tables.read(spark, sfDir, "orders").limit(200)
    val nested = orders.select(col("o_orderkey"),
      struct(col("o_orderstatus").as("status"), col("o_totalprice").as("price")).as("meta"))
    val dir = Files.createTempDirectory("graft_nren_").toString
    val ds = SpaceDataset.create(spark, dir + "/tbl", nested.schema, Seq("o_orderkey"))
    ds.append(nested.filter(col("o_orderkey") <= 1000L))

    ds.renameColumn("meta.price", "amount")
    assert(ds.schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("status", "amount"))
    // physical member name in files/metadata never changes
    assert(ds.storage.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("status", "price"))

    // appends speak the NEW name — and a DIFFERENT inner order must
    // realign BY NAME, not silently positionally
    ds.append(nested.filter(col("o_orderkey") > 1000L)
      .select(col("o_orderkey"), struct(
        col("meta.price").as("amount"), col("meta.status").as("status")).as("meta")))
    val expect = nested.select(col("o_orderkey"),
      col("meta.status").as("s"), col("meta.price").as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val got = ds.readAll().select(col("o_orderkey"),
      col("meta.status"), col("meta.amount"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == expect)

    // filters and DML through the logical nested name
    val hi = nested.filter(col("meta.price") > 150000.0).count()
    assert(ds.readAll().filter(col("meta.amount") > 150000.0).count() == hi)
    assert(ds.read(filter = Some(col("meta.amount") > 150000.0)).count() == hi)
    ds.delete(col("meta.amount") > 150000.0)
    assert(ds.readAll().count() == nested.count() - hi)

    // stale physical name no longer resolves; collisions rejected
    intercept[IllegalArgumentException] { ds.renameColumn("meta.price", "x") }
    intercept[IllegalArgumentException] { ds.renameColumn("meta.amount", "status") }
    intercept[IllegalArgumentException] { ds.addColumn("meta.amount", StringType) }

    // SQL surface: logical schema, nested WHERE/projection, ALTER RENAME
    val cat = "gnren" + java.util.UUID.randomUUID().toString.replace("-", "").take(6)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graftshim.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.location", dir)
    try {
      val viaSql = spark.sql(
        s"SELECT meta.amount AS amount FROM $cat.tbl WHERE meta.amount > 100000.0")
      assert(viaSql.count() ==
        ds.readAll().filter(col("meta.amount") > 100000.0).count())
      // the filter reaches the parquet scan under the PHYSICAL member
      // name (the logical->physical expression translation in
      // GraftScanBuilder survives nested renames)
      val plan = viaSql.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("meta.price"),
        s"nested filter not pushed under the physical name:\n$plan")
      spark.sql(s"ALTER TABLE $cat.tbl RENAME COLUMN meta.amount TO price")
      ds.refresh()
      // renamed back to the physical name -> mapping empties
      assert(ds.storage.metadata.nestedRenames.isEmpty)
      assert(spark.sql(s"SELECT meta.price FROM $cat.tbl").count() == ds.readAll().count())

      // rename BOTH layers: the struct column and a member under it
      spark.sql(s"ALTER TABLE $cat.tbl RENAME COLUMN meta TO info")
      spark.sql(s"ALTER TABLE $cat.tbl RENAME COLUMN info.status TO state")
      val both = spark.sql(
        s"SELECT info.state AS state FROM $cat.tbl WHERE info.state IS NOT NULL")
      assert(both.count() == ds.readAll().count())
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.location")
    }
  }

  test("nested DROP retires the member; a re-added name never resurrects old bytes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ndrop_").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("meta", StructType(Seq(
        StructField("a", StringType), StructField("b", StringType))))))
    val ds = SpaceDataset.create(spark, dir + "/tbl", schema, Seq("id"))
    ds.append(Seq((1L, ("a1", "b1")), (2L, ("a2", "b2")))
      .toDF("id", "meta").select(col("id"),
        struct(col("meta._1").as("a"), col("meta._2").as("b")).as("meta")))

    ds.dropColumn("meta.b")
    assert(ds.schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq == Seq("a"))
    assert(ds.readAll().select("meta.*").columns.toSeq == Seq("a"))

    // re-add under the SAME name: old files' "b" bytes must NOT leak back
    ds.addColumn("meta.b", StringType)
    assert(ds.readAll().filter(col("meta.b").isNotNull).count() == 0,
      "dropped member's bytes resurrected")
    // the re-added member lives under a GENERATED physical name + mapping
    assert(ds.storage.metadata.nestedRenames.values.toSeq == Seq("b"))
    // new appends populate it under the logical name
    ds.append(Seq((3L, "a3", "b3")).toDF("id", "a", "b")
      .select(col("id"), struct(col("a"), col("b")).as("meta")))
    val got = ds.readAll().select(col("id"), col("meta.a"), col("meta.b"))
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got == Set((1L, "a1", None), (2L, "a2", None), (3L, "a3", Some("b3"))))

    // guards: last member, unknown member, drop through SQL
    intercept[IllegalArgumentException] { ds.dropColumn("meta.nope") }
    val cat = "gndrop" + java.util.UUID.randomUUID().toString.replace("-", "").take(6)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graftshim.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.location", dir)
    try {
      // a rejected nested change applies none of the ALTER's changes
      intercept[Exception] { spark.sql(s"ALTER TABLE $cat.tbl DROP COLUMNS (meta.b, meta.nope)") }
      ds.refresh()
      assert(ds.schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
        Seq("a", "b"))
      spark.sql(s"ALTER TABLE $cat.tbl DROP COLUMN meta.b")
      ds.refresh()
      assert(ds.schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq == Seq("a"))
      intercept[Exception] { spark.sql(s"ALTER TABLE $cat.tbl DROP COLUMN meta.a") }
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.location")
    }
  }

  test("update rewrites matching rows CoW and CDC encodes DELETE+ADD") {
    val loc = Files.createTempDirectory("graft_upd_").toString + "/tbl"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType),
      StructField("score", DoubleType)))
    import spark.implicits._
    val ds = SpaceDataset.create(spark, loc, schema, Seq("id"))
    ds.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "v", "score"))

    val snap = ds.update(col("score") >= 2.0,
      Map("v" -> concat(col("v"), lit("!")), "score" -> (col("score") * 10)))
    assert(snap == 2L)
    val got = ds.readAll().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1L, "a", 1.0), (2L, "b!", 20.0), (3L, "c!", 30.0)))

    // one snapshot; DELETE carries the old PKs, ADD the new rows
    val batches = ds.diff("1", "2")
    assert(batches.map(_.changeType) == Seq("DELETE", "ADD"))
    assert(batches.head.data.select("id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))

    // PK assignment and unknown columns rejected; no-op returns head
    intercept[IllegalArgumentException] { ds.update(lit(true), Map("id" -> lit(9L))) }
    intercept[IllegalArgumentException] { ds.update(lit(true), Map("zz" -> lit(1))) }
    val head = ds.storage.metadata.currentSnapshotId
    ds.update(col("id") > 100L, Map("score" -> lit(0.0)))
    ds.storage.reload()
    assert(ds.storage.metadata.currentSnapshotId == head)
  }

  test("SQL ALTER TABLE RENAME/DROP COLUMN and UPDATE-shaped reads") {
    val root = Files.createTempDirectory("graft_evo_cat2_").toString
    spark.conf.set("spark.sql.catalog.graft_evo2",
      classOf[org.apache.spark.sql.graftshim.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_evo2.location", root)
    spark.sql(
      "CREATE TABLE graft_evo2.t (id BIGINT, v STRING, n BIGINT) " +
        "TBLPROPERTIES ('primary_keys'='id')")
    spark.sql("INSERT INTO graft_evo2.t VALUES (1, 'a', 10), (2, 'b', 20)")

    spark.sql("ALTER TABLE graft_evo2.t RENAME COLUMN v TO label")
    // logical name visible; old data readable; filters/pruning fine
    val rows = spark.sql(
      "SELECT id, label FROM graft_evo2.t WHERE label = 'b'").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "b")))
    // inserts under the new name land in the physical column
    spark.sql("INSERT INTO graft_evo2.t VALUES (3, 'c', 30)")
    assert(spark.sql("SELECT label FROM graft_evo2.t ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // aggregates over the renamed column
    assert(spark.sql("SELECT count(label) AS c FROM graft_evo2.t").collect()(0).getLong(0) == 3L)

    spark.sql("ALTER TABLE graft_evo2.t DROP COLUMN n")
    assert(spark.sql("SELECT * FROM graft_evo2.t").columns.toSeq == Seq("id", "label"))
    // DELETE through the renamed name
    spark.sql("DELETE FROM graft_evo2.t WHERE label = 'a'")
    assert(spark.sql("SELECT count(*) AS c FROM graft_evo2.t").collect()(0).getLong(0) == 2L)
  }

  test("type widening: old files read wide, pruning + membership survive, guards hold") {
    import org.apache.spark.sql.types._
    val loc = java.nio.file.Files.createTempDirectory("graft_widen_").toString + "/t"
    val narrow = spark.range(1, 1001).select(
      col("id").as("k"),
      col("id").cast("int").as("i"),
      (col("id") / 4).cast("float").as("f"),
      struct(col("id").cast("int").as("m")).as("st"))
    val ds = SpaceDataset.create(spark, loc, narrow.schema, Seq("k"),
      statsFields = Seq("i"), bloomColumns = Seq("i"))
    ds.append(narrow.repartitionByRange(4, col("k")))
    val manifestsBefore =
      ds.storage.metadata.currentSnapshot.manifestFiles.indexManifestFiles.toSet

    ds.widenColumn("i", LongType)
    ds.widenColumn("f", DoubleType)
    ds.widenColumn("st.m", LongType) // nested member widens too
    // metadata-only: not a byte rewritten
    assert(ds.storage.metadata.currentSnapshot
      .manifestFiles.indexManifestFiles.toSet == manifestsBefore)
    assert(ds.schema("i").dataType == LongType)
    assert(ds.schema("f").dataType == DoubleType)

    // old int32/float files read under the wide schema, values exact
    assert(ds.readAll().agg(sum("i")).collect()(0).getLong(0) == (1L to 1000L).sum)
    assert(ds.read(filter = Some(col("f") === 2.5d)).count() == 1) // k = 10
    assert(ds.readAll().filter(col("st.m") === 7L).count() == 1)

    // post-widen append with beyond-int32 values
    val wide = spark.range(1001, 1101).select(
      col("id").as("k"),
      (col("id") + 10000000000L).as("i"),
      (col("id") / 4.0).as("f"),
      struct((col("id") + 20000000000L).as("m")).as("st"))
    ds.append(wide.repartitionByRange(2, col("k")))
    assert(ds.countRows() == 1100)

    // stats pruning engages across generations: a beyond-int32 literal
    // falsifies every pre-widen file
    val plan = ds.plan(Some(col("i") >= 10000000000L))
    assert(plan.files.size < plan.totalFiles && plan.files.nonEmpty,
      s"widened stats must prune (kept ${plan.files.size}/${plan.totalFiles})")
    assert(ds.read(filter = Some(col("i") >= 10000000000L)).count() == 100)

    // membership (bloom/dict) still engages on OLD files probed with
    // widened literals: a present value matches, an absent one prunes
    assert(ds.read(filter = Some(col("i") === 500L)).count() == 1)
    assert(ds.read(filter = Some(col("i") === 999999L)).count() == 0)

    // guards: narrowing / crossing / lossy promotions rejected
    intercept[IllegalArgumentException](ds.widenColumn("i", IntegerType))
    intercept[IllegalArgumentException](ds.widenColumn("f", FloatType))
    intercept[IllegalArgumentException](ds.widenColumn("k", DoubleType))
    val bloc = java.nio.file.Files.createTempDirectory("graft_widenb_").toString + "/t"
    val bds = SpaceDataset.create(spark, bloc,
      narrow.select("k", "i").schema, Seq("k"),
      bucketColumns = Seq("i"), numBuckets = 4)
    intercept[IllegalArgumentException](bds.widenColumn("i", LongType))
  }

  test("SQL ALTER COLUMN TYPE widens through the catalog; DML keeps working") {
    val dir = java.nio.file.Files.createTempDirectory("graft_widen_sql_").toString
    val df = spark.range(1, 101).select(col("id").as("k"),
      col("id").cast("int").as("n"))
    val ds = SpaceDataset.create(spark, dir + "/t", df.schema, Seq("k"))
    ds.append(df)
    TempCatalog.withTempCatalog(spark, dir, "graft_wsql") { cat =>
      spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN n TYPE BIGINT")
      assert(spark.sql(s"DESCRIBE $cat.t").collect()
        .exists(r => r.getString(0) == "n" && r.getString(1) == "bigint"))
      spark.sql(s"INSERT INTO $cat.t VALUES (200, 30000000000)")
      assert(spark.sql(s"SELECT sum(n) AS s FROM $cat.t").collect()(0).getLong(0) ==
        (1L to 100L).sum + 30000000000L)
      spark.sql(s"UPDATE $cat.t SET n = n + 1 WHERE k <= 2")
      assert(spark.sql(s"SELECT n FROM $cat.t WHERE k = 1").collect()(0).getLong(0) == 2L)
    }
  }

  test("widen + row-wise MV: refresh refuses the downcast write until the MV widens too") {
    import graft.views._
    import spark.implicits._
    def loc(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_$p").toString + "/tbl"
    val rows = Seq((1L, 10), (2L, 20), (3L, 30)).toDF("id", "v")
    val src = SpaceDataset.create(spark, loc("wmv_src"), rows.schema, Seq("id"))
    src.append(rows)
    // materialize runs the initial refresh itself
    val mv = View.ofDataset(src).filterExpr("v > 15")
      .materialize(spark, loc("wmv_mv"), Seq("id"))
    assert(mv.refreshedTo.contains(src.storage.metadata.currentSnapshotId))

    src.widenColumn("v", org.apache.spark.sql.types.LongType)
    src.append(Seq((4L, 9999999999L), (5L, 8L)).toDF("id", "v"))
    // the transformed CDC delta now carries bigint; the MV table stores
    // int — writing the file as-is would commit bytes the MV schema
    // cannot read back. The append guard refuses and names the remedy.
    val e = intercept[IllegalArgumentException](mv.refresh())
    assert(e.getMessage.contains("widenColumn"), e.getMessage)
    // widen the MV's own column → refresh proceeds and values are exact
    mv.dataset.widenColumn("v", org.apache.spark.sql.types.LongType)
    assert(mv.refresh() == 1)
    assert(mv.dataset.readAll().select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((2L, 20L), (3L, 30L), (4L, 9999999999L)))
  }

  test("appends upcast narrower frames in place; wider frames refuse") {
    import spark.implicits._
    def loc(p: String) =
      java.nio.file.Files.createTempDirectory(s"graft_$p").toString + "/tbl"
    val wide = Seq((1L, 5L)).toDF("id", "v")
    val dsWide = SpaceDataset.create(spark, loc("upc_w"), wide.schema, Seq("id"))
    // INT frame into a BIGINT table: upcast in place — new files match
    // the declared schema (no reliance on read-time widening for them)
    dsWide.append(Seq((2, 7)).toDF("id", "v")
      .select(col("id").cast("long").as("id"), col("v").as("v")))
    assert(dsWide.readAll().collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((2L, 7L)))
    // BIGINT frame into an INT table: refuse loudly
    val narrow = Seq((1, 5)).toDF("id", "v")
    val dsNarrow = SpaceDataset.create(spark, loc("upc_n"), narrow.schema, Seq("id"))
    val e = intercept[IllegalArgumentException](
      dsNarrow.append(Seq((2L, 7L)).toDF("id", "v")
        .select(col("id").cast("int").as("id"), col("v").as("v"))))
    assert(e.getMessage.contains("upcast"), e.getMessage)
  }
}
