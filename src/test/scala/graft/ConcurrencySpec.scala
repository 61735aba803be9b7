package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Optimistic-concurrency stress: real racing writers. The protocol is
  * single-winner-per-head (storage.py:545-596 semantics): losers abort
  * with ConcurrentCommitException and may retry on the new head. After
  * all writers finish, the table must contain exactly the union of the
  * committed writers' rows — no lost updates, no duplicates. */
class ConcurrencySpec extends AnyFunSuite {
  import TestSpark._

  test("racing appends: every committed writer's rows survive, losers abort cleanly") {
    val orders = Tables.read(spark, sfDir, "orders")
    val loc = Files.createTempDirectory("graft_conc_").toString + "/tbl"
    SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))

    val writers = 4
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val committed = new AtomicInteger(0)
    val aborted = new AtomicInteger(0)

    val futures = (0 until writers).map { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          val ds = SpaceDataset.load(spark, loc)
          val slice = orders.filter(col("o_orderkey") % writers === w).limit(50)
            .withColumn("o_orderkey", col("o_orderkey") + lit(w * 1000000L))
          var attempts = 0
          var done = false
          while (!done && attempts < 10) {
            attempts += 1
            try {
              ds.append(slice)
              committed.incrementAndGet()
              done = true
            } catch {
              case _: ConcurrentCommitException => aborted.incrementAndGet()
            }
          }
          assert(done, s"writer $w failed to commit in 10 attempts")
        }
      })
    }
    start.countDown()
    futures.foreach(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()

    assert(committed.get() == writers)
    val ds = SpaceDataset.load(spark, loc)
    val expected = (0 until writers).map(w =>
      orders.filter(col("o_orderkey") % writers === w).limit(50).count()).sum
    assert(ds.readAll().count() == expected)
    // snapshot chain is linear: every commit has a distinct parent
    val parents = ds.storage.metadata.snapshots.values.flatMap(_.parentSnapshotId).toSeq
    assert(parents.distinct.size == parents.size, s"non-linear history: $parents")
  }

  test("Rewrite policy: a concurrent append does not abort a CoW delete") {
    val orders = Tables.read(spark, sfDir, "orders").limit(100)
    val loc = Files.createTempDirectory("graft_rwpol_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))
    ds.append(orders)

    val extra = orders.limit(10).withColumn("o_orderkey", col("o_orderkey") + 900000L)
    var opRuns = 0
    // build the delete patch from the pinned head, then move the head
    // with an append BEFORE the commit — the Rewrite validation must see
    // the removed manifests still present and commit anyway
    ds.storage.transaction(policy = ConflictPolicy.Rewrite) { pinned =>
      opRuns += 1
      val patch = DmlOps.delete(spark, ds.storage, pinned, col("o_orderkey") % 2 === 0)
      SpaceDataset.load(spark, loc).append(extra) // head moves
      (patch, ())
    }
    assert(opRuns == 1, "delete must commit on the first attempt")
    ds.storage.reload()
    val got = ds.readAll().select("o_orderkey").collect().map(_.getLong(0)).toSet
    val expected = orders.collect().map(_.getLong(0)).filter(_ % 2 != 0).toSet ++
      extra.collect().map(_.getLong(0))
    assert(got == expected, "both the delete and the concurrent append must survive")
  }

  test("Rewrite policy: overlapping rewrites re-run the loser from the new head") {
    val orders = Tables.read(spark, sfDir, "orders").limit(100)
    val loc = Files.createTempDirectory("graft_rwconf_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))
    ds.append(orders)

    var opRuns = 0
    ds.storage.transaction(policy = ConflictPolicy.Rewrite) { pinned =>
      opRuns += 1
      val patch = DmlOps.delete(spark, ds.storage, pinned, col("o_orderkey") % 2 === 0)
      if (opRuns == 1) {
        // a racing delete rewrites (and removes) the same manifests first
        SpaceDataset.load(spark, loc).delete(col("o_orderkey") % 10 === 0)
      }
      (patch, ())
    }
    assert(opRuns == 2, s"stale rewrite must re-run, ran $opRuns")
    ds.storage.reload()
    val got = ds.readAll().select("o_orderkey").collect().map(_.getLong(0)).toSet
    val expected = orders.collect().map(_.getLong(0))
      .filter(k => k % 2 != 0 && k % 10 != 0).toSet
    assert(got == expected)
  }

  test("committed snapshot id is the commit's own, not a precomputed guess") {
    val orders = Tables.read(spark, sfDir, "orders").limit(20)
    val loc = Files.createTempDirectory("graft_cid_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))
    ds.append(orders) // snapshot 1

    // a racing append takes the next id WHILE this transaction is open:
    // under the Append policy both commit; the id returned to THIS caller
    // must be the one its own commit produced (3), not pinned+1 (2)
    val extra = orders.limit(5).withColumn("o_orderkey", col("o_orderkey") + 700000L)
    val racing = orders.limit(5).withColumn("o_orderkey", col("o_orderkey") + 800000L)
    val id = ds.storage.commitTransaction(policy = ConflictPolicy.Append) { _ =>
      val patch = RecordIO.writeWithRecords(spark, ds.storage, extra)
      SpaceDataset.load(spark, loc).append(racing) // takes snapshot 2
      Some(patch)
    }
    assert(id == 3L, s"expected the racer to take id 2 and us id 3, got $id")
    ds.storage.reload()
    assert(ds.storage.metadata.currentSnapshotId == 3L)
    assert(ds.readAll().count() == orders.count() + 10)

    // a no-op mutation returns the branch head, as documented
    val head = ds.storage.metadata.currentSnapshotId
    assert(ds.delete(col("o_orderkey") === -1L) == head)
  }

  test("racing appendOnce redeliveries: exactly one commits, the rest resolve to None") {
    import spark.implicits._
    val loc = Files.createTempDirectory("graft_conc_eo_").toString + "/tbl"
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    SpaceDataset.create(spark, loc, rows.schema, Seq("id"))

    // N workers redeliver the SAME exactly-once batch concurrently: all
    // pass appendOnce's up-front check (the table has no txn yet), so
    // the losers hit the under-lock duplicate guard — which must
    // resolve to the documented None, not crash the worker
    val workers = 4
    val pool = Executors.newFixedThreadPool(workers)
    val start = new CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to workers).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val ds = SpaceDataset.load(spark, loc) // own handle per worker
          start.await()
          try outcomes.add(ds.appendOnce(rows, "race-sink", 1L))
          catch { case t: Throwable => errors.add(t); () }
          ()
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(errors.isEmpty, s"a redelivered worker crashed: ${errors.peek()}")
    import scala.jdk.CollectionConverters._
    val results = outcomes.asScala.toSeq
    assert(results.count(_.isDefined) == 1,
      s"expected exactly one committed delivery, got $results")
    assert(results.count(_.isEmpty) == workers - 1)
    assert(SpaceDataset.load(spark, loc).readAll().count() == 2,
      "duplicate delivery rows landed in the table")
  }

  test("stale commit locks are stolen; release only deletes the owner's lock") {
    val orders = Tables.read(spark, sfDir, "orders").limit(20)
    val loc = Files.createTempDirectory("graft_lock_").toString + "/tbl"
    val ds = SpaceDataset.create(spark, loc, orders.schema, Seq("o_orderkey"))

    // a crashed writer left a lock: foreign token, mtime far in the past
    val lock = java.nio.file.Paths.get(loc, "metadata/commit.lock")
    java.nio.file.Files.write(lock, "dead-writer-token".getBytes)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))

    // a live writer steals the stale lock and commits normally
    ds.append(orders)
    assert(ds.readAll().count() == orders.count())
    // the winner released ITS lock on the way out
    assert(!java.nio.file.Files.exists(lock))

    // a FRESH foreign lock is NOT stolen: acquisition times out instead
    // of clobbering a live writer's lock (ADVICE r1)
    java.nio.file.Files.write(lock, "live-writer-token".getBytes)
    val t0 = System.currentTimeMillis()
    intercept[ConcurrentCommitException] {
      ds.append(orders.withColumn("o_orderkey", col("o_orderkey") + 500000L))
    }
    val waited = System.currentTimeMillis() - t0
    assert(waited >= 29000L, "gave up before the acquisition timeout")
    // one wait, not one per retry: a lock timeout does not re-run the op
    assert(waited < 60000L, s"a lock timeout was retried: waited $waited ms")
    // the live writer's lock survived the loser's exit
    assert(new String(java.nio.file.Files.readAllBytes(lock)) == "live-writer-token")
    java.nio.file.Files.delete(lock)
  }

  /** 1000 rows of (id, v) in a table bucketed by id into 4 buckets. */
  private def bucketedIds(prefix: String): (String, SpaceDataset) = {
    val loc = Files.createTempDirectory(prefix).toString + "/tbl"
    val rows = spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v"))
    val ds = SpaceDataset.create(spark, loc, rows.schema, Seq("id"),
      bucketColumns = Seq("id"), numBuckets = 4)
    ds.append(rows)
    (loc, ds)
  }

  test("an append racing a rebucket is rewritten under the new layout") {
    // the source runs a rebucket on a second handle before it returns
    // its rows: the first write hashes into 4 buckets, commit time is in
    // the 8-bucket epoch. Committed as is, bucket pruning would look for
    // the appended keys in the wrong files.
    val (loc, ds) = bucketedIds("graft_rebucket_race_")
    val rebucketed = new java.util.concurrent.atomic.AtomicBoolean(false)
    ds.appendFrom(Seq(() => {
      if (rebucketed.compareAndSet(false, true))
        SpaceDataset.load(spark, loc).rebucket(Seq(8))
      spark.range(1000, 1100).select(col("id"), (col("id") * 2).as("v"))
    }))
    assert(ds.storage.metadata.numBuckets == 8)
    assert(ds.readAll().count() == 1100)
    val empty = (1000L until 1100L).count(k =>
      ds.read(filter = Some(col("id") === k)).count() != 1)
    assert(empty == 0, s"$empty of 100 point lookups of appended keys missed their row")
  }

  test("a new-files patch prepared before a rebucket fails to commit") {
    val (loc, ds) = bucketedIds("graft_rebucket_stale_")
    val patch = RecordIO.writeWithRecords(spark, ds.storage,
      spark.range(1000, 1010).select(col("id"), (col("id") * 2).as("v")))
    SpaceDataset.load(spark, loc).rebucket(Seq(8))
    val head = { ds.storage.reload(); ds.storage.metadata.currentSnapshotId }
    intercept[ConcurrentCommitException] {
      ds.storage.commitTransaction(policy = ConflictPolicy.Append)(_ => Some(patch))
    }
    ds.storage.reload()
    assert(ds.storage.metadata.currentSnapshotId == head)
    assert(ds.readAll().count() == 1000)
  }
}
