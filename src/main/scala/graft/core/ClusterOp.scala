package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.format._

/** CLUSTER BY maintenance op: rewrite the table's index files
  * range-partitioned and sorted by the given columns, so per-file
  * min/max stats become tight, disjoint ranges and falsifiable-filter
  * pruning ([[Pruning]]) on those columns skips almost everything.
  *
  * Declared stats columns ([[Storage.statsColumns]]) only pay off when
  * files are clustered on them — after ingestion order scatters a
  * column's values across every file, each file spans the full value
  * range and nothing is falsifiable. At 100 TB this op is the
  * difference between "stats exist" and "stats prune": one scheduled
  * rewrite turns every subsequent filtered scan into a partition's
  * worth of IO. The reference has no analog (no compaction either);
  * same family as Delta/Iceberg clustering maintenance.
  *
  * Unlike [[CompactOp]] (shuffle-free by design) this op inherently
  * SHUFFLES the rewritten bytes once — that is the price of global
  * ordering, paid once per rewrite, amortized over every pruned scan.
  *
  *  - Record-field addresses ride through untouched (payload files are
  *    never read or moved), as in compaction and CoW delete.
  *  - NO change log: physically-reorganizing, logically-idempotent —
  *    `diff()` across a clustering snapshot reports nothing and MV
  *    refresh skips it.
  *  - Replaced files stay on disk for time travel until
  *    [[GcOps.garbageCollect]].
  */
object ClusterOp {

  final case class ClusterResult(rewrittenFiles: Int, outputFiles: Int, rows: Long)

  /** Build the clustering patch, or None for an empty table.
    *
    * `zorder = false`: lexicographic range-sort — optimal pruning on the
    * FIRST column, nothing for the rest. `zorder = true`: sort by a
    * Morton (bit-interleaved) key over ALL `sortCols`, so each file
    * covers a small tile of the multi-dimensional value space and
    * min/max stats prune filters on EVERY clustered column (the
    * Delta/Iceberg OPTIMIZE ZORDER BY tradeoff: slightly looser
    * per-column ranges in exchange for pruning on all dimensions). */
  def cluster(
      spark: SparkSession,
      storage: Storage,
      snapshotId: Long,
      sortCols: Seq[String],
      targetFileRows: Long,
      zorder: Boolean = false,
      incremental: Boolean = false): Option[(Patch, ClusterResult)] = {
    require(sortCols.nonEmpty, "clusterBy requires at least one column")
    require(storage.metadata.numBuckets == 0,
      "clustering would destroy the hash-bucket layout of a bucketed table")
    require(targetFileRows > 0)
    require(!zorder || (sortCols.size >= 2 && sortCols.size <= 4),
      "zorder needs 2-4 columns (16 bits per dimension in a 64-bit key)")
    require(!(zorder && incremental),
      "incremental clustering needs 1-D file ranges; zorder tiles are multi-D")
    sortCols.foreach { c =>
      require(storage.schema.fieldNames.contains(c), s"unknown cluster column $c")
      require(!storage.recordFields.contains(c), s"record field $c cannot cluster")
      if (zorder) storage.schema(c).dataType match {
        case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType => ()
        case dt => throw new IllegalArgumentException(
          s"zorder column $c must be numeric, got $dt")
      }
    }
    val snap = storage.snapshotOrFail(snapshotId)
    if (snap.manifestFiles.indexManifestFiles.isEmpty) return None

    val mrows = ManifestIO.readIndexManifestRowsDriver(storage,
      spark.sparkContext.hadoopConfiguration, snap.manifestFiles.indexManifestFiles).map(_._2)
    val mschema = ManifestIO.manifestSchema(storage)
    val fIdx = mschema.fieldIndex(ManifestIO.FileCol)
    val nIdx = mschema.fieldIndex(ManifestIO.NumRowsCol)
    val allFiles = mrows.map(r => (r.getString(fIdx), r.getLong(nIdx)))
    if (allFiles.isEmpty) return None

    // INCREMENTAL maintenance: keep the maximum-rows subset of files
    // whose sort-key ranges are already pairwise disjoint (the
    // "backbone" — after a full clustering that is the whole table) and
    // rewrite ONLY the rest, merged into ONE sorted delta tier. The op
    // CONVERGES at a two-tier layout (backbone + disjoint delta tier =
    // point reads touch ≤2 files): when the remainder is already
    // pairwise disjoint the pass is a no-op, so repeated passes never
    // re-shuffle the same tier. At 100 TB this turns steady-state cost
    // from O(table) per pass into O(delta tier + new bytes): the
    // clustered bulk is never reread; a periodic FULL pass merges the
    // tiers when the delta tier has grown enough to matter.
    val files =
      if (!incremental) allFiles
      else incrementalRewriteSet(spark, storage, sortCols.head, allFiles, mschema, mrows) match {
        case None => return None // already ≤2 clean tiers
        case Some(dirty) => allFiles.filter(f => dirty.contains(f._1))
      }
    if (files.isEmpty) return None // already fully clustered

    val totalRows = files.map(_._2).sum
    val parts = math.max(1, math.ceil(totalRows.toDouble / targetFileRows).toInt)
    val (patch, written) = RewriteOp.replaceFiles(spark, storage, snapshotId,
        files.map(_._1)) { scan =>
      val rows =
        if (!zorder)
          scan.repartitionByRange(parts, sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*)
        else {
          val zk = zorderKey(scan, sortCols)
          // the interleaved key drives BOTH the range partitioning and the
          // in-partition sort; AppendOp's schema-align select drops it
          scan.withColumn("__zkey", zk)
            .repartitionByRange(parts, col("__zkey"))
            .sortWithinPartitions(col("__zkey"))
        }
      val p = AppendOp.writeFilesWithMeta(spark, storage, rows).patch
      (p, p.statsDelta.numRows)
    }
    Some((patch, ClusterResult(files.size, RewriteOp.fileCount(written),
      written.statsDelta.numRows)))
  }

  /** Merge trigger for incremental clustering: when the delta tier
    * holds more than this fraction of the backbone's rows, the pass
    * rewrites EVERYTHING (tiers merge into one backbone) instead of
    * re-rewriting an ever-growing delta tier each pass. Geometric: with
    * f = 0.5 a table absorbing steady appends pays O(log N) full merges
    * over its life, and per-pass cost stays O(delta) between them. */
  private val MergeFractionKey = "spark.graft.cluster.mergeFraction"
  private val DefaultMergeFraction = 0.5

  /** The incremental pass's rewrite set, or None for a no-op.
    *
    * Backbone = the maximum-rows subset of files whose sort-key
    * [min,max] ranges (from manifest stats) are pairwise disjoint —
    * weighted interval scheduling, driver-side O(files log files).
    * Dirty = everything else, plus any file lacking stats on the sort
    * column (it must be rewritten to gain a tight range). No-op when
    * the dirty set is empty OR is itself already pairwise disjoint
    * (the converged two-tier layout) — UNLESS the delta tier has grown
    * past [[MergeFractionKey]] × backbone rows, in which case the pass
    * self-triggers a FULL merge (no operator has to remember to run
    * one). Touching ranges (prev.max == next.min) count as disjoint:
    * range-partitioned tiers stay stable and a point read pays at most
    * one extra file. */
  private def incrementalRewriteSet(
      spark: SparkSession,
      storage: Storage,
      field: String,
      files: Seq[(String, Long)],
      mschema: StructType,
      mrows: Seq[Row]): Option[Set[String]] = {
    val all = files.map(_._1).toSet
    val f = ManifestIO.fieldAtPath(storage.schema, field)
      .filter(x => ManifestIO.statsEligible(x.dataType))
      .getOrElse(return Some(all)) // no stats possible: full rewrite
    val si = mschema.fieldNames.indexOf(ManifestIO.statsColName(FieldIds.fieldId(f)))
    if (si < 0) return Some(all)
    val stats = mrows.map(r => if (r.isNullAt(si)) null else r.getStruct(si))
    val (withStats, statless) = files.zip(stats)
      .partition { case (_, s) => s != null && !s.isNullAt(0) && !s.isNullAt(1) }
    val iv = withStats.map { case ((file, n), s) => (file, n, s.get(0), s.get(1)) }
    val keep = maxDisjointByRows(iv)
    val rest = iv.filterNot(r => keep.contains(r._1))
    val dirty = rest.map(_._1).toSet ++ statless.map(_._1._1)
    if (dirty.isEmpty) return None // fully clustered

    val mergeFraction = spark.conf.getOption(MergeFractionKey).map { raw =>
      // fail with the key name on garbage — a bare .toDouble threw an
      // opaque NumberFormatException, and NaN/negative values would
      // silently force or disable merges mid-pass (ADVICE r10)
      val v = try raw.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$MergeFractionKey must be a finite non-negative number, got '$raw'")
      }
      require(java.lang.Double.isFinite(v) && v >= 0,
        s"$MergeFractionKey must be a finite non-negative number, got '$raw'")
      v
    }.getOrElse(DefaultMergeFraction)
    val backboneRows = iv.filter(r => keep.contains(r._1)).map(_._2).sum
    val deltaRows = rest.map(_._2).sum + statless.map(_._1._2).sum
    if (deltaRows > mergeFraction * backboneRows && backboneRows > 0)
      Some(all) // delta tier outgrew the threshold: merge the tiers
    else if (statless.isEmpty && pairwiseDisjoint(rest)) None // clean 2 tiers
    else Some(dirty)
  }

  private def pairwiseDisjoint(iv: Seq[(String, Long, Any, Any)]): Boolean = {
    val sorted = iv.sortWith((a, b) => cmpStat(a._3, b._3) < 0)
    sorted.sliding(2).forall {
      case Seq(a, b) => cmpStat(a._4, b._3) <= 0
      case _ => true
    }
  }

  /** Stats-value total order, matching the order the footer stats were
    * harvested under (numeric natural order; UTF-8 unsigned bytes for
    * strings — parquet's binary min/max comparator). */
  private[core] def cmpStat(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Float, y: Float) => java.lang.Float.compare(x, y)
    case (x: String, y: String) =>
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < xb.length && i < yb.length) {
        val c = Integer.compare(xb(i) & 0xff, yb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      Integer.compare(xb.length, yb.length)
    case _ => 0 // unknown stat shape: treat as overlapping (never kept)
  }

  /** Classic weighted interval scheduling over (file, rows, lo, hi):
    * the kept set maximizes total rows under pairwise disjointness. */
  private def maxDisjointByRows(iv: Seq[(String, Long, Any, Any)]): Set[String] = {
    if (iv.isEmpty) return Set.empty
    val sorted = iv.sortWith((a, b) => cmpStat(a._4, b._4) < 0).toIndexedSeq
    val n = sorted.size
    // p(i): rightmost j < i whose hi <= lo_i (compatible predecessor)
    val p = Array.tabulate(n) { i =>
      var lo = 0; var hi = i - 1; var ans = -1
      while (lo <= hi) {
        val m = (lo + hi) >>> 1
        if (cmpStat(sorted(m)._4, sorted(i)._3) <= 0) { ans = m; lo = m + 1 }
        else hi = m - 1
      }
      ans
    }
    val dp = new Array[Long](n + 1)
    val take = new Array[Boolean](n)
    for (i <- 1 to n) {
      val w = sorted(i - 1)._2 + (if (p(i - 1) >= 0) dp(p(i - 1) + 1) else 0L)
      if (w > dp(i - 1)) { dp(i) = w; take(i - 1) = true } else dp(i) = dp(i - 1)
    }
    val keep = Set.newBuilder[String]
    var i = n
    while (i > 0) {
      if (take(i - 1)) {
        keep += sorted(i - 1)._1
        i = p(i - 1) + 1
      } else i -= 1
    }
    keep.result()
  }

  private val ZBits = 16 // per-dimension resolution: 65k tiles per axis

  /** Morton key over numeric columns: each value is linearly normalized
    * into [0, 2^16) via the column's global min/max (one tiny agg job —
    * at 100 TB the executors compute partial min/max map-side and ship
    * one row), then the per-column 16-bit ranks are bit-interleaved.
    * Nulls sort first (rank 0). Static expression tree, codegen'd. */
  private[core] def zorderKey(df: DataFrame, cols: Seq[String]): Column = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"mn_$c"), max(col(c).cast("double")).as(s"mx_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val maxRank = (1L << ZBits) - 1
    val ranks = cols.zipWithIndex.map { case (c, i) =>
      val mn = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
      val mx = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
      val span = if (mx > mn) mx - mn else 1.0
      least(lit(maxRank), greatest(lit(0L),
        ((col(c).cast("double") - lit(mn)) / lit(span) * lit(maxRank.toDouble)).cast("long")))
        .cast("long")
    }
    val n = ranks.size
    val terms = for { i <- 0 until n; j <- 0 until ZBits } yield
      shiftleft(shiftright(ranks(i), j).bitwiseAND(lit(1L)), j * n + i)
    coalesce(terms.reduce(_.bitwiseOR(_)), lit(0L))
  }
}
