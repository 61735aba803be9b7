package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose key distribution is heavy-tailed
  * (user_id-style keys at 100 TB). AQE's skew-join handles most cases at
  * runtime; explicit salting is for when one side can be replicated:
  * the BIG side gets a random salt in [0, salts), the SMALL side is
  * exploded `salts`× so every (key, salt) bucket finds its match — the
  * hot key's rows spread over `salts` tasks instead of one straggler. */
object SkewUtils {

  /** Spread a CPU-heavy kernel's input over the cluster when the scan
    * produced fewer partitions than cores (guide §2.5 "input skew":
    * per-row compute — tokenize/shingle/cosine — decouples cost from
    * bytes, so a byte-sized split of a small-but-dense corpus leaves
    * all but one core idle; a single parquet row group is not
    * splittable at all). Round-robin repartition to the cluster's
    * default parallelism — deterministic (sort-before-repartition is
    * on by default), and a no-op at scale: any corpus big enough to
    * matter already scans as ≥ defaultParallelism splits, so the
    * branch never fires and no payload shuffle is added. Decided from
    * the physical plan, without running a job. */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(df.queryExecution.sparkPlan) >= math.min(p, 8)) df
    else df.repartition(p)
  }

  /** Input splits of `plan`: a file scan's split count, another leaf's
    * RDD partitions (creating them runs no job), else the widest
    * child's. A shuffle is sized by its input here, as AQE's coalescing
    * sizes it by bytes; its own count is only known once the stages
    * below it have run. */
  private def plannedPartitions(plan: SparkPlan): Int = plan match {
    case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    case leaf if leaf.children.isEmpty => leaf.execute().getNumPartitions
    case node => node.children.map(plannedPartitions).max
  }

  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      salts: Int = 8,
      joinType: String = "inner",
      extraCond: (DataFrame, DataFrame) => Column = null): DataFrame = {
    require(salts > 0)
    // the replicated side's key column is dropped from the output, so a
    // small-side-only row of a right/full outer join would surface with
    // an irrecoverable NULL key — refuse those shapes loudly
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti", "cross")
      .contains(joinType.toLowerCase.replace(" ", "_")),
      s"saltedJoin does not support joinType=$joinType: small-side-only " +
        "rows would lose their key (the replica's copy is dropped)")
    // pmod of a stable per-row hash: deterministic, no RNG in the plan
    val salted = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col).toIndexedSeq: _*)), lit(salts)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    // extraCond is evaluated INSIDE the join (on the two input rows,
    // before a joined output row is built) — for self-joins with wide
    // payload columns this skips materializing the payload into every
    // candidate pair row, which dominates when most pairs fail the
    // condition
    val cond0 = salted(key) === replicated(key) &&
      salted("__salt") === replicated("__salt")
    val cond = if (extraCond == null) cond0
      else cond0 && extraCond(salted, replicated)
    // keep the BIG side's key (NULL-safe for outer joins) and drop the
    // replica's copy so the output matches the USING-join shape
    salted.join(replicated, cond, joinType)
      .drop(replicated(key)).drop(salted("__salt")).drop(replicated("__salt"))
  }
}
