package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query maps: each implemented operator from
  * SURVEY.md §2 exposes a named query over `/root/testdata/sf*` plus (when
  * SQL-expressible) a DuckDB oracle with identical column names.
  */
object SparkEntry {

  /** The local session of the `Bench`, `RunOne` and `Verify` mains:
    * `local[n]` with `n` = `SPARK_GRAFT_CPUS` (default `defaultCores`)
    * and as many shuffle partitions, AQE on, UTC session time, the
    * graft extensions, no UI, WARN logging. */
  def localSession(defaultCores: Int, appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCores.toString)
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++ operators.StorageOps.queries ++
      operators.Pipeline.queries ++ operators.Curation.queries ++
      operators.Multimodal.queries ++
      operators.ExtrasOps.queries ++ operators.Scalars.queries ++
      operators.Semantics.queries ++
      streaming.EventsStream.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracleSql ++ operators.StorageOps.oracleSql ++
      operators.Pipeline.oracleSql ++ operators.Curation.oracleSql ++
      operators.Multimodal.oracleSql ++
      operators.ExtrasOps.oracleSql ++ operators.Scalars.oracleSql ++
      operators.Semantics.oracleSql ++
      streaming.EventsStream.oracleSql
}
