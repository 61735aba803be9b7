package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict the
    // dump to those queries (dev iteration); the driver passes none.
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    val spark = SparkEntry.localSession(4, "graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only.contains).toMap
    // Fail LOUDLY: a query that throws is recorded in _errors.json and
    // fails the whole run with a non-zero exit — round 4 proved that a
    // stderr line plus a missing dump just silently shrinks the gate.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      // each query self-contained: drop blocks persisted by previous
      // queries (dedup/LSH signature frames, the e2e pipeline's cleaned
      // corpus) so 100+ queries don't accumulate cache pressure
      spark.catalog.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        errors(name) = msg
        System.err.println(s"[verify] $name FAILED — $msg")
      }
    }
    // JSON string escape (shared Jsons.escape): backslash, quote, and
    // ALL control chars (<0x20) — a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    def q(s: String): String = graft.format.Jsons.escape(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
