package graft

/** Dev harness: run selected SparkEntry queries by name with timing.
  *
  *   sbt "runMain graft.RunOne d_dedup_clusters e_stream_window"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (32),
  * GRAFT_REPEAT (1), GRAFT_EXPLAIN (print formatted plan if set).
  * Same session config as Bench so numbers are comparable.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeat = sys.env.getOrElse("GRAFT_REPEAT", "1").toInt
    val spark = SparkEntry.localSession(32, "graft-runone")

    try SparkEntry.entry(spark).count() catch { case _: Throwable => }

    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      (1 to repeat).foreach { i =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        if (sys.env.contains("GRAFT_EXPLAIN") && i == 1) df.explain("formatted")
        val n = df.count()
        println(f"[runone] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
      }
    }
    spark.stop()
  }
}
