package graft

/** Dev sweep tool (guide §7.2): dump `.explain("formatted")` for every
  * declared query to <outDir>/<name>.txt, then grep the set for plan
  * anti-patterns (cartesian products, un-pushed scans, join strategies).
  * NOTE: building a query executes its eager orchestration (streaming
  * rows run their stream), so this is a full-sweep-cost tool.
  * Usage: runMain graft.ExplainAll <outDir> [sfDir] [onlyCsv]
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmTables(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    for ((name, fn) <- names) {
      try {
        Bench.drain(spark)
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/$name.txt", "UTF-8")
        try w.println(plan) finally w.close()
        System.err.println(s"[explainall] ok $name")
      } catch { case e: Throwable =>
        System.err.println(s"[explainall] FAIL $name: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    spark.stop()
  }
}
