package graft

/** Dev tool: time one named query (and optionally print its plan).
  * Usage: runMain graft.QTime <queryName> [sfDir] [explain]
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.contains("explain")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmTables(spark, sfDir)
    if (doExplain) SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    // build INSIDE the timer: driver-orchestrated queries (d9 components,
    // j8 cascade) run eager jobs at construction, and the bench charges
    // them — a timer around count() alone would under-report those
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, sfDir).count()
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"QTIME $name rows=$n%d sec=$dt%.2f")
    spark.stop()
  }
}
