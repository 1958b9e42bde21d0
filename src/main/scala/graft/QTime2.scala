package graft

/** Dev tool: time one named query over several passes in ONE JVM, so the
  * cold (plan + codegen + JIT) and warm costs are visible separately —
  * QTime's single shot conflates them.
  * Usage: runMain graft.QTime2 <queryName> [sfDir]
  */
object QTime2 {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // honors SPARK_GRAFT_CPUS (round-20) so the sf1 scaling points can
    // compare 8 vs 32 cores with the same tool; default unchanged
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmTables(spark, sfDir)
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"QTIME2 $name pass=$i rows=$n sec=${(System.nanoTime()-t0)/1e9}%.2f")
    }
    spark.stop()
  }
}
