package graft
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Diagnostic twin of [[Bench]]: identical session, ordering, drain and GC
  * cadence, but emits one TSV line per (pass, query) to stderr with the JVM
  * and Spark state deltas needed to localize the in-session slowdown the
  * round-3 verdict flagged (e1/e2/e3/j8 run 2-17x slower mid-session than
  * cold in BOTH passes). Not part of the driver contract.
  */
object BenchDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    Bench.warmTables(spark, sfDir)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    def gcN = gcBeans.map(_.getCollectionCount).sum
    def poolUsed(sub: String) =
      pools.filter(_.getName.contains(sub)).map(_.getUsage.getUsed).sum / (1 << 20)
    def heapMb = {
      val u = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      u.getUsed / (1 << 20)
    }
    def blockMem = {
      val infos = spark.sparkContext.statusTracker.getExecutorInfos
      infos.map(i => i.cacheSize()).sum / (1 << 20)
    }

    System.err.println(
      "pass\ti\tquery\tsec\tgc_ms\tgc_n\tjit_ms\tcode_mb\tmeta_mb\theap_mb\tpersist_rdds\tcache_mb")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    var p = 0
    while (p < passes) {
      var i = 0
      for ((name, fn) <- names) {
        Bench.drain(spark)
        if (i % 10 == 0) System.gc()
        val (g0, n0, j0) = (gcMs, gcN, jit.getTotalCompilationTime)
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(
          f"$p\t$i\t$name\t$sec%.2f\t${gcMs - g0}\t${gcN - n0}\t${jit.getTotalCompilationTime - j0}\t${poolUsed("CodeHeap")}\t${poolUsed("Metaspace")}\t$heapMb\t${spark.sparkContext.getPersistentRDDs.size}\t$blockMem")
        i += 1
      }
      System.gc()
      p += 1
    }
    spark.stop()
  }
}
