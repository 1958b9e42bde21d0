package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev measurement tool (guide §1): attribute ONE query's wall time to its
  * Spark jobs and the driver-side gaps between them. Prints a per-job
  * timeline (start offset, wall, task-time sum, description/call site) so
  * "where do the seconds go" stops being a guess — per-job wall exposes
  * staging writes, micro-batch triggers, per-round fixpoint jobs, and the
  * planning gaps jobs never see.
  * Usage: runMain graft.PhaseProf <queryName> [sfDir] [passes]
  */
object PhaseProf {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.all.foreach(t => try Tables.load(spark, sfDir, t).limit(1).count() catch { case _: Throwable => () })

    case class J(id: Int, var desc: String, var t0: Long = 0L, var t1: Long = 0L,
                 var taskMs: Long = 0L, var nTasks: Int = 0, var nStages: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        val j = J(e.jobId, d, e.time)
        j.nStages = e.stageIds.size
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        jobs(e.jobId) = j
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid);
             m <- Option(e.taskMetrics)) {
          j.taskMs += m.executorRunTime; j.nTasks += 1
        }
      }
    }

    // warm pass (uninstrumented), then instrumented passes
    try { SparkEntry.queries(name)(spark, sfDir).count() } catch { case e: Throwable =>
      System.err.println(s"warm pass failed: $e") }
    for (p <- 1 to passes) {
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      spark.sparkContext.addSparkListener(listener)
      val w0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - w0) / 1e9
      // let the listener bus drain (private API — a short sleep suffices
      // for a dev tool)
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      val js = jobs.synchronized { jobs.values.toVector.sortBy(_.t0) }
      val base = if (js.nonEmpty) js.head.t0 else 0L
      println(f"== PASS $p $name rows=$n wall=$wall%.2f s jobs=${js.size}")
      println("job  t_off  wall_ms  task_ms  tasks stages  desc")
      var lastEnd = base
      var gapTotal = 0L
      for (j <- js) {
        val gap = math.max(0L, j.t0 - lastEnd)
        gapTotal += gap
        if (gap > 30)
          println(f"     ---- gap ${gap}%6d ms (driver: plan/codegen/IO) ----")
        println(f"${j.id}%4d ${j.t0 - base}%6d ${j.t1 - j.t0}%8d ${j.taskMs}%8d ${j.nTasks}%6d ${j.nStages}%6d  ${j.desc.take(90)}")
        lastEnd = math.max(lastEnd, j.t1)
      }
      val jobWall = js.map(j => j.t1 - j.t0).sum
      println(f"== sum(job wall)=${jobWall}ms gaps>30ms total=${gapTotal}ms " +
        f"wall-jobs-gaps=${(wall * 1000).toLong - jobWall - gapTotal}ms")
    }
    spark.stop()
  }
}
