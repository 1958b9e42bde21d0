package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession
import graft.ext.{TextAnalysis, TextDedup}
import graft.io.{BatchStore, Jsonl, Tsv}
import graft.ops.{Components, Dedup, Snapshots}
import graft.pipeline.Pipeline
import graft.state.SeenKeys

/** JVM side of the benchmark: drives the engine through its public
  * functions on inputs that gen.py wrote, times the batches, and writes
  * one JSON result file that run.py turns into metrics and checks.
  *
  * Protocol per workload: untimed warm-up batches, then whole rounds of
  * timed batches until `seconds` have passed. Between batches, outside
  * the timers, the used heap is sampled after a full GC, cached and
  * checkpointed blocks are released, and the GC runs again.
  */
object PerfBench {

  // ---- tracing: spans from this file, jobs from a SparkListener -------

  final case class Span(name: String, startMs: Long, endMs: Long, wallNs: Long)

  /** Per-job facts keyed by job id: description, start/end, task time and
    * shuffle bytes written. Fed by the listener bus thread. */
  final class JobLedger extends SparkListener {
    final class Job(val desc: String, val start: Long) {
      @volatile var end: Long = -1L
      var execMs: Long = 0L
      var shuffleBytes: Long = 0L
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs.put(e.jobId, new Job(desc, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      for (job <- j; m <- Option(e.taskMetrics)) job.synchronized {
        job.execMs += m.executorRunTime
        job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
    def clear(): Unit = { jobs.clear(); stageJob.clear() }
  }

  final class Tracer(spark: SparkSession, workload: String, val on: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    /** True once the warm-up is over: spans are kept from then on. */
    var timed = false

    /** Run `body` as one call into a layer. With tracing on, its Spark
      * jobs carry the description `<workload>/<name>` and the span is
      * kept (once timed) for the per-layer report. */
    def apply[T](name: String)(body: => T): T =
      if (!on) body
      else {
        val sc = spark.sparkContext
        val prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(s"$workload/$name")
        val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
        try body
        finally {
          val n1 = System.nanoTime(); val t1 = System.currentTimeMillis()
          sc.setJobDescription(prev)
          if (timed) spans += Span(name, t0, t1, n1 - n0)
        }
      }
  }

  // ---- shared helpers -------------------------------------------------

  def slurp(p: String): String = new String(Files.readAllBytes(Paths.get(p)), UTF_8)

  def ms(ns: Long): Double = ns / 1e6

  /** A point on two clocks: wall time, and the CPU time of every live Java
    * thread — the driver, Spark's task threads and its service threads.
    * The JIT compiler threads (hidden from ThreadMXBean) and the GC
    * threads stay out, as does time the host's hypervisor takes from this
    * machine. */
  final case class Mark(nanos: Long, cpu: Map[Long, Long])

  private val threadBean = ManagementFactory.getThreadMXBean

  def mark(): Mark = {
    val cpu = threadBean.getAllThreadIds.iterator
      .map(id => id -> threadBean.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
    Mark(System.nanoTime(), cpu)
  }

  /** (wall ms, thread CPU ms) since `m`. A thread that ended in between
    * drops out; one that started in between counts from zero. */
  def since(m: Mark): (Double, Double) = {
    val now = mark()
    (ms(now.nanos - m.nanos),
      ms(now.cpu.iterator.map { case (id, v) => v - m.cpu.getOrElse(id, 0L) }.sum))
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Full GC, a pause for Spark's ContextCleaner to act on the references
    * that GC enqueued (shuffle files, broadcasts, checkpointed RDDs), and
    * a second GC for what the cleaner released — so neither that work nor
    * its garbage lands in the next timed batch. */
  def settle(): Unit = { System.gc(); Thread.sleep(300); System.gc() }

  /** Used heap in MB once settled. */
  def liveHeapMb(): Double = {
    settle()
    val u = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    u / (1024.0 * 1024.0)
  }

  /** Release every cached and checkpointed block (what graft.Bench does
    * between queries), then settle. */
  def drain(spark: SparkSession): Unit = {
    TextDedup.releaseShingles()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    settle()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Minimal JSON rendering for the result file. */
  def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case o => js(o.toString)
  }

  /** One timed batch as run.py consumes it. */
  final case class Batch(name: String, rows: Long, wallMs: Double, cpuMs: Double,
                         commits: Seq[(Double, Double)], heapMb: Double, gcMs: Long,
                         extra: Map[String, Any] = Map.empty) {
    def toMap: Map[String, Any] = Map("name" -> name, "rows" -> rows,
      "wall_ms" -> wallMs, "cpu_ms" -> cpuMs, "commit_ms" -> commits.map(_._1),
      "commit_cpu_ms" -> commits.map(_._2), "heap_mb" -> heapMb, "gc_ms" -> gcMs) ++ extra
  }

  // ---- workloads --------------------------------------------------------

  def names(expect: JsonNode, key: String): Seq[String] =
    expect.get(key).elements().asScala.map(_.asText).toSeq

  trait Workload {
    /** Names of the batches of one timed round, in order, and of the
      * untimed warm-up batches. */
    def round: Seq[String]
    def warmup: Seq[String]
    /** Run one batch; returns (input rows, (wall ms, thread CPU ms) of
      * each output commit, extra facts for the result file). */
    def run(name: String, occ: Int): (Long, Seq[(Double, Double)], Map[String, Any])
    /** Facts gathered once the timed rounds are over. */
    def finish(): Map[String, Any] = Map.empty
  }

  /** The paper's v1.3 path: one study workbook per batch. */
  final class CdsEtl(spark: SparkSession, in: String, work: String, tr: Tracer,
                     expect: JsonNode) extends Workload {
    private val cfg = s"$in/config"
    val round: Seq[String] = names(expect, "round")
    val warmup: Seq[String] = names(expect, "warmup")
    private val bucket = Paths.get(work, "bucket").toAbsolutePath.toUri.toString

    def run(name: String, occ: Int): (Long, Seq[(Double, Double)], Map[String, Any]) = {
      val (specs, remove) = tr("model.specs_from_yaml") {
        Pipeline.specsFromYaml(slurp(s"$cfg/model.yml"), slurp(s"$cfg/props.yml"),
          slurp(s"$cfg/raw_dict.yml"), slurp(s"$cfg/clean_dict.yml"),
          slurp(s"$cfg/config.yml"))
      }
      // the v1.3 reference scans file names for SSN-shaped tokens; the
      // YAML config has no key for it, so the file node's spec names it
      val live = specs.map(s =>
        if (s.name == "file") s.copy(ssnScanProp = Some("file_name")) else s)
      val wide = tr("sources.xlsx_load") {
        spark.read.format("xlsx").option("sheet", "Metadata")
          .load(s"$in/data/$name/$name.xlsx")
      }
      val res = tr("pipeline.run") { Pipeline.run(wide, live, remove) }
      val out = s"$work/out/occ$occ"
      val m = mark()
      tr("io.tsv_write") {
        Tsv.writeNodes(res.nodes, s"$out/$name", name)
        Tsv.writeNodes(res.reports, s"$out/$name", name)
      }
      val (transformed, _) = tr("io.batch_upload") {
        BatchStore.uploadBatch(spark.sparkContext.hadoopConfiguration,
          out, s"$in/data", name, s"t$occ", bucket)
      }
      val commit = since(m)
      (wideRows(name), Seq(commit), Map("transformed" -> transformed))
    }

    /** Workbook rows (header excluded) as the generator recorded them. */
    private val wideRows: Map[String, Long] = expect.get("batches").elements().asScala
      .map(b => b.get("name").asText -> b.get("wide_rows").asLong).toMap

  }

  /** The LLM-data path: one JSONL shard per batch. */
  final class CorpusCuration(spark: SparkSession, in: String, work: String,
                             tr: Tracer, expect: JsonNode) extends Workload {
    val round: Seq[String] = names(expect, "round")
    val warmup: Seq[String] = names(expect, "warmup")
    private val threshold = expect.get("threshold").asDouble
    private val qualityMin = expect.get("quality_min").asDouble
    private val docsOf: Map[String, Long] = expect.get("batches").elements().asScala
      .map(b => b.get("name").asText -> b.get("docs").asLong).toMap
    private val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))

    def run(name: String, occ: Int): (Long, Seq[(Double, Double)], Map[String, Any]) = {
      val docs = tr("io.jsonl_read") {
        Jsonl.read(spark, s"$in/$name", schema).localCheckpoint()
      }
      val kept = tr("ext.quality_filter") {
        docs.filter(TextAnalysis.qualityScore(col("text")) >= qualityMin &&
          TextAnalysis.langId(col("text")) === "en").localCheckpoint()
      }
      val deduped = tr("ops.exact_dedup") {
        Dedup.stringified(kept.withColumn("fp", TextAnalysis.fingerprint(col("text"))),
          Seq("fp")).drop("fp").localCheckpoint()
      }
      val pairs = tr("ext.near_dup") {
        TextDedup.nearDuplicates(deduped, "id", "text", threshold).localCheckpoint()
      }
      val (labels, reps) = tr("ops.components") {
        val labels = Components.connected(pairs, "id_a", "id_b",
          vertices = Some(deduped), idCol = "id")
        val reps = Components.representatives(labels,
          deduped.withColumn("len", length(col("text"))), "id",
          Seq(col("len").desc, col("id").asc)).localCheckpoint()
        (labels, reps)
      }
      val out = s"$work/out/occ$occ"
      val m = mark()
      tr("io.jsonl_write") {
        Jsonl.write(deduped.join(reps.select(col("rep_id").as("id")), Seq("id"),
          "left_semi"), out, "kept")
        Jsonl.write(pairs, out, "pairs")
        Jsonl.write(labels, out, "components")
      }
      val commit = since(m)
      (docsOf(name), Seq(commit), Map("out" -> out))
    }
  }

  /** Writes beside reads on one snapshot table. A round replays the
    * fixed step sequence on a fresh table and key state. */
  final class SnapshotIngest(spark: SparkSession, in: String, work: String,
                             tr: Tracer, expect: JsonNode) extends Workload {
    // a batch here is one ingest step, named by its index in the round
    val round: Seq[String] = names(expect, "round")
    val warmup: Seq[String] = names(expect, "warmup")
    private val steps: Seq[(String, String, String)] =
      expect.get("steps").elements().asScala.map { st =>
        def f(k: String) = Option(st.get(k)).map(_.asText).getOrElse("")
        (f("kind"), f("file"), f("delete_file"))
      }.toSeq
    private val rowsOf: IndexedSeq[Long] =
      expect.get("steps").elements().asScala.map(_.get("rows").asLong).toIndexedSeq
    private val asofEvery = expect.get("asof_every").asInt
    private val checkMul = expect.get("check_mul").asLong
    private val recSchema = StructType(Seq(StructField("key", StringType),
      StructField("kn", LongType), StructField("v", LongType),
      StructField("payload", StringType)))
    private val keySchema = StructType(Seq(StructField("key", StringType)))
    private var roundNo = -1
    private var roundTimed = false
    private val ids = mutable.Map.empty[Int, Long]
    val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ratios = mutable.ArrayBuffer.empty[Double]
    val files = mutable.ArrayBuffer.empty[Int]
    private var inputBytes = 0L

    private def table = s"$work/snap/r$roundNo/table"
    private def state = s"$work/snap/r$roundNo/seen"

    private def aggregate(df: DataFrame): (Long, Long, String) = {
      val r = df.agg(count(lit(1)), countDistinct(col("key")),
        sum((col("kn") * lit(checkMul) + col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getLong(1), Option(r.getDecimal(2)).map(_.toPlainString).getOrElse("0"))
    }

    private def endRound(): Unit = if (roundNo >= 0) {
      if (roundTimed) ratios += dirBytes(Paths.get(table)).toDouble / inputBytes
      // keep only the newest table on disk
      if (roundNo > 0) deleteTree(Paths.get(s"$work/snap/r${roundNo - 1}"))
    }

    def run(name: String, occ: Int): (Long, Seq[(Double, Double)], Map[String, Any]) = {
      val k = name.toInt
      if (k == 0) {
        endRound(); roundNo += 1; roundTimed = tr.timed; ids.clear(); inputBytes = 0L
      }
      val (kind, file, delFile) = steps(k)
      for (f <- Seq(file, delFile) if f.nonEmpty) inputBytes += Files.size(Paths.get(in, f))
      var m: Mark = null
      val id = kind match {
        case "a" =>
          val batch = Jsonl.read(spark, s"$in/$file", recSchema)
          val fresh = tr("state.seen_filter") { SeenKeys.filterAndAbsorb(batch, "key", state) }
          m = mark()
          tr("ops.snap_append") { Snapshots.commitAppend(fresh, table) }
        case "m" =>
          val ups = Jsonl.read(spark, s"$in/$file", recSchema)
          val dels = Jsonl.read(spark, s"$in/$delFile", keySchema)
          m = mark()
          tr("ops.snap_merge") { Snapshots.commitMergeKeyed(ups, dels, table, "key") }
        case "r" =>
          m = mark()
          tr("ops.snap_rewrite") { Snapshots.commitRewrite(spark, table) }
      }
      val commit = since(m)
      ids(k) = id
      val (n, d, c) = tr("ops.snap_read") { aggregate(Snapshots.read(spark, table)) }
      reads += Map("step" -> k, "of" -> k, "count" -> n, "distinct" -> d, "checksum" -> c,
        "timed" -> tr.timed)
      if (k % asofEvery == asofEvery - 1) {
        val (n2, d2, c2) = tr("ops.snap_read_asof") {
          aggregate(Snapshots.read(spark, table, Some(ids(k - 2))))
        }
        reads += Map("step" -> k, "of" -> (k - 2), "count" -> n2, "distinct" -> d2,
          "checksum" -> c2, "timed" -> tr.timed)
      }
      if (tr.on && tr.timed)
        files += Snapshots.current(spark, table).map(_.entries.size).getOrElse(0)
      (rowsOf(k), Seq(commit), Map.empty)
    }

    override def finish(): Map[String, Any] = {
      endRound()
      Map("reads" -> reads.toSeq, "bytes_ratio" -> ratios.toSeq, "snap_files" -> files.toSeq)
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  // ---- measurement loop -------------------------------------------------

  /** Warm up, then run whole rounds until `seconds` have passed (at least
    * one round). Returns the result-file fields. */
  def measure(spark: SparkSession, w: Workload, tr: Tracer, ledger: Option[JobLedger],
              seconds: Double): Map[String, Any] = {
    var occ = 0
    def once(name: String): (Long, (Double, Double), Seq[(Double, Double)], Long,
                             Map[String, Any]) = {
      val g0 = gcMs()
      val m = mark()
      val (rows, commits, extra) = w.run(name, occ)
      val clocks = since(m)
      occ += 1
      (rows, clocks, commits, gcMs() - g0, extra)
    }
    for (name <- w.warmup) { once(name); drain(spark) }
    ledger.foreach(_.clear())
    tr.timed = true
    val firstBatchMs = System.currentTimeMillis()
    // set-up on the CPU clock: everything the Java threads alive now have
    // spent since they started (JVM start, session, warm-up)
    val setupCpuMs = ms(mark().cpu.values.sum)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val batches = mutable.ArrayBuffer.empty[Batch]
    var rounds = 0
    while (rounds == 0 || System.nanoTime() < deadline) {
      for (name <- w.round) {
        val (rows, (wall, cpu), commits, gc, extra) = once(name)
        // heap after a full GC, before this batch's blocks are released
        val heap = liveHeapMb()
        drain(spark)
        batches += Batch(name, rows, wall, cpu, commits, heap, gc, extra)
      }
      rounds += 1
    }
    Map("first_batch_ms" -> firstBatchMs, "setup_cpu_ms" -> setupCpuMs, "rounds" -> rounds,
      "batches" -> batches.map(_.toMap).toSeq) ++ w.finish() ++
      ledger.map(l => Map("trace" -> traceReport(tr.spans.toSeq, l, batches.size))).getOrElse(Map.empty)
  }

  /** Per-span aggregates: calls, wall, jobs, gap (wall not covered by any
    * running job), summed task time and shuffle bytes written. Means are
    * per call. */
  def traceReport(spans: Seq[Span], l: JobLedger, nBatches: Int): Map[String, Any] = {
    val jobs = l.jobs.values().asScala.toSeq
    val intervals = jobs.map(j => (j.start, if (j.end < 0) j.start else j.end)).sortBy(_._1)
    def covered(a: Long, b: Long): Long = {
      var tot = 0L; var curS = -1L; var curE = -1L
      for ((s0, e0) <- intervals) {
        val s = math.max(s0, a); val e = math.min(e0, b)
        if (e > s) {
          if (s > curE) { if (curE > curS) tot += curE - curS; curS = s; curE = e }
          else curE = math.max(curE, e)
        }
      }
      if (curE > curS) tot += curE - curS
      tot
    }
    val perSpan = spans.groupBy(_.name).map { case (name, ss) =>
      val js = jobs.filter(_.desc.endsWith("/" + name))
      val n = ss.size.toDouble
      name -> Map(
        "calls" -> ss.size,
        "wall_ms" -> ss.map(_.wallNs).sum / 1e6 / n,
        "jobs" -> js.size / n,
        "gap_ms" -> ss.map(s => (s.endMs - s.startMs) - covered(s.startMs, s.endMs)).sum / n,
        "exec_ms" -> js.map(_.execMs).sum / n,
        "shuffle_mb" -> js.map(_.shuffleBytes).sum / 1e6 / n)
    }
    Map("spans" -> perSpan, "jobs_total" -> jobs.size, "batches" -> nBatches)
  }

  /** Args: <workload> <inputsDir> <workDir> <seconds> <trace 0|1> <cores>.
    * The result goes to `workDir/result.json`. */
  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, secondsS, traceS, coresS) = args
    val spark = GraftSession.local(coresS.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val ledger = if (traceS == "1") Some(new JobLedger) else None
    ledger.foreach(spark.sparkContext.addSparkListener)
    val tr = new Tracer(spark, workload, ledger.isDefined)
    val expect = new ObjectMapper().readTree(Paths.get(in, "expect.json").toFile)
    val w: Workload = workload match {
      case "cds_etl" => new CdsEtl(spark, in, work, tr, expect)
      case "corpus_curation" => new CorpusCuration(spark, in, work, tr, expect)
      case "snapshot_ingest" => new SnapshotIngest(spark, in, work, tr, expect)
    }
    val res = try measure(spark, w, tr, ledger, secondsS.toDouble) finally spark.stop()
    Files.write(Paths.get(work, "result.json"), js(res).getBytes(UTF_8))
  }
}
