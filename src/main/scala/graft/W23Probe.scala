package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: run the w23 stream-stream join once and print each
  * micro-batch's durationMs breakdown + state operator metrics, so the
  * dominant cost (state store vs join vs sink) is attributed from
  * Spark's own progress telemetry instead of guessed.
  * Usage: runMain graft.W23Probe [sfDir] */
object W23Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmTables(spark, sfDir)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"W23PROBE batch=${p.batchId} rows=${p.numInputRows} " +
          s"durations=${p.durationMs} " +
          p.stateOperators.map(so =>
            s"state[rows=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
              s"commitMs=${so.commitTimeMs} memUsed=${so.memoryUsedBytes}]")
            .mkString(" "))
      }
    }
    spark.streams.addListener(listener)
    if (args.length > 1 && args(1) == "evict") {
      // two passes in one JVM: pass 1 carries plan+codegen+JIT; pass 2
      // is the warm cost (each pass stages fresh dirs/checkpoints)
      for (pass <- 1 to 2) {
        val t0 = System.nanoTime()
        val n = evictRun(spark, sfDir)
        println(f"W23PROBE evict pass=$pass rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
    } else {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries("w23_stream_join")(spark, sfDir).count()
      println(f"W23PROBE total rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    spark.stop()
  }

  /** `evict` mode: the PRODUCTION configuration of the w23 join — FULL
    * orders/lineitem tables (no keyed sample), a BOUNDED 30-day
    * watermark delay, 8 time-split micro-batches per side so the
    * watermark actually advances mid-stream and join state is evicted
    * as each order's 90-day window passes. State tracks the in-flight
    * window, not the corpus (the listener prints numRowsTotal per batch
    * — watch it rise and FALL); rows later than the delay drop, the
    * completeness trade StreamingSpec's bounded-delay case pins on
    * fixtures. Same RocksDB + scoped-partition tuning as the judged
    * query. */
  private def evictRun(spark: SparkSession, sfDir: String): Long = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("w23_evict").toString
    def stage(dfRaw: DataFrame, tsCol: String, sub: String, splits: Int): String = {
      val df = dfRaw.withColumn(tsCol, col(tsCol).cast("timestamp"))
      val in = s"$root/$sub"
      new java.io.File(in).mkdirs()
      val mm = df.agg(min(unix_micros(col(tsCol))),
        max(unix_micros(col(tsCol)))).collect()(0)
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val w = (hi - lo) / splits + 1
      val tmp = s"$root/tmp_$sub"
      df.withColumn("__b",
          least(((unix_micros(col(tsCol)) - lo) / w).cast("int"), lit(splits - 1)))
        .coalesce(1)
        .write.partitionBy("__b").mode("overwrite").parquet(tmp)
      for (b <- 0 until splits) {
        val d = new java.io.File(s"$tmp/__b=$b")
        if (d.isDirectory)
          d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
            .zipWithIndex.foreach { case (f, i) =>
              java.nio.file.Files.move(f.toPath,
                java.nio.file.Paths.get(f"$in/b$b%02d_$i.parquet"))
            }
      }
      new java.io.File(in).listFiles().foreach(f =>
        f.setLastModified(60000L * (f.getName.take(3).drop(1).toInt + 1)))
      in
    }
    val inO = stage(Tables.load(spark, sfDir, "orders"), "o_orderdate", "ord", 8)
    val inL = stage(Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_extendedprice"), col("l_shipdate")), "l_shipdate", "li", 8)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val oS = spark.readStream.schema(spark.read.parquet(inO).schema)
      .option("maxFilesPerTrigger", 1).parquet(inO)
      .withWatermark("o_orderdate", "30 days")
    val lS = spark.readStream.schema(spark.read.parquet(inL).schema)
      .option("maxFilesPerTrigger", 1).parquet(inL)
      .withWatermark("l_shipdate", "30 days")
    val joined = lS.join(oS, expr(
      "l_orderkey = o_orderkey AND l_shipdate >= o_orderdate " +
        "AND l_shipdate <= o_orderdate + interval 90 days"))
    val outDir = s"$root/out"
    val q = joined
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("__c"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: DataFrame, bid: Long) =>
        b.write.mode("overwrite").parquet(s"$outDir/b$bid"); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(s"$outDir/b*").count()
  }
}
