package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import java.sql.Timestamp

/** Structured Streaming specs: the batch transforms run incrementally with
  * watermarks/state, and results converge to the batch answer. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("hourlyRollup over a file stream matches the batch result") {
    val dir = java.nio.file.Files.createTempDirectory("stream_src").toString
    val events = Seq(
      (1L, ts("2026-01-01 10:05:00"), 1L, "click", 1.0),
      (2L, ts("2026-01-01 10:55:00"), 2L, "click", 2.0),
      (3L, ts("2026-01-01 11:05:00"), 1L, "view", 3.0),
      (4L, ts("2026-01-01 12:30:00"), 3L, "click", 4.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    events.write.mode("overwrite").parquet(dir)

    val q = EventStream.startRollupToMemory(spark, dir, events.schema, "rollup_spec")
    try {
      // update mode: one pass over the static directory emits every
      // window's current aggregate — no watermark-advancing late batch
      // needed (append mode would leave the table permanently empty here)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("rollup_spec")
      .select("hour", "event_type", "cnt", "sum_value").collect().toSet
    val batch = EventStream.hourlyRollup(events)
      .select("hour", "event_type", "cnt", "sum_value").collect().toSet
    assert(batch.subsetOf(streamed), s"streamed=$streamed batch=$batch")
    assert(streamed.nonEmpty)
  }

  test("asOfStream matches latest prior quote across micro-batches with one-struct state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Tick]
    val q = EventStream.asOfStream(input.toDS())
      .writeStream.format("memory").queryName("asof_spec")
      .outputMode("append").start()
    try {
      // batch 1: out-of-order WITHIN the batch (ask before its quote)
      input.addData(
        EventStream.Tick(1L, ts("2026-01-01 10:00:05"), isAsk = true, 100L, 0.0),
        EventStream.Tick(1L, ts("2026-01-01 10:00:01"), isAsk = false, 7L, 7.5),
        EventStream.Tick(1L, ts("2026-01-01 10:00:01"), isAsk = false, 8L, 8.5), // tie: id 8 wins
        EventStream.Tick(2L, ts("2026-01-01 10:00:03"), isAsk = true, 200L, 0.0)) // no quote
      q.processAllAvailable()
      // batch 2: ask relies on batch-1 state; then a newer quote + ask
      input.addData(
        EventStream.Tick(1L, ts("2026-01-01 10:00:10"), isAsk = true, 101L, 0.0),
        EventStream.Tick(1L, ts("2026-01-01 10:00:12"), isAsk = false, 9L, 9.5),
        EventStream.Tick(1L, ts("2026-01-01 10:00:15"), isAsk = true, 102L, 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("asof_spec")
      .select("ask_id", "quote_id", "quote_payload")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).sortBy(_._1).toSeq
    assert(out == Seq(
      (100L, 8L, 8.5), // intra-batch disorder absorbed; tie to max id
      (101L, 8L, 8.5), // state carried across batches
      (102L, 9L, 9.5), // newer quote supersedes
      (200L, -1L, -1.0) // no quote for key 2
    ))
  }

  test("sessionize: gap-merged session windows converge to the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.sessionize(input.toDS().toDF(), gap = "10 minutes")
      .writeStream.format("memory").queryName("sessions_spec")
      .outputMode("append").start()
    val events = Seq(
      // user 7: two events 5 min apart -> ONE session; third 40 min later -> new session
      EventStream.Event(1, ts("2026-01-01 10:00:00"), 7L, "click", 1.0),
      EventStream.Event(2, ts("2026-01-01 10:05:00"), 7L, "view", 2.0),
      EventStream.Event(3, ts("2026-01-01 10:45:00"), 7L, "click", 3.0),
      EventStream.Event(4, ts("2026-01-01 10:02:00"), 8L, "click", 4.0))
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      // advance the watermark far past every session end so all close
      input.addData(EventStream.Event(99, ts("2026-01-01 15:00:00"), 9L, "tick", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sessions_spec")
      .select("user_id", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch mode over the same frame gives the ground truth
    val batch = EventStream.sessionize(events.toDF())
      .select("user_id", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.subsetOf(streamed), s"streamed=$streamed batch=$batch")
    assert(batch.contains((7L, 2L, 3.0)) && batch.contains((7L, 1L, 3.0)) &&
      batch.contains((8L, 1L, 4.0)))
  }

  test("dedupStream drops in-horizon duplicate keys across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.dedupStream(
      input.toDS().toDF(), keys = Seq("event_type"), horizon = "10 minutes")
      .writeStream.format("memory").queryName("dedup_spec")
      .outputMode("append").start()
    try {
      input.addData(
        EventStream.Event(1, ts("2026-01-01 10:00:00"), 1L, "click", 1.0),
        EventStream.Event(2, ts("2026-01-01 10:01:00"), 2L, "click", 2.0), // dup key
        EventStream.Event(3, ts("2026-01-01 10:01:00"), 3L, "view", 3.0))
      q.processAllAvailable()
      input.addData( // still within the 10-min horizon -> still duplicate
        EventStream.Event(4, ts("2026-01-01 10:05:00"), 4L, "click", 4.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_spec").select("event_id").collect()
      .map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L), s"expected first event per key, got $got")
  }

  test("watermark eviction bounds rollup state in the production (update) mode") {
    // w12 proves complete-mode equivalence to batch; THIS gate proves the
    // production claim — closed-window state is actually evicted, so
    // memory stays bounded at any stream length. It fails if eviction
    // stops working (state rows would reach the total window count).
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.hourlyRollup(input.toDS().toDF())
      .writeStream.format("memory").queryName("evict_spec")
      .outputMode("update").start()
    val totals = scala.collection.mutable.ArrayBuffer[Long]()
    val base = ts("2026-01-01 00:30:00").getTime
    try {
      // 10 micro-batches, one event per hour-window, event time advancing
      // 1h per batch; the 1h watermark should keep only ~3 open windows
      // (current + the lag the watermark's batch-boundary update implies)
      for (h <- 0 until 10) {
        input.addData(EventStream.Event(
          h.toLong, new Timestamp(base + h * 3600000L), 1L, "click", 1.0))
        q.processAllAvailable()
        totals += q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
    } finally q.stop()
    assert(totals.size == 10)
    // without eviction the final batch would hold all 10 windows
    assert(totals.last <= 4, s"eviction stopped: state growth $totals")
    assert(totals.max <= 4, s"state not bounded: $totals")
    // and the stream still emitted every window along the way
    assert(spark.table("evict_spec").select("hour").distinct().count() == 10)
  }

  test("dedupStream state evicts keys beyond the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.dedupStream(
      input.toDS().toDF(), keys = Seq("event_id"), horizon = "10 minutes")
      .writeStream.format("memory").queryName("dedup_evict_spec")
      .outputMode("append").start()
    val totals = scala.collection.mutable.ArrayBuffer[Long]()
    val base = ts("2026-01-01 00:00:00").getTime
    try {
      // 6 batches of one DISTINCT key each, 30 min apart, 10-min horizon:
      // every key is past the horizon by the next batch, so state must
      // hover near 1-2 entries, never accumulate toward 6
      for (b <- 0 until 6) {
        input.addData(EventStream.Event(
          b.toLong, new Timestamp(base + b * 1800000L), 1L, "click", 1.0))
        q.processAllAvailable()
        totals += q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
    } finally q.stop()
    assert(totals.max <= 3, s"dedup state not bounded: $totals")
    assert(totals.last <= 2, s"horizon eviction stopped: $totals")
    // all 6 distinct keys passed through (nothing wrongly deduped)
    assert(spark.table("dedup_evict_spec").count() == 6)
  }

  test("userTotals accumulates state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.userTotals(input.toDS())
      .writeStream.format("memory").queryName("totals_spec")
      .outputMode("update").start()
    try {
      input.addData(
        EventStream.Event(1, ts("2026-01-01 10:00:00"), 7L, "click", 1.5),
        EventStream.Event(2, ts("2026-01-01 10:01:00"), 7L, "click", 2.5))
      q.processAllAvailable()
      input.addData(
        EventStream.Event(3, ts("2026-01-01 10:02:00"), 7L, "view", 6.0))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("totals_spec")
      .groupBy("user_id").agg(max("events").as("events"), max("total_value").as("tv"))
      .collect()
    assert(last.length == 1)
    assert(last(0).getLong(1) == 3L)
    assert(last(0).getDouble(2) == 10.0)
  }

  // ---------------------------------------------------- NearDupStream

  /** The documented screen rule, re-derived independently from
    * bucketKeys: dup iff any bucket is in the registry or owned by a
    * smaller in-batch doc; survivors' buckets join the registry. */
  private def screenRef(docs: Seq[(Long, String)], state: Set[String])
      : (Set[Long], Set[String]) = {
    val bk = graft.streaming.NearDupStream
      .bucketKeys(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val firstPer = bk.groupBy(_._2).map { case (b, xs) => b -> xs.map(_._1).min }
    val dups = bk.collect {
      case (d, b) if state(b) || firstPer(b) < d => d
    }.toSet
    val kept = docs.map(_._1).toSet -- dups
    (kept, state ++ bk.collect { case (d, b) if kept(d) => b })
  }

  test("nearDupStream dedups across batches against a persistent bucket registry") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("neardup").toString
    val base = "spark structured streaming joins windows state watermark shuffle exchange codegen parquet"
    val b1 = Seq(
      1L -> base,
      2L -> (base.dropRight(7) + "arrival"), // near-dup of 1
      3L -> "entirely different content about ocean tides and moonlight gravity pull",
      4L -> base) // exact dup of 1
    val b2 = Seq(
      7L -> (base + " extra"), // near-dup of accepted 1, cross-batch
      8L -> "unrelated fresh corpus document speaking of volcanoes ash plumes and basalt",
      2L -> (base.dropRight(7) + "arrival")) // re-delivery of dropped 2
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.NearDupStream.start(
      input.toDS().toDF("doc_id", "text"),
      s"$dir/out", s"$dir/ckpt", s"$dir/state",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val (kept1, state1) = screenRef(b1, Set.empty)
    // re-delivered doc 2 collides with accepted doc 1's buckets via its
    // own overlap — the rule handles it like any near-dup
    val (kept2, state2) = screenRef(b2, state1)
    val got = spark.read.parquet(s"$dir/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == kept1 ++ kept2, s"got=$got expected=${kept1 ++ kept2}")
    // sanity on the planted structure: originals kept, exact dup dropped,
    // uniques kept, cross-batch near-dup dropped
    assert(got(1L) && got(3L) && got(8L) && !got(4L) && !got(7L))
    // INVARIANT: the registry holds exactly the accepted docs' buckets
    val reg = graft.state.SeenKeys.load(spark, s"$dir/state")
      .collect().map(_.getString(0)).toSet
    assert(reg == state2, s"registry out of sync: ${reg.size} vs ${state2.size}")

    // a later stream RUN (fresh checkpoint, same registry): re-delivery
    // of an accepted doc and a new unique arrive
    val input2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.NearDupStream.start(
      input2.toDS().toDF("doc_id", "text"),
      s"$dir/out", s"$dir/ckpt2", s"$dir/state",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    val b3 = Seq(1L -> base,
      9L -> "novel text regarding alpine glaciers crevasse rescue and rope teams")
    try { input2.addData(b3: _*); q2.processAllAvailable() } finally q2.stop()
    val (kept3, _) = screenRef(b3, state2)
    val got2 = spark.read.parquet(s"$dir/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got2 == got ++ kept3)
    assert(!kept3(1L) && kept3(9L), s"cross-run dedup failed: $kept3")
  }

  test("w17 retention state logs absorb a replayed batch (algebraic idempotence)") {
    // the streaming retention operator appends per-batch (user,hour)
    // actives and per-batch per-user min-hours; its final fold is
    // distinct + min-of-mins. Both are idempotent/commutative/associative,
    // so a crash-replayed batch appended TWICE must leave the folded
    // retention bit-identical - the replay-safety claim w17 stands on.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("w17_replay").toString
    val b1 = Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-01-01 00:00:00"),
      (1L, "2024-01-01 01:00:00")).toDF("user_id", "hs")
      .select(col("user_id"), to_timestamp(col("hs")).as("h"))
    val b2 = Seq((1L, "2024-01-02 00:00:00"), (3L, "2024-01-01 05:00:00"))
      .toDF("user_id", "hs")
      .select(col("user_id"), to_timestamp(col("hs")).as("h"))
    def appendBatch(b: org.apache.spark.sql.DataFrame): Unit = {
      b.distinct().write.mode("append").parquet(s"$dir/actives")
      b.groupBy(col("user_id")).agg(min(col("h")).as("h"))
        .write.mode("append").parquet(s"$dir/firstseen")
    }
    def fold(): Set[(java.sql.Timestamp, Long, Long)] = {
      val active = spark.read.parquet(s"$dir/actives").distinct()
      val reg = spark.read.parquet(s"$dir/firstseen")
        .groupBy(col("user_id")).agg(min(col("h")).as("cohort_h"))
      active.join(reg, Seq("user_id"))
        .withColumn("offset_h",
          expr("(unix_micros(h) - unix_micros(cohort_h)) DIV 3600000000"))
        .groupBy(col("cohort_h"), col("offset_h"))
        .agg(countDistinct(col("user_id")).as("n"))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
        .toSet
    }
    appendBatch(b1); appendBatch(b2)
    val clean = fold()
    appendBatch(b2) // crash-replay: the same batch lands again
    assert(fold() == clean, "a replayed batch must be absorbed by the fold")
    appendBatch(b1) // replay of the OLDER batch, out of order
    assert(fold() == clean, "out-of-order replay must also be absorbed")
  }

  test("w18 cascade logs: order-independent and replay-absorbing by algebra") {
    import graft.streaming.CascadeStream
    import spark.implicits._
    // chain: customer -> orders -> lineitem (single-parent per level)
    val orders = Seq((10L, Some(1L)), (11L, Some(1L)), (12L, Some(2L)),
      (13L, Some(3L)), (14L, None: Option[Long]))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, "A"), (10L, "B"), (12L, "A"), (13L, "C"))
      .toDF("l_orderkey", "flag")
    val chain = Seq(
      CascadeStream.Level("orders", orders, "o_custkey", "o_orderkey"),
      CascadeStream.Level("lineitem", lineitem, "l_orderkey", "l_orderkey"))
    val deltas = Seq(Seq(1L), Seq(2L), Seq(3L)).map(_.toDF("key"))
    def runOrder(tag: String, order: Seq[Int]): (Set[Long], Set[Long]) = {
      val dirf = java.nio.file.Files.createTempDirectory(s"w18_$tag").toString
      order.foreach(i => CascadeStream.absorb(deltas(i), chain, dirf))
      (CascadeStream.deleted(spark, dirf, "orders").as[Long].collect().toSet,
        CascadeStream.deleted(spark, dirf, "lineitem").as[Long].collect().toSet)
    }
    val fwd = runOrder("fwd", Seq(0, 1, 2))
    assert(fwd == (Set(10L, 11L, 12L, 13L), Set(10L, 12L, 13L)),
      "cascaded deltas: custs 1/2/3 kill orders 10-13, lineitems follow")
    assert(runOrder("rev", Seq(2, 1, 0)) == fwd, "union is commutative")
    assert(runOrder("replay", Seq(0, 1, 1, 2, 0)) == fwd, "union is idempotent")
    // the intrinsically-null-pointer order (14) is a data-plane fact the
    // fold derives from the static table, never stream state
    assert(!fwd._1.contains(14L))
  }

  test("w22 component edge logs: order-independent, replay-absorbing, fold == batch closure") {
    import graft.streaming.{ComponentsStream, PageRankStream}
    import spark.implicits._
    val verts = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("id")
    // three pair deltas; a cross-component edge arrives LAST so the fold
    // must merge clusters the earlier batches kept separate
    val deltas = Seq(
      Seq((1L, 2L)), Seq((10L, 11L)), Seq((2L, 3L), (3L, 10L)))
      .map(_.toDF("a", "b"))
    def runOrder(tag: String, order: Seq[Int]): Map[Long, Long] = {
      val dirf = java.nio.file.Files.createTempDirectory(s"w22_$tag").toString
      order.foreach(i => PageRankStream.absorb(deltas(i), "a", "b", dirf))
      ComponentsStream.fold(spark, dirf, verts, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      99L -> 99L) // one merged component + the isolated vertex
    val fwd = runOrder("fwd", Seq(0, 1, 2))
    assert(fwd == expected)
    assert(runOrder("rev", Seq(2, 1, 0)) == fwd, "union is commutative")
    assert(runOrder("replay", Seq(0, 1, 1, 2, 0)) == fwd, "union is idempotent")
    // equality with the batch engine on the delivered union
    val batch = graft.ops.Components.connected(
        deltas.reduce(_ union _), "a", "b",
        vertices = Some(verts), idCol = "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch == fwd)
    // empty log: every vertex labels itself
    val emptyDir = java.nio.file.Files.createTempDirectory("w22_empty").toString
    val e = ComponentsStream.fold(spark, emptyDir, verts, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e == verts.as[Long].collect().map(v => v -> v).toMap)
  }

  test("w34 stream MV: fresh after every batch, double exactly-once replay") {
    import graft.streaming.CdcStream
    import graft.ops.{MaterializedView, Snapshots}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("w34spec").toString
    val (table, mv) = (s"$root/t", s"$root/m")
    val batches = Seq(
      Seq(("upsert", 1L, "x", 10L), ("upsert", 2L, "y", 20L)),
      Seq(("upsert", 1L, "y", 11L), ("delete", 2L, null, 0L)),
      Seq(("upsert", 3L, "y", 30L)))
      .map(_.toDF("op", "k", "g", "v"))
    def recompute() = Snapshots.read(spark, table)
      .groupBy("g").agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"))
      .as[(String, Long, Long)].collect().toSet
    def view() = Snapshots.read(spark, mv)
      .as[(String, Long, Long)].collect().toSet
    // the startAtomicMv body, batch by batch: the view must equal the
    // recompute BETWEEN batches, not just at the end
    batches.zipWithIndex.foreach { case (b, i) =>
      CdcStream.absorbAtomic(b, table, "k", "op", Some(s"cdc-$i"))
      MaterializedView.refresh(spark, table, mv, "g", Seq("v"))
      assert(view() == recompute(), s"stale view after batch $i")
    }
    // final state: key 2 deleted, key 1 moved x→y with v=11, key 3 new
    assert(view() == Set(("y", 2L, 41L)))
    // double exactly-once: replaying the last batch + refresh moves
    // neither chain
    val (t0, m0) = (Snapshots.current(spark, table).get.id,
      Snapshots.current(spark, mv).get.id)
    CdcStream.absorbAtomic(batches(2), table, "k", "op", Some("cdc-2"))
    MaterializedView.refresh(spark, table, mv, "g", Seq("v"))
    assert(Snapshots.current(spark, table).get.id == t0 &&
      Snapshots.current(spark, mv).get.id == m0)
  }

  test("w33 pagerank edge logs: order-independent, replay-absorbing, fold == batch ranks") {
    import graft.streaming.PageRankStream
    import spark.implicits._
    // a small cyclic graph plus a dangling sink; the cycle-closing edge
    // arrives LAST so earlier folds would rank a different topology
    val deltas = Seq(
      Seq((1L, 2L), (2L, 3L)), Seq((3L, 4L), (4L, 9L)), Seq((4L, 1L)))
      .map(_.toDF("s", "d"))
    def runOrder(tag: String, order: Seq[Int]): Map[Long, Long] = {
      val dirf = java.nio.file.Files.createTempDirectory(s"w33_$tag").toString
      order.foreach(i => PageRankStream.absorb(deltas(i), "s", "d", dirf))
      PageRankStream.fold(spark, dirf, iters = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val fwd = runOrder("fwd", Seq(0, 1, 2))
    assert(runOrder("rev", Seq(2, 1, 0)) == fwd, "union is commutative")
    assert(runOrder("replay", Seq(0, 1, 1, 2, 0)) == fwd, "union is idempotent")
    // equality with the batch engine on the delivered union, to the
    // integer micro-unit
    val batch = graft.ops.Graph.pageRank(
        deltas.reduce(_ union _), "s", "d", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch == fwd, "fold must equal batch ranks exactly")
    // the rank vector is live state: node 9 (dangling sink) holds rank,
    // and every node appears
    assert(fwd.keySet == Set(1L, 2L, 3L, 4L, 9L))
  }

  test("w35/w36 shared edge log: triangle and LPA folds are order-independent, replay-absorbing, == batch") {
    import graft.streaming.{PageRankStream, TriangleStream, LpaStream}
    import spark.implicits._
    // two triangles sharing edge (2,3); the closing edges arrive in the
    // LAST delta so an early fold would count zero triangles
    val deltas = Seq(
      Seq((1L, 2L), (2L, 3L)), Seq((3L, 4L), (2L, 4L)), Seq((3L, 1L)))
      .map(_.toDF("s", "d"))
    def logOf(tag: String, order: Seq[Int]): String = {
      val dirf = java.nio.file.Files.createTempDirectory(s"w3x_$tag").toString
      order.foreach(i => PageRankStream.absorb(deltas(i), "s", "d", dirf))
      dirf
    }
    def tri(dirf: String): Map[Long, Long] =
      TriangleStream.fold(spark, dirf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def lpa(dirf: String): Map[Long, Long] =
      LpaStream.fold(spark, dirf, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fwd = logOf("fwd", Seq(0, 1, 2))
    val rev = logOf("rev", Seq(2, 1, 0))
    val rep = logOf("rep", Seq(0, 1, 1, 2, 0))
    // one log, two folds; both absorb reorder and replay by algebra
    assert(tri(fwd) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    assert(tri(rev) == tri(fwd) && tri(rep) == tri(fwd))
    assert(lpa(rev) == lpa(fwd) && lpa(rep) == lpa(fwd))
    // equality with the batch engines on the delivered union
    val all = deltas.reduce(_ union _)
    assert(tri(fwd) == graft.ops.Graph.triangles(all, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(lpa(fwd) == graft.ops.Graph.labelPropagation(all, "s", "d", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("w37 checked ingest: clean batches land, violating batches quarantine, checkpoint replay exactly-once") {
    import graft.streaming.CheckedIngestStream
    import graft.ops.Snapshots
    import graft.validate.Checks._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("w37").toString
    val (main, quar) = (s"$root/main", s"$root/quar")
    val contract = Seq(Complete("v", 10000L))
    val good1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val bad = Seq((3L, null.asInstanceOf[String]), (4L, "d")).toDF("k", "v")
    val good2 = Seq((5L, "e")).toDF("k", "v")
    CheckedIngestStream.absorb(good1, 0L, main, quar, contract)
    CheckedIngestStream.absorb(bad, 1L, main, quar, contract)
    CheckedIngestStream.absorb(good2, 2L, main, quar, contract)
    def ks(d: String): Set[Long] =
      Snapshots.read(spark, d).select("k").as[Long].collect().toSet
    assert(ks(main) == Set(1L, 2L, 5L))
    assert(ks(quar) == Set(3L, 4L))
    // checkpoint replay: the SAME batches under the SAME bids are
    // absorbed by the tags on both sides — nothing lands twice
    CheckedIngestStream.absorb(bad, 1L, main, quar, contract)
    CheckedIngestStream.absorb(good1, 0L, main, quar, contract)
    assert(Snapshots.read(spark, main).count() == 3)
    assert(Snapshots.read(spark, quar).count() == 2)
    // an empty batch is a no-op, not a Complete failure
    CheckedIngestStream.absorb(good1.limit(0), 7L, main, quar, contract)
    assert(Snapshots.read(spark, main).count() == 3)
    // exactly-once is keyed on (appId, bid), NOT bid alone: a SECOND
    // query (fresh checkpoint → bids restart at 0) feeding the same
    // tables must land its batch even though bid 0 was already used
    val other = Seq((9L, "z")).toDF("k", "v")
    CheckedIngestStream.absorb(other, 0L, main, quar, contract,
      appId = "query2")
    assert(ks(main) == Set(1L, 2L, 5L, 9L),
      "a different query's bid-0 batch must not be absorbed as a replay")
    // quarantine-replay guard: a batch that bounced on a wholeTable
    // audit must NOT re-run the audit on replay — even if the table
    // state would now pass, re-landing it in main would double it
    val (main2, quar2) = (s"$root/main2", s"$root/quar2")
    val uniq = Seq(Unique("k"))
    val a = Seq((1L, "a")).toDF("k", "v")
    val dupA = Seq((1L, "a2")).toDF("k", "v")
    CheckedIngestStream.absorb(a, 0L, main2, quar2, uniq, wholeTable = true)
    CheckedIngestStream.absorb(dupA, 1L, main2, quar2, uniq, wholeTable = true)
    assert(Snapshots.read(spark, quar2).count() == 1)
    // delete k=1 from main so a re-audit of the bounced batch would PASS
    Snapshots.commitDelete(Seq(Tuple1(1L)).toDF("k"), main2, "k")
    CheckedIngestStream.absorb(dupA, 1L, main2, quar2, uniq, wholeTable = true)
    assert(Snapshots.read(spark, main2).count() == 0,
      "a quarantined batch's replay must short-circuit on its tag")
    assert(Snapshots.read(spark, quar2).count() == 1)
  }

  test("w37 checked ingest: pre-appId legacy tags absorb replays only under the OPT-IN compat flag — never a new app's batches") {
    import graft.streaming.CheckedIngestStream
    import graft.ops.Snapshots
    import graft.validate.Checks._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("w37legacy").toString
    val (main, quar) = (s"$root/main", s"$root/quar")
    val contract = Seq(Complete("v", 10000L))
    val good = Seq((1L, "a")).toDF("k", "v")
    val bad = Seq((2L, null.asInstanceOf[String])).toDF("k", "v")
    // simulate a table committed under the OLD tag format
    Snapshots.commitAppend(good, main, tag = Some("ingest-0"))
    Snapshots.commitAppend(bad, quar, tag = Some("quarantine-1"))
    // checkpoint replay AFTER the upgrade WITH the compat flag: the
    // legacy fallback finds the bid-only tag — nothing lands twice
    CheckedIngestStream.absorb(good, 0L, main, quar, contract,
      appId = "q1", legacyTagCompat = true)
    CheckedIngestStream.absorb(bad, 1L, main, quar, contract,
      appId = "q1", legacyTagCompat = true)
    assert(Snapshots.read(spark, main).count() == 1)
    assert(Snapshots.read(spark, quar).count() == 1)
    // NEW batches (bids beyond the legacy backlog) land under the
    // (appId, bid) format and replay exactly-once on it
    val g2 = Seq((3L, "c")).toDF("k", "v")
    CheckedIngestStream.absorb(g2, 2L, main, quar, contract,
      appId = "q1", legacyTagCompat = true)
    CheckedIngestStream.absorb(g2, 2L, main, quar, contract,
      appId = "q1", legacyTagCompat = true)
    assert(Snapshots.read(spark, main).select("k").as[Long]
      .collect().toSet == Set(1L, 3L))
    // WITHOUT the flag (the default), a DIFFERENT app's bid-0 batch
    // must LAND despite the legacy ingest-0 tag — the bid-only
    // identity must never absorb another query's work
    val other = Seq((9L, "z")).toDF("k", "v")
    CheckedIngestStream.absorb(other, 0L, main, quar, contract,
      appId = "q2")
    assert(Snapshots.read(spark, main).select("k").as[Long]
      .collect().toSet == Set(1L, 3L, 9L),
      "default-off shim must not eat a new app's batches")
  }

  test("w38 feed pacing: a paced interval endpoint skips STAGED branch manifests — unpublished rows never leak into the feed (round-18)") {
    import graft.streaming.SnapshotFeed
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("w38brskip").toString
    val (src, st) = (s"$root/src", s"$root/st")
    (1 to 3).foreach(i => Snapshots.commitAppend(
      Seq((i.toLong, s"v$i")).toDF("k", "v"), src)) // ids 1..3
    Snapshots.wapStage(Seq((99L, "staged")).toDF("k", "v"), src, "wip") // id 4
    (1 to 3).foreach(i => Snapshots.commitAppend(
      Seq((i + 10L, s"w$i")).toDF("k", "v"), src)) // ids 5..7
    // drain cursor to 3, then a paced poll whose desired endpoint (4)
    // is the STAGED manifest: the interval must grow to main's snap-5
    SnapshotFeed.poll(spark, src, st, 3)((_, _, _) => ())
    val r = SnapshotFeed.poll(spark, src, st, 1) { (_, _, changes) =>
      val ks = changes.filter($"op" === "I").select("k")
        .as[Long].collect().toSet
      assert(!ks.contains(99L), "staged rows must not leak into the feed")
      assert(ks == Set(11L))
    }
    assert(r.contains((3L, 5L)),
      s"paced endpoint must skip the branch manifest, got $r")
    // the rest drains normally and never sees the staged row
    val r2 = SnapshotFeed.poll(spark, src, st, 10) { (_, _, changes) =>
      assert(!changes.filter($"op" === "I").select("k").as[Long]
        .collect().contains(99L))
    }
    assert(r2.contains((5L, 7L)))
  }

  test("w38 feed pacing: a backlog drains in bounded tagged intervals; expired cursor fails loudly with re-bootstrap guidance (round-18)") {
    import graft.streaming.SnapshotFeed
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("w38pace").toString
    val src = s"$root/src"
    (1 to 7).foreach(i => Snapshots.commitAppend(
      Seq((i.toLong, s"v$i")).toDF("k", "v"), src))
    // mirror consumer resumes against a 7-commit backlog with
    // maxCommitsPerPoll = 3: three bounded intervals, each own tag
    var intervals = List.empty[(Long, Long)]
    var r = SnapshotFeed.mirrorInto(spark, src, s"$root/st1", s"$root/dst1",
      Seq("k"), maxCommitsPerPoll = 3)
    while (r.isDefined) {
      intervals = intervals :+ r.get
      r = SnapshotFeed.mirrorInto(spark, src, s"$root/st1", s"$root/dst1",
        Seq("k"), maxCommitsPerPoll = 3)
    }
    assert(intervals == List((0L, 3L), (3L, 6L), (6L, 7L)))
    assert(Snapshots.read(spark, s"$root/dst1").select("k").as[Long]
      .collect().toSet == (1L to 7L).toSet)
    Seq("feed-0-3", "feed-3-6", "feed-6-7").foreach(t =>
      assert(Snapshots.findTag(spark, s"$root/dst1", t).isDefined,
        s"per-interval tag $t must ride the mirror commit"))
    // appendInto paces too (and single-passes each interval)
    var r2 = SnapshotFeed.appendInto(spark, src, s"$root/st2",
      s"$root/dst2", maxCommitsPerPoll = 4)
    assert(r2.contains((0L, 4L)))
    r2 = SnapshotFeed.appendInto(spark, src, s"$root/st2", s"$root/dst2",
      maxCommitsPerPoll = 4)
    assert(r2.contains((4L, 7L)))
    assert(Snapshots.read(spark, s"$root/dst2").count() == 7)
    // retention interplay 1: a paced interval whose desired endpoint
    // was expired grows FORWARD to the nearest retained manifest —
    // commits are never silently skipped
    SnapshotFeed.poll(spark, src, s"$root/st3", 3)((_, _, _) => ())
    Snapshots.expire(spark, src, keepLast = 2) // retains snap-6, snap-7
    val grown = SnapshotFeed.poll(spark, src, s"$root/st4", 2)((_, _, c) =>
      assert(c.count() == 6)) // bootstrap folds (0, 6]
    assert(grown.contains((0L, 6L)))
    // retention interplay 2: a cursor BEHIND the horizon fails loudly
    // (st3's cursor is snap-3, whose manifest expire just removed)
    val e = intercept[RuntimeException] {
      SnapshotFeed.poll(spark, src, s"$root/st3")((_, _, _) => ())
    }
    assert(e.getMessage.contains("retention horizon"),
      s"expired-cursor failure must carry guidance, got: ${e.getMessage}")
  }

  test("w38 branch feed: an audit consumer folds staged intervals incrementally while main readers stay clean (round-18)") {
    import graft.streaming.SnapshotFeed
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("w38br").toString
    val (src, state, dst) = (s"$root/src", s"$root/st", s"$root/dst")
    Snapshots.commitAppend(Seq((1L, "a")).toDF("k", "v"), src)
    Snapshots.wapStage(Seq((2L, "s1")).toDF("k", "v"), src, "audit")
    // bootstrap fold: the branch state (base + staged) lands downstream
    val i1 = SnapshotFeed.pollBranch(spark, src, "audit", state) {
      (from, to, changes) =>
        Snapshots.commitAppend(
          changes.filter($"op" === "I").drop("op"), dst,
          tag = Some(s"brfeed-$from-$to"))
        ()
    }
    assert(i1.isDefined)
    assert(Snapshots.read(spark, dst).select("k").as[Long]
      .collect().toSet == Set(1L, 2L))
    // a second staged batch folds INCREMENTALLY (only the new dir)
    Snapshots.wapStage(Seq((3L, "s2")).toDF("k", "v"), src, "audit")
    val i2 = SnapshotFeed.pollBranch(spark, src, "audit", state) {
      (from, to, changes) =>
        val ins = changes.filter($"op" === "I")
        assert(ins.count() == 1, "incremental leg must fold the delta only")
        Snapshots.commitAppend(ins.drop("op"), dst,
          tag = Some(s"brfeed-$from-$to"))
        ()
    }
    assert(i2.isDefined && i2.get._1 == i1.get._2)
    assert(Snapshots.read(spark, dst).select("k").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    // main never saw the staged rows; a no-move poll is a no-op
    assert(Snapshots.read(spark, src).select("k").as[Long]
      .collect().toSet == Set(1L))
    assert(SnapshotFeed.pollBranch(spark, src, "audit", state)(
      (_, _, _) => ()).isEmpty)
  }

  test("w38 snapshot feed: manifest-chain source — intervals fold, mirror tracks, crash replay exactly-once") {
    import graft.streaming.SnapshotFeed
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("w38").toString
    val (src, state, dst) = (s"$root/src", s"$root/state", s"$root/dst")
    def df(rows: (Long, String)*) = rows.toDF("k", "v")
    def read(d: String) = Snapshots.read(spark, d)
      .as[(Long, String)].collect().toSet
    // empty table: poll is a no-op, not an error
    assert(SnapshotFeed.poll(spark, src, state)((_, _, _) => fail()).isEmpty)
    // bootstrap interval: whole table as inserts
    Snapshots.commitAppend(df((1L, "a"), (2L, "b")), src)
    assert(SnapshotFeed.mirrorInto(spark, src, state, dst, Seq("k"))
      .contains((0L, 1L)))
    assert(read(dst) == read(src))
    // no movement → None, zero work
    assert(SnapshotFeed.mirrorInto(spark, src, state, dst, Seq("k")).isEmpty)
    // merge + delete + append: TWO commits absorbed in ONE interval
    Snapshots.commitMerge(df((1L, "x"), (2L, "B2"), (3L, "c")), src, "k",
      deleteFilter = Some($"k" === 1L))
    Snapshots.commitAppend(df((4L, "d")), src)
    assert(SnapshotFeed.mirrorInto(spark, src, state, dst, Seq("k"))
      .contains((1L, 3L)))
    assert(read(dst) == Set((2L, "B2"), (3L, "c"), (4L, "d")))
    assert(read(dst) == read(src))
    // crash replay: rewind the cursor (crash-before-advance) — the
    // re-delivered interval's tag absorbs, the mirror stays identical
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.writeAtomic(fs, state, "_FEED_CURSOR", "snap-1")
    val dstHead = Snapshots.current(spark, dst).get.id
    assert(SnapshotFeed.mirrorInto(spark, src, state, dst, Seq("k"))
      .contains((1L, 3L)))
    assert(Snapshots.current(spark, dst).get.id == dstHead,
      "replayed interval must be absorbed by its tag, not re-committed")
    assert(read(dst) == read(src))
    // the readStream lifecycle: a rate clock drives polls; the feed
    // catches up and stop() ends it cleanly
    Snapshots.commitDelete(Seq(Tuple1(3L)).toDF("k"), src, "k")
    val q = SnapshotFeed.start(spark, src, state, intervalMs = 100L) {
      (from, to, ch) =>
        val tag = Some(s"feed-$from-$to")
        Snapshots.commitMergeKeyed(
          ch.filter($"op" === "I").drop("op"),
          ch.filter($"op" === "D").select("k"), dst, Seq("k"), tag)
        ()
    }
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (read(dst) != read(src) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally q.stop()
    assert(read(dst) == read(src), "rate-clock feed must converge")
    assert(read(dst) == Set((2L, "B2"), (4L, "d")))
    // append-only consumer: inserts fold keylessly; a delete-bearing
    // interval is refused LOUDLY, never silently dropped
    val (src2, st2, dst2) = (s"$root/src2", s"$root/st2", s"$root/dst2")
    Snapshots.commitAppend(df((10L, "x")), src2)
    Snapshots.commitAppend(df((11L, "y")), src2)
    assert(SnapshotFeed.appendInto(spark, src2, st2, dst2)
      .contains((0L, 2L)))
    assert(read(dst2) == Set((10L, "x"), (11L, "y")))
    Snapshots.commitDelete(Seq(Tuple1(10L)).toDF("k"), src2, "k")
    intercept[IllegalArgumentException] {
      SnapshotFeed.appendInto(spark, src2, st2, dst2)
    }
    // the refused interval did NOT advance the cursor — a later
    // mirrorInto picks it up from the same point
    assert(SnapshotFeed.cursor(spark, st2) == 2L)
    assert(SnapshotFeed.mirrorInto(spark, src2, st2, dst2, Seq("k"))
      .contains((2L, 3L)))
    assert(read(dst2) == Set((11L, "y")))
  }

  test("w19 session state: boundary-spanning merge, replay idempotence, horizon eviction") {
    import graft.streaming.SessionStream
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // user 1: events at 0s, 100s | 1900s (within gap of 100s -> ONE
    // session spans the batch boundary), then 10000s (new session).
    // user 2: 0s only, then idle past the horizon -> evicted closed.
    val b0 = Seq((1L, 101L, ts(0)), (1L, 102L, ts(100)), (2L, 201L, ts(0)))
      .toDF("user_id", "event_id", "ts")
    val b1 = Seq((1L, 103L, ts(1900))).toDF("user_id", "event_id", "ts")
    val b2 = Seq((1L, 104L, ts(10000))).toDF("user_id", "event_id", "ts")
    val root = java.nio.file.Files.createTempDirectory("w19").toString
    SessionStream.absorb(spark, b0, root, 0L)
    SessionStream.absorb(spark, b1, root, 1L)
    SessionStream.absorb(spark, b2, root, 2L)
    def fold() = SessionStream.sessions(spark, root, 2L)
      .orderBy("user_id", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    val expected = Seq(
      (1L, 1L, 3L, 101L, 103L), // 0s,100s,1900s merged across the b0/b1 boundary
      (1L, 2L, 1L, 104L, 104L),
      (2L, 1L, 1L, 201L, 201L))
    assert(fold() == expected, s"got ${fold()}")
    // user 2 was evicted when b2's min ts (10000s) passed 0s + gap: its
    // session sits in a closed delta, not open state
    val open = SessionStream.openState(spark, root, Long.MaxValue)
      .select("user_id").as[Long].collect().toSet
    assert(open == Set(1L), s"horizon eviction must shrink open state, got $open")
    // replaying batch 1 from the same prior version rewrites identical
    // state (overwrite-idempotence) — the fold is unchanged
    SessionStream.absorb(spark, b1, root, 1L)
    assert(fold() == expected, "replayed batch must leave the fold unchanged")
  }

  test("t22 folded MG sketches: guarantees hold, replay and order cannot change the fold") {
    import graft.streaming.HeavyHitterStream
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    // skewed stream: 'hot' dominates, spread across all batches
    val batches = (0 until 3).map { b =>
      ((1 to 400).map(_ => "hot") ++ (1 to 150).map(_ => s"warm$b") ++
        (1 to 450).map(_ => s"cold${rnd.nextInt(300)}")).toDF("term")
    }
    val B = 8
    def gate(root: String): (Long, Long) = {
      val folded = HeavyHitterStream.folded(spark, root)
      val all = batches.reduce(_ union _)
      val n = all.count()
      val exact = all.groupBy("term").count()
      val heavy = exact.filter(col("count") * (B + 1) > n).persist()
      val j = heavy.join(folded, Seq("term"), "left").persist()
      val missing = j.filter(col("est").isNull).count()
      val badBounds = j.filter(col("est") > col("count") ||
        (col("count") - col("est")) * (B + 1) > n).count()
      heavy.unpersist(); j.unpersist()
      (missing, badBounds)
    }
    val root = java.nio.file.Files.createTempDirectory("t22").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      HeavyHitterStream.absorb(b, "term", root, i.toLong, B) }
    assert(gate(root) == ((0L, 0L)), "folded sketch must honor MG guarantees")
    val before = HeavyHitterStream.folded(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // replay batch 1: overwrite-idempotent
    HeavyHitterStream.absorb(batches(1), "term", root, 1L, B)
    val after = HeavyHitterStream.folded(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == before, "replayed batch must not change the fold")
    // reversed arrival order folds to the same estimates (commutative sum)
    val root2 = java.nio.file.Files.createTempDirectory("t22rev").toString
    batches.zipWithIndex.reverse.foreach { case (b, i) =>
      HeavyHitterStream.absorb(b, "term", root2, i.toLong, B) }
    val rev = HeavyHitterStream.folded(spark, root2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rev == before, "arrival order must not change the fold")
  }

  test("w20 profile state: fold == batch profile, replay-idempotent, nulls counted") {
    import graft.streaming.ProfileStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("w20_profile").toString
    val cols = Seq("k", "s")
    val b0 = Seq((1L, "a"), (2L, "b"), (2L, null: String)).toDF("k", "s")
    val b1 = Seq((3L, "b"), (4L, "c")).toDF("k", "s")
    ProfileStream.absorb(b0, cols, Map.empty, dir, 0L)
    ProfileStream.absorb(b1, cols, Map.empty, dir, 1L)
    def fold() = ProfileStream.folded(spark, dir, cols)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toSet
    val expect = Set(
      ("k", 5L, 0L, 4L, "1", "4"),
      ("s", 5L, 1L, 3L, "a", "c")) // null excluded from distinct/min/max
    assert(fold() == expect)
    // crash-replay: batch 1 re-absorbed under ITS OWN id — overwrite
    // idempotence keeps every stat (including the count sums) intact
    ProfileStream.absorb(b1, cols, Map.empty, dir, 1L)
    assert(fold() == expect, "replayed batch must not change any stat")
  }

  test("w21 ER match deltas: cross-batch linkage, replay and order absorbed") {
    import graft.streaming.ErStream
    import graft.ext.EntityResolution
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val recs = Seq(
      (1L, "red plate", "B1", 5), (2L, "red plat", "B1", 5),
      (3L, "red plate", "B1", 7), (4L, "re xxxxx", "B1", 5),
      (5L, "green gear", "B2", 9), (6L, "red plates", "B1", 5))
      .toDF("rec_id", "name", "brand", "size")
    val block =
      concat_ws("|", col("brand"), col("size"), substring(col("name"), 1, 2))
    val expect = EntityResolution.matchPairs(recs, "rec_id", "name", block, 8500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expect == Set((1L, 2L, 8888L), (1L, 6L, 9000L)))
    val b0 = recs.filter(col("rec_id").isin(1L, 4L, 5L)) // twins split
    val b1 = recs.filter(col("rec_id").isin(2L, 3L, 6L)) // across batches
    def fold(dir: String) = ErStream.folded(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val d1 = java.nio.file.Files.createTempDirectory("w21_er").toString
    ErStream.absorb(b0, "rec_id", "name", block, 8500, d1, 0L)
    ErStream.absorb(b1, "rec_id", "name", block, 8500, d1, 1L)
    assert(fold(d1) == expect, "cross-batch pairs must be found")
    ErStream.absorb(b1, "rec_id", "name", block, 8500, d1, 1L) // crash-replay
    assert(fold(d1) == expect, "replay must overwrite its own delta")
    val d2 = java.nio.file.Files.createTempDirectory("w21_er_rev").toString
    ErStream.absorb(b1, "rec_id", "name", block, 8500, d2, 0L)
    ErStream.absorb(b0, "rec_id", "name", block, 8500, d2, 1L)
    assert(fold(d2) == expect, "delivery order must not change the fold")
  }

  test("w21 stream block cap: crossing batch and beyond never pair, replay-stable") {
    import graft.streaming.ErStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one hot block (B1|5|re) delivered across 3 batches: 2 records, then
    // 1 (crosses cap=2), then 1 more; plus a control block arriving late
    val recs = Seq(
      (1L, "red plate", "B1", 5), (2L, "red plat", "B1", 5),
      (3L, "red plate", "B1", 5), (4L, "red plate", "B1", 5),
      (10L, "green gear", "B2", 9), (11L, "green gea", "B2", 9))
      .toDF("rec_id", "name", "brand", "size")
    val block =
      concat_ws("|", col("brand"), col("size"), substring(col("name"), 1, 2))
    val b0 = recs.filter(col("rec_id").isin(1L, 2L))
    val b1 = recs.filter(col("rec_id").isin(3L))
    val b2 = recs.filter(col("rec_id").isin(4L, 10L, 11L))
    def fold(dir: String) = ErStream.folded(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val d = java.nio.file.Files.createTempDirectory("w21_cap").toString
    val cap = Some(2)
    ErStream.absorb(b0, "rec_id", "name", block, 8500, d, 0L, cap)
    ErStream.absorb(b1, "rec_id", "name", block, 8500, d, 1L, cap)
    ErStream.absorb(b2, "rec_id", "name", block, 8500, d, 2L, cap)
    // pairs found BEFORE the crossing batch stay; the crossing batch
    // itself (record 3) and everything after (record 4) never pairs —
    // the cumulative-through-f rule; the control block pairs normally
    val expect = Set((1L, 2L, 8888L), (10L, 11L, 9000L))
    assert(fold(d) == expect,
      s"capped fold mismatch: ${fold(d)}")
    // quarantine: exactly the hot block, crossed at batch 1 with cum 3
    val q = ErStream.quarantined(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(q == Set(("B1|5|re", 1L, 3L)), s"quarantine mismatch: $q")
    // crash-replay of the crossing batch AND the post-crossing batch:
    // prefix counts recompute identically, fold and quarantine unchanged
    ErStream.absorb(b1, "rec_id", "name", block, 8500, d, 1L, cap)
    ErStream.absorb(b2, "rec_id", "name", block, 8500, d, 2L, cap)
    assert(fold(d) == expect, "replay must not change the capped fold")
    val q2 = ErStream.quarantined(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(q2 == Set(("B1|5|re", 1L, 3L)), "replay must not change quarantine")
    // uncapped mode (default) still links everything
    val du = java.nio.file.Files.createTempDirectory("w21_uncap").toString
    ErStream.absorb(b0, "rec_id", "name", block, 8500, du, 0L)
    ErStream.absorb(b1, "rec_id", "name", block, 8500, du, 1L)
    ErStream.absorb(b2, "rec_id", "name", block, 8500, du, 2L)
    assert(fold(du) == expect ++ Set((1L, 3L, 10000L), (2L, 3L, 8888L),
      (1L, 4L, 10000L), (2L, 4L, 8888L), (3L, 4L, 10000L)),
      "uncapped fold must keep crossing-batch and later pairs")
    // degenerate key arriving ALL AT ONCE: its first batch exceeds the
    // cap, so it never pairs (the ≤ batch×cap bound) and quarantines at
    // that batch — the round-12 shape where new×new fanned out unbounded
    val dg = java.nio.file.Files.createTempDirectory("w21_degen").toString
    ErStream.absorb(recs.filter(col("rec_id") <= 4L), "rec_id", "name",
      block, 8500, dg, 0L, cap)
    assert(fold(dg).isEmpty, "oversized first batch must not pair")
    val qd = ErStream.quarantined(spark, dg)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(qd == Set(("B1|5|re", 0L, 4L)), s"degenerate quarantine: $qd")
  }

  test("w23 bounded-delay join: watermark evicts state and drops late rows") {
    // the PRODUCTION configuration of the w23 stream-stream event-time
    // join (the judged query runs an effectively-infinite delay for
    // exact batch parity): delay D = 10 days on both sides, join window
    // [o_ts, o_ts + 90d]. Contract pinned here: (a) join state is
    // EVICTED once the watermark passes a row's join window — state
    // rows track the in-flight window, not deliveries; (b) a row
    // arriving later than D behind the max event time is DROPPED, the
    // completeness trade the delay buys bounded state with.
    implicit val sqlCtx = spark.sqlContext
    val ords = MemoryStream[(Long, Timestamp)]
    val lis = MemoryStream[(Long, Timestamp, Long)]
    val oS = ords.toDF.toDF("o_orderkey", "o_ts").withWatermark("o_ts", "10 days")
    val lS = lis.toDF.toDF("l_orderkey", "l_ts", "cents").withWatermark("l_ts", "10 days")
    val joined = lS.join(oS, expr(
      "l_orderkey = o_orderkey AND l_ts >= o_ts AND l_ts <= o_ts + interval 90 days"))
    val ckpt = java.nio.file.Files.createTempDirectory("w23_evict").toString
    val q = joined.select(col("o_orderkey"), col("cents"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("w23_evict_spec").start()
    val stateTotals = scala.collection.mutable.ArrayBuffer.empty[Long]
    def step(): Unit = {
      q.processAllAvailable()
      stateTotals += q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }
    try {
      ords.addData((1L, ts("2026-01-01 00:00:00")))
      lis.addData((1L, ts("2026-01-02 00:00:00"), 100L))
      step() // on-time pair joins; state holds both rows
      ords.addData((2L, ts("2026-07-01 00:00:00")))
      lis.addData((2L, ts("2026-07-02 00:00:00"), 200L))
      step() // max event time jumps ~6 months; watermark advances next batch
      ords.addData((3L, ts("2027-01-01 00:00:00")))
      // LATE row for order 1: event time 11 months behind the watermark
      lis.addData((1L, ts("2026-01-03 00:00:00"), 999L))
      step()
      lis.addData((3L, ts("2027-01-02 00:00:00"), 300L))
      step() // flush: order 3's on-time pair joins
    } finally q.stop()
    val out = spark.table("w23_evict_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every on-time pair joined; the late 999-cent row was dropped
    assert(out == Set((1L, 100L), (2L, 200L), (3L, 300L)), s"got $out")
    // eviction: 7 rows were delivered, but final state keeps only the
    // in-flight window (order 3's pair at most, per side buffers) — a
    // no-eviction run would retain all 7
    assert(stateTotals.last <= 4,
      s"state not evicted: totals=$stateTotals")
    assert(stateTotals.last < stateTotals.max,
      s"state never shrank: totals=$stateTotals")
  }

  test("w25 ANN stream: bootstrap codebook frozen, later batches assigned, replay-stable") {
    import graft.streaming.AnnStream
    import graft.ext.Similarity
    import spark.implicits._
    // two separable clusters so assignments are unambiguous
    def vec(base: Float, i: Int): Array[Float] =
      Array.tabulate(8)(d => if (d == 0) base + i * 0.01f else 0.1f * d)
    val b0 = ((1 to 6).map(i => (i.toLong, vec(10f, i))) ++
      (7 to 12).map(i => (i.toLong, vec(-10f, i)))).toDF("vec_id", "embedding")
    val b1 = Seq((21L, vec(10f, 0)), (22L, vec(-10f, 0))).toDF("vec_id", "embedding")
    val d = java.nio.file.Files.createTempDirectory("w25_ann").toString
    AnnStream.absorb(b0, "vec_id", "embedding", k = 2, d, 0L)
    val cm = AnnStream.centroids(spark, d).get
    AnnStream.absorb(b1, "vec_id", "embedding", k = 2, d, 1L)
    // the codebook did NOT refit on batch 1
    assert(AnnStream.centroids(spark, d).get.map(_.toSeq).toSeq ==
      cm.map(_.toSeq).toSeq, "codebook must stay frozen after bootstrap")
    // folded assignments equal the batch argmin under the same codebook
    val all = b0.unionByName(b1)
    val batch = Similarity.kmeansAssign(all, "vec_id", "embedding", cm)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def fold() = AnnStream.folded(spark, d)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fold() == batch, "incremental index must equal the batch index")
    // same-cluster ids share a cell; cross-cluster ids differ
    assert(fold()(21L) == fold()(1L) && fold()(22L) == fold()(7L))
    assert(fold()(1L) != fold()(7L))
    // drift rows: one per batch, bp-scaled mean centroid-cosine
    val dr = AnnStream.drift(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(dr.keySet == Set(0L, 1L) && dr(0L)._1 == 12L && dr(1L)._1 == 2L)
    assert(dr(1L)._2 >= dr(0L)._2 - 2000L, s"iid batch drifted: $dr")
    // crash-replay of BOTH batches: codebook, fold, drift unchanged
    AnnStream.absorb(b0, "vec_id", "embedding", k = 2, d, 0L)
    AnnStream.absorb(b1, "vec_id", "embedding", k = 2, d, 1L)
    assert(fold() == batch, "replay must not change the index")
    assert(AnnStream.centroids(spark, d).get.map(_.toSeq).toSeq ==
      cm.map(_.toSeq).toSeq)
  }


  test("w32 gopher stream: fold == batch battery, replay-safe deltas, drift partials") {
    import graft.streaming.GopherStream
    import graft.ext.TextAnalysis
    import spark.implicits._
    val b0 = Seq((1L, "a b c a b c d e f"), (2L, "x y z w v")).toDF("doc_id", "text")
    val b1 = Seq((3L, "a a a a"), (4L, "q")).toDF("doc_id", "text")
    val d = java.nio.file.Files.createTempDirectory("w32_g").toString
    GopherStream.absorb(b0, "doc_id", "text", 3, 2, 2, d, 0L)
    GopherStream.absorb(b1, "doc_id", "text", 3, 2, 2, d, 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val batch = rows(TextAnalysis.gopherRepetition(
      b0.unionByName(b1), "doc_id", "text", 3, 2, 2))
    assert(rows(GopherStream.delivered(spark, d)) == batch,
      "delivered log must equal the batch battery")
    // drift partials: one O(1) row per batch, means derived from the log
    val dr = GopherStream.drift(spark, d)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(dr.keySet == Set(0L, 1L) && dr(0L)._1 == 2L)
    assert(dr(0L)._2 == (batch(1L)._5 + batch(2L)._5) / 2,
      "mean dup partial must match the log")
    // crash replay: overwrite deltas, nothing duplicates
    GopherStream.absorb(b0, "doc_id", "text", 3, 2, 2, d, 0L)
    assert(rows(GopherStream.delivered(spark, d)) == batch)
    assert(GopherStream.delivered(spark, d).count() == 4L)
    // an empty trigger writes neither a delta nor a partial
    GopherStream.absorb(b0.filter(col("doc_id") < 0L), "doc_id", "text",
      3, 2, 2, d, 2L)
    assert(GopherStream.drift(spark, d).count() == 2L)
  }

  test("w29 quality stream: fold == batch classifier, replay-safe deltas, drift partials") {
    import graft.streaming.QualityStream
    import graft.ext.TextAnalysis
    import spark.implicits._
    val vocab = Map("data" -> 120L, "slow" -> -250L, "the" -> -10L)
    val b0 = Seq((1L, "data stream the data"), (2L, "slow slow thing")).toDF("doc_id", "text")
    val b1 = Seq((3L, "the data pipeline"), (4L, "plain words only")).toDF("doc_id", "text")
    val d = java.nio.file.Files.createTempDirectory("w29_q").toString
    QualityStream.absorb(b0, "doc_id", "text", vocab, -50L, -34L, d, 0L)
    QualityStream.absorb(b1, "doc_id", "text", vocab, -50L, -34L, d, 1L)
    val batch = TextAnalysis.classifierScore(
        b0.unionByName(b1), "doc_id", "text", vocab, -50L, -34L)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    def fold() = QualityStream.delivered(spark, d)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(fold() == batch, "delivered log must equal the batch classifier")
    // drift partials: one O(1) row per batch; means derived from the log
    val dr = QualityStream.drift(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(dr.keySet == Set(0L, 1L) && dr(0L)._1 == 2L && dr(1L)._1 == 2L)
    val b0Mean = (batch(1L)._2 + batch(2L)._2) / 2
    assert(dr(0L)._2 == b0Mean, s"mean logit partial must match the log: $dr")
    assert(dr.values.forall(v => v._3 >= 0L && v._3 <= 10000L), "keep rate is bp")
    // crash replay of both batches: overwrite deltas, nothing duplicates
    QualityStream.absorb(b0, "doc_id", "text", vocab, -50L, -34L, d, 0L)
    QualityStream.absorb(b1, "doc_id", "text", vocab, -50L, -34L, d, 1L)
    assert(fold() == batch, "replay must not change the log")
    assert(QualityStream.delivered(spark, d).count() == 4L)
    // an empty trigger writes neither a delta nor a zero-row partial
    QualityStream.absorb(b0.filter(col("doc_id") < 0L), "doc_id", "text",
      vocab, -50L, -34L, d, 2L)
    assert(QualityStream.drift(spark, d).count() == 2L)
  }


  test("w30 decontam stream: fold == batch d8 scoring, frozen bench set, replay-safe") {
    import graft.streaming.DecontamStream
    import graft.ext.TextDedup
    import spark.implicits._
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),   // bench
      (1L, "alpha beta gamma other words here"),      // overlaps
      (2L, "completely different text nothing shared"),
      (3L, "beta gamma delta epsilon tail words")).toDF("doc_id", "text")
    val bench = DecontamStream.benchGramSet(
      docs.filter(col("doc_id") === 10L), "text", n = 3)
    val d = java.nio.file.Files.createTempDirectory("w30_dc").toString
    val b0 = docs.filter(col("doc_id") === 1L)
    val b1 = docs.filter(col("doc_id").isin(2L, 3L))
    DecontamStream.absorb(b0, "doc_id", "text", bench, 3, d, 0L)
    DecontamStream.absorb(b1, "doc_id", "text", bench, 3, d, 1L)
    val batch = TextDedup.contamination(docs, "doc_id", "text",
        isBenchmark = col("doc_id") === 10L, n = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def fold() = DecontamStream.delivered(spark, d)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(fold() == batch, s"delivered log must equal batch d8: ${fold()} vs $batch")
    assert(!fold().contains(2L), "zero-overlap docs stay absent (d8 contract)")
    // crash replay: overwrite deltas, nothing duplicates
    DecontamStream.absorb(b1, "doc_id", "text", bench, 3, d, 1L)
    assert(fold() == batch)
    // empty trigger writes nothing
    DecontamStream.absorb(docs.filter(col("doc_id") < 0L), "doc_id", "text",
      bench, 3, d, 2L)
    assert(fold() == batch)
  }

  test("w26 histogram stream: exact fold, replay/order independent, percentile edge semantics") {
    import graft.streaming.HistStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 10 values binned by div 10: bins 0(x4), 1(x3), 2(x2), 9(x1)
    val vals = Seq(1L, 2L, 3L, 9L, 10L, 11L, 19L, 20L, 29L, 99L)
    val bin = expr("v div 10")
    val b0 = vals.take(4).toDF("v")
    val b1 = vals.slice(4, 7).toDF("v")
    val b2 = vals.drop(7).toDF("v")
    def pct(dir: String) = HistStream.percentiles(spark, dir, Seq(50, 90, 99, 100))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val d = java.nio.file.Files.createTempDirectory("w26_hist").toString
    HistStream.absorb(b0, bin, d, 0L)
    HistStream.absorb(b1, bin, d, 1L)
    HistStream.absorb(b2, bin, d, 2L)
    // hand-computed: n=10; p50 → cum≥5 → bin 1 (cum 7); p90 → cum≥9 →
    // bin 2 (cum 9); p99/p100 → cum≥10 → bin 9 (cum 10)
    val expect = Map(50L -> (1L, 7L), 90L -> (2L, 9L),
      99L -> (9L, 10L), 100L -> (9L, 10L))
    assert(pct(d) == expect, s"got ${pct(d)}")
    // replay absorbs its own delta; a permuted delivery order folds the
    // same (histogram addition is commutative — no order pinning)
    HistStream.absorb(b1, bin, d, 1L)
    assert(pct(d) == expect)
    val d2 = java.nio.file.Files.createTempDirectory("w26_rev").toString
    HistStream.absorb(b2, bin, d2, 0L)
    HistStream.absorb(b0, bin, d2, 1L)
    HistStream.absorb(b1, bin, d2, 2L)
    assert(pct(d2) == expect, "delivery order must not change the readout")
    // compaction folds deltas behind the atomic base pointer: readout
    // unchanged, and a replayed PRE-horizon batch is invisible (its
    // delta sits at or below the folded horizon)
    HistStream.compact(spark, d)
    assert(pct(d) == expect, "compaction must not change the readout")
    HistStream.absorb(b1, bin, d, 1L) // replay of an already-folded batch
    assert(pct(d) == expect, "pre-horizon replay must not double-count")
    // post-compaction deltas keep folding in
    HistStream.absorb(Seq(5L, 15L).toDF("v"), bin, d, 3L)
    val expect2 = Map(50L -> (1L, 9L), 90L -> (2L, 11L),
      99L -> (9L, 12L), 100L -> (9L, 12L))
    assert(pct(d) == expect2, s"got ${pct(d)}")
    // second compaction folds base + new deltas
    HistStream.compact(spark, d)  // gen 2
    assert(pct(d) == expect2)
    // a torn compaction (generation written, pointer never swung) is
    // invisible to reads — and, because gen+1 may be an IN-FLIGHT
    // compact mid-write, vacuum SPARES generations above the pointer
    // (a non-numeric dir under base/ is likewise ignored, not a crash)
    Seq((0L, 999L)).toDF("bin", "c").write.mode("overwrite").parquet(s"$d/base/g3")
    Seq((0L, 1L)).toDF("bin", "c").write.mode("overwrite").parquet(s"$d/base/junk")
    assert(pct(d) == expect2, "orphan generation must never be read")
    // vacuum reclaims exactly the unreadable-AND-safe state: retired
    // deltas and generations BELOW the pointer; the gen+1 orphan stays
    val doomed = HistStream.vacuum(spark, d).toSet
    assert(doomed == Set("hist/b0", "hist/b1", "hist/b2", "hist/b3",
      "base/g1"), s"got $doomed")
    assert(pct(d) == expect2, "vacuum must not change the readout")
    // the orphan's number is reclaimed the normal way once the pointer
    // advances: the next real compaction overwrites g3 and supersedes
    // g2, which the following vacuum then deletes
    HistStream.absorb(Seq(5L).toDF("v"), bin, d, 4L)
    HistStream.compact(spark, d)  // gen 3, overwrites the torn orphan
    val after = pct(d)
    val doomed2 = HistStream.vacuum(spark, d).toSet
    assert(doomed2 == Set("hist/b4", "base/g2"), s"got $doomed2")
    assert(pct(d) == after, "vacuum must not change the readout")
  }

  test("w28 mixture stream: fold == batch c14, replay and order absorbed, live totals") {
    import graft.streaming.MixStream
    import graft.ext.TextAnalysis
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta"), (2L, "en", "one two"),
      (3L, "zh", "x y z"), (4L, "de", "ein zwei drei vier"),
      (5L, "fr", "sans part"), (6L, "en", "five six seven"),
      (7L, "zh", "a b c d e f"))
      .toDF("doc_id", "lang", "text")
    val shares = Seq("en" -> 5000, "zh" -> 3000, "de" -> 2000)
    val expect = TextAnalysis.tokenBudgetSample(docs, "doc_id", "text", "lang",
        budgetBp = 6000, sharesBp = shares)
      .as[(Long, String, Long, Long)].collect().toSet
    def fold(d: String) = MixStream.folded(spark, d, "doc_id", "lang",
        budgetBp = 6000, sharesBp = shares)
      .as[(Long, String, Long, Long)].collect().toSet
    val b0 = docs.filter(col("doc_id") <= 3)
    val b1 = docs.filter(col("doc_id") > 3)
    val d1 = java.nio.file.Files.createTempDirectory("w28_mix").toString
    MixStream.absorb(b0, "doc_id", "text", "lang", d1, 0L)
    MixStream.absorb(b1, "doc_id", "text", "lang", d1, 1L)
    assert(fold(d1) == expect, "fold must equal the batch recipe")
    // the excluded-category rule survives the stream (fr has no share)
    assert(fold(d1).find(_._1 == 5L).exists(_._4 == 0L))
    MixStream.absorb(b1, "doc_id", "text", "lang", d1, 1L) // crash-replay
    assert(fold(d1) == expect, "replay must overwrite its own deltas")
    val d2 = java.nio.file.Files.createTempDirectory("w28_rev").toString
    MixStream.absorb(b1, "doc_id", "text", "lang", d2, 0L)
    MixStream.absorb(b0, "doc_id", "text", "lang", d2, 1L)
    assert(fold(d2) == expect, "delivery order must not change the fold")
    // the live monitor totals come from partials alone and match
    val totals = MixStream.categoryTotals(spark, d1)
      .as[(String, Long)].collect().toMap
    assert(totals == Map("en" -> 9L, "zh" -> 9L, "de" -> 4L, "fr" -> 2L))
  }

  test("w27 CDC apply: upsert/delete merge, half-applied crash converges on replay") {
    import graft.streaming.CdcStream
    import graft.ops.Snapshots
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("w27_cdc").toString
    def rows() = Snapshots.read(spark, table).as[(Long, String)].collect().toSet
    val b0 = Seq(("upsert", 1L, "a"), ("upsert", 2L, "b"), ("upsert", 3L, "c"))
      .toDF("op", "k", "seg")
    CdcStream.absorb(b0, table, "k", "op")
    assert(rows() == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // b1: payload change for 1, delete 2, delete of a never-live key
    val b1 = Seq(("upsert", 1L, "a2"), ("delete", 2L, null.asInstanceOf[String]),
      ("delete", 99L, null.asInstanceOf[String])).toDF("op", "k", "seg")
    CdcStream.absorb(b1, table, "k", "op")
    val expect = Set((1L, "a2"), (3L, "c"))
    assert(rows() == expect)
    // full-batch replay (foreachBatch crash-replay): content converges
    CdcStream.absorb(b1, table, "k", "op")
    assert(rows() == expect, "replayed batch must not change content")
    // HALF-APPLIED crash: the delete commit landed, the append did not —
    // simulate by committing the delete directly, then replay the batch
    val b2 = Seq(("upsert", 3L, "c2"), ("upsert", 4L, "d")).toDF("op", "k", "seg")
    Snapshots.commitDelete(Seq(3L, 4L).toDF("k"), table, "k")
    assert(rows() == Set((1L, "a2")), "half-applied state visible pre-replay")
    CdcStream.absorb(b2, table, "k", "op")
    assert(rows() == Set((1L, "a2"), (3L, "c2"), (4L, "d")),
      "replay over a half-applied batch must converge")
    // an all-delete batch leaves a consistent table
    CdcStream.absorb(Seq(("delete", 1L, null.asInstanceOf[String]))
      .toDF("op", "k", "seg"), table, "k", "op")
    assert(rows() == Set((3L, "c2"), (4L, "d")))
    // one-op-per-key precondition is ENFORCED: a batch carrying two ops
    // for one key dies loudly (order-ambiguous merge) and leaves the
    // table untouched
    val bad = Seq(("upsert", 7L, "x"), ("delete", 7L, null.asInstanceOf[String]))
      .toDF("op", "k", "seg")
    val ex = intercept[IllegalArgumentException] {
      CdcStream.absorb(bad, table, "k", "op")
    }
    assert(ex.getMessage.contains("one-op-per-key"), ex.getMessage)
    assert(rows() == Set((3L, "c2"), (4L, "d")),
      "a rejected batch must not touch the table")
  }

  test("w26 histogram model test: random batches + random compaction == direct percentiles") {
    import graft.streaming.HistStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    var seed = 777L
    def nextInt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n).toInt + n) % n
    }
    val bin = expr("v div 7")
    for (scenario <- 1 to 2) {
      val d = java.nio.file.Files
        .createTempDirectory(s"w26_model_$scenario").toString
      val all = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (b <- 0 until 5) {
        val vals = (1 to (1 + nextInt(20))).map(_ => nextInt(200).toLong)
        all ++= vals
        HistStream.absorb(vals.toDF("v"), bin, d, b.toLong)
        if (nextInt(3) == 0) HistStream.compact(spark, d)
        if (nextInt(4) == 0) HistStream.absorb(vals.toDF("v"), bin, d, b.toLong)
      }
      // direct model: smallest bin whose cumulative count reaches n*p/100
      val bins = all.map(_ / 7).sorted
      val n = bins.length
      def model(p: Int): (Long, Long) = {
        val grouped = bins.groupBy(identity).view.mapValues(_.length.toLong)
          .toSeq.sortBy(_._1)
        var cum = 0L
        grouped.collectFirst {
          case (bv, c) if { cum += c; cum * 100 >= n.toLong * p } => (bv, cum)
        }.get
      }
      val got = HistStream.percentiles(spark, d, Seq(50, 90, 99))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = Seq(50, 90, 99).map(p => p.toLong -> model(p)).toMap
      assert(got == want, s"scenario $scenario: got $got expected $want")
    }
  }

  test("w20 profile fold on an empty state dir yields a zero profile") {
    import graft.streaming.ProfileStream
    val dir = java.nio.file.Files.createTempDirectory("w20_empty").toString
    val rows = ProfileStream.folded(spark, dir, Seq("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq(("x", 0L, 0L, 0L)))
  }

  test("w40 graft_feed source: manifest-id offsets in the CHECKPOINT, paced batches, kill mid-stream recovers without re-delivery") {
    import graft.ops.Snapshots
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("w40src").toString
    val (src, ckpt, out) = (s"$root/src", s"$root/ckpt", s"$root/out")
    // four commits: append, merge (update+delete), append, delete
    Snapshots.commitAppend(
      (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"), src)
    Snapshots.commitMergeKeyed(
      Seq((2L, "UPD")).toDF("k", "v"), Seq(Tuple1(5L)).toDF("k"),
      src, Seq("k"), None)
    Snapshots.commitAppend(
      (21L to 25L).map(i => (i, s"v$i")).toDF("k", "v"), src)
    Snapshots.commitDelete(Seq(Tuple1(10L)).toDF("k"), src, "k")
    // phase 1: paced drain — maxCommitsPerPoll=1 → one commit per batch
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def startQ() = spark.readStream.format("graft_feed")
      .option("table", src).option("maxCommitsPerPoll", 1)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
        seen.add((bid, b.count()))
        b.write.mode("overwrite").parquet(s"$out/b$bid"); ()
      }
      .start()
    val q1 = startQ()
    try q1.processAllAvailable() finally q1.stop()
    val batches1 = seen.size()
    assert(batches1 == 4,
      s"pacing: 4 commits at maxCommitsPerPoll=1 must be 4 batches, got $batches1")
    // the folded change stream reconstructs the table exactly
    // replay the per-batch change log in batch order, last op per key
    // wins (bounded fixture — driver fold is the test's own oracle)
    def foldOut(): Map[Long, String] = {
      val m = scala.collection.mutable.Map.empty[Long, String]
      val dirs = Option(new java.io.File(out).listFiles()).getOrElse(Array())
        .filter(d => d.isDirectory && d.getName.startsWith("b"))
        .sortBy(_.getName.drop(1).toInt)
      dirs.foreach { d =>
        spark.read.parquet(d.toString).collect().foreach { r =>
          val op = r.getAs[String]("op")
          val k = r.getAs[Long]("k")
          if (op == "I") m(k) = r.getAs[String]("v") else m.remove(k)
        }
      }
      m.toMap
    }
    val mirrored = foldOut()
    val truth = Snapshots.read(spark, src).as[(Long, String)]
      .collect().toMap
    assert(mirrored == truth, "folded change stream must equal the table")
    // phase 2: new commits while the stream is DOWN, then a recovery —
    // the checkpointed offset must resume exactly after snap-4
    seen.clear()
    Snapshots.commitAppend(Seq((30L, "late")).toDF("k", "v"), src)
    Snapshots.commitDelete(Seq(Tuple1(1L)).toDF("k"), src, "k")
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    val recovered = seen.asScala.toSeq.sortBy(_._1)
    assert(recovered.map(_._1).forall(_ >= 4),
      s"recovery must not replay committed batches: $recovered")
    assert(recovered.size == 2, s"two new commits → two batches: $recovered")
    assert(foldOut() == Snapshots.read(spark, src).as[(Long, String)]
      .collect().toMap, "post-recovery fold must equal the table")
    // phase 3: an offset expired past retention refuses LOUDLY on the
    // next incremental read (fresh table, fresh checkpoint, then expire
    // beyond the checkpointed offset)
    val src2 = s"$root/src2"
    val ckpt2 = s"$root/ckpt2"
    Snapshots.commitAppend(Seq((1L, "a")).toDF("k", "v"), src2)
    val q3 = spark.readStream.format("graft_feed")
      .option("table", src2).load()
      .writeStream.option("checkpointLocation", ckpt2)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    try q3.processAllAvailable() finally q3.stop()
    Snapshots.commitAppend(Seq((2L, "b")).toDF("k", "v"), src2)
    Snapshots.commitAppend(Seq((3L, "c")).toDF("k", "v"), src2)
    Snapshots.expire(spark, src2, keepLast = 1)
    val q4 = spark.readStream.format("graft_feed")
      .option("table", src2).load()
      .writeStream.option("checkpointLocation", ckpt2)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    val e = intercept[Exception] {
      try q4.processAllAvailable() finally q4.stop()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("retention horizon")),
      s"expired offset must refuse loudly, got: ${chain(e).mkString(" | ")}")
  }

  test("w40 graft_feed SINK: writeStream lands batchId-tagged atomic commits; keyed mode upserts; restart absorbs replays") {
    import graft.ops.Snapshots
    val root = java.nio.file.Files.createTempDirectory("w40sink").toString
    val (dst, ckpt) = (s"$root/t", s"$root/ckpt")
    val in = MemoryStream[(Long, String)](spark)
    def startQ() = in.toDS().toDF("k", "v")
      .writeStream.format("graft_feed")
      .option("table", dst).option("keyCols", "k")
      .option("checkpointLocation", ckpt)
      .start()
    val q = startQ()
    in.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    in.addData((2L, "B"), (3L, "c")) // upsert 2, insert 3
    q.processAllAvailable()
    q.stop()
    def state = Snapshots.read(spark, dst).as[(Long, String)]
      .collect().toMap
    assert(state == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    val head = Snapshots.current(spark, dst).get.id
    // restart on the same checkpoint: nothing new → no new commits
    val q2 = startQ()
    q2.processAllAvailable()
    in.addData((1L, "A2"))
    q2.processAllAvailable()
    q2.stop()
    assert(state == Map(1L -> "A2", 2L -> "B", 3L -> "c"))
    assert(Snapshots.current(spark, dst).get.id == head + 1,
      "exactly one new commit after restart — replays absorbed by tag")
    // refusals: complete mode, partitionBy
    intercept[Exception] {
      in.toDS().toDF("k", "v").groupBy("k").count()
        .writeStream.format("graft_feed").option("table", s"$root/x")
        .outputMode("complete")
        .option("checkpointLocation", s"$root/ck2").start()
    }
  }

  test("w40 mirrorStream: one-call checkpoint-native mirror — folds exactly, resumes after stop without re-delivery") {
    import graft.ops.Snapshots
    import graft.streaming.SnapshotFeed
    val root = java.nio.file.Files.createTempDirectory("w40ms").toString
    val (src, dst, ckpt) = (s"$root/src", s"$root/dst", s"$root/ckpt")
    Snapshots.commitAppend(
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v"), src)
    Snapshots.commitMergeKeyed(
      Seq((2L, "UPD")).toDF("k", "v"), Seq(Tuple1(9L)).toDF("k"),
      src, Seq("k"), None)
    val q1 = SnapshotFeed.mirrorStream(spark, src, dst, Seq("k"), ckpt,
      intervalMs = 50L)
    try q1.processAllAvailable() finally q1.stop()
    def state(d: String) = Snapshots.read(spark, d)
      .as[(Long, String)].collect().toMap
    assert(state(dst) == state(src), "mirror must equal source")
    // commits while the mirror is down; restart resumes exactly
    Snapshots.commitDelete(Seq(Tuple1(1L)).toDF("k"), src, "k")
    val dstHead = Snapshots.current(spark, dst).get.id
    val q2 = SnapshotFeed.mirrorStream(spark, src, dst, Seq("k"), ckpt,
      intervalMs = 50L)
    try q2.processAllAvailable() finally q2.stop()
    assert(state(dst) == state(src))
    assert(Snapshots.current(spark, dst).get.id == dstHead + 1,
      "exactly one new fold commit — no re-delivery of mirrored intervals")
  }
}
