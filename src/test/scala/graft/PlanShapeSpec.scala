package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import graft.ops.Snapshots.Where

/** Pin the EXECUTED plan shapes of the headline queries so a plan
  * regression (lost broadcast, extra shuffle, a window sneaking back into
  * the k-NN path) fails here in CI instead of surfacing as a bench
  * slowdown two rounds later (round-3 verdict #10). */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def finalPlan(df: DataFrame): SparkPlan = {
    // materialize THIS QueryExecution (df.count() would plan and run a
    // separate one, leaving df's adaptive plan un-finalized — the spec
    // would then assert the pre-runtime initial plan, not the executed one)
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def deep(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => deep(q.plan)
      case _ => Nil
    }
    Seq(p) ++ (p.children ++ p.subqueries).flatMap(deep) ++ nested
  }

  private def shuffles(p: SparkPlan) = deep(p).collect { case s: ShuffleExchangeLike => s }
  private def broadcasts(p: SparkPlan) = deep(p).collect { case b: BroadcastExchangeLike => b }
  private def windows(p: SparkPlan) = deep(p).collect { case w: WindowExec => w }

  private def q(name: String): SparkPlan =
    finalPlan(SparkEntry.queries(name)(spark, sf))

  test("round-13 kernels: header decode and unigram apply are scan passes, zero exchanges") {
    import org.apache.spark.sql.functions.{col, encode}
    val docs = graft.Tables.load(spark, sf, "documents")
    val hdr = finalPlan(graft.ext.Multimodal.imageHeaders(
      docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("content")),
      "doc_id", "content").toDF())
    assert(shuffles(hdr).isEmpty && broadcasts(hdr).isEmpty,
      s"m8 header-decode kernel grew an exchange:\n$hdr")
    val vocab = Seq(("a", -1000000L), ("b", -1200000L), ("ab", -900000L))
    val uni = finalPlan(docs.select(
      graft.functions.TextExpressions.unigramTokenize(col("text"), vocab).as("t")))
    assert(shuffles(uni).isEmpty && broadcasts(uni).isEmpty,
      s"t25 unigram-apply kernel grew an exchange:\n$uni")
  }

  test("round-14 decode passes: pixel aHash and WAV walk are scan passes, zero exchanges") {
    import org.apache.spark.sql.functions.{col, encode}
    val docs = graft.Tables.load(spark, sf, "documents")
    val blobs = docs.select(col("doc_id"),
      encode(col("text"), "UTF-8").as("content"))
    val px = finalPlan(graft.ext.Multimodal.decodeAHash(
      blobs, "doc_id", "content").toDF())
    assert(shuffles(px).isEmpty && broadcasts(px).isEmpty,
      s"m9 pixel-decode kernel grew an exchange:\n$px")
    val wav = finalPlan(graft.ext.Multimodal.wavHeaders(
      blobs, "doc_id", "content").toDF())
    assert(shuffles(wav).isEmpty && broadcasts(wav).isEmpty,
      s"m10 WAV-walk kernel grew an exchange:\n$wav")
  }

  test("round-15 quality batteries: gopher repetition and C4 cleanup are scan passes, zero exchanges") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, sf, "documents")
    val rep = finalPlan(graft.ext.TextAnalysis.gopherRepetition(
      docs, "doc_id", "text"))
    assert(shuffles(rep).isEmpty && broadcasts(rep).isEmpty,
      s"t26 gopher kernel grew an exchange:\n$rep")
    val c4 = finalPlan(graft.ext.TextAnalysis.c4Filter(
      docs.select(col("doc_id"), col("text")), "doc_id", "text",
      badWords = Seq("badword1")))
    assert(shuffles(c4).isEmpty && broadcasts(c4).isEmpty,
      s"t27 C4 filter grew an exchange:\n$c4")
    val gq = finalPlan(graft.ext.TextAnalysis.gopherQuality(
      docs, "doc_id", "text"))
    assert(shuffles(gq).isEmpty && broadcasts(gq).isEmpty,
      s"t28 quality battery grew an exchange:\n$gq")
  }

  test("j5 parent pointer is a pure projection: zero exchanges") {
    val p = q("j5_parent_pointer")
    assert(shuffles(p).isEmpty && broadcasts(p).isEmpty,
      s"expected exchange-free projection:\n$p")
  }

  test("q3/q5 join dims via broadcast, never shuffling the small side") {
    val p3 = q("q3_shipping_priority")
    assert(broadcasts(p3).nonEmpty, s"q3 lost its broadcast:\n$p3")
    val p5 = q("q5_region_revenue")
    // customer/nation/region (and orders at this SF) ride broadcasts
    assert(broadcasts(p5).size >= 2, s"q5 lost its dim broadcasts:\n$p5")
  }

  test("t6 corpus curation: one scoring scan, bounded shuffles") {
    val p = q("t6_corpus_curation")
    assert(shuffles(p).size <= 2,
      s"t6 grew extra shuffles (${shuffles(p).size}):\n$p")
  }

  test("v1 unique-only keeps the single-window rewrite") {
    val p = q("v1_unique_only")
    assert(windows(p).size == 1 && shuffles(p).size <= 2,
      s"v1 regressed from the single-window shape:\n$p")
  }

  test("k-NN paths rank via the bounded aggregate, not a window sort") {
    // e3/e5 folded their correctness entries into the e6/e7 recall gates;
    // the raw operators' plan shapes stay pinned here with the same params
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val plans = Seq(
      "e1_knn_brute" -> q("e1_knn_brute"),
      "e3(knnLsh)" -> finalPlan(graft.ext.Similarity.knnLsh(
        emb, "vec_id", "embedding", k = 3, dim = 64, bits = 6, tables = 8)),
      "e5(knnIvf)" -> finalPlan(graft.ext.Similarity.knnIvf(
        emb, "vec_id", "embedding", k = 3, nCells = 16, nProbe = 4)),
      "e8_quantized_recall" -> q("e8_quantized_recall"),
      "e16_filtered_ann" -> q("e16_filtered_ann"))
    for ((name, p) <- plans) {
      assert(windows(p).isEmpty,
        s"$name ranks through a window again (O(candidates) sort+shuffle):\n$p")
      val aggs = deep(p).filter(_.getClass.getSimpleName.contains("ObjectHashAggregate"))
      assert(aggs.nonEmpty, s"$name lost the top-k object aggregate:\n$p")
    }
  }

  test("s22 merge-on-read: every delete anti-join rides a broadcast, never a shuffle join") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("s22_plan").toString
    Snapshots.commitAppend((1L to 2000L).map(i => (i, s"v$i")).toDF("k", "v"), root)
    Snapshots.commitDelete((1L to 50L).toDF("k"), root, "k")
    Snapshots.commitAppend((3000L to 3500L).map(i => (i, s"w$i")).toDF("k", "v"), root)
    Snapshots.commitDelete(Seq(5L, 3005L).toDF("k"), root, "k")
    val p = finalPlan(Snapshots.read(spark, root))
    val smj = deep(p).filter(_.getClass.getSimpleName.contains("SortMergeJoin"))
    assert(smj.isEmpty,
      s"delete key sets are id-sized — the anti-join must broadcast:\n$p")
    assert(broadcasts(p).nonEmpty, s"expected broadcast anti-joins:\n$p")
  }

  test("c16 corpus build: one dedup window, no cartesian, bounded shuffles") {
    val p = q("c16_corpus_build")
    assert(windows(p).size == 1,
      s"c16 must keep the single dedup window (got ${windows(p).size}):\n$p")
    val bad = deep(p).filter(n => n.nodeName.contains("CartesianProduct") ||
      n.nodeName.contains("BroadcastNestedLoopJoin"))
    assert(bad.isEmpty, s"c16 grew an all-pairs join:\n$p")
    assert(shuffles(p).size <= 6,
      s"c16 grew extra shuffles (${shuffles(p).size}):\n$p")
  }

  test("p5 enum clean is a pure scan projection: zero exchanges") {
    val p = q("p5_enum_clean")
    assert(shuffles(p).isEmpty && broadcasts(p).isEmpty,
      s"cell cleansing must stay inside the scan projection:\n$p")
  }

  test("d6 exact-Jaccard truth never plans a cartesian/nested-loop join") {
    val p = q("d6_exact_neardup")
    val bad = deep(p).filter(n =>
      n.nodeName.contains("CartesianProduct") ||
        n.nodeName.contains("BroadcastNestedLoopJoin"))
    assert(bad.isEmpty,
      s"inverted-index truth regressed to an all-pairs join:\n$p")
  }

  test("c2 hash split is a single-aggregation plan (split expr stays in the scan stage)") {
    val p = q("c2_hash_split")
    assert(shuffles(p).size <= 1 && windows(p).isEmpty,
      s"c2 grew beyond scan + one aggregation exchange:\n$p")
  }

  test("t6/t7/t8 curation projections add no exchanges beyond their aggregation") {
    assert(shuffles(q("t7_redact_pii")).isEmpty && shuffles(q("t8_nfc_normalize")).isEmpty,
      "per-row curation ops must be pure scan projections")
    assert(shuffles(q("t6_corpus_curation")).size <= 1,
      "t6 regressed from the single min_by aggregation shuffle")
  }

  test("w4 as-of join is one shuffle + one partitioned window, no join operator") {
    val p = q("w4_asof_join")
    assert(shuffles(p).size == 1, s"asOf must cost exactly its key shuffle:\n$p")
    assert(windows(p).size == 1, s"asOf lost its union-window form:\n$p")
    val joins = deep(p).filter(_.nodeName.toLowerCase.contains("join"))
    assert(joins.isEmpty, s"asOf planned a join (per-key subquery shape?):\n$p")
  }

  test("w5 range join stays an equi-join on the bin — never a nested-loop/cartesian") {
    val p = q("w5_range_join")
    val bad = deep(p).filter(n =>
      n.nodeName.contains("BroadcastNestedLoop") || n.nodeName.contains("Cartesian"))
    assert(bad.isEmpty, s"range join fell back to a product plan:\n$p")
  }

  test("c4 packing accumulates under a PARTITIONED window, never one partition") {
    val p = q("c4_pack_sequences")
    val ws = windows(p)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"packing regressed to a global (un-partitioned) window:\n$p")
    val singlePart = deep(p).collect {
      case s: ShuffleExchangeLike if s.outputPartitioning.numPartitions == 1 => s
    }
    assert(singlePart.isEmpty, s"packing funnels through one partition:\n$p")
  }

  test("h4 upsert aggregates updates map-side and broadcasts onto the base") {
    val p = q("h4_upsert_latest")
    assert(shuffles(p).size <= 1, s"h4 grew beyond the one aggregate exchange:\n$p")
    assert(windows(p).isEmpty, s"h4 ranks through a window (O(updates) sort):\n$p")
  }

  test("c3 stratified sample is a pure scan-stage filter: zero exchanges") {
    val p = q("c3_stratified_sample")
    assert(shuffles(p).isEmpty && broadcasts(p).isEmpty && windows(p).isEmpty,
      s"sampling must stay a codegen'd filter projection:\n$p")
  }

  test("h5 scd2 is one keyed shuffle + one partitioned window, no self-join") {
    val p = q("h5_scd2")
    assert(shuffles(p).size == 1, s"scd2 grew extra shuffles:\n$p")
    val ws = windows(p)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"scd2 lost its per-key window partitioning:\n$p")
    assert(!p.toString.contains("Join"), s"scd2 joined instead of windowing:\n$p")
  }

  test("q6 rollup broadcasts the dim and carries all grouping sets in one shuffle") {
    val p = q("q6_rollup")
    assert(broadcasts(p).nonEmpty, s"q6 lost the nation broadcast:\n$p")
    assert(shuffles(p).size <= 1, s"q6 re-scans per grouping level:\n$p")
    assert(deep(p).exists(_.nodeName.contains("Expand")),
      s"q6 lost the single-pass Expand rollup shape:\n$p")
  }

  test("c5 sample-k is one stratum shuffle + one partitioned rank window") {
    val p = q("c5_sample_k")
    assert(shuffles(p).size == 1, s"c5 grew extra shuffles:\n$p")
    val ws = windows(p)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"c5 regressed to a global (un-partitioned) rank window:\n$p")
  }

  test("w6 funnel never windows or sorts the raw event stream") {
    val p = q("w6_funnel")
    assert(windows(p).isEmpty, s"funnel grew a window over the event stream:\n$p")
    assert(!deep(p).exists(_.nodeName.contains("CartesianProduct")),
      s"funnel fell into a cartesian join:\n$p")
  }

  test("p13 unpivot is a shuffle-free Expand projection") {
    val p = q("p13_unpivot")
    assert(shuffles(p).isEmpty && windows(p).isEmpty,
      s"melt must stream at scan speed:\n$p")
    assert(deep(p).exists(_.nodeName.contains("Expand")),
      s"melt lost its Expand form:\n$p")
  }

  test("a9 fingerprint is one scan + one 1-row aggregation exchange") {
    val p = q("a9_fingerprint")
    assert(shuffles(p).size <= 1 && windows(p).isEmpty,
      s"fingerprint must be a single partial+final aggregate:\n$p")
    assert(deep(p).exists(_.nodeName.contains("HashAggregate")),
      s"fingerprint lost map-side partial aggregation:\n$p")
  }

  test("q7 cube carries all grouping sets in one Expand + one shuffle") {
    val p = q("q7_cube")
    assert(broadcasts(p).nonEmpty, s"q7 lost the nation broadcast:\n$p")
    assert(shuffles(p).size <= 1, s"q7 re-scans per grouping level:\n$p")
    assert(deep(p).exists(_.nodeName.contains("Expand")),
      s"q7 lost the single-pass Expand cube shape:\n$p")
  }

  test("c7 shard assignment windows per size bucket, never one partition") {
    val p = finalPlan(graft.ops.Pack.balancedShards(
      Tables.load(spark, sf, "documents").select("doc_id", "n_chars"),
      "doc_id", "n_chars", nShards = 8, bucketWidth = 50))
    val ws = windows(p)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"shards regressed to a global (un-partitioned) window:\n$p")
  }

  test("s6 bucketed join costs no exchange on either side (only the final agg shuffles)") {
    val p = q("s6_bucketed_join")
    assert(deep(p).exists(_.nodeName.contains("SortMergeJoin")),
      s"s6 lost its sort-merge bucketed join:\n$p")
    // one shuffle for the segment aggregation; the JOIN itself is
    // co-located by bucket layout
    assert(shuffles(p).size <= 1, s"bucketed join regrew a shuffle:\n$p")
  }

  test("t13 entropy is a zero-shuffle compiled projection") {
    val p = q("t13_entropy")
    assert(shuffles(p).isEmpty && windows(p).isEmpty,
      s"char_entropy regressed to the explode+aggregate shape:\n$p")
  }

  test("p14 json extraction stays inside the scan projection stage") {
    val p = q("p14_json_extract")
    assert(shuffles(p).size <= 1 && windows(p).isEmpty,
      s"from_json must fuse into the scan + one aggregate:\n$p")
  }

  test("c9 chunking is a zero-shuffle, window-free projection") {
    val p = q("c9_chunks")
    assert(shuffles(p).isEmpty && windows(p).isEmpty,
      s"chunkDocs must stay a per-row explode projection:\n$p")
  }

  test("d11 span detection: per-doc window only, duplicate grams ride a semi-join") {
    val p = q("d11_dup_spans")
    // one exchange partitions by doc_id for the island window + the
    // duplicate-gram aggregation's exchange; a third shuffle appearing
    // means the semi-join stopped broadcasting or the window went global
    assert(windows(p).size == 1, s"island merge must be one window:\n$p")
    assert(windows(p).forall(_.requiredChildDistribution.head !=
      org.apache.spark.sql.catalyst.plans.physical.AllTuples),
      s"island window must partition by doc_id, not single-partition:\n$p")
    assert(shuffles(p).size <= 3, s"d11 grew extra shuffles (${shuffles(p).size}):\n$p")
  }

  test("d12 span removal adds only the span-list fold to d11's shape") {
    val p = q("d12_span_removal")
    assert(windows(p).size == 1, s"d12 must keep d11's single island window:\n$p")
    assert(shuffles(p).size <= 5, s"d12 grew extra shuffles (${shuffles(p).size}):\n$p")
  }

  test("c10 mixture sampling: broadcast rates + scan-stage threshold, no window") {
    val p = q("c10_mixture")
    assert(windows(p).isEmpty,
      s"mixture must not pay a per-category row_number (that is c6's shape):\n$p")
    assert(broadcasts(p).nonEmpty, s"c10 lost its broadcast rate join:\n$p")
    assert(shuffles(p).size <= 1,
      s"only the tiny count aggregate may shuffle (${shuffles(p).size}):\n$p")
  }

  test("t14 classifier scoring is a zero-shuffle scan projection") {
    val p = q("t14_classifier")
    assert(shuffles(p).isEmpty && broadcasts(p).isEmpty && windows(p).isEmpty,
      s"vocab scoring must stay in the scan's codegen stage:\n$p")
  }

  test("d13 bloom prescreen filters the corpus stream before any exchange") {
    val p = q("d13_bloom_decontam")
    // the compiled mightContainLong filter must sit in the scan-side
    // codegen stage: its Filter node's subtree contains no exchange of
    // any kind (a shuffle or broadcast build under it means the prescreen
    // stopped being a free pass over the corpus scan)
    val pre = deep(p).collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.find(
            _.isInstanceOf[graft.functions.VectorExpressions.BloomMightContainLong]
          ).isDefined => f
    }
    assert(pre.nonEmpty, s"bloom prescreen filter vanished from the plan:\n$p")
    assert(pre.forall(f => shuffles(f).isEmpty && broadcasts(f).isEmpty),
      s"bloom prescreen no longer runs pre-shuffle:\n$p")
    // exact verify stays a broadcast semi-join; only the two id-keyed
    // aggregates and the bench-side distinct may shuffle
    assert(broadcasts(p).nonEmpty, s"d13 lost its broadcast verify join:\n$p")
    assert(shuffles(p).size <= 3, s"d13 grew extra shuffles (${shuffles(p).size}):\n$p")
  }

  test("t16 pmi: map-side bigrams, top-k via TakeOrdered, bounded shuffles") {
    val p = q("t16_pmi")
    assert(deep(p).exists(_.isInstanceOf[
        org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"t16 lost TakeOrdered:\n$p")
    // uni agg + bigram agg + two vocab joins: the deliberate shuffle
    // budget; a transform-lambda bigram build or lost min-count prune
    // shows up as growth here
    assert(shuffles(p).size <= 7, s"t16 grew shuffles (${shuffles(p).size}):\n$p")
    assert(!p.toString.contains("CartesianProduct"), s"t16 grew a cartesian:\n$p")
  }

  test("c11 corpus shuffle: one shard-keyed shuffle, never a global sort") {
    val p = q("c11_corpus_shuffle")
    assert(shuffles(p).size <= 1, s"c11 grew shuffles (${shuffles(p).size}):\n$p")
    // the rank window must be PARTITIONED (per-shard slices), not a
    // single-partition total order
    val ws = windows(p)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"c11's window lost its shard partitioning:\n$p")
  }

  test("w10 outliers: stats broadcast back, corpus side never shuffles") {
    val p = q("w10_outliers")
    assert(broadcasts(p).nonEmpty, s"w10 lost its stats broadcast:\n$p")
    assert(windows(p).isEmpty, s"w10 grew a window (full-corpus shuffle):\n$p")
    // only the per-type stats aggregate may shuffle (tiny); the joined
    // event stream must not
    assert(shuffles(p).size <= 1, s"w10 grew shuffles (${shuffles(p).size}):\n$p")
  }

  test("m5 media dedup: one address-keyed shuffle, no join-back") {
    val p = q("m5_media_dedup")
    assert(shuffles(p).size <= 1, s"m5 grew shuffles (${shuffles(p).size}):\n$p")
    assert(!p.toString.contains("Join"), s"m5 grew a join:\n$p")
    val ws = windows(p)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"m5's window lost its address partitioning:\n$p")
  }

  test("e12 semantic decontam: bench broadcast, train side shuffles once") {
    val p = q("e12_semantic_decontam")
    assert(broadcasts(p).nonEmpty, s"e12 lost its bench broadcast:\n$p")
    // only the per-vec hit aggregate may shuffle; the predicate join
    // itself must ride the broadcast (train side scans map-side)
    assert(shuffles(p).size <= 1, s"e12 grew shuffles (${shuffles(p).size}):\n$p")
  }

  test("h6 time travel: h5's keyed window + scan-stage interval filter only") {
    val p = q("h6_time_travel")
    assert(shuffles(p).size <= 1, s"h6 grew shuffles (${shuffles(p).size}):\n$p")
    val ws = windows(p)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"h6's lead window lost its key partitioning:\n$p")
    assert(!p.toString.contains("Join"), s"h6 grew a join:\n$p")
  }

  test("a10 fk sweep: small parents broadcast, no cartesian edges") {
    val p = q("a10_fk_sweep")
    // nation-keyed edges (and at this SF every parent) ride broadcasts
    assert(broadcasts(p).nonEmpty, s"a10 lost its parent broadcasts:\n$p")
    assert(!p.toString.contains("CartesianProduct"), s"a10 grew a cartesian:\n$p")
  }

  test("p15 winsorize: fences broadcast back, corpus side never shuffles") {
    val p = q("p15_winsorize")
    assert(broadcasts(p).nonEmpty, s"p15 lost its fence broadcast:\n$p")
    assert(windows(p).isEmpty, s"p15 grew a window:\n$p")
    assert(shuffles(p).size <= 1, s"p15 grew shuffles (${shuffles(p).size}):\n$p")
  }

  test("t17 freq spectrum: two aggregates, no join/window/expand") {
    val p = q("t17_freq_spectrum")
    assert(shuffles(p).size <= 2, s"t17 grew shuffles (${shuffles(p).size}):\n$p")
    assert(windows(p).isEmpty && !p.toString.contains("Join"),
      s"t17 grew a join/window:\n$p")
  }

  test("v10 profile: one scan, expand-aggregate only, no join or window") {
    val p = q("v10_profile")
    val scans = deep(p).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1, s"v10 must profile in ONE scan:\n$p")
    assert(windows(p).isEmpty && !p.toString.contains("Join"),
      s"v10 grew a join/window:\n$p")
    // exact multi-distinct = Expand + its single shuffle; the stat
    // fan-out happens on the 1-row aggregate result, shuffle-free
    assert(shuffles(p).size <= 2, s"v10 grew shuffles (${shuffles(p).size}):\n$p")
  }

  test("v11 drift: both batch profiles from ONE scan, no self-join") {
    val p = q("v11_drift")
    val scans = deep(p).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1, s"v11 must compute both sides in ONE scan:\n$p")
    assert(!p.toString.contains("Join"), s"v11 grew a self-join:\n$p")
    assert(shuffles(p).size <= 2, s"v11 grew shuffles (${shuffles(p).size}):\n$p")
  }

  test("h7 snapshot diff: ONE union+groupBy shuffle, never a full-outer join") {
    val p = q("h7_snapshot_diff")
    assert(shuffles(p).size <= 1, s"h7 grew shuffles (${shuffles(p).size}):\n$p")
    assert(!p.toString.contains("Join"), s"h7 grew a join:\n$p")
    assert(windows(p).isEmpty, s"h7 grew a window:\n$p")
  }

  test("w13 rolling: one keyed window, frame inside the per-key sort") {
    val p = q("w13_rolling")
    assert(shuffles(p).size <= 1, s"w13 grew shuffles (${shuffles(p).size}):\n$p")
    val ws = windows(p)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"w13's rolling window lost its user partitioning:\n$p")
    assert(!p.toString.contains("Join"), s"w13 grew a join:\n$p")
  }

  test("v12 histogram: bounds as literals, one bounded-group aggregate") {
    val p = q("v12_histogram")
    // min/max came back as driver literals — the bucketing pass must be
    // a single <=nBuckets-group aggregate: no join, no window, 1 shuffle
    assert(shuffles(p).size <= 1, s"v12 grew shuffles (${shuffles(p).size}):\n$p")
    assert(windows(p).isEmpty && !p.toString.contains("Join"),
      s"v12 grew a join/window:\n$p")
  }

  test("d14 cluster reps: component-keyed window, no cartesian") {
    val p = q("d14_cluster_rep")
    val ws = windows(p)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"d14's rep window lost its component partitioning:\n$p")
    assert(!p.toString.contains("CartesianProduct"), s"d14 grew a cartesian:\n$p")
  }

  test("e13 hybrid rrf: corpus work bounded, fusion over top-k only") {
    val p = q("e13_hybrid_rrf")
    // both retriever tops come through TakeOrdered heaps (never a global
    // sort of corpus-scale data); the df join rides t15's broadcast
    assert(deep(p).exists(_.isInstanceOf[
        org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"e13 lost its TakeOrdered top-k:\n$p")
    assert(broadcasts(p).nonEmpty, s"e13 lost the df broadcast:\n$p")
    assert(!p.toString.contains("CartesianProduct"), s"e13 grew a cartesian:\n$p")
  }

  test("t18 js divergence: one vocab aggregate feeds the scalar, no join/window") {
    val p = q("t18_js_div")
    assert(shuffles(p).size <= 2, s"t18 grew shuffles (${shuffles(p).size}):\n$p")
    assert(windows(p).isEmpty && !p.toString.contains("Join"),
      s"t18 grew a join/window:\n$p")
  }

  test("m6 media sniff: a pure scan-stage projection — zero exchanges") {
    val p = q("m6_media_sniff")
    assert(shuffles(p).isEmpty && broadcasts(p).isEmpty,
      s"m6 must ride the scan, got exchanges:\n$p")
    assert(windows(p).isEmpty && !p.toString.contains("Join"),
      s"m6 grew a join/window:\n$p")
  }

  test("w14 gap fill: keyed window, grid work above one stream aggregate") {
    val p = q("w14_gap_fill")
    val ws = windows(p)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"w14's ffill window lost its key partitioning:\n$p")
    assert(shuffles(p).size <= 4, s"w14 grew shuffles (${shuffles(p).size}):\n$p")
    assert(!p.toString.contains("CartesianProduct"), s"w14 grew a cartesian:\n$p")
  }

  test("t19 html strip: pure scan-stage projection — zero exchanges") {
    val p = q("t19_html_strip")
    assert(shuffles(p).isEmpty && broadcasts(p).isEmpty,
      s"t19 must ride the scan, got exchanges:\n$p")
    assert(windows(p).isEmpty && !p.toString.contains("Join"),
      s"t19 grew a join/window:\n$p")
  }

  test("a11 reconcile: detail aggregate + one header join, no cartesian") {
    val p = q("a11_reconcile")
    assert(shuffles(p).size <= 3, s"a11 grew shuffles (${shuffles(p).size}):\n$p")
    assert(windows(p).isEmpty, s"a11 grew a window:\n$p")
    assert(!p.toString.contains("CartesianProduct"), s"a11 grew a cartesian:\n$p")
  }

  test("p16 date parse: try_to_timestamp chain rides the scan — zero exchanges") {
    val p = q("p16_date_parse")
    assert(shuffles(p).isEmpty && broadcasts(p).isEmpty,
      s"p16 must ride the scan, got exchanges:\n$p")
    assert(windows(p).isEmpty && !p.toString.contains("Join"),
      s"p16 grew a join/window:\n$p")
  }

  test("t20 source report: one scan, no join/window; Expand is the exact tier") {
    val p = q("t20_source_report")
    val scans = deep(p).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1, s"t20 must report from ONE scan:\n$p")
    assert(windows(p).isEmpty && !p.toString.contains("Join"),
      s"t20 grew a join/window:\n$p")
    assert(shuffles(p).size <= 2, s"t20 grew shuffles (${shuffles(p).size}):\n$p")
  }

  test("s12 schema merge: the unified read is scan-only — zero exchanges") {
    val p = q("s12_schema_merge")
    assert(shuffles(p).isEmpty, s"s12's merged read must not shuffle:\n$p")
    assert(windows(p).isEmpty && !p.toString.contains("Join"),
      s"s12 grew a join/window:\n$p")
  }

  test("w15 MAD outliers: stats broadcast back, stream never shuffles") {
    val p = q("w15_anomaly_mad")
    assert(broadcasts(p).nonEmpty, s"w15 lost its stats broadcast:\n$p")
    assert(windows(p).isEmpty, s"w15 grew a window:\n$p")
    assert(shuffles(p).size <= 2, s"w15 grew shuffles (${shuffles(p).size}):\n$p")
  }

  test("c12 curriculum: boundaries as literals — stage assignment is scan-only") {
    val p = q("c12_curriculum")
    assert(shuffles(p).isEmpty && broadcasts(p).isEmpty,
      s"c12's assignment must ride the scan:\n$p")
    assert(windows(p).isEmpty && !p.toString.contains("Join"),
      s"c12 grew a join/window:\n$p")
  }

  test("s13 csv roundtrip: the re-scan is scan-only — zero exchanges") {
    val p = q("s13_csv_roundtrip")
    assert(shuffles(p).isEmpty, s"s13's CSV re-scan must not shuffle:\n$p")
    assert(windows(p).isEmpty && !p.toString.contains("Join"),
      s"s13 grew a join/window:\n$p")
  }

  test("t15 bm25: query-term filter in the scan stage, top-k via TakeOrdered") {
    val p = q("t15_bm25")
    // every tf-branch scan prunes to the |Q| query terms BEFORE its
    // exchange: at least one FilterExec containing an In/InSet predicate
    // must sit exchange-free (shuffling unfiltered tokens would make the
    // tf aggregate vocabulary-sized — t12's deliberate shape, not t15's)
    val termFilters = deep(p).collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.find(e =>
            e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.In] ||
            e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.InSet]).isDefined => f
    }
    assert(termFilters.nonEmpty, s"t15 lost its scan-stage term filter:\n$p")
    assert(termFilters.forall(f => shuffles(f).isEmpty),
      s"t15 term filter slid above a shuffle:\n$p")
    // global top-k must be a TakeOrdered heap, never a total sort
    assert(deep(p).exists(_.isInstanceOf[
        org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"t15 lost TakeOrdered:\n$p")
    assert(!deep(p).exists(n => n.isInstanceOf[org.apache.spark.sql.execution.SortExec]
        && shuffles(n).nonEmpty),
      s"t15 grew a global sort:\n$p")
  }

  test("w16 retention: keyed shuffles only, offsets as literals, no window") {
    val p = q("w16_retention")
    assert(windows(p).isEmpty, s"w16 grew a window:\n$p")
    // distinct + per-user min + user join + final aggregate: all keyed
    // shuffles; the offset filter must stay a literal IN, never a
    // time-cross-join
    assert(!p.toString.contains("Cartesian") &&
      !p.toString.contains("BroadcastNestedLoop"),
      s"w16 grew an unkeyed join:\n$p")
    assert(shuffles(p).size <= 5, s"w16 grew shuffles (${shuffles(p).size}):\n$p")
  }

  test("c13 leakage split: capped pair feed, no cartesian, semi-join guard") {
    val p = q("c13_leakage_split")
    assert(!p.toString.contains("Cartesian") &&
      !p.toString.contains("BroadcastNestedLoop"),
      s"c13 must stay equi-join shaped:\n$p")
    assert(windows(p).isEmpty, s"c13 grew a window:\n$p")
  }


  test("m7 phash near-dup: banded equi-join — no cartesian, no nested loop") {
    val p = q("m7_media_phash")
    assert(!p.toString.contains("Cartesian") &&
      !p.toString.contains("BroadcastNestedLoop"),
      s"m7 must stay banded-equi-join shaped:\n$p")
    assert(windows(p).isEmpty, s"m7 grew a window:\n$p")
  }

  test("c14 token budget: broadcast category frame, no window, bounded shuffles") {
    val p = q("c14_token_budget")
    assert(broadcasts(p).nonEmpty, s"c14 lost its broadcast:\n$p")
    assert(windows(p).isEmpty, s"c14 grew a window:\n$p")
    assert(!p.toString.contains("CartesianProduct"), s"c14 grew a cartesian:\n$p")
    assert(shuffles(p).size <= 4, s"c14 shuffle count grew: ${shuffles(p).size}\n$p")
  }

  test("t24 bigram LM: vocabulary-keyed equi-joins — no cartesian, no window") {
    val p = q("t24_bigram_lm")
    assert(!p.toString.contains("CartesianProduct"), s"t24 grew a cartesian:\n$p")
    assert(windows(p).isEmpty, s"t24 grew a window:\n$p")
  }

  test("er5 Fellegi-Sunter: literal-weight scoring — no cartesian, no window") {
    val p = q("er5_fellegi_sunter")
    assert(!p.toString.contains("Cartesian") &&
      !p.toString.contains("BroadcastNestedLoop"),
      s"er5 must stay block-equi-join shaped:\n$p")
    assert(windows(p).isEmpty, s"er5 grew a window:\n$p")
  }

  test("g1 PageRank: edge equi-joins only — no cartesian, no nested loop, no window") {
    val p = q("g1_pagerank")
    assert(!p.toString.contains("Cartesian") &&
      !p.toString.contains("BroadcastNestedLoop"),
      s"g1 must stay join+aggregate shaped:\n$p")
    assert(windows(p).isEmpty, s"g1 grew a window:\n$p")
  }

  test("s16 partition prune: the predicate prunes at listing time, zero exchanges") {
    val p = q("s16_partition_prune")
    assert(shuffles(p).isEmpty && broadcasts(p).isEmpty,
      s"s16 re-read must be scan-only:\n$p")
    val scans = deep(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty, s"s16 lost its file scan:\n$p")
    assert(scans.exists(_.partitionFilters.exists(_.references.exists(
        _.name == "lang"))),
      s"s16's lang predicate must be a PARTITION filter (pruned at listing " +
        s"time), not a post-scan row filter:\n$p")
  }

  test("s34/s35: predicates PUSH to parquet through the rename Project and the hidden-range scan") {
    import graft.ops.Snapshots
    import spark.implicits._
    // rename path: a filter on the NEW name must reach the old dir's
    // scan as a pushed data filter (the rename is one Project over the
    // scan — Catalyst pushes the predicate through the alias)
    val root = java.nio.file.Files.createTempDirectory("s34_plan").toString
    Snapshots.commitAppend(
      (1L to 2000L).map(i => (i, i * 10)).toDF("k", "v"), root)
    Snapshots.commitRenameColumn(spark, root, "v", "value")
    val renamed = Snapshots.read(spark, root).filter($"value" > 19500L)
    val p1 = finalPlan(renamed)
    val scans1 = deep(p1).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans1.nonEmpty && scans1.forall(_.dataFilters.nonEmpty),
      s"the value predicate must push through the rename to the scan:\n$p1")
    assert(shuffles(p1).isEmpty, s"rename read is scan-only:\n$p1")
    // hidden-range path: the raw-column predicate reaches the surviving
    // dirs' scans as a pushed filter (maskedDirScan preFilter contract)
    val hroot = java.nio.file.Files.createTempDirectory("s35_plan").toString
    val t10 = Snapshots.TruncateTransform("v", 10000L)
    Snapshots.commitAppendHidden(
      (1L to 3000L).map(i => (i, i * 10)).toDF("k", "v"), hroot, t10)
    val p2 = finalPlan(Snapshots.scan(spark, hroot,
      Where.Hidden(t10, Where.Range("v", 0L, 9999L))).frame)
    val scans2 = deep(p2).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans2.nonEmpty && scans2.forall(_.dataFilters.nonEmpty),
      s"the raw-column range must push into the opened dirs' scans:\n$p2")
    assert(shuffles(p2).isEmpty, s"hidden-range read is scan-only:\n$p2")
  }

  test("s38/s39/s42: string-range, spec-aware, and conjunctive reads stay scan-only with pushed predicates (round-17)") {
    import graft.ops.Snapshots
    import spark.implicits._
    // string bounds: the BETWEEN predicate reaches the surviving dirs'
    // parquet scans (string filters push natively)
    val root = java.nio.file.Files.createTempDirectory("s38_plan").toString
    Snapshots.commitAppendStats(
      (1L to 2000L).map(i => (f"K$i%08d", i)).toDF("id", "v"), root,
      Seq("id"), None)
    val p1 = finalPlan(Snapshots.scan(spark, root,
      Where.StrRange("id", "K00000010", "K00000020")).frame)
    val scans1 = deep(p1).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans1.nonEmpty && scans1.forall(_.dataFilters.nonEmpty),
      s"the string range must push into the scan:\n$p1")
    assert(shuffles(p1).isEmpty, s"string-pruned read is scan-only:\n$p1")
    // spec-evolution + conjunctive multi-axis reads: raw predicates
    // push into every opened dir's scan, no shuffle anywhere
    val hroot = java.nio.file.Files.createTempDirectory("s42_plan").toString
    Snapshots.commitAppendHidden(
      (1L to 3000L).map(i => (i, i * 10, i % 50)).toDF("k", "t", "u"),
      hroot, Seq(Snapshots.TruncateTransform("t", 10000L),
        Snapshots.BucketTransform("u", 4)), None)
    val p2 = finalPlan(Snapshots.scan(spark, hroot,
      Where.Dnf.all(Where.Range("t", 0L, 9999L), Where.Range("u", 2L, 2L))).frame)
    val scans2 = deep(p2).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans2.nonEmpty && scans2.forall(_.dataFilters.nonEmpty),
      s"both raw predicates must push into the opened dirs' scans:\n$p2")
    assert(shuffles(p2).isEmpty, s"conjunctive auto read is scan-only:\n$p2")
    val p3 = finalPlan(Snapshots.scan(spark, hroot,
      Where.Dnf.all(Where.Range("t", 0L, 9999L))).frame)
    assert(shuffles(p3).isEmpty, s"spec-aware read is scan-only:\n$p3")
  }

  test("s48 CBO: a join against a tiny-LIVE snapshot table plans BroadcastHashJoin where the file-size heuristic alone would SMJ (round-19)") {
    import graft.ops.Snapshots
    import graft.plans.SnapshotSql
    import org.apache.spark.sql.functions.{col, concat, lit, md5}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cbo_t").toString
    // 4k rows x 1 KB of INCOMPRESSIBLE payload (md5 chains — a
    // constant pad would collapse under parquet compression and the
    // file-size heuristic would broadcast on its own); ~97% of rows
    // then masked by a delete, so live size sits far under the 256 KB
    // test threshold while raw file bytes sit far above it
    val padTerms = (0 until 32).map(j =>
      md5(concat(col("id").cast("string"), lit(s"_$j"))))
    val wide = spark.range(1, 4001)
      .select(col("id").as("k"), concat(padTerms: _*).as("pad"))
    Snapshots.commitAppend(wide, root)
    Snapshots.commitDelete(
      spark.range(1, 4001).filter("id % 32 != 0").select(col("id").as("k")),
      root, "k")
    SnapshotSql.register("cbo", root)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "262144")
      // static planning isolates the STATS effect: with AQE on, the
      // runtime could still rescue the join into BHJ — but only after
      // paying the big side's full shuffle, which is exactly the cost
      // the up-front CBO hint avoids
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // sanity: the estimator confirms the live size and clears the bar
      val est = Snapshots.broadcastableBytes(spark, root)
      assert(est.isDefined && est.get <= 262144L, s"estimate: $est")
      spark.range(1, 200000).select(col("id").as("k"),
        (col("id") % 7).as("w")).createOrReplaceTempView("cbo_big")
      val joined = spark.sql(
        """SELECT b.k, b.w FROM cbo_big b
          |JOIN graft_snap.cbo s ON b.k = s.k""".stripMargin)
      val p = finalPlan(joined)
      val bhj = deep(p).filter(_.getClass.getSimpleName
        .contains("BroadcastHashJoin"))
      assert(bhj.nonEmpty,
        s"tiny-live snapshot side must broadcast under CBO stats:\n$p")
      // control: the same join through the UNHINTED Scala read plans
      // SMJ — proving the file-size heuristic alone would not broadcast
      val control = finalPlan(spark.table("cbo_big")
        .join(Snapshots.read(spark, root), Seq("k")))
      val smj = deep(control).filter(_.getClass.getSimpleName
        .contains("SortMergeJoin"))
      assert(smj.nonEmpty,
        s"control: file-size heuristic should have planned SMJ:\n$control")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
      SnapshotSql.unregister("cbo")
    }
  }
}
