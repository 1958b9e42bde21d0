package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{Normalize, Dedup, Combine, Ids, Cascade, Zip, TemporalJoin, Pack, Components}
import graft.validate.Validations
import graft.state.History
import graft.mapping.RawDict
import graft.io.{Jsonl, Tsv}
import graft.ext.{TextAnalysis, TextDedup, Similarity, Multimodal, EntityResolution}

/** Driver contract (SURVEY.md §7).
  *
  * Every entry in `queries` exercises one operator (or operator
  * composition) from SURVEY.md §2's inventory — the key names carry the
  * §2 ids (p1…, a2…, j8…, v4…) — plus the LLM-pipeline extensions
  * (d* dedup, t* text analysis, e* embeddings, w* window/event).
  *
  * Determinism rules (the DuckDB oracle hash-compares values):
  *  - every computed column is aliased identically in Spark and SQL;
  *  - doubles that cross engine boundaries are either exact (counts,
  *    data passthrough) or reduced via round()/floor(x*10⁴) so both
  *    engines see the same bits;
  *  - every top-k / "first" is tie-broken on a unique key.
  */
object SparkEntry {

  /** Recall gates for e6/e7 in basis points (recall@3 vs exact on the
    * [[VecAnchorK]]-anchored query set). Measured (BASELINE.md "Round-12:
    * ANCHORED e-family truth tiers", anchored queries): LSH 3300/3946,
    * IVF 6146/5400 at sf0.01/sf0.1
    * (under the former 20% sample: LSH 3133/4091, IVF 6400/5791 — the
    * anchored numbers sit within sampling noise of those, as the
    * unbiasedness argument predicts); gates sit below the measured floor
    * so only a real quality regression (plane/centroid/ranking bug —
    * which drops recall to near-random, <50 bp) trips them, not data
    * drift between the driver's scale factors. */
  val LshRecallMinBp = 2500
  val IvfRecallMinBp = 4000

  /** e19 gate: the graph-augmented tier's anchored recall@3, measured
    * 7960/7800/6466 bp at sf0.001/0.01/0.1 (BASELINE.md "Round-14: e19
    * graph-augmented ANN", hops=2 beam=16 degree=8) vs the pure LSH seed
    * tier's 3566/3300/3946 —
    * floor below the weakest measurement; a real regression (graph
    * build, hop join, or beam-prune bug) collapses toward the seed
    * tier or below. */
  val GraphAnnRecallMinBp = 5500

  /** d7 gate: the corpus' planted near-dups sit at J ≥ 0.9 (measured
    * bimodal — next bucket is J ≈ 0), where 8-band/4-row MinHash recall is
    * ≈ 1; the gate at 80% trips on any banding/signature regression. */
  val MinhashRecallMinBp = 8000

  /** d6/d7/d10 truth-tier scale dial: the exact-pair verifiers ANCHOR on
    * a content-addressed set of K = TruthAnchorK docs (md5 draw on the
    * id, smallest-K — engine/partitioning-independent, recomputable
    * verbatim by the oracle) and compute exact (df-capped) Jaccard pairs
    * between the anchors and the FULL corpus
    * ([[graft.ext.TextDedup.anchoredJaccardPairs]]). Anchor selection is
    * independent of pair identity and every pair's inclusion probability
    * is ≈ 2K/n — equal across pairs — so anchored-pair recall is an
    * unbiased estimate of pair-level recall, while the pair-join cost is
    * Σ df_anchor·min(df, cap) ≤ cap · (anchor shingle instances) —
    * CONSTANT in the corpus size (the corpus contributes one scan + one
    * df aggregate, both linear and shared with the LSH path under test
    * via the shingle cache). A CONSTANT K also keeps the expected
    * anchored true-pair count constant (≈ 2K · pairs/n, and pairs ∝ n
    * for bounded duplicate clusters), so the gate never goes vacuous.
    * This supersedes the round-10 within-sample design (K = ⌈√(5000·n)⌉
    * docs, pairs inside the sample), whose pair-join work still grew
    * ∝ n — measured 5.1× for 10× data on d6 vs ≤ ~2× anchored. At the
    * judged sf0.01 and sf0.1 (n ≤ 5000 = K) the anchor set is the whole
    * corpus, so the judged pair set is the FULL df-capped verifier's.
    * The shipped paths under test (LSH candidates, SimHash signatures)
    * always run over the FULL corpus — only the ground-truth side
    * anchors. */
  val TruthAnchorK = 5000

  /** e-family truth-tier scale dial — the [[TruthAnchorK]] design applied
    * to the embedding corpus: every exact/brute ground-truth side (e1's
    * judged brute tier, e4's all-pairs cosine tier, and the exact legs of
    * the e6/e7/e8/e11/e14 recall gates) restricts its QUERY set to a
    * content-addressed set of K = VecAnchorK vectors (48-bit md5 draw on
    * vec_id, smallest-K — engine/partitioning-independent, recomputable
    * verbatim by the oracle's `anch` CTE). The brute side is then
    * O(K·n) — LINEAR in the corpus — instead of the former 20%-sample's
    * O(n²/5), which was the last judged verifier class that grew
    * superlinearly. Anchor selection is independent of neighborhood
    * structure and uniform over vectors, so anchored recall is an
    * unbiased estimate of population recall (same argument as the d6/d7
    * anchoring). The ANN paths under test (LSH tables, IVF cells, PQ
    * codes) always index/search the FULL corpus — only the queries and
    * the ground-truth side anchor. K = 500 keeps the anchored brute tier
    * within the measured e1 budget at the bench scales while pinning the
    * constant; at the judged sf0.001/sf0.01 (n ≤ 500 = K) the anchor set
    * is the whole corpus, so the judged result/query sets are the FULL
    * verifier's. */
  val VecAnchorK = 500

  /** d9/d14/d16 truth-tier scale dial: shingles occurring in more than
    * this many documents are dropped before the inverted-index pair join
    * (df-filtered Jaccard — the standard stop-shingle treatment, mirrored
    * exactly in the oracles' HAVING clause, so both engines compute the
    * same semantics). Bounds every index bucket, making the pair-join
    * cost Σ min(df,cap)² — linear in corpus size — instead of Σ df²,
    * which grows quadratically here (cross-replica template shingles:
    * measured 51× Σdf² growth for 10× docs, the source of d9's 12.9×
    * scale slope). The cap sits far above the corpus' largest duplicate-
    * cluster size (2) and above the measured equivalence point: cap ≥ 16
    * reproduces the UNCAPPED pair set exactly at sf0.01 and sf0.1
    * (measured via DuckDB set-diff), so the capped truth is the same
    * truth at judged scales while staying linear at 100×. */
  val DupShingleMaxDf = 32

  /** d16 gate: co-membership recall of LSH-fed duplicate clusters against
    * the exact-pair clusters — of the true (df-capped, J ≥ 0.3) pairs,
    * the share landing in the SAME LSH-fed component. Measured 10000 bp
    * at sf0.01/sf0.1 (planted dups sit at J ≥ 0.9 where 8-band/4-row
    * MinHash recall ≈ 1, and components only ever MERGE what pairs
    * connect); the floor trips on a banding/fixpoint regression, not on
    * corpus drift. */
  val ClusterRecallMinBp = 8000

  /** d10 gate: SimHash Hamming distance is bimodal on this corpus
    * (BASELINE.md "d10 SimHash Hamming band": true near-dup pairs max
    * 5/12 at sf0.01/sf0.1,
    * non-dup consecutive pairs min 8/4, p50 18) — every true pair sits
    * ≤ [[SimhashHammingMax]], so measured recall is 10000 bp at both SFs;
    * the gate trips only on a real signature regression (bit mixing,
    * vote fold), which sends true pairs toward the random ~32 mean. */
  val SimhashHammingMax = 16
  val SimhashRecallMinBp = 9000

  /** e8 gate: int8 per-vector-scaled quantization on 64-dim cosine is
    * near-lossless (measured recall@3 = 9840/9820 bp at sf0.01/sf0.1
    * under the anchored query set, BASELINE.md "Round-12: ANCHORED
    * e-family truth tiers"); the gate trips if
    * the quantize/dequantize pair starts distorting neighborhoods. */
  val QuantizedRecallMinBp = 8000

  /** e11 gates. PQ at m=16/ksub=256 (16× compression on 64-dim floats) is
    * a SHORTLIST tier — exact top-3 among this corpus' near-tied
    * within-cluster cosines is unstable under any reconstruction error
    * (measured direct recall@3: int8's 9816 bp vs PQ's 5050), so the gate
    * measures PQ's actual contracts (BASELINE.md "Round-12: ANCHORED
    * e-family truth tiers", sf0.01/sf0.1, anchored query set): true
    * top-3 inside the PQ top-10 an ADC scan
    * hands a re-ranker — queries EXACT, corpus decoded (measured
    * 9866/9306 bp; quantizing both sides would
    * measure the lower SDC quantity instead) — and mean reconstruction
    * cosine (measured 9844/9655 bp). Gates sit below the floors so only
    * a codebook/encode regression — which craters both — trips them, not
    * corpus drift. */
  val PqShortlistMinBp = 6000
  val PqReconMinBp = 9000

  /** e14 gate (BASELINE.md "Round-12: ANCHORED e-family truth tiers",
    * sf0.01/sf0.1, anchored query set): shortlist recall of the IVF-PQ
    * composite — the exact top-3
    * inside the ADC top-10 over nProbe=4 of 16 cells — 6040/5820 bp. The composite
    * sits below both tiers alone (cell truncation ∘ code distortion
    * compound); floor with e7's margin style so a fit/encode regression
    * trips it, not corpus drift. The twin work_ok flag bounds probed
    * candidate volume at 2·nProbe/nCells of queries×corpus, so the
    * opposite degeneracy (all vectors in one cell → recall via a full
    * scan) fails that flag instead. */
  val IvfPqShortlistMinBp = 4500

  /** e10 gates (measured via the e10 query itself at sf0.01/sf0.1 —
    * cluster-recall of cosine ≥ 0.4 pairs under k=10 single-assignment
    * k-means). Recall floor sits above the ~1000 bp random-assignment
    * rate but below the measured floor; the reduction cap bounds the
    * PRE-FILTER pairwise work — Σ_cell n_c·(n_c−1)/2 over the cell sizes,
    * i.e. the cosine evaluations the cluster decomposition actually
    * schedules — against all-pairs n·(n−1)/2, so the opposite degeneracy
    * (everything in one cell → full O(n²) scan regardless of how many
    * pairs survive the τ filter) fails it. The two flags are adversarial
    * complements. Measured work share: ~11–13% at sf0.01/sf0.1 (balanced
    * 10-cell fit ≈ 10%); cap at 30%. */
  val SemanticRecallMinBp = 2000
  val SemanticReductionMaxBp = 3000

  /** c3 training-mixture rates by language stratum; documents outside the
    * map sample at [[SampleDefaultRate]]. Thresholds (out of 65536) are
    * computed ONCE ([[TextAnalysis.rateThreshold]]) and shared verbatim
    * with the oracle SQL so neither engine re-rounds the floats. */
  val SampleRates: Map[String, Double] = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2)
  val SampleDefaultRate: Double = 0.1

  /** p12 pivot domain — explicit values, so the pivot plans without the
    * extra distinct-values scan Spark needs for an open-ended pivot. */
  val PivotSegments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** t14's classifier weight table: a stand-in for a trained quality
    * model's reduction to token weights (integer basis points — see
    * [[graft.ext.TextAnalysis.classifierScore]]). Mirrored literally in
    * the t14 oracle's VALUES list; change BOTH or neither. */
  /** c10's mixture recipe: target corpus shares per language (sums to 1;
    * 'fr' deliberately over-asks small categories at some SFs so the
    * saturation clamp exercises). Mirrored literally in the c10 oracle's
    * CASE arms; change BOTH or neither. */
  val MixtureShares: Map[String, Double] = Map(
    "en" -> 0.40, "zh" -> 0.25, "de" -> 0.15, "es" -> 0.10, "fr" -> 0.10)

  /** t15's fixed retrieval query: terms spanning the corpus df range.
    * Mirrored literally in the t15 oracle's IN list; change BOTH or
    * neither. */
  val Bm25Query: Seq[String] = Seq("hash", "join", "vector", "stream", "slow")

  val QualityVocab: Map[String, Long] = Map(
    "vector" -> 200L, "query" -> 150L, "data" -> 120L, "stream" -> 110L,
    "join" -> 90L, "window" -> 80L, "hash" -> 60L, "sort" -> 40L,
    "slow" -> -250L, "dup" -> -400L, "big" -> -50L, "small" -> -30L,
    "a" -> -20L, "the" -> -10L)

  /** SF-adaptive participant-id modulus shared by the v7/v8/v9 pipeline
    * fixtures (~2 customers per id at every scale factor). ONE definition:
    * the three gates compare against oracles that derive the same value
    * with a scalar subquery, so a drifting copy here would silently break
    * cross-gate comparability. */
  private[graft] def participantMod(s: SparkSession, dir: String): Long =
    math.max(t(s, dir, "customer").count() / 2, 1L)

  /** Session-scoped scratch dir (one per roundtrip query): contents
    * overwritten per invocation, never accreted; recursively removed by a
    * shutdown hook — `deleteOnExit` can't delete a non-empty directory. */
  private[graft] def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(d.toString)))
    d.toString
  }

  private[graft] lazy val jsonlScratchDir: String = scratchDir("graft_jsonl")
  private[graft] lazy val tsvScratchDir: String = scratchDir("graft_tsv")
  private[graft] lazy val bucketScratchDir: String = scratchDir("graft_bucketed")
  private[graft] lazy val xlsxScratchDir: String = scratchDir("graft_xlsx")
  private[graft] lazy val batchStoreScratchDir: String = scratchDir("graft_s7")
  private[graft] lazy val streamScratchDir: String = scratchDir("graft_stream")
  private[graft] lazy val schemaScratchDir: String = scratchDir("graft_s12")
  private[graft] lazy val csvScratchDir: String = scratchDir("graft_csv")
  private[graft] lazy val partScratchDir: String = scratchDir("graft_s16")

  /** Stage the events table's data files flat into a per-data-dir scratch
    * dir for the streaming file source (files arriving = micro-batches;
    * the source lists plain files and does NOT recurse into a symlinked
    * directory, so a multi-file parquet table must be staged file by
    * file). Keyed by a strong hash of the full data-dir path (hashCode
    * could collide two dirs → silently streaming the wrong sf's events).
    * Idempotent per invocation; shared by every streaming-events query
    * (w12, w17). */
  private[graft] def stageEventsDir(dir: String): String = {
    val sdir = s"$streamScratchDir/${dirKey(dir)}"
    rmTree(sdir)
    new java.io.File(sdir).mkdirs()
    val src = new java.io.File(s"$dir/events.parquet")
    val files =
      if (src.isDirectory)
        src.listFiles().toSeq
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      else Seq(src)
    files.zipWithIndex.foreach { case (f, i) =>
      val link = java.nio.file.Paths.get(s"$sdir/part-$i.parquet")
      try java.nio.file.Files.createSymbolicLink(link, f.toPath)
      catch {
        // filesystems/principals without symlink permission: copy
        // instead (bench/verify data-plane only)
        case _: UnsupportedOperationException | _: java.io.IOException =>
          java.nio.file.Files.copy(f.toPath, link)
      }
    }
    sdir
  }

  /** Root of the read-only reference checkout. The real-artifact parity
    * queries ([[referenceQueries]]) parse the ACTUAL reference
    * config/model files through the same loaders the pipeline uses —
    * overridable for environments that stage the checkout elsewhere. */
  private[graft] lazy val referenceDir: String =
    sys.env.getOrElse("GRAFT_REFERENCE_DIR", "/root/reference")

  /** The queries that read the reference checkout through [[refArtifact]]:
    * their one external input. They stay in [[queries]] and [[oracleSql]]
    * like every other query; a host without the checkout cannot run them. */
  val referenceQueries: Set[String] = Set("s14_real_model", "s15_dict_drift",
    "s17_date_render", "v16_real_config_e2e", "v17_real_v12_config_e2e")

  /** Read a small driver-side config artifact (YAML dict/model files are
    * config plane, never data plane — single-digit-KB to ~100 KB). */
  private[graft] def slurp(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Resolve a real-artifact path under [[referenceDir]], failing FAST
    * with a diagnostic naming GRAFT_REFERENCE_DIR when the checkout (or
    * one artifact) is absent — a mid-run bare NoSuchFileException from a
    * Bench/Verify worker names neither the knob nor the artifact. */
  private[graft] def refArtifact(rel: String): String = {
    val p = java.nio.file.Paths.get(referenceDir, rel)
    require(java.nio.file.Files.exists(p),
      s"reference artifact missing: $p — the real-artifact queries " +
        s"(${referenceQueries.toSeq.sorted.mkString(", ")}) read the " +
        "reference checkout; point GRAFT_REFERENCE_DIR at its root")
    p.toString
  }

  private[graft] def ts(x: String): Column = to_timestamp(lit(x))

  /** Collision-safe scratch key for a data dir (hashCode could collide two
    * dirs → silently reading the wrong sf's data). */
  private[graft] def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** er1/er2/er3 match threshold: normalized-Levenshtein similarity in
    * basis points. 8500 admits a single-character edit on the shortest
    * fixture name (7 chars → 8571 bp) — the planted dirt — while the
    * floor-to-bp integer boundary stays engine-portable. */
  val ErMinSimBp = 8500

  /** c16 corpus-build dials. Decontamination is a BUDGET, not a fixed
    * bp threshold: the top (1−q) most-benchmark-contaminated docs are
    * dropped, with the cut at the q-th discrete percentile of per-doc
    * contam_bp over the whole candidate corpus (percentile_disc ≡
    * DuckDB quantile_disc — the verified c12 twin; zero-overlap docs
    * count as 0 bp so the distribution is corpus-complete). A fixed bp
    * threshold is corpus-scale-DEPENDENT on this generator — measured:
    * 2000 bp drops 22/450 at sf0.01 but 4498/4500 at sf0.1 (the 10%
    * benchmark slice's 3-gram coverage saturates as the corpus grows) —
    * while the quantile form drops the same decile at every scale.
    * Quality keeps its absolute floor (t2's score is length/stopword
    * arithmetic, not corpus-relative). */
  val CorpusContamQuantile = 0.9
  val CorpusQualityMinBp = 2500L

  /** er1/er2/er3 blocking-skew dial: blocks larger than this are dropped
    * before the in-block self-join (an over-merged key — think a blank
    * name — would otherwise square). Far above the judged-scale maximum
    * (measured 4 at sf0.01, 14 at sf0.1 — the cap never binds at judged
    * scales, mirrored in the oracle's HAVING), so it only guards the
    * 100× tail. */
  val ErMaxBlock = 64

  /** w21 streaming block cap — DELIBERATELY small so the replay-safe
    * cap ([[graft.streaming.ErStream.absorb]]'s `maxStreamBlock`)
    * genuinely BINDS mid-stream at the judged scales (max cumulative
    * block size is 4 at sf0.01 with records spread across the 3
    * batches): a block pairs at batch f only while its cumulative
    * delivered-record count THROUGH f stays ≤ 2 — the crossing batch
    * itself no longer pairs the block (round-13 tightening: the old
    * prefix-only rule let a block's first oversized batch pair new×new
    * unbounded) and lands it in the quarantine delta. The w21 oracle
    * recomputes the SAME capped truth (cumulative-count predicate
    * through the pair's finding batch) — a cap that never binds would
    * leave the replay-safety path unexercised by the hash gate.
    * Production streams would set this near [[ErMaxBlock]]. */
  val ErStreamMaxBlock = 2

  /** Entity-resolution fixture: every part as a "clean" record plus, for
    * a deterministic 25% md5 draw of part keys, a "dirty" twin whose name
    * lost its last character — planted linkage dirt both engines rebuild
    * verbatim (the draw is the first md5 byte < 64, the mangle a
    * substring). rec_id = 2·partkey (+1 for the twin) keeps ids disjoint
    * and the clean record the smaller id (so it wins min-id entity
    * labeling). */
  private[graft] def erRecords(parts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = parts.select((col("p_partkey") * 2).as("rec_id"),
      col("p_name").as("name"), col("p_brand").as("brand"), col("p_size").as("size"))
    val dirty = parts
      .filter(conv(substring(md5(col("p_partkey").cast("string")), 1, 2), 16, 10)
        .cast("long") < 64)
      .select((col("p_partkey") * 2 + 1).as("rec_id"),
        expr("substring(p_name, 1, length(p_name) - 1)").as("name"),
        col("p_brand").as("brand"), col("p_size").as("size"))
    base.unionByName(dirty)
  }

  /** er blocking key: (brand, size, 2-char name prefix) — the dirt
    * preserves all three (only the LAST name char is dropped), so a twin
    * always meets its source; the brand×size×prefix domain keeps blocks
    * small. */
  private[graft] def erBlock: org.apache.spark.sql.Column =
    concat_ws("|", col("brand"), col("size"), substring(col("name"), 1, 2))

  /** The [[TruthAnchorK]] anchor ids: smallest-K docs by 48-bit md5 draw
    * of the id (ties impossible — the id breaks them). TakeOrdered of K
    * (id, draw) pairs — the corpus never shuffles, and the result is K
    * rows, always broadcastable. At n ≤ K this is every id (the
    * judged-sf case). */
  private[graft] def truthAnchors(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
      .cast("long")
    docs.select(col("doc_id"), draw.as("__draw"))
      .orderBy(col("__draw"), col("doc_id")).limit(TruthAnchorK)
      .select(col("doc_id"))
  }

  /** The [[VecAnchorK]] anchor vec_ids as a driver-side set — bounded
    * (K = 500 longs) at any corpus scale: the draw is a TakeOrdered of K
    * (id, draw) pairs, the corpus never shuffles. Returned as a literal
    * IN-set predicate so anchored query legs stay zero-join projections
    * (Catalyst folds the 500-element list to an `InSet` hash probe in the
    * scan stage). */
  private[graft] def vecAnchorPred(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Column =
    Similarity.anchorPred(emb, "vec_id", VecAnchorK)

  /** The DuckDB twin of [[vecAnchorPred]] — the `anch` CTE every anchored
    * e-family oracle opens with. */
  private[graft] val VecAnchCte: String =
    """anch AS (
      |  SELECT vec_id FROM (
      |    SELECT vec_id, row_number() OVER (ORDER BY
      |      ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT,
      |      vec_id) AS rn
      |    FROM embeddings)
      |  WHERE rn <= 500)""".stripMargin

  /** The g-family entity graph, derived relationally from the TPC-H FKs
    * and closed into cycles via the nation→customer reverse edge:
    * customer→order→part→supplier→nation→customer (key spaces disjoint
    * by +1e9 offsets). Shared by g1–g4. */
  private[graft] def entityEdges(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    ord.select((col("o_custkey") + 1000000000L).as("src"),
        (col("o_orderkey") + 2000000000L).as("dst"))
      .union(li.select((col("l_orderkey") + 2000000000L).as("src"),
        (col("l_partkey") + 3000000000L).as("dst")))
      .union(li.select((col("l_partkey") + 3000000000L).as("src"),
        (col("l_suppkey") + 4000000000L).as("dst")))
      .union(sup.select((col("s_suppkey") + 4000000000L).as("src"),
        (col("s_nationkey") + 5000000000L).as("dst")))
      .union(cust.select((col("c_nationkey") + 5000000000L).as("src"),
        (col("c_custkey") + 1000000000L).as("dst")))
  }

  /** The part co-purchase pair multiset shared by g6/g7/g8/w35/w36 —
    * one row per (order, p1 < p2) pair over the order's DISTINCT parts,
    * exactly the multiset of the former io⋈io self-join on the order
    * key (round-19 optimization, guide §2.4): grouping each order's
    * parts into one sorted set and exploding the in-order pairs
    * replaces [distinct-(o,p) exchange + self-join build/probe] with a
    * single map-side-combinable groupBy — per-order part counts are
    * bounded (TPC-H ≤ 7 lines/order; any real basket is similarly
    * small), so the explode is local and skew-free. */
  private[graft] def coPurchasePairs(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy(col("o")).agg(sort_array(collect_set(col("p"))).as("__ps"))
      .select(col("__ps"), posexplode(col("__ps")).as(Seq("__i", "src")))
      .select(col("src"),
        explode(expr("slice(__ps, __i + 2, size(__ps))")).as("dst"))

  /** g2/g4 seed set: suppliers of the MINIMUM present nation key
    * (SF-adaptive — the smallest fixture may carry no nation 0; both
    * engines derive the same scalar). */
  private[graft] def pprSeeds(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val sup = t(s, dir, "supplier")
    val seedNation = sup.agg(min(col("s_nationkey")).cast("long"))
      .head().getLong(0)
    sup.filter(col("s_nationkey") === seedNation)
      .select((col("s_suppkey") + 4000000000L).as("node"))
  }

  /** s17's fixture: a raw-OOXML workbook whose `morphology` column mixes
    * date-STYLED numeric cells (builtin numFmt 22 and a custom date
    * formatCode — what Excel does to codes typed `8041/3`), an unstyled
    * number, a shared-string enum member, and an inline free-text value.
    * Serials are the real clean-dict dates: 2243016 = 8041-03-01,
    * 2775904 = 9500-03-01 (days from the 1899-12-30 epoch). The in-repo
    * [[graft.sources.XlsxWriter]] is string-first by design, so this
    * fixture is assembled from parts. */
  private[graft] def writeDateStyledWorkbook(path: String): Unit = {
    val z = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def entry(name: String, content: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    try {
      entry("[Content_Types].xml",
        """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
      entry("xl/workbook.xml",
        """<?xml version="1.0"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |  <sheets><sheet name="Metadata" sheetId="1" r:id="rId1"/></sheets>
          |</workbook>""".stripMargin)
      entry("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |  <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
          |</Relationships>""".stripMargin)
      entry("xl/sharedStrings.xml",
        """<?xml version="1.0"?>
          |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |  <si><t>morphology</t></si>
          |  <si><t>8000/0</t></si>
          |</sst>""".stripMargin)
      // xf 0 = General; xf 1 = builtin date 22 (m/d/yy h:mm); xf 2 = a
      // custom date formatCode (numFmtId >= 164)
      entry("xl/styles.xml",
        """<?xml version="1.0"?>
          |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |  <numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy-mm-dd"/></numFmts>
          |  <cellXfs count="3">
          |    <xf numFmtId="0"/>
          |    <xf numFmtId="22" applyNumberFormat="1"/>
          |    <xf numFmtId="164" applyNumberFormat="1"/>
          |  </cellXfs>
          |</styleSheet>""".stripMargin)
      entry("xl/worksheets/sheet1.xml",
        """<?xml version="1.0"?>
          |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |  <sheetData>
          |    <row r="1"><c r="A1" t="s"><v>0</v></c></row>
          |    <row r="2"><c r="A2" s="1"><v>2243016</v></c></row>
          |    <row r="3"><c r="A3" s="2"><v>2775904</v></c></row>
          |    <row r="4"><c r="A4"><v>85003</v></c></row>
          |    <row r="5"><c r="A5" t="s"><v>1</v></c></row>
          |    <row r="6"><c r="A6" t="inlineStr"><is><t>Zebra Finding</t></is></c></row>
          |  </sheetData>
          |</worksheet>""".stripMargin)
    } finally z.close()
  }

  /** Recursive local delete (scratch hygiene for re-runnable queries).
    * Symlinks are leaves: `File.listFiles` FOLLOWS a symlink to a
    * directory, so recursing through one would delete the TARGET's
    * contents — a staged source link must never take the data dir with
    * it. Deleting the link itself is always safe. */
  private[graft] def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (!java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntryCore.queries ++ SparkEntrySources.queries ++
      SparkEntryDedup.queries ++ SparkEntryText.queries ++
      SparkEntrySim.queries ++ SparkEntryMedia.queries ++
      SparkEntryGraph.queries ++ SparkEntryStream.queries

  // ------------------------------------------------------------ oracle SQL

  /** DuckDB-equivalent SQL per query. Omitted for non-SQL-expressible ops
    * (d2 MinHash, d3 SimHash, e3 LSH) → driver records rows-only checks.
    * w22's oracle is d9's batch SQL VERBATIM (the gate: incremental edge
    * state ≡ batch cluster truth), aliased after the literal map. */
  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // c15 wraps t24's full recomputation (DuckDB allows WITH inside a
    // subquery) with the quartile staging; quantile_cont is exact
    // percentile's verified twin (w7), `//` truncation-parity with
    // `div` holds for negative micro scores (probed).
    val c15 =
      s"""WITH sc0 AS (SELECT * FROM (\n${base("t24_bigram_lm")}\n) t),
         |scored AS (SELECT doc_id, n_bigrams,
         |  CASE WHEN n_bigrams > 0 THEN lm_micro // n_bigrams
         |    ELSE 0 END AS lm_avg_micro FROM sc0),
         |b AS (SELECT quantile_cont(lm_avg_micro, 0.25) AS q1,
         |  quantile_cont(lm_avg_micro, 0.5) AS q2,
         |  quantile_cont(lm_avg_micro, 0.75) AS q3 FROM scored)
         |SELECT doc_id, n_bigrams, CAST(lm_avg_micro AS BIGINT) AS lm_avg_micro,
         |  CAST(CASE WHEN lm_avg_micro <= (SELECT q1 FROM b) THEN 0
         |    WHEN lm_avg_micro <= (SELECT q2 FROM b) THEN 1
         |    WHEN lm_avg_micro <= (SELECT q3 FROM b) THEN 2
         |    ELSE 3 END AS BIGINT) AS stage
         |FROM scored""".stripMargin
    base + ("w22_stream_components" -> base("d9_dup_clusters")) +
      ("c15_lm_curriculum" -> c15)
  }

  private lazy val oracleSqlBase: Map[String, String] =
    SparkEntryCore.oracle ++ SparkEntrySources.oracle ++
      SparkEntryDedup.oracle ++ SparkEntryText.oracle ++
      SparkEntrySim.oracle ++ SparkEntryMedia.oracle ++
      SparkEntryGraph.oracle ++ SparkEntryStream.oracle
}
