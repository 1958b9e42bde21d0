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

import SparkEntry._

/** [[SparkEntry]] family slice: entity resolution + graph centrality (er blocking/FS/golden, g PageRank/PPR).
  * Entry text moved VERBATIM from SparkEntry.scala (round-12 split);
  * the maps are reassembled by concatenation there — keys and oracle
  * text fingerprint-identical (graft.Fingerprint). */
private[graft] object SparkEntryGraph {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // G1 — PageRank centrality (Page et al. 1999) over the entity graph
    // derived relationally from the TPC-H FKs, closed into cycles via the
    // nation→customer reverse edge: customer→order→part→supplier→nation→
    // customer. The corpus-curation reading: rank = the web-graph quality
    // prior (Common Crawl's page ranking) computed with NO graph runtime
    // — per iteration one edge join + one dst-keyed sum, both map-side
    // combinable, lineage bounded by plan size (ops.Fixpoint). Exact
    // LONG micro-unit arithmetic end to end (every division `div`), so
    // the oracle's unrolled 5 iterations match hash-for-hash.
    "g1_pagerank" -> ((s, dir) => {
      graft.ops.Graph.pageRank(entityEdges(s, dir), "src", "dst", iters = 5)
        .select(col("node").as("node_id"), col("rank_micro"))
    }),

    // G3 — g1 with the standard dangling-mass redistribution: each
    // iteration folds the danglings' summed rank back in (uniform
    // integer share, damped) instead of leaking it, so ABSOLUTE rank
    // mass is comparable across corpora. The per-round dangling sum
    // rides the plan as a 1-row broadcast gate; the oracle unrolls the
    // same 5 iterations with a per-round d_k CTE folded into the rank
    // term — both engines' integer `div` arithmetic stays exact.
    "g3_pagerank_redist" -> ((s, dir) => {
      graft.ops.Graph.pageRank(entityEdges(s, dir), "src", "dst", iters = 5,
          redistributeDangling = true)
        .select(col("node").as("node_id"), col("rank_micro"))
    }),

    // G2 — personalized PageRank (Haveliwala 2002): g1's entity graph
    // ranked RELATIVE to a trusted seed set (nation-0 suppliers) — the
    // "select data close to a curated set" prior. Teleport mass lands
    // only on seeds; same exact integer arithmetic; oracle = 5 unrolled
    // iterations with the seed-cased base term.
    "g2_ppr" -> ((s, dir) => {
      graft.ops.Graph.personalizedPageRank(entityEdges(s, dir), "src", "dst",
          pprSeeds(s, dir), iters = 5)
        .select(col("node").as("node_id"), col("rank_micro"))
    }),

    // G4 — g2 with dangling mass teleported to the SEED set (the
    // personalization-vector convention): proximity-to-seeds stays the
    // measured quantity instead of the leak biasing long random walks.
    // Oracle = g2's unrolled iterations with the seed-cased d_k share.
    "g4_ppr_redist" -> ((s, dir) => {
      graft.ops.Graph.personalizedPageRank(entityEdges(s, dir), "src", "dst",
          pprSeeds(s, dir), iters = 5, redistributeDangling = true)
        .select(col("node").as("node_id"), col("rank_micro"))
    }),

    // G5 — integer HITS (round-15; Kleinberg 1999): hub/authority
    // scores over g1's entity graph — the directed complement to
    // PageRank's single score. Per round one edge join + keyed sum per
    // vector, max-normalized back to 10^6 micro-units with integer div,
    // the per-round max riding as a 1-row broadcast gate (g3's
    // dangling-sum shape, no per-round action). No float anywhere, so
    // the oracle's 3 unrolled rounds match hash-for-hash.
    "g5_hits" -> ((s, dir) => {
      graft.ops.Graph.hits(entityEdges(s, dir), "src", "dst", iters = 3)
        .select(col("node").as("node_id"), col("auth_micro"), col("hub_micro"))
    }),

    // G6 — per-node TRIANGLE counts (round-16) on the part co-purchase
    // graph (parts sharing an order — the co-occurrence clique
    // structure the layered entity graph deliberately lacks): the
    // local clustering-coefficient numerator, community density
    // signals, spam-farm detection. Degree-ordered orientation caps
    // out-degree at O(√m), so wedge volume is O(m^1.5) regardless of
    // hub skew (Suri & Vassilvitskii's bound) — a star graph costs
    // ZERO wedges where the naive neighbor join squares the hub. All
    // legs are hash equi-joins; the oracle replays the identical
    // orientation + wedge closure relationally, so every count is
    // hash-judged (413k triangles over 115k edges at sf0.01).
    "g6_triangles" -> ((s, dir) => {
      // identical pair multiset to the former io self-join, one
      // exchange fewer — see SparkEntry.coPurchasePairs
      val edges = coPurchasePairs(s, dir)
      graft.ops.Graph.triangles(edges, "src", "dst")
        .select(col("node").as("node_id"), col("n_tri"))
    }),

    // G7 — synchronous label-propagation communities (round-16): the
    // community-detection act beside g1's centrality and d9's
    // connectivity, on g6's part co-purchase graph (real cluster
    // structure — orders are co-purchase cliques). Deterministic by
    // construction (synchronous rounds + smallest-label tie-break), so
    // the oracle unrolls the exact 3 rounds and every label is
    // hash-judged. Per round one edge⋈labels join + two map-side-
    // combinable aggregates — g1's scale class; fixed round budget by
    // contract (sync LPA has no well-defined convergence on
    // bipartite-ish graphs, disclosed in the scaladoc).
    "g7_lpa" -> ((s, dir) => {
      // identical pair multiset to the former io self-join, one
      // exchange fewer — see SparkEntry.coPurchasePairs
      val edges = coPurchasePairs(s, dir)
      graft.ops.Graph.labelPropagation(edges, "src", "dst", iters = 3)
        .select(col("node").as("node_id"), col("community"))
    }),

    // G8 — K-CORE decomposition (round-16; Matula & Beck 1983): the
    // density-tier act beside g6's triangles — "which parts sit in a
    // subgraph where everyone has ≥ k co-purchase partners" (community
    // cores, spam-clique extraction, curation density filters). Judged
    // in the bounded-round synchronous form (3 peels) so the oracle
    // unrolls the exact rounds: round i keeps nodes whose degree
    // within round-(i−1) survivors is ≥ k, and the output carries that
    // residual degree. k is SF-ADAPTIVE (v7's knob discipline): the
    // 10th-percentile initial degree — measured to drive real
    // cascading peels at every sf (200→141 at sf0.001, 2000→1554 at
    // sf0.01, →15881 at sf0.1), where any fixed k on this clique-dense
    // graph either never peels or collapses to empty;
    // percentile_disc ≡ DuckDB quantile_disc (verified twin). The
    // fixpoint form (rounds=None) is the library API, spec-pinned.
    "g8_kcore" -> ((s, dir) => {
      // identical pair multiset to the former io self-join, one
      // exchange fewer — see SparkEntry.coPurchasePairs. The canonical
      // edge set is lineage-cut ONCE and feeds BOTH the SF-adaptive k
      // derivation and the peel loop (round-19 optimization: the
      // percentile action used to re-run the whole co-purchase
      // derivation a second time — PhaseProf showed the two identical
      // ~1.3 s derivation chains back to back).
      // Cascade.Auto, not a raw localCheckpoint (round-20, ADVICE r19):
      // locally identical (no checkpoint dir configured → lazy
      // localCheckpoint), but a cluster run that called setCheckpointDir
      // gets a reliable cut — the repo's one-flag-away posture.
      val e = Cascade.cut(coPurchasePairs(s, dir)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct(),
        Cascade.Auto, eager = false)
      val k = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
        .agg(expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY d)"))
        .collect()(0).getDouble(0).toInt
      graft.ops.Graph.kcore(e, "a", "b", k = k, rounds = Some(3))
        .select(col("node").as("node_id"), col("core_deg"))
    }),

    // G9 — single-source BFS shortest paths (round-16): hop distance
    // from one customer over the directed 5-layer entity cycle
    // (customer→order→part→supplier→nation→customer) — lineage radius,
    // blast-radius analysis, "how close is this record to a trusted
    // seed" in curation graphs. Frontier-only relaxation (each edge
    // expands at most once across the run) + per-round min-fold;
    // maxDepth=6 is the judged unroll budget and the oracle replays
    // the identical 6 rounds with integer distances — hash-judged
    // node for node.
    "g9_bfs" -> ((s, dir) => {
      val srcId = 1000000000L + t(s, dir, "orders")
        .agg(min(col("o_custkey"))).collect()(0).getLong(0)
      graft.ops.Graph.shortestPaths(entityEdges(s, dir), "src", "dst",
          srcId, maxDepth = 6)
        .select(col("node").as("node_id"), col("dist"))
    }),

    // --- master data: entity resolution (record linkage) ---
    // ER1 matched pairs: blocking (brand|size|name-prefix key, skew-capped)
    // + normalized-Levenshtein scoring over the planted-dirt fixture. The
    // oracle rebuilds fixture, blocks, cap, and scores relationally, so
    // the blocking join and the codegen levenshtein are hash-judged pair
    // for pair, value for value.
    "er1_match_pairs" -> ((s, dir) => {
      EntityResolution.matchPairs(erRecords(t(s, dir, "part")), "rec_id",
        "name", erBlock, ErMinSimBp, maxBlock = Some(ErMaxBlock))
    }),

    // ER2 entity assignment: matched pairs close transitively
    // (hash-min fixpoint) into entities over ALL records — singletons
    // resolve to themselves. Oracle: recursive-CTE closure (d9's shape).
    "er2_entities" -> ((s, dir) => {
      val recs = erRecords(t(s, dir, "part"))
      val pairs = EntityResolution.matchPairs(recs, "rec_id",
        "name", erBlock, ErMinSimBp, maxBlock = Some(ErMaxBlock))
      EntityResolution.resolve(recs, "rec_id", pairs)
    }),

    // ER6 — er2's entities computed by STAR CONTRACTION (round 13:
    // Components.StarContraction — alternating large-star/small-star,
    // O(log² V) rounds at ANY graph diameter, the er4-chain-safe
    // algorithm). The oracle is er2's recursive-CTE closure VERBATIM:
    // hash equality proves the contraction fixpoint labels the real
    // fixture identically to hash-min's diameter-bounded propagation —
    // the algorithm swap is judged, not just spec-pinned.
    "er6_entities_star" -> ((s, dir) => {
      val recs = erRecords(t(s, dir, "part"))
      val pairs = EntityResolution.matchPairs(recs, "rec_id",
        "name", erBlock, ErMinSimBp, maxBlock = Some(ErMaxBlock))
      EntityResolution.resolve(recs, "rec_id", pairs,
        algo = graft.ops.Components.StarContraction)
    }),

    // ER4 — sorted-neighborhood linkage (SNM, Hernández & Stolfo 1995):
    // the window-on-a-sorted-key alternative to er1's key blocking —
    // per-record fan-out bounded by the window even under block-key
    // skew. Rank = Zip.globalRank (j2's scale path: range partition +
    // offsets, no single-task sort); neighborhood = equi-join on
    // position. Oracle: row_number CTE + rank-band join + er1's scoring.
    "er4_sorted_neighborhood" -> ((s, dir) => {
      val recs = erRecords(t(s, dir, "part"))
      val cand = EntityResolution.sortedNeighborhoodCandidates(recs, "rec_id",
        col("name"), window = 8)
      EntityResolution.scorePairs(recs, "rec_id", "name", cand, ErMinSimBp)
    }),

    // ER5 — Fellegi–Sunter probabilistic linkage (JASA 1969; the model
    // behind Splink/febrl): per-field log-likelihood weights ln(m/u) —
    // u's DATA-DERIVED as Σcount(v)²/n² (the chance two random records
    // agree), m's conventioned — summed per candidate pair and
    // classified match / possible / nonmatch. Weights enter the plan as
    // driver literals in micro-nats; pair scoring is integer sums.
    // Fixture verdict structure: exact attr-duplicates score ~11.1
    // nats (match), the planted last-char twins hit the NEAR name level
    // ~9.5 (match), in-block non-dups agree only on brand+size ~4.0
    // (possible — the clerical-review band), so all three FS outcomes
    // are exercised.
    "er5_fellegi_sunter" -> ((s, dir) => {
      val recs = erRecords(t(s, dir, "part"))
      val cand = EntityResolution.candidates(recs, "rec_id", erBlock,
        maxBlock = Some(ErMaxBlock))
      EntityResolution.fellegiSunter(recs, "rec_id", cand,
        nameAttr = "name", exactAttrs = Seq("brand", "size"))
    }),

    // ER3 golden records: one survivor per entity under the preference
    // order (longest — least-damaged — name first, id tiebreak) + member
    // count, via the d14 representatives window.
    "er3_golden" -> ((s, dir) => {
      val recs = erRecords(t(s, dir, "part"))
      val pairs = EntityResolution.matchPairs(recs, "rec_id",
        "name", erBlock, ErMinSimBp, maxBlock = Some(ErMaxBlock))
      val labels = graft.ops.Components.connected(
        pairs, "id_a", "id_b",
        vertices = Some(recs.select(col("rec_id"))), idCol = "rec_id")
      graft.ops.Components.representatives(labels, recs, "rec_id",
          Seq(length(col("name")).desc, col("rec_id").asc))
        .select(col("component").as("entity_id"), col("rep_rec_id"),
          col("n_members"))
    }),
  )

  /** The er-fixture transitive-closure truth (recursive CTE, d9's
    * shape) — shared verbatim by er2 (hash-min) and er6
    * (star-contraction): one truth, two judged algorithms. */
  private val ErClosureSql: String =
    """WITH RECURSIVE recs AS (
      |  SELECT p_partkey * 2 AS rec_id, p_name AS name,
      |    p_brand AS brand, p_size AS size FROM part
      |  UNION ALL
      |  SELECT p_partkey * 2 + 1, substr(p_name, 1, length(p_name) - 1),
      |    p_brand, p_size FROM part
      |  WHERE ('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 2))::BIGINT < 64),
      |keyed AS (
      |  SELECT rec_id, name,
      |    brand || '|' || size || '|' || substr(name, 1, 2) AS bk FROM recs),
      |ok AS (SELECT bk FROM keyed GROUP BY bk HAVING count(*) <= 64),
      |k2 AS (SELECT keyed.* FROM keyed JOIN ok USING (bk)),
      |pairs AS (
      |  SELECT a.rec_id AS id_a, b.rec_id AS id_b
      |  FROM k2 a JOIN k2 b ON a.bk = b.bk AND a.rec_id < b.rec_id
      |  WHERE floor(10000 * (1.0 - levenshtein(a.name, b.name) * 1.0 /
      |      greatest(length(a.name), length(b.name)))) >= 8500),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT rec_id AS src, rec_id AS dst FROM recs
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)
      |SELECT src AS rec_id, CAST(min(dst) AS BIGINT) AS entity_id
      |FROM reach GROUP BY src""".stripMargin

  val oracle: Map[String, String] = Map(

    // g2: g1's unrolled-iteration oracle with the seed-cased teleport
    // base (generated; MATERIALIZED so the chained CTE references don't
    // inline exponentially).
    "g2_ppr" -> {
      val iters = (1 to 5).map { k =>
        s"""i$k AS MATERIALIZED (SELECT e.dst AS node, sum(r${k - 1}.r // deg.deg) AS inb
           |  FROM r${k - 1} JOIN e ON e.src = r${k - 1}.node JOIN deg ON deg.src = e.src
           |  GROUP BY 1),
           |r$k AS MATERIALIZED (SELECT nodes.node,
           |  CASE WHEN sd.sflag IS NOT NULL THEN (SELECT b FROM base) ELSE 0 END
           |  + (850 * coalesce(i$k.inb, 0)) // 1000 AS r
           |  FROM nodes LEFT JOIN i$k USING (node) LEFT JOIN sd ON sd.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT o_custkey + 1000000000 AS src,
         |      o_orderkey + 2000000000 AS dst FROM orders
         |    UNION ALL SELECT l_orderkey + 2000000000,
         |      l_partkey + 3000000000 FROM lineitem
         |    UNION ALL SELECT l_partkey + 3000000000,
         |      l_suppkey + 4000000000 FROM lineitem
         |    UNION ALL SELECT s_suppkey + 4000000000,
         |      s_nationkey + 5000000000 FROM supplier
         |    UNION ALL SELECT c_nationkey + 5000000000,
         |      c_custkey + 1000000000 FROM customer)),
         |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |sd AS MATERIALIZED (
         |  SELECT DISTINCT s.node, 1 AS sflag FROM
         |    (SELECT s_suppkey + 4000000000 AS node FROM supplier
         |     WHERE s_nationkey = (SELECT min(s_nationkey) FROM supplier)) s
         |  JOIN nodes USING (node)),
         |ns AS (SELECT count(*) AS n FROM sd),
         |base AS (SELECT (150 * (1000000000000 // n)) // 1000 AS b,
         |  1000000000000 // n AS p FROM ns),
         |r0 AS MATERIALIZED (SELECT nodes.node,
         |  CASE WHEN sd.sflag IS NOT NULL THEN (SELECT p FROM base)
         |    ELSE 0 END AS r
         |  FROM nodes LEFT JOIN sd ON sd.node = nodes.node),
         |$iters
         |SELECT node AS node_id, CAST(r AS BIGINT) AS rank_micro
         |FROM r5""".stripMargin
    },

    // g1: the 5 PageRank iterations UNROLLED — same exact integer
    // arithmetic (`//` ≡ Spark `div`), same edge/node/degree derivation,
    // so ranks match value for value.
    "g1_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT o_custkey + 1000000000 AS src,
        |      o_orderkey + 2000000000 AS dst FROM orders
        |    UNION ALL SELECT l_orderkey + 2000000000,
        |      l_partkey + 3000000000 FROM lineitem
        |    UNION ALL SELECT l_partkey + 3000000000,
        |      l_suppkey + 4000000000 FROM lineitem
        |    UNION ALL SELECT s_suppkey + 4000000000,
        |      s_nationkey + 5000000000 FROM supplier
        |    UNION ALL SELECT c_nationkey + 5000000000,
        |      c_custkey + 1000000000 FROM customer)),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |base AS (SELECT (150 * (1000000000000 // n)) // 1000 AS b,
        |  1000000000000 // n AS p FROM nn),
        |r0 AS (SELECT node, (SELECT p FROM base) AS r FROM nodes),
        |i1 AS (SELECT e.dst AS node, sum(r0.r // deg.deg) AS inb
        |  FROM r0 JOIN e ON e.src = r0.node JOIN deg ON deg.src = e.src
        |  GROUP BY 1),
        |r1 AS (SELECT nodes.node, (SELECT b FROM base)
        |  + (850 * coalesce(i1.inb, 0)) // 1000 AS r
        |  FROM nodes LEFT JOIN i1 USING (node)),
        |i2 AS (SELECT e.dst AS node, sum(r1.r // deg.deg) AS inb
        |  FROM r1 JOIN e ON e.src = r1.node JOIN deg ON deg.src = e.src
        |  GROUP BY 1),
        |r2 AS (SELECT nodes.node, (SELECT b FROM base)
        |  + (850 * coalesce(i2.inb, 0)) // 1000 AS r
        |  FROM nodes LEFT JOIN i2 USING (node)),
        |i3 AS (SELECT e.dst AS node, sum(r2.r // deg.deg) AS inb
        |  FROM r2 JOIN e ON e.src = r2.node JOIN deg ON deg.src = e.src
        |  GROUP BY 1),
        |r3 AS (SELECT nodes.node, (SELECT b FROM base)
        |  + (850 * coalesce(i3.inb, 0)) // 1000 AS r
        |  FROM nodes LEFT JOIN i3 USING (node)),
        |i4 AS (SELECT e.dst AS node, sum(r3.r // deg.deg) AS inb
        |  FROM r3 JOIN e ON e.src = r3.node JOIN deg ON deg.src = e.src
        |  GROUP BY 1),
        |r4 AS (SELECT nodes.node, (SELECT b FROM base)
        |  + (850 * coalesce(i4.inb, 0)) // 1000 AS r
        |  FROM nodes LEFT JOIN i4 USING (node)),
        |i5 AS (SELECT e.dst AS node, sum(r4.r // deg.deg) AS inb
        |  FROM r4 JOIN e ON e.src = r4.node JOIN deg ON deg.src = e.src
        |  GROUP BY 1),
        |r5 AS (SELECT nodes.node, (SELECT b FROM base)
        |  + (850 * coalesce(i5.inb, 0)) // 1000 AS r
        |  FROM nodes LEFT JOIN i5 USING (node))
        |SELECT node AS node_id, CAST(r AS BIGINT) AS rank_micro
        |FROM r5""".stripMargin,

    // g5: 3 HITS rounds unrolled (generated by the loop below, the
    // g1/g2 convention) — every CTE MATERIALIZED (the e15 lesson: DuckDB
    // 1.0 inlines CTEs, and each round references its predecessor
    // several times), every sum re-cast to BIGINT, every division `//`.
    // g7: the exact 3 synchronous rounds unrolled — per round a
    // neighbor-label vote count and a (count DESC, label ASC)
    // row_number argmax, MATERIALIZED per round (the chained-
    // accumulator CTE discipline).
    "g7_lpa" -> {
      val head =
        """WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |  FROM lineitem),
          |ed AS MATERIALIZED (
          |  SELECT DISTINCT x.p AS a, y.p AS b
          |  FROM io x JOIN io y ON x.o = y.o AND x.p < y.p),
          |und AS MATERIALIZED (
          |  SELECT a, b FROM ed UNION SELECT b, a FROM ed),
          |l0 AS MATERIALIZED (
          |  SELECT DISTINCT a AS node, a AS label FROM und)""".stripMargin
      val rounds = (1 to 3).map { k =>
        s"""c$k AS MATERIALIZED (
           |  SELECT und.a AS node, l.label, count(*) AS c
           |  FROM und JOIN l${k - 1} l ON und.b = l.node
           |  GROUP BY und.a, l.label),
           |l$k AS MATERIALIZED (
           |  SELECT node, label FROM (
           |    SELECT node, label, row_number() OVER (
           |      PARTITION BY node ORDER BY c DESC, label ASC) AS rn
           |    FROM c$k) t WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""$head,
         |$rounds
         |SELECT node AS node_id, label AS community FROM l3""".stripMargin
    },

    // g6: the identical orientation + wedge closure, fully relational —
    // canonical co-purchase edges, (degree, id)-ordered direction,
    // middle-node wedge join closed on (low, high), corners exploded.
    "g6_triangles" ->
      """WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM io x JOIN io y ON x.o = y.o AND x.p < y.p),
        |deg AS MATERIALIZED (
        |  SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) t GROUP BY v),
        |o AS MATERIALIZED (
        |  SELECT CASE WHEN d1.d <= d2.d THEN e.a ELSE e.b END AS u,
        |         CASE WHEN d1.d <= d2.d THEN e.b ELSE e.a END AS w
        |  FROM e JOIN deg d1 ON e.a = d1.v JOIN deg d2 ON e.b = d2.v),
        |tri AS MATERIALIZED (
        |  SELECT o1.u AS x, o1.w AS y, o2.w AS z
        |  FROM o o1 JOIN o o2 ON o1.w = o2.u
        |    JOIN o o3 ON o3.u = o1.u AND o3.w = o2.w)
        |SELECT node_id, count(*) AS n_tri FROM (
        |  SELECT x AS node_id FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) t
        |GROUP BY node_id""".stripMargin,

    // g8: the exact 3 synchronous peel rounds — round i keeps nodes
    // whose degree within round-(i−1) survivors is >= k (the
    // 10th-percentile initial degree, quantile_disc ≡ Spark
    // percentile_disc), carrying the residual degree out of the last
    // round.
    "g8_kcore" -> {
      val head =
        """WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |  FROM lineitem),
          |e AS MATERIALIZED (
          |  SELECT DISTINCT x.p AS a, y.p AS b
          |  FROM io x JOIN io y ON x.o = y.o AND x.p < y.p),
          |deg0 AS MATERIALIZED (
          |  SELECT v, count(*) AS d FROM (
          |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) t GROUP BY v),
          |kk AS MATERIALIZED (
          |  SELECT CAST(quantile_disc(d, 0.1) AS BIGINT) AS k FROM deg0),
          |d1 AS MATERIALIZED (
          |  SELECT v AS node, d AS core_deg FROM deg0
          |  WHERE d >= (SELECT k FROM kk))""".stripMargin
      val rounds = (2 to 3).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT v AS node, count(*) AS core_deg FROM (
           |    SELECT e.a AS v FROM e
           |      JOIN d${i - 1} sa ON e.a = sa.node
           |      JOIN d${i - 1} sb ON e.b = sb.node
           |    UNION ALL
           |    SELECT e.b FROM e
           |      JOIN d${i - 1} sa ON e.a = sa.node
           |      JOIN d${i - 1} sb ON e.b = sb.node) t
           |  GROUP BY v HAVING count(*) >= (SELECT k FROM kk))""".stripMargin
      }.mkString(",\n")
      s"""$head,
         |$rounds
         |SELECT node AS node_id, core_deg FROM d3""".stripMargin
    },

    // g9: 6 unrolled frontier rounds over g5's entity-edge union —
    // round i relaxes only nodes at dist i−1, min-folded; integer
    // distances, hash-judged.
    "g9_bfs" -> {
      val header =
        """WITH e AS MATERIALIZED (
          |  SELECT DISTINCT src, dst FROM (
          |    SELECT o_custkey + 1000000000 AS src,
          |      o_orderkey + 2000000000 AS dst FROM orders
          |    UNION ALL SELECT l_orderkey + 2000000000,
          |      l_partkey + 3000000000 FROM lineitem
          |    UNION ALL SELECT l_partkey + 3000000000,
          |      l_suppkey + 4000000000 FROM lineitem
          |    UNION ALL SELECT s_suppkey + 4000000000,
          |      s_nationkey + 5000000000 FROM supplier
          |    UNION ALL SELECT c_nationkey + 5000000000,
          |      c_custkey + 1000000000 FROM customer)),
          |d0 AS MATERIALIZED (
          |  SELECT CAST(1000000000 + (SELECT min(o_custkey) FROM orders)
          |    AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist)""".stripMargin
      val rounds = (1 to 6).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           |  SELECT node, dist FROM d${i - 1}
           |  UNION ALL
           |  SELECT e.dst, f.dist + 1 FROM d${i - 1} f
           |    JOIN e ON e.src = f.node WHERE f.dist = ${i - 1}) t
           |GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""$header,
         |$rounds
         |SELECT node AS node_id, dist FROM d6""".stripMargin
    },

    "g5_hits" -> {
      val header =
        """WITH e AS MATERIALIZED (
          |  SELECT DISTINCT src, dst FROM (
          |    SELECT o_custkey + 1000000000 AS src,
          |      o_orderkey + 2000000000 AS dst FROM orders
          |    UNION ALL SELECT l_orderkey + 2000000000,
          |      l_partkey + 3000000000 FROM lineitem
          |    UNION ALL SELECT l_partkey + 3000000000,
          |      l_suppkey + 4000000000 FROM lineitem
          |    UNION ALL SELECT s_suppkey + 4000000000,
          |      s_nationkey + 5000000000 FROM supplier
          |    UNION ALL SELECT c_nationkey + 5000000000,
          |      c_custkey + 1000000000 FROM customer)),
          |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
          |h0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes)""".stripMargin
      val rounds = (1 to 3).map { k =>
        val ph = if (k == 1) "h0" else s"h${k - 1}"
        s"""a${k}r AS MATERIALIZED (SELECT e.dst AS node, sum($ph.h) AS raw
           |  FROM $ph JOIN e ON e.src = $ph.node GROUP BY 1),
           |a${k}m AS MATERIALIZED (SELECT coalesce(max(raw), 1) AS m FROM a${k}r),
           |a$k AS MATERIALIZED (SELECT nodes.node,
           |  CAST((coalesce(a${k}r.raw, 0) * 1000000) // (SELECT m FROM a${k}m) AS BIGINT) AS a
           |  FROM nodes LEFT JOIN a${k}r USING (node)),
           |h${k}r AS MATERIALIZED (SELECT e.src AS node, sum(a$k.a) AS raw
           |  FROM a$k JOIN e ON e.dst = a$k.node GROUP BY 1),
           |h${k}m AS MATERIALIZED (SELECT coalesce(max(raw), 1) AS m FROM h${k}r),
           |h$k AS MATERIALIZED (SELECT nodes.node,
           |  CAST((coalesce(h${k}r.raw, 0) * 1000000) // (SELECT m FROM h${k}m) AS BIGINT) AS h
           |  FROM nodes LEFT JOIN h${k}r USING (node))""".stripMargin
      }.mkString(",\n")
      s"""$header,
         |$rounds
         |SELECT a3.node AS node_id, a3.a AS auth_micro, h3.h AS hub_micro
         |FROM a3 JOIN h3 ON a3.node = h3.node""".stripMargin
    },

    // g3: g1's unrolled iterations + a per-round d_k CTE (the danglings'
    // summed rank) folded into the rank term — MATERIALIZED like every
    // chained accumulator (the e15/g1 lesson). All arithmetic integer.
    "g3_pagerank_redist" -> {
      val iters = (1 to 5).map { k =>
        s"""d$k AS MATERIALIZED (SELECT coalesce(sum(r.r), 0) AS ds
           |  FROM r${k - 1} r JOIN dang USING (node)),
           |i$k AS MATERIALIZED (SELECT e.dst AS node, sum(r${k - 1}.r // deg.deg) AS inb
           |  FROM r${k - 1} JOIN e ON e.src = r${k - 1}.node JOIN deg ON deg.src = e.src
           |  GROUP BY 1),
           |r$k AS MATERIALIZED (SELECT nodes.node, (SELECT b FROM base)
           |  + (850 * (coalesce(i$k.inb, 0)
           |    + ((SELECT ds FROM d$k) // (SELECT n FROM nn)))) // 1000 AS r
           |  FROM nodes LEFT JOIN i$k USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT o_custkey + 1000000000 AS src,
         |      o_orderkey + 2000000000 AS dst FROM orders
         |    UNION ALL SELECT l_orderkey + 2000000000,
         |      l_partkey + 3000000000 FROM lineitem
         |    UNION ALL SELECT l_partkey + 3000000000,
         |      l_suppkey + 4000000000 FROM lineitem
         |    UNION ALL SELECT s_suppkey + 4000000000,
         |      s_nationkey + 5000000000 FROM supplier
         |    UNION ALL SELECT c_nationkey + 5000000000,
         |      c_custkey + 1000000000 FROM customer)),
         |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |dang AS MATERIALIZED (
         |  SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM e)),
         |base AS (SELECT (150 * (1000000000000 // n)) // 1000 AS b,
         |  1000000000000 // n AS p FROM nn),
         |r0 AS MATERIALIZED (SELECT node, (SELECT p FROM base) AS r FROM nodes),
         |$iters
         |SELECT node AS node_id, CAST(r AS BIGINT) AS rank_micro
         |FROM r5""".stripMargin
    },

    // g4: g2's unrolled iterations + the seed-cased d_k share (dangling
    // mass teleports to the personalization vector).
    "g4_ppr_redist" -> {
      val iters = (1 to 5).map { k =>
        s"""d$k AS MATERIALIZED (SELECT coalesce(sum(r.r), 0) AS ds
           |  FROM r${k - 1} r JOIN dang USING (node)),
           |i$k AS MATERIALIZED (SELECT e.dst AS node, sum(r${k - 1}.r // deg.deg) AS inb
           |  FROM r${k - 1} JOIN e ON e.src = r${k - 1}.node JOIN deg ON deg.src = e.src
           |  GROUP BY 1),
           |r$k AS MATERIALIZED (SELECT nodes.node,
           |  CASE WHEN sd.sflag IS NOT NULL THEN (SELECT b FROM base) ELSE 0 END
           |  + (850 * (coalesce(i$k.inb, 0)
           |    + CASE WHEN sd.sflag IS NOT NULL
         |      THEN ((SELECT ds FROM d$k) // (SELECT n FROM ns)) ELSE 0 END)) // 1000 AS r
           |  FROM nodes LEFT JOIN i$k USING (node) LEFT JOIN sd ON sd.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT o_custkey + 1000000000 AS src,
         |      o_orderkey + 2000000000 AS dst FROM orders
         |    UNION ALL SELECT l_orderkey + 2000000000,
         |      l_partkey + 3000000000 FROM lineitem
         |    UNION ALL SELECT l_partkey + 3000000000,
         |      l_suppkey + 4000000000 FROM lineitem
         |    UNION ALL SELECT s_suppkey + 4000000000,
         |      s_nationkey + 5000000000 FROM supplier
         |    UNION ALL SELECT c_nationkey + 5000000000,
         |      c_custkey + 1000000000 FROM customer)),
         |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |dang AS MATERIALIZED (
         |  SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM e)),
         |sd AS MATERIALIZED (
         |  SELECT DISTINCT s.node, 1 AS sflag FROM
         |    (SELECT s_suppkey + 4000000000 AS node FROM supplier
         |     WHERE s_nationkey = (SELECT min(s_nationkey) FROM supplier)) s
         |  JOIN nodes USING (node)),
         |ns AS (SELECT count(*) AS n FROM sd),
         |base AS (SELECT (150 * (1000000000000 // n)) // 1000 AS b,
         |  1000000000000 // n AS p FROM ns),
         |r0 AS MATERIALIZED (SELECT nodes.node,
         |  CASE WHEN sd.sflag IS NOT NULL THEN (SELECT p FROM base)
         |    ELSE 0 END AS r
         |  FROM nodes LEFT JOIN sd ON sd.node = nodes.node),
         |$iters
         |SELECT node AS node_id, CAST(r AS BIGINT) AS rank_micro
         |FROM r5""".stripMargin
    },

    // er1: fixture (clean ∪ md5-drawn dirty twins), blocking key, skew
    // cap, and normalized-Levenshtein scores all recomputed relationally —
    // the planted-dirt ER pair set, value for value.
    "er1_match_pairs" ->
      """WITH recs AS (
        |  SELECT p_partkey * 2 AS rec_id, p_name AS name,
        |    p_brand AS brand, p_size AS size FROM part
        |  UNION ALL
        |  SELECT p_partkey * 2 + 1, substr(p_name, 1, length(p_name) - 1),
        |    p_brand, p_size FROM part
        |  WHERE ('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 2))::BIGINT < 64),
        |keyed AS (
        |  SELECT rec_id, name,
        |    brand || '|' || size || '|' || substr(name, 1, 2) AS bk FROM recs),
        |ok AS (SELECT bk FROM keyed GROUP BY bk HAVING count(*) <= 64),
        |k2 AS (SELECT keyed.* FROM keyed JOIN ok USING (bk))
        |SELECT a.rec_id AS id_a, b.rec_id AS id_b,
        |  CAST(floor(10000 * (1.0 - levenshtein(a.name, b.name) * 1.0 /
        |    greatest(length(a.name), length(b.name)))) AS BIGINT) AS sim_bp
        |FROM k2 a JOIN k2 b ON a.bk = b.bk AND a.rec_id < b.rec_id
        |WHERE floor(10000 * (1.0 - levenshtein(a.name, b.name) * 1.0 /
        |    greatest(length(a.name), length(b.name)))) >= 8500""".stripMargin,

    // er5: weights re-derived in SQL with every literal forced ::DOUBLE
    // so both engines walk the identical IEEE chain (DuckDB's bare 0.95
    // is DECIMAL — decimal 1-0.95 = exact 0.05, NOT the JVM's
    // 1.0-0.95 binary value; the casts make them agree), u's from the
    // same Σc²/n² aggregates, candidates from er1's blocks + cap.
    "er5_fellegi_sunter" ->
      """WITH recs AS (
        |  SELECT p_partkey * 2 AS rec_id, p_name AS name,
        |    p_brand AS brand, p_size AS size FROM part
        |  UNION ALL
        |  SELECT p_partkey * 2 + 1, substr(p_name, 1, length(p_name) - 1),
        |    p_brand, p_size FROM part
        |  WHERE ('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 2))::BIGINT < 64),
        |nn AS (SELECT count(*) AS n FROM recs),
        |un AS (SELECT CAST(sum(c*c) AS BIGINT) AS x FROM
        |  (SELECT count(*) AS c FROM recs GROUP BY name)),
        |ub AS (SELECT CAST(sum(c*c) AS BIGINT) AS x FROM
        |  (SELECT count(*) AS c FROM recs GROUP BY brand)),
        |us AS (SELECT CAST(sum(c*c) AS BIGINT) AS x FROM
        |  (SELECT count(*) AS c FROM recs GROUP BY size)),
        |uu AS (SELECT
        |  CAST((SELECT x FROM un) AS DOUBLE)
        |    / CAST((SELECT n FROM nn) * (SELECT n FROM nn) AS DOUBLE) AS u_name,
        |  CAST((SELECT x FROM ub) AS DOUBLE)
        |    / CAST((SELECT n FROM nn) * (SELECT n FROM nn) AS DOUBLE) AS u_brand,
        |  CAST((SELECT x FROM us) AS DOUBLE)
        |    / CAST((SELECT n FROM nn) * (SELECT n FROM nn) AS DOUBLE) AS u_size),
        |wt AS (SELECT
        |  CAST(round(ln(0.70::DOUBLE / u_name) * 1000000) AS BIGINT) AS w_ne,
        |  CAST(round(ln(0.25::DOUBLE / 0.02::DOUBLE) * 1000000) AS BIGINT) AS w_nn,
        |  CAST(round(ln((1.0::DOUBLE - 0.70::DOUBLE - 0.25::DOUBLE)
        |    / (1.0::DOUBLE - u_name - 0.02::DOUBLE)) * 1000000) AS BIGINT) AS w_nd,
        |  CAST(round(ln(0.95::DOUBLE / u_brand) * 1000000) AS BIGINT) AS w_ba,
        |  CAST(round(ln((1.0::DOUBLE - 0.95::DOUBLE)
        |    / (1.0::DOUBLE - u_brand)) * 1000000) AS BIGINT) AS w_bd,
        |  CAST(round(ln(0.95::DOUBLE / u_size) * 1000000) AS BIGINT) AS w_sa,
        |  CAST(round(ln((1.0::DOUBLE - 0.95::DOUBLE)
        |    / (1.0::DOUBLE - u_size)) * 1000000) AS BIGINT) AS w_sd
        |  FROM uu),
        |keyed AS (
        |  SELECT rec_id, name, brand, size,
        |    brand || '|' || size || '|' || substr(name, 1, 2) AS bk FROM recs),
        |ok AS (SELECT bk FROM keyed GROUP BY bk HAVING count(*) <= 64),
        |k2 AS (SELECT keyed.* FROM keyed JOIN ok USING (bk)),
        |scored AS (
        |  SELECT a.rec_id AS id_a, b.rec_id AS id_b,
        |    (CASE WHEN a.name IS NOT DISTINCT FROM b.name
        |       THEN (SELECT w_ne FROM wt)
        |     WHEN floor(10000 * (1.0 - levenshtein(a.name, b.name) * 1.0 /
        |       greatest(length(a.name), length(b.name)))) >= 8000
        |       THEN (SELECT w_nn FROM wt)
        |     ELSE (SELECT w_nd FROM wt) END
        |    + CASE WHEN a.brand IS NOT DISTINCT FROM b.brand
        |        THEN (SELECT w_ba FROM wt) ELSE (SELECT w_bd FROM wt) END
        |    + CASE WHEN a.size IS NOT DISTINCT FROM b.size
        |        THEN (SELECT w_sa FROM wt) ELSE (SELECT w_sd FROM wt) END) AS fs
        |  FROM k2 a JOIN k2 b ON a.bk = b.bk AND a.rec_id < b.rec_id)
        |SELECT id_a, id_b, CAST(fs AS BIGINT) AS fs_micro,
        |  CASE WHEN fs >= 8000000 THEN 'match'
        |    WHEN fs >= 0 THEN 'possible' ELSE 'nonmatch' END AS verdict
        |FROM scored""".stripMargin,

    // er4: SNM recomputed relationally — global rank via row_number
    // (identical (name, rec_id) order; binary collation both engines),
    // neighborhood as a rank-band join, er1's scoring.
    "er4_sorted_neighborhood" ->
      """WITH recs AS (
        |  SELECT p_partkey * 2 AS rec_id, p_name AS name,
        |    p_brand AS brand, p_size AS size FROM part
        |  UNION ALL
        |  SELECT p_partkey * 2 + 1, substr(p_name, 1, length(p_name) - 1),
        |    p_brand, p_size FROM part
        |  WHERE ('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 2))::BIGINT < 64),
        |rk AS (
        |  SELECT rec_id, name,
        |    row_number() OVER (ORDER BY name, rec_id) AS rn FROM recs)
        |SELECT least(a.rec_id, b.rec_id) AS id_a,
        |  greatest(a.rec_id, b.rec_id) AS id_b,
        |  CAST(floor(10000 * (1.0 - levenshtein(a.name, b.name) * 1.0 /
        |    greatest(length(a.name), length(b.name)))) AS BIGINT) AS sim_bp
        |FROM rk a JOIN rk b ON b.rn > a.rn AND b.rn <= a.rn + 7
        |WHERE floor(10000 * (1.0 - levenshtein(a.name, b.name) * 1.0 /
        |    greatest(length(a.name), length(b.name)))) >= 8500""".stripMargin,

    // er2: er1's pairs closed transitively (recursive CTE, d9's shape)
    // over every record — singletons label themselves.
    "er2_entities" -> ErClosureSql,

    // er6: THE SAME truth as er2, verbatim — the judged property is that
    // the star-contraction fixpoint labels identically to hash-min's
    // closure on the real fixture.
    "er6_entities_star" -> ErClosureSql,

    // er3: er2's labels + the (length DESC, rec_id) survivorship window.
    "er3_golden" ->
      """WITH RECURSIVE recs AS (
        |  SELECT p_partkey * 2 AS rec_id, p_name AS name,
        |    p_brand AS brand, p_size AS size FROM part
        |  UNION ALL
        |  SELECT p_partkey * 2 + 1, substr(p_name, 1, length(p_name) - 1),
        |    p_brand, p_size FROM part
        |  WHERE ('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 2))::BIGINT < 64),
        |keyed AS (
        |  SELECT rec_id, name,
        |    brand || '|' || size || '|' || substr(name, 1, 2) AS bk FROM recs),
        |ok AS (SELECT bk FROM keyed GROUP BY bk HAVING count(*) <= 64),
        |k2 AS (SELECT keyed.* FROM keyed JOIN ok USING (bk)),
        |pairs AS (
        |  SELECT a.rec_id AS id_a, b.rec_id AS id_b
        |  FROM k2 a JOIN k2 b ON a.bk = b.bk AND a.rec_id < b.rec_id
        |  WHERE floor(10000 * (1.0 - levenshtein(a.name, b.name) * 1.0 /
        |      greatest(length(a.name), length(b.name)))) >= 8500),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT rec_id AS src, rec_id AS dst FROM recs
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
        |labels AS (
        |  SELECT src AS rec_id, min(dst) AS entity_id FROM reach GROUP BY src),
        |rk AS (
        |  SELECT l.entity_id, l.rec_id,
        |    row_number() OVER (PARTITION BY l.entity_id
        |      ORDER BY length(r.name) DESC, l.rec_id) AS rn,
        |    count(*) OVER (PARTITION BY l.entity_id) AS n_members
        |  FROM labels l JOIN recs r USING (rec_id))
        |SELECT CAST(entity_id AS BIGINT) AS entity_id, rec_id AS rep_rec_id,
        |  CAST(n_members AS BIGINT) AS n_members
        |FROM rk WHERE rn = 1""".stripMargin,
  )
}
