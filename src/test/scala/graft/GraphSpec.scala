package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Cascade, Fixpoint, Graph}

/** PageRank semantics: exact integer arithmetic pinned by hand-computed
  * closed forms, determinism across partitionings, multigraph collapse. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("2-cycle is a fixed point: both nodes keep exactly half the mass") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = ranks(Graph.pageRank(e, "src", "dst", iters = 5,
      checkpoint = Cascade.NoCheckpoint))
    assert(out == Map(1L -> 500000000000L, 2L -> 500000000000L))
  }

  test("one iteration matches the hand-computed integer arithmetic") {
    // a→b, b→a, a→c: n=3, per-node 333333333333, deg(a)=2 deg(b)=1.
    // base = (150·333333333333)//1000 = 49999999999
    // r1(a) = base + (850·333333333333)//1000 = 49999999999 + 283333333333
    // r1(b) = r1(c) = base + (850·(333333333333//2))//1000
    //       = 49999999999 + (850·166666666666)//1000 = 49999999999 + 141666666666
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val out = ranks(Graph.pageRank(e, "src", "dst", iters = 1,
      checkpoint = Cascade.NoCheckpoint))
    assert(out(1L) == 49999999999L + 283333333333L)
    assert(out(2L) == 49999999999L + 141666666666L)
    assert(out(3L) == out(2L))
  }

  test("duplicate edges collapse; dangling mass leaks, order is preserved") {
    // the same edge three times must not triple b's inbound share
    val multi = Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val once = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val a = ranks(Graph.pageRank(multi, "src", "dst", iters = 3,
      checkpoint = Cascade.NoCheckpoint))
    val b = ranks(Graph.pageRank(once, "src", "dst", iters = 3,
      checkpoint = Cascade.NoCheckpoint))
    assert(a == b)
    // hub: 1→{2,3,4} and 4→1; node 1 (the only one with inbound from a
    // full-rank source) outranks the leaves, leaves tie
    val hub = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 1L)).toDF("src", "dst")
    val h = ranks(Graph.pageRank(hub, "src", "dst", iters = 5,
      checkpoint = Cascade.NoCheckpoint))
    assert(h(2L) == h(3L) && h(3L) == h(4L) && h(1L) > h(2L))
    // mass never exceeds the total (truncation + dangling only LEAK)
    assert(h.values.sum <= 1000000000000L)
  }

  test("redistributeDangling: hand-computed share, near-total mass, leak mode unchanged") {
    // a→b only: b is dangling. n=2, per-node 500000000000,
    // base = (150·500000000000)//1000 = 75000000000.
    // iter 1: dsum = r0(b) = 500000000000, share = dsum//2 = 250000000000
    //   r1(a) = base + (850·(0 + 250000000000))//1000 = 75e9 + 212500000000
    //   r1(b) = base + (850·(500000000000 + 250000000000))//1000
    //         = 75e9 + 637500000000
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val out = ranks(Graph.pageRank(e, "src", "dst", iters = 1,
      checkpoint = Cascade.NoCheckpoint, redistributeDangling = true))
    assert(out(1L) == 75000000000L + 212500000000L)
    assert(out(2L) == 75000000000L + 637500000000L)
    // over more iterations the mass stays near-total (integer truncation
    // only), where the leak mode loses the dangling share every round
    val r5 = ranks(Graph.pageRank(e, "src", "dst", iters = 5,
      checkpoint = Cascade.NoCheckpoint, redistributeDangling = true))
    assert(r5.values.sum > 999999999000L && r5.values.sum <= 1000000000000L)
    val leak5 = ranks(Graph.pageRank(e, "src", "dst", iters = 5,
      checkpoint = Cascade.NoCheckpoint))
    assert(leak5.values.sum < 500000000000L, "leak mode must keep leaking")
    // a graph with NO dangling node: both modes agree exactly
    val cyc = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(ranks(Graph.pageRank(cyc, "src", "dst", iters = 4,
        checkpoint = Cascade.NoCheckpoint, redistributeDangling = true)) ==
      ranks(Graph.pageRank(cyc, "src", "dst", iters = 4,
        checkpoint = Cascade.NoCheckpoint)))
  }

  test("PPR redistributeDangling teleports dangling mass to the seeds only") {
    // seed 1; 1→2, 2 dangling — with redistribution, 2's mass returns to
    // the seed each round, so total mass stays near-total and node 1
    // keeps receiving it; without, it leaks
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val red = Graph.personalizedPageRank(e, "src", "dst", seeds, iters = 5,
      checkpoint = Cascade.NoCheckpoint, redistributeDangling = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val leak = Graph.personalizedPageRank(e, "src", "dst", seeds, iters = 5,
      checkpoint = Cascade.NoCheckpoint)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(red.values.sum > 999999999000L && red.values.sum <= 1000000000000L)
    assert(leak.values.sum < red.values.sum)
    assert(red(1L) > leak(1L), "returned mass must land via the seed")
  }

  test("personalized PageRank: mass concentrates reachable-from-seeds; unreachable stay 0") {
    // two disjoint 2-cycles; seed only in the first — the second
    // component must hold rank 0 at every node, and the seeded cycle
    // keeps the full mass split
    val e = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val out = Graph.personalizedPageRank(e, "src", "dst", seeds, iters = 5,
      checkpoint = Cascade.NoCheckpoint)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(3L) == 0L && out(4L) == 0L)
    assert(out(1L) > 0L && out(2L) > 0L)
    // seed ids absent from the graph are ignored; all-absent seeds throw
    val out2 = Graph.personalizedPageRank(e, "src", "dst",
      Seq(1L, 99L).toDF("node"), iters = 1,
      checkpoint = Cascade.NoCheckpoint)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // |seeds ∩ nodes| = 1 -> perSeed = total; r1(2) = 850·(10^12 div 1) div 1000... via 1's out-edge
    assert(out2(2L) == 850000000000L)
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(e, "src", "dst",
        Seq(Tuple1(99L)).toDF("node"), iters = 1,
        checkpoint = Cascade.NoCheckpoint)
    }
  }

  test("ranks are partitioning-independent (integer arithmetic end to end)") {
    val e = (0L until 200L).map(i => (i % 37, (i * 7) % 37)).toDF("src", "dst")
    val one = ranks(Graph.pageRank(e.coalesce(1), "src", "dst", iters = 4,
      checkpoint = Cascade.NoCheckpoint))
    val many = ranks(Graph.pageRank(e.repartition(13), "src", "dst", iters = 4,
      checkpoint = Cascade.NoCheckpoint))
    assert(one == many && one.nonEmpty)
  }

  test("hits: hand graph — fan-in node is the authority, its pointers the hubs") {
    // 1->3, 2->3, 3->4: after one round auth(3)=1e6 (max), auth(4)=5e5,
    // hub(1)=hub(2)=1e6 (each points at the top authority), hub(3)=5e5
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.hits(e, "src", "dst", iters = 1,
      checkpoint = Cascade.NoCheckpoint)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(3L) == ((1000000L, 500000L)))
    assert(got(4L) == ((500000L, 0L)))
    assert(got(1L) == ((0L, 1000000L)) && got(2L) == ((0L, 1000000L)))
  }

  test("hits: scores are partitioning-independent") {
    val e = (0L until 200L).map(i => (i % 37, (i * 7) % 37)).toDF("src", "dst")
    def hs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val one = hs(Graph.hits(e.coalesce(1), "src", "dst", iters = 3,
      checkpoint = Cascade.NoCheckpoint))
    val many = hs(Graph.hits(e.repartition(13), "src", "dst", iters = 3,
      checkpoint = Cascade.NoCheckpoint))
    assert(one == many && one.nonEmpty)
  }

  test("label propagation: barbell communities, hand-computed rounds, direction/duplicate noise, partition-stable") {
    import spark.implicits._
    // two triangles bridged at 3-4: LPA must find the two communities
    val barbell = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
    def lpa(e: Seq[(Long, Long)], iters: Int, parts: Int = 1) =
      Graph.labelPropagation(e.toDF("s", "d").repartition(parts), "s", "d",
          iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-computed synchronous rounds (min-label tie-break):
    // L1: 1→2 2→1 3→1 4→3 5→4 6→4
    assert(lpa(barbell, 1) ==
      Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L, 6L -> 4L))
    // L3: the two communities settle as {1,2,3}→1 and {4,5,6}→3
    val l3 = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L)
    assert(lpa(barbell, 3) == l3)
    // reversed/duplicate edges and self-loops change nothing (simple
    // undirected semantics), nor does partitioning
    val noisy = barbell ++ Seq((2L, 1L), (3L, 3L), (4L, 3L), (1L, 2L))
    assert(lpa(noisy, 3) == l3)
    assert(lpa(barbell, 3, parts = 7) == l3)
  }

  test("triangles: hand graphs — clique counts, star zero, duplicates/self-loops/direction ignored, partition-stable") {
    import spark.implicits._
    def tri(e: Seq[(Long, Long)], parts: Int = 1) =
      Graph.triangles(e.toDF("s", "d").repartition(parts), "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4: C(3,2)=3 triangles per node, 4 total
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    assert(tri(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // a star has NO triangles (and costs zero wedges by orientation)
    assert(tri((1L to 50L).map(i => (0L, i))).isEmpty)
    // triangle + pendant; duplicate, reversed, and self-loop edges noise
    val noisy = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (1L, 1L),
      (3L, 4L), (2L, 3L))
    assert(tri(noisy) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(tri(noisy, parts = 7) == tri(noisy), "partitioning-independent")
    // two triangles sharing an edge: shared endpoints count both
    val bowtie = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 3L))
    assert(tri(bowtie) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("hits: a convergence-length run (iters=16) converges and keeps analysis time bounded") {
    // each round embeds the prior round's whole plan TWICE per vector
    // (rescale join + its 1-row max), so uncut plans grow ~4^round and an
    // iters=16 run spent 30+ min in canonicalization alone. The gate is
    // (a) this run completes promptly under the plan-size cuts, (b) a
    // 16-round result equals a 15-round one (the max-normalized integer
    // fixpoint is stationary at convergence length), which a broken cut
    // (wrong frame reuse) would break.
    val e = (0L until 300L).map(i => (i % 41, (i * 11) % 41)).toDF("src", "dst")
    def hs(iters: Int) =
      Graph.hits(e, "src", "dst", iters = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val t0 = System.nanoTime()
    val r16 = hs(16)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(r16.nonEmpty)
    assert(sec < 120.0, s"16 HITS rounds took ${sec}s — lineage cut broken?")
    assert(hs(15) == r16, "scores must be stationary at convergence length")
  }

  test("lineage bound: default-argument loops return plans under the budget, time bounded") {
    // with default arguments the plan-size rule must hold for every loop
    // shape: hits' ~4^round growth (6,117 plan nodes at iters=4 before
    // the rule), kcore's bounded peels (3,235 at rounds=4) and
    // redistribute pageRank's ~2^round growth (iters=10). The returned
    // frame is never cut itself, so these round counts are ones where
    // the last cut state leaves it under the budget.
    val e = (0L until 300L).map(i => (i % 41, (i * 11) % 41)).toDF("src", "dst")
    for ((name, run) <- Seq[(String, () => DataFrame)](
        "hits(iters=4)" -> (() => Graph.hits(e, "src", "dst", iters = 4)),
        "kcore(rounds=Some(4))" -> (() => Graph.kcore(e, "src", "dst", 2, Some(4))),
        "redistribute pageRank(iters=10)" -> (() => Graph.pageRank(e, "src", "dst",
          iters = 10, redistributeDangling = true)))) {
      val t0 = System.nanoTime()
      val df = run()
      val nodes = Fixpoint.planSize(df)
      assert(df.collect().nonEmpty, name)
      val sec = (System.nanoTime() - t0) / 1e9
      assert(nodes <= Fixpoint.PlanBudget,
        s"$name returned a $nodes-node plan, budget ${Fixpoint.PlanBudget}")
      assert(sec < 30.0, s"$name took ${sec}s — lineage bound broken?")
    }
  }

  test("redistribute pageRank: iters=10 equals a driver-side reference") {
    // redistribute mode consumes `inbound` twice per round, so its plan
    // grows ~2^rounds until the plan-size rule cuts it; the gate is
    // (a) values identical to the same integer arithmetic replayed on
    // the driver (cuts change plan shape only), (b) bounded wall time.
    // The reference is plain Scala: a 10-round pure-lineage Spark run
    // costs minutes of plan analysis alone.
    val edges = (0L until 300L).map(i => (i % 41, (i * 11) % 41))
    val e = edges.toDF("src", "dst")
    val cutRun = {
      val t0 = System.nanoTime()
      val r = Graph.pageRank(e, "src", "dst", iters = 10,
          checkpoint = Cascade.Auto, redistributeDangling = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val sec = (System.nanoTime() - t0) / 1e9
      assert(sec < 120.0, s"10 redistribute rounds took ${sec}s — lineage bound broken?")
      r
    }
    // Graph.pageRank's arithmetic: rank div deg along each distinct
    // edge, a dangling node's whole rank into the null-keyed group (its
    // one synthetic deg-1 edge), next = base + (d·(in + dsum div n)) div 1000
    val dampingMil = 850L
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val perNode = 1000000000000L / n
    val base = ((1000L - dampingMil) * perNode) / 1000L
    val targets: Map[Long, Seq[Option[Long]]] = nodes.map { v =>
      val out = es.collect { case (`v`, d) => Option(d) }
      v -> (if (out.isEmpty) Seq(None) else out)
    }.toMap
    var ranks = nodes.map(_ -> perNode).toMap
    for (_ <- 1 to 10) {
      val inbound = nodes.flatMap { v =>
        targets(v).map(t => t -> ranks(v) / targets(v).size)
      }.groupMapReduce(_._1)(_._2)(_ + _)
      val dsum = inbound.getOrElse(None, 0L)
      ranks = nodes.map(v =>
        v -> (base + (dampingMil * (inbound.getOrElse(Some(v), 0L) + dsum / n)) / 1000L)).toMap
    }
    assert(cutRun == nodes.map(v => v -> ranks(v)),
      "per-round cuts changed rank values — they may only change plan shape")
  }

  test("kcore: K4+pendant chain — fixpoint peels tails, bounded rounds match hand peels, noise ignored") {
    def cores(edges: Seq[(Long, Long)], k: Int,
              rounds: Option[Int]): Map[Long, Long] =
      Graph.kcore(edges.toDF("src", "dst"), "src", "dst", k, rounds,
          checkpoint = Cascade.NoCheckpoint)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 on {1,2,3,4} plus pendant chain 4-5, 5-6
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    // 2-core fixpoint: 6 (deg 1) peels, then 5 — K4 remains, deg 3 each
    assert(cores(g, 2, None) ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // but ONE synchronous round only drops 6 (5 still saw deg 2):
    // survivors {1..5}, degrees within the ORIGINAL graph
    assert(cores(g, 2, Some(1)) ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L, 5L -> 2L))
    // round 2 drops 5 (its neighbor 6 is gone) but still reports 4's
    // degree within the round-1 survivor set {1..5} — i.e. 4
    assert(cores(g, 2, Some(2)) ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L))
    // round 3 re-measures within {1,2,3,4}: the fixpoint
    assert(cores(g, 2, Some(3)) == cores(g, 2, None))
    // 4-core of K4 is empty (deg 3 < 4) — and the empty fixpoint halts
    assert(cores(g, 4, None).isEmpty)
    // duplicates / self-loops / direction noise collapse
    val noisy = g ++ Seq((2L, 1L), (1L, 1L), (1L, 2L))
    assert(cores(noisy, 2, None) == cores(g, 2, None))
    // partition independence
    val part = Graph.kcore(g.toDF("src", "dst").repartition(7), "src", "dst",
        2, None, checkpoint = Cascade.NoCheckpoint)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(part == cores(g, 2, None))
  }

  test("shortestPaths: hand graph — min over paths, cycle safe, depth-capped, frontier exact") {
    def dists(edges: Seq[(Long, Long)], src: Long,
              depth: Int): Map[Long, Long] =
      Graph.shortestPaths(edges.toDF("src", "dst"), "src", "dst", src, depth,
          checkpoint = Cascade.NoCheckpoint)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // diamond + tail: 1→2→4, 1→3→4 (dist(4)=2 via min), 4→5
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    assert(dists(g, 1L, 6) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    // cycle: re-arrival never overwrites a shorter distance
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(dists(cyc, 1L, 6) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // maxDepth caps the horizon: node 5 (3 hops) absent at depth 2
    assert(dists(g, 1L, 2) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // unreachable nodes never appear; direction respected (2→1 absent)
    assert(!dists(Seq((1L, 2L), (3L, 4L)), 1L, 4).contains(3L))
    assert(dists(Seq((2L, 1L)), 1L, 4) == Map(1L -> 0L))
    // partition independence
    val part = Graph.shortestPaths(g.toDF("src", "dst").repartition(5),
        "src", "dst", 1L, 6, checkpoint = Cascade.NoCheckpoint)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(part == dists(g, 1L, 6))
  }
}
