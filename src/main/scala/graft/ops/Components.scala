package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an edge list — the pairs-to-clusters step a
  * dedup pipeline needs after near-duplicate PAIR detection (TextDedup):
  * a duplicate "cluster" is a component of the pair graph, and the
  * canonical representative (keep-doc) is its minimum id.
  *
  * Algorithm: hash-min label propagation to a driver-orchestrated
  * fixpoint — every vertex starts labeled with its own id; each round,
  * labels flow across edges (both directions) and every vertex keeps the
  * minimum label seen. One round = one equi-join (edges x labels) + one
  * map-side-combining min aggregate; rounds needed = max component
  * diameter. Near-dup clusters are dense (diameter 1-3), so this
  * converges in 2-4 rounds; for high-diameter graphs (chains) prefer
  * star-contraction variants — this operator is tuned for the dedup
  * workload, and `maxIter` bounds the worst case.
  *
  * Scale notes: labels are O(V) and each round shuffles O(E + V) on the
  * vertex id — same profile as one GraphX Pregel superstep. Lineage is
  * cut per round by [[Fixpoint.converge]], the round's convergence
  * checksum materializing the cut: without a cut, round k re-executes
  * rounds 1..k-1. Convergence is detected by the label-sum invariant:
  * labels only ever decrease, so the sum of labels is strictly
  * decreasing until fixpoint (summed as decimal(38,0) — no overflow at
  * any V).
  */
object Components {

  /** Component algorithm choice — see [[connected]]. */
  sealed trait Algo
  /** Hash-min label propagation: one equi-join + keyed min per round,
    * rounds = component diameter. The dedup default (near-dup clusters
    * have diameter 1-3). */
  case object HashMin extends Algo
  /** Alternating large-star / small-star edge contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014):
    * rounds are O(log² V) REGARDLESS of diameter, so chain-shaped pair
    * graphs — er4's sorted-neighborhood runs of similar records are the
    * realistic producer — converge where hash-min's diameter-bounded
    * loop would die at `maxIter`. Per round: two windowed min passes
    * over the (deduped, oriented) edge set; at the fixpoint every
    * component is a star centered at its minimum id, which IS the label
    * assignment. */
  case object StarContraction extends Algo

  /** @param edges     undirected edge list (each pair once is enough)
    * @param srcCol    edge endpoint column
    * @param dstCol    other endpoint column
    * @param vertices  optional full vertex frame — vertices with no edges
    *                  come back as singleton components; edge endpoints
    *                  are always included
    * @param idCol     vertex id column (in `vertices` and the output)
    * @param maxIter   round bound (HashMin: >= max component diameter;
    *                  StarContraction: >= ~log² V — the default 20
    *                  covers any realistic corpus)
    * @param strategy  per-round lineage cut, default [[Cascade.Auto]]
    *                   (reliable when a checkpoint dir is configured,
    *                   local otherwise — the cluster-correct default)
    * @param algo      [[HashMin]] (default) or [[StarContraction]]
    * @return (idCol, component) — component = min vertex id reachable
    */
  def connected(
      edges: DataFrame, srcCol: String, dstCol: String,
      vertices: Option[DataFrame] = None, idCol: String = "id",
      maxIter: Int = 20,
      strategy: Cascade.Strategy = Cascade.Auto,
      requireConvergence: Boolean = true,
      algo: Algo = HashMin): DataFrame = {

    // cut the edge frame ONCE: every round joins against it, and without
    // a cut each round re-executes the full upstream edge derivation
    // (e.g. the inverted-index Jaccard scan behind near-dup pairs) —
    // measured 9.7s -> 3.4s on d9 at sf0.1. The first round's checksum
    // materializes it.
    val bi = Fixpoint.cutForAction(
      edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
        .unionByName(edges.select(col(dstCol).as("_src"), col(srcCol).as("_dst"))),
      strategy)
    val endpointIds = bi.select(col("_src").as(idCol))
    val vertexIds = vertices
      .map(_.select(col(idCol)).unionByName(endpointIds))
      .getOrElse(endpointIds)
      .distinct()

    if (algo == StarContraction)
      return starConnected(bi, vertexIds, idCol, maxIter, strategy, requireConvergence)

    // a graph whose diameter exceeds maxIter ends with labels that still
    // split one component into several ids — corrupt clusters, not a slow
    // answer — so the loop fails loudly (or warns, for callers that accept
    // a refinement of the true components)
    Fixpoint.converge(vertexIds.select(col(idCol), col(idCol).as("component")),
        strategy, maxIter, "Components.connected", requireConvergence) { labels =>
      val msgs = bi
        .join(labels.withColumnRenamed(idCol, "_src"), Seq("_src"))
        .select(col("_dst").as(idCol), col("component"))
      labels.unionByName(msgs)
        .groupBy(col(idCol)).agg(min(col("component")).as("component"))
    }(checksum)
  }

  /** Representative selection — the "which copy do we keep" act on top of
    * [[connected]]'s clusters: join the labeled vertices back to their
    * attribute frame and keep, per component, the row winning the
    * caller's preference order (e.g. longest text first, id as the
    * deterministic tiebreak — ALWAYS end `order` with a per-vertex-unique
    * column or reps are nondeterministic under retries).
    *
    * Shape: one equi-join labels⋈attrs (labels are a projection of attrs'
    * id space — co-partitioned after the component aggregate) + ONE
    * component-keyed window. Per-cluster row counts bound the window
    * partitions, so skew is capped by the largest duplicate cluster, not
    * the corpus.
    *
    * @return one row per component: (component, rep under `idCol`'s name
    *         prefixed `rep_`, n_members)
    */
  def representatives(
      labels: DataFrame, attrs: DataFrame, idCol: String,
      order: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(order.nonEmpty, "representatives: preference order required")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("component")).orderBy(order: _*)
    // unordered spec = whole-partition frame: the member count shares the
    // same component-keyed shuffle as the rank, no second exchange
    val wAll = Window.partitionBy(col("component"))
    labels.join(attrs, Seq(idCol))
      .select(col("component"), col(idCol),
        row_number().over(w).as("_rn"),
        count(lit(1)).over(wAll).as("n_members"))
      .filter(col("_rn") === 1)
      .select(col("component"), col(idCol).as(s"rep_$idCol"),
        col("n_members"))
  }

  private def checksum(labels: DataFrame): java.math.BigDecimal =
    labels.agg(sum(col("component").cast("decimal(38,0)"))).head()
      .getDecimal(0) match {
        case null => java.math.BigDecimal.ZERO
        case d => d
      }

  /** [[StarContraction]]'s loop. Edge state is canonical (oriented
    * `_u > _v`, deduped, self-loop-free). Per round:
    *
    *  - LARGE-STAR: per node u over BOTH orientations, every strictly
    *    larger neighbor v links to m = min(Γ(u) ∪ {u}) — one windowed
    *    min, no join;
    *  - SMALL-STAR: per node u over its smaller neighbors (the oriented
    *    edge set keyed by the larger endpoint), every smaller neighbor
    *    AND u itself link to m = min(Γ≤(u) ∪ {u}).
    *
    * Both phases emit edges already oriented toward the smaller id, so
    * the state never needs re-canonicalizing. Fixpoint = every
    * component a star centered at its min id; detected by an edge-set
    * signature (count + endpoint sums + xxhash64 sum, all exact
    * decimals — stable iff the edge SET is, up to a vanishing hash-sum
    * collision). Labels then read directly off the star edges; isolated
    * vertices label themselves. */
  private def starConnected(
      bi: DataFrame, vertexIds: DataFrame, idCol: String, maxIter: Int,
      strategy: Cascade.Strategy, requireConvergence: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wU = Window.partitionBy(col("_u"))
    val canonical = bi.filter(col("_src") =!= col("_dst"))
      .select(greatest(col("_src"), col("_dst")).as("_u"),
        least(col("_src"), col("_dst")).as("_v"))
      .distinct()
    val e = Fixpoint.converge(canonical, strategy, maxIter,
        "Components.connected(StarContraction)", requireConvergence) { e =>
      val nbrs = e.unionByName(
        e.select(col("_v").as("_u"), col("_u").as("_v")))
      val large = nbrs
        .withColumn("_m", least(min(col("_v")).over(wU), col("_u")))
        .filter(col("_v") > col("_u"))
        .select(col("_v").as("_u"), col("_m").as("_v"))
        .filter(col("_u") =!= col("_v"))
        .distinct()
      val withM = large.withColumn("_m", min(col("_v")).over(wU))
      withM
        .select(col("_v").as("_u"), col("_m").as("_v"))
        .unionByName(withM.select(col("_u"), col("_m").as("_v")))
        .filter(col("_u") =!= col("_v"))
        .distinct()
    }(edgeSig)
    vertexIds
      .join(e.groupBy(col("_u").as(idCol)).agg(min(col("_v")).as("_c")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_c"), col(idCol)).as("component"))
  }

  /** Exact edge-set signature for the star loop's convergence test. */
  private def edgeSig(e: DataFrame): (Long, java.math.BigDecimal,
      java.math.BigDecimal, java.math.BigDecimal) = {
    val r = e.agg(count(lit(1)),
      sum(col("_u").cast("decimal(38,0)")),
      sum(col("_v").cast("decimal(38,0)")),
      sum(xxhash64(col("_u"), col("_v")).cast("decimal(38,0)"))).head()
    def d(i: Int) = Option(r.getDecimal(i)).getOrElse(java.math.BigDecimal.ZERO)
    (r.getLong(0), d(1), d(2), d(3))
  }
}
