package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** w22 — INCREMENTAL duplicate clustering: d9's streaming twin.
  * Near-dup PAIRS arrive over micro-batches (d15's incremental screen
  * emits exactly this delta stream); each batch APPENDS its distinct
  * edges to an edge log — the w17/w18 LSM discipline (append-only state,
  * no registry rewrite) — and the terminal fold runs the batch hash-min
  * closure ([[graft.ops.Components]]) over the logged union.
  *
  * Replay-safe BY ALGEBRA, not checkpoint: the component structure is a
  * function of the edge SET, and set union is idempotent ∘ commutative ∘
  * associative — a re-delivered or out-of-order batch appends rows the
  * fold's `distinct` absorbs (StreamingSpec pins both).
  *
  * What stays deliberately NON-incremental: materialized labels.
  * Connected components is a global fixpoint — one cross-component edge
  * can relabel an arbitrarily large subgraph, so a per-arrival label
  * registry needs in-place merges (union-find), which has no append-only
  * form. The replay-safe state is therefore the edge LOG; label
  * materialization is the terminal fold (or a periodic compaction job
  * over the same log), whose hash-min cost is linear in logged edges —
  * the batch engine's own work, paid when labels are DEMANDED rather
  * than per arrival. The w18 multi-parent note is the same trade. */
object ComponentsStream {

  /** The log substrate is w33's ([[PageRankStream]]), verbatim: every
    * arriving micro-batch of (src, dst) pairs is absorbed into the log. */
  def start(stream: DataFrame, srcCol: String, dstCol: String,
            logDir: String, checkpointDir: String): StreamingQuery =
    PageRankStream.start(stream, srcCol, dstCol, logDir, checkpointDir)

  /** Terminal fold: the batch closure over the logged edges — labels
    * must equal [[graft.ops.Components.connected]] on the union of all
    * deliveries (the w22 gate's equality). */
  def fold(spark: SparkSession, logDir: String, vertices: DataFrame,
           idCol: String): DataFrame =
    graft.ops.Components.connected(PageRankStream.loggedEdges(spark, logDir), "src", "dst",
      vertices = Some(vertices), idCol = idCol)
}
