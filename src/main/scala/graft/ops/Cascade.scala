package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J8 — recursive cascading delete (`cds_transformation_functions.py:171-195`).
  *
  * Given a set of deleted parent ids, a child row loses that parent
  * pointer; a child is itself deleted when *all* of its parent pointers are
  * now null (the reference's `dropna(how='all')` over parent-pointer
  * columns, `:189-193`), and its deletion cascades to grandchildren.
  *
  * The loop is data-dependent so it cannot be one Catalyst plan
  * (SURVEY.md §2.3 J8); we orchestrate a fixpoint on the driver, bounded by
  * the depth of the relationship DAG. Each level is a set of `left` joins
  * against the (small) deleted-id sets — at 100 TB the deleted-id frames
  * are tiny relative to the node tables, so Catalyst/AQE picks
  * BroadcastHashJoin and each level is a single map-side pass with no
  * shuffle of the big table. Deleted-id sets are captured per level as
  * distinct-id DataFrames (never collected to the driver).
  */
object Cascade {

  /** One parent pointer on a child node: column `fk` on the child holds
    * values of `parentKey` on `parent`. */
  final case class ParentRef(fk: String, parent: String, parentKey: String)

  /** Per-level lineage-cut strategy (ADVICE r3: callers must be able to
    * pick reliability vs speed explicitly).
    *  - [[Auto]] (default): a reliable `checkpoint()` to the SparkContext
    *    checkpoint dir when one is configured (cluster jobs set one — cuts
    *    survive executor loss and dynamic deallocation), else an
    *    executor-block `localCheckpoint()` (single-JVM/dev/bench: no
    *    distributed-FS round-trip; blocks are lost on executor failure).
    *    The cluster-correct behavior is therefore one `setCheckpointDir`
    *    away, with no code change in callers. NOTE: Spark does not delete
    *    reliable checkpoint files by default, and a cascade (or a
    *    [[Fixpoint]] loop) issues one per level/round — long-running
    *    cluster jobs should set
    *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` (the
    *    ContextCleaner then removes a cut's files once its RDD is
    *    GC-unreachable) or clean the per-job checkpoint subdir after the
    *    terminal action.
    *  - [[NoCheckpoint]]: pure lineage; every downstream action re-runs
    *    the whole multi-level DAG (round-2's measured pathology). */
  sealed trait Strategy
  case object Auto extends Strategy
  case object NoCheckpoint extends Strategy

  /** Apply one lineage cut under `s` (see [[Strategy]]). `private[graft]`
    * so entry-level derivations (e.g. g8's shared co-purchase edge set)
    * follow the same checkpoint-strategy discipline as the ops — a
    * cluster run with a checkpoint dir configured gets reliable cuts
    * everywhere, never a hardcoded executor-block localCheckpoint. */
  private[graft] def cut(df: DataFrame, s: Strategy, eager: Boolean): DataFrame = s match {
    case NoCheckpoint => df
    case Auto =>
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager)
      else df.localCheckpoint(eager)
  }

  /** Cascade deletions through the node graph.
    *
    * @param nodes    node name → DataFrame
    * @param parents  child node → its parent pointers
    * @param ids      node name → id column (for emitting deleted-id sets)
    * @param seeds    node name → DataFrame with that node's id column,
    *                 listing initially-deleted ids
    * @param strategy per-level lineage cut (see [[Strategy]]; default
    *                 [[Auto]]). Deleted-id sets are cut eagerly
    *                 (tiny frames, one small job per level); survivor
    *                 frames lazily (materialized once at first use, then
    *                 reused from storage). Note the eager cuts mean
    *                 `delete()` runs Spark jobs at BUILD time under any
    *                 strategy but [[NoCheckpoint]].
    * @return surviving rows per node (parent pointers of deleted parents
    *         nulled out, fully-orphaned rows removed, recursively)
    */
  def delete(
      nodes: Map[String, DataFrame],
      parents: Map[String, Seq[ParentRef]],
      ids: Map[String, String],
      seeds: Map[String, DataFrame],
      strategy: Strategy = Auto): Map[String, DataFrame] = {

    var current = nodes
    // deleted-id frames per node, grown level by level
    var deleted: Map[String, DataFrame] = seeds.map { case (n, df) =>
      n -> df.select(graft.ColNames.q(ids(n))).distinct()
    }
    val maxDepth = nodes.size // DAG depth bound

    // deleted-id frames carry exactly the parent's id column, so each
    // ParentRef's parentKey must BE that column — fail fast with the
    // contract instead of an AnalysisException mid-cascade
    for ((child, refs) <- parents; r <- refs; pid <- ids.get(r.parent))
      require(r.parentKey == pid,
        s"ParentRef($child.${r.fk} -> ${r.parent}.${r.parentKey}): deleted-id " +
          s"frames carry the parent's id column '$pid'; parentKey must equal it")

    var frontier = deleted.keySet
    var level = 0
    while (frontier.nonEmpty && level < maxDepth) {
      var nextFrontier = Set.empty[String]
      for ((child, refs) <- parents) {
        val touched = refs.filter(r => frontier.contains(r.parent))
        if (touched.nonEmpty) {
          var df = current(child)
          // null out pointers to deleted parents (left join + conditional)
          for (r <- touched) {
            val del = deleted(r.parent)
              .select(graft.ColNames.q(r.parentKey).as(r.fk)).distinct()
              .withColumn("__del", lit(1))
            // no broadcast() hint: deleted-id sets are *usually* tiny, but a
            // mass cascade can delete a large fraction of a parent node —
            // AQE promotes small sides to broadcast at runtime and keeps a
            // shuffle join when they aren't (a forced hint would OOM there)
            df = df
              .join(del, Seq(r.fk), "left")
              .withColumn(r.fk, when(col("__del").isNotNull, lit(null)).otherwise(graft.ColNames.q(r.fk)))
              .drop("__del")
          }
          // a row dies when ALL parent pointers are null
          val allRefs = parents(child)
          val orphan = allRefs.map(r => graft.ColNames.q(r.fk).isNull).reduce(_ && _)
          val dying0 = df.filter(orphan).select(graft.ColNames.q(ids(child))).distinct()
          val dying = cut(dying0, strategy, eager = true)
          val survivors = cut(df.filter(!orphan), strategy, eager = false)
          current = current.updated(child, survivors)
          val mergedDel =
            deleted.get(child).map(_.union(dying).distinct()).getOrElse(dying)
          deleted = deleted.updated(
            child,
            if (deleted.contains(child)) cut(mergedDel, strategy, eager = true)
            else mergedDel)
          nextFrontier += child
        }
      }
      frontier = nextFrontier
      level += 1
    }
    // apply seed deletions to the seed nodes themselves — null-SAFE on the
    // id: conflict offenders can include the null-id group, and a plain
    // left_anti (null = null never matches) would let rows reported as
    // deleted survive in the output
    for ((n, seedIds) <- seeds) {
      val idc = ids(n)
      val del = seedIds.select(graft.ColNames.q(idc).as("__del_id")).distinct()
      current = current.updated(
        n,
        current(n).join(del, graft.ColNames.q(idc) <=> col("__del_id"), "left_anti"))
    }
    current
  }
}
