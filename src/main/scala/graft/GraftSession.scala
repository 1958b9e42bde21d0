package graft

import org.apache.spark.sql.SparkSession

/** One-stop session setup for users of this library: the engine's
  * recommended Spark configs plus the full SQL surface (table views and
  * custom kernels), so a reference user can start with
  * `GraftSession.local(...)` / `GraftSession.configure(builder)` and drive
  * everything from either the DataFrame API or `spark.sql`.
  *
  * Config rationale (all overridable by the caller BEFORE getOrCreate):
  *  - AQE on (Spark default, pinned here): runtime broadcast promotion,
  *    skew-join splitting, partition coalescing — the engine's join plans
  *    rely on AQE rather than forced hints (see [[graft.ops.Cascade]]).
  *  - objectHashAggregate fallback threshold raised: the top-k ranking
  *    aggregate ([[graft.functions.TopKAggregate]]) keeps ~17·k-byte
  *    buffers per group; the 128-group default would push every k-NN
  *    partition into sort-based fallback for no memory benefit. TRADE:
  *    the setting is session-wide, so UNBOUNDED object aggregates
  *    (`collect_list`/`collect_set` over high-cardinality keys) also hold
  *    up to 65536 in-memory groups before falling back — if your workload
  *    collects large lists per group, lower it back
  *    (`spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")`).
  *  - session timezone UTC: timestamp determinism across engines (the
  *    DuckDB oracle compares hashed values).
  */
object GraftSession {

  /** Apply the engine's recommended configs to a builder. The
    * extensions class wires the SQL kernels AND the snapshot-table
    * resolution rule (`graft_snap.<alias>`, `VERSION AS OF`) — it must
    * ride the BUILDER (Spark fixes the analyzer at session creation). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** Register the SQL surface on an existing session: every custom kernel
    * (vec_*, minhash_sig, shingle_hash64, simhash64, hyperplane_bucket,
    * nearest_cells, topk_ids_by) and, when `sfDir` is given, the testdata
    * table views. Idempotent. */
  def registerAll(spark: SparkSession, sfDir: Option[String] = None): SparkSession = {
    graft.functions.VectorExpressions.register(spark)
    graft.functions.TopKAggregate.register(spark)
    graft.functions.HeavyHitters.register(spark)
    graft.functions.TextExpressions.register(spark)
    sfDir.foreach(dir => Tables.registerAll(spark, dir))
    spark
  }

  /** Builder for a local session with `cores` threads and the engine's
    * configs — the one place every main and the test session start
    * from; callers add their own extras (app name, warehouse dir, read
    * settings) before `getOrCreate`. Shuffle partitions are sized to the
    * core count (a 200-way shuffle of a laptop-sized table is pure
    * overhead; on a cluster set `spark.sql.shuffle.partitions` to ~2-3×
    * total executor cores). */
  def builder(cores: Int): SparkSession.Builder =
    configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false"))

  /** Local session with `cores` threads and the SQL surface registered. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    registerAll(builder(cores).getOrCreate())
}
