package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-slope data generator: replicates a driver-generated SF dir
  * `factor`× with shifted keys, so the bench can measure how every query's
  * cost moves with data volume (the 100 TB question is a slope, not a
  * point). Usage: `runMain graft.ScaleGen <srcSfDir> <outDir> [factor]`.
  *
  * Replication preserves the DISTRIBUTIONAL shape instead of stacking
  * identical copies — naive duplication would manufacture pathologies the
  * real corpus doesn't have (every document gaining `factor` exact twins
  * turns the near-dup truth tiers quadratic in `factor`, not in corpus
  * size):
  *  - relational keys shift by `rep * max(key)`, so FK joins (customer →
  *    orders → lineitem) keep their fan-out and selectivity exactly;
  *    nation/region stay fixed (dimension tables don't grow with SF —
  *    same as TPC-H);
  *  - document text in replicas > 0 is salted with a replica token every
  *    two words: within a replica, pairs whose shared text sits at the
  *    SAME word offset keep their shingle relationships (this corpus'
  *    planted near-dups and duplicate clusters are aligned edits —
  *    confirmed by the measured exactly-×10 true-pair scaling at sf1),
  *    while every 3-gram crosses a salt so cross-replica Jaccard
  *    collapses to ~0 — near-dup pairs scale ×factor with the corpus, as
  *    a real corpus's do. Caveat: a near-dup pair whose shared run is
  *    shifted by an ODD word offset (e.g. a one-token prefix insert)
  *    would land its salts at different phases and lose its shared
  *    grams in replicas > 0 — this corpus plants none, but a different
  *    source corpus might;
  *  - embeddings in replicas > 0 are cyclically dimension-rolled (an
  *    orthogonal permutation: within-replica cosines — and therefore
  *    neighborhoods, cluster structure, recall workloads — are EXACTLY
  *    preserved; cross-replica cosines decorrelate);
  *  - events keep their timestamps (same windows, ×factor rows per
  *    window — the throughput shape of a busier stream) with event ids
  *    and user ids shifted.
  *
  * events.ts is read raw (nanos-as-long conf set for older generations;
  * newer testdata decodes to TIMESTAMP_NTZ) and written back in the same
  * physical type it arrived in — either way [[Tables.normalizeTs]]
  * rebuilds one logical TimestampType on read.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // stride = max + 1: keys are 0-based, so a bare max would collide at
    // every replica boundary (key 0 of rep r+1 == key max of rep r)
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).first().getLong(0) + 1L

    /** Replicate `df` `factor`×, replacing key columns by `key + rep*max`
      * and any `overrides` (which may reference `__rep`). */
    def emit(df: DataFrame, t: String, shifts: Map[String, Long],
             overrides: Map[String, Column], parts: Int): Unit = {
      val reps = df.crossJoin(
        broadcast(spark.range(factor.toLong).toDF("__rep")))
      val cols = df.columns.toSeq.map { c =>
        overrides.get(c)
          .orElse(shifts.get(c).map(m => col(c) + col("__rep") * m))
          .getOrElse(col(c)).as(c)
      }
      reps.select(cols: _*)
        .repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t x$factor done")
    }

    // dimension tables: copied, not replicated
    for (t <- Seq("nation", "region"))
      read(t).write.mode("overwrite").parquet(s"$out/$t.parquet")

    val (cust, ord, li, part, supp) =
      (read("customer"), read("orders"), read("lineitem"), read("part"), read("supplier"))
    val mC = maxOf(cust, "c_custkey")
    val mO = maxOf(ord, "o_orderkey")
    val mP = maxOf(part, "p_partkey")
    val mS = maxOf(supp, "s_suppkey")

    emit(cust, "customer", Map("c_custkey" -> mC), Map.empty, 8)
    emit(ord, "orders", Map("o_orderkey" -> mO, "o_custkey" -> mC), Map.empty, 16)
    emit(li, "lineitem",
      Map("l_orderkey" -> mO, "l_partkey" -> mP, "l_suppkey" -> mS), Map.empty, 32)
    emit(part, "part", Map("p_partkey" -> mP), Map.empty, 4)
    emit(supp, "supplier", Map("s_suppkey" -> mS), Map.empty, 2)

    // ts arrives as whatever the source encodes (raw nanos LONG under the
    // conf above, or TIMESTAMP_NTZ micros in newer testdata generations);
    // replication never touches it, and the replicated file re-encodes the
    // same physical type — Tables.normalizeTs absorbs either on read
    val ev = read("events")
    emit(ev, "events",
      Map("event_id" -> maxOf(ev, "event_id"), "user_id" -> maxOf(ev, "user_id")),
      Map.empty, 16)

    val docs = read("documents")
    // salt every 2 words with a replica token: 3-gram shingles always span
    // a salt, so cross-replica similarity collapses while within-replica
    // structure is untouched (replica 0 stays verbatim)
    val salted = when(col("__rep") === 0, col("text"))
      .otherwise(regexp_replace(col("text"), lit("(\\S+ \\S+) "),
        concat(lit("$1 r"), col("__rep"), lit(" "))))
    emit(docs, "documents", Map("doc_id" -> maxOf(docs, "doc_id")),
      Map("text" -> salted,
        "n_chars" -> when(col("__rep") === 0, col("n_chars"))
          .otherwise(length(salted).cast("long"))), 8)

    val emb = read("embeddings")
    // cyclic dimension roll by 7*rep (mod dim): orthogonal, so within-
    // replica cosines are exact; cross-replica neighborhoods decorrelate.
    // The roll degenerates to the IDENTITY when 7*rep ≡ 0 (mod dim) —
    // for 64-dim vectors that is replica 64 — which would manufacture
    // exact cross-replica twins, the very pathology this tool avoids
    require(factor <= 63,
      s"factor $factor: dimension roll would repeat at replica 64 (7*64 % 64 = 0)")
    val sh = pmod(col("__rep") * 7, size(col("embedding"))).cast("int")
    val rolled = when(col("__rep") === 0, col("embedding")).otherwise(
      concat(
        slice(col("embedding"), sh + 1, size(col("embedding")) - sh),
        slice(col("embedding"), lit(1), sh)))
    emit(emb, "embeddings", Map("vec_id" -> maxOf(emb, "vec_id")),
      Map("embedding" -> rolled), 8)

    spark.stop()
    println(s"[scalegen] wrote $out at factor $factor")
  }
}
