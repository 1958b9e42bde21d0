package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.ops.Scale
import graft.ops.Snapshots.{Scan, Where}

/** Plan-level assertions for the scale mechanics: salting preserves join
  * results while spreading hot keys; bucketed tables join shuffle-free. */
class ScaleSpec extends SparkSpec {

  import spark.implicits._

  /** (opened, skipped) of a pruned scan */
  private def counts(sc: Scan): (Int, Int) = (sc.opened, sc.skipped)

  test("saltedJoin returns exactly the unsalted join result") {
    // skewed: key 1 carries most rows
    val left = ((1 to 50).map(i => (1, s"l$i")) ++ Seq((2, "x"), (3, "y")))
      .toDF("k", "lv")
    val right = Seq((1, "r1"), (2, "r2"), (4, "r4")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).select("k", "lv", "rv")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val salted = Scale.saltedJoin(left, right, Seq("k"), salts = 8)
      .select("k", "lv", "rv")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(salted == plain)
    assert(salted.size == 51)
  }

  test("saltedJoin equals plain join with null keys and a map column present") {
    val rnd = new scala.util.Random(5L)
    val left = (1 to 100)
      .map(i => (if (rnd.nextInt(5) == 0) null else s"k${rnd.nextInt(4)}", i.toLong))
      .toDF("k", "v")
      .withColumn("m", map(lit("a"), col("v"))) // unhashable type must not break salting
    val right = (1 to 20).map(i => (s"k${rnd.nextInt(5)}", i.toLong)).toDF("k", "w")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "w").collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(rows(Scale.saltedJoin(left, right, Seq("k"), salts = 7)) ==
      rows(left.join(right, Seq("k"))))
  }

  test("saltedJoin left-outer preserves unmatched left rows exactly once") {
    val left = Seq((1, "a"), (2, "b"), (9, "c")).toDF("k", "lv")
    val right = Seq((1, "r1")).toDF("k", "rv")
    val out = Scale.saltedJoin(left, right, Seq("k"), salts = 4, joinType = "left")
      .select("k", "lv", "rv").collect()
    assert(out.length == 3)
    assert(out.count(_.isNullAt(2)) == 2)
  }

  test("saltedJoin rejects join types that would duplicate unmatched right rows") {
    val l = Seq((1, "a")).toDF("k", "lv")
    val r = Seq((2, "r")).toDF("k", "rv")
    val e = intercept[IllegalArgumentException] {
      Scale.saltedJoin(l, r, Seq("k"), salts = 4, joinType = "right")
    }
    assert(e.getMessage.contains("duplicate unmatched right rows"))
    intercept[IllegalArgumentException] {
      Scale.saltedJoin(l, r, Seq("k"), salts = 4, joinType = "full_outer")
    }
  }

  test("partitionBy(study) output enables partition pruning on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = (1 to 300).map(i => (s"phs${i % 3}", i.toLong, s"v$i"))
      .toDF("phs_accession", "row_id", "v")
    df.write.mode("overwrite").partitionBy("phs_accession").parquet(dir)
    val filtered = spark.read.parquet(dir).filter(col("phs_accession") === "phs1")
    assert(filtered.count() == 100)
    val scan = filtered.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.nonEmpty,
      "study filter must prune partitions, not scan-and-filter")
    // only the phs1 directory is read
    assert(scan.metrics("numFiles").value <= 2)
  }

  test("bucketed tables join without a shuffle") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "av")
      val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "bv")
      Scale.writeBucketed(a, "bucketed_a", "k", buckets = 4)
      Scale.writeBucketed(b, "bucketed_b", "k", buckets = 4)
      val joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), Seq("k"))
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty, s"expected shuffle-free bucketed join, got:\n$plan")

      // control: the same join over unbucketed views DOES shuffle
      a.createOrReplaceTempView("plain_a")
      b.createOrReplaceTempView("plain_b")
      val unbucketed = spark.table("plain_a").join(spark.table("plain_b"), Seq("k"))
      unbucketed.count()
      val uplan = unbucketed.queryExecution.executedPlan match {
        case ad: AdaptiveSparkPlanExec => ad.executedPlan
        case p => p
      }
      assert(uplan.collect { case s: ShuffleExchangeExec => s }.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
    }
  }

  test("zorder: lossless, and every file covers a small span in BOTH dimensions") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("zorder").toString
    // 2-D uniform grid: 256 x 256 points
    val df = (0 until 256).flatMap(x => (0 until 256).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    Scale.zorder(df, Seq(col("x"), col("y")), partitions = 64)
      .write.parquet(s"$root/z")
    // control: single-key range sort (what compact's sortKeys gives)
    df.repartitionByRange(64, col("x")).sortWithinPartitions(col("x"))
      .write.parquet(s"$root/stripe")
    val back = spark.read.parquet(s"$root/z")
    assert(back.count() == 256L * 256L)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
      "zorder rewrite must be lossless")
    def boxes(dir: String) = Scale.fileBoxes(spark, dir, Seq("x", "y"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val zb = boxes(s"$root/z")
    val sb = boxes(s"$root/stripe")
    // z files: both dims tight. stripe files: y spans ~everything.
    def maxSpan(b: Array[(Double, Double, Double, Double)]) =
      b.map { case (xl, xh, yl, yh) => math.max((xh - xl) / 255.0, (yh - yl) / 255.0) }
        .sum / b.length
    assert(maxSpan(zb) < 0.5, s"z-order avg max-dim span ${maxSpan(zb)} not tight")
    assert(maxSpan(sb) > 0.9, s"stripe control unexpectedly tight: ${maxSpan(sb)}")
    // pruning evidence: files whose box intersects a 1/8 x 1/8 query box
    def intersecting(b: Array[(Double, Double, Double, Double)]) =
      b.count { case (xl, xh, yl, yh) =>
        xh >= 32 && xl <= 63 && yh >= 32 && yl <= 63 }
    assert(intersecting(zb) < intersecting(sb),
      s"z-order must touch fewer files than a 1-D sort for a 2-D box: " +
        s"${intersecting(zb)} vs ${intersecting(sb)}")
  }

  test("zorder: degenerate single-value key and single key column do not break") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, 7L)).toDF("a", "b")
    val out = Scale.zorder(df, Seq(col("a"), col("b")), partitions = 4)
    assert(out.count() == 100)
    val one = Scale.zorder(df, Seq(col("a")), partitions = 2)
    assert(one.count() == 100)
  }

  test("snapshots: append commits, time-travel isolation, parent chain, atomic pointer") {
    import graft.ops.Snapshots
    val root = java.nio.file.Files.createTempDirectory("snaptab").toString
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((3L, "z")).toDF("k", "v")
    val id1 = Snapshots.commitAppend(a, root)
    val id2 = Snapshots.commitAppend(b, root)
    assert(id1 == 1L && id2 == 2L)
    // time travel: snapshot 1 is EXACTLY the first commit, after commit 2
    val r1 = Snapshots.read(spark, root, Some(1L)).as[(Long, String)].collect().toSet
    assert(r1 == Set((1L, "x"), (2L, "y")))
    val cur = Snapshots.read(spark, root).as[(Long, String)].collect().toSet
    assert(cur == Set((1L, "x"), (2L, "y"), (3L, "z")))
    // manifest parent chain
    assert(Snapshots.get(spark, root, 2L).get.parent.contains(1L))
    assert(Snapshots.get(spark, root, 1L).get.parent.isEmpty)
    // an orphaned data dir (crash between data write and pointer swing)
    // is invisible to every read
    Seq((9L, "junk")).toDF("k", "v")
      .write.parquet(s"$root/data/delta-99")
    assert(Snapshots.read(spark, root).count() == 3)
    assert(Snapshots.current(spark, root).get.id == 2L)
    // unknown snapshot / empty table fail loudly
    intercept[RuntimeException] { Snapshots.read(spark, root, Some(42L)) }
    val empty = java.nio.file.Files.createTempDirectory("snapempty").toString
    intercept[RuntimeException] { Snapshots.read(spark, empty) }
  }

  test("snapshots: equality deletes are merge-on-read, sequence-scoped; rewrite materializes") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapdel").toString
    def rows() = Snapshots.read(spark, root).as[(Long, String)].collect().toSet
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root)
    // delete 2 and a key that never existed (legal no-op)
    Snapshots.commitDelete(Seq(2L, 99L).toDF("k"), root, "k")
    assert(rows() == Set((1L, "a"), (3L, "c")))
    // re-insert key 2 AFTER its delete: the sequence rule keeps it
    val id3 = Snapshots.commitAppend(Seq((2L, "b2"), (4L, "d")).toDF("k", "v"), root)
    assert(rows() == Set((1L, "a"), (3L, "c"), (2L, "b2"), (4L, "d")))
    // a second delete hits data from BOTH earlier appends
    Snapshots.commitDelete(Seq(1L, 4L).toDF("k"), root, "k")
    assert(rows() == Set((3L, "c"), (2L, "b2")))
    // time travel: snapshot 3 predates the second delete entirely
    assert(Snapshots.read(spark, root, Some(id3)).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (3L, "c"), (2L, "b2"), (4L, "d")))
    // the delete key column is fixed at first use
    intercept[IllegalArgumentException] {
      Snapshots.commitDelete(Seq("x").toDF("v"), root, "v")
    }
    // copy-on-write rewrite: same rows, single data dir, no delete dirs,
    // history still readable
    val rid = Snapshots.commitRewrite(spark, root)
    assert(rows() == Set((3L, "c"), (2L, "b2")))
    val snap = Snapshots.get(spark, root, rid).get
    assert(snap.dataDirs.size == 1 && snap.deleteDirs.isEmpty)
    assert(Snapshots.read(spark, root, Some(id3)).count() == 4)
    // a delete AFTER the rewrite still works (key column retained)
    Snapshots.commitDelete(Seq(3L).toDF("k"), root, "k")
    assert(rows() == Set((2L, "b2")))
    // deleting from an empty table fails loudly
    val empty = java.nio.file.Files.createTempDirectory("snapdelempty").toString
    intercept[RuntimeException] {
      Snapshots.commitDelete(Seq(1L).toDF("k"), empty, "k")
    }
  }

  test("snapshots: additive schema evolution, retention expire, vacuum reclaims exactly the dead dirs") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapgc").toString
    Snapshots.commitAppend(Seq((1L, "a")).toDF("k", "v"), root)
    // additive evolution: a later append carries a NEW column; earlier
    // deltas read null there, and the historical snapshot keeps its shape
    Snapshots.commitAppend(Seq((2L, "b", 7L)).toDF("k", "v", "extra"), root)
    val cur = Snapshots.read(spark, root)
      .select("k", "v", "extra").as[(Long, String, Option[Long])]
      .collect().toSet
    assert(cur == Set((1L, "a", None), (2L, "b", Some(7L))))
    assert(Snapshots.read(spark, root, Some(1L)).columns.toSeq == Seq("k", "v"))
    // retire snapshot 1, vacuum: delta-1 is still referenced by snap-2
    // (append lineage), so nothing is reclaimable yet
    Snapshots.commitDelete(Seq(1L).toDF("k"), root, "k")
    val rid = Snapshots.commitRewrite(spark, root) // delta-4 = merged rows
    assert(Snapshots.expire(spark, root, keepLast = 1) == Seq(1L, 2L, 3L))
    intercept[RuntimeException] { Snapshots.read(spark, root, Some(1L)) }
    val doomed = Snapshots.vacuum(spark, root).map(Snapshots.canonicalDir).toSet
    // the rewrite manifest references ONLY delta-4: everything else goes,
    // including a planted orphan from a "crashed" commit
    Seq((9L, "junk")).toDF("k", "v").write.parquet(s"$root/data/delta-99")
    val doomed2 = Snapshots.vacuum(spark, root).map(Snapshots.canonicalDir).toSet
    assert((doomed ++ doomed2) == Set("data/delta-1", "data/delta-2",
      "delete/delta-3", "data/delta-99"), s"got ${doomed ++ doomed2}")
    // the retained table is untouched
    assert(Snapshots.read(spark, root).as[(Long, String, Option[Long])]
      .collect().toSet == Set((2L, "b", Some(7L))))
    assert(Snapshots.current(spark, root).get.id == rid)
  }

  test("snapshots: tagged commits are replay-idempotent; vacuum survives a torn manifest tmp") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snaptag").toString
    val b = Seq((1L, "x")).toDF("k", "v")
    val id1 = Snapshots.commitAppend(b, root, Some("batch-0"))
    // replay of the same logical commit: same id back, no new snapshot
    assert(Snapshots.commitAppend(b, root, Some("batch-0")) == id1)
    assert(Snapshots.current(spark, root).get.id == id1)
    assert(Snapshots.read(spark, root).count() == 1)
    // a different tag commits normally
    val id2 = Snapshots.commitAppend(Seq((2L, "y")).toDF("k", "v"),
      root, Some("batch-1"))
    assert(id2 == id1 + 1 && Snapshots.read(spark, root).count() == 2)
    assert(Snapshots.findTag(spark, root, "batch-0").contains(id1))
    assert(Snapshots.findTag(spark, root, "nope").isEmpty)
    // a torn writeAtomic leaves snap-N.tmp: vacuum must neither crash on
    // it nor treat it as a manifest
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "snap-9.tmp"), true)
    out.write("parent=8\ngarbage".getBytes("UTF-8")); out.close()
    assert(Snapshots.vacuum(spark, root).isEmpty, "all dirs still referenced")
    assert(Snapshots.read(spark, root).count() == 2)
  }

  test("snapshots: two interleaved committers from one parent — one wins, loser throws, no orphan") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapcas").toString
    Snapshots.commitAppend(Seq((1L, "base")).toDF("k", "v"), root)
    // both committers read the SAME parent before either writes — the
    // adversarial interleaving writeAtomic's old OVERWRITE silently lost
    val parent = Snapshots.current(spark, root)
    val winId = Snapshots.commitAppendFrom(
      Seq((2L, "winner")).toDF("k", "v"), root, parent, None)
    val loser = intercept[Snapshots.CommitConflictException] {
      Snapshots.commitAppendFrom(
        Seq((3L, "loser")).toDF("k", "v"), root, parent, None)
    }
    assert(loser.getMessage.contains("snap-2"))
    // table state = exactly the winner's commit; the loser's rows are
    // nowhere and its data dir was cleaned eagerly (vacuum finds nothing)
    assert(Snapshots.current(spark, root).get.id == winId)
    assert(Snapshots.read(spark, root).as[(Long, String)].collect().toSet ==
      Set((1L, "base"), (2L, "winner")))
    assert(Snapshots.vacuum(spark, root).isEmpty, "no orphan may survive")
    // the loser's RETRY from the new current succeeds at the next id
    val retryId = Snapshots.commitAppend(Seq((3L, "loser")).toDF("k", "v"), root)
    assert(retryId == winId + 1)
    assert(Snapshots.read(spark, root).count() == 3)
  }

  test("snapshots: commit point is the manifest CAS — current() rolls forward past a stale pointer") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snaproll").toString
    Snapshots.commitAppend(Seq((1L, "a")).toDF("k", "v"), root)
    val id2 = Snapshots.commitAppend(Seq((2L, "b")).toDF("k", "v"), root)
    // simulate a crash between manifest rename and pointer swing: point
    // the pointer back at snap-1 — the committed snap-2 must stay visible
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "_CURRENT"), true)
    out.write("snap-1".getBytes("UTF-8")); out.close()
    assert(Snapshots.current(spark, root).get.id == id2,
      "roll-forward must recover the committed snapshot")
    assert(Snapshots.read(spark, root).count() == 2)
    // and the next commit builds on the rolled-forward current
    val id3 = Snapshots.commitAppend(Seq((3L, "c")).toDF("k", "v"), root)
    assert(id3 == id2 + 1 && Snapshots.read(spark, root).count() == 3)
  }

  test("CDC model test: random op sequences with replays converge to last-writer-wins") {
    import graft.streaming.CdcStream
    import graft.ops.Snapshots
    import spark.implicits._
    // seeded LCG — deterministic scenarios, no java.util.Random
    var seed = 424242L
    def nextInt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n).toInt + n) % n
    }
    for (scenario <- 1 to 3) {
      val table = java.nio.file.Files
        .createTempDirectory(s"cdc_model_$scenario").toString
      val model = scala.collection.mutable.Map.empty[Long, String]
      for (b <- 0 until 4) {
        // one op per key per batch (the CDC-compaction contract)
        val keys = (1 to 12).filter(_ => nextInt(3) > 0).map(_.toLong)
        val ops = keys.map { k =>
          if (nextInt(4) == 0) ("delete", k, null.asInstanceOf[String])
          else ("upsert", k, s"v${b}_${k}_${nextInt(100)}")
        }
        ops.foreach {
          case ("upsert", k, v) => model(k) = v
          case (_, k, _) => model.remove(k)
        }
        if (ops.nonEmpty) {
          val df = ops.toDF("op", "k", "seg")
          CdcStream.absorb(df, table, "k", "op")
          if (nextInt(3) == 0) CdcStream.absorb(df, table, "k", "op") // replay
        }
      }
      if (model.nonEmpty) {
        val got = Snapshots.read(spark, table)
          .as[(Long, String)].collect().toSet
        assert(got == model.toSet,
          s"scenario $scenario diverged: got $got expected ${model.toSet}")
      }
    }
  }

  test("compact: fewer files, lossless rows, range-clustered key layout") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("compact").toString
    val df = (1L to 5000L).map(i => (i, s"v$i")).toDF("k", "v")
    df.repartition(32).write.parquet(s"$root/frag")
    val (before, after) = graft.ops.Scale.compact(
      spark, s"$root/frag", s"$root/out", targetBytes = 64L << 20,
      sortKeys = Seq(col("k")))
    assert(before == 32 && after == 1, s"got $before -> $after")
    val back = spark.read.parquet(s"$root/out")
    assert(back.count() == 5000L)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
      "compaction must be lossless")
    // range clustering: with 2+ output files, per-file key ranges must
    // not overlap (the zone-map layout)
    val (_, after2) = graft.ops.Scale.compact(
      spark, s"$root/frag", s"$root/out2", targetBytes = 8L << 10,
      sortKeys = Seq(col("k")))
    assert(after2 >= 2, s"expected a multi-file rewrite, got $after2")
    val ranges = spark.read.parquet(s"$root/out2")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array((_, hi1), (lo2, _)) => hi1 < lo2
      case _ => true
    }, s"file key ranges overlap: ${ranges.mkString(",")}")
  }

  test("snapshots: expire repairs a lagging pointer — crash + expire(1) cannot empty or fork the table") {
    import graft.ops.Snapshots
    import spark.implicits._
    // r14 ADVICE (high): crash between manifest CAS and pointer swing
    // leaves _CURRENT on snap-(N-1); expire(keepLast=1) then deleted the
    // pointer's target and the table read as empty, and the next commit
    // CAS-created a fresh snap-1 — silently forking history.
    val root = java.nio.file.Files.createTempDirectory("snaprepair").toString
    Snapshots.commitAppend(Seq((1L, "a")).toDF("k", "v"), root)
    val id2 = Snapshots.commitAppend(Seq((2L, "b")).toDF("k", "v"), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def pinPointer(to: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(root, "_CURRENT"), true)
      out.write(to.getBytes("UTF-8")); out.close()
    }
    pinPointer("snap-1") // the crashed pointer swing
    assert(Snapshots.expire(spark, root, keepLast = 1) == Seq(1L))
    // the pointer was repaired BEFORE the delete: it now names snap-2
    val in = fs.open(new org.apache.hadoop.fs.Path(root, "_CURRENT"))
    val ptr = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    assert(ptr.trim == s"snap-$id2", s"pointer not repaired: '$ptr'")
    assert(Snapshots.current(spark, root).get.id == id2)
    assert(Snapshots.read(spark, root).count() == 2)
    // the next commit extends the retained chain — no id reuse, no fork
    val id3 = Snapshots.commitAppend(Seq((3L, "c")).toDF("k", "v"), root)
    assert(id3 == id2 + 1 && Snapshots.read(spark, root).count() == 3)
  }

  test("snapshots: current() recovers from a pointer stranded on an expired manifest (retained scan)") {
    import graft.ops.Snapshots
    import spark.implicits._
    // the defense-in-depth leg: even with the pointer STILL stranded on a
    // deleted manifest (repair skipped — e.g. an old-binary expire ran),
    // current() must fall back to the retained listing, not probe forward
    // from a deleted base and report an empty table
    val root = java.nio.file.Files.createTempDirectory("snapscan").toString
    Snapshots.commitAppend(Seq((1L, "a")).toDF("k", "v"), root)
    val id2 = Snapshots.commitAppend(Seq((2L, "b")).toDF("k", "v"), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "snap-1"), false)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "_CURRENT"), true)
    out.write("snap-1".getBytes("UTF-8")); out.close()
    assert(Snapshots.current(spark, root).get.id == id2,
      "retained-scan fallback must find the committed snapshot")
    assert(Snapshots.read(spark, root).count() == 2)
    val id3 = Snapshots.commitAppend(Seq((3L, "c")).toDF("k", "v"), root)
    assert(id3 == id2 + 1, "no history fork from a stranded pointer")
  }

  test("snapshots: vacuum's tmp reclaim honors the grace window (live committer safety)") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapgrace").toString
    Snapshots.commitAppend(Seq((1L, "a")).toDF("k", "v"), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(root, "snap-2.abcd1234.tmp")
    val out = fs.create(tmp, true); out.write("in-flight".getBytes); out.close()
    // default grace: the seconds-old tmp is a potential live committer's
    // rename source — spared
    Snapshots.vacuum(spark, root)
    assert(fs.exists(tmp), "a fresh tmp inside the grace window must survive")
    // zero grace (the quiesced-maintenance setting): reclaimed
    Snapshots.vacuum(spark, root, tmpGraceMs = 0L)
    assert(!fs.exists(tmp), "an out-of-grace tmp is crash garbage")
  }

  test("snapshots: commitAppendWithRetry under real thread contention — every commit lands, chain linear") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snaprace").toString
    val threads = 4; val perThread = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    try {
      val futs = (0 until threads).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit =
            for (c <- 0 until perThread) {
              val df = Seq((t.toLong * 100 + c, s"w$t-$c")).toDF("k", "v")
              ids.add(Snapshots.commitAppendWithRetry(df, root, maxAttempts = 64))
            }
        })
      }
      futs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val n = threads * perThread
    // all n commits landed with n DISTINCT ids forming the chain 1..n
    assert(ids.size == n, s"expected $n distinct ids, got ${ids.size}")
    import scala.jdk.CollectionConverters._
    assert(ids.asScala.toSeq.sorted == (1L to n.toLong),
      s"ids not a linear chain: ${ids.asScala.toSeq.sorted}")
    // parent chain is linear and complete
    var cur = Snapshots.current(spark, root)
    assert(cur.get.id == n.toLong)
    var walked = 0
    while (cur.isDefined) {
      walked += 1
      cur = cur.get.parent.flatMap(p => Snapshots.get(spark, root, p))
    }
    assert(walked == n, s"parent chain length $walked != $n")
    // every row is present exactly once; no loser's dir leaked
    assert(Snapshots.read(spark, root).count() == n.toLong)
    assert(Snapshots.vacuum(spark, root, tmpGraceMs = 0L).isEmpty,
      "no orphan dir may survive the race")
  }

  test("snapshots: racing keyed merges — disjoint keys all land, overlapping keys win or refuse, never a lost update") {
    import graft.ops.Snapshots
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("snapmergerace").toString
    Snapshots.commitAppend((1L to 10L).map(k => (k, "seed")).toDF("k", "v"), root)
    val threads = 4; val perThread = 3
    def race(attempt: (Int, Int) => Unit): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        val futs = (0 until threads).map { t =>
          pool.submit(new Runnable {
            override def run(): Unit = for (c <- 0 until perThread) attempt(t, c)
          })
        }
        futs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
    }
    // disjoint: each thread merges its own key block and retries through
    // every lost CAS — all land
    race { (t, c) =>
      val df = Seq((1000L + t * 100 + c, s"m$t-$c")).toDF("k", "v")
      Snapshots.commitMergeKeyedWithRetry(df, df.select("k").limit(0),
        root, Seq("k"), maxAttempts = Int.MaxValue)
      ()
    }
    assert(Snapshots.read(spark, root).filter("k >= 1000").count() == threads * perThread,
      "a disjoint merge was lost")
    // overlapping: every thread upserts the SAME keys 1..10 with conflict
    // validation on — each attempt wins or refuses, never silently loses
    val wins = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val refusals = new java.util.concurrent.atomic.AtomicInteger(0)
    race { (t, c) =>
      val payload = s"o$t-$c"
      val df = (1L to 10L).map(k => (k, payload)).toDF("k", "v")
      try wins.put(Snapshots.commitMergeKeyedWithRetry(df,
        df.select("k").limit(0), root, Seq("k")), payload)
      catch { case _: Snapshots.MergeConflictException => refusals.incrementAndGet() }
      ()
    }
    assert(wins.size + refusals.get == threads * perThread,
      s"attempts unaccounted: ${wins.size} wins + ${refusals.get} refusals")
    assert(!wins.isEmpty, "at least one overlapping merge must win")
    // the contested rows are exactly the last winner's payload (no torn mix)
    val lastWinner = wins.get(wins.keySet.asScala.max)
    val contested = Snapshots.read(spark, root).filter("k <= 10")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(contested == (1L to 10L).map(_ -> lastWinner),
      s"lost/torn update: expected all 10 rows = '$lastWinner'")
  }

  test("snapshots: commitMerge is one atomic upsert — replace, insert, delete; history intact") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapmerge").toString
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val id1 = Snapshots.commitAppend(base, root)
    // source: k=2 re-valued (match->replace), k=4 new (insert),
    // k=3 delete-marked (pure delete), k=9 delete of an absent key (no-op)
    val src = Seq((2L, "B2"), (4L, "d"), (3L, "x"), (9L, "x"))
      .toDF("k", "v")
    val id2 = Snapshots.commitMerge(src, root, "k",
      Some(col("k") === 3L || col("k") === 9L))
    assert(id2 == id1 + 1, "MERGE is ONE commit")
    val got = Snapshots.read(spark, root).as[(Long, String)]
      .collect().toSet
    assert(got == Set((1L, "a"), (2L, "B2"), (4L, "d")),
      s"merged state wrong: $got")
    // time travel to the pre-merge base: merge atomicity, history intact
    assert(Snapshots.read(spark, root, Some(id1)).count() == 3L)
    // a second merge reuses the fixed delete key; mismatched key throws
    intercept[IllegalArgumentException] {
      Snapshots.commitMerge(Seq((5L, "e")).toDF("k2", "v"), root, "k2")
    }
  }

  test("snapshots: file-skipping stats — pruned read == filtered read, stats survive later commits") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstats").toString
    Snapshots.commitAppendStats(
      Seq((1L, "a"), (5L, "b")).toDF("k", "v"), root, "k")
    Snapshots.commitAppendStats(
      Seq((10L, "c"), (20L, "d")).toDF("k", "v"), root, "k")
    // stats-less dir: must always be read
    Snapshots.commitAppend(Seq((3L, "e")).toDF("k", "v"), root)
    // a delete commit must PRESERVE earlier dirs' stats in its manifest
    Snapshots.commitDelete(Seq(Tuple1(5L)).toDF("k"), root, "k")
    assert(Snapshots.current(spark, root).get.stats.size == 2,
      "stats lines must ride every child manifest")
    def pruned(lo: Long, hi: Long) =
      Snapshots.scan(spark, root, Where.Range("k", lo, hi)).frame
        .as[(Long, String)].collect().toSet
    // skip the [10,20] dir entirely; the stats-less dir is still read
    assert(counts(Snapshots.scan(spark, root,
      Where.Range("k", 1L, 6L))) == ((2, 1)))
    assert(pruned(1L, 6L) == Set((1L, "a"), (3L, "e"))) // 5 deleted
    // disjoint-everything predicate: zero dirs with stats match, the
    // stats-less dir filters to nothing — empty frame, correct schema
    assert(Snapshots.scan(spark, root,
      Where.Range("k", 100L, 200L)).frame.count() == 0L)
    // pruned == full filtered read for every window (the semantics gate)
    for ((lo, hi) <- Seq((1L, 6L), (4L, 12L), (1L, 50L), (15L, 25L))) {
      val full = Snapshots.read(spark, root)
        .filter(col("k").between(lo, hi)).as[(Long, String)].collect().toSet
      assert(pruned(lo, hi) == full, s"pruned != filtered for [$lo,$hi]")
    }
    // rewrite materializes into ONE dir and RECOMPUTES the table's
    // stats columns on it (round-16): skipping survives compaction
    Snapshots.commitRewrite(spark, root)
    val postRw = Snapshots.current(spark, root).get.stats
    assert(postRw.size == 1 && postRw.values.head.contains("k"),
      s"rewrite must re-derive stats on the rewritten dir: $postRw")
    // surviving rows are k in {1,3,10,20} -> the one dir spans [1,20]:
    // an in-range read opens it, a disjoint range skips the whole table
    assert(counts(Snapshots.scan(spark, root,
      Where.Range("k", 1L, 6L))) == ((1, 0)))
    assert(pruned(1L, 6L) == Set((1L, "a"), (3L, "e")))
    assert(counts(Snapshots.scan(spark, root,
      Where.Range("k", 100L, 200L))) == ((0, 1)))
    assert(Snapshots.scan(spark, root,
      Where.Range("k", 100L, 200L)).frame.count() == 0L)
  }

  test("snapshots: stats survive MERGE commits and mixed-column tables stay readable (round-16)") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstats16").toString
    // multi-column stats: one manifest line per (dir, column)
    Snapshots.commitAppendStats(
      Seq((1L, 100L, "a"), (5L, 500L, "b")).toDF("k", "ts", "v"),
      root, Seq("k", "ts"), None)
    Snapshots.commitAppendStats(
      Seq((10L, 1000L, "c"), (20L, 2000L, "d")).toDF("k", "ts", "v"),
      root, Seq("k", "ts"), None)
    assert(counts(Snapshots.scan(spark, root,
      Where.Range("k", 1L, 6L))) == ((1, 1)))
    assert(counts(Snapshots.scan(spark, root,
      Where.Range("ts", 1500L, 3000L))) == ((1, 1)))
    // MERGE maintains the established stats columns on its payload dir:
    // replace k=5, insert k=30 -> payload dir spans k [5,30], ts [550,3000]
    Snapshots.commitMerge(
      Seq((5L, 550L, "B"), (30L, 3000L, "e")).toDF("k", "ts", "v"),
      root, "k")
    val st = Snapshots.current(spark, root).get.stats
    assert(st.size == 3 && st.values.forall(m => m.contains("k") && m.contains("ts")),
      s"merge payload dir must carry stats on every established column: $st")
    // the merged dir spans [5,30]: a low-range probe skips it AND dir 2
    assert(counts(Snapshots.scan(spark, root,
      Where.Range("k", 1L, 4L))) == ((1, 2)))
    // pruned == filtered on the merged state, for both stats columns
    for ((c, lo, hi) <- Seq(("k", 1L, 6L), ("k", 25L, 40L), ("ts", 1L, 600L))) {
      val full = Snapshots.read(spark, root)
        .filter(col(c).between(lo, hi)).as[(Long, Long, String)].collect().toSet
      val prn = Snapshots.scan(spark, root, Where.Range(c, lo, hi)).frame
        .as[(Long, Long, String)].collect().toSet
      assert(prn == full, s"pruned != filtered for $c [$lo,$hi]")
    }
    // a column NO dir has stats on: never skipped, never an error (the
    // round-15 behavior threw on mismatched stats columns)
    assert(counts(Snapshots.scan(spark, root,
      Where.Range("v", 1L, 2L))) == ((3, 0)))
    // all-null stats column under the STRICT append contract: loud, and
    // the just-written dir is cleaned up (no orphan for vacuum)
    intercept[RuntimeException] {
      Snapshots.commitAppendStats(
        Seq((Option.empty[java.lang.Long], 1L, "x"))
          .toDF("k", "ts", "v").withColumn("k", lit(null).cast("long")),
        root, "k")
    }
    assert(Snapshots.vacuum(spark, root, tmpGraceMs = 0L).isEmpty,
      "failed strict-stats append must not leave an orphan dir")
  }

  test("snapshots: position deletes — keyless row masking, sequence-scoped, compose with equality deletes") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snappos").toString
    // NO key column fixed anywhere before the equality leg: position
    // deletes must work on a keyless table
    val id1 = Snapshots.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"), root)
    val id2 = Snapshots.commitAppend(
      Seq((5L, "e"), (6L, "f")).toDF("k", "v"), root)
    // address the doomed rows physically (k even), across both dirs
    val doomed = Snapshots.readWithPos(spark, root)
      .filter(col("k") % 2 === 0).select("_dir", "_file", "_pos")
    assert(doomed.count() == 3L)
    val id3 = Snapshots.commitDeletePositions(doomed, root)
    def ks(id: Option[Long] = None) =
      Snapshots.read(spark, root, id).as[(Long, String)].collect().map(_._1).toSet
    assert(ks() == Set(1L, 3L, 5L), s"evens must be masked: ${ks()}")
    // time travel before the position delete sees every row
    assert(ks(Some(id2)) == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // a later append is untouched by the earlier position delete, even
    // if its rows land at the same ordinals
    Snapshots.commitAppend(Seq((8L, "h")).toDF("k", "v"), root)
    assert(ks() == Set(1L, 3L, 5L, 8L))
    // equality deletes COMPOSE: delete k=3 by key; both masks apply
    Snapshots.commitDelete(Seq(Tuple1(3L)).toDF("k"), root, "k")
    assert(ks() == Set(1L, 5L, 8L))
    // a Range scan masks position deletes too (2 and 4 in range, masked)
    assert(Snapshots.scan(spark, root, Where.Range("k", 1L, 4L)).frame
      .as[(Long, String)].collect().map(_._1).toSet == Set(1L))
    // changesBetween across a pos-delete interval: exact-diff fallback
    val ch = Snapshots.changesBetween(spark, root, id2, id3)
      .as[(String, Long, String)].collect().toSet
    assert(ch == Set(("D", 2L, "b"), ("D", 4L, "d"), ("D", 6L, "f")),
      s"pos-delete interval must diff exactly: $ch")
    // rewrite materializes: content stable, BOTH backlogs cleared, and
    // vacuum (after expire) reclaims the posdelete dir
    Snapshots.commitRewrite(spark, root)
    assert(ks() == Set(1L, 5L, 8L))
    val cur = Snapshots.current(spark, root).get
    assert(cur.posDeleteDirs.isEmpty && cur.deleteDirs.isEmpty)
    Snapshots.expire(spark, root, keepLast = 1)
    val vac = Snapshots.vacuum(spark, root, tmpGraceMs = 0L)
      .map(Snapshots.canonicalDir)
    assert(vac.contains(s"posdelete/delta-$id3"),
      s"vacuum must reclaim the expired posdelete dir: $vac")
    assert(ks() == Set(1L, 5L, 8L), "post-GC read stability")
    // addresses of already-deleted rows are legal no-ops
    val again = Snapshots.readWithPos(spark, root).filter(col("k") === 1L)
      .select("_dir", "_file", "_pos")
    Snapshots.commitDeletePositions(again, root)
    Snapshots.commitDeletePositions(again, root) // same address twice
    assert(ks() == Set(5L, 8L))
  }

  test("scd2 from snapshot history: opens, supersedes, closes, reinserts — exact validity intervals") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("scd2h").toString
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    Snapshots.commitMergeKeyed(Seq((1L, "a2")).toDF("k", "v"),
      spark.emptyDataset[Long].toDF("k"), root, "k") // supersede key 1
    Snapshots.commitDelete(Seq(Tuple1(2L)).toDF("k"), root, "k")
    Snapshots.commitAppend(Seq((2L, "b2")).toDF("k", "v"), root) // reinsert
    val got = Snapshots.scd2History(spark, root, "k")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got == Set(
      (1L, "a", 1L, 2L),   // opened at v1, superseded at v2
      (1L, "a2", 2L, -1L), // current
      (2L, "b", 1L, 3L),   // closed by the v3 delete
      (2L, "b2", 4L, -1L)), // reinserted, current
      s"intervals: $got")
    // current rows of the dimension == the table's current state
    val cur = got.filter(_._4 == -1L).map(t => (t._1, t._2))
    assert(cur == Snapshots.read(spark, root)
      .as[(Long, String)].collect().toSet)
  }

  test("materialized view: incremental refresh == full recompute through appends, deletes, merges; touched-groups-only writes") {
    import graft.ops.{MaterializedView, Snapshots}
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("mvsrc").toString
    val mv = java.nio.file.Files.createTempDirectory("mvview").toString
    def recompute() = Snapshots.read(spark, src)
      .groupBy("g").agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"))
      .as[(String, Long, Long)].collect().toSet
    def view() = Snapshots.read(spark, mv)
      .as[(String, Long, Long)].collect().toSet
    def fresh() = MaterializedView.refresh(spark, src, mv, "g", Seq("v"))
    // bootstrap
    Snapshots.commitAppend(Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 5L))
      .toDF("g", "k", "v"), src)
    fresh()
    assert(view() == recompute() && view() == Set(("a", 2L, 30L), ("b", 1L, 5L)))
    // no-op refresh: same MV snapshot id
    assert(fresh() == fresh())
    // append touching ONE group: the refresh's data dir holds only it
    Snapshots.commitAppend(Seq(("b", 4L, 7L)).toDF("g", "k", "v"), src)
    fresh()
    assert(view() == recompute())
    val lastDir = Snapshots.current(spark, mv).get.dataDirs.last
    val written = spark.read.parquet(s"$mv/$lastDir")
      .as[(String, Long, Long)].collect().toSeq
    assert(written == Seq(("b", 2L, 12L)),
      s"refresh must write only touched groups: $written")
    // delete shrinks a group; deleting a group's last row removes it
    Snapshots.commitDelete(Seq(Tuple1(2L)).toDF("k"), src, "k")
    fresh()
    assert(view() == recompute() && view().exists(_ == ("a", 1L, 10L)))
    Snapshots.commitDelete(Seq(Tuple1(1L)).toDF("k"), src, "k")
    fresh()
    assert(view() == recompute())
    assert(!view().exists(_._1 == "a"), "zero-count groups must vanish")
    // a MERGE moves a row across groups: both groups adjust
    Snapshots.commitMergeKeyed(Seq(("c", 3L, 5L)).toDF("g", "k", "v"),
      spark.emptyDataset[Long].toDF("k"), src, "k")
    fresh()
    assert(view() == recompute() &&
      view() == Set(("b", 1L, 7L), ("c", 1L, 5L)))
    // several source commits folded by ONE refresh
    Snapshots.commitAppend(Seq(("d", 9L, 1L)).toDF("g", "k", "v"), src)
    Snapshots.commitDelete(Seq(Tuple1(4L)).toDF("k"), src, "k")
    fresh()
    assert(view() == recompute() && view() == Set(("c", 1L, 5L), ("d", 1L, 1L)))
    // watermark rides tags: survives a reader re-resolving from scratch
    assert(MaterializedView.lastRefreshedSrcId(spark, mv) ==
      Snapshots.current(spark, src).get.id)
  }

  test("snapshots: write-audit-publish branches — staged invisible to main, atomic fast-forward, drop+vacuum") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapwap").toString
    val base = Snapshots.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    def mainKs = Snapshots.read(spark, root)
      .as[(Long, String)].collect().map(_._1).toSet
    // stage two appends on a branch; main must be bitwise unaffected —
    // including through roll-forward (the staged id IS main.id + 1)
    val s1 = Snapshots.wapStage(Seq((3L, "c")).toDF("k", "v"), root, "audit")
    assert(s1 == base + 1, "staged snapshot takes the next global id")
    assert(Snapshots.current(spark, root).get.id == base,
      "roll-forward must skip staged snapshots")
    assert(mainKs == Set(1L, 2L))
    val s2 = Snapshots.wapStage(Seq((4L, "d")).toDF("k", "v"), root, "audit",
      tag = Some("t2"))
    // tag idempotence along the branch chain
    assert(Snapshots.wapStage(Seq((99L, "x")).toDF("k", "v"), root, "audit",
      tag = Some("t2")) == s2)
    // the audit's view: base + both staged appends
    assert(Snapshots.readBranch(spark, root, "audit")
      .as[(Long, String)].collect().map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    // degradation safety: with the pointer gone, the max retained id is
    // the STAGED head — main must still resolve to the unmarked base
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_CURRENT"), false)
    assert(Snapshots.current(spark, root).get.id == base,
      "degradation scan must never promote an unaudited staged head")
    // publish: one atomic fast-forward; time travel to pre-publish main
    // still reads the clean history; a replayed publish is idempotent
    val pub = Snapshots.wapPublish(spark, root, "audit")
    assert(mainKs == Set(1L, 2L, 3L, 4L))
    assert(Snapshots.read(spark, root, Some(base))
      .as[(Long, String)].collect().map(_._1).toSet == Set(1L, 2L))
    assert(Snapshots.wapPublish(spark, root, "audit") == pub)
    // a branch forked BEFORE main moved cannot publish afterwards
    Snapshots.wapStage(Seq((5L, "e")).toDF("k", "v"), root, "stale")
    Snapshots.commitAppend(Seq((6L, "f")).toDF("k", "v"), root)
    intercept[IllegalArgumentException] {
      Snapshots.wapPublish(spark, root, "stale")
    }
    // expire never reaps staged manifests; branchDrop + vacuum reclaims
    // the staged-only dir while published dirs stay referenced
    Snapshots.expire(spark, root, keepLast = 1)
    assert(Snapshots.branchHead(spark, root, "stale").isDefined,
      "expire must leave open branches alone")
    val staleDir = Snapshots.branchHead(spark, root, "stale").get
      .dataDirs.filterNot(Snapshots.current(spark, root).get.dataDirs.toSet)
    Snapshots.branchDrop(spark, root, "stale")
    val vac = Snapshots.vacuum(spark, root, tmpGraceMs = 0L)
    assert(staleDir.forall(vac.contains),
      s"dropped staged dirs must be vacuumed: $staleDir vs $vac")
    assert(mainKs == Set(1L, 2L, 3L, 4L, 6L), "post-GC read stability")
  }

  test("snapshots: schema ops apply to published WAP dirs; rename onto a live column refused (round-17)") {
    import graft.ops.Snapshots
    import graft.validate.Checks._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapwapevo").toString
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    // a checked commit routes through stage→audit→publish, so its dir
    // is WAP-staged; the r16 naming (delta-wap-<nonce>) made every
    // later rename SKIP it — its rows kept the old physical name and
    // unionByName split one logical column into two null-interleaved
    // ones. Staged dirs now carry the fork base's id and order like
    // any other dir.
    Snapshots.commitAppendChecked(
      Seq((3L, "c"), (4L, "d")).toDF("k", "v"), root,
      Seq(Complete("v", 10000L)))
    Snapshots.commitRenameColumn(spark, root, "v", "val")
    val got = Snapshots.read(spark, root)
      .select("k", "val").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      s"rename must reach the published WAP dir, got $got")
    assert(Snapshots.read(spark, root).columns.toSeq == Seq("k", "val"))
    // and a drop reaches it too
    val root2 = java.nio.file.Files.createTempDirectory("snapwapevo2").toString
    Snapshots.commitAppend(Seq((1L, "a", 9L)).toDF("k", "v", "extra"), root2)
    Snapshots.commitAppendChecked(
      Seq((2L, "b", 8L)).toDF("k", "v", "extra"), root2,
      Seq(Complete("v", 10000L)))
    Snapshots.commitDropColumn(spark, root2, "extra")
    assert(Snapshots.read(spark, root2).columns.toSeq == Seq("k", "v"))
    // WAP staged-then-published via the explicit flow as well
    val s1 = Snapshots.wapStage(Seq((5L, "e")).toDF("k", "v"), root2, "b1")
    assert(s1 > 0)
    Snapshots.wapPublish(spark, root2, "b1")
    Snapshots.commitRenameColumn(spark, root2, "v", "val")
    assert(Snapshots.read(spark, root2)
      .select("k", "val").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (5L, "e")))
    // rename ONTO a live column is refused (Iceberg semantics): dirs
    // holding only `from` would conflate two distinct columns
    Snapshots.commitAppend(Seq((6L, "f", 1L)).toDF("k", "val", "n"), root2)
    intercept[IllegalArgumentException] {
      Snapshots.commitRenameColumn(spark, root2, "val", "n")
    }
    // renaming a never-appended name is a legal no-op commit
    Snapshots.commitRenameColumn(spark, root2, "ghost", "ghost2")
    assert(Snapshots.read(spark, root2).count() == 4)
  }

  test("snapshots: OPTIMIZE — rewrite preserves hidden layout, converges evolved specs, clustered split is range-disjoint (round-17)") {
    import graft.ops.Snapshots
    import graft.ops.Snapshots.TruncateTransform
    import spark.implicits._
    // 1) hidden-partitioned table: a bare rewrite must keep per-value
    // dirs + synthetic stats, fold the delete backlog, and keep pruning
    val root = java.nio.file.Files.createTempDirectory("snapopt").toString
    val t10 = TruncateTransform("v", 10L)
    Snapshots.commitAppendHidden(
      Seq((1L, Some(5L)), (2L, Some(15L)), (3L, Some(25L)),
        (4L, Some(7L)), (5L, None)).toDF("k", "v"), root, t10)
    Snapshots.commitDelete(Seq(Tuple1(4L)).toDF("k"), root, "k")
    Snapshots.commitRewrite(spark, root)
    val cur = Snapshots.current(spark, root).get
    assert(cur.deleteDirs.isEmpty && cur.posDeleteDirs.isEmpty,
      "rewrite must fold the delete backlog")
    // values {0,1,2} + the null-value dir survive as separate dirs
    assert(cur.dataDirs.size == 4,
      s"per-value dirs must survive the rewrite, got ${cur.dataDirs}")
    // pruning still works: [0,9] opens value-0 + the null dir only
    assert(counts(Snapshots.scan(spark, root,
      Where.Hidden(t10, Where.Range("v", 0L, 9L)))) == ((2, 2)))
    assert(Snapshots.scan(spark, root,
      Where.Hidden(t10, Where.Range("v", 0L, 9L))).frame
      .select("k").as[Long].collect().toSet == Set(1L))
    assert(Snapshots.read(spark, root).select("k").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 5L), "rewrite lossless")
    // 2) evolved spec: later commits under a WIDER transform; the
    // rewrite converges the WHOLE table to the newest spec
    val t100 = TruncateTransform("v", 100L)
    Snapshots.commitAppendHidden(
      Seq((6L, Some(105L)), (7L, Some(205L))).toDF("k", "v"), root, t100)
    Snapshots.commitRewrite(spark, root)
    val cur2 = Snapshots.current(spark, root).get
    // t100 values: {0 (5,15,25), 1 (105), 2 (205)} + null dir
    assert(cur2.dataDirs.size == 4, s"convergence: ${cur2.dataDirs}")
    assert(cur2.dataDirs.forall(d => cur2.stats.get(d).forall(m =>
      m.keys.forall(!_.startsWith("__pt_trunc_10_")))),
      "old-spec synthetic stats must not survive the converging rewrite")
    assert(counts(Snapshots.scan(spark, root,
      Where.Hidden(t100, Where.Range("v", 100L, 199L)))) == ((2, 2)))
    assert(Snapshots.scan(spark, root,
      Where.Hidden(t100, Where.Range("v", 100L, 199L))).frame
      .select("k").as[Long].collect().toSet == Set(6L))
    // 3) clustered rewrite of a plain table: explicit parts → that many
    // range-disjoint dirs, stats on the sort key, point probe opens 1
    val root2 = java.nio.file.Files.createTempDirectory("snapopt2").toString
    val n = 97
    Snapshots.commitAppendBloom(
      (1L to n).map(i => (i, s"v$i")).toDF("k", "v"), root2,
      bloomCol = "k", statsCols = Seq("k"))
    Snapshots.commitDelete(
      (1L to n).filter(_ % 10 == 0).map(Tuple1(_)).toDF("k"), root2, "k")
    Snapshots.commitRewriteClustered(spark, root2, Seq("k"), parts = 4)
    val c3 = Snapshots.current(spark, root2).get
    assert(c3.dataDirs.size == 4, s"explicit parts: ${c3.dataDirs}")
    // every dir carries k-stats; ranges are pairwise disjoint
    val ranges = c3.dataDirs.map(d => c3.stats(d)("k")).sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"clustered dirs must be range-disjoint: $ranges")
    // a point probe opens exactly one dir (range stats + rebuilt bloom)
    assert(counts(Snapshots.scan(spark, root2,
      Where.Range("k", 42L, 42L))) == ((1, 3)))
    assert(counts(Snapshots.scan(spark, root2,
      Where.Point("k", 42L))) == ((1, 3)))
    assert(Snapshots.scan(spark, root2, Where.Point("k", 42L)).frame
      .select("v").as[String].collect().toSeq == Seq("v42"))
    // lossless: full read equals the undeleted key set
    assert(Snapshots.read(spark, root2).select("k").as[Long].collect().toSet
      == (1L to n).filterNot(_ % 10 == 0).toSet)
    // byte-target form: targetBytes covering everything → one dir
    Snapshots.commitRewrite(spark, root2, Seq("k"), targetBytes = 1L << 30)
    assert(Snapshots.current(spark, root2).get.dataDirs.size == 1)
    assert(Snapshots.read(spark, root2).count() == (n - n / 10))
  }

  test("snapshots: string stats bounds — truncated byte bounds prune, survive rename/merge/rewrite, edge cases sound (round-17)") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstr").toString
    // three dirs with disjoint id prefixes + one stats-less dir
    Snapshots.commitAppendStats(
      Seq(("apple", 1L), ("avocado", 2L)).toDF("id", "v"), root,
      Seq("id"), None)
    Snapshots.commitAppendStats(
      Seq(("mango", 3L), ("melon", 4L)).toDF("id", "v"), root,
      Seq("id"), None)
    Snapshots.commitAppendStats(
      Seq(("xigua", 5L), ("yuzu", 6L)).toDF("id", "v"), root,
      Seq("id"), None)
    Snapshots.commitAppend(Seq(("kiwi", 7L)).toDF("id", "v"), root)
    assert(counts(Snapshots.scan(spark, root,
      Where.StrRange("id", "a", "az"))) == ((2, 2)))
    assert(Snapshots.scan(spark, root, Where.StrRange("id", "a", "az")).frame
      .select("id").as[String].collect().toSet == Set("apple", "avocado"))
    // out-of-range probe: only the stats-less dir opens, zero rows
    assert(counts(Snapshots.scan(spark, root,
      Where.StrRange("id", "zz", "zzz"))) == ((1, 3)))
    assert(Snapshots.scan(spark, root,
      Where.StrRange("id", "zz", "zzz")).frame.count() == 0)
    // deletes compose (string delete key), and a rename REMAPS bounds
    Snapshots.commitDelete(Seq(Tuple1("melon")).toDF("id"), root, "id")
    assert(Snapshots.scan(spark, root, Where.StrRange("id", "m", "n")).frame
      .select("id").as[String].collect().toSeq == Seq("mango"))
    // TRUNCATION soundness: >16-byte keys sharing a 16-byte prefix must
    // never be skipped by a probe inside the shared-prefix range — the
    // upper bound is a prefix-SUCCESSOR, the lower a prefix
    val root2 = java.nio.file.Files.createTempDirectory("snapstr2").toString
    val longA = "PREFIX-0123456789-AAAAAA" // 16-byte prefix "PREFIX-012345678"
    val longB = "PREFIX-0123456789-BBBBBB"
    Snapshots.commitAppendStats(
      Seq((longA, 1L), (longB, 2L)).toDF("id", "v"), root2, Seq("id"), None)
    // probe equal to a full key (longer than the truncated bound): must open
    assert(counts(Snapshots.scan(spark, root2,
      Where.StrRange("id", longA, longA))) == ((1, 0)))
    assert(Snapshots.scan(spark, root2,
      Where.StrRange("id", longA, longA)).frame
      .count() == 1)
    // probe past the shared prefix: rightly skipped
    assert(counts(Snapshots.scan(spark, root2,
      Where.StrRange("id", "Q", "R"))) == ((0, 1)))
    // empty-string and non-ASCII values round the manifest safely
    val root3 = java.nio.file.Files.createTempDirectory("snapstr3").toString
    Snapshots.commitAppendStats(
      Seq(("", 1L), ("ééééééééééé", 2L)).toDF("id", "v"), root3,
      Seq("id"), None) // 11 é = 22 UTF-8 bytes > 16: truncated upper
    assert(counts(Snapshots.scan(spark, root3,
      Where.StrRange("id", "", "zz"))) == ((1, 0)))
    assert(Snapshots.scan(spark, root3, Where.StrRange("id", "é", "éż")).frame
      .select("v").as[Long].collect().toSeq == Seq(2L))
    // bloom point lookups on a string key; merge keeps sstats on its
    // payload dir; clustered rewrite on a STRING sort key re-records
    // per-dir string bounds
    val root4 = java.nio.file.Files.createTempDirectory("snapstr4").toString
    val rows = (1 to 60).map(i => (f"DOC-$i%04d", i.toLong))
    for (g <- 0 until 3)
      Snapshots.commitAppendBloom(
        rows.filter(_._2 % 3 == g).toDF("id", "v"), root4,
        bloomCol = "id", statsCols = Seq("id"))
    // ranges of the three mod-class dirs overlap fully: only the bloom
    // can skip, and it does for an absent key
    assert(counts(Snapshots.scan(spark, root4,
      Where.StrPoint("id", "DOC-9999"))) == ((0, 3)))
    val hit = counts(Snapshots.scan(spark, root4,
      Where.StrPoint("id", "DOC-0042")))
    assert(hit._1 >= 1 && hit._1 <= 2, s"bloom fp budget: $hit")
    assert(Snapshots.scan(spark, root4, Where.StrPoint("id", "DOC-0042")).frame
      .select("v").as[Long].collect().toSeq == Seq(42L))
    Snapshots.commitMerge(
      Seq(("DOC-0042", 420L), ("DOC-0061", 61L)).toDF("id", "v"),
      root4, "id")
    val merged = Snapshots.current(spark, root4).get
    assert(merged.sstats.contains(merged.dataDirs.last),
      "merge payload dir must carry string bounds")
    Snapshots.commitRewriteClustered(spark, root4, Seq("id"), parts = 3)
    val cr = Snapshots.current(spark, root4).get
    assert(cr.dataDirs.size == 3 &&
      cr.dataDirs.forall(d => cr.sstats.get(d).exists(_.contains("id"))),
      "clustered string rewrite must record per-dir bounds")
    assert(counts(Snapshots.scan(spark, root4,
      Where.StrRange("id", "DOC-0001", "DOC-0005")))
      ._2 == 2, "post-rewrite string pruning must skip the other dirs")
    assert(Snapshots.scan(spark, root4, Where.StrPoint("id", "DOC-0042")).frame
      .select("v").as[Long].collect().toSeq == Seq(420L))
    // rename remaps string bounds to the new logical name
    Snapshots.commitRenameColumn(spark, root, "v", "val")
    assert(counts(Snapshots.scan(spark, root,
      Where.StrRange("id", "a", "az"))) == ((2, 2)))
  }

  test("snapshots: partition-spec evolution — each dir generation prunes under its own spec (round-17)") {
    import graft.ops.Snapshots
    import graft.ops.Snapshots.{BucketTransform, TruncateTransform}
    import spark.implicits._
    // bucket(4) generation then bucket(8): a point lookup opens the
    // value's residue dir in EACH generation
    val root = java.nio.file.Files.createTempDirectory("snapspec").toString
    Snapshots.commitAppendHidden(
      (1L to 20L).map(k => (k, s"a$k")).toDF("k", "v"), root,
      BucketTransform("k", 4))
    Snapshots.commitAppendHidden(
      (21L to 40L).map(k => (k, s"b$k")).toDF("k", "v"), root,
      BucketTransform("k", 8))
    val cur = Snapshots.current(spark, root).get
    assert(cur.dataDirs.size == 12, s"4 + 8 occupied buckets: ${cur.dataDirs}")
    // k=30: residue 2 mod 4 and 6 mod 8 — one dir per generation
    assert(counts(Snapshots.scan(spark, root,
      Where.Dnf.all(Where.Point("k", 30L)))) == ((2, 10)))
    assert(Snapshots.scan(spark, root,
      Where.Dnf.all(Where.Point("k", 30L))).frame
      .select("v").as[String].collect().toSeq == Seq("b30"))
    // k=7 lives in generation 1 only; its gen-2 residue dir still opens
    // (pruning is per-dir contract, not content knowledge)
    assert(counts(Snapshots.scan(spark, root,
      Where.Dnf.all(Where.Point("k", 7L)))) == ((2, 10)))
    assert(Snapshots.scan(spark, root,
      Where.Dnf.all(Where.Point("k", 7L))).frame
      .select("v").as[String].collect().toSeq == Seq("a7"))
    // a range spanning >= 8 consecutive values admits every bucket
    assert(counts(Snapshots.scan(spark, root,
      Where.Dnf.all(Where.Range("k", 1L, 40L)))) == ((12, 0)))
    // a 2-value range admits 2 residues per generation
    assert(counts(Snapshots.scan(spark, root,
      Where.Dnf.all(Where.Range("k", 9L, 10L)))) == ((4, 8)))
    assert(Snapshots.scan(spark, root,
      Where.Dnf.all(Where.Range("k", 9L, 10L))).frame
      .select("k").as[Long].collect().toSet == Set(9L, 10L))
    // deletes mask across generations as everywhere
    Snapshots.commitDelete(Seq(Tuple1(30L)).toDF("k"), root, "k")
    assert(Snapshots.scan(spark, root,
      Where.Dnf.all(Where.Point("k", 30L))).frame.count() == 0)
    // truncate evolution: day-width then week-width generations; a
    // range probe opens matching days + matching weeks
    val root2 = java.nio.file.Files.createTempDirectory("snapspec2").toString
    Snapshots.commitAppendHidden(
      Seq((1L, 5L), (2L, 15L), (3L, 25L)).toDF("k", "t"), root2,
      TruncateTransform("t", 10L))
    Snapshots.commitAppendHidden(
      Seq((4L, 35L), (5L, 95L)).toDF("k", "t"), root2,
      TruncateTransform("t", 50L))
    // [0,9]: day-dir value 0 opens; week dirs 0 (t=35) opens, 1 (t=95) skips
    assert(counts(Snapshots.scan(spark, root2,
      Where.Dnf.all(Where.Range("t", 0L, 9L)))) == ((2, 3)))
    assert(Snapshots.scan(spark, root2,
      Where.Dnf.all(Where.Range("t", 0L, 9L))).frame
      .select("k").as[Long].collect().toSet == Set(1L))
    // [90,99]: only week dir 1
    assert(counts(Snapshots.scan(spark, root2,
      Where.Dnf.all(Where.Range("t", 90L, 99L)))) == ((1, 4)))
    assert(Snapshots.scan(spark, root2,
      Where.Dnf.all(Where.Range("t", 90L, 99L))).frame
      .select("k").as[Long].collect().toSet == Set(5L))
    // OPTIMIZE converges the mixed history to the newest spec and the
    // auto reads keep pruning (composition with s37)
    Snapshots.commitRewrite(spark, root2)
    val c2 = Snapshots.current(spark, root2).get
    assert(c2.dataDirs.size == 2, s"weeks 0 and 1: ${c2.dataDirs}")
    assert(counts(Snapshots.scan(spark, root2,
      Where.Dnf.all(Where.Range("t", 90L, 99L)))) == ((1, 1)))
    assert(Snapshots.scan(spark, root2,
      Where.Dnf.all(Where.Range("t", 0L, 29L))).frame
      .select("k").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("snapshots: compound equality-delete keys — composite masking, sequence rule, merge, CDC, guards (round-17)") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapmk").toString
    def df(rows: (Long, Long, Long)*) = rows.toDF("ok", "ln", "qty")
    val id1 = Snapshots.commitAppend(
      df((1L, 1L, 10L), (1L, 2L, 20L), (2L, 1L, 30L), (2L, 2L, 40L)), root)
    // composite delete: (1,1) must not take (1,2) or (2,1) with it
    Snapshots.commitDelete(
      Seq((1L, 1L)).toDF("ok", "ln"), root, Seq("ok", "ln"))
    def state = Snapshots.read(spark, root)
      .as[(Long, Long, Long)].collect().toSet
    assert(state == Set((1L, 2L, 20L), (2L, 1L, 30L), (2L, 2L, 40L)))
    // sequence rule: a re-insert of the deleted pair is visible
    Snapshots.commitAppend(df((1L, 1L, 11L)), root)
    assert(state == Set((1L, 1L, 11L), (1L, 2L, 20L), (2L, 1L, 30L),
      (2L, 2L, 40L)))
    // compound merge: replace (2,1), insert (3,1), pure-delete (2,2);
    // a key in both sets resolves to the upsert
    Snapshots.commitMergeKeyed(
      df((2L, 1L, 300L), (3L, 1L, 50L)),
      Seq((2L, 2L), (2L, 1L)).toDF("ok", "ln"),
      root, Seq("ok", "ln"))
    assert(state == Set((1L, 1L, 11L), (1L, 2L, 20L), (2L, 1L, 300L),
      (3L, 1L, 50L)))
    // CDC across the compound interval: the delete leg rehydrates by
    // the pair, the insert leg carries the upserts
    val cdc = Snapshots.changesBetween(spark, root, id1,
      Snapshots.current(spark, root).get.id)
    val dels = cdc.filter($"op" === "D")
      .select("ok", "ln").as[(Long, Long)].collect().toSet
    assert(dels == Set((1L, 1L), (2L, 1L), (2L, 2L)), s"delete leg: $dels")
    // guards: wrong key set refused; renaming/dropping a member refused
    intercept[IllegalArgumentException] {
      Snapshots.commitDelete(Seq(Tuple1(1L)).toDF("ok"), root, Seq("ok"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitRenameColumn(spark, root, "ln", "line")
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitDropColumn(spark, root, "ok")
    }
    // non-key columns still evolve; rewrite folds the compound backlog
    Snapshots.commitRenameColumn(spark, root, "qty", "quantity")
    Snapshots.commitRewrite(spark, root)
    val cur = Snapshots.current(spark, root).get
    assert(cur.deleteDirs.isEmpty && cur.deleteKey.contains("ok,ln"))
    assert(Snapshots.read(spark, root).columns.toSeq ==
      Seq("ok", "ln", "quantity"))
    assert(Snapshots.read(spark, root).count() == 4)
    // time travel before the compound delete still sees (1,1,10)
    assert(Snapshots.read(spark, root, Some(id1)).count() == 4)
  }

  test("snapshots: multi-dimensional hidden partitioning — tuple dirs, conjunctive pruning, rewrite preserves both axes (round-17)") {
    import graft.ops.Snapshots
    import graft.ops.Snapshots.{BucketTransform, TruncateTransform}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapmd").toString
    val dayT = TruncateTransform("t", 10L)
    val bT = BucketTransform("u", 4)
    // (t div 10, u mod 4) tuples: (0,1),(0,2),(1,1),(2,3) + a null-t row
    Snapshots.commitAppendHidden(
      Seq((1L, Some(5L), 1L), (2L, Some(7L), 2L), (3L, Some(15L), 5L),
        (4L, Some(25L), 3L), (5L, None, 1L)).toDF("k", "t", "u"),
      root, Seq(dayT, bT), None)
    val cur = Snapshots.current(spark, root).get
    assert(cur.dataDirs.size == 5, s"one dir per tuple + null: ${cur.dataDirs}")
    // each axis prunes independently...
    assert(counts(Snapshots.scan(spark, root,
      Where.Dnf.all(Where.Range("t", 0L, 9L)))) == ((3, 2)))
    assert(counts(Snapshots.scan(spark, root,
      Where.Dnf.all(Where.Range("u", 1L, 1L)))) == ((3, 2)))
    // ...and a conjunctive predicate prunes MULTIPLICATIVELY: day 0 AND
    // u=1 admits the (0,1) dir + the null-t dir (bucket 1) only
    val day0u1 = Snapshots.scan(spark, root,
      Where.Dnf.all(Where.Range("t", 0L, 9L), Where.Range("u", 1L, 1L)))
    assert(counts(day0u1) == ((2, 3)))
    assert(day0u1.frame.select("k").as[Long].collect().toSet == Set(1L))
    // deletes mask; rewrite preserves BOTH axes (tuple dirs + stats)
    Snapshots.commitDelete(Seq(Tuple1(2L)).toDF("k"), root, "k")
    Snapshots.commitRewrite(spark, root)
    val cur2 = Snapshots.current(spark, root).get
    // k=2's (0,2) tuple lost its only row — 4 surviving tuple dirs
    assert(cur2.dataDirs.size == 4, s"tuple layout must survive: ${cur2.dataDirs}")
    assert(cur2.deleteDirs.isEmpty)
    assert(counts(Snapshots.scan(spark, root, Where.Dnf.all(
      Where.Range("t", 0L, 9L), Where.Range("u", 2L, 2L)))) == ((0, 4)),
      "post-rewrite conjunctive pruning must hold on both axes " +
        "(the null-t dir still carries its bucket line)")
    assert(Snapshots.scan(spark, root, Where.Dnf.all(
      Where.Range("t", 0L, 29L), Where.Range("u", 1L, 5L))).frame
      .select("k").as[Long].collect().toSet == Set(1L, 3L, 4L))
    assert(Snapshots.read(spark, root).count() == 4)
  }

  test("snapshots: stale check-branch janitor — crash scaffolding reclaimed, live audits and named branches protected (round-17)") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapjan").toString
    Snapshots.commitAppend(Seq((1L, "a")).toDF("k", "v"), root)
    // simulate a crashed checked commit: a staged check-* branch whose
    // scaffold drop never ran, plus a LIVE named branch
    Snapshots.wapStage(Seq((2L, "b")).toDF("k", "v"), root, "check-dead1")
    Snapshots.wapStage(Seq((3L, "c")).toDF("k", "v"), root, "audit")
    val deadDirs = Snapshots.branchHead(spark, root, "check-dead1").get
      .dataDirs.filterNot(
        Snapshots.current(spark, root).get.dataDirs.toSet)
    // a generous grace protects everything (both branches are seconds old)
    assert(Snapshots.dropStaleBranches(spark, root).isEmpty)
    // grace 0: the check-* scaffold drops; the named branch survives
    assert(Snapshots.dropStaleBranches(spark, root, graceMs = 0L) ==
      Seq("check-dead1"))
    assert(Snapshots.branchHead(spark, root, "check-dead1").isEmpty)
    assert(Snapshots.branchHead(spark, root, "audit").isDefined)
    // vacuum reclaims the dropped scaffold's staged-only dir
    val vac = Snapshots.vacuum(spark, root, tmpGraceMs = 0L)
    assert(deadDirs.forall(vac.contains), s"$deadDirs vs $vac")
    // main unaffected throughout
    assert(Snapshots.read(spark, root).count() == 1)
  }

  test("snapshots: sampled scan — deterministic, nested by rate, dir-skipping, composes with deletes") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapsample").toString
    // three deltas, one sorted file each (stable ordinals)
    for (d <- 0 until 3)
      Snapshots.commitAppend(
        (0L until 40L).map(i => (d * 100L + i, s"v$d-$i")).toDF("k", "v")
          .repartition(1).sortWithinPartitions("k"), root)
    def ks(rowBp: Int, dirBp: Int) =
      Snapshots.readSampled(spark, root, rowBp, dirBp).frame
        .as[(Long, String)].collect().map(_._1).toSet
    val all = Snapshots.read(spark, root).as[(Long, String)]
      .collect().map(_._1).toSet
    // full rate ≡ read; schema + content
    assert(ks(10000, 10000) == all && all.size == 120)
    // deterministic replay
    assert(ks(3000, 10000) == ks(3000, 10000))
    // BERNOULLI: strict subset at 30%, NESTED in the 60% sample
    // (threshold draws), empty at rate 0
    val s30 = ks(3000, 10000); val s60 = ks(6000, 10000)
    assert(s30.nonEmpty && s30.size < all.size && s30.subsetOf(s60))
    assert(ks(0, 10000).isEmpty)
    // SYSTEM: surviving dirs are whole; counts agree with content
    val half = Snapshots.readSampled(spark, root, dirRateBp = 5000)
    val (opened, skipped) = counts(half)
    assert(opened + skipped == 3)
    val sys = half.frame.as[(Long, String)].collect().map(_._1).toSet
    assert(sys.size == opened * 40,
      s"system tier must keep whole dirs: ${sys.size} vs $opened dirs")
    // every dir skipped → empty frame in the table's schema
    val none = Snapshots.readSampled(spark, root, 10000, 0).frame
    assert(none.columns.toSeq == Seq("k", "v") && none.isEmpty)
    // deletes mask AFTER the draw: a sampled row that is deleted is gone
    val victim = s30.head
    Snapshots.commitDelete(Seq(Tuple1(victim)).toDF("k"), root, "k")
    assert(ks(3000, 10000) == s30 - victim)
    // a position delete composes the same way
    val victim2 = (s30 - victim).head
    Snapshots.commitDeletePositions(
      Snapshots.readWithPos(spark, root).filter(col("k") === victim2)
        .select("_dir", "_file", "_pos"), root)
    assert(ks(3000, 10000) == s30 - victim - victim2)
  }

  test("snapshots: bloom point-lookup skipping — one-sided error, survives merge/rewrite, degrades safely") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapbloom").toString
    // three bloom'd dirs with DISJOINT key sets + one bare dir
    Snapshots.commitAppendBloom(
      (1L to 50L).map(k => (k, s"a$k")).toDF("k", "v"), root, "k")
    Snapshots.commitAppendBloom(
      (100L to 150L).map(k => (k, s"b$k")).toDF("k", "v"), root, "k")
    Snapshots.commitAppendBloom(
      (200L to 250L).map(k => (k, s"c$k")).toDF("k", "v"), root, "k")
    Snapshots.commitAppend(
      Seq((300L, "bare")).toDF("k", "v"), root) // no bloom: always opened
    def point(v: Long) =
      Snapshots.scan(spark, root,
        Where.Point("k", v)).frame.as[(Long, String)].collect().toSet
    // a value in dir 2: dirs 1/3 bloom-skip, bare dir opens
    assert(counts(Snapshots.scan(spark, root,
      Where.Point("k", 120L))) == ((2, 2)))
    assert(point(120L) == Set((120L, "b120")))
    // a value absent everywhere: every bloom'd dir skips
    assert(counts(Snapshots.scan(spark, root,
      Where.Point("k", 999L))) == ((1, 3)))
    assert(point(999L).isEmpty)
    // ONE-SIDED error sweep: a Point scan == full filtered read for every
    // present key (a Bloom may open extra dirs, it may never lose a row)
    for (v <- Seq(1L, 50L, 100L, 150L, 200L, 250L, 300L)) {
      val full = Snapshots.read(spark, root).filter(col("k") === v)
        .as[(Long, String)].collect().toSet
      assert(point(v) == full, s"Point scan lost rows for k=$v")
    }
    // equality deletes still mask under point skipping
    Snapshots.commitDelete(Seq(Tuple1(120L)).toDF("k"), root, "k")
    assert(point(120L).isEmpty)
    // MERGE rebuilds the established bloom on its payload dir
    Snapshots.commitMerge(Seq((400L, "m")).toDF("k", "v"), root, "k")
    val merged = Snapshots.current(spark, root).get
    assert(merged.blooms.size == 4, s"merge payload must carry a bloom: ${merged.blooms}")
    assert(counts(Snapshots.scan(spark, root,
      Where.Point("k", 400L))) == ((2, 3)))
    assert(point(400L) == Set((400L, "m")))
    // REWRITE rebuilds the bloom on the single rewritten dir
    Snapshots.commitRewrite(spark, root)
    val rw = Snapshots.current(spark, root).get
    assert(rw.blooms.size == 1 && rw.blooms.values.head == Seq("k"))
    assert(counts(Snapshots.scan(spark, root,
      Where.Point("k", 999L))) == ((0, 1)))
    assert(point(200L) == Set((200L, "c200")))
    // a marked bloom whose sidecar vanished degrades to OPEN, not error
    val dirName = rw.blooms.keys.head
    val side = new org.apache.hadoop.fs.Path(root, s"$dirName/_bloom_k")
    side.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(side, false)
    assert(counts(Snapshots.scan(spark, root,
      Where.Point("k", 999L))) == ((1, 0)))
    assert(point(200L) == Set((200L, "c200")))
  }

  test("snapshots: commitMerge treats a NULL deleteFilter verdict as not-a-delete (round-16)") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapmergenull").toString
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    // the filter references v === "x" where v is null for k=2's source
    // row: pre-fix, that row vanished (neither upserted nor deleted)
    val src = Seq((2L, Option.empty[String]), (3L, Some("x")))
      .toDF("k", "v")
    Snapshots.commitMerge(src, root, "k", Some(col("v") === "x"))
    val got = Snapshots.read(spark, root).as[(Long, Option[String])]
      .collect().toSet
    assert(got == Set((1L, Some("a")), (2L, None)),
      s"null-verdict row must be UPSERTED, delete-marked row gone: $got")
  }

  test("snapshots: changesBetween — incremental over append/delete, exact-diff fallback across rewrite") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapcdc").toString
    val id1 = Snapshots.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root)
    val id2 = Snapshots.commitDelete(Seq(Tuple1(2L)).toDF("k"), root, "k")
    val id3 = Snapshots.commitAppend(
      Seq((4L, "d"), (2L, "b2")).toDF("k", "v"), root)
    def ops(df: org.apache.spark.sql.DataFrame): Set[(String, Long, String)] =
      df.select("op", "k", "v").as[(String, Long, String)].collect().toSet
    // incremental 1->3: delete of k=2 (visible at 1), inserts incl. the
    // re-inserted k=2 (D + I for a delete-then-reinsert — CDC granularity)
    val inc = ops(Snapshots.changesBetween(spark, root, id1, id3))
    assert(inc == Set(("D", 2L, "b"), ("I", 4L, "d"), ("I", 2L, "b2")),
      s"incremental changes wrong: $inc")
    // bootstrap 0->2: everything visible at 2 as inserts
    val boot = ops(Snapshots.changesBetween(spark, root, 0L, id2))
    assert(boot == Set(("I", 1L, "a"), ("I", 3L, "c")), s"bootstrap wrong: $boot")
    // rewrite rebases the entry list -> the same logical interval must
    // fall back to the exact multiset diff and give the SAME answer
    val id4 = Snapshots.commitRewrite(spark, root)
    val id5 = Snapshots.commitAppend(Seq((5L, "e")).toDF("k", "v"), root)
    val fall = ops(Snapshots.changesBetween(spark, root, id1, id5))
    assert(fall == Set(("D", 2L, "b"), ("I", 4L, "d"), ("I", 2L, "b2"), ("I", 5L, "e")),
      s"fallback diff wrong: $fall")
    // crossing only the rewrite is a logical no-op: zero changes
    assert(ops(Snapshots.changesBetween(spark, root, id3, id4)).isEmpty,
      "rewrite must read as zero row-level changes")
  }

  test("snapshots: rollback — target state restored, history preserved, non-ancestors refused (round-16)") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snaprb").toString
    val id1 = Snapshots.commitAppendStats(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root, "k")
    val id2 = Snapshots.commitDelete(Seq(Tuple1(2L)).toDF("k"), root, "k")
    def ks(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("k").as[Long].collect().toSet
    assert(ks(Snapshots.read(spark, root)) == Set(1L, 3L))
    // rollback undoes the delete: the target's FULL state is back
    val rb = Snapshots.rollbackTo(spark, root, id1)
    assert(rb == id2 + 1)
    assert(ks(Snapshots.read(spark, root)) == Set(1L, 2L, 3L))
    // history preserved: the rolled-over delete snapshot still reads
    assert(ks(Snapshots.read(spark, root, Some(id2))) == Set(1L, 3L))
    // stats ride the rollback manifest: pruning still works on the head
    val (opened, skipped) = counts(Snapshots.scan(spark, root,
      Where.Range("k", 99L, 100L)))
    assert(opened == 0 && skipped == 1, s"stats lost: $opened/$skipped")
    // commits continue on top; rollback-of-rollback returns to the
    // intermediate (post-delete) state
    Snapshots.commitAppend(Seq((4L, "d")).toDF("k", "v"), root)
    assert(ks(Snapshots.read(spark, root)) == Set(1L, 2L, 3L, 4L))
    Snapshots.rollbackTo(spark, root, id2)
    assert(ks(Snapshots.read(spark, root)) == Set(1L, 3L))
    // tag idempotence: a crash-replayed rollback returns the same id
    val t1 = Snapshots.rollbackTo(spark, root, id1, Some("rb-once"))
    assert(Snapshots.rollbackTo(spark, root, id1, Some("rb-once")) == t1)
    // a staged branch head is NOT an ancestor of main — refused
    Snapshots.wapStage(Seq((9L, "z")).toDF("k", "v"), root, "audit")
    val staged = Snapshots.branchHead(spark, root, "audit").get.id
    intercept[IllegalArgumentException] {
      Snapshots.rollbackTo(spark, root, staged)
    }
    // vacuum after rollback reclaims nothing the head references
    Snapshots.branchDrop(spark, root, "audit")
    Snapshots.vacuum(spark, root, tmpGraceMs = 0L)
    assert(ks(Snapshots.read(spark, root)) == Set(1L, 2L, 3L))
  }

  test("snapshots: metadata-only rename/drop — name mapping, skipping survives, re-add safe (round-16)") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapevo").toString
    val id1 = Snapshots.commitAppendBloom(
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "x"),
      root, bloomCol = "v", statsCols = Seq("v"))
    Snapshots.commitRenameColumn(spark, root, "v", "value")
    // an append under the NEW name; both generations unify
    Snapshots.commitAppendBloom(
      Seq((3L, 30L, "c")).toDF("k", "value", "x"),
      root, bloomCol = "value", statsCols = Seq("value"))
    val rows = Snapshots.read(spark, root)
      .select("k", "value", "x").as[(Long, Long, String)].collect().toSet
    assert(rows == Set((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")))
    // time travel to before the rename: the ORIGINAL name
    assert(Snapshots.read(spark, root, Some(id1)).columns.toSeq ==
      Seq("k", "v", "x"))
    // range stats were remapped: pruning on the NEW name skips the old dir
    assert(counts(Snapshots.scan(spark, root,
      Where.Range("value", 25L, 40L))) == ((1, 1)))
    // bloom skipping on the NEW name consults the old dir's physical
    // sidecar (_bloom_v): value=10 opens dir1 only (ranges exclude dir2)
    assert(counts(Snapshots.scan(spark, root,
      Where.Point("value", 10L))) == ((1, 1)))
    assert(Snapshots.scan(spark, root, Where.Point("value", 10L)).frame
      .select("k").as[Long].collect().toSeq == Seq(1L))
    // rename CHAIN: value -> val2; both hops apply to the oldest dir
    Snapshots.commitRenameColumn(spark, root, "value", "val2")
    assert(Snapshots.read(spark, root).columns.toSeq == Seq("k", "val2", "x"))
    // DROP x metadata-only, then RE-ADD the name on a new append: the
    // old drop must not eat the re-added column
    Snapshots.commitDropColumn(spark, root, "x")
    assert(Snapshots.read(spark, root).columns.toSeq == Seq("k", "val2"))
    Snapshots.commitAppend(Seq((4L, 40L, "NEW")).toDF("k", "val2", "x"), root)
    val readd = Snapshots.read(spark, root)
      .select("k", "x").as[(Long, Option[String])].collect().toMap
    assert(readd == Map(1L -> None, 2L -> None, 3L -> None, 4L -> Some("NEW")))
    // the equality-delete key is refused for rename AND drop
    Snapshots.commitDelete(Seq(Tuple1(2L)).toDF("k"), root, "k")
    intercept[IllegalArgumentException] {
      Snapshots.commitRenameColumn(spark, root, "k", "key")
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitDropColumn(spark, root, "k")
    }
    // changesBetween across a rename interval speaks the TO schema on
    // BOTH legs (the delete of k=2 rehydrates under val2, not v)
    val cdc = Snapshots.changesBetween(spark, root, id1,
      Snapshots.current(spark, root).get.id)
    assert(cdc.columns.contains("val2") && !cdc.columns.contains("v"))
    val dels = cdc.filter($"op" === "D")
      .select("k", "val2").as[(Long, Long)].collect().toSet
    assert(dels == Set((2L, 20L)), s"rename-interval delete leg wrong: $dels")
    // rewrite materializes the mapping; the logical state is unchanged
    Snapshots.commitRewrite(spark, root)
    val post = Snapshots.read(spark, root)
      .select("k", "val2").as[(Long, Long)].collect().toSet
    assert(post == Set((1L, 10L), (3L, 30L), (4L, 40L)))
  }

  test("snapshots: hidden partitioning — per-value dirs, raw-predicate pruning, null dir opens (round-16)") {
    import graft.ops.Snapshots
    import graft.ops.Snapshots.{TruncateTransform, BucketTransform}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snaphid").toString
    val t10 = TruncateTransform("v", 10L)
    Snapshots.commitAppendHidden(
      Seq((1L, Some(5L)), (2L, Some(15L)), (3L, Some(25L)),
        (4L, Some(7L)), (5L, None)).toDF("k", "v"), root, t10)
    // one dir per value {0,1,2} plus the null-value dir
    assert(Snapshots.current(spark, root).get.dataDirs.size == 4)
    // raw predicate [0,9] → value-0 dir opens, the stats-less null dir
    // ALWAYS opens (degrade-safe), values 1 and 2 skip
    assert(counts(Snapshots.scan(spark, root,
      Where.Hidden(t10, Where.Range("v", 0L, 9L)))) == ((2, 2)))
    assert(Snapshots.scan(spark, root,
      Where.Hidden(t10, Where.Range("v", 0L, 9L))).frame
      .select("k").as[Long].collect().toSet == Set(1L, 4L))
    // later commits add dirs; equality deletes mask across hidden dirs
    Snapshots.commitAppendHidden(Seq((6L, Some(8L))).toDF("k", "v"), root, t10)
    Snapshots.commitDelete(Seq(Tuple1(4L)).toDF("k"), root, "k")
    assert(Snapshots.scan(spark, root,
      Where.Hidden(t10, Where.Range("v", 0L, 9L))).frame
      .select("k").as[Long].collect().toSet == Set(1L, 6L))
    // the plain read sees everything, incl. the null-value row
    assert(Snapshots.read(spark, root).count() == 5)
    // bucket twin: a point lookup opens exactly the value's bucket
    val broot = java.nio.file.Files.createTempDirectory("snaphidb").toString
    val b4 = BucketTransform("v", 4)
    Snapshots.commitAppendHidden(
      Seq((1L, 3L), (2L, 7L), (3L, 4L), (4L, 11L)).toDF("k", "v"), broot, b4)
    // buckets: 3,3,0,3 → two dirs
    assert(Snapshots.current(spark, broot).get.dataDirs.size == 2)
    assert(counts(Snapshots.scan(spark, broot,
      Where.Hidden(b4, Where.Point("v", 7L)))) == ((1, 1)))
    assert(Snapshots.scan(spark, broot,
      Where.Hidden(b4, Where.Point("v", 7L))).frame
      .select("k").as[Long].collect().toSeq == Seq(2L))
    // an unoccupied bucket opens NOTHING and returns the empty frame
    assert(counts(Snapshots.scan(spark, broot,
      Where.Hidden(b4, Where.Point("v", 5L)))) == ((0, 2)))
    assert(Snapshots.scan(spark, broot,
      Where.Hidden(b4, Where.Point("v", 5L))).frame.count() == 0)
  }

  test("schema-evolution model test: random rename/drop/add/append/delete/rewrite sequences match a reference simulation") {
    import graft.ops.Snapshots
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    var seed = 99991L
    def nextInt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n).toInt + n) % n
    }
    for (scenario <- 1 to 3) {
      val root = java.nio.file.Files
        .createTempDirectory(s"evo_model_$scenario").toString
      var schema = Vector("a", "b") // data columns; "k" is the fixed key
      var colCounter = 0
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[Map[String, Option[Long]]]
      var nextK = 1L
      def committed = rows.nonEmpty || nextK > 1L
      def appendBatch(): Unit = {
        val cols = "k" +: schema
        val batch = (0 until 3 + nextInt(4)).map { _ =>
          val k = nextK; nextK += 1
          cols.map(c =>
            c -> Some(if (c == "k") k
              else k * 31 + (c.hashCode.toLong % 97))).toMap
        }
        rows ++= batch
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(batch.map(m =>
            Row.fromSeq(cols.map(c => m(c).map(Long.box).orNull)))),
          StructType(cols.map(StructField(_, LongType, nullable = true))))
        Snapshots.commitAppend(df, root)
      }
      appendBatch() // every scenario starts non-empty
      for (_ <- 0 until 10) {
        nextInt(6) match {
          case 0 | 1 => appendBatch()
          case 2 => // metadata-only RENAME of a random live data column
            val old = schema(nextInt(schema.size))
            val nu = s"r$colCounter"; colCounter += 1
            Snapshots.commitRenameColumn(spark, root, old, nu)
            schema = schema.map(c => if (c == old) nu else c)
            rows.indices.foreach { i =>
              val m = rows(i)
              if (m.contains(old)) rows(i) = m - old + (nu -> m(old))
            }
          case 3 if schema.size > 1 => // metadata-only DROP
            val gone = schema(nextInt(schema.size))
            Snapshots.commitDropColumn(spark, root, gone)
            schema = schema.filterNot(_ == gone)
            rows.indices.foreach(i => rows(i) = rows(i) - gone)
          case 4 => // ADDITIVE add: the next append carries the new column
            schema = schema :+ s"n$colCounter"; colCounter += 1
          case _ => // equality delete of a random key slice, or a rewrite
            if (nextInt(2) == 0) { Snapshots.commitRewrite(spark, root); () }
            else {
              val mod = 3 + nextInt(3)
              val doomed = rows.map(_("k").get).filter(_ % mod == 0)
              if (doomed.nonEmpty) {
                import spark.implicits._
                Snapshots.commitDelete(doomed.toSeq.toDF("k"), root, "k")
                rows.filterInPlace(m => m("k").get % mod != 0)
              }
            }
        }
        // invariant after EVERY op: read() == the simulated state under
        // the current logical schema (absent columns read as null)
        val visible = "k" +: schema
        val got = Snapshots.read(spark, root)
        val gCols = got.columns.toSet
        val gotRows = got.collect().map { r =>
          visible.map(c => c -> (if (gCols.contains(c) &&
              !r.isNullAt(r.fieldIndex(c))) Some(r.getLong(r.fieldIndex(c)))
            else None)).toMap
        }.sortBy(_("k").get).toVector
        val want = rows.map(m =>
            visible.map(c => c -> m.getOrElse(c, None)).toMap)
          .sortBy(_("k").get).toVector
        assert(gotRows == want,
          s"scenario $scenario diverged (schema $visible):\n" +
            s"got  ${gotRows.take(5)}\nwant ${want.take(5)}")
      }
    }
  }

  test("hidden partitioning property: a Hidden scan == read().filter for random ranges") {
    import graft.ops.Snapshots
    import graft.ops.Snapshots.TruncateTransform
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("hid_prop").toString
    val t = TruncateTransform("v", 7L)
    // values across many buckets, incl. a NULL-value row and a later
    // second commit + a delete (the full merge-on-read composition)
    Snapshots.commitAppendHidden(
      (1L to 60L).map(i => (i, if (i % 13 == 0) None else Some(i * 3 % 50)))
        .toDF("k", "v"), root, t)
    Snapshots.commitAppendHidden(
      (61L to 90L).map(i => (i, Some(i % 45))).toDF("k", "v"), root, t)
    Snapshots.commitDelete((1L to 90L by 9).toDF("k"), root, "k")
    var seed = 7L
    def nextInt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n).toInt + n) % n
    }
    for (_ <- 1 to 12) {
      val lo = nextInt(50).toLong
      val hi = lo + nextInt(20)
      val fast = Snapshots.scan(spark, root,
        Where.Hidden(t, Where.Range("v", lo, hi))).frame
        .select("k").as[Long].collect().toSet
      val slow = Snapshots.read(spark, root)
        .filter($"v".between(lo, hi)).select("k").as[Long].collect().toSet
      assert(fast == slow, s"range [$lo,$hi] diverged")
    }
  }

  test("snapshots: a scan's (opened, skipped) match the data dirs its executed plan reads") {
    import graft.ops.Snapshots
    import graft.ops.Snapshots.TruncateTransform
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapscan").toString
    def rows(ks: Seq[Long]) =
      ks.map(k => (k, f"id$k%03d", k * 7 % 50)).toDF("k", "s", "h")
    // Long stats + string bounds on every dir but the hidden and bare ones
    Snapshots.commitAppendStats(rows(1L to 10L), root, Seq("k", "s"), None)
    Snapshots.commitAppendStats(rows(11L to 20L), root, Seq("k", "s"), None)
    // overlapping ranges, one Bloom on k and one on s
    Snapshots.commitAppendBloom(rows((21L to 60L).filter(_ % 2 == 0)), root,
      bloomCol = "k", statsCols = Seq("k", "s"))
    Snapshots.commitAppendBloom(rows((21L to 60L).filter(_ % 2 == 1)), root,
      bloomCol = "s", statsCols = Seq("k", "s"))
    // one dir per h div 10, carrying only the transform value
    val t10 = TruncateTransform("h", 10L)
    Snapshots.commitAppendHidden(rows(61L to 90L), root, t10)
    Snapshots.commitAppend(rows(91L to 95L), root) // no metadata at all
    Snapshots.commitDelete(Seq(5L, 64L).toDF("k"), root, "k")
    val table = Snapshots.current(spark, root).get.dataDirs.size
    // distinct data dirs under the executed plan's file scans; the
    // delete dirs' scans (delete/...) are not data dirs
    def dirsRead(df: org.apache.spark.sql.DataFrame): Int = {
      df.queryExecution.toRdd.count()
      def deep(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
        case q: QueryStageExec => deep(q.plan)
        case _ => (p.children ++ p.subqueries).flatMap(deep)
      })
      deep(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f.relation.location.rootPaths }
        .flatten.filter(_.getParent.getName == "data").map(_.getName)
        .distinct.size
    }
    val scans = Seq(
      "Range" -> Snapshots.scan(spark, root, Where.Range("k", 12L, 25L)),
      "StrRange" -> Snapshots.scan(spark, root,
        Where.StrRange("s", "id002", "id008")),
      "Point" -> Snapshots.scan(spark, root, Where.Point("k", 42L)),
      "StrPoint" -> Snapshots.scan(spark, root, Where.StrPoint("s", "id044")),
      "Hidden" -> Snapshots.scan(spark, root,
        Where.Hidden(t10, Where.Range("h", 0L, 9L))),
      "Dnf" -> Snapshots.scan(spark, root, Where.Dnf(Seq(
        Seq(Where.Range("k", 61L, 90L), Where.Range("h", 20L, 29L)),
        Seq(Where.Range("k", 61L, 90L), Where.Point("h", 43L))))),
      "system sample" -> Snapshots.readSampled(spark, root, dirRateBp = 5000),
      "empty sample" -> Snapshots.readSampled(spark, root, dirRateBp = 0))
    for ((name, sc) <- scans) {
      assert(sc.opened + sc.skipped == table, s"$name: ${counts(sc)} of $table")
      assert(dirsRead(sc.frame) == sc.opened,
        s"$name: plan reads ${dirsRead(sc.frame)} dirs, scan counts ${counts(sc)}")
      assert(sc.skipped > 0, s"$name must skip something to prove anything")
    }
  }

  test("snapshots: checked commits — atomic refusal, scope difference, replay exactly-once (round-16)") {
    import graft.ops.Snapshots
    import graft.validate.Checks._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapchk").toString
    val contract = Seq(Complete("v", 10000L), Bounds("n", 0L, 100L))
    // empty-table first commit audits the batch directly
    intercept[Snapshots.CheckViolationException] {
      Snapshots.commitAppendChecked(
        Seq((1L, "a", -5L)).toDF("k", "v", "n"), root, contract)
    }
    intercept[RuntimeException] { Snapshots.read(spark, root) } // still empty
    val id1 = Snapshots.commitAppendChecked(
      Seq((1L, "a", 5L), (2L, "b", 7L)).toDF("k", "v", "n"), root, contract)
    assert(id1 == 1L)
    // a violating batch is refused ATOMICALLY: state unchanged, and the
    // staged dir is unreferenced garbage vacuum reclaims
    intercept[Snapshots.CheckViolationException] {
      Snapshots.commitAppendChecked(
        Seq((3L, null.asInstanceOf[String], 5L)).toDF("k", "v", "n"),
        root, contract)
    }
    assert(Snapshots.current(spark, root).get.id == id1)
    assert(Snapshots.read(spark, root).count() == 2)
    assert(Snapshots.vacuum(spark, root, tmpGraceMs = 0L).nonEmpty,
      "the refused batch's staged dir must be reclaimable")
    // scope difference: a cross-batch duplicate passes the BATCH-scope
    // Unique audit but the TABLE-scope audit refuses it
    intercept[Snapshots.CheckViolationException] {
      Snapshots.commitAppendChecked(Seq((2L, "b2", 9L)).toDF("k", "v", "n"),
        root, Seq(Unique("k")), wholeTable = true)
    }
    Snapshots.commitAppendChecked(Seq((2L, "b2", 9L)).toDF("k", "v", "n"),
      root, Seq(Unique("k")), wholeTable = false)
    assert(Snapshots.read(spark, root).count() == 3)
    // tag: a crash-replayed checked commit returns the landed id
    val t1 = Snapshots.commitAppendChecked(
      Seq((9L, "z", 1L)).toDF("k", "v", "n"), root, contract,
      tag = Some("chk-once"))
    assert(Snapshots.commitAppendChecked(
      Seq((9L, "z", 1L)).toDF("k", "v", "n"), root, contract,
      tag = Some("chk-once")) == t1)
    assert(Snapshots.read(spark, root).count() == 4)
  }

  test("snapshots: round-18 guards — OPTIMIZE terminates after full purge, spec-source rename/drop refused, merge key names validated") {
    import graft.ops.Snapshots
    import graft.ops.Snapshots.TruncateTransform
    import spark.implicits._
    // 1) hidden-partitioned table, ALL keys deleted, then OPTIMIZE:
    // the degenerate rewrite must terminate (it used to recurse
    // forever re-deriving the hidden spec from the unchanged snapshot)
    // and leave a readable empty table with a schema anchor
    val root = java.nio.file.Files.createTempDirectory("snappurge").toString
    Snapshots.commitAppendHidden(
      Seq((1L, Some(5L)), (2L, Some(15L))).toDF("k", "v"), root,
      TruncateTransform("v", 10L))
    Snapshots.commitDelete(Seq(1L, 2L).toDF("k"), root, "k")
    Snapshots.commitRewrite(spark, root)
    val cur = Snapshots.current(spark, root).get
    assert(cur.deleteDirs.isEmpty && cur.dataDirs.size == 1,
      s"purged rewrite must fold to one plain dir, got ${cur.dataDirs}")
    assert(Snapshots.read(spark, root).count() == 0)
    assert(Snapshots.read(spark, root).columns.toSet == Set("k", "v"),
      "the empty materialization keeps the schema anchor")

    // 2) renaming or dropping the CURRENT hidden-spec source column is
    // refused (the spec's valueExpr is baked against that name; the
    // next rewrite would otherwise throw and the table would lose its
    // only compaction path)
    val root2 = java.nio.file.Files.createTempDirectory("snapspec").toString
    Snapshots.commitAppendHidden(
      Seq((1L, Some(5L)), (2L, Some(15L))).toDF("k", "v"), root2,
      TruncateTransform("v", 10L))
    intercept[IllegalArgumentException] {
      Snapshots.commitRenameColumn(spark, root2, "v", "w")
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitDropColumn(spark, root2, "v")
    }
    // non-spec columns still rename; the rewrite still runs after
    Snapshots.commitRenameColumn(spark, root2, "k", "kk")
    Snapshots.commitRewrite(spark, root2)
    assert(Snapshots.read(spark, root2).select("kk").as[Long]
      .collect().toSet == Set(1L, 2L))

    // 3) a FIRST merge validates key column names like commitDelete
    // (a ','/'|'-bearing name would fix an ambiguous deletekey= header)
    val root3 = java.nio.file.Files.createTempDirectory("snapmk").toString
    intercept[IllegalArgumentException] {
      Snapshots.commitMergeKeyed(
        Seq((1L, "a")).toDF("k,b", "v"),
        Seq((1L, "a")).toDF("k,b", "v").limit(0).select("k,b"),
        root3, Seq("k,b"), None)
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitMergeKeyed(
        Seq((1L, "a")).toDF("_k", "v"),
        Seq((1L, "a")).toDF("_k", "v").limit(0).select("_k"),
        root3, Seq("_k"), None)
    }
  }

  test("snapshots: STRING hidden partitioning — truncate-prefix dirs prune ranges, md5 buckets prune points, edges sound (round-18)") {
    import graft.ops.Snapshots
    import graft.ops.Snapshots.{BucketStrTransform, TruncateStrTransform}
    import spark.implicits._
    // 1) truncate(doc_id, 4): the reference's own phs_accession shape
    val root = java.nio.file.Files.createTempDirectory("snapstr").toString
    val t4 = TruncateStrTransform("id", 4)
    Snapshots.commitAppendHidden(
      Seq(("phs000001", 1L), ("phs000777", 2L), ("phs111222", 3L),
        ("stu000003", 4L), (null.asInstanceOf[String], 5L))
        .toDF("id", "n"), root, t4)
    val cur = Snapshots.current(spark, root).get
    // values: phs0 (x2 rows, 1 dir), phs1, stu0, null dir
    assert(cur.dataDirs.size == 4, s"per-prefix dirs: ${cur.dataDirs}")
    // range confined to the phs0 prefix opens phs0 + the null dir only
    val phs0 = Snapshots.scan(spark, root,
      Where.Hidden(t4, Where.StrRange("id", "phs000000", "phs000999")))
    assert(counts(phs0) == ((2, 2)))
    assert(phs0.frame.select("n").as[Long].collect().toSet == Set(1L, 2L))
    // prefix-EQUAL bounds (lo == hi == a full prefix): one value dir
    assert(Snapshots.scan(spark, root,
      Where.Hidden(t4, Where.StrRange("id", "phs111222", "phs111222"))).frame
      .select("n").as[Long].collect().toSet == Set(3L))
    // result equals the unpruned filter for a cross-prefix range
    assert(Snapshots.scan(spark, root,
      Where.Hidden(t4, Where.StrRange("id", "phs000500", "stu999999"))).frame
      .select("n").as[Long].collect().toSet ==
      Snapshots.read(spark, root)
        .filter("id between 'phs000500' and 'stu999999'")
        .select("n").as[Long].collect().toSet)
    // 2) edges: non-ASCII (multi-byte UTF-8 packs as raw bytes) and
    // the empty string (packs to 0 — the smallest value, never lost)
    val root2 = java.nio.file.Files.createTempDirectory("snapstr2").toString
    val t3 = TruncateStrTransform("id", 3)
    Snapshots.commitAppendHidden(
      Seq(("", 0L), ("a", 1L), ("é", 2L), ("日本", 3L), ("zz", 4L))
        .toDF("id", "n"), root2, t3)
    // "é" = 0xC3A9: an ASCII-only range must not open its dir; the
    // multi-byte dir still opens for a covering range
    val all = Snapshots.scan(spark, root2,
      Where.Hidden(t3, Where.StrRange("id", "", "￿￿"))).frame
    assert(all.select("n").as[Long].collect().toSet == Set(0L, 1L, 2L, 3L, 4L))
    val ascii = Snapshots.scan(spark, root2,
      Where.Hidden(t3, Where.StrRange("id", "", "b")))
    assert(ascii.frame.select("n").as[Long].collect().toSet == Set(0L, 1L))
    val (oAscii, sAscii) = counts(ascii)
    assert(oAscii == 2 && sAscii == 3,
      s"ASCII range must skip the multi-byte dirs: ($oAscii, $sAscii)")
    // 3) md5-48 string bucket: a point lookup opens one bucket
    val root3 = java.nio.file.Files.createTempDirectory("snapstr3").toString
    val b4 = BucketStrTransform("id", 4)
    Snapshots.commitAppendHidden(
      (1 to 40).map(i => (s"doc$i", i.toLong)).toDF("id", "n"), root3, b4)
    val dirs3 = Snapshots.current(spark, root3).get.dataDirs.size
    assert(dirs3 >= 2 && dirs3 <= 4, s"bucket dirs: $dirs3")
    val doc7 = Snapshots.scan(spark, root3,
      Where.Hidden(b4, Where.StrPoint("id", "doc7")))
    val (op, sk) = counts(doc7)
    assert(op == 1 && sk == dirs3 - 1)
    assert(doc7.frame.select("n").as[Long].collect().toSeq == Seq(7L))
    // 4) the spec is a FIRST-CLASS spec: rewrite preserves it, rename
    // of the source column is refused
    Snapshots.commitDelete(Seq(Tuple1("doc7")).toDF("id"), root3, "id")
    Snapshots.commitRewrite(spark, root3)
    assert(Snapshots.scan(spark, root3,
      Where.Hidden(b4, Where.StrPoint("id", "doc8"))).frame
      .select("n").as[Long].collect().toSeq == Seq(8L))
    assert(Snapshots.scan(spark, root3,
      Where.Hidden(b4, Where.StrPoint("id", "doc7"))).frame.count() == 0)
    intercept[IllegalArgumentException] {
      Snapshots.commitRenameColumn(spark, root3, "id", "key")
    }
    // 5) property: pruned read == unpruned filter on random ranges
    val ids = (1 to 40).map(i => s"doc$i")
    val rnd = new scala.util.Random(18)
    (1 to 8).foreach { _ =>
      val a = ids(rnd.nextInt(ids.size)); val b = ids(rnd.nextInt(ids.size))
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      // root3's spec is the BUCKET transform: a truncstr range read
      // finds no truncstr stats → opens everything, stays exact
      // (skipping is only ever an optimization)
      val t = TruncateStrTransform("id", 4)
      val pruned = Snapshots.scan(spark, root3,
        Where.Hidden(t, Where.StrRange("id", lo, hi))).frame
        .select("n").as[Long].collect().toSet
      val plain = Snapshots.read(spark, root3)
        .filter(s"id between '$lo' and '$hi'")
        .select("n").as[Long].collect().toSet
      assert(pruned == plain, s"range [$lo, $hi]")
      ()
    }
  }

  test("snapshots: a type-widened history (int append then long append) stays readable — the grouped scan degrades that run to the per-dir union (round-18)") {
    import graft.ops.Snapshots
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("snapwide").toString
    Snapshots.commitAppend(
      Seq((1, "a"), (2, "b")).toDF("n", "v"), root) // n: INT
    Snapshots.commitAppend(
      Seq((3L, "c")).toDF("n", "v"), root) // n: LONG — merge would throw
    val df = Snapshots.read(spark, root)
    assert(df.schema("n").dataType ==
      org.apache.spark.sql.types.LongType,
      s"union coercion must widen, got ${df.schema("n").dataType}")
    assert(df.select(col("n").cast("long")).as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    // the CDC leg degrades the same way
    val ch = Snapshots.changesBetween(spark, root, 0L, 2L)
    assert(ch.filter("op = 'I'").count() == 3)
  }

  test("snapshots: disjunctive pruning property — OR/IN reads equal read().filter on random DNF predicates, and actually skip (round-18)") {
    import graft.ops.Snapshots
    import graft.ops.Snapshots.{BucketTransform, TruncateTransform}
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("snapdisj").toString
    // multi-dim spec: truncate(t, 10) × bucket(k, 4), plus a delete
    val rows = (0L until 200L).map(i => (i, i % 17, i * 3 % 100))
    Snapshots.commitAppendHidden(rows.toDF("id", "k", "t"), root,
      Seq(TruncateTransform("t", 10L), BucketTransform("k", 4)), None)
    Snapshots.commitDelete(Seq(Tuple1(13L), Tuple1(77L)).toDF("id"),
      root, "id")
    val rnd = new scala.util.Random(44)
    (1 to 12).foreach { _ =>
      val nDisj = 1 + rnd.nextInt(3)
      val disjuncts = (1 to nDisj).map { _ =>
        val conj = scala.collection.mutable.ListBuffer.empty[Where.Bounded]
        if (rnd.nextBoolean()) {
          val lo = rnd.nextInt(100).toLong
          conj += Where.Range("t", lo, lo + rnd.nextInt(30))
        }
        if (rnd.nextBoolean() || conj.isEmpty) {
          val v = rnd.nextInt(17).toLong
          conj += Where.Range("k", v, v)
        }
        conj.toList
      }
      val viaDisj = Snapshots.scan(spark, root, Where.Dnf(disjuncts)).frame
        .select("id").as[Long].collect().toSet
      val filter = disjuncts.map(c =>
        c.map(p => col(p.column).between(p.lo, p.hi)).reduce(_ && _))
        .reduce(_ || _)
      val plain = Snapshots.read(spark, root).filter(filter)
        .select("id").as[Long].collect().toSet
      assert(viaDisj == plain, s"DNF $disjuncts")
    }
    // IN-list on the bucket axis: opened = occupied (day × residue)
    // pairs any listed residue admits; never the whole table
    val (o, s0) = counts(Snapshots.scan(spark, root,
      Where.Dnf.in("k", Seq(0L, 5L))))
    assert(o > 0 && s0 > 0, s"IN-list must skip some dirs: ($o, $s0)")
    assert(Snapshots.scan(spark, root, Where.Dnf.in("k", Seq(0L, 5L))).frame
      .select("id").as[Long].collect().toSet ==
      Snapshots.read(spark, root).filter("k in (0, 5)")
        .select("id").as[Long].collect().toSet)
    // degenerate: an all-excluding DNF returns the empty typed frame
    assert(Snapshots.scan(spark, root, Where.Dnf(
      Seq(Seq(Where.Range("t", 5000L, 6000L))))).frame.count() == 0)
  }

  test("snapshots: grouped manifest scan — plan is O(delete commits + schema ops), not O(dirs); reads stay exact (round-18)") {
    import graft.ops.Snapshots
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import spark.implicits._
    // count parquet relations in the OPTIMIZED plan (the executed plan
    // hides scans inside the un-executed AQE wrapper)
    def dataScans(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l
      }.size
    val root = java.nio.file.Files.createTempDirectory("snapgrp").toString
    // 40 appends, then one delete, then 20 appends, then a rename,
    // then 15 appends: three horizons → exactly 3 data relations
    // (plus 1 for the delete side), never 75
    (0 until 40).foreach(i => Snapshots.commitAppendStats(
      Seq((i.toLong, s"v$i")).toDF("k", "v"), root, "k"))
    Snapshots.commitDelete(Seq(Tuple1(7L)).toDF("k"), root, "k")
    (40 until 60).foreach(i => Snapshots.commitAppendStats(
      Seq((i.toLong, s"v$i")).toDF("k", "v"), root, "k"))
    Snapshots.commitRenameColumn(spark, root, "v", "label")
    (60 until 75).foreach(i => Snapshots.commitAppendStats(
      Seq((i.toLong, s"l$i")).toDF("k", "label"), root, "k"))
    val full = Snapshots.read(spark, root)
    assert(dataScans(full) == 4,
      s"expected 3 grouped data relations + 1 delete side, got " +
        s"${dataScans(full)}")
    assert(full.count() == 74)
    assert(full.columns.toSet == Set("k", "label"))
    assert(full.select("k").as[Long].collect().toSet ==
      ((0L until 75L).toSet - 7L))
    // the rename applies identically through the grouped relations
    assert(full.filter(org.apache.spark.sql.functions.col("k") === 3L)
      .select("label").as[String].head() == "v3")
    // pruning composes: a one-dir slice opens 1 grouped relation that
    // reads the surviving dirs only (runs split at the pruned gaps is
    // NOT required — skipped dirs just leave the run)
    val sliced = Snapshots.scan(spark, root, Where.Range("k", 10L, 12L)).frame
    assert(sliced.select("k").as[Long].collect().toSet ==
      Set(10L, 11L, 12L))
    val (opened, skipped) = counts(Snapshots.scan(spark, root,
      Where.Range("k", 10L, 12L)))
    assert(opened == 3 && skipped == 72)
    // position deletes still mask exactly through the derived _dir
    val addr = Snapshots.readWithPos(spark, root)
      .filter(org.apache.spark.sql.functions.col("k") === 11L)
      .select("_dir", "_file", "_pos")
    Snapshots.commitDeletePositions(addr, root)
    assert(Snapshots.read(spark, root).filter("k = 11").count() == 0)
    assert(Snapshots.read(spark, root).count() == 73)
    // time travel reads the pre-delete state through the same path
    val cur = Snapshots.current(spark, root).get
    assert(Snapshots.read(spark, root, Some(cur.id - 1))
      .filter("k = 11").count() == 1)
  }

  test("snapshots: merge conflict validation — overlapping keys refuse, disjoint keys auto-rebase, last-writer-wins opt-out (round-19)") {
    import graft.ops.Snapshots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapconf").toString
    Snapshots.commitAppend(
      (1L to 20L).map(k => (k, "seed")).toDF("k", "v"), root) // snap-1
    // an interleaved merge lands at snap-2, touching keys 5..8
    Snapshots.commitMergeKeyed(
      (5L to 8L).map(k => (k, "thief")).toDF("k", "v"),
      spark.emptyDataset[Long].toDF("k"), root, Seq("k"), None)
    // the conflict probe: overlap counted exactly, disjoint = 0
    val mineOverlap = (7L to 12L).map(k => (k, "x")).toDF("k", "v")
    assert(Snapshots.conflictingMergeKeys(spark, root, 1L, 2L,
      mineOverlap, Seq("k")) == 2L) // keys 7, 8
    val mineDisjoint = (30L to 40L).map(k => (k, "y")).toDF("k", "v")
    assert(Snapshots.conflictingMergeKeys(spark, root, 1L, 2L,
      mineDisjoint, Seq("k")) == 0L)
    // delete keys conflict too (a concurrent DELETE of my upsert key)
    Snapshots.commitMergeKeyed(
      spark.emptyDataset[(Long, String)].toDF("k", "v"),
      Seq(Tuple1(15L)).toDF("k"), root, Seq("k"), None) // snap-3: D 15
    assert(Snapshots.conflictingMergeKeys(spark, root, 2L, 3L,
      Seq((15L, "z")).toDF("k", "v"), Seq("k")) == 1L)
    // uncontended retry path: plain success, one commit
    val id = Snapshots.commitMergeKeyedWithRetry(
      Seq((50L, "n")).toDF("k", "v"),
      spark.emptyDataset[Long].toDF("k"), root, Seq("k"))
    assert(id == 4L)
    assert(Snapshots.read(spark, root).filter("k = 50").count() == 1)
    // the exception names the overlap loudly
    val e = new Snapshots.MergeConflictException(root, 1L, 2L, 2L)
    assert(e.getMessage.contains("touched 2") &&
      e.getMessage.contains("Re-derive"))
  }
}
