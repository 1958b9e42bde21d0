package graft

/** The engine's SQL text surface: registered testdata views + registered
  * custom functions make `spark.sql` a first-class way to drive the same
  * plans as the DataFrame API (the reference has no SQL surface at all —
  * SURVEY.md §2.8; here it falls out of being Spark-native). */
class SqlSurfaceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("GraftSession.registerAll exposes the full SQL surface on a session") {
    GraftSession.registerAll(spark, Some(sf))
    val r = spark.sql(
      """SELECT g, topk_ids_by(CAST(vec_id AS DOUBLE), vec_id, 1)[0] AS top,
        |  max(floor(vec_cosine(embedding, embedding))) AS selfcos,
        |  max(simhash64(array('a','b'))) IS NOT NULL AS sh
        |FROM (SELECT *, vec_id % 3 AS g FROM embeddings) GROUP BY g""".stripMargin)
      .collect()
    assert(r.length == 3 && r.forall(_.getLong(2) == 1L))
  }

  test("spark.sql over registered views matches the DataFrame query") {
    Tables.registerAll(spark, sf)
    val sql = spark.sql(
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val df = SparkEntry.queries("q5_region_revenue")(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(sql == df && sql.nonEmpty)
  }

  test("registered kernels work from SQL text over real embeddings") {
    graft.functions.VectorExpressions.register(spark)
    Tables.registerAll(spark, sf)
    val rows = spark.sql(
      """SELECT vec_id, floor(vec_cosine(embedding, embedding) * 1000) AS self_sim
        |FROM embeddings LIMIT 5""".stripMargin).collect()
    assert(rows.length == 5)
    rows.foreach(r => assert(r.getLong(1) == 1000L)) // cos(v, v) = 1
  }

  test("every kernel: SQL text == DataFrame result, bit for bit") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExpressions
    VectorExpressions.register(spark)
    Tables.registerAll(spark, sf)
    val emb = Tables.load(spark, sf, "embeddings")
    val docs = Tables.load(spark, sf, "documents")

    def same(sql: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val a = spark.sql(sql).collect().map(_.toSeq).toSeq
      val b = df.collect().map(_.toSeq).toSeq
      assert(a == b, s"SQL and DataFrame diverge for: $sql")
    }

    same(
      "SELECT vec_id, vec_dot(embedding, embedding) AS d FROM embeddings ORDER BY vec_id",
      emb.select(col("vec_id"), VectorExpressions.vecDot(col("embedding"), col("embedding")).as("d"))
        .orderBy("vec_id"))

    same(
      "SELECT doc_id, shingle_hash64(text, 5) AS sh FROM documents ORDER BY doc_id",
      docs.select(col("doc_id"), VectorExpressions.shingleHash64(col("text"), 5).as("sh"))
        .orderBy("doc_id"))

    same(
      "SELECT doc_id, gram_hash64(text, 5) AS g FROM documents ORDER BY doc_id",
      docs.select(col("doc_id"), VectorExpressions.gramHash64(col("text"), 5).as("g"))
        .orderBy("doc_id"))

    same(
      """SELECT doc_id, minhash_sig(shingle_hash64(text, 5), 16, 42) AS sig
        |FROM documents ORDER BY doc_id""".stripMargin,
      docs.select(col("doc_id"),
        VectorExpressions.minhashSig(VectorExpressions.shingleHash64(col("text"), 5), 16, 42L).as("sig"))
        .orderBy("doc_id"))

    same(
      "SELECT doc_id, simhash64(split(lower(text), ' ')) AS sh FROM documents ORDER BY doc_id",
      docs.select(col("doc_id"),
        VectorExpressions.simhash64(split(lower(col("text")), " ")).as("sh"))
        .orderBy("doc_id"))

    same(
      "SELECT vec_id, hyperplane_bucket(embedding, 64, 6, 42) AS b FROM embeddings ORDER BY vec_id",
      emb.select(col("vec_id"),
        graft.ext.Similarity.lshBucket(col("embedding"), dim = 64, bits = 6, seed = 42L).as("b"))
        .orderBy("vec_id"))

    graft.functions.TopKAggregate.register(spark)
    same(
      """SELECT g, topk_ids_by(s, id, 2) AS top FROM
        |  (SELECT vec_id % 10 AS g, CAST(vec_id AS DOUBLE) AS s, vec_id AS id
        |   FROM embeddings)
        |GROUP BY g ORDER BY g""".stripMargin,
      emb.select((col("vec_id") % 10).as("g"),
          col("vec_id").cast("double").as("s"), col("vec_id").as("id"))
        .groupBy(col("g"))
        .agg(graft.functions.TopKAggregate.topkIdsBy(col("s"), col("id"), 2).as("top"))
        .orderBy("g"))

    same(
      "SELECT doc_id, gopher_repetition(text, 10, 2, 5) AS g FROM documents ORDER BY doc_id",
      docs.select(col("doc_id"),
        VectorExpressions.gopherRepetition(col("text"), 10, 2, 5).as("g"))
        .orderBy("doc_id"))

    val cm = Array(Array.fill(64)(0.1), Array.fill(64)(-0.1), Array.tabulate(64)(i => (i % 3 - 1) * 0.2))
    val cmSql = cm.map(_.mkString("array(", ",", ")")).mkString("array(", ",", ")")
    same(
      s"SELECT vec_id, nearest_cells(embedding, $cmSql, 2) AS cells FROM embeddings ORDER BY vec_id",
      emb.select(col("vec_id"),
        VectorExpressions.nearestCells(col("embedding"), cm, 2).as("cells"))
        .orderBy("vec_id"))
  }

  test("the spec session carries every config GraftSession.configure sets, with the same value") {
    import org.apache.spark.sql.SparkSession
    // record configure's keys on a builder that never builds a session
    val set = scala.collection.mutable.LinkedHashMap.empty[String, String]
    GraftSession.configure(new SparkSession.Builder {
      override def config(key: String, value: String): this.type = {
        set(key) = value
        this
      }
    })
    assert(set.contains("spark.sql.objectHashAggregate.sortBased.fallbackThreshold"))
    val drift = set.toSeq.filterNot { case (k, v) => spark.conf.getOption(k).contains(v) }
      .map { case (k, v) => s"$k: configure=$v spec=${spark.conf.getOption(k)}" }
    assert(drift.isEmpty, drift.mkString("spec session drifts from GraftSession.configure: ", "; ", ""))
  }

  test("GraftExtensions: kernels arrive via spark.sql.extensions, no code needed") {
    import org.apache.spark.sql.SparkSession
    // build a FRESH session (shared SparkContext) with the extensions
    // applied at construction — the spark-submit --conf route
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      for (n <- Seq("vec_dot", "vec_cosine", "simhash64", "minhash_sig",
          "shingle_hash64", "gram_hash64", "hyperplane_bucket", "nearest_cells",
          "nfc_normalize", "char_entropy", "topk_ids_by"))
        assert(s2.catalog.functionExists(n), s"$n not injected")
      val r = s2.sql(
        """SELECT char_entropy('aabb') AS e,
          |  nfc_normalize('a') AS n,
          |  simhash64(array('a','b')) IS NOT NULL AS sh""".stripMargin).collect()(0)
      assert(math.abs(r.getDouble(0) - math.log(2)) < 1e-6)
      assert(r.getString(1) == "a" && r.getBoolean(2))
      // do NOT stop s2: it shares the JVM-wide SparkContext
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("s41: snapshot tables are SQL-addressable — namespace, VERSION AS OF, __v suffix, bare alias, no shadowing") {
    import graft.ops.Snapshots
    import graft.plans.SnapshotSql
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapsql").toString
    val id1 = Snapshots.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    Snapshots.commitAppend(Seq((3L, "c")).toDF("k", "v"), root)
    Snapshots.commitDelete(Seq(Tuple1(2L)).toDF("k"), root, "k")
    SnapshotSql.register("sqlsnap", root)
    def ks(q: String): Set[Long] =
      spark.sql(q).select("k").as[Long].collect().toSet
    assert(ks("SELECT k FROM graft_snap.sqlsnap") == Set(1L, 3L))
    assert(ks(s"SELECT k FROM graft_snap.sqlsnap VERSION AS OF $id1")
      == Set(1L, 2L))
    assert(ks(s"SELECT k FROM graft_snap.sqlsnap__v$id1") == Set(1L, 2L))
    // bare alias resolves too (nothing else claims the name)
    assert(ks("SELECT k FROM sqlsnap") == Set(1L, 3L))
    // joins and aggregates compose through the rule
    val j = spark.sql(
      """SELECT a.k, b.v FROM graft_snap.sqlsnap a
        |JOIN graft_snap.sqlsnap__v1 b ON a.k = b.k""".stripMargin)
      .as[(Long, String)].collect().toSet
    assert(j == Set((1L, "a")))
    // a TEMP VIEW with the same name WINS over the bare alias (the
    // rule runs after builtin resolution — it can never shadow)
    Seq((99L, "view")).toDF("k", "v").createOrReplaceTempView("sqlsnap")
    try assert(ks("SELECT k FROM sqlsnap") == Set(99L))
    finally spark.catalog.dropTempView("sqlsnap")
    // the namespaced form still reads the snapshot table
    assert(ks("SELECT k FROM graft_snap.sqlsnap") == Set(1L, 3L))
    // unregistered aliases stay unresolved (loud, not empty)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT k FROM graft_snap.nope").collect()
    }
    SnapshotSql.unregister("sqlsnap")
  }

  test("s44: SQL-text DML — INSERT INTO and MERGE INTO a snapshot table match the Scala API, unsupported shapes refuse loudly (round-18)") {
    import graft.ops.Snapshots
    import graft.plans.SnapshotSql
    import spark.implicits._
    val rootSql = java.nio.file.Files.createTempDirectory("snapdmls").toString
    val rootApi = java.nio.file.Files.createTempDirectory("snapdmla").toString
    // identical seed through both routes
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), rootSql)
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), rootApi)
    SnapshotSql.register("dml", rootSql)
    try {
      // INSERT: positional VALUES + an explicit column list (null fill)
      spark.sql("INSERT INTO graft_snap.dml VALUES (3, 'c'), (4, 'd')")
      spark.sql("INSERT INTO graft_snap.dml (k) VALUES (5)")
      Snapshots.commitAppend(Seq((3L, "c"), (4L, "d")).toDF("k", "v"), rootApi)
      Snapshots.commitAppend(
        Seq((5L, null.asInstanceOf[String])).toDF("k", "v"), rootApi)
      // MERGE: upsert k=2 (update *), insert k=6, pure-delete v='c'
      Seq((2L, "B"), (6L, "f"), (3L, "c")).toDF("k", "v")
        .createOrReplaceTempView("dml_src")
      spark.sql(
        """MERGE INTO graft_snap.dml t USING dml_src s ON t.k = s.k
          |WHEN MATCHED AND s.v = 'c' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      Snapshots.commitMergeKeyed(
        Seq((2L, "B"), (6L, "f")).toDF("k", "v"),
        Seq(Tuple1(3L)).toDF("k"), rootApi, Seq("k"), None)
      // byte-identical table states through both routes
      def state(dir: String) = Snapshots.read(spark, dir)
        .as[(Long, Option[String])].collect().toSet
      assert(state(rootSql) == state(rootApi))
      assert(state(rootSql) == Set((1L, Some("a")), (2L, Some("B")),
        (4L, Some("d")), (5L, None), (6L, Some("f"))))
      // a SQL read of the written table sees the merged state
      assert(spark.sql("SELECT k FROM graft_snap.dml WHERE v IS NULL")
        .as[Long].collect().toSeq == Seq(5L))
      // refusals, each naming the unsupported feature
      def refuse(sql: String, frag: String): Unit = {
        val e = intercept[Exception] { spark.sql(sql) }
        assert(e.getMessage != null && e.getMessage.contains(frag),
          s"expected '$frag' in: ${e.getMessage}")
      }
      refuse("INSERT OVERWRITE graft_snap.dml VALUES (9, 'x')",
        "INSERT OVERWRITE")
      refuse("MERGE INTO graft_snap.dml t USING dml_src s ON t.k > s.k " +
        "WHEN MATCHED THEN UPDATE SET *", "equality conjunction")
      refuse("MERGE INTO graft_snap.dml t USING dml_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = 'z'", "UPDATE SET *")
      refuse("INSERT INTO graft_snap.nosuch VALUES (1, 'x')",
        "unknown snapshot alias")
      // writes through a time-travel suffix are refused (immutability)
      refuse("INSERT INTO graft_snap.dml__v1 VALUES (9, 'x')",
        "time-travel")
      // arity mismatch refuses before anything lands
      refuse("INSERT INTO graft_snap.dml VALUES (9)", "columns")
      // a named column the table lacks refuses — never a silent drop
      // into an all-NULL row
      refuse("INSERT INTO graft_snap.dml (kx) VALUES (5)",
        "unknown column")
      assert(state(rootSql) == state(rootApi), "refusals must not commit")

      // clause-scoped MERGE semantics (round-18 review fixes):
      // (a) a delete-condition row that is NOT matched still INSERTs
      Seq((77L, "c")).toDF("k", "v").createOrReplaceTempView("dml_nm")
      spark.sql(
        """MERGE INTO graft_snap.dml t USING dml_nm s ON t.k = s.k
          |WHEN MATCHED AND s.v = 'c' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(state(rootSql).contains((77L, Some("c"))),
        "unmatched delete-condition row must INSERT (the DELETE " +
          "clause never saw it)")
      // (b) insert-only merge leaves matched rows UNTOUCHED
      Seq((77L, "CHANGED"), (78L, "new")).toDF("k", "v")
        .createOrReplaceTempView("dml_io")
      spark.sql(
        """MERGE INTO graft_snap.dml t USING dml_io s ON t.k = s.k
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(state(rootSql).contains((77L, Some("c"))),
        "insert-only merge must not replace matched rows")
      assert(state(rootSql).contains((78L, Some("new"))))
      // (c) update-only merge ignores unmatched source rows
      Seq((78L, "upd78"), (79L, "ghost")).toDF("k", "v")
        .createOrReplaceTempView("dml_uo")
      spark.sql(
        """MERGE INTO graft_snap.dml t USING dml_uo s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      val st = state(rootSql)
      assert(st.contains((78L, Some("upd78"))))
      assert(!st.exists(_._1 == 79L),
        "update-only merge must not insert unmatched rows")
    } finally SnapshotSql.unregister("dml")
  }

  test("s47: SQL DELETE via position deletes and keyed UPDATE — atomic, exact, refusals named (round-18)") {
    import graft.ops.Snapshots
    import graft.plans.SnapshotSql
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapdel").toString
    Snapshots.commitAppend(
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"), root)
    SnapshotSql.register("mut", root)
    try {
      // DELETE needs NO key — position deletes address physical rows
      spark.sql("DELETE FROM graft_snap.mut WHERE k % 3 = 0")
      def ks = Snapshots.read(spark, root).select("k").as[Long]
        .collect().toSet
      assert(ks == (1L to 10L).toSet -- Set(3L, 6L, 9L))
      // time travel still sees the pre-delete state (one atomic commit)
      val cur = Snapshots.current(spark, root).get
      assert(Snapshots.read(spark, root, Some(cur.id - 1)).count() == 10)
      // UPDATE requires a merge key: refused before one exists
      val e1 = intercept[Exception] {
        spark.sql("UPDATE graft_snap.mut SET v = 'x' WHERE k = 1")
      }
      assert(e1.getMessage.contains("no merge key"))
      // establish the key, then UPDATE — every RHS sees the OLD row
      Snapshots.commitDelete(Seq(Tuple1(10L)).toDF("k"), root, "k")
      spark.sql(
        "UPDATE graft_snap.mut SET v = concat(v, '!') WHERE k <= 2")
      val vs = Snapshots.read(spark, root)
        .as[(Long, String)].collect().toMap
      assert(vs(1L) == "v1!" && vs(2L) == "v2!" && vs(4L) == "v4")
      // assigning the key column is refused (would re-key the row)
      val e2 = intercept[Exception] {
        spark.sql("UPDATE graft_snap.mut SET k = 99 WHERE k = 1")
      }
      assert(e2.getMessage.contains("re-key"))
      // unconditioned UPDATE touches every live row, exactly once
      spark.sql("UPDATE graft_snap.mut SET v = upper(v)")
      assert(Snapshots.read(spark, root).filter("v = 'V4'").count() == 1)
      // live rows: 10 − {3,6,9} (position deletes) − {10} (key delete)
      assert(Snapshots.read(spark, root).count() == 6)
      // a key shared between matched and UNMATCHED rows refuses: the
      // keyed replace would silently delete the unmatched sibling
      Snapshots.commitAppend(Seq((1L, "sibling")).toDF("k", "v"), root)
      val e3 = intercept[Exception] {
        spark.sql("UPDATE graft_snap.mut SET v = 'x' WHERE v = 'V1!'")
      }
      assert(e3.getMessage.contains("unmatched siblings"))
      assert(Snapshots.read(spark, root).filter("k = 1").count() == 2,
        "the refusal must not have committed anything")
      // when EVERY same-key sibling matches, the replace is sound
      spark.sql("UPDATE graft_snap.mut SET v = 'both' WHERE k = 1")
      assert(Snapshots.read(spark, root).filter("k = 1 AND v = 'both'")
        .count() == 2)
    } finally SnapshotSql.unregister("mut")
  }

  test("s46: branch reads from SQL — graft_snap.`alias@branch` sees the staged state, main stays clean, writes to branches refuse (round-18)") {
    import graft.ops.Snapshots
    import graft.plans.SnapshotSql
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapbr").toString
    Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    Snapshots.wapStage(Seq((9L, "staged")).toDF("k", "v"), root, "audit")
    SnapshotSql.register("br", root)
    def ks(q: String): Set[Long] =
      spark.sql(q).select("k").as[Long].collect().toSet
    try {
      // the branch read sees staged + base; main is bitwise clean
      assert(ks("SELECT k FROM graft_snap.`br@audit`") == Set(1L, 2L, 9L))
      assert(ks("SELECT k FROM graft_snap.br") == Set(1L, 2L))
      // joins across main and branch compose (the audit diff query)
      assert(spark.sql(
        """SELECT b.k FROM graft_snap.`br@audit` b
          |LEFT ANTI JOIN graft_snap.br m ON b.k = m.k""".stripMargin)
        .as[Long].collect().toSet == Set(9L))
      // VERSION AS OF on a branch read refuses (a branch IS its head)
      intercept[Exception] {
        spark.sql("SELECT k FROM graft_snap.`br@audit` VERSION AS OF 1")
          .collect()
      }
      // unknown branch fails loudly, not empty
      intercept[Exception] {
        spark.sql("SELECT k FROM graft_snap.`br@nope`").collect()
      }
      // SQL DML targets main only
      val e = intercept[Exception] {
        spark.sql("INSERT INTO graft_snap.`br@audit` VALUES (7, 'x')")
      }
      assert(e.getMessage.contains("wapStage"))
      // after publish, main sees the staged rows through the same alias
      Snapshots.wapPublish(spark, root, "audit")
      assert(ks("SELECT k FROM graft_snap.br") == Set(1L, 2L, 9L))
    } finally SnapshotSql.unregister("br")
  }

  test("s44 guards (round-19): target-qualified DELETE conditions and MERGE cardinality violations refuse loudly") {
    import graft.ops.Snapshots
    import graft.plans.SnapshotSql
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapmg").toString
    // target state deliberately DIVERGES from the source on v so a
    // delete condition silently reading the wrong side is detectable:
    // t(1).v = 'del' but s(1).v = 'keep'
    Snapshots.commitAppend(Seq((1L, "del"), (2L, "b")).toDF("k", "v"), root)
    SnapshotSql.register("mg", root)
    def refuse(sql: String, frag: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage != null && e.getMessage.contains(frag),
        s"expected '$frag' in: ${e.getMessage}")
    }
    try {
      Seq((1L, "keep"), (3L, "del")).toDF("k", "v")
        .createOrReplaceTempView("mg_src")
      // a TARGET-qualified delete condition would silently evaluate
      // the SOURCE's v at run time (schemas coincide under UPDATE SET
      // */INSERT *) — refused at analysis, contract named
      refuse(
        """MERGE INTO graft_snap.mg t USING mg_src s ON t.k = s.k
          |WHEN MATCHED AND t.v = 'del' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin,
        "target-qualified")
      // the bare table name qualifies the target too
      refuse(
        """MERGE INTO graft_snap.mg t USING mg_src s ON t.k = s.k
          |WHEN MATCHED AND mg.v = 'del' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin,
        "target-qualified")
      // a qualifier naming NEITHER side refuses as unknown
      refuse(
        """MERGE INTO graft_snap.mg t USING mg_src s ON t.k = s.k
          |WHEN MATCHED AND zz.v = 'del' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin,
        "unknown qualifier")
      // nothing committed by the refusals
      assert(Snapshots.current(spark, root).get.id == 1L)
      // the SOURCE-qualified condition evaluates the source's v:
      // s(1).v = 'keep' → k=1 UPDATEs (to 'keep'), not deleted
      spark.sql(
        """MERGE INTO graft_snap.mg t USING mg_src s ON t.k = s.k
          |WHEN MATCHED AND s.v = 'del' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val st = Snapshots.read(spark, root).as[(Long, String)]
        .collect().toMap
      assert(st == Map(1L -> "keep", 2L -> "b", 3L -> "del"),
        s"source-qualified delete condition must read the SOURCE: $st")
      // cardinality: >1 SOURCE row per matched key refuses (SQL's
      // cardinality-violation error)
      Seq((1L, "x"), (1L, "y")).toDF("k", "v")
        .createOrReplaceTempView("mg_dup")
      refuse(
        """MERGE INTO graft_snap.mg t USING mg_dup s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin,
        "cardinality")
      // >1 TARGET row per matched key refuses (the keyed replace
      // would collapse them — SQL updates each row)
      Snapshots.commitAppend(Seq((2L, "sibling")).toDF("k", "v"), root)
      Seq((2L, "z")).toDF("k", "v").createOrReplaceTempView("mg_one")
      refuse(
        """MERGE INTO graft_snap.mg t USING mg_one s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin,
        "TARGET row")
      // insert-only merges are EXEMPT from the source-dup guard: SQL
      // inserts every unmatched row, duplicates included
      Seq((7L, "p"), (7L, "q")).toDF("k", "v")
        .createOrReplaceTempView("mg_ins")
      spark.sql(
        """MERGE INTO graft_snap.mg t USING mg_ins s ON t.k = s.k
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(Snapshots.read(spark, root).filter("k = 7").count() == 2)
    } finally SnapshotSql.unregister("mg")
  }

  test("s48: SQL DDL + maintenance — CTAS, ALTER RENAME/DROP, OPTIMIZE/VACUUM/EXPIRE/ROLLBACK, refusals intact (round-19)") {
    import graft.ops.Snapshots
    import graft.plans.SnapshotSql
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapddl").toString + "/t"
    val wh = java.nio.file.Files.createTempDirectory("snapwh").toString
    SnapshotSql.unregister("ddl"); SnapshotSql.unregister("ddlwh")
    def refuse(sql: String, frag: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage != null && e.getMessage.contains(frag),
        s"expected '$frag' in: ${e.getMessage}")
    }
    try {
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("k", "v", "x").createOrReplaceTempView("ddl_src")
      // CTAS with an explicit location
      spark.sql(s"CREATE TABLE graft_snap.ddl OPTIONS (path '$root') " +
        "AS SELECT k, v, x FROM ddl_src")
      assert(Snapshots.read(spark, root).count() == 3)
      assert(spark.sql("SELECT k FROM graft_snap.ddl").as[Long]
        .collect().toSet == Set(1L, 2L, 3L))
      // CTAS again: duplicate alias refuses; IF NOT EXISTS no-ops
      refuse(s"CREATE TABLE graft_snap.ddl OPTIONS (path '$root') " +
        "AS SELECT k, v, x FROM ddl_src", "already registered")
      spark.sql(s"CREATE TABLE IF NOT EXISTS graft_snap.ddl OPTIONS " +
        s"(path '$root') AS SELECT k, v, x FROM ddl_src")
      assert(Snapshots.current(spark, root).get.id == 1L,
        "IF NOT EXISTS must not commit")
      // REPLACE refuses (snapshots are immutable)
      refuse(s"REPLACE TABLE graft_snap.ddl AS SELECT 1 AS k", "immutable")
      // PARTITIONED BY refuses (hidden partitioning is commit-declared)
      refuse(s"CREATE TABLE graft_snap.ddlp OPTIONS (path '$root-p') " +
        "PARTITIONED BY (k) AS SELECT k, v, x FROM ddl_src",
        "PARTITIONED BY")
      // CTAS into the warehouse conf when no location is given
      spark.conf.set(graft.plans.SnapshotDdl.WarehouseConf, wh)
      spark.sql("CREATE TABLE graft_snap.ddlwh AS SELECT k FROM ddl_src")
      assert(Snapshots.read(spark, s"$wh/ddlwh").count() == 3)
      // ALTER RENAME/DROP route to the metadata-only ops
      spark.sql("ALTER TABLE graft_snap.ddl RENAME COLUMN v TO val")
      assert(spark.sql("SELECT val FROM graft_snap.ddl").count() == 3)
      spark.sql("ALTER TABLE graft_snap.ddl DROP COLUMN x")
      assert(!spark.sql("SELECT * FROM graft_snap.ddl").columns.contains("x"))
      // dropping a missing column refuses; IF EXISTS no-ops
      refuse("ALTER TABLE graft_snap.ddl DROP COLUMN nope",
        "no such live column")
      spark.sql("ALTER TABLE graft_snap.ddl DROP COLUMN IF EXISTS nope")
      // maintenance: OPTIMIZE returns the new snapshot id
      spark.sql("INSERT INTO graft_snap.ddl VALUES (4, 'd')")
      val optId = spark.sql("OPTIMIZE graft_snap.ddl")
        .as[Long].collect()(0)
      assert(optId == Snapshots.current(spark, root).get.id)
      // DELETE then ROLLBACK undoes it
      spark.sql("DELETE FROM graft_snap.ddl WHERE k = 1")
      assert(spark.sql("SELECT count(*) FROM graft_snap.ddl")
        .as[Long].collect()(0) == 3L)
      spark.sql(s"ROLLBACK graft_snap.ddl TO SNAPSHOT $optId")
      assert(spark.sql("SELECT count(*) FROM graft_snap.ddl")
        .as[Long].collect()(0) == 4L)
      // EXPIRE then VACUUM reclaim history
      val expired = spark.sql(
        "EXPIRE SNAPSHOTS graft_snap.ddl KEEP LAST 2").as[Long].collect()(0)
      assert(expired > 0L)
      val vac = spark.sql("VACUUM graft_snap.ddl").as[Long].collect()(0)
      assert(vac > 0L)
      // the table still reads whole after maintenance
      assert(spark.sql("SELECT count(*) FROM graft_snap.ddl")
        .as[Long].collect()(0) == 4L)
      // rollback to an expired snapshot refuses loudly
      refuse("ROLLBACK graft_snap.ddl TO SNAPSHOT 1", "expired")
      // maintenance on an unknown alias refuses
      refuse("OPTIMIZE graft_snap.nosuchddl", "unknown snapshot alias")
      // malformed maintenance text fails in the DELEGATE parser, never
      // silently runs something else
      intercept[Exception] {
        spark.sql("EXPIRE SNAPSHOTS graft_snap.ddl KEEP LAST")
      }
      // SHOW TABLES lists the registered aliases with locations
      val shown = spark.sql("SHOW TABLES IN graft_snap").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(shown.contains("ddl") && shown("ddl") == root)
      assert(shown.contains("ddlwh"))
      // DESCRIBE HISTORY: the retained chain, newest first, no data IO
      val hist = spark.sql("DESCRIBE HISTORY graft_snap.ddl").collect()
      assert(hist.length == 2, // EXPIRE KEEP LAST 2 retained exactly 2
        s"expected 2 retained snapshots, got ${hist.length}")
      assert(hist.head.getLong(0) > hist.last.getLong(0),
        "history must list newest first")
      // DROP TABLE unregisters WITHOUT touching data
      spark.sql("DROP TABLE graft_snap.ddlwh")
      refuse("SELECT * FROM graft_snap.ddlwh", "TABLE_OR_VIEW_NOT_FOUND")
      assert(Snapshots.read(spark, s"$wh/ddlwh").count() == 3,
        "DROP TABLE must never delete data")
      refuse("DROP TABLE graft_snap.ddlwh", "unknown snapshot alias")
      spark.sql("DROP TABLE IF EXISTS graft_snap.ddlwh") // no-op, no error
    } finally {
      SnapshotSql.unregister("ddl"); SnapshotSql.unregister("ddlwh")
      spark.conf.unset(graft.plans.SnapshotDdl.WarehouseConf)
    }
  }

  test("s48: TIMESTAMP AS OF — commit stamps address main history; unstamped/absent bounds refuse loudly (round-19)") {
    import graft.ops.Snapshots
    import graft.plans.SnapshotSql
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapts").toString
    Snapshots.commitAppend(Seq((1L, "a")).toDF("k", "v"), root)
    Thread.sleep(25)
    val t1 = System.currentTimeMillis()
    Thread.sleep(25)
    Snapshots.commitAppend(Seq((2L, "b")).toDF("k", "v"), root)
    SnapshotSql.register("tsx", root)
    def ks(q: String): Set[Long] =
      spark.sql(q).select("k").as[Long].collect().toSet
    try {
      // a formatted UTC bound between the two commits → state 1
      // (Spark's analyzer pre-validates the expression as castable to
      // TIMESTAMP, so SQL bounds are timestamp strings; raw epoch
      // millis stay a Scala-API form)
      val f1 = java.time.Instant.ofEpochMilli(t1)
        .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
        .replace('T', ' ')
      assert(ks(s"SELECT k FROM graft_snap.tsx TIMESTAMP AS OF '$f1'") ==
        Set(1L))
      // far-future formatted bound → current state
      assert(ks("SELECT k FROM graft_snap.tsx TIMESTAMP AS OF " +
        "'2100-01-01'") == Set(1L, 2L))
      assert(ks("SELECT k FROM graft_snap.tsx TIMESTAMP AS OF " +
        "'2100-01-01 12:34:56'") == Set(1L, 2L))
      // before every stamped commit → loud, naming the contract
      val e = intercept[Exception] {
        spark.sql("SELECT k FROM graft_snap.tsx TIMESTAMP AS OF " +
          "'2000-01-01'").collect()
      }
      assert(e.getMessage.contains("at or before"))
      // VERSION AS OF unaffected
      assert(ks("SELECT k FROM graft_snap.tsx VERSION AS OF 1") == Set(1L))
      // the Scala API twin
      assert(Snapshots.readAsOf(spark, root, t1)
        .as[(Long, String)].collect().toSet == Set((1L, "a")))
      assert(Snapshots.snapshotAsOf(spark, root, t1).get.id == 1L)
    } finally SnapshotSql.unregister("tsx")
  }

  test("s41: an alias that itself ends in __v<N> stays reachable — full-alias registration wins over time-travel stripping") {
    import graft.ops.Snapshots
    import graft.plans.SnapshotSql
    import spark.implicits._
    val rootA = java.nio.file.Files.createTempDirectory("snapva").toString
    val rootB = java.nio.file.Files.createTempDirectory("snapvb").toString
    Snapshots.commitAppend(Seq((1L, "base")).toDF("k", "v"), rootA)
    Snapshots.commitAppend(Seq((2L, "base2")).toDF("k", "v"), rootA)
    Snapshots.commitAppend(Seq((9L, "lit")).toDF("k", "v"), rootB)
    SnapshotSql.register("foo", rootA)
    SnapshotSql.register("foo__v2", rootB)
    def ks(q: String): Set[Long] =
      spark.sql(q).select("k").as[Long].collect().toSet
    try {
      // the literal registration wins: foo__v2 is table B, NOT
      // time-travel to snap-2 of table A
      assert(ks("SELECT k FROM graft_snap.foo__v2") == Set(9L))
      // time travel on A stays reachable through its own syntax
      assert(ks("SELECT k FROM graft_snap.foo VERSION AS OF 1") == Set(1L))
      // with B unregistered, the suffix reverts to time-travel sugar
      SnapshotSql.unregister("foo__v2")
      assert(ks("SELECT k FROM graft_snap.foo__v2") == Set(1L, 2L))
      assert(ks("SELECT k FROM graft_snap.foo__v1") == Set(1L))
    } finally {
      SnapshotSql.unregister("foo"); SnapshotSql.unregister("foo__v2")
    }
  }
}
