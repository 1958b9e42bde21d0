package graft

import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.{CompoundId, NodeSpec, ParentPointer}

/** Golden end-to-end test: an F1-style wide Metadata fixture (FIXTURES.md)
  * through the full v1.3-equivalent pipeline — extract, ids, parent
  * pointers, dedup, combine, clean, UI/SSN validation, id validation with
  * cascade — asserting the per-node outputs. */
class PipelineSpec extends SparkSpec {

  import spark.implicits._

  private def fixture = Seq(
    // phs, study_name, participant_id, gender, sample_id, sample_type, GUID, file_name, file_size
    ("phs001", "Study A", "p1", "female", "s1", "Tumor", "g1", "a.bam", "100.0"),
    ("phs001", "Study A ", "p1", "Female", "s2", "Normal", "g2", "b 123-45-6789.bam", "200"),
    ("phs001", "Study A", "p1", "female", "s1", "Tumor", "g1", "a.bam", "100.0"), // exact dup
    ("phs001", null, "p2", " male ", "s3", "Tumor", "g3", "c.bam", "300"),
    ("phs001", "Study A", "p2", "male", "s3", "Normal", "g4", "d.bam", "400") // s3 conflict
  ).toDF("phs_accession", "study_name", "participant_id", "gender",
    "sample_id", "sample_type", "GUID", "file_name", "file_size")

  private def specs = Seq(
    NodeSpec("study",
      rawMapping = Seq("phs_accession" -> "phs_accession", "study_name" -> "study_name"),
      idProp = "phs_accession",
      combineById = true),
    NodeSpec("participant",
      rawMapping = Seq("participant_id" -> "participant_id", "gender" -> "gender"),
      idProp = "participant_id",
      parents = Seq(ParentPointer("study", "phs_accession", "phs_accession")),
      cleanDict = Map("gender" -> Map("female" -> Some("Female"), "male" -> Some("Male"))),
      enums = Map("gender" -> Seq("Male", "Female"))),
    NodeSpec("sample",
      rawMapping = Seq("sample_id" -> "sample_id", "sample_type" -> "sample_type"),
      idProp = "sample_id",
      parents = Seq(ParentPointer("participant", "participant_id", "participant_id"))),
    NodeSpec("file",
      rawMapping = Seq("GUID" -> "file_id", "file_name" -> "file_name",
        "file_size" -> "file_size"),
      idProp = "file_id",
      parents = Seq(ParentPointer("sample", "sample_id", "sample_id")),
      intProps = Seq("file_size"),
      uiRequired = Seq("file_name", "license"),
      ssnScanProp = Some("file_name")))

  test("full pipeline produces cleaned, validated, cascaded node frames") {
    val out = Pipeline.run(fixture, specs)

    // study: combine_rows merged the duplicate study rows into one
    val study = out.nodes("study").collect()
    assert(study.length == 1)
    assert(study(0).getAs[String]("study_name") == "Study A") // trimmed, deduped
    assert(study(0).getAs[String]("phs_accession") == "phs001")

    // participant: gender normalized to the vocabulary; p1 survives
    val partRows = out.nodes("participant")
      .select("participant_id", "gender").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(partRows == Set(("p1", "Female"), ("p2", "Male")))

    // sample: s3 (conflicting sample_type across duplicate id) deleted
    val samples = out.nodes("sample").select("sample_id").as[String].collect().toSet
    assert(samples == Set("s1", "s2"))

    // file: g3/g4 cascaded away with s3; file_size integer-coerced;
    // absent UI-required column injected
    val files = out.nodes("file")
      .select("file_id", "file_size", "license").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(files == Set(
      ("g1", "100", "Not specified in data"),
      ("g2", "200", "Not specified in data")))

    // reports: SSN scan caught the planted value; id validation names s3
    val ssn = out.reports("ssn_file").collect()
    assert(ssn.length == 1 && ssn(0).getAs[String]("ssn_matches") == "123-45-6789")
    val idv = out.reports("id_validation_sample").collect()
    assert(idv.length == 1 && idv(0).getString(0) == "s3"
      && idv(0).getAs[String]("conflicted_columns") == "sample_type")
  }

  test("specsFromYaml parses the REAL reference config's key shapes") {
    val refDir = sys.env.getOrElse("GRAFT_REFERENCE_DIR", "/root/reference")
    def slurp(rel: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(refDir, rel)),
      java.nio.charset.StandardCharsets.UTF_8)
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(refDir)))
    val (specs, remove) = Pipeline.specsFromYaml(
      slurp("3-Model-Files/cds-model.yml"),
      slurp("3-Model-Files/cds-model-props.yml"),
      slurp("2-Config-Files/cds_config_v1.3/cds_raw_dict_v1.3.yaml"),
      slurp("2-Config-Files/cds_config_v1.3/cds_clean_dict_v1.3.yaml"),
      slurp("2-Config-Files/cds_config_v1.3/cds_config_example_v1.3.yaml"))
    assert(remove == Set("treatment")) // REMOVE_NODES
    val byName = specs.map(s => s.name -> s).toMap
    // NODE_ID_FIELD (singular, dict-shaped)
    assert(byName("participant").idProp == "study_participant_id")
    assert(byName("study").idProp == "phs_accession")
    assert(byName("file").idProp == "file_id")
    // COMBINE_NODE (list of {node, id_column})
    assert(byName("study").combineById && byName("program").combineById
      && byName("diagnosis").combineById)
    assert(!byName("participant").combineById)
    // PARENT_MAPPING_COLUMNS (list shape) -> wide raw columns via the
    // real raw dict
    assert(byName("participant").parents ==
      Seq(Pipeline.ParentPointer("study", "phs_accession", "phs_accession")))
    assert(byName("sample").parents == Seq(Pipeline.ParentPointer(
      "participant", "study_participant_id", "study_participant_id")))
    // COMBINE_COLUMN -> J7 compound ids (external node's property
    // resolves through ITS raw dict)
    assert(byName("participant").compoundId.contains(
      Pipeline.CompoundId(Seq("phs_accession", "participant_id"))))
    assert(byName("sample").compoundId.contains(
      Pipeline.CompoundId(Seq("sample_id", "sample_type"))))
    // SECONDARY_ID_COLUMN -> J6 parent raw columns
    assert(byName("diagnosis").secondaryIdFrom.contains("participant_id"))
    assert(byName("genomic_info").secondaryIdFrom.contains("GUID"),
      "file_id's first raw candidate in the real dict is GUID")
    // real clean-dict + enum wiring on the participant node
    val p = byName("participant")
    assert(p.cleanDict("gender")("MALE").contains("male")) // the real quirk
    assert(p.enums("gender").contains("Unspecified"))
  }

  test("Jenkins .j2 config renders and parses to the SAME specs as the v1.3 example") {
    val refDir = sys.env.getOrElse("GRAFT_REFERENCE_DIR", "/root/reference")
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(refDir)))
    def slurp(rel: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(refDir, rel)),
      java.nio.charset.StandardCharsets.UTF_8)
    val rendered = graft.model.ModelLoader.renderTemplate(
      slurp("2-Config-Files/cds_config_v1.3/cds_config_jenkins_v1.3.yaml.j2"),
      Map("data_batch_name" -> "cds_data_2024-3-5-March",
        "s3_bucket" -> "s3", "s3_rawdata_subfolder" -> "cds_data_2024-3-5-March"))
    assert(!rendered.contains("{{"), "no placeholder may survive rendering")
    def specsFor(configYaml: String) = Pipeline.specsFromYaml(
      slurp("3-Model-Files/cds-model.yml"),
      slurp("3-Model-Files/cds-model-props.yml"),
      slurp("2-Config-Files/cds_config_v1.3/cds_raw_dict_v1.3.yaml"),
      slurp("2-Config-Files/cds_config_v1.3/cds_clean_dict_v1.3.yaml"),
      configYaml)
    // the CI variant differs from the example ONLY in the substituted
    // scalars — every derived pipeline spec must be IDENTICAL
    assert(specsFor(rendered) == specsFor(
      slurp("2-Config-Files/cds_config_v1.3/cds_config_example_v1.3.yaml")))
    // an unbound placeholder fails loudly with the variable name
    val ex = intercept[RuntimeException] {
      graft.model.ModelLoader.renderTemplate("K: {{ missing_var }}", Map.empty)
    }
    assert(ex.getMessage.contains("missing_var"))
  }

  test("specsFromYaml drives the same pipeline from reference-shaped YAML") {
    val modelYaml =
      """Nodes:
        |  study:
        |    Props: [phs_accession, study_name]
        |  participant:
        |    Props: [participant_id, gender]
        |  file:
        |    Props: [file_id, file_name, file_size]
        |Relationships:
        |  of_study:
        |    Mul: many_to_one
        |    Ends:
        |      - Src: participant
        |        Dst: study
        |""".stripMargin
    val propsYaml =
      """PropDefinitions:
        |  phs_accession: {Type: string, Key: true}
        |  study_name: {Type: string}
        |  participant_id: {Type: string, Key: true}
        |  gender:
        |    Enum: [Male, Female]
        |  file_id: {Type: string, Key: true}
        |  file_name: {Type: string}
        |  file_size: {Type: string}
        |""".stripMargin
    val rawDictYaml =
      """study:
        |  phs_accession: phs_accession
        |  study_name: study_name
        |participant:
        |  participant_id: participant_id
        |  gender: gender
        |file:
        |  GUID: file_id
        |  file_name: file_name
        |  file_size: file_size
        |""".stripMargin
    val cleanDictYaml =
      """gender:
        |  female: Female
        |  male: Male
        |""".stripMargin
    val configYaml =
      """NODE_ID_FIELDS:
        |  study: phs_accession
        |  participant: participant_id
        |  file: file_id
        |COMBINE_NODE:
        |  study: phs_accession
        |PARENT_MAPPING_COLUMNS:
        |  participant:
        |    - parent: study
        |      property: phs_accession
        |      raw: phs_accession
        |""".stripMargin
    val (specs2, remove) = Pipeline.specsFromYaml(
      modelYaml, propsYaml, rawDictYaml, cleanDictYaml, configYaml)
    assert(remove.isEmpty)
    val out = Pipeline.run(fixture, specs2)
    assert(out.nodes("study").count() == 1)
    val partRows = out.nodes("participant")
      .select("participant_id", "gender").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(partRows == Set(("p1", "Female"), ("p2", "Male")))
    assert(out.nodes("participant").columns.contains("study.phs_accession"))
    // V4: the config has no key for the SSN scan; the reference always
    // scans file.file_name, so the YAML-built file spec does too
    assert(specs2.map(s => s.name -> s.ssnScanProp).toMap ==
      Map("study" -> None, "participant" -> None, "file" -> Some("file_name")))
    val ssn = out.reports("ssn_file").select("file_name", "ssn_matches").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(ssn == Seq(("b 123-45-6789.bam", "123-45-6789")))
  }

  test("props-driven cleaning e2e: nan_value, extra_long_values, lone-TBD exemption") {
    val longVal = "Library construction is performed using a very long protocol " + ("x" * 40)
    val wide = Seq(
      ("p1", "female", "hispanic"),
      ("p2", null, "latino"),
      ("p3", longVal, "not collected")
    ).toDF("participant_id", "gender", "ethnicity")
    val modelYaml =
      """Nodes:
        |  participant:
        |    Props: [participant_id, gender, ethnicity]
        |""".stripMargin
    val propsYaml =
      """PropDefinitions:
        |  participant_id: {Type: string, Key: true}
        |  gender:
        |    Enum: [Male, Female]
        |  ethnicity:
        |    Enum: [TBD]
        |""".stripMargin
    val rawDictYaml =
      """participant:
        |  participant_id: participant_id
        |  gender: gender
        |  ethnicity: ethnicity
        |""".stripMargin
    // ethnicity HAS a clean-dict entry, but its lone-TBD enum exempts the
    // prop (cds_transformation_functions.py:29-31) — values pass through
    val cleanDictYaml =
      s"""gender:
         |  female: Female
         |  nan_value: Unknown
         |ethnicity:
         |  latino: Hispanic or Latino
         |extra_long_values:
         |  - "$longVal"
         |""".stripMargin
    val configYaml =
      """NODE_ID_FIELDS:
        |  participant: participant_id
        |""".stripMargin
    val (sp, _) = Pipeline.specsFromYaml(
      modelYaml, propsYaml, rawDictYaml, cleanDictYaml, configYaml)
    val out = Pipeline.run(wide, sp)
    val rows = out.nodes("participant")
      .select("participant_id", "gender", "ethnicity").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(
      ("p1", "Female", "hispanic"),          // mapped; TBD-exempt passthrough
      ("p2", "Unknown", "latino"),           // nan_value fill; exempt (NOT 'Hispanic or Latino')
      ("p3", "Not specified in data", "not collected"))) // extra-long sink
  }

  test("incremental pipeline: streamed workbooks append the same node output") {
    val srcDir = java.nio.file.Files.createTempDirectory("inc_src").toString
    val outDir = java.nio.file.Files.createTempDirectory("inc_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("inc_ck").toString
    // two "workbooks" land as separate files -> separate micro-batches
    val rows = fixture.collect()
    val schema = fixture.schema
    // the file stream source lists FILES, not subdirectories: write each
    // workbook to a scratch dir and move its single part file in
    def landFile(part: Seq[org.apache.spark.sql.Row], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("inc_wb").toString
      spark.createDataFrame(spark.sparkContext.parallelize(part, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val partFile = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(partFile.toPath,
        java.nio.file.Paths.get(srcDir, name))
    }
    landFile(rows.take(3).toSeq, "wb1.parquet")
    landFile(rows.drop(3).toSeq, "wb2.parquet")

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = graft.pipeline.Incremental.start(stream, specs, outDir, ckDir)
    try q.processAllAvailable() finally q.stop()

    val files = spark.read.parquet(s"$outDir/file")
      .select("file_id").as[String].collect().toSet
    // batch 1 (rows 1-3): s1/s2 clean -> g1, g2 survive
    // batch 2 (rows 4-5): s3 conflicts within its batch -> g3, g4 cascade away
    assert(files == Set("g1", "g2"))
    val ssn = spark.read.parquet(s"$outDir/_reports/ssn_file").collect()
    assert(ssn.length == 1)
  }

  test("incremental + SeenKeys: a workbook re-delivered in a later batch lands once") {
    val srcDir = java.nio.file.Files.createTempDirectory("inc2_src").toString
    val outDir = java.nio.file.Files.createTempDirectory("inc2_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("inc2_ck").toString
    val stDir = java.nio.file.Files.createTempDirectory("inc2_state").toString
    val rows = fixture.collect()
    val schema = fixture.schema
    def landFile(part: Seq[org.apache.spark.sql.Row], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("inc2_wb").toString
      spark.createDataFrame(spark.sparkContext.parallelize(part, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val partFile = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(partFile.toPath,
        java.nio.file.Paths.get(srcDir, name))
    }
    // batch 1: rows 1-2 (g1, g2); batch 2 RE-DELIVERS g1's row + adds g2's
    // again — without cross-batch state both would re-append
    landFile(rows.take(2).toSeq, "wb1.parquet")
    landFile(rows.take(2).toSeq, "wb2.parquet")

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = graft.pipeline.Incremental.start(stream, specs, outDir, ckDir,
      crossBatchKey = Some(("GUID", stDir)))
    try q.processAllAvailable() finally q.stop()

    import spark.implicits._
    val files = spark.read.parquet(s"$outDir/file")
      .select("file_id").as[String].collect().toSeq.sorted
    assert(files == Seq("g1", "g2"), s"cross-batch dedup failed: $files")
    // and the state absorbed both keys for future runs
    assert(graft.state.SeenKeys.load(spark, stDir).count() == 2)
  }

  test("removeNodes (H3) drops configured nodes before processing") {
    val out = Pipeline.run(fixture, specs, removeNodes = Set("file"))
    assert(!out.nodes.contains("file"))
    assert(out.nodes.keySet == Set("study", "participant", "sample"))
  }
}
