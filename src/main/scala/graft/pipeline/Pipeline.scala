package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Cascade, Combine, Dedup, Normalize}
import graft.validate.Validations

/** v1.3-equivalent pipeline orchestration (SURVEY.md §3.1): one wide
  * Metadata frame in, one cleaned/validated frame per model node out, plus
  * validation-report frames.
  *
  * Spark-first design decisions vs the reference:
  *  - All cross-node derived columns (secondary ids J6, compound ids J7,
  *    parent pointers J5) are computed on the WIDE frame before node
  *    splitting — the reference's positional index-alignment becomes plain
  *    same-row column references, shuffle-free (SURVEY.md §7.4 risk 1).
  *  - Node frames stay lazy lineages off the shared wide scan; Catalyst
  *    prunes each node's projection down to its own columns, so the source
  *    is read once per action, columnar-pruned per node.
  *  - The only driver-side loops are per-level cascade (data-dependent,
  *    J8) and the spec iteration itself; no row-wise Python-style loops.
  *
  * Stage order mirrors `cds-transformation_v1.3.py:129-167`:
  * normalize → extract → ids → parent pointers → dedup/all-null-drop →
  * combine_rows → clean → ui/ssn validation → id validation + cascade.
  */
object Pipeline {

  /** J5 parent pointer: child column `"{parent}.{prop}"` sourced from the
    * same wide row's raw column `raw`. */
  final case class ParentPointer(parent: String, prop: String, raw: String)

  /** J7 compound id: node id synthesized from wide raw columns. */
  final case class CompoundId(parts: Seq[String], sep: String = "_")

  final case class NodeSpec(
      name: String,
      rawMapping: Seq[(String, String)],             // P1: raw col -> property
      idProp: String,                                // effective node id (§1.3)
      secondaryIdFrom: Option[String] = None,        // J6: raw col of parent id
      compoundId: Option[CompoundId] = None,         // J7
      parents: Seq[ParentPointer] = Nil,             // J5
      combineById: Boolean = false,                  // A2
      cleanDict: Map[String, Map[String, Option[String]]] = Map.empty, // P5
      enums: Map[String, Seq[String]] = Map.empty,   // P5 vocabularies
      nanValues: Map[String, String] = Map.empty,    // P5 null fills
      extraLongValues: Seq[String] = Nil,            // P5 shared too-long list
      intProps: Seq[String] = Nil,                   // P6
      uiRequired: Seq[String] = Nil,                 // V3
      ssnScanProp: Option[String] = None)            // V4

  final case class Result(
      nodes: Map[String, DataFrame],
      reports: Map[String, DataFrame])

  /** Build NodeSpecs from the reference's YAML artifacts (S9): graph model
    * + prop definitions, raw dict, clean dict, and the pipeline config
    * (`cds_config_example_v1.3.yaml` key shapes: NODE_ID_FIELDS:119-127,
    * PARENT_MAPPING_COLUMNS:22-62, COMBINE_NODE:64-73, REMOVE_NODES,
    * UI_REQUIRED). A reference user brings these files unchanged in shape.
    *
    * Derivations: enum vocabularies and integer props come from the model
    * prop definitions; per-prop clean dicts attach wherever the prop
    * appears on the node. Returns (specs, removeNodes). */
  def specsFromYaml(
      modelYaml: String,
      propsYaml: String,
      rawDictYaml: String,
      cleanDictYaml: String,
      configYaml: String): (Seq[NodeSpec], Set[String]) = {
    import graft.model.ModelLoader
    val model = ModelLoader.parseModel(modelYaml, propsYaml)
    val rawDict = ModelLoader.parseRawDict(rawDictYaml)
    val cleanFull = ModelLoader.parseCleanDictFull(cleanDictYaml)
    val cleanDict = cleanFull.mappings
    val cfgRoot = new org.yaml.snakeyaml.Yaml().load[Any](configYaml)
    import scala.jdk.CollectionConverters._
    def cfgMap(key: String): Map[String, Any] = cfgRoot match {
      case m: java.util.Map[_, _] =>
        m.asScala.collectFirst {
          case (k, v: java.util.Map[_, _]) if k.toString == key =>
            v.asScala.map { case (a, b) => a.toString -> (b: Any) }.toMap
        }.getOrElse(Map.empty)
      case _ => Map.empty
    }
    def cfgList(key: String): Seq[String] = cfgRoot match {
      case m: java.util.Map[_, _] =>
        m.asScala.collectFirst {
          case (k, v: java.util.List[_]) if k.toString == key =>
            v.asScala.map(_.toString).toSeq
        }.getOrElse(Nil)
      case _ => Nil
    }
    // list-of-objects config keys — the REAL reference config's shape
    // (cds_config_example_v1.3.yaml: PARENT_MAPPING_COLUMNS,
    // COMBINE_NODE, COMBINE_COLUMN, SECONDARY_ID_COLUMN are YAML lists
    // of {node: ..., ...} maps; NODE_ID_FIELD is the singular key)
    def cfgObjList(key: String): Seq[Map[String, String]] = cfgRoot match {
      case m: java.util.Map[_, _] =>
        m.asScala.collectFirst {
          case (k, v: java.util.List[_]) if k.toString == key =>
            v.asScala.toSeq.collect { case e: java.util.Map[_, _] =>
              e.asScala.map { case (a, b) =>
                a.toString -> (if (b == null) "" else b.toString)
              }.toMap
            }
        }.getOrElse(Nil)
      case _ => Nil
    }
    // the wide-frame raw column carrying a node's property: the first
    // raw-dict candidate mapping to it (P1's first-live-wins order), the
    // property name itself when unmapped
    def rawFor(node: String, prop: String): String =
      rawDict.getOrElse(node, Nil)
        .collectFirst { case (raw, p) if p == prop => raw }
        .getOrElse(prop)
    val ids = (cfgMap("NODE_ID_FIELDS") ++ cfgMap("NODE_ID_FIELD"))
      .map { case (k, v) => k -> v.toString }
    val combine = cfgMap("COMBINE_NODE").keySet ++
      cfgObjList("COMBINE_NODE").flatMap(_.get("node"))
    val uiRequired = cfgMap("UI_REQUIRED").map { case (k, v) =>
      k -> (v match {
        case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
        case s => Seq(s.toString)
      })
    }
    val parentLegacy = cfgMap("PARENT_MAPPING_COLUMNS").collect {
      case (child, v: java.util.List[_]) =>
        child -> v.asScala.toSeq.map { e =>
          val m = e.asInstanceOf[java.util.Map[_, _]].asScala
            .map { case (a, b) => a.toString -> b.toString }.toMap
          ParentPointer(m("parent"), m("property"), m("raw"))
        }
    }
    val parentReal = cfgObjList("PARENT_MAPPING_COLUMNS").flatMap { m =>
      for (n <- m.get("node"); p <- m.get("parent_node"); pr <- m.get("property"))
        yield n -> ParentPointer(p, pr, rawFor(p, pr))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val parentCfg = (parentLegacy.keySet ++ parentReal.keySet).map { k =>
      k -> (parentLegacy.getOrElse(k, Nil) ++ parentReal.getOrElse(k, Nil))
    }.toMap
    // J7 compound ids (COMBINE_COLUMN): columnN name the EXTERNAL node's
    // property (external_node set) or this node's own; parts resolve to
    // wide raw columns. Single-level: a part that is itself synthesized
    // (diagnosis' study_participant_id) resolves to its property name and
    // is skipped by projectNode when absent — the engine's disclosed
    // wide-frame form of the reference's positional cross-node concat.
    val compound = cfgObjList("COMBINE_COLUMN").flatMap { m =>
      for (n <- m.get("node"); c1 <- m.get("column1"); c2 <- m.get("column2"))
        yield {
          val ext = m.get("external_node")
            .filter(v => v.nonEmpty && !v.equalsIgnoreCase("false"))
          n -> CompoundId(Seq(ext.map(rawFor(_, c1)).getOrElse(rawFor(n, c1)),
            rawFor(n, c2)))
        }
    }.toMap
    // J6 secondary ids (SECONDARY_ID_COLUMN): "parent.property" → the
    // parent's wide raw column
    val secondary = cfgObjList("SECONDARY_ID_COLUMN").flatMap { m =>
      for (n <- m.get("node"); s <- m.get("secondary_id");
           if s.contains("."))
        yield {
          val Array(pn, pp) = s.split("\\.", 2)
          n -> rawFor(pn, pp)
        }
    }.toMap
    val specs = model.nodes.map { n =>
      val props = n.props.toSet
      NodeSpec(
        name = n.name,
        rawMapping = rawDict.getOrElse(n.name, n.props.map(p => p -> p)),
        idProp = ids.getOrElse(n.name, model.propDefs.collectFirst {
          case (p, d) if d.key && props(p) => p
        }.getOrElse(n.props.head)),
        secondaryIdFrom = secondary.get(n.name),
        compoundId = compound.get(n.name),
        parents = parentCfg.getOrElse(n.name, Nil),
        combineById = combine(n.name),
        cleanDict = cleanDict.filter { case (p, _) => props(p) },
        enums = model.propDefs.collect {
          case (p, d) if props(p) && d.enum.nonEmpty => p -> d.enum
        },
        nanValues = cleanFull.nanValues.filter { case (p, _) => props(p) },
        extraLongValues = cleanFull.extraLongValues,
        intProps = n.props.filter(p =>
          model.propDefs.get(p).exists(_.spark ==
            org.apache.spark.sql.types.LongType)),
        uiRequired = uiRequired.getOrElse(n.name, Nil),
        // V4: the reference always scans file.file_name for SSN-shaped
        // tokens (cds_transformation_functions.py:284-299); the config
        // has no key for it
        ssnScanProp = if (n.name == "file" && props("file_name")) Some("file_name") else None)
    }
    (specs, cfgList("REMOVE_NODES").toSet)
  }

  /** The split stage (P1 + J5/J6/J7): project one node's frame off the
    * wide Metadata frame. Parent pointers (J5) are same-row projections
    * `raw.as("{parent}.{prop}")` — the reference's positional
    * index-alignment (`cds-transformation_v1.3.py:83-95`) without a join
    * or shuffle. Public so the driver gate can exercise it directly
    * (`j5_parent_pointer`) with the exact code `run()` uses. */
  def projectNode(wide: DataFrame, spec: NodeSpec): DataFrame = {
    // one name->expression map, composed in rule order, emitted as a
    // SINGLE select — so the id rules stack instead of silently replacing
    // each other (a spec with BOTH compoundId and secondaryIdFrom gets the
    // compound id where its parts are live and the parent-id backfill
    // where they are not)
    var out = scala.collection.mutable.LinkedHashMap[String, Column]()
    spec.rawMapping.foreach { case (raw, prop) =>
      // first LIVE raw candidate per property wins (the P1 rule,
      // RawDict.extract) — a later candidate never overwrites
      if (wide.columns.contains(raw) && !out.contains(prop)) out(prop) = col(raw)
    }
    spec.parents.foreach { case ParentPointer(p, prop, raw) =>
      if (wide.columns.contains(raw)) out(s"$p.$prop") = col(raw)
    }
    // J7 compound id from the PRESENT wide raw parts (absent parts are
    // skipped, not referenced — a workbook missing an optional part column
    // still gets an id from the remaining parts)
    spec.compoundId.foreach { c =>
      val parts = c.parts.filter(wide.columns.contains)
      if (parts.nonEmpty)
        out(spec.idProp) = Combine.combineColumns(parts.map(col), c.sep)
    }
    // J6 secondary id: whatever id the node has so far (raw-mapped or
    // compound) backfilled from the parent's id column — same wide row,
    // coalesce, no join
    spec.secondaryIdFrom.foreach { parentRaw =>
      if (wide.columns.contains(parentRaw)) {
        val base = out.getOrElse(spec.idProp, lit(null).cast("string"))
        out(spec.idProp) = coalesce(base, col(parentRaw))
      }
    }
    wide.select(out.map { case (n, c) => c.as(n) }.toSeq: _*)
      .withColumn("type", lit(spec.name))
  }

  def run(
      wideRaw: DataFrame,
      specs: Seq[NodeSpec],
      removeNodes: Set[String] = Set.empty): Result = {

    // P3/P4 once on the wide frame (narrow, codegen'd, fused by Catalyst)
    val wide = Normalize.blanksToNull(Normalize.trimAll(wideRaw))

    val live = specs.filterNot(s => removeNodes.contains(s.name))

    // ---- split: project each node off the wide frame (P1 + J5/J6/J7) ----
    var nodes: Map[String, DataFrame] = live.map { spec =>
      spec.name -> projectNode(wide, spec)
    }.toMap

    // ---- per-node cleanup: dedup (A1), all-null drop (P7) ----
    nodes = nodes.map { case (name, df) =>
      val spec = live.find(_.name == name).get
      val originalProps = spec.rawMapping.map(_._2)
        .filter(df.columns.contains).filterNot(_ == spec.idProp)
      var d = Dedup.stringified(df)
      if (originalProps.nonEmpty) d = Dedup.dropAllNullRows(d, originalProps)
      name -> d
    }

    // ---- A2 combine_rows for configured nodes ----
    nodes = nodes.map { case (name, df) =>
      val spec = live.find(_.name == name).get
      if (spec.combineById && df.columns.contains(spec.idProp)) {
        val others = df.columns.filterNot(_ == spec.idProp).toSeq
        name -> Combine.combineRows(df, spec.idProp, others)
      } else name -> df
    }

    // ---- P5/P6 value normalization ----
    // Whether a prop is cleaned AT ALL is decided from the model props, as
    // the reference does (cds_transformation_functions.py:29-31): only
    // enum-typed props, and a lone-'TBD'/'not reported' vocabulary exempts
    // the prop entirely (free-text placeholder).
    nodes = nodes.map { case (name, df) =>
      val spec = live.find(_.name == name).get
      var d = df
      for ((prop, mapping) <- spec.cleanDict
           if d.columns.contains(prop) &&
             Normalize.enumCleanable(spec.enums.getOrElse(prop, Nil)))
        d = d.withColumn(prop,
          Normalize.cleanValues(col(prop), mapping, spec.enums.getOrElse(prop, Nil),
            spec.nanValues.get(prop), spec.extraLongValues))
      for (prop <- spec.intProps if d.columns.contains(prop))
        d = d.withColumn(prop, Normalize.losslessInt(col(prop)))
      name -> d
    }

    // ---- V3 UI fill + V4 SSN scan reports ----
    var reports = Map.empty[String, DataFrame]
    nodes = nodes.map { case (name, df) =>
      val spec = live.find(_.name == name).get
      val filled = if (spec.uiRequired.nonEmpty) Validations.uiFill(df, spec.uiRequired) else df
      spec.ssnScanProp.filter(filled.columns.contains).foreach { prop =>
        reports += s"ssn_$name" -> Validations.ssnScan(filled, prop)
          .select(col(prop), col("ssn_matches"))
      }
      name -> filled
    }

    // ---- V1/V2 id validation: offenders deleted with cascade (J8) ----
    val idSeeds: Map[String, DataFrame] = nodes.flatMap { case (name, df) =>
      val spec = live.find(_.name == name).get
      if (!df.columns.contains(spec.idProp)) None
      else {
        val nonId = df.columns.filterNot(c => c == spec.idProp || c == "type" || c.contains(".")).toSeq
        val conflicts = Validations.conflictColumns(df, spec.idProp, nonId)
          .filter(length(col("conflicted_columns")) > 0)
        reports += s"id_validation_$name" -> conflicts
        val offenders = conflicts.select(col(spec.idProp))
        if (offenders.isEmpty) None else Some(name -> offenders)
      }
    }

    val cascaded =
      if (idSeeds.isEmpty) nodes
      else Cascade.delete(
        nodes = nodes,
        parents = live.map(s => s.name -> s.parents.map(p =>
          Cascade.ParentRef(s"${p.parent}.${p.prop}", p.parent,
            live.find(_.name == p.parent).map(_.idProp).getOrElse(p.prop)))).toMap
          .filter(_._2.nonEmpty),
        ids = live.map(s => s.name -> s.idProp).toMap,
        seeds = idSeeds)

    Result(cascaded, reports)
  }
}
