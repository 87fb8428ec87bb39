package graft.deid

import graft.functions.DeidFunctions
import graft.sources.NdjsonSource
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles (scrub policy × resource schema) into a nested Column
  * projection — the engine's core custom operator (SURVEY §2.3 P1-P3).
  *
  * The reference walks each resource dict row-by-row in Python
  * (deid/scrubber.py:117-306); here the same allow-list semantics become
  * ONE generated `select` per resource type: unknown fields vanish via
  * projection (which also lets Catalyst prune the parquet/JSON scan),
  * per-leaf actions are builtin expressions or the HMAC expression, and
  * array elements are handled with higher-order functions — all inside
  * whole-stage codegen, no row UDF.
  *
  * Rejection semantics (P3): rows with unknown modifierExtensions (FHIR:
  * modifiers change meaning — scrubber.py:351-372) or no resourceType are
  * filtered out, via a compiled boolean alongside the projection.
  *
  * Conditional sub-schemas ("Identifier;system=..."), primitive
  * `_field` extensions, and the masked data-absent-reason sibling
  * extension are all emitted (see compileStruct / maskedSiblingFields
  * below) and parity-tested against the reference's golden fixtures
  * (ReferenceCompatSpec, DeidCompatSpec).
  */
object ScrubCompiler {

  /** Per-node compiled form: a projector and a reject predicate, both as
    * Column→Column so they compose inside array lambdas.
    */
  private case class Node(
      project: Column => Column,
      reject: Column => Column
  )

  private val noReject: Column => Column = _ => lit(false)

  /** Session-lifetime cache of the APPLIED (still unresolved) scrub
    * projection/reject Columns. Building the Column tree in Scala costs
    * ~1.9s per run for a wide FHIR schema — 45% of the ETL path's
    * per-run constant — and the tree is a pure function of the key
    * below: unresolved Columns reference input fields by NAME only, so
    * the identical immutable tree is valid against every relation with
    * the same schema (Catalyst copies on resolution, never mutates).
    * This caches an expression TEMPLATE, never data or results; the
    * codebook is part of the key by STRUCTURAL equality (salt + legacy
    * mappings — two codebooks may share an id string but differ in
    * content, e.g. test fixtures).
    */
  // Bounded LRU (ADVICE r10: the unbounded ConcurrentHashMap retained
  // every Column tree + codebook forever under schema/codebook churn).
  // 64 entries cover a full DefaultTasks run (20 resource types × the
  // nlp/philter variants actually used) with room; ETL processes one
  // schema per task, so eviction is a cold-compile (~1.9s), never a
  // correctness event. access-order LinkedHashMap, synchronized — the
  // compile is driver-side and rare, contention is irrelevant.
  private val AppliedCacheMax = 64
  private val appliedCache = new java.util.LinkedHashMap[
    (String, org.apache.spark.sql.types.StructType, ScrubPolicy, Boolean,
      Boolean, Codebook), (Column, Column)](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String,
          org.apache.spark.sql.types.StructType, ScrubPolicy, Boolean,
          Boolean, Codebook), (Column, Column)]): Boolean =
      size() > AppliedCacheMax
  }

  def scrub(
      df: DataFrame,
      resourceType: String,
      codebook: Codebook,
      policy: ScrubPolicy = DefaultScrubPolicy.policy,
      nlpMode: Boolean = false,
      philterEnabled: Boolean = false
  ): DataFrame = {
    // the engine's file-order column is not input data: it passes the
    // allow-list untouched, for the dedup after the scrub
    val carried = df.columns.filter(_ == NdjsonSource.FileSeq).toSeq.map(col)
    val input = df.drop(NdjsonSource.FileSeq)
    val key = (resourceType, input.schema, policy, nlpMode, philterEnabled,
      codebook)
    val (projCol, rejCol) = appliedCache.synchronized {
      val hit = appliedCache.get(key)
      if (hit != null) hit
      else {
        val ctx = Ctx(policy, codebook, nlpMode, philterEnabled,
          resourceType)
        val node = compileStruct(resourceType, input.schema, ctx)
        val rowCol = struct(input.columns.map(col): _*)
        val built = (node.project(rowCol), node.reject(rowCol))
        appliedCache.put(key, built)
        built
      }
    }
    df.filter(col("resourceType") === lit(resourceType))
      .filter(!rejCol)
      .select(projCol.as("__row") +: carried: _*)
      .filter(col("__row").isNotNull)
      .select(col("__row.*") +: carried: _*)
  }

  /** P2/A4: census of extension urls the policy drops — the side-output
    * report the reference prints at the end of a run
    * (deid/scrubber.py:94-102,343-349). One distributed count, no
    * mutation of the main flow.
    */
  def extensionCensus(
      df: DataFrame,
      resourceType: String,
      policy: ScrubPolicy = DefaultScrubPolicy.policy
  ): DataFrame = {
    val cols = df.columns.toSet
    val sources = Seq("extension", "modifierExtension").filter(cols)
    // ignored urls are dropped but never counted (scrub-rules.toml
    // [extensions] `ignored` — known urls the user needn't be warned of)
    val uncounted = array(
      (policy.allowedExtensions ++ policy.ignoredExtensions)
        .toSeq.sorted.map(lit): _*)
    val perCol = sources.map { c =>
      df.select(explode(col(c)).as("__e"))
        .select(col("__e.url").as("url"))
        .filter(!array_contains(uncounted, col("url")))
    }
    perCol
      .reduceOption(_ unionByName _)
      .getOrElse(df.sparkSession.emptyDataFrame
        .withColumn("url", lit(null).cast("string")))
      .groupBy(col("url"))
      .agg(count(lit(1)).as("n_dropped"))
      .withColumn("resource_type", lit(resourceType))
      .select("resource_type", "url", "n_dropped")
  }

  private case class Ctx(
      policy: ScrubPolicy,
      codebook: Codebook,
      nlpMode: Boolean,
      philterEnabled: Boolean,
      /** top-level resource type: anon-id consults its legacy mapping
        * (the reference passes resource_type into fake_id) */
      rootType: String
  )

  private val DarUrl =
    "http://hl7.org/fhir/StructureDefinition/data-absent-reason"

  /** Compile one named struct type against its policy. */
  private def compileStruct(
      typeName: String,
      schema: StructType,
      ctx: Ctx
  ): Node = {
    val rules = ctx.policy.resolve(typeName)
    val fieldNodes: Seq[(StructField, Node)] = schema.fields.toSeq.flatMap {
      f => compileField(typeName, f, rules, ctx).map(f -> _)
    }
    val maskedSiblings = maskedSiblingFields(typeName, schema, rules, ctx)
    // F7 as a scrub action (scrub-rules "check-system;…"): fields whose
    // rule is CheckSystem and whose sibling `system` exists in this
    // schema get the Epic-custom-system guard; a stripped value adds a
    // data-absent-reason extension to THIS node (scrubber.py
    // _add_data_absent_extension(parent) from the check-system path).
    val checkedTargets: Set[String] =
      if (!schema.fieldNames.contains("system")) Set.empty
      else schema.fields.map(_.name).filter { n =>
        (n == "code" || n == "display") &&
        rules.get(n).exists(_.isInstanceOf[Rule.CheckSystem])
      }.toSet
    val project: Column => Column = { input =>
      if (fieldNodes.isEmpty && maskedSiblings.isEmpty) lit(null)
      else {
        val checked: Option[Column] =
          if (checkedTargets.isEmpty) None
          else {
            def sib(n: String): Column =
              if (schema.fieldNames.contains(n)) input.getField(n)
              else lit(null).cast(StringType)
            Some(DeidFunctions.checkSystem(
              sib("system"), sib("code"), sib("display")))
          }
        val needMask: Column = checked match {
          case Some(ch) =>
            checkedTargets.toSeq.sorted.map { n =>
              input.getField(n).isNotNull && ch.getField(n).isNull
            }.reduce(_ || _)
          case None => lit(false)
        }
        val members = fieldNodes.map { case (f, n) =>
          val base =
            if (checkedTargets.contains(f.name))
              n.project(checked.get.getField(f.name))
            else n.project(input.getField(f.name))
          val c =
            if (f.name == "extension" && checkedTargets.nonEmpty)
              withMaskedMarker(base, needMask, maskedElemFor(f, ctx))
            else base
          c.as(f.name)
        } ++ maskedSiblings.map { name =>
          when(input.getField(name).isNotNull,
            struct(DeidFunctions.maskedExtension.as("extension")))
            .as(s"_$name")
        } ++ {
          // schema had no extension array to host the marker: emit one
          if (checkedTargets.nonEmpty &&
            !fieldNodes.exists(_._1.name == "extension"))
            Seq(when(needMask, array(syntheticMaskedElem(ctx)))
              .as("extension"))
          else Nil
        }
        val s = struct(members: _*)
        // Empty-struct pruning keyed on the INPUT fields, not the
        // projected members: every leaf/child projector is
        // null-preserving, so all-inputs-null ⇒ all-members-null, and
        // re-evaluating the member projections here would double the
        // expression tree at every nesting level (exponential blowup —
        // the wide FHIR schemas made analysis hang before this change).
        val anyInputSet = (fieldNodes.map { case (f, _) =>
          input.getField(f.name).isNotNull
        } ++ maskedSiblings.map(name => input.getField(name).isNotNull))
          .reduce(_ || _)
        when(input.isNull || !anyInputSet, lit(null)).otherwise(s)
      }
    }
    val reject: Column => Column = { input =>
      val rejects = fieldNodes.map { case (f, n) =>
        input.isNotNull && n.reject(input.getField(f.name))
      }
      if (rejects.isEmpty) lit(false) else rejects.reduce(_ || _)
    }
    Node(project, reject)
  }

  /** Append the data-absent-reason marker to an (already projected)
    * extension array when the check-system guard stripped a value;
    * idempotent like the reference (an existing data-absent-reason
    * extension is left in place, scrubber.py _add_data_absent_extension).
    */
  private def withMaskedMarker(
      base: Column,
      needMask: Column,
      marker: Column
  ): Column =
    when(!needMask, base)
      .when(base.isNull, array(marker))
      .when(exists(base, e => e.getField("url") === lit(DarUrl)), base)
      .otherwise(concat(base, array(marker)))

  /** Build the masked-marker element with the SAME projected type as the
    * host extension array: construct an input-typed element literal and
    * run it through the same compiled Extension projection.
    */
  private def maskedElemFor(field: StructField, ctx: Ctx): Column =
    field.dataType match {
      case ArrayType(st: StructType, _) =>
        val elem = compileStruct("Extension", st, ctx)
        elem.project(struct(st.fields.map { f =>
          (f.name match {
            case "url" => lit(DarUrl).cast(f.dataType)
            case "valueCode" => lit("masked").cast(f.dataType)
            case _ => lit(null).cast(f.dataType)
          }).as(f.name)
        }.toSeq: _*))
      case _ => syntheticMaskedElem(ctx)
    }

  /** Marker element when the input schema has no extension field. */
  private def syntheticMaskedElem(ctx: Ctx): Column = {
    val st = StructType(Seq(
      StructField("url", StringType),
      StructField("valueCode", StringType)))
    compileStruct("Extension", st, ctx).project(
      struct(lit(DarUrl).as("url"), lit("masked").as("valueCode")))
  }

  /** F5: masked primitive leaves get a sibling `_field` carrying the
    * data-absent-reason extension (scrubber.py:320-335). MaskNote only
    * masks outside NLP mode.
    */
  private def maskedSiblingFields(
      typeName: String,
      schema: StructType,
      rules: Map[String, Rule.Rule],
      ctx: Ctx
  ): Seq[String] =
    schema.fields.toSeq.collect {
      case f if rules.get(f.name).contains(Rule.Mask) => f.name
      case f if rules.get(f.name).contains(Rule.MaskNote) &&
        !ctx.nlpMode => f.name
    }

  /** Compile one field under its parent type's resolved rules; None =
    * field not in the allow-list → dropped.
    */
  private def compileField(
      parentType: String,
      field: StructField,
      rules: Map[String, Rule.Rule],
      ctx: Ctx
  ): Option[Node] = {
    import Rule._
    val isModifier = field.name == "modifierExtension"
    val isExtension = field.name == "extension" || isModifier
    // Primitive-extension nodes (`_field`, hl7.org/fhir/R4/json.html#primitive):
    // kept with the Element policy when the base field is allowed
    // (scrubber.py:150-157). If the base field is MASKED, the sibling is
    // superseded by the data-absent-reason marker the mask emits — the
    // original extensions are PHI-adjacent and conservatively dropped.
    if (field.name.startsWith("_")) {
      val base = field.name.drop(1)
      val baseRule = rules.get(base)
      val baseMasked = baseRule.contains(Mask) ||
        (baseRule.contains(MaskNote) && !ctx.nlpMode)
      if (baseRule.isEmpty || baseMasked) return None
      return field.dataType match {
        case st: StructType => Some(compileStruct("Element", st, ctx))
        case ArrayType(st: StructType, _) =>
          Some(arrayNode(compileStruct("Element", st, ctx)))
        case _ => None
      }
    }
    rules.get(field.name) match {
      case None => None
      case Some(rule) if isExtension =>
        // nested extensions of an allow-listed extension skip the url
        // filter (reference: inside_extension=True, scrubber.py:296-303)
        Some(compileExtensions(field, isModifier, ctx,
          insideExtension = parentType == "Extension"))
      case Some(Contained) =>
        field.dataType match {
          case ArrayType(st: StructType, _)
              if st.fieldNames.contains("resourceType") =>
            Some(arrayNode(containedNode(st, ctx)))
          case _ => None // no resourceType discriminator → can't dispatch
        }
      case Some(CheckSystem(inner)) =>
        // guard input is rewired at the struct level (sibling access);
        // here compile the post-check leaf action
        compileField(parentType, field, rules.updated(field.name, inner),
          ctx)
      case Some(TypeRef(t, conds)) =>
        field.dataType match {
          case st: StructType =>
            Some(conditioned(compileStruct(t, st, ctx), conds, st))
          case ArrayType(st: StructType, _) =>
            val elem = conditioned(compileStruct(t, st, ctx), conds, st)
            Some(arrayNode(elem))
          case _ =>
            // schema/policy disagree (e.g. policy expects an element but
            // data is a primitive): drop, like the reference's warn+skip
            None
        }
      case Some(leaf) =>
        field.dataType match {
          case _: StructType | ArrayType(_: StructType, _)
              if keepsValue(leaf, ctx) =>
            // leaf action on a struct-typed field is a policy/schema
            // mismatch: passing the struct through verbatim would skip
            // the allow-list entirely (nested PHI leak). The reference
            // rejects the whole resource here (scrubber.py SkipResource
            // on is_final_action == is_node); dropping just the field
            // is the same safety with less collateral.
            None
          case ArrayType(dt, _) =>
            val elem = leafNode(leaf, dt, ctx)
            Some(arrayNode(elem))
          case dt => Some(leafNode(leaf, dt, ctx))
        }
    }
  }

  /** Leaf rules that emit the input value (directly or transformed) —
    * the ones that must never see an unscrubbed struct. Mask variants
    * null the value, which is safe on any type.
    */
  private def keepsValue(rule: Rule.Rule, ctx: Ctx): Boolean = rule match {
    case Rule.Mask => false
    case Rule.MaskNote => ctx.nlpMode // nlp mode keeps the raw value
    case _ => true
  }

  /** Contained-resource element: scrub under the element's OWN
    * resourceType policy (reference `contained = "Resource"` action,
    * scrubber.py:117-129 via _scrub_resource_node). The element column
    * must have ONE static type, so the output struct is the union of
    * fields any candidate type allows, and each member is gated on the
    * resourceTypes whose policy allows it (base Resource fields pass
    * for every type — unknown types keep ONLY those, like the
    * reference's fallback to the basic Resource config). When several
    * candidate types allow a field, the first (sorted) type's
    * compilation applies — policies for a shared field name agree in
    * practice (they mirror one FHIR element definition).
    */
  private def containedNode(st: StructType, ctx: Ctx): Node = {
    val base = ctx.policy.resolve("Resource")
    val candidates = ctx.policy.resourceTypeNames.toSeq.sorted
    val perField: Seq[(StructField, Seq[String], Node)] =
      st.fields.toSeq.flatMap { f =>
        val typesAllowing = candidates.filter(t =>
          ctx.policy.resolve(t).contains(f.name))
        val inBase = base.contains(f.name)
        if (!inBase && typesAllowing.isEmpty) None
        else {
          // first candidate whose rule COMPILES for this field's shape
          // (a type declaring a scalar rule where the data is a struct
          // compiles to None — try the next; policies that agree with
          // the data shape agree with each other in practice)
          val canonicals =
            if (inBase) Seq("Resource") else typesAllowing
          val node = canonicals.iterator
            .map(t => compileField(t, f, ctx.policy.resolve(t), ctx))
            .collectFirst { case Some(n) => n }
          node.map { n =>
            // base fields apply to every contained type; others only
            // when the element's resourceType policy allows them
            val gate = if (inBase) Nil else typesAllowing
            (f, gate, n)
          }
        }
      }
    val project: Column => Column = { input =>
      if (perField.isEmpty) lit(null)
      else {
        val rt = input.getField("resourceType")
        val members = perField.map { case (f, gate, n) =>
          val v = n.project(input.getField(f.name))
          (if (gate.isEmpty) v
           else when(rt.isin(gate: _*), v)).as(f.name)
        }
        val anyInputSet = perField
          .map { case (f, _, _) => input.getField(f.name).isNotNull }
          .reduce(_ || _)
        when(input.isNull || !anyInputSet, lit(null))
          .otherwise(struct(members: _*))
      }
    }
    val reject: Column => Column = { input =>
      val rt = input.getField("resourceType")
      val rejects = perField.map { case (f, gate, n) =>
        val r = input.isNotNull && n.reject(input.getField(f.name))
        if (gate.isEmpty) r else rt.isin(gate: _*) && r
      }
      if (rejects.isEmpty) lit(false) else rejects.reduce(_ || _)
    }
    Node(project, reject)
  }

  /** Conditional sub-schema wrapper (scrubber.py:141-144): the node is
    * kept only when every condition field's value is in its allowed set;
    * non-matching nodes are silently dropped (SkipValue), and their
    * contents are never inspected — including for rejection.
    */
  private def conditioned(
      node: Node,
      conds: Map[String, Set[String]],
      schema: StructType
  ): Node =
    if (conds.isEmpty) node
    else {
      def matches(input: Column): Column =
        conds.toSeq.sortBy(_._1).map { case (k, vs) =>
          if (schema.fieldNames.contains(k))
            input.getField(k).isNotNull &&
              input.getField(k).isin(vs.toSeq.sorted: _*)
          else lit(false)
        }.reduce(_ && _)
      Node(
        project = in => when(matches(in), node.project(in)),
        reject = in => matches(in) && node.reject(in)
      )
    }

  /** Extension arrays: unknown urls dropped (counted upstream via P2's
    * census query); unknown modifierExtension urls reject the resource.
    */
  private def compileExtensions(
      field: StructField,
      isModifier: Boolean,
      ctx: Ctx,
      insideExtension: Boolean = false
  ): Node = {
    val allowed =
      if (isModifier) ctx.policy.allowedModifierExtensions
      else ctx.policy.allowedExtensions
    val allowedArr = array(allowed.toSeq.sorted.map(lit): _*)
    field.dataType match {
      case ArrayType(st: StructType, _) =>
        val elem = compileStruct("Extension", st, ctx)
        val project: Column => Column = { arr =>
          val kept =
            if (insideExtension) arr
            else filter(arr,
              e => array_contains(allowedArr, e.getField("url")))
          val projected = transform(kept, e => elem.project(e))
          val nonNull = filter(projected, x => x.isNotNull)
          when(arr.isNull || size(nonNull) === 0, lit(null))
            .otherwise(nonNull)
        }
        val reject: Column => Column = { arr =>
          if (isModifier && !insideExtension)
            arr.isNotNull && exists(arr,
              e => !array_contains(allowedArr, e.getField("url")))
          else lit(false)
        }
        Node(project, reject)
      case _ => Node(_ => lit(null), noReject)
    }
  }

  private def arrayNode(elem: Node): Node = Node(
    project = { arr =>
      val projected = transform(arr, e => elem.project(e))
      val nonNull = filter(projected, x => x.isNotNull)
      when(arr.isNull || size(nonNull) === 0, lit(null)).otherwise(nonNull)
    },
    reject = { arr => arr.isNotNull && exists(arr, e => elem.reject(e)) }
  )

  /** Leaf actions (SURVEY §2.4). Strings get the trim/empty-null cleanup
    * (F8) regardless of action, mirroring scrubber.py:236-243.
    */
  private def leafNode(rule: Rule.Rule, dt: DataType, ctx: Ctx): Node = {
    import Rule._
    val project: Column => Column = rule match {
      case Val =>
        c => if (dt == StringType) DeidFunctions.cleanString(c) else c
      case Philter =>
        // F6: opt-in philter pass over free-text leaves (the reference's
        // --philter flag, etl/cli.py:27-29); disabled → plain Val
        c =>
          val cleaned =
            if (dt == StringType) DeidFunctions.cleanString(c) else c
          if (ctx.philterEnabled) graft.deid.Philter.scrubText(cleaned)
          else cleaned
      case Year => c => DeidFunctions.yearOf(DeidFunctions.cleanString(c))
      case Zip => c => DeidFunctions.zipGeneralize(DeidFunctions.cleanString(c))
      case AnonId =>
        c => ctx.codebook.fakeIdFor(ctx.rootType, DeidFunctions.cleanString(c))
      case AnonRef => c => ctx.codebook.anonRef(DeidFunctions.cleanString(c))
      case Mask => _ => lit(null).cast(dt)
      case MaskNote =>
        if (ctx.nlpMode) c => c else _ => lit(null).cast(dt)
      case CheckSystem(inner) =>
        leafNode(inner, dt, ctx).project // unwrapped in compileField
      case Contained => c => c // unreachable; handled in compileField
      case TypeRef(_, _) => c => c // unreachable; handled in compileField
    }
    // absolute/URN references are unsupported by the reference's parser
    // (fhir_utils.py:65 RELATIVE_REFERENCE_REGEX; "FIXME: Support
    // absolute resources") — the ValueError rejects the whole resource
    // (scrubber.py unparsable value → row dropped)
    val reject: Column => Column = rule match {
      case AnonRef =>
        c => c.isNotNull &&
          (c.rlike("^[A-Za-z][A-Za-z0-9+.-]*://") || c.startsWith("urn:"))
      case _ => noReject
    }
    Node(project, reject)
  }
}
