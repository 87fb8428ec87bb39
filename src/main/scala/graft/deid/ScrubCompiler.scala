package graft.deid

import graft.functions.DeidFunctions
import graft.sources.NdjsonSource
import org.apache.spark.SparkEnv
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row,
  SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences,
  BoundReference, Expression, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Compiles (scrub policy × resource schema) into a nested Column
  * projection — the engine's core custom operator (SURVEY §2.3 P1-P3).
  *
  * The reference walks each resource dict row-by-row in Python
  * (deid/scrubber.py:117-306); here the same allow-list semantics become
  * ONE filter/project chain per (resource type, input schema): unknown
  * fields vanish via projection, per-leaf actions are builtin
  * expressions or the HMAC expression, and array elements are handled
  * with higher-order functions — generated code, no row UDF.
  *
  * The chain is analysed and optimised ONCE per schema, over an empty
  * placeholder relation, and cached as bound Catalyst expressions; every
  * call then runs it over the input's rows directly (see [[scrub]]), so
  * a repeat batch pays no Catalyst analysis of the wide FHIR projection.
  * Its generated classes compile once per JVM: each task generates the
  * predicate and projection source again, and finds the compiled class
  * in Spark's generated-class cache, which [[graft.GraftSession]] sizes
  * to hold the engine's working set.
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

  /** One step of a planned scrub, its expressions bound to the column
    * positions of the step's input rows.
    */
  private sealed trait Step
  private final case class Keep(condition: Expression) extends Step
  private final case class Emit(exprs: Seq[Expression]) extends Step

  /** A scrub planned for one input schema: its steps, bottom-up, and
    * the schema of the rows the last step yields. The steps are kept
    * serialized: the bound trees hold Catalyst's per-node lazy state
    * (about 8 MB of driver heap for a wide Encounter schema, several
    * times their serialized size), and every task deserializes its own
    * copy anyway.
    */
  private final case class Planned(steps: Array[Byte], schema: StructType)

  /** Everything a planned scrub is a pure function of. The schema is
    * the input's without `__file_seq`: the expressions are bound by
    * column position, and [[carry]] passes that column through by
    * position, so a frame with it and one without share one plan. ANSI
    * mode and the session time zone are baked into expressions at
    * analysis. The codebook compares STRUCTURALLY (salt + legacy
    * mappings — two codebooks may share an id string but differ in
    * content, e.g. test fixtures).
    */
  private final case class Key(
      resourceType: String,
      schema: StructType,
      policy: ScrubPolicy,
      nlpMode: Boolean,
      philterEnabled: Boolean,
      codebook: Codebook,
      ansi: String,
      timeZone: String
  )

  /** Session-lifetime cache of PLANNED scrubs: analysing, optimising and
    * binding the wide FHIR projection costs seconds per schema, and the
    * result depends on nothing but the [[Key]]. It holds expression
    * templates, never data or results.
    */
  // Bounded LRU (ADVICE r10: an unbounded map retained every plan +
  // codebook forever under schema/codebook churn). 64 entries cover a
  // full DefaultTasks run (20 resource types × the nlp/philter variants
  // actually used) with room; eviction is a cold compile, never a
  // correctness event. access-order LinkedHashMap, synchronized; the
  // compile itself runs outside the lock, so two threads that miss on
  // one key may both plan it, and neither waits on the other.
  private val PlannedCacheMax = 64
  private val plannedCache =
    new java.util.LinkedHashMap[Key, Planned](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, Planned]): Boolean =
        size() > PlannedCacheMax
    }

  /** Scrub `df`'s rows of `resourceType`. The result is a leaf relation
    * over `df`'s rows: the planned chain runs per partition with
    * generated predicates and projections, fresh instances per partition
    * (they are not thread-safe) of classes compiled once per JVM, and
    * Catalyst sees no scrub expression above it. The engine's file-order column is not input
    * data: it passes the allow-list untouched, as the last column, for
    * the dedup after the scrub.
    */
  def scrub(
      df: DataFrame,
      resourceType: String,
      codebook: Codebook,
      policy: ScrubPolicy = DefaultScrubPolicy.policy,
      nlpMode: Boolean = false,
      philterEnabled: Boolean = false
  ): DataFrame = {
    val seqAt = Some(df.columns.indexOf(NdjsonSource.FileSeq)).filter(_ >= 0)
    val input = StructType(df.schema.filter(_.name != NdjsonSource.FileSeq))
    val conf = df.sparkSession.conf
    val key = Key(resourceType, input, policy, nlpMode, philterEnabled,
      codebook, conf.get(SQLConf.ANSI_ENABLED.key),
      conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    val planned = Option(plannedCache.synchronized(plannedCache.get(key)))
      .getOrElse {
        val built = plan(df.sparkSession, key)
        plannedCache.synchronized(plannedCache.put(key, built))
        built
      }
    val carried = seqAt.map { k =>
      require(k == input.length,
        s"${NdjsonSource.FileSeq} must be the last column of the scrub input")
      (k, df.schema(k))
    }
    val bytes = planned.steps
    val rows = df.queryExecution.toRdd.mapPartitionsWithIndex { (i, it) =>
      val stored = SparkEnv.get.closureSerializer.newInstance()
        .deserialize[Seq[Step]](java.nio.ByteBuffer.wrap(bytes))
      val steps = carried.fold(stored) { case (k, f) => carry(stored, k, f) }
      steps.foldLeft(it) {
        case (rows, Keep(c)) =>
          val p = Predicate.create(c)
          p.initialize(i)
          rows.filter(p.eval)
        case (rows, Emit(es)) =>
          val p = UnsafeProjection.create(es)
          p.initialize(i)
          rows.map(p)
      }
    }
    GraftColumnBridge.internalCreateDataFrame(df.sparkSession, rows,
      carried.fold(planned.schema)(c => planned.schema.add(c._2)))
  }

  /** Analyse and optimise the scrub for `key`'s input schema over an
    * empty placeholder relation, and bind the optimised Filter/Project
    * chain. The full optimizer also rewrites the `RuntimeReplaceable`
    * and `With` expressions, which cannot be evaluated as they are.
    */
  private def plan(spark: SparkSession, key: Key): Planned = {
    val placeholder = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], key.schema)
    val ctx = Ctx(key.policy, key.codebook, key.nlpMode, key.philterEnabled,
      key.resourceType)
    val node = compileStruct(key.resourceType, key.schema, ctx)
    val rowCol = struct(placeholder.columns.map(col): _*)
    val scrubbed = placeholder
      .filter(col("resourceType") === lit(key.resourceType))
      .filter(!node.reject(rowCol))
      .select(node.project(rowCol).as("__row"))
      .filter(col("__row").isNotNull)
      .select(col("__row.*"))
    def chain(p: LogicalPlan): (Seq[Step], Seq[Attribute]) = p match {
      case Filter(c, child) =>
        val (steps, in) = chain(child)
        (steps :+ Keep(BindReferences.bindReference(c, in)), in)
      case Project(list, child) =>
        val (steps, in) = chain(child)
        (steps :+ Emit(BindReferences.bindReferences(list, in)), p.output)
      case leaf: LogicalRDD => (Nil, leaf.output)
      case other =>
        throw new IllegalStateException(s"scrub of ${key.resourceType} " +
          s"planned to ${other.nodeName}, not a filter/project chain")
    }
    val steps = chain(scrubbed.queryExecution.optimizedPlan)._1
    val bytes = SparkEnv.get.closureSerializer.newInstance().serialize(steps)
    Planned(java.util.Arrays.copyOfRange(bytes.array(),
      bytes.arrayOffset() + bytes.position(),
      bytes.arrayOffset() + bytes.limit()), scrubbed.schema)
  }

  /** `steps` run over rows that hold `carried` after the columns they
    * were planned for, at position `at`: the steps up to the first
    * projection never read it, and each projection passes it on as its
    * last column.
    */
  private def carry(steps: Seq[Step], at: Int, carried: StructField)
      : Seq[Step] = {
    var pos = at
    steps.map {
      case keep: Keep => keep
      case Emit(es) =>
        val carrying = Emit(es :+
          BoundReference(pos, carried.dataType, carried.nullable))
        pos = es.length
        carrying
    }
  }

  /** P2/A4: census of extension urls the policy drops — the side-output
    * report the reference prints at the end of a run
    * (deid/scrubber.py:94-102,343-349). One distributed count over ONE
    * pass of `df`, no mutation of the main flow.
    */
  def extensionCensus(
      df: DataFrame,
      resourceType: String,
      policy: ScrubPolicy = DefaultScrubPolicy.policy
  ): DataFrame = {
    val cols = df.columns.toSet
    val noUrls = typedLit(Seq.empty[String])
    val urls = Seq("extension", "modifierExtension").filter(cols).map { c =>
      coalesce(transform(col(c), _.getField("url")), noUrls)
    }
    // ignored urls are dropped but never counted (scrub-rules.toml
    // [extensions] `ignored` — known urls the user needn't be warned of)
    val uncounted = array(
      (policy.allowedExtensions ++ policy.ignoredExtensions)
        .toSeq.sorted.map(lit): _*)
    val dropped = filter(if (urls.isEmpty) noUrls else concat(urls: _*),
      u => !array_contains(uncounted, u))
    df.select(explode_outer(dropped).as("url"))
      .groupBy(col("url"))
      .agg(count(col("url")).as("n_dropped"))
      // a row that drops nothing reaches the aggregation as the null url
      // (count 0) and leaves only here: the shuffle is then empty only
      // when `df` is. AQE prunes an empty shuffle's stage, and with it
      // the metrics of any observation on `df`.
      .filter(col("n_dropped") > 0)
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
