package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Upsert/merge semantics of the reference's Delta Lake sink, re-expressed
  * as pure DataFrame transforms (no Delta on the classpath).
  *
  * Semantics mirrored (reference: cumulus_etl/formats/deltalake.py):
  *  - equi-merge on uniqueness keys, insert-when-not-matched
  *    (deltalake.py:110-119)
  *  - matched update guarded by a "lastUpdated"-style timestamp condition:
  *    update unless BOTH sides have the field and the update is strictly
  *    older (deltalake.py:187-232; `<=` keeps equal-timestamp refreshes)
  *  - insert-only mode (`update_existing=False`)
  *  - group replacement: target rows of a touched group that are absent
  *    from the update are deleted (`whenNotMatchedBySourceDelete`,
  *    deltalake.py:124-128)
  *  - delete-by-id (deltalake.py:134-153)
  *  - within-batch last-wins dedup on the merge keys
  *    (etl/tasks/base.py:303-335)
  *
  * Scale notes: the merge is one shuffle (full-outer hash join on the
  * keys); the touched-group probe is a broadcast join on the distinct
  * group values (small by construction — groups are export batches);
  * dedup is a single window over the same key partitioning, so AQE can
  * reuse the exchange.
  */
object MergeOps {

  /** Parameters of one output table's merge — the Spark-native equivalent
    * of the reference's `OutputTable` (etl/tasks/base.py:23-77).
    */
  case class MergeSpec(
      keys: Seq[String],
      updateExisting: Boolean = true,
      guardField: Option[String] = None,
      groupField: Option[String] = None
  )

  /** A1: dedup on `keys`, keeping the LAST occurrence by `order`
    * ("updates appended later win", etl/tasks/base.py:308-316).
    * One shuffle on `keys`; ordering columns must form a total order
    * within a key group for determinism.
    */
  def dedupLastWins(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column]
  ): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full merge: returns the post-merge table contents. Schema evolution:
    * the result has the union of both schemas (autoMerge behavior,
    * deltalake.py:71), missing columns null-filled.
    */
  def merge(target: DataFrame, updates: DataFrame, spec: MergeSpec): DataFrame = {
    val p = packedJoin(target, updates, spec)
    val takeUpdate = col("__u").isNotNull &&
      (col("__t").isNull || (lit(spec.updateExisting) && p.guardOk))
    val chosen = when(takeUpdate, col("__u")).otherwise(col("__t"))

    val unpacked = p.joined
      .select(col("__u").isNull.as("__targetOnly"), chosen.as("__row"))
      .select(col("__targetOnly"), col("__row.*"))

    val result = spec.groupField match {
      case Some(g) =>
        val touched = p.updates.select(col(g).as("__tg")).distinct()
        unpacked
          .join(broadcast(touched), col(g) === col("__tg"), "left_outer")
          .filter(!(col("__targetOnly") && col("__tg").isNotNull))
          .drop("__tg")
      case None => unpacked
    }
    result.drop("__targetOnly")
  }

  /** Change data feed of a [[merge]]: the row-level changes the merge
    * would apply, in Delta CDF vocabulary — `_change_type` ∈ `insert` /
    * `update_preimage` / `update_postimage` / `delete` (the feed Delta
    * emits when `delta.enableChangeDataFeed` is on; the reference's
    * sink tables could turn it on without any pipeline change). Derived
    * from the SAME full-outer key join as the merge itself — one
    * shuffle — with group-replace deletions probed against the
    * broadcast touched-groups set; matched rows blocked by the guard
    * (or by insert-only mode) emit nothing. Matched updates emit the
    * pre/post pair even when values are identical, like Delta.
    * [[IncrementalAgg]] consumes exactly this stream.
    */
  def changeFeed(
      target: DataFrame,
      updates: DataFrame,
      spec: MergeSpec
  ): DataFrame = {
    val p = packedJoin(target, updates, spec)
    val base = spec.groupField match {
      case Some(g) =>
        val touched = p.updates.select(col(g).as("__tg")).distinct()
        p.joined
          .join(broadcast(touched), col(s"__t.$g") === col("__tg"),
            "left_outer")
          .withColumn("__del",
            col("__u").isNull && col("__t").isNotNull &&
              col("__tg").isNotNull)
      case None => p.joined.withColumn("__del", lit(false))
    }
    val isInsert = col("__u").isNotNull && col("__t").isNull
    val isUpdate = col("__u").isNotNull && col("__t").isNotNull &&
      lit(spec.updateExisting) && p.guardOk
    def mk(ct: String, r: Column) =
      struct(lit(ct).as("_change_type"), r.as("__r"))
    base
      .select(explode(
        when(isInsert, array(mk("insert", col("__u"))))
          .when(isUpdate, array(mk("update_preimage", col("__t")),
            mk("update_postimage", col("__u"))))
          .when(col("__del"), array(mk("delete", col("__t"))))
          .otherwise(lit(null))
      ).as("__c"))
      .select(col("__c._change_type").as("_change_type") +:
        p.names.map(n => col(s"__c.__r.$n").as(n)): _*)
  }

  /** K3: delete rows whose id appears in `ids` (single key column in
    * `ids`). Distributed anti-join — no driver-side id collection, so the
    * reference's 50k-chunk OOM guard (deltalake.py:143-152) is unneeded.
    */
  def deleteByIds(df: DataFrame, key: String, ids: DataFrame): DataFrame = {
    val idCol = ids.columns.head
    df.join(
      broadcast(ids.select(col(idCol).as(key)).distinct()),
      Seq(key),
      "left_anti"
    )
  }

  /** The matched-update guard as a Column over the packed `__t`/`__u`
    * structs: update unless BOTH sides carry the timestamp and the update
    * is strictly older (deltalake.py:187-232; `<=` keeps equal-timestamp
    * refreshes). Mirrors the reference's auto-detection
    * (deltalake.py:120-122): a guard path absent from the merged schema
    * disables the guard instead of failing resolution, so the same
    * MergeSpec serves FHIR tables (which always have `meta.lastUpdated`)
    * and schema-less custom tables alike.
    */
  private def guardCondition(spec: MergeSpec, schema: StructType): Column =
    spec.guardField match {
      case Some(g) if hasPath(schema, g) =>
        col(s"__t.$g").isNull || col(s"__u.$g").isNull ||
        col(s"__t.$g").cast("timestamp") <= col(s"__u.$g").cast("timestamp")
      case _ => lit(true)
    }

  /** Whether the dotted `path` resolves through `schema` (struct fields
    * walked level by level).
    */
  private def hasPath(schema: StructType, path: String): Boolean = {
    def walk(dt: DataType, rest: List[String]): Boolean = (dt, rest) match {
      case (_, Nil) => true
      case (s: StructType, h :: t) =>
        s.fields.find(_.name == h).exists(f => walk(f.dataType, t))
      case _ => false
    }
    walk(schema, path.split('.').toList)
  }

  /** Both sides of a merge aligned to one shape, packed into `__t` /
    * `__u` structs and full-outer joined on the keys — the one shuffle
    * [[merge]] and [[changeFeed]] share. `updates` is the aligned batch.
    */
  private case class Packed(joined: DataFrame, updates: DataFrame,
      names: Seq[String], guardOk: Column)

  /** Schema evolution: the merged columns are the target's, then the
    * update-only ones; a column one side lacks is null-filled with the
    * other's type, and a nested column of another type is [[pad]]ded.
    * Columns of equal type (up to nullability) pass untouched, so merges
    * of equal schemas plan as before.
    */
  private def packedJoin(target: DataFrame, updates: DataFrame,
      spec: MergeSpec): Packed = {
    def types(df: DataFrame) = df.schema.map(f => f.name -> f.dataType).toMap
    val (tTypes, uTypes) = (types(target), types(updates))
    val names = target.columns.toSeq ++
      updates.columns.filterNot(tTypes.contains)
    def aligned(df: DataFrame, own: Map[String, DataType],
        other: Map[String, DataType], ownIsTarget: Boolean) =
      df.select(names.map(n => (own.get(n), other.get(n)) match {
        case (None, o) => lit(null).cast(o.get).as(n)
        case (Some(a), Some(b)) if !sameType(a, b) =>
          pad(col(n), a, b, ownIsTarget).as(n)
        case _ => col(n)
      }): _*)
    def packed(df: DataFrame, as: String) = df.select(
      spec.keys.map(col) :+ struct(names.map(col): _*).as(as): _*)
    val t = aligned(target, tTypes, uTypes, ownIsTarget = true)
    val u = aligned(updates, uTypes, tTypes, ownIsTarget = false)
    Packed(packed(t, "__t").join(packed(u, "__u"), spec.keys, "full_outer"),
      u, names, guardCondition(spec, t.schema))
  }

  /** Types equal up to nullability. */
  private def sameType(a: DataType, b: DataType): Boolean =
    a.catalogString == b.catalogString

  /** `c` (of type `own`) given the shape it shares with the other side's
    * type `other`: struct fields in target order then update-only ones,
    * the fields only `other` has null-filled, array elements alike, a
    * null struct kept null. Leaves keep their type: where the sides
    * differ (a long and a double), the merge's CASE WHEN coerces them to
    * Spark's wider type.
    */
  private def pad(c: Column, own: DataType, other: DataType,
      ownIsTarget: Boolean): Column = (own, other) match {
    case _ if sameType(own, other) => c
    case (o: StructType, x: StructType) =>
      val (t, u) = if (ownIsTarget) (o, x) else (x, o)
      val fields = (t.fieldNames ++ u.fieldNames.diff(t.fieldNames)).map {
        n => ((o.fields.find(_.name == n), x.fields.find(_.name == n)) match {
          case (Some(of), Some(xf)) =>
            pad(c.getField(n), of.dataType, xf.dataType, ownIsTarget)
          case (Some(_), None) => c.getField(n)
          case (None, xf) => lit(null).cast(xf.get.dataType)
        }).as(n)
      }
      when(c.isNull, lit(null)).otherwise(struct(fields.toIndexedSeq: _*))
    case (ArrayType(oe, _), ArrayType(xe, _)) =>
      transform(c, pad(_, oe, xe, ownIsTarget))
    case _ => c
  }
}
