package graft.catalog

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate, PredicateHelper}
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The one partition-value format. A stored spec maps each partition
  * column to a string: the typed value cast to STRING with the session
  * timezone, null as the Hive default-partition marker — the reference's
  * rule (V2Table.scala:108-113). Every encode, decode and spec-level
  * predicate test of the scan, DML and deletion-vector paths goes
  * through here, so they cannot drift on it. */
object PartitionValues extends PredicateHelper {

  /** The spec string of a null partition value. */
  val NullName: String = ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  private def tz(spark: SparkSession): Option[String] =
    Some(spark.sessionState.conf.sessionLocalTimeZone)

  /** Typed value → spec string. */
  def encode(spark: SparkSession, v: Literal): String =
    if (v.value == null) NullName
    else Cast(v, StringType, tz(spark)).eval(null).toString

  /** Stored string → Catalyst value of `dt`, cast with the session
    * timezone: the one decoder of stored partition values and of the
    * descriptor's string-encoded column-stat bounds. */
  def cast(spark: SparkSession, raw: String, dt: DataType): Any =
    Cast(Literal(UTF8String.fromString(raw), StringType), dt, tz(spark)).eval(null)

  /** Spec string → Catalyst value of `dt`; the marker decodes to null. */
  def decode(spark: SparkSession, raw: String, dt: DataType): Any =
    if (raw == NullName) null else cast(spark, raw, dt)

  /** The spec's string for `col`, the name matched case-insensitively. */
  def lookup(spec: Map[String, String], col: String): Option[String] =
    spec.get(col).orElse(spec.find(_._1.equalsIgnoreCase(col)).map(_._2))

  /** Spec → partition row in `schema` order; an absent column is null. */
  def row(spark: SparkSession, schema: StructType, spec: Map[String, String]): InternalRow =
    InternalRow.fromSeq(schema.map(f =>
      lookup(spec, f.name).map(decode(spark, _, f.dataType)).orNull))

  /** The partition rows that resolved partition `filters` keep:
    * Spark's interpreted partition pruning over rows of `schema`. */
  def rowFilter(
      spark: SparkSession,
      schema: StructType,
      filters: Seq[Expression]): InternalRow => Boolean =
    if (filters.isEmpty) _ => true
    else {
      val bound = filters.reduce(And).transform {
        case a: AttributeReference =>
          val idx = schema.indexWhere(f =>
            spark.sessionState.conf.resolver(f.name, a.name))
          require(idx >= 0, s"partition filter column ${a.name} not in $schema")
          BoundReference(idx, schema(idx).dataType, nullable = true)
      }
      val predicate = Predicate.createInterpreted(bound)
      predicate.initialize(0)
      predicate.eval
    }

  /** Can a partition with this stored spec hold a row satisfying `cond`?
    * Each named reference to a partition column (resolved, or the
    * unresolved name a connector filter translates to) is bound to the
    * spec's decoded literal; a conjunct that becomes reference-free and
    * evaluates to false or null proves no row matches. Anything
    * undecidable — data-column, non-deterministic or subquery conjuncts,
    * failed casts — keeps the partition: pruning is an optimization,
    * never a correctness decision. */
  def mayMatch(
      spark: SparkSession,
      meta: TableMeta,
      spec: Map[String, String],
      cond: Expression): Boolean = {
    val values: Map[String, Literal] = meta.partitionSchema.fields.flatMap { f =>
      lookup(spec, f.name).flatMap { raw =>
        try Some(f.name.toLowerCase -> Literal(decode(spark, raw, f.dataType), f.dataType))
        catch { case NonFatal(_) => None }
      }
    }.toMap
    splitConjunctivePredicates(cond).forall { c =>
      try {
        if (!c.deterministic || c.containsPattern(TreePattern.PLAN_EXPRESSION)) true
        else {
          val bound = c.transform {
            case a: Attribute if values.contains(a.name.toLowerCase) =>
              values(a.name.toLowerCase)
          }
          bound.exists(_.isInstanceOf[Attribute]) || (bound.eval(null) match {
            case java.lang.Boolean.FALSE | null => false
            case _ => true
          })
        }
      } catch { case NonFatal(_) => true }
    }
  }
}
