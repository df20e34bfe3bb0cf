package graft.catalog

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructType}

import graft.functions.ArrayFold

/** The catalog-scoped SQL function surface (DSv2 `FunctionCatalog`):
  * functions a SQL user reaches as `graft.sys.<name>(...)` — the third
  * catalog API after `TableCatalog` and `SupportsNamespaces`, and one
  * the reference never implemented (its `V2ExternalCatalog.scala:31`
  * stops at tables; Hive UDF resolution stayed with the session
  * catalog). Session-extension functions (GraftExtensions'
  * `graft_minhash_sig`) require every user to install the extension;
  * catalog functions travel WITH the catalog registration — the right
  * home for an engine whose tables already live there.
  *
  * Both functions implement the MAGIC METHOD (`invoke` with
  * unwrapped argument types): the analyzer binds them as a direct
  * `Invoke` inside whole-stage codegen — no InternalRow boxing per call
  * (BoundFunction's row-based default is the documented slow path).
  * Scoring math IS [[graft.functions.ArrayFold]], the kernel
  * [[graft.functions.ArrayDot]] / [[graft.functions.ArraySqDist]] run
  * (left-to-right fold over the common prefix, NULL on a NULL element),
  * so SQL-surface results are bit-identical to the DataFrame operators
  * and DuckDB's list-comprehension mirror — q91 is hash-gated on that. */
object CatalogFunctions {
  /** Synthetic namespace the function surface lives in. */
  val Namespace = "sys"

  val All: Map[String, UnboundFunction] = Map(
    "array_dot" -> ArrayDotUnbound,
    "array_sqdist" -> ArraySqDistUnbound)
}

/** A `graft.sys` array function before binding: binding accepts exactly
  * two `array<double>` arguments. */
sealed abstract class ArrayFoldUnbound(fn: String, what: String, bound: () => BoundFunction)
  extends UnboundFunction {
  override def name(): String = fn
  override def description(): String =
    s"$fn(array<double>, array<double>) -> double: " +
      s"left-to-right $what over the common prefix"
  override def bind(inputType: StructType): BoundFunction = {
    val ts = inputType.fields.map(_.dataType)
    val ok = ts.length == 2 && ts.forall {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!ok) throw new UnsupportedOperationException(
      s"$fn expects (array<double>, array<double>), got " +
        ts.map(_.sql).mkString("(", ", ", ")"))
    bound()
  }
}

/** A bound `graft.sys` array function: the shared [[ArrayFold]]. */
sealed abstract class ArrayFoldBound(fn: String, fold: ArrayFold)
  extends ScalarFunction[java.lang.Double] {
  override def name(): String = fn
  override def canonicalName(): String = s"graft.sys.$fn"
  override def inputTypes(): Array[DataType] =
    Array(ArrayType(DoubleType), ArrayType(DoubleType))
  override def resultType(): DataType = DoubleType
  override def isResultNullable: Boolean = true

  /** The magic method (`invoke`) the analyzer binds directly as a
    * codegen'd StaticInvoke/Invoke — argument classes derived from
    * `inputTypes` (ArrayType → ArrayData). Each bound class declares it
    * itself, as [[foldOrNull]]: `V2ExpressionUtils.resolveScalarFunction`
    * finds it with `getDeclaredMethod`, which skips inherited methods. */
  def invoke(a: ArrayData, b: ArrayData): java.lang.Double

  /** The analyzer's `Invoke` binding does NOT null-propagate arguments
    * (propagateNull=false), so a SQL NULL array arrives as a null
    * `ArrayData`: return SQL NULL (boxed null — `Invoke` null-checks an
    * Object-typed result) rather than NPE. */
  protected final def foldOrNull(a: ArrayData, b: ArrayData): java.lang.Double =
    if (a == null || b == null) null else fold(a, b)

  /** Row-based fallback path (same null contract as [[invoke]]). */
  override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): java.lang.Double =
    invoke(
      if (input.isNullAt(0)) null else input.getArray(0),
      if (input.isNullAt(1)) null else input.getArray(1))
}

object ArrayDotUnbound
  extends ArrayFoldUnbound("array_dot", "dot product", () => new ArrayDotBound)

class ArrayDotBound extends ArrayFoldBound("array_dot", ArrayFold.Dot) {
  override def invoke(a: ArrayData, b: ArrayData): java.lang.Double = foldOrNull(a, b)
}

object ArraySqDistUnbound extends ArrayFoldUnbound(
  "array_sqdist", "squared Euclidean distance", () => new ArraySqDistBound)

class ArraySqDistBound extends ArrayFoldBound("array_sqdist", ArrayFold.SqDist) {
  override def invoke(a: ArrayData, b: ArrayData): java.lang.Double = foldOrNull(a, b)
}
