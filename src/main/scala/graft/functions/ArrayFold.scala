package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The element-wise fold over two `array<double>` values that
  * [[ArrayDot]], [[ArraySqDist]] and their catalog-function twins
  * (`graft.sys.array_dot` / `array_sqdist`) all compute: `step` applied
  * left-to-right over the common prefix, starting from 0.0. A NULL
  * element in the prefix nulls the result — the semantics of the
  * `zip_with` + `aggregate` higher-order form these replace, which
  * propagates the null.
  *
  * The summation order (index 0 → n-1) is part of the contract: it keeps
  * scores bit-identical to the previous HOF form and to the DuckDB
  * oracle's list-comprehension sum. */
sealed abstract class ArrayFold extends Serializable {
  def step(s: Double, x: Double, y: Double): Double

  /** `step` as Java statements updating the double variable `s`. */
  def stepCode(ctx: CodegenContext, s: String, x: String, y: String): String

  /** The fold of two non-null arrays; null when an element is null. */
  final def apply(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s = step(s, a.getDouble(i), b.getDouble(i))
      i += 1
    }
    s
  }
}

object ArrayFold {
  /** Dot product: `s += a_i · b_i`. */
  object Dot extends ArrayFold {
    override def step(s: Double, x: Double, y: Double): Double = s + x * y
    override def stepCode(ctx: CodegenContext, s: String, x: String, y: String): String =
      s"$s += $x * $y;"
  }

  /** Squared Euclidean distance: `d = a_i − b_i; s += d · d`. */
  object SqDist extends ArrayFold {
    override def step(s: Double, x: Double, y: Double): Double = {
      val d = x - y
      s + d * d
    }
    override def stepCode(ctx: CodegenContext, s: String, x: String, y: String): String = {
      val d = ctx.freshName("d")
      s"double $d = $x - $y; $s += $d * $d;"
    }
  }
}

/** A codegen'd [[ArrayFold]] over two `array<double>` columns.
  *
  * This is where the engine drops to a custom Catalyst `Expression`
  * (SURVEY §7.3 decision table: custom expression only when built-ins
  * can't express it *efficiently*): the `zip_with`+`aggregate`
  * higher-order formulation is semantically identical but evaluates an
  * interpreted lambda per element and allocates an intermediate array per
  * row — measured 25 µs/pair on 64-dim vectors, which turns the all-pairs
  * q38 into minutes at sf0.1. The generated code below is a bare fused
  * loop inside whole-stage codegen. */
abstract class ArrayFoldExpression extends BinaryExpression {
  // a member, not a constructor parameter: Java deserialization needs a
  // no-argument constructor on the first non-serializable superclass
  protected def fold: ArrayFold

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got ${l.sql} and ${r.sql}")
    }

  override def dataType: DataType = DoubleType

  // Tracked separately from input-column nullability: a non-null array
  // can contain nulls.
  private def elementsNullable: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(_, n1), ArrayType(_, n2)) => n1 || n2
    case _ => true
  }
  override def nullable: Boolean = super.nullable || elementsNullable

  override def nullSafeEval(a: Any, b: Any): Any =
    fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      // containsNull=false skips the per-element branch entirely
      val nullCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  ${fold.stepCode(ctx, s, s"$a.getDouble($i)", s"$b.getDouble($i)")}
         |}
         |if (!${ev.isNull}) ${ev.value} = $s;
       """.stripMargin
    })
}

/** Dot product of two `array<double>` columns ([[ArrayFold.Dot]]). */
case class ArrayDot(left: Expression, right: Expression) extends ArrayFoldExpression {
  override protected def fold: ArrayFold = ArrayFold.Dot
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_array_dot"
}

/** Squared Euclidean distance of two `array<double>` columns
  * ([[ArrayFold.SqDist]]) — q64's label-outlier detector, whose
  * `aggregate(zip_with((a,b) => (a−b)·(a−b)))` form it replaces with
  * the exact operation sequence, so q64's hash gate is unaffected. */
case class ArraySqDist(left: Expression, right: Expression) extends ArrayFoldExpression {
  override protected def fold: ArrayFold = ArrayFold.SqDist
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArraySqDist =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_array_sqdist"
}
