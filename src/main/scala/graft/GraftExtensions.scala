package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArrayDot, ArraySqDist}

/** Session extension (`spark.sql.extensions=graft.GraftExtensions`):
  * registers the engine's custom expressions with the SQL function
  * registry so pure-SQL users get them without touching the Scala API.
  * This is the declarative path; [[graft.functions.GraftFunctions.register]]
  * installs the same functions imperatively on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functionDescriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ =>
      org.apache.spark.sql.graft.ResolveStrandedTableReferences)
    // merge-on-read deletion vectors (q119): relations over DV'd tables
    // split into clean scans + broadcast anti-joins BEFORE pushdown, so
    // each fragment keeps full pushdown/pruning. Sessions without this
    // rule are refused by GraftTable.newScanBuilder — never wrong rows.
    ext.injectOptimizerRule(_ => graft.plans.ResolveDeletionVectors)
  }
}

object GraftExtensions {
  /** (identifier, info, builder) triple for `graft_array_dot`. */
  private val arrayDotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_array_dot"),
    new ExpressionInfo(
      classOf[ArrayDot].getCanonicalName,
      null,
      "graft_array_dot",
      "graft_array_dot(a, b) - dot product of two array<double> columns, " +
        "summed left-to-right over the shorter length (codegen'd).",
      ""),
    { args =>
      require(args.length == 2,
        s"graft_array_dot expects 2 arguments, got ${args.length}")
      ArrayDot(args.head, args(1))
    })

  /** (identifier, info, builder) triple for `graft_array_sqdist`. */
  private val arraySqDistDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_array_sqdist"),
    new ExpressionInfo(
      classOf[ArraySqDist].getCanonicalName,
      null,
      "graft_array_sqdist",
      "graft_array_sqdist(a, b) - squared Euclidean distance of two " +
        "array<double> columns, accumulated left-to-right over the " +
        "shorter length (codegen'd).",
      ""),
    { args =>
      require(args.length == 2,
        s"graft_array_sqdist expects 2 arguments, got ${args.length}")
      ArraySqDist(args.head, args(1))
    })

  /** (identifier, info, builder) triple for `graft_minhash_sig`. */
  private val minHashSigDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_minhash_sig"),
    new ExpressionInfo(
      classOf[graft.functions.MinHashSig].getCanonicalName,
      null,
      "graft_minhash_sig",
      "graft_minhash_sig(hashes, k) - k-component minhash signature of an " +
        "array<bigint> of shingle hashes; component i is min(xxhash64(i, h)) " +
        "(codegen'd, one pass; k must be a foldable integer literal).",
      ""),
    { args =>
      require(args.length == 2,
        s"graft_minhash_sig expects 2 arguments, got ${args.length}")
      val k = args(1) match {
        // any foldable integral expression (2*16, a BIGINT literal, ...)
        // honours the usage string's "foldable integer literal" promise
        case e if e.foldable => e.eval() match {
          case i: Int => i
          case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
          case s: Short => s.toInt
          case b: Byte => b.toInt
          case other => throw new IllegalArgumentException(
            s"graft_minhash_sig's k must fold to an integer, got $other " +
              s"(${if (other == null) "NULL" else other.getClass.getSimpleName})")
        }
        case other => throw new IllegalArgumentException(
          s"graft_minhash_sig's k must be a foldable integer literal, got $other")
      }
      graft.functions.MinHashSig(args.head, k)
    })

  /** Every custom expression, for both the declarative extension and
    * [[graft.functions.GraftFunctions.register]] — a new function is
    * added here once. */
  val functionDescriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(arrayDotDescriptor, arraySqDistDescriptor, minHashSigDescriptor)
}
