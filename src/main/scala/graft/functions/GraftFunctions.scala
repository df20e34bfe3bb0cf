package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** The declared UDF surface (SURVEY.md §2.3 last paragraph): one scalar
  * udf, one `Aggregator` UDAF. Generators are covered by the built-in
  * `posexplode` in Q20 — exactly how the reference's tables rely on
  * Spark's own function surface (SURVEY §2.2 last row).
  *
  * Determinism contract: both functions are written so a SQL oracle can
  * reproduce them bit-for-bit (see the q25/q26 oracles in
  * [[graft.operators.EngineQueries]]) — the UDAF accumulates exact
  * integer cents (order-independent, so shuffle/partition order can't
  * change the result), and the scalar udf uses only ASCII-safe regex
  * steps that Java and DuckDB regex engines agree on.
  */
object GraftFunctions {

  /** Scalar UDF: text normalizer — lowercase, strip non-alphanumerics to
    * spaces, collapse whitespace, trim. SQL-mirrorable:
    * `trim(regexp_replace(regexp_replace(lower(t),'[^a-z0-9 ]',' ','g'),'\s+',' ','g'))`.
    */
  def normalizeText(s: String): String =
    if (s == null) null
    else s.toLowerCase
      .replaceAll("[^a-z0-9 ]", " ")
      .replaceAll("\\s+", " ")
      .trim

  /** UDAF: weighted mean in exact integer cents.
    *
    * `value` is accumulated as `round(value*100)` (exact cents in a Long)
    * times the integral weight, so the merge is pure integer addition —
    * associative, commutative, overflow-safe to ~9e16 cents — and the
    * one floating division happens once at `finish`. A naive
    * double-accumulating UDAF would give partition-order-dependent low
    * bits at cluster scale; this one is bit-stable under any shuffle.
    */
  class WeightedMean extends Aggregator[(Double, Double), (Long, Long), Double] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), a: (Double, Double)): (Long, Long) = {
      val cents = math.round(a._1 * 100)
      val w = math.round(a._2)
      (b._1 + cents * w, b._2 + w)
    }
    override def merge(b1: (Long, Long), b2: (Long, Long)): (Long, Long) =
      (b1._1 + b2._1, b1._2 + b2._2)
    override def finish(r: (Long, Long)): Double =
      if (r._2 == 0) Double.NaN
      else math.round(r._1.toDouble / r._2).toDouble / 100
    override def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  @volatile private var registeredFor: Set[SparkSession] = Set.empty

  /** Idempotently register the UDF surface on a session — including the
    * custom expressions [[graft.GraftExtensions]] would install
    * declaratively via `spark.sql.extensions`. */
  def register(spark: SparkSession): Unit = {
    if (registeredFor.contains(spark)) return
    synchronized {
      if (registeredFor.contains(spark)) return
      spark.udf.register("graft_normalize_text", normalizeText _)
      spark.udf.register("graft_weighted_mean", udaf(new WeightedMean))
      graft.GraftExtensions.functionDescriptors.foreach { case (ident, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
      }
      registeredFor += spark
    }
  }
}
