package graft.llm

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.llm.TextOps._

/** Text-analysis operators for a training-data pipeline (SURVEY.md
  * §7.1): language ID, quality scoring, token counting, document
  * fingerprinting. Pure built-in-function composition — codegen'd,
  * shuffle-free (row-local projections), and every expression has a
  * verbatim DuckDB mirror so the queries stay hash-gated.
  *
  * 100 TB posture: all four are embarrassingly parallel map work; cost
  * is one scan. Only the corpus-level rollups (e.g. q35's per-language
  * aggregate) shuffle, and those carry one row per group per partition
  * after map-side combine.
  */
object TextAnalysis {

  /** Stopword marker profiles for the n-gram language heuristic. Order =
    * deterministic tiebreak priority. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans"),
    "zh" -> Seq("的", "是", "在", "了"))

  private def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedlit(markers), t))).cast("long")

  /** Per-doc predicted language: argmax of marker-occurrence counts with
    * the LangProfiles priority as tiebreak; 'und' when no marker hits. */
  def withLangId(docs: DataFrame, textCol: String): DataFrame = {
    // Materialize the token array once: each markerCount's lambda would
    // otherwise re-run the tokenize pipeline (no CSE inside lambdas).
    val toks = col("__toks")
    val tokenized = docs.withColumn("__toks", tokens(col(textCol)))
    val scored = LangProfiles.foldLeft(tokenized) { case (df, (lang, markers)) =>
      df.withColumn(s"score_$lang", markerCount(toks, markers))
    }
    val langs = LangProfiles.map(_._1)
    val pred = langs.foldRight(lit("und"): Column) { (l, els) =>
      val beats = langs.filter(_ != l)
        .map(m => col(s"score_$l") >= col(s"score_$m"))
        .reduce(_ && _)
      when(col(s"score_$l") > 0 && beats, lit(l)).otherwise(els)
    }
    scored.withColumn("pred_lang", pred).drop("__toks")
  }

  import graft.operators.RelationalQueries.r4

  /** Per-doc quality features: token count, mean token length,
    * punctuation ratio, stopword ratio, and a composite score. No
    * transcendentals — products/divisions of identical doubles are
    * bit-stable across engines. */
  def withQuality(docs: DataFrame, textCol: String): DataFrame = {
    val low = lower(col(textCol))
    val toks = col("__toks") // materialized below — see withLangId
    val nTok = size(toks).cast("double")
    val tokLenSum = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (a, x) => a + x).cast("double")
    val nStop = size(filter(toks,
      t => array_contains(typedlit(LangProfiles.toMap.apply("en")), t))).cast("double")
    val punct = (length(low) - length(regexp_replace(low, "[a-z0-9 ]", ""))).cast("double")
    docs
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("avg_tok_len", r4(tokLenSum / nTok))
      // Empty text ⇒ length 0 ⇒ ANSI DIVIDE_BY_ZERO without the guard
      // (the fixture has no empty docs, but real corpora do). The q34
      // oracle carries the identical CASE.
      .withColumn("punct_ratio",
        when(length(low) > 0,
          r4(lit(1.0) - punct / length(low).cast("double"))).otherwise(0.0))
      .withColumn("stop_ratio", r4(nStop / nTok))
      .withColumn("quality",
        r4(least(lit(1.0), nTok / 100.0) * (lit(1.0) - nStop / nTok)))
      .drop("__toks")
  }

  /** Source-reputation filter (q80) — the domain-level quality gate of
    * a RefinedWeb/CCNet-style pipeline: a document survives only if its
    * SOURCE's mean quality clears `floor`, killing spam domains whole
    * instead of doc-by-doc. The per-source mean uses the repo's
    * integer-cent accumulator (sum of round(quality·10⁴) as long —
    * exact, shuffle-order-free, so the keep/drop decision is
    * bit-identical across engines and partitionings; a float AVG's low
    * bits would depend on reduction order exactly at the floor
    * boundary).
    *
    * 100 TB posture: one quality scan (row-local columnar work), one
    * per-source aggregate with map-side combine (output = one row per
    * source — ~10⁷ at web scale, deliberately NOT broadcast-hinted: the
    * planner/AQE decides from runtime size, the round-3 lesson), one
    * equality join back on the source key; a mega-source skewing the
    * probe side is AQE's skew case. Output: kept docs with their
    * source's 4-dp mean. */
  def sourceReputationKeep(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, floor: Double = 0.5): DataFrame = {
    val scored = withQuality(
      docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        col(textCol).as("text")), "text")
      .select(col("doc_id"), col("source"), col("quality"))
    scored
      .join(sourceReputation(scored).filter(col("src_quality") >= floor), "source")
      .select(col("doc_id"), col("source"), r4(col("src_quality")).as("src_q4"))
  }

  /** Per-source mean quality from (source, quality) rows — the exact
    * integer-cent accumulator shared by q80's filter and q82's weak
    * labels. Output: (source, src_quality). */
  private def sourceReputation(scored: DataFrame): DataFrame =
    scored.groupBy(col("source"))
      .agg(sum(round(col("quality") * 10000).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("source"),
        (col("s").cast("double") / (col("n") * lit(10000.0))).as("src_quality"))

  /** Naive-Bayes quality classifier (q82) — the pipeline's trained
    * quality gate (the GPT-3/CCNet recipe: train a cheap linear
    * classifier on weak labels, score everything): weak labels come
    * from SOURCE reputation (q80's floor), the model is multinomial NB
    * with Laplace smoothing trained IN CLOSED FORM — one token-count
    * aggregate, no gradient iterations — and the score is the per-doc
    * sum of token log-odds plus the class prior.
    *
    * Cross-engine exactness (q71's contract): every log-odds quantizes
    * to an exact long (round(w·10⁶)) BEFORE the per-doc sum, so the
    * aggregate is shuffle-order-free; the ln inputs are IEEE-exact
    * divisions of driver-resolved integer scalars. Hash-gated.
    *
    * 100 TB posture: one explode serves training counts and scoring
    * (localCheckpoint); the (token, class) count table is vocab-sized
    * and its join back to the token stream is equality-keyed (Zipf
    * skew is AQE's case; the planner may broadcast it when it fits);
    * the per-doc sum combines map-side. Driver traffic is five scalars
    * (class totals, vocab size, doc counts). Degenerate weak labels
    * (a single class) have no defined log-odds — the operator refuses
    * with a clear error rather than emitting NaN scores. */
  def nbQualityScores(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, floor: Double = 0.5,
      headVocab: Int = 10000): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
      col(textCol).as("text"))
    val scored = withQuality(base, "text")
      .select(col("doc_id"), col("source"), col("quality"))
    val labeled = base
      .join(sourceReputation(scored), "source")
      // the oracle's CASE verbatim: a NULL reputation labels 0, never NULL
      .withColumn("lab", when(col("src_quality") >= floor, 1).otherwise(0))
      .select(col("doc_id"), col("lab"), col("text"))
    // one tokenization pass serves the count aggregate AND the scoring
    // join (checkpoint: the explode would otherwise re-run per consumer)
    val toks = labeled
      .select(col("doc_id"), col("lab"), explode(tokens(col("text"))).as("tok"))
      .localCheckpoint()
    val ctl = toks.groupBy(col("tok"))
      .agg(sum(when(col("lab") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("lab") === 0, 1L).otherwise(0L)).as("c0"))
      .localCheckpoint() // totals fetch + weights join share it
    val tot = ctl.agg(sum(col("c1")).as("n1"), sum(col("c0")).as("n0"),
      count(lit(1)).as("v")).head() // three scalars
    if (tot.isNullAt(0)) return labeled.limit(0)
      .select(col("doc_id"), lit(0.0).as("score4"), lit(false).as("predicted"))
    val (n1, n0, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val d = labeled.groupBy(col("lab")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap // two scalars
    val (d1, d0) = (d.getOrElse(1, 0L), d.getOrElse(0, 0L))
    require(d1 > 0 && d0 > 0,
      s"nbQualityScores needs both weak-label classes non-empty, got pos=$d1 neg=$d0 " +
        s"(floor=$floor splits no sources — adjust the floor)")
    // quantized with the SAME tie rule as the token weights (Spark SQL
    // round / DuckDB round = HALF_UP away from zero) — math.round would
    // send a negative prior landing exactly on a .5 tie the other way
    val bq = BigDecimal(math.log(d1.toDouble / d0) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).longValue
    val w = ctl.select(col("tok"),
      (col("c1") + col("c0")).as("freq"), // head/tail cut key only
      round((log((col("c1") + 1).cast("double") / lit((n1 + v).toDouble))
        - log((col("c0") + 1).cast("double") / lit((n0 + v).toDouble))) * 1e6)
        .cast("long").as("wq"))
    // the q71 de-skew: head tokens join broadcast, tail shuffles
    headTailScoreJoin(toks.select(col("doc_id"), col("tok")), w,
      Seq("tok"), col("freq"), headVocab)
      .groupBy(col("doc_id"))
      .agg((sum(col("wq")) + lit(bq)).as("sq"))
      .select(col("doc_id"),
        r4(col("sq").cast("double") / 1000000.0).as("score4"),
        (col("sq") > 0).as("predicted"))
  }

  /** BPE merge induction (q81) — the first `steps` merge rules of a
    * byte-pair-encoding tokenizer trained on the corpus (Sennrich et
    * al.): repeatedly find the adjacent symbol pair with the highest
    * frequency-weighted count and fuse it, greedily left-to-right
    * within each word.
    *
    * The corpus-wide work stays in Spark: ONE token explode + word
    * count (map-side combined), the (freq desc, word asc) cut to
    * `maxVocabWords` (the standard practice — real BPE trainers run on
    * a frequency-weighted vocabulary, not the corpus) and Spark's
    * `split(w, "")` into symbols. That bounded table is fetched ONCE;
    * the merge loop then runs on the driver over the fetched arrays:
    * exact `Long` pair counts, the argmax, and the greedy fold (fuse
    * when the accumulator's last symbol is `l` and the next is `r`;
    * after fusing the last symbol is `l+r`, never `l` again, so the
    * merges never overlap). No step runs a Spark job: per-step jobs
    * over a table this small cost their scheduling overhead, not data.
    *
    * Determinism: word frequencies and pair counts are exact longs;
    * the vocabulary cut is (freq desc, word asc) and the per-step
    * argmax tiebreak is (count desc, left asc, right asc), both in
    * Spark's string order — UTF-8 bytes, which `String.compareTo`'s
    * UTF-16 order contradicts above U+FFFF — so the merge table is
    * reproducible across runs and partitionings. A step with no pair
    * left ends the table early. Not oracle-SQL-expressible (an
    * iterated global argmax) ⇒ rows-only at the driver;
    * TextAnalysisSpec gates equality with a reference BPE
    * implementation.
    *
    * 100 TB posture: one scan and one shuffle of the corpus; the
    * driver holds at most `maxVocabWords` rows and the loop costs at
    * most `steps` × Σ|word| map updates. */
  def bpeMerges(docs: DataFrame, textCol: String, steps: Int = 10,
      maxVocabWords: Int = 10000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(steps >= 1, "steps must be positive")
    require(maxVocabWords >= 1, "maxVocabWords must be positive")
    var words = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(maxVocabWords) // bounded working set: the trainers' convention
      // split-by-empty-regex keeps a trailing "" under Spark's limit=-1;
      // strip it (tokens contain no genuinely-empty symbols)
      .select(array_remove(split(col("w"), ""), "").as("sym"), col("freq"))
      .as[(Seq[String], Long)].collect().toSeq // the ONE fetch
    val utf8: Ordering[String] = (a, b) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val counts = mutable.HashMap.empty[(String, String), Long].withDefaultValue(0L)
      for ((sym, freq) <- words; i <- 1 until sym.length) counts((sym(i - 1), sym(i))) += freq
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), cnt) = counts.minBy { case ((a, b), n) => (-n, a, b) }(
          Ordering.Tuple3(Ordering.Long, utf8, utf8))
        merges += ((step, l, r, l + r, cnt))
        words = words.map { case (sym, freq) =>
          (sym.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
            else acc :+ x
          }, freq)
        }
        step += 1
      }
    }
    merges.result()
      .toDF("step", "left", "right", "merged", "weight")
      .select(col("step").cast("long").as("step"), col("left"),
        col("right"), col("merged"), col("weight"))
  }

  /** BPE tokenizer APPLICATION (q85) — [[bpeMerges]]' other half: encode
    * every document with a GIVEN merge table (the trained artifact),
    * reporting per-doc subword statistics including fertility
    * (pieces/word — THE tokenizer-fit metric: a mismatched tokenizer
    * inflates it, and over-fragmented docs train badly). The merge
    * table is a driver-side parameter (q66b's target-map pattern):
    * rules apply in rank order, each as the same left-to-right
    * non-overlapping greedy fold [[bpeMerges]] trains with — so
    * encode∘train round-trips exactly (TextAnalysisSpec gates the
    * composition against an independent reference encoder).
    *
    * 100 TB posture: the merge chain compiles into ONE row-local
    * projection (nested folds over each word's own symbols — no joins,
    * no shuffle, no state; the corpus streams through in a single
    * map), and the fold runs once per DISTINCT word per document, not
    * per occurrence: the encoded pieces land in a row-local
    * `map_from_arrays` keyed by word, and the occurrence stream only
    * does map lookups. Natural language is Zipf-repetitive, so this
    * cuts fold work by the doc's repetition factor (measured 10×+ on
    * the bench corpus) while keeping the plan shuffle-free. Residual
    * cost is O(Σ per-doc-distinct-words · merges); a production
    * 30k-rule table would instead broadcast a trie/longest-match
    * automaton through the same row-local shape — the per-rule fold is
    * the rank-faithful form at inventory scale.
    *
    * Hash-gate note: the fold is oracle-expressible WITHOUT a typed
    * fold — on a separator-armored string (sep‖sym‖sep‖sep‖…‖sep),
    * one left-to-right `replace(sep·l·sep·sep·r·sep → sep·lr·sep)` per
    * rule is EXACTLY the greedy non-overlapping merge (the replacement
    * is never re-scanned, and double separators keep symbol boundaries
    * unambiguous), so DuckDB states the same chain as nested replaces.
    * The separator (U+001F) is stripped from the text first on both
    * sides, making the armor collision-free by construction. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    require(merges.forall { case (l, r) => l.nonEmpty && r.nonEmpty },
      "merge sides must be non-empty")
    val sep = "\u001f"
    // the codegen'd greedy fold — see BpeEncode's scaladoc for why the
    // nested-aggregate HOF chain it replaced was ~150 µs/word
    val encodeWord: Column => Column = { w =>
      import org.apache.spark.sql.graft.GraftSqlBridge.{column, expression}
      column(graft.functions.BpeEncode(expression(w), merges))
    }
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        filter(tokens(translate(col(textCol), sep, "")), w => w =!= "").as("ws"))
      // encode each DISTINCT word once; occurrences only look up the map
      .withColumn("wd", array_distinct(col("ws")))
      .withColumn("pm",
        map_from_arrays(col("wd"), transform(col("wd"), encodeWord)))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        aggregate(col("ws"), lit(0L),
          (a, w) => a + size(element_at(col("pm"), w)).cast("long"))
          .as("n_pieces"),
        // the doc's piece set = the union over its distinct words
        size(array_distinct(flatten(map_values(col("pm"))))).cast("long")
          .as("n_distinct_pieces"))
      .withColumn("fert4", when(col("n_words") > 0,
        r4(col("n_pieces").cast("double") / col("n_words").cast("double"))))
  }

  /** Whitespace-token and BPE-ish subtoken counts ([a-z]+ | [0-9]+ |
    * single non-alnum runs over the lowercased text). */
  def withTokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("n_ws_tokens", size(tokens(col(textCol))).cast("long"))
      .withColumn("n_subtokens",
        size(regexp_extract_all(lower(col(textCol)), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long"))
      .withColumn("n_chars", length(col(textCol)).cast("long"))

  /** PII-style scrubbing: redact email addresses then long digit runs
    * (IDs, phone fragments) to typed placeholders, counting each kind.
    * Ordering matters and is part of the contract: emails are counted
    * and replaced FIRST so digits inside an address are never
    * double-counted as a standalone number. Patterns stay in the regex
    * subset Java and RE2-style engines share, so the DuckDB oracle runs
    * the identical expressions. Row-local and codegen'd — at 100 TB this
    * is a pure map over the corpus, no shuffle. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val LongNumRe = "[0-9]{4,}"

  /** Leakage-safe split column (q68): the decision hashes the
    * NORMALIZED CONTENT, so equal-content rows land in the same split
    * algebraically — no group-then-assign shuffle. The first sha256
    * byte is compared as its fixed-width lowercase hex pair
    * (lexicographic = numeric; ASCII-identical across engines):
    * 'cd'/'e6' cut ~80/10/10 (205/25/26 of 256). Row-local, zero
    * shuffle at any scale. */
  def splitOf(textCol: Column): Column = {
    val hex2 = substring(sha2(normText(textCol), 256), 1, 2)
    when(hex2 < "cd", "train").when(hex2 < "e6", "val").otherwise("test")
  }

  def withRedaction(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("__noemail",
        regexp_replace(col(textCol), EmailRe, "<EMAIL>"))
      .withColumn("n_nums",
        size(regexp_extract_all(col("__noemail"), lit(LongNumRe), lit(0))).cast("long"))
      .withColumn("redacted", regexp_replace(col("__noemail"), LongNumRe, "<NUM>"))
      .drop("__noemail")

  /** Gopher-style repetition filters (Rae et al. 2021 §A1.1, public):
    * the fraction of a document owned by its most frequent unigram and
    * bigram — the repetition signals that catch boilerplate/template
    * spam which length/punctuation ratios (q34) miss. Documents pass
    * when both fractions sit under the configured caps.
    *
    * Two shuffles on (doc_id, gram) with map-side combine — at 100 TB
    * each is a partial-aggregated exchange carrying one row per distinct
    * gram per partition, never the text. Docs below 2 tokens have no
    * bigram; their bigram fraction is 0 by convention (the oracle's
    * LEFT JOIN + COALESCE states the same rule). */
  def withRepetition(
      docs: DataFrame, idCol: String, textCol: String,
      maxUniFrac: Double = 0.2, maxBiFrac: Double = 0.4): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
    val words = toks.select(col("doc_id"), explode(col("__toks")).as("w"))
    val uni = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"), max(col("c")).as("top_uni"))
    // bigrams via an index transform over the materialized token array
    // (no CSE inside lambdas — the array is a column already)
    val bi = toks
      .select(col("doc_id"), explode(when(size(col("__toks")) >= 2,
        transform(sequence(lit(0), size(col("__toks")) - 2),
          i => concat_ws(" ", element_at(col("__toks"), i + 1),
            element_at(col("__toks"), i + 2))))
        .otherwise(array().cast("array<string>"))).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bi"))
    val uniFrac = col("top_uni").cast("double") / col("n_words").cast("double")
    val biFrac = coalesce(col("top_bi"), lit(0L)).cast("double") /
      greatest(col("n_words") - 1, lit(1L)).cast("double")
    uni.join(bi, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        r4(uniFrac).as("top_unigram_frac"),
        r4(biFrac).as("top_bigram_frac"),
        (uniFrac <= maxUniFrac && biFrac <= maxBiFrac).as("passes_gopher"))
  }

  /** Corpus-level per-stratum token vocabulary: the k most frequent
    * whitespace tokens per value of `byCol`, ranked (count desc, token
    * asc — a total order, so the ranking is deterministic). The explode
    * collapses through map-side partial aggregation before the (stratum,
    * token) shuffle, and the per-stratum ranking plans as
    * WindowGroupLimit — each partition keeps k rows per stratum, never a
    * full sort of the token counts. */
  def vocabTopK(
      docs: DataFrame, byCol: String, textCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(byCol)).orderBy(col("cnt").desc, col("tok"))
    docs.select(col(byCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(byCol, "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Vocabulary-coverage quality signal: each document's fraction of
    * tokens falling OUTSIDE the corpus's top-`vocabK` vocabulary — the
    * fastText/tokenizer-coverage filter: high OOV rate marks gibberish,
    * encoding damage and wrong-language fragments that length and
    * stopword statistics miss. Ties at the vocabulary boundary resolve
    * by (count desc, token asc) — deterministic in both engines.
    *
    * 100 TB posture: one token explode (shared by the vocab aggregate
    * and the coverage join via the checkpoint); the vocab is a
    * DISTRIBUTED top-k (`orderBy.limit` → TakeOrderedAndProject, q16's
    * class — never a single-task global rank over the distinct-token
    * set, which is 10⁷–10⁹ rows on a web corpus); the k-row vocab
    * broadcasts by construction (fixed k, not SF-scaled — q31's class).
    * The per-doc aggregate combines map-side. */
  def oovRate(
      docs: DataFrame, idCol: String, textCol: String,
      vocabK: Int = 100): DataFrame = {
    require(vocabK > 0, "vocabK must be positive")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .localCheckpoint() // feeds the vocab AND the coverage join
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabK)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        r4(col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  /** Per-document TF-IDF top-k terms (keyword extraction for corpus
    * curation / topic balancing). `score = tf · ln(N/df)`; ranking is
    * on the ROUNDED score (then token asc) — mathematically-equal
    * scores from different (tf, df) pairs (e.g. 2·ln(N/a) = ln(N/a²·N⁻¹))
    * need not be bit-equal across engines, but equal-after-rounding
    * groups resolve by the token tiebreak identically everywhere.
    *
    * 100 TB posture: tf and df are map-side-combined aggregations; the
    * corpus-size scalar joins as a broadcast literal (no driver
    * collect); the per-doc ranking plans as WindowGroupLimit. */
  def tfidfTopK(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score4").desc, col("tok"))
    tf.join(dfreq, "tok").crossJoin(broadcast(n))
      .withColumn("score4", graft.operators.RelationalQueries.r4(
        col("tf") * log(col("n_docs").cast("double") / col("df"))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("tok"), col("tf"), col("score4"))
  }

  /** Corpus-level boilerplate n-grams (C4-style repeated-content
    * detection): word n-grams occurring in at least `minDocs` DISTINCT
    * documents. Shingles are per-doc distinct already, so a plain count
    * is the document frequency — no count-distinct shuffle. At 100 TB
    * the aggregation carries one (gram, partial-count) row per partition
    * after map-side combine; the resulting boilerplate set is orders of
    * magnitude smaller than the corpus and typically broadcasts back for
    * the actual strip pass. */
  def boilerplateGrams(
      docs: DataFrame, textCol: String, n: Int, minDocs: Long): DataFrame =
    docs.select(tokens(col(textCol)).as("toks"))
      .select(explode(shingles(col("toks"), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)

  /** Boilerplate-segment REMOVAL with document reconstruction — the
    * CCNet/RefinedWeb line-dedup filter: segment every document, count
    * each distinct segment's document frequency across the corpus, drop
    * segments appearing in ≥ `minDocs` documents (headers, footers,
    * cookie banners — and here, duplicated-document bodies), and
    * reconstruct the surviving text in original order. [[boilerplateGrams]]
    * REPORTS the frequent grams; this operator applies the filter and
    * hands back cleaned documents.
    *
    * Segmenter: fixed non-overlapping `segTokens`-token spans of the
    * normalized text. On real corpora the natural segmenter is the
    * newline (CCNet's unit); the fixture corpus is single-line, so the
    * span segmenter is the honest equivalent — the operator's joins and
    * aggregates are segmenter-agnostic.
    *
    * 100 TB posture: one segment explode (rows ≈ tokens/segTokens); the
    * doc-frequency aggregate combines map-side on the segment string
    * (hash the segment first at petabyte scale — the q27 shuffle-key
    * discipline); the frequent-segment set is the join's build side —
    * corpus-bounded, usually broadcastable, but NOT hinted here: its
    * size scales with corpus redundancy, so the planner/AQE decides
    * (the round-3 broadcast lesson), and the boilerplate-key skew the
    * anti-join inherits is AQE's skew-join case. Reconstruction is a
    * per-doc collect_list bounded by the document's own segment count —
    * row-local class, no cross-doc state.
    *
    * Output: one row per non-null-text document — (doc_id, n_segments,
    * n_kept, clean_text); a fully-boilerplate document survives with
    * n_kept = 0 and an empty clean_text (the filter's verdict is
    * auditable, not a silent row drop). */
  def stripBoilerplate(
      docs: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 8, minDocs: Long = 2): DataFrame = {
    require(segTokens > 0, "segTokens must be positive")
    require(minDocs >= 2, "minDocs < 2 would strip every segment")
    // One segmentation pass feeds the df count, the keep filter AND the
    // per-doc totals (the shared-shingle checkpoint pattern).
    val segs = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(toks) / $segTokens.0) as int) - 1), " +
          s"i -> array_join(slice(toks, i * $segTokens + 1, $segTokens), ' '))"))
        .as(Seq("pos", "seg")))
      .localCheckpoint()
    val frequent = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select("seg")
    val kept = segs.join(frequent, Seq("seg"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("seg")))),
          s => s.getField("seg")), " ").as("clean_text"))
    segs.groupBy("doc_id").agg(count(lit(1)).as("n_segments"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Gopher's WITHIN-document duplicate-segment signals — the two
    * repetition filters [[withRepetition]]'s top-n-gram fractions do
    * not cover (Rae et al. 2021, table A1: "duplicate line fraction"
    * and "duplicate line character fraction"). Same fixed
    * `segTokens`-token span segmenter as [[stripBoilerplate]] (the
    * single-line fixture's honest line equivalent; the aggregates are
    * segmenter-agnostic — real corpora pass a newline segmenter).
    *
    * Per document, occurrences of a segment beyond its first are
    * duplicates:
    *   dup_seg_frac  = (Σc − #distinct) / Σc
    *   dup_char_frac = Σ(c−1)·len / Σc·len — char-weighted, so one
    * long repeated paragraph can't hide behind many short unique
    * segments (and vice versa: repeated empty/short lines barely move
    * it).
    *
    * 100 TB posture: one segment explode (rows ≈ tokens/segTokens),
    * then two aggregations keyed on (doc, seg) → doc — both map-side
    * combined, no joins between documents, per-doc state bounded by
    * the doc's own distinct-segment count. Nothing shuffles but
    * (hashable-width key, counts) rows. */
  def dupSegmentStats(
      docs: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 8,
      maxDupSegFrac: Double = 0.3, maxDupCharFrac: Double = 0.2): DataFrame = {
    require(segTokens > 0, "segTokens must be positive")
    val segs = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, cast(ceil(size(toks) / $segTokens.0) as int) - 1), " +
          s"i -> array_join(slice(toks, i * $segTokens + 1, $segTokens), ' '))"))
        .as("seg"))
    val per = segs.groupBy(col("doc_id"), col("seg"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("c"), length(col("seg")).cast("long").as("l"))
    val d = per.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_segments"),
      (sum(col("c")) - count(lit(1))).as("n_dup"),
      sum((col("c") - 1) * col("l")).as("dupchars"),
      sum(col("c") * col("l")).as("totchars"))
    val segFrac = col("n_dup").cast("double") / col("n_segments").cast("double")
    val charFrac = col("dupchars").cast("double") /
      greatest(col("totchars"), lit(1L)).cast("double")
    d.select(col("doc_id"), col("n_segments"),
      r4(segFrac).as("dup_seg_frac"),
      r4(charFrac).as("dup_char_frac"),
      (segFrac <= maxDupSegFrac && charFrac <= maxDupCharFrac)
        .as("passes_dup_segments"))
  }

  /** Polynomial rolling hash of the normalized text's character codes:
    * h ← (h·31 + code) mod 1e9+7. The modulus keeps every intermediate
    * < 2^35, so ANSI-mode long arithmetic never overflows, and the same
    * fold runs in DuckDB's list_reduce. */
  /** Fixed-size token chunking with overlap — the context-window prep
    * step of a training pipeline: every document becomes ⌈n/stride⌉
    * chunks of `chunkSize` tokens starting at 0, stride, 2·stride, …
    * (consecutive chunks share `chunkSize − stride` tokens; the final
    * chunks are shorter where the document runs out). Emits per chunk
    * the covered token count and the first/last covered token — enough
    * to reconstruct chunk boundaries without materializing chunk text.
    *
    * 100 TB posture: a pure row-local projection + explode — zero
    * shuffle, no state, output rows ≈ input tokens / stride. The best
    * possible scale shape (q68's class). */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(stride > 0 && stride <= chunkSize,
      "stride must be in (0, chunkSize] — a larger stride would drop tokens")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start"))
      .select(col("doc_id"),
        expr(s"start div $stride").cast("int").as("chunk_id"),
        least(lit(chunkSize), col("n") - col("start")).cast("long")
          .as("chunk_tokens"),
        element_at(col("toks"), col("start") + 1).as("first_tok"),
        element_at(col("toks"), least(col("start") + lit(chunkSize), col("n")))
          .as("last_tok"))
  }

  /** Zipf de-skew for token-keyed scoring joins (q71/q72/q82): a web
    * corpus's token stream is Zipf-distributed — "the" alone is ~5% of
    * English tokens — so a shuffle join on the token key concentrates
    * heavy hitters into single partitions. Probe rows whose key falls
    * in the top-`headK` of `build` (by `freq` desc, keys asc — a
    * deterministic cut) route through a BROADCAST hash join and are
    * never shuffled on the token key; only the tail (per-key frequency
    * bounded by the head cut, by construction) takes the shuffle join.
    * Value-transparent: both paths read the same `build` row per key,
    * so the hash gates are unchanged. `headK` bounds the broadcast at
    * ~headK × row-width driver/executor memory (10⁴ default — the same
    * class as q66b's broadcast target maps); the head join removes the
    * skew RELIANCE on AQE rather than leaving it mitigated-by-engine.
    * The head cut is materialized ONCE (`localCheckpoint`) — it feeds
    * both the inner join and the tail-carving anti-join, and the two
    * broadcast subtrees would otherwise each run the build-side
    * top-K pass. */
  private def headTailScoreJoin(
      probe: DataFrame, build: DataFrame, keys: Seq[String],
      freq: Column, headK: Int): DataFrame = {
    val ord = freq.desc +: keys.map(col(_).asc)
    val head = build.orderBy(ord: _*).limit(headK).localCheckpoint()
    probe.join(broadcast(head), keys)
      .unionByName(
        probe.join(broadcast(head.select(keys.map(col): _*)), keys, "left_anti")
          .join(build, keys))
  }

  /** Corpus-unigram log-probability score — the CCNet/Gopher-style LM
    * quality filter with the LM trained on the corpus itself: p(tok) =
    * cnt(tok)/total, per-doc score = mean log p over its tokens. Low
    * (very negative) scores mark gibberish / rare-token soup; high
    * scores mark common-word boilerplate — both tails are filter
    * targets.
    *
    * Hash-gate contract (the q63 ln discipline, hardened for SUMS): the
    * per-token log-prob is quantized to an exact LONG at 1e-4 nats
    * BEFORE the cross-row sum, so the aggregate is shuffle-order-free;
    * the only float step shared with the oracle is the per-row
    * ln(integer-valued double), which both engines compute to <1 ulp —
    * absorbed by the quantization except on (measure-zero) boundary
    * ties, same accepted class as q63's rank-on-rounded.
    *
    * At 100 TB: tokenize once (checkpointed), vocab aggregate with
    * map-side combine, then the scoring join split head/tail
    * ([[headTailScoreJoin]]): the top-10⁴ tokens — the Zipf mass —
    * join broadcast with no shuffle of their rows, the bounded tail
    * takes the equality join. No driver-side state. */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      headVocab: Int = 10000): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .localCheckpoint() // feeds vocab, total AND scoring: tokenize once
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds the total AND the scoring join
    // same number as count over toks, derived from the corpus-bounded
    // vocab instead of a second full pass over every token row
    val totalDf = vocab.agg(sum("cnt").as("total"))
    headTailScoreJoin(toks, vocab, Seq("tok"), col("cnt"), headVocab)
      .crossJoin(broadcast(totalDf))
      .withColumn("lp_q",
        round((log(col("cnt").cast("double")) -
          log(col("total").cast("double"))) * 10000).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp_q")).as("sum_lp"))
      .select(col("doc_id"), col("n_tokens"),
        (round(col("sum_lp") / col("n_tokens")) / 10000.0).as("avg_logprob"))
  }

  /** Bigram-LM quality score — [[unigramLogProb]]'s conditional upgrade
    * (the CCNet/KenLM-style filter family): per-doc mean ln p(t₂|t₁)
    * under the corpus's own bigram counts, p(t₂|t₁) = c(t₁t₂)/c(t₁·).
    * Catches wrong-order token soup that unigram statistics score as
    * fluent (every word common, no pair plausible). Scoring the training
    * corpus against itself means every observed bigram has c ≥ 1 — MLE
    * needs no smoothing here (a held-out variant would).
    *
    * Same hash-gate contract as q71: per-position log-probs quantize to
    * exact longs at 1e-4 nats BEFORE the per-doc sum; ln runs on
    * integer-valued doubles only. Docs with <2 tokens have no bigrams
    * and drop out (identically in the oracle).
    *
    * At 100 TB: the bigram explode is one row per adjacent pair
    * (≈ corpus tokens); counts aggregate with map-side combine; the
    * start-token denominator derives from the bigram counts (no second
    * corpus pass); the scoring join folds numerator+denominator into
    * one build table and splits head/tail ([[headTailScoreJoin]]) so
    * Zipf-head pairs never shuffle on the bigram OR t₁ key. */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      headVocab: Int = 10000): DataFrame = {
    val bi = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      // Spark array subscripts are 0-based: i = 1..n-1 pairs (i-1, i)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS t1, toks[i] AS t2))")).as("b"))
      .select(col("doc_id"), col("b.t1").as("t1"), col("b.t2").as("t2"))
      .localCheckpoint() // feeds counts AND scoring: tokenize/explode once
    val c12 = bi.groupBy("t1", "t2").agg(count(lit(1)).as("c12"))
      .localCheckpoint() // feeds the denominator AND the scoring join
    val c1 = c12.groupBy("t1").agg(sum("c12").as("c1"))
    // numerator and denominator fold into ONE vocab-sized build table,
    // so the head/tail split removes head rows from BOTH skewed joins
    // (the t1-keyed denominator join was the worse of the two)
    headTailScoreJoin(bi, c12.join(c1, Seq("t1")),
      Seq("t1", "t2"), col("c12"), headVocab)
      .withColumn("lp_q",
        round((log(col("c12").cast("double")) -
          log(col("c1").cast("double"))) * 10000).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_q")).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        (round(col("sum_lp") / col("n_bigrams")) / 10000.0).as("avg_logprob"))
  }

  /** DSIR-style data selection (q90) — importance reweighting with
    * hashed n-gram features (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how much its token distribution looks like a TARGET domain
    * versus the RAW pool, using bag-of-hashed-unigram bucket statistics,
    * and keep the top-k. The target here is the corpus' own
    * `lang = targetLang` slice (the "in-domain sample" a real pipeline
    * would draw from Wikipedia/books); the raw pool is the whole corpus.
    *
    * Per bucket b: lw(b) = ln p̂_target(b) − ln p̂_raw(b) under add-one
    * smoothing — ln runs on INTEGER-valued doubles only (the q71/q82
    * parity contract), quantized to exact longs at 1e-4 nats, so the
    * per-doc score Σ count(d,b)·lw(b) is exact integer arithmetic and
    * the top-k boundary is deterministic cross-engine (ties break by
    * doc_id). The md5-prefix bucket hash is the cross-engine hash
    * (DuckDB states it as a hex cast; Spark as `conv`).
    *
    * 100 TB posture: ONE tokenize pass (localCheckpoint feeds both the
    * bucket histograms and the per-doc counts); the bucket histogram is
    * `buckets` rows after map-side combine (65 536 at production scale —
    * kilobytes); the learned log-weight table BROADCASTS to the scoring
    * join, so the only real shuffles are the map-side-combined
    * (doc, bucket) count and the per-doc sum; selection is
    * TakeOrderedAndProject (top-k per partition → merge on the driver),
    * never a global sort. */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, targetLang: String = "en", buckets: Int = 4096,
      topK: Int = 500): DataFrame = {
    val feats = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        (col(langCol) === targetLang).as("is_target"),
        explode(tokens(col(textCol))).as("tok"))
      .withColumn("bucket",
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % buckets)
      .drop("tok")
      .localCheckpoint() // hashed once: feeds the histograms AND per-doc counts
    val hist = feats.groupBy("bucket").agg(
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      .localCheckpoint() // feeds the totals AND the weight table
    val totals = hist.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    // ln on integer-valued doubles, same association left-to-right as
    // the oracle states it: identical IEEE result in both engines.
    val lw = hist.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round((log((col("ct") + 1L).cast("double")) -
          log((col("tt") + buckets.toLong).cast("double")) -
          log((col("cr") + 1L).cast("double")) +
          log((col("tr") + buckets.toLong).cast("double"))) * 10000)
          .cast("long").as("lw_q"))
    feats.groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
      .join(broadcast(lw), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("cnt") * col("lw_q")).as("w_q"), sum("cnt").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (round(col("w_q") / col("n_tokens")) / 10000.0).as("avg_importance"))
      .orderBy(desc("avg_importance"), col("doc_id"))
      .limit(topK)
  }

  /** Per-source token-distribution divergence (q93) — the domain-mix
    * diagnostic next to q90's selection: a plug-in ESTIMATE of
    * KL(source ‖ corpus) over hashed token buckets says WHICH sources
    * deviate from the corpus mixture and by how much (a spiking
    * divergence on an ingest source is the canonical "crawler started
    * pulling spam" alarm).
    *
    * Estimator honesty: the score is the empirical mean log-likelihood
    * ratio of the source's own tokens under the add-one-smoothed
    * source model vs the add-one-smoothed corpus model — the standard
    * plug-in KL estimate. Add-one smoothing with B buckets carries a
    * finite-sample bias of roughly −ln(1 + B/T_s) that is common-mode
    * across sources (at the fixture's T_s ≈ 10³ ≪ B it shows as a
    * shared negative offset; at production T_s ≫ B it vanishes), so
    * the DIAGNOSTIC — relative deviation across sources, and a spike
    * on one source over time — is unaffected. The column is named
    * `kl_est_nats` for that reason.
    *
    * Same exactness contract as q90: md5-prefix buckets (the
    * cross-engine hash), add-one smoothing so every ln argument is an
    * INTEGER-valued double, per-bucket terms quantized to exact longs —
    * here the term is count_s(b) · [ln p̂_s(b) − ln p̂(b)] scaled by
    * 1e6/total_s, i.e. KL in nats ≈ Σ terms / 1e6, assembled from
    * integer-valued ln inputs only:
    *   term(b) = round( c_s(b) · (ln(c_s(b)+1) − ln(T_s+B)
    *                            − ln(c(b)+1)  + ln(T+B)) · 1e6 / T_s )
    * (the c_s·ln(...)·1e6/T_s product is one double expression with a
    * fixed shape, mirrored verbatim in the oracle, so both engines
    * compute bit-identical doubles before the single rounding).
    *
    * 100 TB posture: ONE tokenize pass; per-(source, bucket) counts
    * map-side combine to |sources|·B rows; the corpus bucket histogram
    * (B rows) BROADCASTS into the per-source scoring; output is one row
    * per source. No joins on the token key, no windows. */
  def sourceKlDivergence(docs: DataFrame, textCol: String,
      sourceCol: String, buckets: Int = 4096): DataFrame = {
    val feats = docs.filter(col(textCol).isNotNull)
      .select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("tok"))
      .withColumn("bucket",
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % buckets)
      .drop("tok")
    val bySrc = feats.groupBy("source", "bucket")
      .agg(count(lit(1)).as("cs"))
      .localCheckpoint() // feeds the corpus histogram AND the scoring
    val corpus = bySrc.groupBy("bucket").agg(sum("cs").as("c"))
    val corpusTotal = corpus.agg(sum("c").as("t"))
    val srcTotal = bySrc.groupBy("source").agg(sum("cs").as("ts"))
    bySrc
      .join(broadcast(corpus), Seq("bucket"))
      .join(broadcast(srcTotal), Seq("source"))
      .crossJoin(broadcast(corpusTotal))
      .withColumn("term_q",
        round(col("cs").cast("double") *
          (log((col("cs") + 1L).cast("double")) -
            log((col("ts") + buckets.toLong).cast("double")) -
            log((col("c") + 1L).cast("double")) +
            log((col("t") + buckets.toLong).cast("double"))) *
          lit(1000000.0) / col("ts").cast("double")).cast("long"))
      .groupBy("source")
      .agg(max("ts").as("n_tokens"), sum("term_q").as("kl_q"))
      .select(col("source"), col("n_tokens"),
        (col("kl_q").cast("double") / 1000000.0).as("kl_est_nats"))
      .orderBy(col("source"))
  }

  /** KL(batch ‖ reference) against a FROZEN reference histogram — the
    * drift-monitor core s21 runs per micro-batch: [[sourceKlDivergence]]
    * derives the corpus histogram from the same frame it scores, which
    * is the offline-diagnostic shape; a monitor instead holds a fixed
    * baseline (`refHist`: (bucket, c) over the reference corpus,
    * `refTotal`: its token count) and scores each arriving batch
    * against it, so per-trigger cost is the batch tokenize + a
    * broadcast join with the B-row baseline — nothing rescans the
    * reference. Identical quantized-ln exactness contract as q93
    * (term rounded to exact longs at 1e-6 nats before the sum), so the
    * streaming emissions hash-match the batch restatement. The
    * reference join is LEFT-outer with `c = 0` for buckets the baseline
    * never saw: novel-token mass is exactly what a drift monitor exists
    * to catch, and an inner join would silently drop it — add-one
    * smoothing keeps the novel terms finite
    * (ln(c+1) = 0 contributes the full surprise weight). */
  def klAgainstReference(batch: DataFrame, textCol: String,
      genExpr: org.apache.spark.sql.Column, refHist: DataFrame,
      refTotal: Long, buckets: Int = 4096): DataFrame = {
    val feats = batch.filter(col(textCol).isNotNull)
      .select(genExpr.as("gen"), explode(tokens(col(textCol))).as("tok"))
      .withColumn("bucket",
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % buckets)
      .drop("tok")
    val byGen = feats.groupBy("gen", "bucket")
      .agg(count(lit(1)).as("cs"))
      .localCheckpoint() // feeds the per-gen totals AND the scoring
    val genTotal = byGen.groupBy("gen").agg(sum("cs").as("ts"))
    byGen
      .join(broadcast(refHist), Seq("bucket"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L))) // novel bucket: zero mass
      .join(broadcast(genTotal), Seq("gen"))
      .withColumn("term_q",
        round(col("cs").cast("double") *
          (log((col("cs") + 1L).cast("double")) -
            log((col("ts") + buckets.toLong).cast("double")) -
            log((col("c") + 1L).cast("double")) +
            log(lit((refTotal + buckets.toLong).toDouble))) *
          lit(1000000.0) / col("ts").cast("double")).cast("long"))
      .groupBy("gen")
      .agg(max("ts").as("n_tokens"), sum("term_q").as("kl_q"))
      .select(col("gen"), col("n_tokens"),
        (col("kl_q").cast("double") / 1000000.0).as("kl_est_nats"))
  }

  def withFingerprint(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("fingerprint",
      aggregate(
        transform(
          // drop the trailing "" Java's split-by-empty-regex appends
          filter(split(normText(col(textCol)), ""), c => c =!= ""),
          c => ascii(c).cast("long")),
        lit(0L),
        (h, c) => (h * 31 + c) % 1000000007L))

  /** Incremental distinct-token statistics via mergeable HLL sketches
    * (q86) — the Datasketches pattern every continuously-ingested
    * corpus needs: per-source distinct-vocabulary cardinality where a
    * NEW snapshot's stats are the `hll_union` of the previous
    * snapshot's PERSISTED sketch with a sketch of only the new batch —
    * never a rescan of the accumulated corpus (q59's incremental-ingest
    * argument applied to statistics instead of dedup). The exact
    * distinct (q09's class) costs a corpus-wide distinct shuffle *per
    * refresh*; the sketch is ~4 KB per source at lgK=12, additive
    * map-side, and estimate error ~1.6 % where the exact answer is
    * unaffordable.
    *
    * The snapshot split mirrors q59's convention (doc_id ≡ 0 mod 3 =
    * the PREVIOUS snapshot). Output exposes BOTH `est_union` (union of
    * the two per-snapshot sketches — the incremental path) and
    * `est_direct` (one sketch over everything — the rescan it
    * replaces): HLL register state is a per-bucket max, so building
    * order can't matter and the two columns agree, visible in the
    * result itself (and gated in TextAnalysisSpec along with the
    * dense-mode error bound and a parquet persistence round-trip).
    *
    * 100 TB posture: one token explode; the per-(source, snapshot)
    * aggregate combines map-side (TypedImperativeAggregate merge), the
    * exchange carries #sources × ~4 KB sketches, and the union step is
    * a #sources-row projection. Rows-only gate: the estimate is
    * deterministic (no RNG) but Datasketches' exact register math is
    * not oracle-expressible. */
  def hllSnapshotStats(
      docs: DataFrame, textCol: String, sourceCol: String,
      isPrev: Column): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(sourceCol).as("source"), isPrev.as("is_prev"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy("source")
      .agg(
        count(when(col("is_prev"), lit(1))).as("n_prev_tokens"),
        count(when(!col("is_prev"), lit(1))).as("n_new_tokens"),
        // conditional inputs: nulls are skipped by the sketch aggregate,
        // so one pass builds all three sketches without a self-join
        hll_sketch_agg(when(col("is_prev"), col("tok"))).as("sk_prev"),
        hll_sketch_agg(when(!col("is_prev"), col("tok"))).as("sk_new"),
        hll_sketch_agg(col("tok")).as("sk_all"))
      .select(col("source"), col("n_prev_tokens"), col("n_new_tokens"),
        hll_sketch_estimate(col("sk_prev")).as("est_prev"),
        hll_sketch_estimate(col("sk_new")).as("est_new"),
        hll_sketch_estimate(hll_union(col("sk_prev"), col("sk_new")))
          .as("est_union"),
        hll_sketch_estimate(col("sk_all")).as("est_direct"))

  /** Heavy-hitter token counts through a Count–Min sketch (q87) — the
    * approximate scale path of q60's exact vocabulary top-k: at web
    * scale the distinct-token set is 10⁷–10⁹ rows and an exact
    * per-token count is a vocab-sized shuffle, while the head of the
    * Zipf curve (the only part a stopword list, a repetition filter or
    * a q71-style head-vocab broadcast needs) is answerable from one
    * mergeable ~100 KB sketch plus a BOUNDED candidate probe.
    *
    * Two passes over the token stream, neither shuffling tokens by
    * value: (1) `count_min_sketch` aggregates to ONE binary (additive
    * counters — partial sketches merge exactly, so map-side combine is
    * lossless); (2) candidates = the distinct tokens of a deterministic
    * 1-in-`sampleMod` document sample (every token with frequency
    * ≳ corpus/sampleMod appears in some sampled doc with near
    * certainty — the heavy hitters by definition), probed ROW-LOCALLY
    * by [[graft.functions.CmsCountString]] with the driver-resolved
    * sketch riding the expression (q78's codebook pattern; the sketch
    * fetch is one constant-size collect). CMS guarantees
    * est ≥ true and est ≤ true + ε·N with prob. `confidence` — both
    * directions gated in TextAnalysisSpec on a Zipf corpus, plus exact
    * additive-merge equality.
    *
    * Ranking is top-`k` by (estimate desc, token asc) over the bounded
    * candidate set — TakeOrderedAndProject, q16's class. Rows-only
    * gate: the pairwise-independent hash family is not
    * oracle-expressible. */
  def cmsHeavyHitters(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      sampleMod: Int = 10, eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    require(k > 0, "k must be positive")
    require(sampleMod > 0, "sampleMod must be positive")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
    // ONE constant-size driver fetch (~depth·width longs) — the q78
    // codebook precedent; never grows with the corpus
    val sketchBytes = toks
      .agg(count_min_sketch(col("tok"), lit(eps), lit(confidence), lit(seed))
        .as("sk"))
      .head().getAs[Array[Byte]]("sk")
    // hash-based sampling: works for ANY id type (a `% sampleMod` on
    // the raw id silently empties the sample for string ids — the cast
    // nulls — or for id spaces that skip residue class 0)
    val sampled = toks
      .filter(pmod(xxhash64(col("doc_id")), lit(sampleMod)) === 0)
      .select("tok").distinct()
    // tiny-corpus fallback: with n_docs ≲ sampleMod the hash sample can
    // deterministically select zero documents — an empty top-k with no
    // error would silently break the operator's contract, and at that
    // size the full distinct-token probe is cheaper than the question
    val candidates =
      if (sampled.isEmpty) toks.select("tok").distinct() else sampled
    import org.apache.spark.sql.graft.GraftSqlBridge.{column, expression}
    candidates
      .select(col("tok"), column(graft.functions.CmsCountString(
        expression(col("tok")), sketchBytes)).as("est_count"))
      .orderBy(col("est_count").desc, col("tok")).limit(k)
  }
}
