package graft.llm

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.SuiteHygiene
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Edge semantics of the redaction operator (q43): ordering of the
  * redaction chain and count correctness on adversarial inputs. */
class TextAnalysisSpec extends AnyFunSuite with SparkFixture {

  private def fixtureDocs = graft.Tables(spark, sf0001, "documents")

  test("redaction replaces emails before digit runs, never double-counting") {
    import spark.implicits._
    val docs = Seq(
      // digits inside the email must not count as a standalone number
      (1L, "reach me at bob12345@mail99.example.com thanks"),
      // a real long number AND an email
      (2L, "card 123456789 belongs to a@b.io"),
      // short digit runs (<4) stay untouched
      (3L, "v2 release 123 of 999"),
      // nothing to redact
      (4L, "clean text only")).toDF("doc_id", "text")
    val out = TextAnalysis.withRedaction(docs, "text")
      .select("doc_id", "n_emails", "n_nums", "redacted")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(out(0) === ((1L, 1L, 0L, "reach me at <EMAIL> thanks")))
    assert(out(1) === ((2L, 1L, 1L, "card <NUM> belongs to <EMAIL>")))
    assert(out(2) === ((3L, 0L, 0L, "v2 release 123 of 999")))
    assert(out(3) === ((4L, 0L, 0L, "clean text only")))
  }

  /** Reference BPE: same vocabulary, same (count desc, left, right)
    * tiebreak, same greedy left-to-right merge — plain Scala. */
  private def refBpe(wordFreq: Seq[(String, Long)],
      steps: Int): Seq[(Long, String, String, String, Long)] = {
    var words = wordFreq.map { case (w, f) => (w.split("").toVector, f) }
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= steps && !done) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (sym, f) =>
        sym.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _         =>
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((step.toLong, l, r, l + r, c))
        words = words.map { case (sym, f) =>
          var acc = Vector.empty[String]
          sym.foreach { x =>
            if (acc.nonEmpty && acc.last == l && x == r) acc = acc.init :+ (l + r)
            else acc :+= x
          }
          (acc, f)
        }
        step += 1
      }
    }
    out.result()
  }

  test("bpeMerges equals the reference trainer, including the lexicographic tiebreak") {
    import spark.implicits._
    // 'low'×5, 'lower'×2, 'newest'×3 (the Sennrich toy corpus family)
    // plus a deliberate tie: 'ab'×2 vs 'cd'×2 — (a,b) must win on order.
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower"),
      (3L, "newest newest newest"),
      (4L, "ab ab cd cd")).toDF("doc_id", "text")
    val wordFreq = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 3L,
      "ab" -> 2L, "cd" -> 2L)
    val got = TextAnalysis.bpeMerges(docs, "text", steps = 6)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq.sortBy(_._1)
    val want = refBpe(wordFreq, steps = 6)
    assert(got === want)
    // and the fused pair really chains: some later merge must consume an
    // earlier merged symbol (BPE's whole point)
    val mergedSymbols = got.map(_._4).toSet
    assert(got.exists(m => mergedSymbols.contains(m._2) || mergedSymbols.contains(m._3)),
      s"no merge consumed an earlier merge's output: $got")
  }

  test("NB quality classifier separates its weak labels, non-vacuously") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables(spark, sf0001, "documents")
    val scores = TextAnalysis.nbQualityScores(docs, "doc_id", "text", "source")
    // recover the weak labels the trainer used
    val scored = TextAnalysis.withQuality(
      docs.select(col("doc_id"), col("source"), col("text")), "text")
      .groupBy(col("source"))
      .agg((sum(round(col("quality") * 10000).cast("long")).cast("double") /
        (count(lit(1)) * 10000.0)).as("src_quality"))
    val joined = docs.select(col("doc_id"), col("source"))
      .join(scored, "source")
      .withColumn("lab", col("src_quality") >= 0.5)
      .join(scores, "doc_id")
      .select(col("lab"), col("predicted"), col("score4"))
      .collect()
    assert(joined.nonEmpty)
    val pos = joined.filter(_.getBoolean(0)).map(_.getDouble(2))
    val neg = joined.filterNot(_.getBoolean(0)).map(_.getDouble(2))
    assert(pos.nonEmpty && neg.nonEmpty, "weak labels degenerate — fixture drifted?")
    // trained on these labels, the classifier must at least order the
    // class means correctly and beat coin-flip agreement
    assert(pos.sum / pos.size > neg.sum / neg.size,
      "positive-source docs do not outscore negative-source docs")
    val agree = joined.count(r => r.getBoolean(0) == r.getBoolean(1)).toDouble / joined.size
    assert(agree > 0.6, s"classifier agrees with its own training labels only $agree")
  }

  test("bpeMerges honors maxVocabWords: merges derive only from the frequency-cut vocabulary") {
    import spark.implicits._
    // 'zzzz'×2 would dominate pair counts ((z,z) appears 3×/word → 6)
    // but loses the FREQUENCY cut at maxVocabWords=2 to 'ab'×3 and
    // 'ac'×2 ('ac' < 'zzzz' on the word-asc tiebreak at freq 2) — so
    // the first merge must be (a,b,3), and no z merge may ever appear.
    val docs = Seq((1L, "ab ab ab zzzz zzzz ac ac")).toDF("doc_id", "text")
    val capped = TextAnalysis.bpeMerges(docs, "text", steps = 2, maxVocabWords = 2)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(capped.head === ("a", "b", 3L))
    assert(!capped.exists(m => m._1.contains("z") || m._2.contains("z")),
      s"a merge leaked from beyond the vocabulary cut: $capped")
    // uncapped, the dominant zzzz pair wins — the cap is load-bearing
    val uncapped = TextAnalysis.bpeMerges(docs, "text", steps = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(uncapped.head === ("z", "z", 6L))
  }

  test("bpeMerges exhausts gracefully when no pairs remain") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, "text", steps = 3).collect()
    assert(got.isEmpty)
  }

  /** Spark's string order: unsigned UTF-8 bytes. `String.compareTo`
    * orders by UTF-16 units and disagrees above U+FFFF (😀 < ａ there,
    * ａ < 😀 here). */
  private val utf8Order: Ordering[String] = (a, b) =>
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** Reference BPE from raw text, with every order in UTF-8 bytes: space
    * tokens, the (freq desc, word asc) cut to `maxVocabWords`, code-point
    * symbols, the (count desc, left asc, right asc) argmax and the greedy
    * left-to-right fold. Also reports which edge cases the corpus hit. */
  private def utf8RefBpe(texts: Seq[String], steps: Int, maxVocabWords: Int)
      : (Seq[(Long, String, String, String, Long)], Set[String]) = {
    val hits = Set.newBuilder[String]
    val freq = texts.flatMap(_.split(" ")).groupBy(identity).toSeq
      .map { case (w, ws) => (w, ws.size.toLong) }
      .sortBy { case (w, f) => (-f, w) }(Ordering.Tuple2(Ordering.Long, utf8Order))
    if (freq.size > maxVocabWords && freq(maxVocabWords - 1)._2 == freq(maxVocabWords)._2)
      hits += "cut tie"
    var words = freq.take(maxVocabWords).map { case (w, f) =>
      (w.codePoints.toArray.toVector.map(cp => new String(Character.toChars(cp))), f)
    }
    if (words.exists(_._1.sliding(3).exists(t => t.size == 3 && t.distinct.size == 1)))
      hits += "overlapping repeat"
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= steps && !done) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (sym, f) =>
        sym.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _         =>
        }
      }
      if (counts.isEmpty) { done = true; hits += "exhaustion" }
      else {
        val top = counts.values.max
        val tied = counts.keys.filter(counts(_) == top).toSeq
        val (l, r) = tied.min(Ordering.Tuple2(utf8Order, utf8Order))
        if (tied.size > 1) hits += "count tie"
        if (tied.min != ((l, r))) hits += "utf-8 tiebreak"
        out += ((step.toLong, l, r, l + r, top))
        words = words.map { case (sym, f) =>
          var acc = Vector.empty[String]
          sym.foreach { x =>
            if (acc.nonEmpty && acc.last == l && x == r) acc = acc.init :+ (l + r)
            else acc :+= x
          }
          (acc, f)
        }
        step += 1
      }
    }
    val merges = out.result()
    val merged = merges.map(_._4).toSet
    if (merges.exists(m => merged(m._2) || merged(m._3))) hits += "chained merge"
    Seq("ascii" -> "[a-c]", "cjk" -> "[中文]", "fullwidth" -> "[ａｘ]", "supplementary" -> "[😀😁]")
      .foreach { case (k, re) =>
        if (merges.exists(m => re.r.findFirstIn(m._2 + m._3).isDefined)) hits += k
      }
    (merges, hits.result())
  }

  private def bpeRows(texts: Seq[String], steps: Int, maxVocabWords: Int) = {
    import spark.implicits._
    TextAnalysis.bpeMerges(texts.toDF("text"), "text", steps, maxVocabWords)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq.sortBy(_._1)
  }

  test("bpeMerges orders ties by UTF-8 bytes, as Spark does (U+FF41 before U+1F600)") {
    // step 2 ties (ａ,x) with (😀,x) and step 4 (aa,a) with (aa,😀); after
    // step 5 no pair is left
    val got = bpeRows(Seq("ａx ａx 😀x 😀x aa😀 aaa"), steps = 10, maxVocabWords = 10000)
    assert(got === Seq((1L, "a", "a", "aa", 3L), (2L, "ａ", "x", "ａx", 2L),
      (3L, "😀", "x", "😀x", 2L), (4L, "aa", "a", "aaa", 1L), (5L, "aa", "😀", "aa😀", 1L)))
    assert(utf8RefBpe(Seq("ａx ａx 😀x 😀x aa😀 aaa"), 10, 10000)._1 === got)
  }

  test("bpeMerges matches a UTF-8-ordered reference on seeded corpora") {
    // small per-corpus alphabets and word pools force repeats, count
    // ties and ties at the vocabulary cut; the symbols span ASCII, CJK,
    // fullwidth (U+FF41 class) and supplementary (emoji) code points
    val symbols = Seq("a", "b", "c", "中", "文", "ａ", "ｘ", "😀", "😁")
    val corpusGen = for {
      alphabet <- Gen.pick(3, symbols)
      word = Gen.oneOf(
        Gen.choose(1, 5).flatMap(Gen.listOfN(_, Gen.oneOf(alphabet.toSeq))).map(_.mkString),
        Gen.zip(Gen.oneOf(alphabet.toSeq), Gen.choose(2, 4)).map { case (x, n) => x * n })
      pool <- Gen.choose(2, 8).flatMap(Gen.listOfN(_, word))
      words <- Gen.choose(1, 25).flatMap(Gen.listOfN(_, Gen.oneOf(pool)))
      docs <- Gen.choose(1, 3)
      steps <- Gen.choose(1, 8)
      cut <- Gen.frequency(3 -> Gen.choose(1, pool.distinct.size), 1 -> Gen.const(10000))
    } yield (words.grouped((words.size + docs - 1) / docs).map(_.mkString(" ")).toSeq, steps, cut)
    val hits = (1 to 30).flatMap { seed =>
      val (texts, steps, cut) = corpusGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val (want, hit) = utf8RefBpe(texts, steps, cut)
      assert(bpeRows(texts, steps, cut) === want,
        s"seed $seed: steps $steps, maxVocabWords $cut, corpus $texts")
      hit
    }.toSet
    // the seeds above must exercise every edge case, or the property is vacuous
    val cases = Set("cut tie", "overlapping repeat", "exhaustion", "count tie",
      "utf-8 tiebreak", "chained merge", "ascii", "cjk", "fullwidth", "supplementary")
    assert(cases -- hits === Set.empty[String])
  }

  test("bpeMerges runs the same few Spark jobs at 1 step and at 10") {
    val sc = spark.sparkContext
    val docs = fixtureDocs // the catalog bootstrap's own jobs stay outside the count
    def jobs(steps: Int): (Int, Int) = {
      val group = s"bpe-jobs-$steps"
      val n = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
            n.incrementAndGet()
      }
      sc.addSparkListener(listener)
      sc.setJobGroup(group, "bpeMerges job count")
      val merges = try TextAnalysis.bpeMerges(docs, "text", steps = steps).collect().length
      finally {
        sc.clearJobGroup()
        SuiteHygiene.settle(sc)
        sc.removeSparkListener(listener)
      }
      (n.get, merges)
    }
    val ((one, _), (ten, merges)) = (jobs(1), jobs(10))
    assert(merges === 10, "the fixture ran out of pairs before step 10")
    assert(one === ten, "jobs grow with the step count")
    assert(ten <= 6, s"$ten jobs")
  }

  test("vocabTopK ranks by count desc with token-asc tiebreak, keeps k") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "b b b a a c"),
      (2L, "en", "a c d"),
      (3L, "fr", "x y")).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.vocabTopK(docs, "lang", "text", k = 2)
      .select("lang", "rk", "tok", "cnt")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // en: a=3, b=3 (tie → a first), c=2 cut by k=2; fr: x=1, y=1
    assert(out === Array(
      ("en", 1L, "a", 3L), ("en", 2L, "b", 3L),
      ("fr", 1L, "x", 1L), ("fr", 2L, "y", 1L)))
  }

  test("tfidfTopK: rare terms outrank common ones; ubiquitous terms score 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared shared rare1 rare1 rare1"),
      (2L, "shared common rare2"),
      (3L, "shared common filler")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopK(docs, "doc_id", "text", k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // doc 1: rare1 (tf 3, df 1) dominates; 'shared' has df 3 = N → 0
    assert(d1.head._3 === "rare1" && d1.head._4 === 3L)
    assert(d1.find(_._3 == "shared").get._5 === 0.0)
    // ranks are contiguous from 1 within each doc
    out.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length))
    }
  }

  test("mix sampler cuts every stratum to the smallest stratum's size") {
    val out = LlmQueries.q66_mix_sample(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byLang = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val counts = graft.Tables(spark, sf0001, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val target = counts.values.min
    assert(byLang.keySet === counts.keySet, "every stratum is represented")
    byLang.foreach { case (lang, rks) =>
      assert(rks === (1L to target), s"$lang must hold ranks 1..$target")
    }
  }

  test("weighted mix sampler keeps ceil(cnt·w) contiguous ranks per stratum") {
    val out = LlmQueries.q66b_mix_weighted(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byLang = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val counts = graft.Tables(spark, sf0001, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact decimal ceil — the operator's contract (a double-path ceil
    // diverges for weights like 0.07; see q66b's scaladoc)
    val weights = Map("en" -> BigDecimal("0.20"), "de" -> BigDecimal("0.50"),
      "es" -> BigDecimal("0.40"), "fr" -> BigDecimal("0.40"),
      "zh" -> BigDecimal("0.40"))
    assert(byLang.keySet === counts.keySet, "every stratum is represented")
    byLang.foreach { case (lang, rks) =>
      val target = (BigDecimal(counts(lang)) * weights(lang))
        .setScale(0, BigDecimal.RoundingMode.CEILING).toLong
      assert(rks === (1L to target), s"$lang must hold ranks 1..$target")
    }
    // the recipe actually reweights: en's keep-fraction is strictly
    // below the others' despite being the largest stratum
    val fracs = byLang.map { case (l, rks) => l -> rks.size.toDouble / counts(l) }
    assert(fracs("en") < fracs.filterNot(_._1 == "en").values.min)
  }

  test("pack shards: shard is the start-offset chunk under the salted order") {
    def sha(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = LlmQueries.q67_pack_shards(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    // independent driver-side replay of the greedy fold
    out.groupBy(t => (t._1, t._2)).foreach { case ((_, bucket), rows) =>
      val ordered = rows.sortBy(t => (sha(s"graft|${t._3}"), t._3))
      var cum = 0L
      ordered.foreach { case (_, b, docId, nTok, shard) =>
        assert(b === sha(s"graft|$docId").substring(0, 2),
          s"doc $docId bucketed by the wrong hash prefix")
        assert(shard === cum / 500,
          s"doc $docId: shard $shard != start-offset chunk ${cum / 500}")
        cum += nTok
      }
      assert(bucket === ordered.head._2)
    }
    // the 256-way fan-out is real: many buckets per language, and the
    // width knob actually changes the plan's partitioning key
    assert(out.groupBy(_._1).forall(_._2.map(_._2).distinct.length > 16))
    val narrow = LlmQueries.packShards(
        graft.Tables(spark, sf0001, "documents"), bucketHexChars = 1)
      .select(col("bucket")).distinct().collect().map(_.getString(0))
    assert(narrow.forall(_.length == 1) && narrow.length <= 16)
  }

  test("leakage-safe split co-locates exact duplicates, incl. case/whitespace variants") {
    import spark.implicits._
    // the fixture has no EXACT dup groups (only near-dups), so the
    // co-location guarantee is driven by an adversarial corpus: four
    // normalization-equivalent variants of one document must all land
    // in the same split as each other
    val docs = Seq(
      (1L, "The Quick   Brown Fox"), (2L, "the quick brown fox"),
      (3L, " THE  QUICK BROWN  FOX "), (4L, "the\tquick\nbrown fox"),
      (5L, "a completely different document")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.splitOf(col("text")).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Set(out(1L), out(2L), out(3L), out(4L)).size === 1,
      s"normalization-equal docs straddled splits: $out")
    // and the 80/10/10 recipe is roughly honored on the fixture
    val dist = LlmQueries.q68_leakage_safe_split(spark, sf0001)
      .groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = dist.values.sum.toDouble
    assert(dist.keySet === Set("train", "val", "test"))
    assert(dist("train") / total > 0.7 && dist("train") / total < 0.9)
  }

  test("boilerplateGrams counts DISTINCT docs (intra-doc repeats once)") {
    import spark.implicits._
    val shared = "one two three four five"
    val docs = Seq(
      // the shared 5-gram appears TWICE in doc 1 — still df 2, not 3
      (1L, s"$shared and $shared"),
      (2L, s"prefix words here $shared"),
      (3L, "totally different content with no overlap at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateGrams(docs, "text", n = 5, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out(shared) === 2L)
    // no gram from the unrelated doc crosses the threshold
    assert(out.keys.forall(_.split(" ").length == 5))
    assert(!out.keys.exists(_.contains("totally")))
  }

  test("q62b approx thresholds honor the sketch's rank-error bound per source") {
    // percentile_approx at accuracy a guarantees the returned value's
    // rank is within n/a of the target rank; at the fixture's n per
    // source that's ≲ 1 rank. Assert the bound directly per source.
    val d = graft.Tables(spark, sf0001, "documents")
      .select(col("source"), col("n_chars").cast("long").as("n_chars"))
    val thr = LlmQueries.approxLengthThresholds(d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bySource = d.collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2).sorted }
    assert(thr.keySet === bySource.keySet)
    for ((src, vals) <- bySource; (lo, hi) = thr(src)) {
      val n = vals.length
      val tol = n.toDouble / 10000 + 1 // sketch bound + tie slack
      def rankBoundsOk(v: Long, p: Double): Boolean = {
        val below = vals.count(_ < v)
        val atOrBelow = vals.count(_ <= v)
        below <= p * n + tol && atOrBelow >= p * n - tol
      }
      assert(rankBoundsOk(lo, 0.05), s"$src: lo=$lo violates the 5% rank bound")
      assert(rankBoundsOk(hi, 0.95), s"$src: hi=$hi violates the 95% rank bound")
    }
  }

  test("q62b band differs from the exact q62 band only at boundary values") {
    val exact = LlmQueries.q62_length_filter(spark, sf0001)
      .select(col("source"), col("doc_id"), col("n_chars").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val approx = LlmQueries.q62b_length_filter_approx(spark, sf0001)
      .select(col("source"), col("doc_id"), col("n_chars").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(approx.nonEmpty)
    val thr = LlmQueries.approxLengthThresholds(
        graft.Tables(spark, sf0001, "documents")
          .select(col("source"), col("n_chars").cast("long").as("n_chars")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val eByS = exact.groupBy(_._1)
    val aByS = approx.groupBy(_._1)
    for (src <- eByS.keySet ++ aByS.keySet) {
      val e = eByS.getOrElse(src, Array.empty)
      val a = aByS.getOrElse(src, Array.empty)
      assert(e.nonEmpty,
        s"$src: exact band empty — fixture too small for the comparison")
      val eIds = e.map(_._2).toSet
      val aIds = a.map(_._2).toSet
      // legitimate divergence: thresholds keep a whole tied boundary
      // group, percent_rank's doc_id tiebreak can split it
      val boundary = Set(e.map(_._3).min, e.map(_._3).max,
        thr(src)._1, thr(src)._2)
      val diff = (e ++ a).filter(t =>
        (eIds contains t._2) != (aIds contains t._2))
      assert(diff.forall(t => boundary.contains(t._3)),
        s"$src: non-boundary divergence ${diff.filterNot(t => boundary.contains(t._3)).take(5).mkString(",")}")
    }
  }

  test("chunkDocuments: stride windows cover every token; overlap and tail are exact") {
    import spark.implicits._
    // 10 tokens, chunkSize 4, stride 3 → starts 0,3,6,9
    val docs = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (2L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
        chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getString(3), r.getString(4)))
      .sortBy(t => (t._1, t._2))
    assert(out.filter(_._1 == 1L) === Array(
      (1L, 0, 4L, "t0", "t3"),
      (1L, 1, 4L, "t3", "t6"), // consecutive chunks share chunkSize−stride=1 token
      (1L, 2, 4L, "t6", "t9"),
      (1L, 3, 1L, "t9", "t9"))) // short tail, never dropped
    assert(out.filter(_._1 == 2L) === Array((2L, 0, 1L, "solo", "solo")))
    // coverage: every token index appears in some [start, start+size) window
    val covered = out.filter(_._1 == 1L).flatMap(c =>
      (c._2 * 3) until (c._2 * 3 + c._3.toInt)).toSet
    assert(covered === (0 until 10).toSet)
  }

  test("unigramLogProb: uniform corpus scores ln(1/V); rare-token docs score lower") {
    import spark.implicits._
    // 4 docs over a 2-token vocab: "a" 6×, "b" 2× — total 8
    val docs = Seq((1L, "a a"), (2L, "a a"), (3L, "a a"), (4L, "b b"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    // mirror the operator's exact form: ln(cnt) − ln(total), not ln(cnt/total)
    val lnQ = (cnt: Double, total: Double) =>
      math.round((math.log(cnt) - math.log(total)) * 10000).toDouble / 10000
    assert(out.take(3).forall { case (_, n, lp) => n == 2L && lp == lnQ(6, 8) })
    assert(out(3)._3 === lnQ(2, 8))
    // the common-token docs outscore the rare-token doc
    assert(out(0)._3 > out(3)._3)
  }

  test("bigramLogProb: wrong-order token soup scores below fluent text; <2-token docs drop") {
    import spark.implicits._
    // docs 1-3 and 4-6 repeat fluent orders (giving 'the' and 'cat'
    // competing continuations); doc 7 uses the same tokens scrambled —
    // its bigrams are corpus-rare, so every conditional is small:
    //   fluent:    ln(3/7) + ln(3/4) ≈ -0.57 avg
    //   scrambled: ln(1/4) + ln(1/7) ≈ -1.67 avg
    // doc 8 has one token and must not appear.
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat sat"), (3L, "the cat sat"),
      (4L, "the dog ran"), (5L, "the dog ran"), (6L, "the dog ran"),
      (7L, "cat the sat"), (8L, "cat")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(out.map(_._1) === Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(out.forall(_._2 == 2L)) // 3 tokens → 2 bigrams each
    assert(out(0)._3 === out(1)._3 && out(1)._3 === out(2)._3)
    val lnQ2 = (a: (Double, Double), b: (Double, Double)) =>
      (math.round((math.log(a._1) - math.log(a._2)) * 10000) +
        math.round((math.log(b._1) - math.log(b._2)) * 10000))
    // mirror the operator: round(sum_lp / n) / 1e4
    val avg = (s: Long) => math.round(s / 2.0) / 10000.0
    assert(out(0)._3 === avg(lnQ2((3, 7), (3, 4))))   // p(cat|the), p(sat|cat)
    assert(out(6)._3 === avg(lnQ2((1, 4), (1, 7))))   // p(the|cat), p(sat|the)
    assert(out(6)._3 < out(0)._3,
      s"scrambled doc must score below fluent docs: $out")
  }

  test("oovRate: in-vocab docs score 0, OOV docs score 1, boundary ties break by token asc") {
    import spark.implicits._
    // vocabK=2 over counts: "aa"×4, "bb"×3, then "cc"/"dd"×2 each —
    // the k=2 vocab is {aa, bb}; with k=3 the cc/dd tie resolves to cc.
    val docs = Seq(
      (1L, "aa aa bb cc"),   // 1 OOV of 4
      (2L, "aa aa bb bb"),   // fully in-vocab
      (3L, "cc dd cc dd"),   // fully OOV at k=2
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out2 = TextAnalysis.oovRate(docs, "doc_id", "text", vocabK = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out2.keySet === Set(1L, 2L, 3L))
    assert(out2(1L) === ((4L, 1L, 0.25)))
    assert(out2(2L) === ((4L, 0L, 0.0)))
    assert(out2(3L) === ((4L, 4L, 1.0)))
    val out3 = TextAnalysis.oovRate(docs, "doc_id", "text", vocabK = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out3(3L) === 2L, "k=3 must admit 'cc' (count tie, token asc), leaving dd OOV")
  }

  test("stripBoilerplate drops cross-doc segments, keeps intra-doc repeats, rebuilds order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "ad banner keep one alpha beta"),
      (2L, "ad banner keep two gamma delta"),
      (3L, "ad banner"),          // fully boilerplate → empty survivor
      (4L, "x y x y"),            // intra-doc repeat is NOT cross-doc frequent
      (5L, null.asInstanceOf[String])) // null text is excluded, not crashed on
      .toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(docs, "doc_id", "text",
      segTokens = 2, minDocs = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out(1L) === ((3L, 2L, "keep one alpha beta")))
    assert(out(2L) === ((3L, 2L, "keep two gamma delta")))
    assert(out(3L) === ((1L, 0L, ""))) // audited verdict, not a row drop
    assert(out(4L) === ((2L, 2L, "x y x y")))
  }

  test("dupSegmentStats: segment and char fractions count repeats; char form weights length") {
    import spark.implicits._
    // segTokens=2 → segments are 2-token spans
    val docs = Seq(
      (1L, "a b c d e f"),            // 3 distinct segments → 0 dup
      (2L, "a b a b c d"),            // segs: "a b","a b","c d" → 1 dup of 3
      // one LONG repeated segment among short unique ones: seg frac is
      // low (1/4) but char frac is dominated by the repeated long span
      (3L, "looooooooong span looooooooong span x y z w"),
      (4L, null.asInstanceOf[String])) // excluded, not crashed on
      .toDF("doc_id", "text")
    val out = TextAnalysis.dupSegmentStats(docs, "doc_id", "text", segTokens = 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((3L, 0.0, 0.0, true)))
    // doc 2: 3 segments, 1 duplicate; chars: "a b"(3)×2 + "c d"(3) → dup 3/9
    assert(out(2L) === ((3L, 0.3333, 0.3333, false)))
    // doc 3: 4 segments, 1 duplicate (seg frac 0.25 ≤ 0.3 passes) but
    // the duplicated span is 17 chars vs "x y"(3)+"z w"(3):
    // dup 17 / tot (17×2 + 3 + 3) = 0.425 → char gate fails
    assert(out(3L)._1 === 4L)
    assert(out(3L)._2 === 0.25)
    assert(out(3L)._3 === 0.425)
    assert(!out(3L)._4,
      "char-weighted gate must catch the long repeated span the count form passes")
  }

  // --------------------------------------------------- q85 BPE encoding

  /** Reference encoder: apply rules in rank order, each a greedy
    * left-to-right non-overlapping pass — independent of the Column
    * fold under test. */
  private def refEncode(word: String, merges: Seq[(String, String)]): Vector[String] = {
    var sym = word.split("").toVector
    merges.foreach { case (l, r) =>
      var acc = Vector.empty[String]
      sym.foreach { x =>
        if (acc.nonEmpty && acc.last == l && x == r) acc = acc.init :+ (l + r)
        else acc :+= x
      }
      sym = acc
    }
    sym
  }

  test("bpeEncode: hand-checked pieces, counts and fertility") {
    import spark.implicits._
    val docs = Seq((1L, "the table rows as fast scan")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(docs, "doc_id", "text",
      LlmQueries.Q85Merges).collect()
    assert(out.length === 1)
    val r = out.head
    // [t,h,e][tab,le][row,s][as][f,as,t][sc,a,n] — 14 pieces, 12 distinct
    assert(r.getAs[Long]("n_words") === 6L)
    assert(r.getAs[Long]("n_pieces") === 14L)
    assert(r.getAs[Long]("n_distinct_pieces") === 12L)
    assert(r.getAs[Double]("fert4") === 2.3333)
  }

  test("bpeEncode applies rules in RANK order — reversal changes the encoding") {
    import spark.implicits._
    val docs = Seq((1L, "abc")).toDF("doc_id", "text")
    val fwd = TextAnalysis.bpeEncode(docs, "doc_id", "text",
      Seq(("a", "b"), ("ab", "c"))).collect().head
    assert(fwd.getAs[Long]("n_pieces") === 1L, "chained rules must compose to [abc]")
    val rev = TextAnalysis.bpeEncode(docs, "doc_id", "text",
      Seq(("ab", "c"), ("a", "b"))).collect().head
    assert(rev.getAs[Long]("n_pieces") === 2L,
      "(ab,c) before (a,b) exists must leave [ab, c]")
  }

  test("bpeEncode composes with bpeMerges: learned rules round-trip vs the reference encoder") {
    val docs = fixtureDocs.limit(120).cache()
    val learned = TextAnalysis.bpeMerges(docs, "text", steps = 8).collect()
      .sortBy(_.getAs[Long]("step"))
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    assert(learned.nonEmpty)
    val got = TextAnalysis.bpeEncode(docs, "doc_id", "text", learned).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_pieces"),
          r.getAs[Long]("n_distinct_pieces"))))
      .toMap
    val texts = docs.selectExpr("doc_id",
      "lower(trim(regexp_replace(text, '\\\\s+', ' '))) AS t").collect()
    assert(texts.nonEmpty)
    texts.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      val words = row.getAs[String]("t").split(" ").filter(_.nonEmpty).toSeq
      val pieces = words.map(w => refEncode(w, learned))
      val want = (words.size.toLong,
        pieces.map(_.size.toLong).sum,
        pieces.flatten.distinct.size.toLong)
      assert(got(id) === want, s"doc $id: encode mismatch vs reference")
    }
  }

  // ------------------------------------------------------- q86 HLL gates

  test("hllSnapshotStats: union of snapshot sketches equals the direct sketch; " +
    "sparse-mode estimates are exact on the fixture") {
    import spark.implicits._
    val out = TextAnalysis.hllSnapshotStats(
      fixtureDocs, "text", "source",
      isPrev = col("doc_id") % 3 === 0).cache()
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (eu, ed) = (r.getAs[Long]("est_union"), r.getAs[Long]("est_direct"))
      assert(eu === ed,
        s"source ${r.getAs[String]("source")}: union-of-sketches ($eu) must " +
          s"equal the direct whole-corpus sketch ($ed) — HLL registers are " +
          "per-bucket maxima, build order can't matter")
      assert(eu >= math.max(r.getAs[Long]("est_prev"), r.getAs[Long]("est_new")),
        "a union can never estimate below either input")
    }
    // sparse-mode exactness: the fixture vocabulary is far below the
    // coupon-list limit, so every estimate is the exact distinct count
    val exact = fixtureDocs.filter(col("text").isNotNull)
      .select(col("source"), explode(graft.llm.TextOps.tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(countDistinct(col("tok")).as("exact_all"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("exact_all"))
      .toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("est_direct") === exact(r.getAs[String]("source")),
        s"sparse-mode estimate must be exact for ${r.getAs[String]("source")}")
    }
    out.unpersist()
  }

  test("hllSnapshotStats: dense-mode estimate within the lgK=12 error bound " +
    "on a 50k-token vocabulary") {
    import spark.implicits._
    // 500 docs x 100 tokens, all distinct: 50,000-token vocabulary —
    // far past the sparse->dense promotion, so this exercises the
    // register estimator (RSE ~1.04/sqrt(2^12) = 1.6%; 3 sigma < 5%)
    val docs = (0 until 500).map { d =>
      (d.toLong, (0 until 100).map(j => s"w${d * 100 + j}").mkString(" "), "s0")
    }.toDF("doc_id", "text", "source")
    val r = TextAnalysis.hllSnapshotStats(docs, "text", "source",
      isPrev = col("doc_id") % 2 === 0).collect().head
    val est = r.getAs[Long]("est_direct")
    assert(math.abs(est - 50000.0) / 50000.0 <= 0.05,
      s"dense-mode estimate $est strays past the 5% bound for 50k distinct")
    assert(r.getAs[Long]("est_union") === est,
      "union-of-halves must equal direct in dense mode too")
  }

  test("hll sketch persistence: parquet-persisted per-snapshot sketches union " +
    "to the direct estimate — the no-rescan increment path") {
    import spark.implicits._
    val docs = (0 until 200).map { d =>
      (d.toLong, (0 until 50).map(j => s"t${(d * 37 + j * 11) % 3000}").mkString(" "),
        s"src${d % 3}")
    }.toDF("doc_id", "text", "source")
    val toks = docs.select(col("source"),
      (col("doc_id") % 3 === 0).as("is_prev"),
      explode(graft.llm.TextOps.tokens(col("text"))).as("tok"))
    // per-(source, snapshot) sketches persisted as a binary column —
    // the artifact a continuous pipeline stores per ingest
    val dir = java.nio.file.Files.createTempDirectory("hll_persist").toString
    toks.groupBy("source", "is_prev")
      .agg(hll_sketch_agg(col("tok")).as("sk"))
      .write.mode("overwrite").parquet(dir)
    val merged = spark.read.parquet(dir)
      .groupBy("source")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("est")).toMap
    val direct = toks.groupBy("source")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("tok"))).as("est"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("est")).toMap
    assert(merged === direct,
      "uniting persisted snapshot sketches must reproduce the direct estimate")
  }

  // ------------------------------------------------------- q87 CMS gates

  /** Deterministic Zipf-ish corpus: token tokNNNN appears ~2000/i times. */
  private def zipfDocs = {
    import spark.implicits._
    val toks = (1 to 200).flatMap { i =>
      Seq.fill(math.ceil(2000.0 / i).toInt)(f"tok$i%04d")
    }
    // deal round-robin into 40 docs so heavy tokens span many docs
    toks.zipWithIndex.groupBy(_._2 % 40).toSeq
      .map { case (d, ws) => (d.toLong, ws.map(_._1).mkString(" ")) }
      .toDF("doc_id", "text")
  }

  test("cmsHeavyHitters: never undercounts, overcount bounded by eps*N, " +
    "head recovered exactly on a Zipf corpus") {
    val docs = zipfDocs.cache()
    val exact = docs
      .select(explode(graft.llm.TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getAs[String]("tok") -> r.getAs[Long]("c")).toMap
    val n = exact.values.sum
    // sampleMod=1: probe the full vocabulary so BOTH error directions
    // are checked for every token
    val est = TextAnalysis.cmsHeavyHitters(docs, "doc_id", "text",
      k = 200, sampleMod = 1).collect()
      .map(r => r.getAs[String]("tok") -> r.getAs[Long]("est_count")).toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (t, e) =>
      assert(e >= exact(t), s"CMS undercounted $t: $e < ${exact(t)}")
      assert(e <= exact(t) + (0.001 * n).toLong + 1,
        s"CMS overcount on $t exceeds eps*N: $e vs ${exact(t)} + ${0.001 * n}")
    }
    val headGot = TextAnalysis.cmsHeavyHitters(docs, "doc_id", "text",
      k = 20, sampleMod = 1).collect().map(_.getAs[String]("tok")).toSeq
    val headWant = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(20).map(_._1)
    assert(headGot === headWant,
      "sketch head must match the exact top-20 (width >> vocab: no collisions)")
    docs.unpersist()
  }

  test("cms sketches merge additively: est(merge(A,B)) == est(sketch(A∪B)) exactly") {
    import org.apache.spark.util.sketch.CountMinSketch
    val docs = zipfDocs.cache()
    val toks = docs.select(col("doc_id"),
      explode(graft.llm.TextOps.tokens(col("text"))).as("tok"))
    def sketchOf(df: org.apache.spark.sql.DataFrame): CountMinSketch =
      CountMinSketch.readFrom(new java.io.ByteArrayInputStream(
        df.agg(count_min_sketch(col("tok"), lit(0.001), lit(0.99), lit(42))
          .as("sk")).head().getAs[Array[Byte]]("sk")))
    val a = sketchOf(toks.filter(col("doc_id") % 2 === 0))
    val b = sketchOf(toks.filter(col("doc_id") % 2 =!= 0))
    val whole = sketchOf(toks)
    a.mergeInPlace(b)
    val vocab = (1 to 200).map(i => f"tok$i%04d")
    vocab.foreach { t =>
      val key = org.apache.spark.unsafe.types.UTF8String.fromString(t).getBytes
      assert(a.estimateCount(key) === whole.estimateCount(key),
        s"additive merge must be exact for $t — counters are plain sums")
    }
    docs.unpersist()
  }

  test("nbQualityScores is headVocab-transparent: the head/tail split never changes scores") {
    val docs = fixtureDocs.limit(60)
    def scores(hv: Int) = TextAnalysis
      .nbQualityScores(docs, "doc_id", "text", "source", headVocab = hv)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score4")).toMap
    // headVocab=1 forces almost everything down the tail join;
    // a large value broadcasts everything — identical either way
    assert(scores(1) === scores(10000),
      "head/tail carve must be value-transparent at any headVocab")
  }

  test("cmsHeavyHitters falls back to the full vocabulary when the hash sample is empty") {
    import spark.implicits._
    // 3 docs: with sampleMod high enough the xxhash64 sample selects
    // none of them deterministically — the operator must still answer
    val docs = Seq((101L, "a a b"), (202L, "b c"), (303L, "c c c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.cmsHeavyHitters(docs, "doc_id", "text",
      k = 3, sampleMod = 1000000).collect()
      .map(r => r.getAs[String]("tok") -> r.getAs[Long]("est_count")).toMap
    assert(got === Map("c" -> 4L, "a" -> 2L, "b" -> 2L),
      s"fallback probe must recover the exact head, got $got")
  }

  test("dsirSelect equals a driver-side reference on a controlled corpus, " +
    "target-like docs outrank noise, ties break by doc_id") {
    import spark.implicits._
    // 2 target-lang docs of "domain" words, 2 raw-only docs of noise
    // words, 1 mixed doc — plus a doc tying another exactly (same text,
    // different id) to pin the doc_id tiebreak.
    val corpus = Seq(
      (1L, "alpha beta alpha gamma", "en"),
      (2L, "beta beta gamma alpha", "en"),
      (3L, "zork quux zork blarg", "de"),
      (4L, "quux blarg quux zork", "de"),
      (5L, "alpha zork beta quux", "de"),
      (6L, "alpha zork beta quux", "de"))
    val docs = corpus.toDF("doc_id", "text", "lang")
    val buckets = 64
    val got = TextAnalysis.dsirSelect(docs, "doc_id", "text", "lang",
      targetLang = "en", buckets = buckets, topK = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    // Driver-side reference: identical bucket hash (md5-prefix), add-one
    // smoothed ln ratio quantized at 1e-4, exact long per-doc sums.
    def bucketOf(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % buckets
    }
    val toks = corpus.map { case (id, text, lang) =>
      (id, lang == "en", text.toLowerCase.trim.split("\\s+").toSeq.map(bucketOf))
    }
    val ct = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val cr = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    toks.foreach { case (_, isT, bs) =>
      bs.foreach { b => if (isT) ct(b) += 1; cr(b) += 1 }
    }
    val (tt, tr) = (ct.values.sum, cr.values.sum)
    def lwQ(b: Long): Long =
      math.round((math.log((ct(b) + 1).toDouble) - math.log((tt + buckets).toDouble)
        - math.log((cr(b) + 1).toDouble) + math.log((tr + buckets).toDouble)) * 10000)
    val expected = toks.map { case (id, _, bs) =>
      val wq = bs.map(lwQ).sum
      // HALF_UP (away from zero), Spark's/DuckDB's tie rule — NOT
      // math.round, which rounds -x.5 toward +infinity
      val avg = java.math.BigDecimal.valueOf(wq.toDouble / bs.size)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 10000.0
      (id, bs.size.toLong, avg)
    }.sortBy { case (id, _, avg) => (-avg, id) }
    assert(got.toSeq === expected)

    // semantics: the pure-target-vocabulary docs outrank the pure-noise
    // docs, and the identical-text pair (5, 6) ties with 5 first
    val rank = got.map(_._1).toSeq
    assert(Set(1L, 2L).map(rank.indexOf).max < Set(3L, 4L).map(rank.indexOf).min,
      s"target docs must outrank noise docs, got $rank")
    assert(rank.indexOf(5L) + 1 === rank.indexOf(6L), s"tie must be adjacent by id, got $rank")
  }

  test("sourceKlDivergence: an off-distribution source scores far above " +
    "same-mixture sources; estimator bias is common-mode") {
    import spark.implicits._
    val common = Seq.fill(40)("the quick brown fox jumps over the lazy dog again")
    val docs = (
      common.map(t => ("srcA", t)) ++
      common.map(t => ("srcB", t)) ++
      // srcC: disjoint vocabulary — the spam-crawler case
      Seq.fill(40)(("srcC", "zorp blig quux flarn wibble grot snark plem vonk drizz"))
    ).zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceKlDivergence(docs, "text", "source")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // identical mixtures: estimates agree to within the quantization
    assert(math.abs(out("srcA") - out("srcB")) < 1e-3,
      s"same-mixture sources must near-tie, got $out")
    // the divergent source stands clearly above both (same token COUNT
    // per source, so the smoothing bias is identical and cancels)
    assert(out("srcC") > out("srcA") + 0.5,
      s"off-distribution source must spike, got $out")
  }

  test("q87 fixture sanity: estimates equal exact counts at fixture vocabulary scale") {
    val docs = fixtureDocs
    val exact = docs.filter(col("text").isNotNull)
      .select(explode(graft.llm.TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getAs[String]("tok") -> r.getAs[Long]("c")).toMap
    val got = TextAnalysis.cmsHeavyHitters(docs, "doc_id", "text", k = 20)
      .collect()
    assert(got.nonEmpty && got.length <= 20)
    got.foreach { r =>
      val (t, e) = (r.getAs[String]("tok"), r.getAs[Long]("est_count"))
      assert(e === exact(t),
        s"width 2000 vs 31-token vocab: estimate must be exact for $t")
    }
  }

  test("klAgainstReference keeps NOVEL buckets: left-outer + add-one smoothing, exact arithmetic") {
    import spark.implicits._
    // batch: "aaa aaa bbb bbb"; frozen reference knows only "aaa" — the
    // drifted half of the batch is mass the baseline never saw, exactly
    // what a drift monitor exists to flag (an inner join dropped it)
    val B = 4096
    def bucketOf(tok: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).take(4)
        .foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
      h % B
    }
    assume(bucketOf("aaa") != bucketOf("bbb"), "fixture tokens must not collide")
    val batch = Seq((0L, "aaa aaa bbb bbb")).toDF("doc_id", "text")
    val refHist = Seq((bucketOf("aaa"), 4L)).toDF("bucket", "c")
    val out = TextAnalysis.klAgainstReference(
      batch, "text", (col("doc_id") % 3).as("gen"), refHist, refTotal = 4L)
      .collect()
    assert(out.length === 1)
    assert(out(0).getLong(1) === 4L, "all four tokens counted")
    // hand-computed with the operator's exact quantized arithmetic:
    //   seen term  (cs=2, c=4): 2*(ln3 − ln(4+B) − ln5 + ln(4+B)) / 4
    //   novel term (cs=2, c=0): 2*(ln3 − ln(4+B) − ln1 + ln(4+B)) / 4
    def q(cs: Long, c: Long, ts: Long): Long =
      math.round(cs.toDouble * (math.log(cs + 1.0) - math.log(ts + B.toDouble) -
        math.log(c + 1.0) + math.log(4 + B.toDouble)) * 1e6 / ts)
    val expected = (q(2, 4, 4) + q(2, 0, 4)).toDouble / 1e6
    assert(math.abs(out(0).getDouble(2) - expected) < 1e-9,
      s"expected $expected nats incl. the novel-bucket term, got ${out(0).getDouble(2)}")
    // and the novel term dominates: dropping it (the inner-join bug)
    // would even turn the estimate negative here
    assert(out(0).getDouble(2) > 0 && q(2, 4, 4) < 0)
  }
}
