package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.llm.TextOps._
import graft.operators.RelationalQueries.r4

/** Document deduplication operators (SURVEY.md §7.1): exact, n-gram
  * Jaccard, MinHash-LSH, SimHash. All are reusable DataFrame → DataFrame
  * functions (not queries) — [[LlmQueries]] wraps them into the declared
  * inventory.
  *
  * 100 TB posture, per operator:
  *  - exact: one shuffle on a 64-hex-char hash key (never on the full
  *    text); map-side partial aggregation collapses most groups before
  *    the exchange.
  *  - n-gram Jaccard: PPJoin-style prefix-filtered inverted-index join —
  *    never an all-pairs cross join, and the self-join only touches each
  *    doc's (1−τ)|A|+1 rarest shingles, so the Σ df² blow-up of common
  *    shingles (stopword trigrams) never enters the candidate stage.
  *    `maxShingleDf` additionally caps pathological shingles; AQE
  *    skew-join handles residual imbalance.
  *  - MinHash-LSH: the standard banding scheme — signatures shrink every
  *    doc to k longs, candidates come from equality joins on band keys
  *    (shuffle on band hash), and only candidates get exact verification.
  *    This is the O(n·near-dups) scale path; the Jaccard join above is
  *    the exactness baseline.
  *  - SimHash: 64-bit fingerprints, candidates via the 4×16-bit block
  *    pigeonhole trick (hamming ≤ 3 ⇒ at least one identical block ⇒
  *    equality-join on block values — no pairwise hamming scan).
  */
object Dedup extends org.apache.spark.internal.Logging {

  /** Set once [[dedupClusters]] has fallen back to a count job. */
  private val ccCountFallbackWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** (doc_id, shingle) rows. The token array is materialized as a
    * column BEFORE the shingle lambda runs over it: Catalyst does no
    * common-subexpression elimination inside lambda bodies, so
    * `shingles(tokens(text))` would re-run the whole
    * lower/trim/regexp/split pipeline for every `element_at` — O(n·k)
    * regex passes per document (measured 10× the entire operator's
    * runtime at sf0.1). */
  private def shingleRows(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"), n)).as("s"))

  /** Exact dedup on normalized content hash: one row per distinct
    * content, keeping the smallest id. sha2-256 over the normalized text
    * makes the group key fixed-width — the shuffle carries 64-char keys,
    * not document bodies. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        sha2(normText(col(textCol)), 256).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup keeping the RICHEST variant (q83): the same normalized
    * content key as [[exactGroups]], but the survivor is the variant
    * with the most RAW characters, id-ascending on ties — exact-dup
    * groups differ only in case/whitespace, and a re-crawl often
    * truncates or strips formatting, so "first id" (q27) and "best
    * rendering" are different answers; CCNet-style pipelines want the
    * latter. ONE aggregate with map-side combine — `max_by` over the
    * total (n_raw_chars, −doc_id) order — never a per-group window
    * sort; deterministic because the order is total (ids are unique).
    * NULL text is filtered (a null hash would form its own group with
    * null lengths — the s10 hashedDocs contract). */
  def exactKeepRichest(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        sha2(normText(col(textCol)), 256).as("content_hash"),
        length(col(textCol)).cast("long").as("n_raw_chars"))
      .groupBy("content_hash")
      .agg(
        max_by(col("doc_id"),
          struct(col("n_raw_chars"), -col("doc_id"))).as("keep_id"),
        max(col("n_raw_chars")).as("n_raw_chars"),
        count(lit(1)).as("n_copies"))

  /** Exact near-duplicate pairs by word-n-gram Jaccard ≥ tau, via a
    * PPJoin-style prefix-filtered inverted-index join.
    *
    * Candidate generation only joins each doc's PREFIX — its
    * ⌊(1−tau)·|A|⌋+1 globally-rarest shingles under a total (df, shingle)
    * order. Any pair with Jaccard ≥ tau shares at least one prefix
    * shingle (if two sets share none of either's prefix, their overlap is
    * below the tau bound), so candidates are a superset of the answer;
    * exact set verification then makes the output IDENTICAL to the naive
    * all-shingle join — the same SQL oracle gates both.
    *
    * At scale this is the difference between Σ df(s)² over every shingle
    * (stopword trigrams → quadratic blow-up) and Σ df² over rare
    * shingles only: the sf0.1 fixture drops from 44 s to seconds, and the
    * curve stays near-linear in corpus size for fixed near-dup density.
    * `maxShingleDf` additionally caps pathological prefix shingles
    * (approximate — off by default so the gated query stays exact).
    *
    * Measured (sf0.1, 5000 docs): 260k shingle rows → 55k prefix rows →
    * 119k candidate pairs → 44k after the length filter → ~25 verified.
    * PPJoin's positional upper bound (min(pa,pb) + min(|A|-pa, |B|-pb)
    * ≥ ⌈τ/(1+τ)(|A|+|B|)⌉) was evaluated and prunes only ~9% more here —
    * the fixture's near-uniform doc lengths make positions symmetric —
    * so it is deliberately not implemented; on a real corpus with skewed
    * lengths it is the next lever before sharding verification. */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.8, maxShingleDf: Option[Int] = None): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, n)
    // The (doc_id, shingle) rows feed THREE consumers (prefix index, doc
    // sizes, exact verification); checkpointing materializes the
    // regex-heavy shingling once instead of re-running it per consumer.
    val pruned = capShingles(sh, maxShingleDf).localCheckpoint()
    // Candidate generation runs on xxhash64(shingle): the join/shuffle
    // keys are fixed 8 bytes instead of ~20-char strings. Exactness is
    // unaffected — the prefix lemma only needs SOME consistent total
    // order (here (df, hash)), a collision can only merge two shingles
    // (adding candidates, never losing one), and verification below
    // still compares the real shingle strings.
    val hashed = pruned.select(col("doc_id"), xxhash64(col("s")).as("h"))
    val prefix = prefixIndex(hashed, tau)
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          lengthCompatible(col("a.n_sh"), col("b.n_sh"), tau))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    verifyPairsExact(cands, pruned, tau)
  }

  /** The `maxShingleDf` cap, shared by q28 and q69: shingles above the
    * document-frequency cap leave the whole pipeline (prefix, probe and
    * verification sides). None (the gated default) is exact. */
  private def capShingles(sh: DataFrame, maxShingleDf: Option[Int]): DataFrame =
    maxShingleDf match {
      case Some(cap) =>
        val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
        sh.join(dfreq.filter(col("df") <= cap), "s").select("doc_id", "s")
      case None => sh
    }

  /** Per-doc PPJoin prefix index over hashed shingles — the one copy of
    * the prefix construction shared by q28, q59 and q69 (a fix to the
    * guard or the ordering contract lands here exactly once).
    *
    * Global frequency order (ties broken by hash) → per-doc prefix of
    * the (1−τ)|A|+1 rarest shingles. The per-doc ordering runs as ONE
    * aggregation (collect → sort_array → slice) instead of two window
    * passes — a doc's shingle list is small and bounded by its token
    * count, so the in-memory sort is cheap and saves a full
    * sort-per-partition stage.
    *
    * Prefix length n−⌈τ·n⌉+1. The 1e-9 guard makes float error err
    * toward a LONGER prefix (more candidates, still exact) — a bare
    * ceil(0.8*10)=ceil(8.000000000000002)=9 would shorten it and
    * silently drop qualifying pairs.
    *
    * `hashed` is (doc_id, h [, carry…]); `carry` columns (one value per
    * doc, e.g. q59's is_prev tag) ride through the aggregation via
    * first(). Returns (doc_id [, carry…], n_sh, h) prefix rows — n_sh
    * (the doc's total shingle count, already computed by this
    * aggregation) rides along so the q28/q59 length filter can run
    * INSIDE the candidate join instead of re-aggregating per-doc sizes
    * and joining them back (guide §2.4: two operations keyed the same
    * way share one pass — the r22 fusion removed one aggregation and
    * two joins from the candidate pipeline). */
  private def prefixIndex(
      hashed: DataFrame, tau: Double, carry: Seq[String] = Nil): DataFrame =
    explodePrefix(perDocSorted(hashed, carry), tau, carry)

  /** The per-doc frequency-sorted shingle list — prefixIndex's
    * aggregation, exposed so [[containmentPairs]] can materialize it
    * ONCE and explode it twice (sliced prefix + full probe side):
    * (doc_id [, carry…], n_sh, sorted[(df, h)]). */
  private def perDocSorted(hashed: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val dfreq = hashed.groupBy("h").agg(count(lit(1)).as("df"))
    val aggs = carry.map(c => first(c).as(c)) ++ Seq(
      count(lit(1)).as("n_sh"),
      sort_array(collect_list(struct(col("df"), col("h")))).as("sorted"))
    hashed.join(dfreq, "h").groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** The per-doc prefix rows of [[perDocSorted]]'s output: the
    * (1−τ)·n_sh+1 rarest shingles (see the prefix-length guard note in
    * the scaladoc above). */
  private def explodePrefix(
      perDoc: DataFrame, tau: Double, carry: Seq[String] = Nil): DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    perDoc
      .select(keep ++ Seq(col("n_sh"),
        explode(slice(col("sorted"), lit(1),
          (col("n_sh") - ceil(lit(tau) * col("n_sh") - 1e-9) + 1).cast("int")))
          .as("e")): _*)
      .select(keep ++ Seq(col("n_sh"), col("e.h").as("h")): _*)
  }

  /** The q28/q59 length-filter predicate, fused into the candidate
    * join: J(A,B) ≥ τ forces τ·|B| ≤ |A| (for |A| ≤ |B|), evaluated on
    * the n_sh counts the prefix rows already carry — identical rows to
    * the former sizes-table join (n_sh counts the same shingle rows),
    * with the filter applied BEFORE the candidate distinct so
    * size-mismatched pairs never shuffle. The 1e-9 errs toward KEEPING
    * a borderline pair (exactness is decided by verification, never
    * here). */
  private def lengthCompatible(a: Column, b: Column, tau: Double): Column =
    least(a, b).cast("double") >= lit(tau) * greatest(a, b) - 1e-9

  /** Containment near-dup pairs: unordered (d1, d2) where the SMALLER
    * shingle set is mostly inside the larger — `|A∩B| / min(|A|,|B|) ≥
    * tau`. The overlap class Jaccard structurally misses: a paragraph
    * quoted whole inside a much longer page has J ≈ |A|/|B| → 0 but
    * containment ≈ 1, and training pipelines deduplicate exactly that
    * (boilerplate inclusions, quoted excerpts, page-in-page re-crawls).
    *
    * Candidate generation is the PPJoin prefix lemma in its asymmetric
    * form: if |A∩B| ≥ τ·|A| (A the smaller), the intersection must hit
    * A's ⌊(1−τ)|A|⌋+1 globally-rarest shingles — so each doc's PREFIX
    * probes the other side's FULL shingle list (prefix×prefix is NOT
    * sound here: B's side has no prefix bound, which is also why no
    * length filter applies — a tiny doc inside a huge one is the
    * target, not noise). Exact verification then recomputes the true
    * containment on real shingle sets, so the operator is gateable on
    * the same DuckDB shingle pipeline as q28.
    *
    * At 100 TB: candidate cost is Σ_s prefix_df(s)·df(s) — the rarest-
    * first prefix order keeps prefix_df small, and a df cap on prefix
    * shingles (the q28 `maxShingleDf` lever) bounds the worst key. The
    * default τ=0.9 keeps prefixes at ~10% of each doc.
    *
    * Durability: the four `localCheckpoint`s cut lineage by caching
    * blocks on the executors that computed them. A lost executor loses
    * those blocks, and the truncated plan cannot recompute them, so the
    * query fails instead of retrying; `checkpoint()` to reliable
    * storage would survive that at the cost of a write per cut. */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.9,
      maxShingleDf: Option[Int] = None): DataFrame = {
    // The df cap named in the scaladoc above ([[capShingles]], q28's
    // lever): capping bounds BOTH factors of the candidate cost
    // Σ prefix_df(s)·df(s).
    val sh = capShingles(shingleRows(docs, idCol, textCol, n), maxShingleDf)
      .localCheckpoint()
    val hashed = sh.select(col("doc_id"), xxhash64(col("s")).as("h"))
    // ONE materialized per-doc aggregation serves both candidate-join
    // sides: the sliced prefix AND the full probe list (which thereby
    // carries n_sh for free). The join is then restricted to the ONE
    // direction the asymmetric prefix lemma needs — a's set no larger
    // than b's (ids break ties) — instead of generating each qualifying
    // pair from both directions and deduplicating: half the candidate
    // rows ever shuffle into the distinct (r22; guide §2.3 shuffle
    // fewer bytes). Sound because shingle sets are duplicate-free
    // (TextOps.shingles array_distinct), so n_sh = |A| exactly and
    // |A∩B| ≥ τ·min(|A|,|B|) forces a hit in the SMALLER set's prefix.
    val perDoc = perDocSorted(hashed).localCheckpoint()
    val prefix = explodePrefix(perDoc, tau)
    val full = perDoc
      .select(col("doc_id"), col("n_sh"), explode(col("sorted")).as("e"))
      .select(col("doc_id"), col("n_sh"), col("e.h").as("h"))
    val cands = prefix.as("a")
      .join(full.as("b"),
        col("a.h") === col("b.h") && (col("a.n_sh") < col("b.n_sh") ||
          (col("a.n_sh") === col("b.n_sh") &&
            col("a.doc_id") < col("b.doc_id"))))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .distinct()
      .localCheckpoint() // feeds candDocs twice + the verify join (q28's cut)
    val candDocs = cands.select(col("d1").as("doc_id"))
      .union(cands.select(col("d2"))).distinct()
    // sets checkpointed for the same two-consumer reason as
    // verifyPairsExact's (both pair-join sides read it)
    val sets = sh.join(candDocs, "doc_id")
      .groupBy("doc_id").agg(collect_set("s").as("set"))
      .localCheckpoint()
    cands
      .join(sets.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sets.as("s2"), col("d2") === col("s2.doc_id"))
      .withColumn("inter", size(array_intersect(col("s1.set"), col("s2.set"))))
      .withColumn("containment", col("inter").cast("double") /
        least(size(col("s1.set")), size(col("s2.set"))))
      .filter(col("containment") >= tau)
      .select(col("d1"), col("d2"), (r4(col("containment"))).as("containment"))
  }

  /** Exact-Jaccard verification of candidate pairs against the full
    * shingle sets. Only candidate docs' sets are materialized (semi-join
    * first): at corpus scale candidates ≪ docs, so the collect_set
    * aggregation touches a sliver of the data.
    *
    * Durability: its `localCheckpoint`s keep their blocks only on the
    * executors that computed them. A lost executor loses those blocks,
    * and the truncated plan cannot recompute them, so the query fails
    * instead of retrying (see [[containmentPairs]]). */
  private def verifyPairsExact(
      cands0: DataFrame, sh: DataFrame, tau: Double): DataFrame = {
    // The candidate pipeline (prefix self-join + length filter) appears
    // THREE times downstream (candDocs twice via the union, the verify
    // join once) — without a cut the whole subtree re-executes per
    // appearance (exchange reuse does not span these shapes). The
    // candidate set is O(near-dup pairs) — tiny — so materializing it
    // is cheap and collapses the plan to one execution.
    val cands = cands0.localCheckpoint()
    val candDocs = cands.select(col("d1").as("doc_id"))
      .union(cands.select(col("d2"))).distinct()
    // `sets` feeds BOTH pair-join sides; without a cut the whole
    // union→semi-join→collect_set subtree plans (and largely runs)
    // TWICE — measured as the two heaviest stages of the q28 probe
    // (guide §2.4 shared-pass rule, the same reasoning as the cands
    // cut above). Candidate-doc sets only: small by the same argument.
    val sets = sh.join(candDocs, "doc_id")
      .groupBy("doc_id").agg(collect_set("s").as("set"))
      .localCheckpoint()
    cands
      .join(sets.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sets.as("s2"), col("d2") === col("s2.doc_id"))
      .withColumn("inter", size(array_intersect(col("s1.set"), col("s2.set"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("s1.set")) + size(col("s2.set")) - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("d1"), col("d2"),
        (r4(col("jaccard"))).as("jaccard"))
  }

  /** Cross-snapshot near-duplicate detection: pairs a NEW-crawl document
    * with every PREVIOUS-snapshot document whose word-n-gram Jaccard
    * reaches tau — the incremental-ingest gate that keeps re-crawled
    * (possibly lightly edited) pages out of the training set without
    * re-deduplicating the whole corpus.
    *
    * Same PPJoin prefix-filter machinery as [[ngramJaccardPairs]], with
    * the candidate join restricted to NEW × PREV: document frequencies
    * (the prefix order) come from the union corpus, so the prefix lemma
    * holds for every cross pair, while intra-slice pairs are never
    * generated. At 100 TB the previous snapshot's prefix index is a
    * build-once artifact — each ingest shingles only the new slice and
    * probes the stored index, so per-ingest cost is O(new batch), not
    * O(corpus). */
  def crossSnapshotNearDups(
      docs: DataFrame, idCol: String, textCol: String, isPrev: Column,
      n: Int = 3, tau: Double = 0.8): DataFrame = {
    // One shingling pass (tag carried through) serves prefix index, doc
    // sizes and exact verification.
    val sh = docs
      .select(col(idCol).as("doc_id"), isPrev.as("is_prev"),
        tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("is_prev"),
        explode(shingles(col("toks"), n)).as("s"))
      .localCheckpoint()
    val hashed = sh.select(col("doc_id"), col("is_prev"), xxhash64(col("s")).as("h"))
    val prefix = prefixIndex(hashed, tau, carry = Seq("is_prev"))
    // d1 = new doc, d2 = prev doc; the shared length-filter +
    // exact-verification pipeline is direction-agnostic.
    val cands = prefix.filter(!col("is_prev")).as("a")
      .join(prefix.filter(col("is_prev")).as("b"),
        col("a.h") === col("b.h") &&
          lengthCompatible(col("a.n_sh"), col("b.n_sh"), tau))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val shPlain = sh.select("doc_id", "s")
    verifyPairsExact(cands, shPlain, tau)
      .select(col("d1").as("doc_id"), col("d2").as("prev_id"), col("jaccard"))
  }

  /** MinHash signatures: k permutation-minima per doc over the shingle
    * set. The i-th hash function is `xxhash64(i, shingle)` — salting the
    * 64-bit hash with the function index gives k independent functions
    * without the wraparound multiply-shift arithmetic (which ANSI mode,
    * Spark 4's default, rejects as long overflow). One aggregation — k
    * `min` columns — per doc; signature size is k longs regardless of
    * doc length. */
  def minhashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32): DataFrame =
    signaturesFromShingles(shingleRows(docs, idCol, textCol, n), k)

  private def signaturesFromShingles(sh: DataFrame, k: Int): DataFrame = {
    // Hash the variable-length shingle ONCE, then derive the k functions
    // by salting the fixed 8-byte hash — k× cheaper per row than
    // re-hashing the string per function, same independence.
    val hashed = sh.select(col("doc_id"), xxhash64(col("s")).as("h"))
    val mins = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"h$i"))
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** MinHash-LSH near-duplicate pairs: banding (bands × rowsPerBand = k)
    * proposes candidates, then every candidate pair is verified with the
    * *exact* Jaccard over the shingle sets — so the output is a subset of
    * [[ngramJaccardPairs]] (identical with probability
    * 1-(1-tau^r)^b per true pair ≈ 1-8e-8 at the defaults), and the same
    * SQL oracle gates both.
    *
    * The doc → shingle-set join for verification touches only candidate
    * ids — at scale the candidate set is O(near-dup pairs), not O(n²).
    */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.8, bands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    val k = bands * rowsPerBand
    // One shingling pass serves both the signatures and the exact
    // verification below (checkpoint truncates to the materialized rows).
    val sh = shingleRows(docs, idCol, textCol, n).localCheckpoint()
    val sigs = signaturesFromShingles(sh, k)
    val bandKeys = (0 until bands).map { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      hash(rows :+ lit(b): _*)
    }
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
    val cands = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()

    verifyPairsExact(cands, sh, tau)
  }

  /** Embedding-cosine near-duplicate pairs: all (d1 < d2) pairs with
    * cosine ≥ minCos, computed exactly (the all-pairs exactness
    * baseline; [[Similarity.lshCosineTopK]]'s bucketing is the
    * corresponding scale path — at corpus scale you generate candidates
    * from LSH collisions and verify with this same exact cosine). The
    * dot's left-to-right summation keeps the score bit-identical to the
    * DuckDB oracle. */
  def embeddingNearDupPairs(
      vecs: DataFrame, idCol: String, vecCol: String, minCos: Double): DataFrame = {
    // Spread before the pair join (Similarity.spread — guide §2.5): the
    // nested-loop join streams one side, and a single-file scan would
    // leave the whole O(n²) cosine pass on one core. Output unchanged.
    val n = Similarity.spread(Similarity.normalized(vecs, idCol, vecCol))
    n.as("a").join(n.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        Similarity.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= minCos)
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
        (r4(col("cos"))).as("cos4"))
  }

  /** Embedding near-duplicate pairs via SRP-LSH candidates + exact
    * verification — the q29 banding pattern applied to
    * [[embeddingNearDupPairs]]'s all-pairs baseline, and gateable on the
    * SAME oracle because the verify stage recomputes the exact cosine.
    *
    * Miss probability (the q29-style designed bound): a pair at cosine
    * c agrees with a random hyperplane with p = 1 − acos(c)/π; one
    * b-bit table catches it with p^b, and the OR over t tables misses
    * with (1 − p^b)^t. At the gate threshold c = 0.45 (p = 0.6486) the
    * defaults (b = 2, t = 26) give (1 − 0.4207)^26 ≈ 7·10⁻⁷ per pair —
    * same order as q29's banding bound — and the planes are seeded, so
    * the gate outcome is deterministic, not a per-run draw.
    *
    * Honest pruning statement (measured on the fixture): at τ = 0.45
    * the qualifying pairs sit at θ ≈ 63° while unrelated 64-dim
    * vectors sit at ~90° — a per-bit gap of only 0.65 vs 0.50. With
    * completeness-grade parameters the OR over 26 coarse tables admits
    * ~99.9 % of all pairs, so at fixture scale this DEGENERATES to the
    * brute-force baseline plus candidate-join overhead; no complete
    * sub-quadratic method exists for dense vectors at this angle
    * (background pairs reach cos 0.44 — there is no gap to exploit).
    * The operator earns its keep where near-duplicates actually live
    * (cos ≥ 0.9 ⇒ p ≥ 0.86: 16-bit tables catch 10 % per table with
    * ~n/65k-sized buckets) and at corpus scale, where bits must grow
    * ≈ log₂ n to keep buckets O(1); LSH theory prices full recall at
    * n^(1+ρ) with ρ = ln p₁ / ln p₂ — sub-quadratic, with a crossover
    * far above this fixture's n. Parameters are exposed for exactly
    * that tuning. */
  /** The SRP-LSH candidate stage of [[embeddingNearDupPairsLsh]],
    * exposed so the pruning claim is TESTABLE (DedupSpec's
    * production-regime property asserts candidate count ≪ n(n−1)/2 at
    * cos ≥ 0.9 with wide bits). Carries only (vec_id, table, code) —
    * never the vectors, which re-join by id at the verify stage
    * (candidate-sized traffic, not corpus × tables). `n` is the
    * normalized corpus ([[Similarity.normalized]]). */
  def embeddingLshCandidates(
      n: DataFrame, tables: Int, bits: Int, dim: Int): DataFrame = {
    val coded = Similarity.lshBucketed(n, tables, bits, dim)
      .select(col("vec_id"), col("table"), col("code"))
      .localCheckpoint()
    coded.as("x").join(coded.as("y"),
        col("x.table") === col("y.table") && col("x.code") === col("y.code") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("d1"), col("y.vec_id").as("d2"))
      .distinct()
  }

  def embeddingNearDupPairsLsh(
      vecs: DataFrame, idCol: String, vecCol: String, minCos: Double,
      tables: Int = 26, bits: Int = 2): DataFrame = {
    // Materialize both shared inputs once (the minhashLshPairs pattern,
    // `Dedup.scala` shingle checkpoint): `n` feeds the code projection
    // plus BOTH verify joins, and `coded` feeds both sides of the
    // candidate self-join — without the cut each side re-evaluates the
    // tables × bits codegen'd plane dots and re-scans the corpus.
    // spread first (guide §2.5): the tables×bits plane projections in
    // lshBucketed and the checkpoint itself parallelize instead of
    // running on the single scan partition
    val n = Similarity.spread(Similarity.normalized(vecs, idCol, vecCol))
      .localCheckpoint()
    val dim = Similarity.derivedDim(n).getOrElse(
      return n.sparkSession.emptyDataFrame
        .select(lit(0L).as("d1"), lit(0L).as("d2"), lit(0.0).as("cos4"))
        .limit(0))
    val cands = embeddingLshCandidates(n, tables, bits, dim)
    cands
      .join(n.select(col("vec_id").as("d1"), col("v").as("v1"), col("nrm").as("n1")), "d1")
      .join(n.select(col("vec_id").as("d2"), col("v").as("v2"), col("nrm").as("n2")), "d2")
      .withColumn("cos",
        Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= minCos)
      .select(col("d1"), col("d2"), (r4(col("cos"))).as("cos4"))
  }

  /** Cluster-scoped semantic dedup — the SemDeDup shape (Abbas et al.
    * 2023, arXiv:2303.09540): k-means-cluster the embedding space
    * ([[Similarity.lloydCentroids]], deterministically seeded), then
    * look for near-duplicates ONLY within each cluster. Implements the
    * deterministic min-id rule: vector v is dropped iff some u < v in
    * the SAME cluster has cos(u, v) ≥ tau; kept vectors are therefore
    * pairwise < tau within every cluster (if a kept u < v scored ≥ tau,
    * v could not be kept), and every dropped vector names its smallest
    * witness as `rep_id` — both invariants are asserted in DedupSpec.
    * Versus the paper's greedy keep-first scan this single-join rule can
    * over-drop a chain (v dropped by u, w dropped by v even if
    * cos(u, w) < tau) — the standard relational relaxation, documented
    * rather than hidden, and conservative in the safe direction for
    * training-set curation (never keeps a near-duplicate pair).
    *
    * 100 TB posture — the reason SemDeDup exists: the pairwise stage is
    * an EQUALITY join on the cluster id, so its cost is Σᵢ cᵢ², not n²;
    * nlist is the knob that bounds cᵢ (n/nlist expected), and a skewed
    * cluster is re-split by raising nlist or re-clustering that bucket.
    * Lloyd training moves nlist × dim scalars per iteration (constant);
    * the centroid table broadcasts inside the assignment expression by
    * construction. Approximate by cluster-blindness across buckets
    * (a near-dup pair split across clusters is missed — the designed
    * trade; the miss rate vs the exact all-pairs baseline is gated in
    * DedupSpec), hence rows-only at the driver, property-gated here.
    * Output: one row per vector — (vec_id, cluster, keep, rep_id). */
  def semDedup(
      vecs: DataFrame, idCol: String, vecCol: String, tau: Double,
      nlist: Int = 16, iters: Int = 3): DataFrame = {
    val norm = Similarity.normalized(vecs, idCol, vecCol).localCheckpoint()
    val cents = Similarity.lloydCentroids(norm, nlist, iters)
    // one materialization feeds both sides of the intra-cluster join
    val clustered = norm.withColumn("cluster",
      Similarity.nearestCentroids(cents, col("v"), 1).getItem(0))
      .localCheckpoint()
    val witnesses = clustered.as("a")
      .join(clustered.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(Similarity.dot(col("a.v"), col("b.v")) /
        (col("a.nrm") * col("b.nrm")) >= tau)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("a.vec_id")).as("witness"))
    clustered.select(col("vec_id"), col("cluster"))
      .join(witnesses, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("witness").isNull.as("keep"),
        coalesce(col("witness"), col("vec_id")).as("rep_id"))
  }

  /** 64-bit SimHash fingerprints: per token-hash bit, sum +w/−w over the
    * doc's token multiset; bit j of the fingerprint is the sign. Exact
    * duplicates always collide; near-duplicates land within small
    * hamming distance. Hash-function-dependent by nature, so gated by
    * property tests rather than a SQL oracle. */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("w"))
    val h = xxhash64(col("t"))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, col("w"))
        .otherwise(-col("w"))).as(s"b$j")
    }
    val sums = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val fingerprint = (0 until 64)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce[Column](_ + _)
    sums.select(col("doc_id"), fingerprint.as("simhash"))
  }

  /** SimHash near-duplicate pairs with hamming distance ≤ maxHamming,
    * candidates via the block pigeonhole: split the 64-bit fingerprint
    * into 4 blocks of 16; any pair within hamming ≤ 3 shares at least one
    * exact block, so an equality join on (block index, block value)
    * finds all of them without a pairwise scan. */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, numBlocks: Int = 4): DataFrame = {
    // Pigeonhole completeness needs hamming ≤ numBlocks−1. Block width
    // also sets the scale knee: candidates cluster on (block, value)
    // with ~n/2^width docs per value, so the join cost is
    // Σ df² ≈ numBlocks · n²/2^width. 4×16-bit blocks are fine to
    // ~10^7 docs; a 10^9-doc corpus wants fewer/wider blocks plus a
    // second-stage split (multi-index hashing) — widen `numBlocks`
    // DOWN (e.g. 2×32-bit for hamming ≤ 1 per stage) before the
    // equality join melts.
    require(maxHamming <= numBlocks - 1,
      s"hamming cap $maxHamming needs at least ${maxHamming + 1} blocks (pigeonhole)")
    require(64 % numBlocks == 0, s"numBlocks $numBlocks must divide 64")
    val width = 64 / numBlocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val fp = simhashFingerprints(docs, idCol, textCol)
    val blocks = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until numBlocks).map(b =>
        shiftright(col("simhash"), b * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("block", "v")))
    blocks.as("x")
      .join(blocks.as("y"),
        col("x.block") === col("y.block") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Duplicate CLUSTERS from near-dup pairs — the step that turns
    * pairwise dedup output into per-document keep/drop decisions:
    * connected components by iterative min-label propagation, entirely
    * in DataFrame joins (each vertex repeatedly adopts the smallest
    * representative among itself and its neighbors until a fixpoint).
    *
    * 100 TB posture: each iteration is one shuffled join + map-side-
    * combined min aggregation on (id), and the iteration count is the
    * component DIAMETER, not size — near-dup clusters are shallow
    * (pairs share a common template), so a handful of passes closes
    * even huge corpora. The driver sees only the per-iteration change
    * COUNT (a scalar); labels are checkpointed each iteration so the
    * lineage (and the optimizer's work) stays flat instead of doubling
    * per pass. For adversarially long chains the
    * alternating large-star/small-star variant halves the rounds — the
    * join shape stays identical.
    *
    * Output: (doc_id, rep_id, cluster_size) for every document in at
    * least one pair — `rep_id` is the component's minimum doc id, the
    * canonical survivor under keep-min dedup. */
  def dedupClusters(
      pairs: DataFrame, checkpointDir: Option[String] = None): DataFrame = {
    // Lineage is TRUNCATED at every step (eager checkpoint): iterative
    // DataFrame algorithms otherwise re-analyze a logical plan that
    // doubles per iteration — by iteration 2 the optimizer was spending
    // seconds canonicalizing the embedded upstream pipeline while the
    // actual join moved a few hundred cached rows. With the cut, each
    // iteration plans against a flat LogicalRDD.
    //
    // `checkpointDir = None` uses executor-local checkpoints (fastest,
    // but an executor loss mid-loop restarts the whole computation);
    // passing a reliable-storage dir switches every truncation to a
    // durable `checkpoint`, the right call at 100 TB where losing one
    // of 1000 executors over a multi-iteration CC is routine.
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    // setCheckpointDir is session-global state — the caller opts into
    // owning it by passing a dir.
    checkpointDir.foreach(sc.setCheckpointDir)
    def cp(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        // Persist before the eager checkpoint: ReliableCheckpointRDD
        // otherwise RECOMPUTES the plan to write the files (the eager
        // count is one pass, the file write a second) — with the cache
        // the write reads blocks, and the cache is dropped immediately
        // after (the checkpoint files are now the source of truth).
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out = df.checkpoint()
        df.unpersist(blocking = false)
        out
      } else df.localCheckpoint()
    // Eagerly free a SUPERSEDED iteration's checkpoint storage: without
    // this, every iteration's blocks stay materialized on executors
    // until ContextCleaner GC — linear storage growth with iteration
    // count. Safe because the caller rebinds before releasing, so
    // nothing references the old checkpoint. In durable mode the
    // superseded iteration's checkpoint FILES are deleted too
    // (best-effort): ContextCleaner only reclaims them under
    // cleanCheckpoints+GC, which never fires inside the loop, so
    // reliable-storage usage would otherwise grow linearly with
    // iteration count.
    def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        if (checkpointDir.isDefined) for (dir <- sc.getCheckpointDir) {
          scala.util.Try {
            val p = new org.apache.hadoop.fs.Path(dir, s"rdd-${l.rdd.id}")
            p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
          }
        }
      case _ =>
    }
    val edges = cp(pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .distinct())
    // `current` is always the checkpointed plan itself (the releasable
    // LogicalRDD); `labels` the (id, rep) view the joins consume.
    var current = cp(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("rep")))
    var labels = current
    var converged = false
    var iter = 0
    while (!converged) {
      iter += 1
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("rep").as("nrep")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nrep")).as("nbr_rep"))
      // ONE job per iteration, convergence included: the change count
      // rides the checkpoint job itself as an observed metric
      // (CollectMetrics accumulates during the materialization pass), so
      // the per-iteration scan-only count JOB the r21 shape still paid
      // (~one driver job round-trip per iteration) disappears. The
      // metric is the same `rep < old_rep` tally over the same rows;
      // sum-of-0/1 with a 0 seed so an EMPTY iteration reads 0, and the
      // old count stays as the fallback if the metric is unavailable.
      val next0 = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("rep").as("old_rep"),
          least(col("rep"), coalesce(col("nbr_rep"), col("rep"))).as("rep"))
        .observe(s"graft_cc_changed_$iter",
          coalesce(sum(when(col("rep") < col("old_rep"), 1L).otherwise(0L)),
            lit(0L)).as("changed"))
      // The metric is read from `next0.queryExecution`, so it is only
      // there while `cp` materializes `next0`'s OWN QueryExecution, as
      // `next0.localCheckpoint()` does. A derived Dataset in `cp` (a
      // select, a repartition) runs a different QueryExecution, leaves
      // this one's metric empty and costs the count job again on every
      // iteration — hence the one-time WARN on the fallback.
      val next = cp(next0)
      val changed: Long = next0.queryExecution.observedMetrics
        .get(s"graft_cc_changed_$iter") match {
          case Some(row) if !row.isNullAt(row.fieldIndex("changed")) =>
            row.getAs[Long]("changed")
          case _ =>
            if (ccCountFallbackWarned.compareAndSet(false, true))
              logWarning("dedupClusters: the observed change count was " +
                "missing after the checkpoint job — each iteration now pays " +
                "an extra count() job (does cp() still execute next0's own " +
                "QueryExecution?)")
            next.filter(col("rep") < col("old_rep")).count()
        }
      release(current)
      current = next
      labels = next.select(col("id"), col("rep"))
      converged = changed == 0
    }
    release(edges) // the loop is done with the edge list; labels live on
    val sizes = labels.groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "rep")
      .select(col("id").as("doc_id"), col("rep").as("rep_id"), col("cluster_size"))
  }

  /** Benchmark decontamination — the training-pipeline gate that drops
    * documents overlapping an evaluation set: count per document the
    * distinct word-`n`-grams it shares with any probe document. Probe
    * membership here is the deterministic `doc_id % probeMod == 0`
    * slice (standing in for an external benchmark corpus).
    *
    * 100 TB posture: the probe side of the join is a benchmark suite —
    * thousands of documents, not billions — so its distinct shingle set
    * is broadcast and the corpus side never shuffles; each corpus
    * partition streams its shingles against the in-memory probe set
    * (in production the probes would compress to a bloom filter the
    * same way, trading false positives for memory). */
  def decontaminationHits(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, probeMod: Int = 97): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, n)
    val probes = sh.filter(col("doc_id") % probeMod === 0)
      .select(col("s")).distinct()
    sh.filter(col("doc_id") % probeMod =!= 0)
      .join(broadcast(probes), "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_ngrams"))
  }

  /** [[decontaminationHits]]'s extreme-cardinality scale path — the
    * bloom filter SCALE.md promises "at the same plan shape": when the
    * probe suite's distinct n-gram set outgrows an exact broadcast set
    * (hundreds of benchmarks × long docs), compress it to a bloom
    * filter and turn the probe JOIN into a codegen'd scalar predicate.
    * The plan has NO join at all (PlanShapeSpec pins this): the corpus
    * side is scan → filter → partial agg, the cheapest possible shape,
    * and the only cross-stage traffic is the `numBits/8`-byte sketch.
    *
    * Built on Spark's own runtime-filter machinery
    * (`BloomFilterAggregate` / `BloomFilterMightContain`, the
    * expressions `InjectRuntimeFilter` plants under joins): the sketch
    * is built DISTRIBUTED with map-side partial merge (each task ORs
    * its local bloom — order-independent, so the bits are identical
    * under any partitioning), one sketch row returns to the driver
    * (the same constant-size pattern as q62b's thresholds), and the
    * probe is a literal in whole-stage codegen — no UDF, no broadcast
    * join.
    *
    * Exactness: false-positive-only (a bloom never misses a real
    * probe n-gram), so hits can only be OVER-counted. At the default
    * sizing (2²³ bits for ≤ 2²⁰ expected probes; the fixture's probe
    * slice fills ~10⁻³ of that) the designed FP rate is ~10⁻¹³ per
    * tested shingle — zero expected FPs at fixture scale by a margin
    * of 10⁸, so q57b is gated on q57's EXACT oracle. Deterministic:
    * the sketch hashes with Spark's fixed-seed xxhash64, so the gate
    * outcome is a property of the fixture, not a per-run draw (same
    * fixture-regeneration caveat as q38b: redrawing `documents` could
    * in principle — p ≈ 10⁻⁸ — land an FP with no code change).
    * Production sizes the knobs to the measured probe cardinality
    * (`numBits ≈ 14 × expected` keeps FP ≈ 10⁻³ per shingle; FP hits
    * then quarantine docs for exact re-check against the real
    * benchmark store, never silent drops). */
  def decontaminationHitsBloom(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, probeMod: Int = 97,
      expectedProbeNgrams: Long = 1L << 20,
      numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.GraftSqlBridge.{column, expression}
    val sh = shingleRows(docs, idCol, textCol, n)
    val buildAgg = column(new BloomFilterAggregate(
      expression(xxhash64(col("s"))),
      Literal(expectedProbeNgrams), Literal(numBits)).toAggregateExpression())
    // No .distinct() before the build: bloom insertion is idempotent,
    // so the dedup shuffle the exact path needs buys nothing here —
    // the build side is scan → partial bloom → merge, zero shuffles.
    val sketch = sh.filter(col("doc_id") % probeMod === 0)
      .select(col("s"))
      .agg(buildAgg.as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val hits =
      if (sketch == null) lit(false) // empty probe slice ⇒ nothing is contaminated
      else column(BloomFilterMightContain(
        Literal.create(sketch, org.apache.spark.sql.types.BinaryType),
        expression(xxhash64(col("s")))))
    sh.filter(col("doc_id") % probeMod =!= 0)
      .filter(hits)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_ngrams"))
  }

  /** (doc_id, toks) base + overlapping (doc_id, pos, gram) k-grams —
    * the shared front half of the span-surgery family (q84, q92).
    * Checkpoint flags follow consumer count: base serves the explode
    * AND the rebuild wherever the caller rebuilds (q84, q92's
    * candidate side); grams serve two consumers only in q84 (df
    * aggregate + semi-join) — q92's sides consume grams once, and a
    * checkpoint there would materialize the corpus' largest
    * intermediate for zero reuse. */
  private def spanBase(docs: DataFrame, idCol: String, textCol: String,
      k: Int, checkpointBase: Boolean = true,
      checkpointGrams: Boolean = true): (DataFrame, DataFrame) = {
    def cp(df: DataFrame, on: Boolean) = if (on) df.localCheckpoint() else df
    val base = cp(docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks")),
      checkpointBase)
    // overlapping k-grams with start positions; the `when` guard is the
    // TextOps.shingles rule (sequence(0, negative) descends, not empties)
    val grams = cp(base.select(col("doc_id"),
        posexplode(when(size(col("toks")) >= k, expr(
          s"transform(sequence(0, size(toks) - $k), " +
            s"i -> array_join(slice(toks, i + 1, $k), ' '))"))
          .otherwise(array().cast("array<string>"))).as(Seq("pos", "gram"))),
      checkpointGrams)
    (base, grams)
  }

  /** SUBSTRING-level exact dedup (q84) — the ExactSubstr class of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): remove every span of ≥ `minLen` tokens whose
    * content appears (at least) twice anywhere in the corpus —
    * verbatim quotes, mirrored paragraphs, re-crawled bodies inside
    * otherwise-distinct pages. The document-level operators
    * ([[exactGroups]], [[minhashLshPairs]]) can't see these: a 10 k-token
    * page quoting a 200-token license is neither an exact nor a near
    * dup of anything.
    *
    * The published algorithm builds one corpus-wide suffix array — a
    * sequential, single-machine structure. The distributed formulation
    * here is the k-gram-chain relaxation (the same reformulation used
    * by paragraph/Bloom variants of ExactSubstr in public pipelines):
    * a span of L ≥ k tokens duplicated verbatim contains L−k+1
    * duplicated k-grams at consecutive starts, so
    *   1. explode overlapping k-grams (start position + gram text),
    *   2. a gram occurring ≥ 2 times corpus-wide (count(*), so
    *      within-document repetition counts — the paper's "second
    *      occurrence" rule) marks its start position as covered,
    *   3. per document, merge covered intervals [s, s+k−1] into
    *      maximal runs ROW-LOCALLY (a fold over the sorted start list
    *      — no gaps-and-islands window, no per-position explode),
    *   4. drop runs of ≥ minLen tokens; rebuild the surviving text in
    *      order.
    * The relaxation admits a superset of the suffix-array spans: a
    * maximal run's k-grams may match DIFFERENT witnesses, so the run
    * as a whole need not occur verbatim elsewhere (chained-overlap
    * over-removal — the accepted trade of every distributed
    * reformulation; with minLen = 2k−1 any reported run still contains
    * at least one duplicated window of k tokens ... minLen). Removal is
    * SYMMETRIC — all occurrences go, not keep-first: keep-first needs a
    * global document order (the suffix array gave the paper one for
    * free), which a distributed pipeline neither has nor wants —
    * survivor choice by arrival order is irreproducible under
    * re-partitioning. Symmetric removal is order-free, hence
    * hash-gateable.
    *
    * 100 TB posture: one explode pass (rows ≈ tokens; the gram df
    * aggregate map-side combines — at petabyte scale key it on
    * xxhash64(gram) so the shuffle carries 8-byte keys, the q27
    * discipline); the dup-mark is a semi-join on the gram key (AQE
    * skew-join absorbs stopword-run heavy hitters; a `maxShingleDf`-
    * style cap does NOT apply — a gram in 10⁶ docs is exactly what
    * must be removed); interval merge + rebuild are per-document
    * row-local (state bounded by the doc's own length, q73's
    * collect_list class). No windows, no cross-doc joins after the
    * semi-join.
    *
    * Output: one row per non-null-text document — (doc_id, n_tokens,
    * n_dup_spans, n_removed_tokens, kept_text); a fully-duplicated
    * document survives with empty kept_text (auditable verdict, not a
    * silent drop — the q73 contract). */
  def stripDupSubstrings(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minLen: Int = 16): DataFrame = {
    require(k > 0, "k must be positive")
    require(minLen >= k, s"minLen ($minLen) must be >= k ($k): a span " +
      "shorter than one gram window can never be marked")
    val (base, grams) = spanBase(docs, idCol, textCol, k)
    val dupGrams = grams.groupBy("gram")
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select("gram")
    val dupStarts = grams.join(dupGrams, Seq("gram"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    removeMarkedSpans(base, dupStarts, k, minLen, "n_dup_spans")
  }

  /** The span surgery shared by q84/q92: merge sorted covered START
    * positions into maximal [s, s+k−1] runs ROW-LOCALLY, drop runs ≥
    * minLen, rebuild the surviving text in order. */
  private def removeMarkedSpans(base: DataFrame, starts: DataFrame,
      k: Int, minLen: Int, spanCountCol: String): DataFrame = {
    val kEnd = k - 1
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      // row-local interval merge: starts ascend, each covers [x, x+k-1];
      // runs fuse when the next start lands inside-or-adjacent to the
      // open interval (x <= e+1 — consecutive tokens form one span)
      .withColumn("spans", expr(
        s"""filter(
           |  aggregate(starts,
           |    cast(array() as array<struct<s:int,e:int>>),
           |    (acc, x) -> if(size(acc) > 0 AND x <= element_at(acc, -1).e + 1,
           |      concat(slice(acc, 1, size(acc) - 1),
           |        array(named_struct('s', element_at(acc, -1).s,
           |                           'e', greatest(element_at(acc, -1).e, x + $kEnd)))),
           |      concat(acc, array(named_struct('s', x, 'e', x + $kEnd))))),
           |  sp -> sp.e - sp.s + 1 >= $minLen)""".stripMargin))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("spans")).cast("long").as(spanCountCol),
        expr("aggregate(spans, cast(0 as bigint), " +
          "(a, sp) -> a + cast(sp.e - sp.s + 1 as bigint))").as("n_removed_tokens"),
        concat_ws(" ", expr(
          """transform(
            |  filter(transform(toks, (t, p) -> named_struct('t', t, 'p', p)),
            |    tp -> NOT exists(spans, sp -> tp.p >= sp.s AND tp.p <= sp.e)),
            |  tp -> tp.t)""".stripMargin)).as("kept_text"))
  }

  /** SURGICAL decontamination (q92) — q57's flag upgraded to q84's
    * scalpel: instead of dropping every document that shares an n-gram
    * with the benchmark suite (wasteful — one quoted question kills a
    * 10 k-token page), remove ONLY the contaminated spans and keep the
    * rest, the span-level recipe public pipelines moved to after
    * whole-doc decontamination proved too blunt. A covered start is a
    * k-gram found in the PROBE set (the `doc_id % probeMod == 0` docs
    * standing in for a benchmark suite, q57's convention); the span
    * machinery — interval merge of [s, s+k−1] runs, symmetric removal,
    * in-order rebuild — is [[stripDupSubstrings]]'s, shared verbatim
    * ([[removeMarkedSpans]]). minLen defaults to k: ONE contaminated
    * window is already leakage, so there is no q84-style "long run
    * only" floor.
    *
    * Probe documents themselves are excluded from the output — the
    * operator cleans the TRAINING corpus against the benchmark, not
    * the benchmark against itself.
    *
    * 100 TB posture: the probe gram set is benchmark-sized (millions of
    * grams — MBs), so the mark is a BROADCAST semi-join on the
    * candidate grams (no corpus-wide gram aggregate at all — q84's df
    * count drops out entirely); everything after the mark is row-local.
    * When the suite outgrows a broadcast, q57b's bloom probe is the
    * same-shape fallback. Deterministic strings + exact counts ⇒
    * hash-gated. */
  def stripContaminatedSpans(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, probeMod: Int = 35): DataFrame = {
    require(k > 0, "k must be positive")
    val idc = col(idCol)
    val (base, grams) = spanBase(
      docs.filter(idc % probeMod =!= 0), idCol, textCol, k,
      checkpointGrams = false) // grams feed ONLY the mark semi-join here
    val (_, probeGrams) = spanBase(
      docs.filter(idc % probeMod === 0), idCol, textCol, k,
      checkpointBase = false, checkpointGrams = false)
    val contaminatedStarts = grams
      .join(broadcast(probeGrams.select("gram").distinct()), Seq("gram"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    removeMarkedSpans(base, contaminatedStarts, k, minLen = k,
      "n_contaminated_spans")
  }
}
