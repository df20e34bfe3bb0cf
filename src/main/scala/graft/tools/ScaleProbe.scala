package graft.tools

import org.apache.spark.sql.functions._

/** Scaling-exponent probe (round-14 brief #5): replicate the sf0.1
  * corpus tables `reps`× with content made DISJOINT across replicas,
  * then time the heavy-tail queries at 1× and reps× and report each
  * query's scaling exponent log(t_big/t_small)/log(reps). A bucketed
  * design that secretly curves like n² shows exponent ≈ 2 here — caught
  * at sf1, not at 100 TB. Results are recorded in SCALE.md.
  *
  * Replica disjointness matters: naive copies would make every document
  * 9 near-duplicates of its replicas, switching the dedup queries into
  * an output-explosion regime that measures result size, not engine
  * scaling. Instead:
  *  - documents: every token of replica k is prefixed `xk` — the word
  *    frequency distribution and shingle structure of each replica are
  *    ISOMORPHIC to the original (an interleaved-marker variant was
  *    tried first and rejected: it put the marker into every shingle,
  *    inflating shingle df to word df and manufacturing a quadratic
  *    candidate blowup the real corpus doesn't have), while replicas
  *    share no tokens, hence no shingles;
  *  - embeddings: coordinates are rotated by k positions — norms and
  *    within-replica cosines are exactly preserved, cross-replica
  *    cosines drop to the random background (~0.1 at 64-dim).
  */
object ScaleProbe {
  private val Heavy = Seq(
    "q28_dedup_jaccard", "q38b_dedup_embedding_lsh", "q59_cross_snapshot",
    "q69_dedup_containment", "q74b_knn_graph_ivf", "s14_stream_near_dedup",
    // round-14 additions with load-bearing scale claims: q84's k-gram
    // chain (two shuffles, rows ≈ tokens — should be ~linear), q78b's
    // IVFADC (training-dominated at fixture scale), and the sketch
    // pair (q86 one sketch aggregate, q87 sketch build + probe — both
    // should be ~linear in corpus bytes with constant-size state)
    "q84_dedup_substrings", "q78b_ann_ivfadc_topk",
    // round-22 (r21 verdict #5): the post-spread kNN pair join — the
    // family the Similarity.spread fix made able to use extra cores;
    // its core-scaling is what the 8-vs-32-core capture demonstrates
    "q74_knn_graph",
    "q86_hll_snapshot_stats", "q87_cms_heavy_hitters",
    // continued-session additions over the replicable tables: q90's
    // one-pass bucket scoring, q92's broadcast-probe span surgery and
    // q93's histogram divergence should all be ~linear
    "q90_dsir_select", "q92_strip_contaminated", "q93_source_divergence",
    // round-15: the persisted-index lifecycle — training is
    // sample-bounded, assignment/ingest linear, probes partition-pruned
    "q98_ann_index_maintain",
    // round-16 (verdict #5): the streaming maintenance loops' "cost ∝
    // batch, not corpus" claims, measured — s20 ingests+compacts the
    // scaled events feed, s22 ingests the scaled embeddings into the
    // persisted index; q96 runs the vacuum lifecycle over reps×-more
    // partition VALUES (the build suffixes o_orderpriority per replica,
    // so partition count scales with reps, not just rows)
    "s20_stream_ingest_compact", "s22_stream_ann_ingest", "q96_vacuum",
    // round-17 (verdict #6): q100's bucketed-SPJ write+join vs table
    // size (orders replicate reps×; bucket count is FIXED at 8, so the
    // per-bucket files grow reps× — the claim is linear in bytes, the
    // zero-exchange join adding nothing super-linear); q103's composite
    // twin over reps×-replicated lineitem (partition count constant,
    // per-(partition, bucket) file size scales); q102's CALL-procedure
    // maintenance lifecycle over reps×-more partition VALUES (the
    // suffixed priorities — compact/vacuum/migrate listings are the
    // claimed-linear axis). q101's file-count probe is special-cased
    // below (nation doesn't replicate; the axis is FILES, not bytes).
    "q100_bucketed_spj_join", "q103_composite_spj_join",
    "q102_call_maintenance",
    // late round-17: q106's sort-free merge join (two clustered CTAS
    // writes + the exchange-less sort-less join — the sorted write adds
    // a per-task sort ∝ bucket size, claimed n log n with fixed n/8th
    // buckets), q107's runtime-bucket-pruned join (fact CTAS linear;
    // the pruned probe itself reads a constant few buckets' bytes), and
    // q108's footer aggregate (CTAS linear; the pushed agg reads
    // footers ∝ FILES, not bytes)
    "q106_sorted_bucket_join", "q107_runtime_bucket_prune",
    "q108_agg_pushdown",
    // q109's range CTAS + manifest (footer read per new file — files
    // grow with reps, the walk+read is the claimed-linear term) and the
    // pruned probe; q110's full z-order lifecycle (min/max pass, range
    // rewrite, manifest, both pruned probes) — the rewrite is the
    // n log n term, everything else bounded or linear
    "q109_file_skipping", "q110_zorder_skipping",
    // q111's dynamic file pruning: fact CTAS linear (range exchange +
    // per-new-file footer manifest); the dim stays band-bounded
    // (replica 0 keeps the original key band), so the runtime-pruned
    // join leg reads the same few files' worth of bytes at both scales
    "q111_dynamic_file_pruning",
    // q112's bloom lifecycle: CTAS linear (the writer's per-row-group
    // bloom inserts are O(rows); commit merges blooms ∝ FILES); the
    // 3-key lookup schedules ≤3 files' bytes at both scales
    "q112_bloom_skipping",
    // q113's metadata tables: two CTAS writes linear; the files/
    // partitions listings read one footer TAIL per file (file count
    // fixed by the range write; partition count by the flag domain),
    // so the metadata legs stay constant while rows grow 10x
    "q113_metadata_tables",
    // q114's rollback lifecycle: CTAS + the orc migrate (one full
    // rewrite, the declared-linear term) dominate; the rollback itself
    // is a descriptor flip — O(1) at any scale — and the post-rollback
    // read is the grouped aggregate
    "q114_generation_rollback",
    // q115's time-travel read: seed CTAS + orc migrate + the odd-half
    // append are the write-bound terms; resolving VERSION AS OF 1 is a
    // descriptor lookup, and both probes are map-side-combined counts
    "q115_time_travel",
    // round-18: q116's snapshot lineage — three commits (CTAS, append,
    // truncate-overwrite), each writing per-touched-dir shards + one
    // manifest; the overwrite's retirement is renames ∝ files; the two
    // travel probes read the recorded file sets. All terms linear in
    // bytes or files, the snapshot bookkeeping O(dirs) per commit.
    "q116_snapshot_time_travel",
    // q117's runtime-skipped composite join: the composite CTAS (one
    // pinned-N bucket shuffle + per-file bloom writes, linear) and the
    // dim join whose runtime IN-set prunes against shards ∝ FILES
    "q117_runtime_skip_join",
    // q118's incremental append read: three append commits (linear
    // writes) + two manifest set-differences whose planning is O(dirs +
    // changed files) metadata — the aggregates over the slices are the
    // only data terms
    "q118_incremental_append",
    // round-19: q119's merge-on-read DML — the seed insert is the
    // linear write term; the UPDATE/DELETE ship keys + replacement
    // rows ∝ rows CHANGED (a fixed fraction here, so still linear in
    // corpus) and the read-side anti-join broadcasts the key sets; the
    // claim under test is that NOTHING pays a partition-rewrite term
    "q119_mor_dml",
    // q120's changelog read: four commits (linear writes/retirements)
    // + a manifest walk whose planning is O(dirs + changed files); the
    // changed-file scans are the only data terms
    "q120_changelog",
    // round-20: q120b's row-granular netting — the COW UPDATE's
    // partition rewrite is the linear term; the EXCEPT ALL pair
    // shuffles only the CHANGED files' rows (the rewritten partitions),
    // claimed linear in rewritten bytes with no whole-corpus term
    "q120b_changelog_row_granular",
    // round-20: q121's positional merge-on-read — the keyless seed is
    // the linear write term; DELETE/UPDATE/MERGE ship (file, pos)
    // pairs + replacement rows ∝ rows changed; the pinned-fragment
    // delta reads and the (file,pos) anti-joins are ∝ scanned bytes +
    // positions, with condition pruning bounding the delta universe —
    // the claim is the same no-partition-rewrite property as q119
    "q121_mor_positional",
    // s23's snapshot-lineage stream: the seed/append commits are the
    // write-bound terms; each micro-batch plans from manifest diffs
    // (O(dirs + changed files)) and scans only the changed files, with
    // the DV anti-join ∝ deleted keys — the claim is nothing re-reads
    // or re-lists the processed corpus across triggers
    "s23_stream_cdc_source")

  def main(args: Array[String]): Unit = {
    // flags and positionals may mix in any order:
    //   ScaleProbe [baseDir] [outDir] [reps] [--skip-build] [--queries=a,b]
    val skipBuild = args.contains("--skip-build")
    val only: Option[Set[String]] = args.find(_.startsWith("--queries="))
      .map(_.stripPrefix("--queries=").split(",").toSet)
    only.foreach { qs =>
      val unknown = qs.diff(Heavy.toSet + "q101_avro_scan_files")
      require(unknown.isEmpty,
        s"--queries names not in the probe set: ${unknown.toSeq.sorted.mkString(", ")}; " +
          s"known: ${Heavy.mkString(", ")}")
    }
    val pos = args.filterNot(_.startsWith("--"))
    val base = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (pos.length > 1) pos(1) else "/tmp/graft_scaleprobe"
    val reps = if (pos.length > 2) pos(2).toInt else 10
    val spark = graft.GraftBootstrap.localSession("32")
    graft.GraftBootstrap.setSessionConfs(spark)

    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!skipBuild) {
    fs.delete(new org.apache.hadoop.fs.Path(out), true)

    // the catalog bootstrap registers EVERY fixture table for a dir, so
    // the scaled dir must carry the non-scaled tables too (verbatim)
    graft.Tables.all.filterNot(Set(
        "documents", "embeddings", "events", "orders", "lineitem"))
      .foreach { t =>
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }

    // lineitem: replica-distinct order keys with the ORIGINAL returnflag
    // domain — q103's composite tables keep their 3 partitions while the
    // per-(partition, bucket) file sizes scale reps× (the axis its
    // zero-exchange join is claimed linear in)
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val maxLiOrder = li.agg(max("l_orderkey")).head.getLong(0) + 1
    (0 until reps).map { k =>
      if (k == 0) li
      else li.withColumn("l_orderkey", col("l_orderkey") + lit(k * maxLiOrder))
    }.reduce(_ unionByName _)
      .repartition(32).write.parquet(s"$out/lineitem.parquet")

    // events: replicas carry disjoint event/user ids with the original
    // time axis — per-user session structure is isomorphic, feed density
    // scales reps× (what s20's per-trigger cost rides on)
    val events = spark.read.parquet(s"$base/events.parquet")
    val maxEvent = events.agg(max("event_id")).head.getLong(0) + 1
    val maxUser = events.agg(max("user_id")).head.getLong(0) + 1
    (0 until reps).map { k =>
      if (k == 0) events
      else events
        .withColumn("event_id", col("event_id") + lit(k * maxEvent))
        .withColumn("user_id", col("user_id") + lit(k * maxUser))
    }.reduce(_ unionByName _)
      .repartition(16).write.parquet(s"$out/events.parquet")

    // orders: replica-distinct ids AND replica-suffixed priorities, so
    // the PARTITION COUNT of priority-partitioned tables scales with
    // reps — the axis q96's vacuum listing cost is claimed linear in
    val orders = spark.read.parquet(s"$base/orders.parquet")
    val maxOrder = orders.agg(max("o_orderkey")).head.getLong(0) + 1
    (0 until reps).map { k =>
      if (k == 0) orders
      else orders
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * maxOrder))
        .withColumn("o_orderpriority", concat(col("o_orderpriority"), lit(s"-r$k")))
    }.reduce(_ unionByName _)
      .repartition(16).write.parquet(s"$out/orders.parquet")

    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1
    (0 until reps).map { k =>
      if (k == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(k * maxDoc))
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"x$k$$1"))
    }.reduce(_ unionByName _)
      .repartition(32).write.parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    (0 until reps).map { k =>
      if (k == 0) emb
      else emb
        .withColumn("vec_id", col("vec_id") + lit(k * maxVec))
        .withColumn("embedding", expr(
          s"transform(sequence(0, size(embedding) - 1), " +
            s"i -> embedding[(i + $k) % size(embedding)])"))
    }.reduce(_ unionByName _)
      .repartition(8).write.parquet(s"$out/embeddings.parquet")
    } // skipBuild

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // min-of-2 BOTH sides after a warm-up (the sandbox's documented
    // 1.6x single-pass jitter lands on the exponent otherwise),
    // alternating small/big so neither side owns a hotter machine state
    Heavy.filter(n => only.forall(_.contains(n))).foreach { name =>
      time(name, base) // warm-up (JIT/codegen/streaming engine init)
      val (s1, b1) = (time(name, base), time(name, out))
      val (s2, b2) = (time(name, base), time(name, out))
      val tSmall = math.min(s1, s2)
      val tBig = math.min(b1, b2)
      val exp = math.log(tBig / tSmall) / math.log(reps.toDouble)
      println(f"SCALEPROBE $name%-28s t1x=$tSmall%7.2fs t${reps}x=$tBig%8.2fs exponent=$exp%5.2f")
    }

    // q101's axis is FILE COUNT, not bytes: the generic
    // FileFormat-backed avro scan (GraftFormatScan) lists, bin-packs and
    // opens n files vs reps×n files of the SAME size — a super-linear
    // exponent here would mean per-file planning overhead dominates,
    // the failure mode a 100 TB table with 100k files hits first.
    if (only.forall(_.contains("q101_avro_scan_files"))) {
      import org.apache.spark.sql.functions.sum
      val cat = graft.GraftBootstrap.CatalogName
      graft.GraftBootstrap.ensure(spark, base)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
      def build(name: String, files: Int): String = {
        val t = s"$cat.tmp.$name"
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.read.parquet(s"$base/orders.parquet")
          .repartition(files).writeTo(t).using("avro").create()
        t
      }
      val baseFiles = 16
      val small = build("scale_avro_1x", baseFiles)
      val big = build("scale_avro_rx", baseFiles * reps)
      def scan(t: String): Double = {
        val t0 = System.nanoTime()
        spark.table(t).agg(sum(col("o_totalprice")))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      scan(small) // warm-up
      val tSmall = math.min(scan(small), scan(small))
      val tBig = math.min(scan(big), scan(big))
      val exp = math.log(tBig / tSmall) / math.log(reps.toDouble)
      println(f"SCALEPROBE q101_avro_scan_files        t1x=$tSmall%7.2fs t${reps}x=$tBig%8.2fs exponent=$exp%5.2f")
      Seq(small, big).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    spark.stop()
  }
}
