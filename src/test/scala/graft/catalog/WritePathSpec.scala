package graft.catalog

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftBootstrap, SparkFixture, Tables}

/** DSv2 write-path semantics (R14–R17): append, truncate, static and
  * dynamic partition overwrite, and the catalog commit that follows. */
class WritePathSpec extends AnyFunSuite with SparkFixture {

  private val ns = s"${GraftBootstrap.CatalogName}.wtest"

  private def freshTable(name: String): String = {
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    val t = s"$ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    t
  }

  test("unpartitioned cluster.by requires an ordered write: plain appends land range-disjoint and skippable") {
    import spark.implicits._
    val t = freshTable("t_range_clustered")
    // coalescing off so the 4-partition range exchange is observable as
    // 4 files (at scale AQE sizes them to the advisory bytes instead)
    val prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      Tables(spark, sf0001, "lineitem")
        .select($"l_orderkey", $"l_quantity")
        .writeTo(t)
        .tableProperty(GraftCatalog.ClusterByProp, "l_orderkey")
        .tableProperty(SkipStats.Prop, "l_orderkey")
        .create()
      val cat = spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
        .asInstanceOf[GraftCatalog]
      val root = new org.apache.hadoop.fs.Path(
        cat.metaStore.loadTable("wtest", "t_range_clustered").location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val files = fs.listStatus(root).toSeq.map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet"))
      assert(files.size >= 3, s"ordered write should spread files, got ${files.size}")
      // DISJOINT per-file ranges with internal sortedness — the range
      // exchange did the cross-file clustering, the required ordering
      // the within-file sort; no repartitionByRange in user code
      val ranges = files.map { f =>
        val ks = spark.read.parquet(f.toString)
          .select("l_orderkey").collect().map(_.getLong(0)).toSeq
        assert(ks === ks.sorted, s"file $f not sorted by the cluster key")
        (ks.min, ks.max)
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo, _)) =>
          assert(hi <= lo, s"file ranges overlap: $ranges")
        case _ =>
      }
      // and the manifest makes a key-range query schedule a file subset
      assert(fs.exists(new org.apache.hadoop.fs.Path(root,
        SkipStats.ManifestName)))
      val probe = spark.table(t).filter($"l_orderkey" >= 100L && $"l_orderkey" <= 200L)
      val viaPlain = Tables(spark, sf0001, "lineitem")
        .filter($"l_orderkey" >= 100L && $"l_orderkey" <= 200L)
        .agg(count(lit(1)), sum($"l_quantity")).collect().head
      assert(probe.agg(count(lit(1)), sum($"l_quantity")).collect().head === viaPlain)
    } finally
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
  }

  test("streaming epochs maintain the skip-stats manifest: every committed file gets its entry") {
    import spark.implicits._
    val t = freshTable("t_stream_skip")
    Seq((1L, 1.0)).toDF("k", "v")
      .writeTo(t)
      .tableProperty(SkipStats.Prop, "k")
      .create()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)](
      spark)
    val query = stream.toDF().toDF("k", "v")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("t_stream_skip_ckpt").toString)
      .toTable(t)
    try {
      stream.addData((100L, 2.0), (200L, 3.0))
      query.processAllAvailable()
      stream.addData((300L, 4.0))
      query.processAllAvailable()
    } finally query.stop()
    // the streaming epoch commit IS the batch commit — the manifest
    // rebuilt each epoch, so every live data file has an entry
    val cat = spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[GraftCatalog]
    val root = new org.apache.hadoop.fs.Path(
      cat.metaStore.loadTable("wtest", "t_stream_skip").location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet"))
    val manifestTxt = {
      val in = fs.open(new org.apache.hadoop.fs.Path(root, SkipStats.ManifestName))
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    dataFiles.foreach(f => assert(manifestTxt.contains(f),
      s"streamed file $f missing from the manifest"))
    assert(spark.table(t).count() === 4)
  }

  test("skip-stats shards are per partition dir: a one-partition commit rebuilds one shard") {
    import spark.implicits._
    val t = freshTable("t_shard_skip")
    val rows = (0L until 300L).map(i => (i, s"p${i % 3}"))
    rows.toDF("k", "p")
      .repartitionByRange(4, $"k")
      .writeTo(t)
      .tableProperty(SkipStats.Prop, "k")
      .partitionedBy($"p")
      .create()
    val cat = spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[GraftCatalog]
    val root = new org.apache.hadoop.fs.Path(
      cat.metaStore.loadTable("wtest", "t_shard_skip").location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // each partition DIR carries its own shard; the table root has none
    val dirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("p="))
    assert(dirs.size === 3)
    dirs.foreach(d => assert(fs.exists(new org.apache.hadoop.fs.Path(
      d.getPath, SkipStats.ManifestName)), s"missing shard in ${d.getPath}"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, SkipStats.ManifestName)),
      "partitioned tables shard per dir, never a root manifest")
    // a commit touching ONE partition rebuilds only that shard
    def shardM(p: String) = fs.getFileStatus(new org.apache.hadoop.fs.Path(
      root, s"p=$p/${SkipStats.ManifestName}")).getModificationTime
    val (m0, m1) = (shardM("p0"), shardM("p1"))
    Thread.sleep(1100) // FS mtime granularity
    Seq((1000L, "p1")).toDF("k", "p").writeTo(t).append()
    assert(shardM("p0") === m0, "untouched partition's shard must not rewrite")
    assert(shardM("p1") > m1, "touched partition's shard must rebuild")
    // skipping composes with partition pruning: a (p, k-range) query
    // schedules a file subset inside the surviving dir only
    val q = spark.table(t).filter($"p" === "p1" && $"k" >= 10L && $"k" <= 40L)
    val got = q.collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (10L to 40L).filter(_ % 3 == 1).sorted)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("ORC tables skip files too: the manifest reads the ORC tail statistics") {
    import spark.implicits._
    val t = freshTable("t_orc_skip")
    val prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      Tables(spark, sf0001, "lineitem")
        .select($"l_orderkey", $"l_quantity")
        .writeTo(t)
        .using("orc")
        .tableProperty(GraftCatalog.ClusterByProp, "l_orderkey")
        .tableProperty(SkipStats.Prop, "l_orderkey")
        .create()
      val cat = spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
        .asInstanceOf[GraftCatalog]
      val root = new org.apache.hadoop.fs.Path(
        cat.metaStore.loadTable("wtest", "t_orc_skip").location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val manifestTxt = {
        val in = fs.open(new org.apache.hadoop.fs.Path(root, SkipStats.ManifestName))
        try scala.io.Source.fromInputStream(in).mkString finally in.close()
      }
      assert(manifestTxt.contains("l_orderkey"),
        s"orc tail stats must manifest the declared column: $manifestTxt")
      val totalFiles = fs.listStatus(root)
        .count(s => s.getPath.getName.endsWith(".orc"))
      assert(totalFiles >= 3, s"ordered write should spread files, got $totalFiles")
      val q = spark.table(t).filter($"l_orderkey" >= 100L && $"l_orderkey" <= 200L)
      q.collect()
      def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(qs.plan)
        case other => other.children.flatMap(allScans)
      }
      val read = allScans(q.queryExecution.executedPlan).head.inputRDD.partitions
        .toSeq.flatMap {
          case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
            dp.inputPartitions
        }.collect {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
        }.flatMap(_.files).map(_.filePath.toString).distinct
      assert(read.nonEmpty && read.size < totalFiles,
        s"orc range query must schedule a file subset: ${read.size} of $totalFiles")
      val viaPlain = Tables(spark, sf0001, "lineitem")
        .filter($"l_orderkey" >= 100L && $"l_orderkey" <= 200L)
        .agg(count(lit(1)), sum($"l_quantity")).collect().head
      assert(q.agg(count(lit(1)), sum($"l_quantity")).collect().head === viaPlain)
    } finally
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
  }

  test("append accumulates rows; truncate overwrite replaces them") {
    import spark.implicits._
    val t = freshTable("t_append")
    val src = Tables(spark, sf0001, "nation").select($"n_nationkey", $"n_name")
    src.writeTo(t).create()
    assert(spark.table(t).count() === 25)
    src.writeTo(t).append()
    assert(spark.table(t).count() === 50)
    src.filter($"n_nationkey" < 5).writeTo(t).overwrite(lit(true)) // truncate
    assert(spark.table(t).count() === 5)
  }

  test("static partition overwrite rewrites only the matching partition") {
    import spark.implicits._
    val t = freshTable("t_static")
    val src = Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_orderpriority").limit(1000).cache()
    src.writeTo(t).partitionedBy($"o_orderpriority").create()
    val before = spark.table(t).groupBy($"o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // overwrite one partition with a single synthetic row
    Seq((-1L, "1-URGENT")).toDF("o_orderkey", "o_orderpriority")
      .writeTo(t).overwrite($"o_orderpriority" === "1-URGENT")
    val after = spark.table(t).groupBy($"o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("1-URGENT") === 1L)
    (before.keySet - "1-URGENT").foreach(k => assert(after(k) === before(k)))
  }

  test("dynamic partition overwrite touches only partitions present in the input") {
    import spark.implicits._
    val t = freshTable("t_dyn")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "p")
      .writeTo(t).partitionedBy($"p").create()
    Seq((10L, "a"), (11L, "a")).toDF("id", "p").writeTo(t).overwritePartitions()
    val rows = spark.table(t).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((10L, "a"), (11L, "a"), (2L, "b"), (3L, "c")))
  }

  test("catalog-pruned partitioned read lists files (regression: spec paths must be FS-qualified)") {
    import spark.implicits._
    // Round 6's worst bug: unqualified /tmp/... spec paths never matched
    // the qualified file:/tmp/... leaf dirs, so every catalog-tracked
    // partition read back EMPTY. Guard the whole class of path-identity
    // mistakes in GraftFileIndex.
    val t = freshTable("t_qualify")
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "p")
      .writeTo(t).partitionedBy($"p").create()
    assert(spark.table(t).count() === 3)
    val one = spark.table(t).filter($"p" === "y")
    assert(one.collect().map(_.getLong(0)).toSeq === Seq(2L))
    // and the partition predicate must prune at plan time, not post-scan
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("= y"),
      s"expected partition filter in plan:\n$plan")
  }

  test("commit registers partitions and size stats in the catalog") {
    import spark.implicits._
    val t = freshTable("t_commit")
    Seq((1L, "x"), (2L, "y")).toDF("id", "p").writeTo(t).partitionedBy($"p").create()
    val cat = spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("wtest", "t_commit")
    assert(meta.partitions.map(_.spec).toSet ===
      Set(Map("p" -> "x"), Map("p" -> "y")))
    assert(meta.stats.exists(_.sizeInBytes > 0))
    assert(meta.partitions.forall(_.sizeInBytes > 0))
  }

  test("csv and json providers round-trip through the catalog write/read path") {
    import spark.implicits._
    for (provider <- Seq("csv", "json", "orc")) {
      val t = freshTable(s"t_$provider")
      spark.sql(s"CREATE TABLE $t (id BIGINT, name STRING) USING $provider")
      Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name").writeTo(t).append()
      val back = spark.table(t).orderBy($"id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(back.toSeq === Seq((1L, "alpha"), (2L, "beta")), s"provider=$provider")
    }
  }

  test("orc provider: nested types pass the gate csv refuses; filters push into the scan") {
    import spark.implicits._
    val t = freshTable("t_orc_nested")
    spark.sql(s"CREATE TABLE $t (id BIGINT, info STRUCT<name: STRING, n: BIGINT>) USING orc")
    val rows = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "n")
      .select($"id", struct($"name", $"n").as("info"))
    rows.writeTo(t).append()
    val back = spark.table(t).orderBy($"id")
      .select($"id", $"info.name", $"info.n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(back.toSeq === Seq((1L, "a", 10L), (2L, "b", 20L)))
    // the SAME nested schema is refused by the CSV write gate (R15's
    // per-format recursive type validation)
    val tc = freshTable("t_csv_nested")
    spark.sql(s"CREATE TABLE $tc (id BIGINT, info STRUCT<name: STRING, n: BIGINT>) USING csv")
    val err = intercept[Exception] { rows.writeTo(tc).append() }
    assert(err.getMessage.toLowerCase.contains("support"), err.getMessage)
    // predicate + projection reach the ORC scan, same as parquet (q01's pin)
    val plan = spark.table(t).filter($"id" === 1L).select($"id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,1)]"), plan)
    assert(plan.contains("ReadSchema: struct<id:bigint>"), plan)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS $tc")
  }

  test("compression maps from table properties to every format writer and survives read-back") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    // the reference's hive.exec.compress.output + per-format codec
    // mapping (HiveFileFormatWriteBuilder.scala:208-223), restated as
    // the one declarative surface: a `compression` TBLPROPERTY flows as
    // a write option into whichever format the provider dispatches to
    def dataFiles(t: String): Seq[String] = {
      val loc = new Path(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
        .filter($"col_name" === "Location").head().getString(1))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(loc).toSeq.map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
    }
    for ((provider, codec, suffix) <- Seq(
        ("parquet", "zstd", ".zstd.parquet"),
        ("orc", "zstd", ".zstd.orc"),
        ("csv", "gzip", ".csv.gz"),
        ("json", "gzip", ".json.gz"))) {
      val t = freshTable(s"t_comp_$provider")
      spark.sql(s"CREATE TABLE $t (id BIGINT, s STRING) USING $provider " +
        s"TBLPROPERTIES('compression'='$codec')")
      Seq((1L, "alpha"), (2L, "beta")).toDF("id", "s").writeTo(t).append()
      val names = dataFiles(t)
      assert(names.nonEmpty && names.forall(_.endsWith(suffix)),
        s"$provider: expected *$suffix, got ${names.mkString(",")}")
      assert(spark.table(t).orderBy($"id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((1L, "alpha"), (2L, "beta")), s"$provider read-back")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    // avro: the codec lives in the container-file metadata, not a suffix
    locally {
      val t = freshTable("t_comp_avro")
      spark.sql(s"CREATE TABLE $t (id BIGINT, s STRING) USING avro " +
        "TBLPROPERTIES('compression'='snappy')")
      Seq((1L, "alpha"), (2L, "beta")).toDF("id", "s").writeTo(t).append()
      val loc = new Path(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
        .filter($"col_name" === "Location").head().getString(1))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      val files = fs.listStatus(loc).toSeq.map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      assert(files.nonEmpty && files.forall(_.getName.endsWith(".avro")),
        s"avro: expected *.avro, got ${files.map(_.getName).mkString(",")}")
      files.foreach { p =>
        val r = new org.apache.avro.file.DataFileReader(
          new java.io.File(p.toUri.getPath),
          new org.apache.avro.generic.GenericDatumReader[Any]())
        try assert(r.getMetaString("avro.codec") === "snappy",
          s"avro codec metadata in ${p.getName}")
        finally r.close()
      }
      assert(spark.table(t).orderBy($"id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((1L, "alpha"), (2L, "beta")), "avro read-back")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("avro provider: nested types round-trip; partition filters prune the listing") {
    import spark.implicits._
    val t = freshTable("t_avro_part")
    spark.sql(s"CREATE TABLE $t (id BIGINT, info STRUCT<a: STRING, b: BIGINT>, p STRING) " +
      "USING avro PARTITIONED BY (p)")
    Seq((1L, "x", 10L, "p1"), (2L, "y", 20L, "p2"), (3L, "z", 30L, "p2"))
      .toDF("id", "a", "b", "p")
      .select($"id", struct($"a", $"b").as("info"), $"p")
      .writeTo(t).append()
    // nested struct survives; values exact
    assert(spark.table(t).orderBy($"id")
      .select($"id", $"info.a", $"info.b", $"p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
      === Seq((1L, "x", 10L, "p1"), (2L, "y", 20L, "p2"), (3L, "z", 30L, "p2")))
    // the static partition filter prunes the listing: fewer input
    // partitions than the unfiltered scan (the avro scan has no
    // stats-based data skipping, so partition pruning IS its pruning)
    def scanParts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.inputPartitions.size
      }.getOrElse(fail("no BatchScanExec in plan"))
    val all = scanParts(spark.table(t))
    val pruned = scanParts(spark.table(t).filter($"p" === "p1"))
    assert(pruned < all, s"expected pruning: $pruned vs $all input partitions")
    assert(spark.table(t).filter($"p" === "p1").collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    // column pruning reaches the reader: the scan's read schema drops
    // unrequested data columns
    val plan = spark.table(t).select($"id").queryExecution.executedPlan.toString
    assert(!plan.contains("info"), s"expected the struct pruned from the scan:\n$plan")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("create-time residue reclamation refuses when live data points inside the default dir") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val a = freshTable("t_live_owner")
    spark.sql(s"CREATE TABLE $a (id BIGINT, p STRING) USING parquet PARTITIONED BY (p)")
    // a registered partition whose custom LOCATION sits inside ANOTHER
    // table's would-be default dir
    val nsDir = new Path(spark.sql(s"DESCRIBE TABLE EXTENDED $a")
      .filter($"col_name" === "Location").head().getString(1)).getParent
    val inside = new Path(nsDir, "t_squatted/p=x")
    spark.sql(s"ALTER TABLE $a ADD PARTITION (p='x') LOCATION '$inside'")
    Seq((1L, "x")).toDF("id", "p").writeTo(a).append()
    assert(spark.table(a).count() === 1)
    // creating the managed table whose default dir holds that live data
    // must REFUSE, naming the owner — not silently delete it
    val e = intercept[IllegalStateException](
      spark.sql(s"CREATE TABLE $ns.t_squatted (id BIGINT) USING parquet"))
    assert(e.getMessage.contains("t_live_owner"), e.getMessage)
    assert(spark.table(a).count() === 1, "the live partition must survive")
    spark.sql(s"DROP TABLE IF EXISTS $a")
  }

  test("partition column declared with different case than the schema still round-trips") {
    import spark.implicits._
    val t = freshTable("t_case")
    spark.sql(s"CREATE TABLE $t (id BIGINT, Dt STRING) USING parquet PARTITIONED BY (dt)")
    Seq((1L, "a"), (2L, "b")).toDF("id", "Dt").writeTo(t).append()
    assert(spark.table(t).count() === 2)
    assert(spark.table(t).filter($"Dt" === "a").collect().map(_.getLong(0)).toSeq === Seq(1L))
    val parts = spark.sql(s"SHOW PARTITIONS $t").collect().map(_.getString(0)).sorted
    assert(parts.length === 2, s"expected 2 partitions, got ${parts.mkString(",")}")
  }

  test("static overwrite of the null partition replaces it (Hive default-partition encoding)") {
    import spark.implicits._
    val t = freshTable("t_nullpart")
    Seq((1L, Some("x")), (2L, None), (3L, None))
      .toDF("id", "p").writeTo(t).partitionedBy($"p").create()
    Seq((9L, None: Option[String])).toDF("id", "p")
      .writeTo(t).overwrite($"p" <=> lit(null))
    val rows = spark.table(t).collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(rows === Set((1L, Some("x")), (9L, None)),
      s"null partition not replaced: $rows")
  }

  test("SELECT * from a partitioned table before any insert returns zero rows, not an error") {
    val t = freshTable("t_empty")
    spark.sql(s"CREATE TABLE $t (id BIGINT, p STRING) USING parquet PARTITIONED BY (p)")
    val rows = spark.sql(s"SELECT id, p FROM $t").collect()
    assert(rows.isEmpty)
  }

  test("a table COMMENT does not leak into format options (csv 'comment' collision)") {
    import spark.implicits._
    val t = freshTable("t_comment")
    spark.sql(s"CREATE TABLE $t (id BIGINT, name STRING) USING csv COMMENT 'staging table'")
    Seq((1L, "alpha")).toDF("id", "name").writeTo(t).append()
    assert(spark.table(t).collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("ADD PARTITION with a custom LOCATION receives writes there and stays readable") {
    import spark.implicits._
    val t = freshTable("t_custloc")
    spark.sql(s"CREATE TABLE $t (id BIGINT, p STRING) USING parquet PARTITIONED BY (p)")
    val custom = java.nio.file.Files.createTempDirectory("graft-custom-part").toString
    spark.sql(s"ALTER TABLE $t ADD PARTITION (p = 'x') LOCATION '$custom'")
    Seq((1L, "x"), (2L, "y")).toDF("id", "p").writeTo(t).append()
    // rows in the custom-location partition are visible
    assert(spark.table(t).filter($"p" === "x").collect().map(_.getLong(0)).toSeq === Seq(1L))
    // and the files physically landed under the custom dir
    val files = new java.io.File(custom).listFiles()
    assert(files != null && files.exists(_.getName.endsWith(".parquet")),
      s"no parquet files under custom location $custom")
    // catalog still tracks the custom location after the write commit
    val cat = spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[GraftCatalog]
    val part = cat.metaStore.loadTable("wtest", "t_custloc")
      .partitions.find(_.spec == Map("p" -> "x")).get
    assert(part.location.contains(custom))
  }

  test("a failed write aborts cleanly: prior data, partitions, stats and files untouched") {
    import spark.implicits._
    val t = freshTable("t_abort")
    Seq((1L, "x"), (2L, "y")).toDF("id", "p").writeTo(t).partitionedBy($"p").create()
    val cat = spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[GraftCatalog]
    val before = cat.metaStore.loadTable("wtest", "t_abort")

    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f.getPath)
    val root = new java.io.File(
      new org.apache.hadoop.fs.Path(before.location).toUri.getPath)
    val filesBefore = walk(root).toSet

    // a row that throws mid-task forces task failure -> job abort ->
    // GraftBatchWrite.abort -> committer.abortJob
    val poison = udf { id: Long =>
      if (id == 3L) throw new RuntimeException("poisoned row"); id
    }
    val bad = Seq((3L, "x"), (4L, "z")).toDF("id", "p")
      .withColumn("id", poison($"id"))
    intercept[Exception] { bad.writeTo(t).append() }

    // data: only the original rows remain
    assert(spark.table(t).collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // catalog: descriptor byte-identical (no partition 'z', stats unchanged)
    val after = cat.metaStore.loadTable("wtest", "t_abort")
    assert(after.partitions.map(_.spec).toSet === before.partitions.map(_.spec).toSet)
    assert(after.stats === before.stats)
    // filesystem: no staged/task files survive the abort
    val filesAfter = walk(root).toSet
    assert(filesAfter === filesBefore,
      s"stray files after abort: ${(filesAfter -- filesBefore).mkString(",")}")
    assert(!filesAfter.exists(_.contains("_temporary")))
  }

  test("autoSizeUpdate=false: commit registers partitions but invalidates stats") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-nostats-wh").toString
    spark.conf.set("spark.sql.catalog.nostats", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.nostats.warehouse", wh)
    spark.conf.set("spark.sql.catalog.nostats.autoSizeUpdate", "false")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS nostats.db")
    spark.sql("DROP TABLE IF EXISTS nostats.db.t")
    Seq((1L, "x"), (2L, "y")).toDF("id", "p")
      .writeTo("nostats.db.t").partitionedBy($"p").create()
    val cat = spark.sessionState.catalogManager.catalog("nostats")
      .asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("db", "t")
    // partition REGISTRATION is correctness and still happens...
    assert(meta.partitions.map(_.spec).toSet ===
      Set(Map("p" -> "x"), Map("p" -> "y")))
    // ...but stats are absent-not-stale: no getContentSummary pass ran
    assert(meta.stats.isEmpty, s"stats should be invalidated, got ${meta.stats}")
    assert(meta.partitions.forall(!_.isSized),
      "partitions must carry the Unsized sentinel, not a fake 0")
    // the table stays fully readable without stats
    assert(spark.table("nostats.db.t").count() === 2)

    // DROP PARTITION through the non-sizing catalog must not resurrect
    // stats from placeholder sizes
    spark.sql("ALTER TABLE nostats.db.t DROP PARTITION (p = 'y')")
    assert(cat.metaStore.loadTable("db", "t").stats.isEmpty)

    // a later SIZING commit (same warehouse through a sizing-enabled
    // catalog) must repair the unsized placeholders — exactly once — not
    // sum them into authoritative near-zero stats
    spark.conf.set("spark.sql.catalog.restats", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.restats.warehouse", wh)
    Seq((3L, "z")).toDF("id", "p").writeTo("restats.db.t").append()
    val resized = spark.sessionState.catalogManager.catalog("restats")
      .asInstanceOf[GraftCatalog].metaStore.loadTable("db", "t")
    assert(resized.partitions.size === 2)
    assert(resized.partitions.forall(_.sizeInBytes > 0L),
      s"stale zero sizes must be re-sized: ${resized.partitions}")
    assert(resized.stats.exists(_.sizeInBytes ===
      resized.partitions.map(_.sizeInBytes).sum))
  }

  test("concurrent appends to different partitions both register (commit is a critical section)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val t = freshTable("t_concurrent")
    spark.sql(s"CREATE TABLE $t (id BIGINT, p STRING) USING parquet PARTITIONED BY (p)")
    // 8 writers, each to its own partition, racing the read-modify-write
    // commit. Without the per-table critical section, last-writer-wins
    // on the descriptor drops other writers' partition registrations.
    val writes = (0 until 8).map { i => Future {
      Seq((i.toLong, s"p$i")).toDF("id", "p").writeTo(t).append()
    } }
    Await.result(Future.sequence(writes), 120.seconds)
    val cat = spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("wtest", "t_concurrent")
    assert(meta.partitions.map(_.spec).toSet ===
      (0 until 8).map(i => Map("p" -> s"p$i")).toSet,
      s"lost partition registrations: ${meta.partitions.map(_.spec)}")
    assert(spark.table(t).count() === 8)
    assert(meta.stats.exists(_.sizeInBytes ===
      meta.partitions.map(_.sizeInBytes).sum))
  }

  test("truncate-overwrite racing an append yields one of the two serial orders, never corruption") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val t = freshTable("t_race")
    Seq((0L, "init")).toDF("id", "tag").writeTo(t).create()
    // the append stages files under _temporary while the overwrite's
    // pre-delete wants to clear the table dir: without deletes deferred
    // under the write permit, the overwrite deletes the append's staging
    // mid-flight (FileNotFound at commit / silently lost rows)
    val appendRows = (1L to 500L).map(i => (i, "a"))
    val fa = Future { appendRows.toDF("id", "tag").writeTo(t).append() }
    val fb = Future { Seq((1000L, "b")).toDF("id", "tag").writeTo(t).overwrite(lit(true)) }
    Await.result(Future.sequence(Seq(fa, fb)), 120.seconds)
    val tags = spark.table(t).select($"tag").distinct()
      .collect().map(_.getString(0)).toSet
    val n = spark.table(t).count()
    // append→overwrite: only 'b' remains; overwrite→append: 'b' + all 'a'
    assert(tags === Set("b") || (tags === Set("a", "b") && n === 501L),
      s"non-serializable outcome: tags=$tags n=$n")
  }

  test("writeLockTimeoutSec: a waiter fails after the configured wait, naming the holder") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-lockto-wh").toString
    spark.conf.set("spark.sql.catalog.quicklock", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.quicklock.warehouse", wh)
    spark.conf.set("spark.sql.catalog.quicklock.writeLockTimeoutSec", "1")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS quicklock.db")
    spark.sql("DROP TABLE IF EXISTS quicklock.db.t_lock")
    Seq((1L, "x")).toDF("id", "p").writeTo("quicklock.db.t_lock").create()
    val cat = spark.sessionState.catalogManager.catalog("quicklock")
      .asInstanceOf[GraftCatalog]
    val loc = cat.metaStore.loadTable("db", "t_lock").location
    // simulate a long-running concurrent write holding the permit
    val release = graft.catalog.write.GraftBatchWrite
      .holdPermitForTest(spark, loc, "simulated multi-hour backfill job")
    try {
      val e = intercept[Exception] {
        Seq((2L, "y")).toDF("id", "p").writeTo("quicklock.db.t_lock").append()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("timed out after 1s"), s"unexpected failure: $msgs")
      assert(msgs.contains("simulated multi-hour backfill job"),
        s"error must name the holder: $msgs")
      assert(msgs.contains("writeLockTimeoutSec"),
        s"error must point at the tuning knob: $msgs")
    } finally release()
    // the permit is back: the same append now succeeds
    Seq((3L, "z")).toDF("id", "p").writeTo("quicklock.db.t_lock").append()
    assert(spark.table("quicklock.db.t_lock").count() === 2)
  }

  test("compaction collapses a fragmented table to one file per partition, preserving data") {
    import spark.implicits._
    val t = freshTable("t_compact")
    // fragmented ingest: 5 appends → ≥5 files per partition value
    Seq((0L, "x"), (0L, "y")).toDF("id", "p").writeTo(t).partitionedBy($"p").create()
    (1 to 4).foreach(i => Seq((i.toLong, "x"), (i.toLong, "y")).toDF("id", "p")
      .writeTo(t).append())
    val cat = spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[GraftCatalog]
    val root = new org.apache.hadoop.fs.Path(
      cat.metaStore.loadTable("wtest", "t_compact").location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(): Seq[String] = {
      // LIVE files only: hidden dirs (the retirement area the compaction
      // now feeds for time travel, snapshot manifests) are engine
      // metadata, not table data
      val it = fs.listFiles(root, true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next().getPath.toString
        if (f.endsWith(".parquet") &&
            !f.contains("/_") && !f.contains("/."))
          b += f
      }
      b.result()
    }
    val before = dataFiles()
    assert(before.size >= 10, s"fixture should be fragmented, got ${before.size} files")
    val rowsBefore = spark.table(t).collect().map(r => (r.getLong(0), r.getString(1))).toSet

    graft.operators.Compaction.compact(spark, t)

    val after = dataFiles()
    assert(after.size === 2, s"expected one file per partition, got: $after")
    val rowsAfter = spark.table(t).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rowsAfter === rowsBefore)
    // catalog stats were refreshed by the overwrite commit
    val meta = cat.metaStore.loadTable("wtest", "t_compact")
    assert(meta.partitions.map(_.spec).toSet === Set(Map("p" -> "x"), Map("p" -> "y")))
    assert(meta.stats.exists(_.sizeInBytes === meta.partitions.map(_.sizeInBytes).sum))

    // unpartitioned tables compact via a STAGED-REWRITE generation flip
    // (round 19 — dynamic overwrite needs partition dirs to swap, so the
    // flat path writes a fresh generation like zorder/migrate): a
    // fragmented flat table collapses, rows intact, and the flip is
    // rollback-able like any rewrite
    val u = freshTable("t_compact_flat")
    Seq((1L, "x")).toDF("id", "p").writeTo(u).create()
    (2 to 6).foreach(i => Seq((i.toLong, "x")).toDF("id", "p").writeTo(u).append())
    val preLoc = cat.metaStore.loadTable("wtest", "t_compact_flat").location
    graft.operators.Compaction.compact(spark, u)
    val um = cat.metaStore.loadTable("wtest", "t_compact_flat")
    assert(um.location !== preLoc, "flat compaction must flip to a new generation")
    val uroot = new org.apache.hadoop.fs.Path(um.location)
    val ufs = uroot.getFileSystem(spark.sessionState.newHadoopConf())
    val ufiles = ufs.listStatus(uroot).count(s =>
      s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    assert(ufiles === 1, s"6 tiny appends must collapse, got $ufiles files")
    assert(spark.table(u).collect().map(_.getLong(0)).sorted.toSeq
      === (1L to 6L).toSeq)
  }

  test("graft.cluster.by: every write lands per-file sorted by the cluster key; bad declarations refuse") {
    import spark.implicits._
    val t = freshTable("t_clustered")
    // interleaved ingest: each append spans the whole key range, so
    // without the declared ordering the compacted file would interleave
    val rows = (0L until 400L).map(i => (i, s"p${i % 2}"))
    rows.filter(_._1 % 4 == 0).toDF("k", "p")
      .writeTo(t)
      .tableProperty(GraftCatalog.ClusterByProp, "k")
      .partitionedBy($"p").create()
    (1 to 3).foreach(m => rows.filter(_._1 % 4 == m).toDF("k", "p")
      .writeTo(t).append())
    graft.operators.Compaction.compact(spark, t)
    val cat = spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[GraftCatalog]
    val root = new org.apache.hadoop.fs.Path(
      cat.metaStore.loadTable("wtest", "t_clustered").location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(root, true)
    var checked = 0
    while (it.hasNext) {
      val f = it.next().getPath.toString
      if (f.endsWith(".parquet")) {
        // per-FILE sortedness is the layout contract: sorted rows reach
        // the parquet writer, so row-group min/max become disjoint
        // ranges and a range predicate skips non-matching groups
        val ks = spark.read.parquet(f).select("k").collect().map(_.getLong(0)).toSeq
        assert(ks === ks.sorted, s"file $f not sorted by cluster key")
        assert(ks.nonEmpty)
        checked += 1
      }
    }
    assert(checked >= 2, s"expected at least one data file per partition, checked $checked")
    // every row survived the clustered rewrite
    assert(spark.table(t).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === rows.toSet)

    // unknown column refused at create
    val bad1 = freshTable("t_clustered_badcol")
    val e1 = intercept[IllegalArgumentException] {
      Seq((1L, "x")).toDF("k", "p").writeTo(bad1)
        .tableProperty(GraftCatalog.ClusterByProp, "nope")
        .partitionedBy($"p").create()
    }
    assert(e1.getMessage.contains("unknown column"))
    // partition column refused (ordering by it is vacuous)
    val bad2 = freshTable("t_clustered_badpart")
    val e2 = intercept[IllegalArgumentException] {
      Seq((1L, "x")).toDF("k", "p").writeTo(bad2)
        .tableProperty(GraftCatalog.ClusterByProp, "p")
        .partitionedBy($"p").create()
    }
    assert(e2.getMessage.contains("partition column"))
    // ALTER validates eagerly now: SETting a typo'd cluster column is
    // refused AT THE ALTER (a committed bad value would wedge every
    // later write far from its cause), as is dropping the cluster key
    // (Spark's ALTER exec wraps the catalog's IllegalArgumentException,
    // so match on the message anywhere in the cause chain)
    def chainMessages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val bad3 = freshTable("t_clustered_badalter")
    Seq((1L, "x")).toDF("k", "p").writeTo(bad3).partitionedBy($"p").create()
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $bad3 SET TBLPROPERTIES " +
        s"('${GraftCatalog.ClusterByProp}' = 'ghost')")
    }
    assert(chainMessages(e3).contains("unknown column"),
      s"typo'd ALTER SET must refuse, got: ${chainMessages(e3)}")
    val bad4 = freshTable("t_clustered_dropkey")
    Seq((1L, 2L, "x")).toDF("k", "v", "p").writeTo(bad4)
      .tableProperty(GraftCatalog.ClusterByProp, "k")
      .partitionedBy($"p").create()
    val e4 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $bad4 DROP COLUMN k")
    }
    assert(chainMessages(e4).contains("unknown column"),
      s"dropping the cluster key must refuse, got: ${chainMessages(e4)}")
    // mixed-case declarations resolve case-insensitively, like the
    // partition-transform and bucket surfaces
    val ci = freshTable("t_clustered_mixedcase")
    Seq((2L, "x"), (1L, "x")).toDF("k", "p").writeTo(ci)
      .tableProperty(GraftCatalog.ClusterByProp, "K")
      .partitionedBy($"p").create()
    assert(spark.table(ci).count() === 2)
  }

  test("vacuum reclaims orphan bytes, keeps live files, leaves a concurrent reader unaffected") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val t = freshTable("t_vacuum")
    spark.sql(s"CREATE TABLE $t (id BIGINT, dt STRING) USING parquet PARTITIONED BY (dt)")
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "dt").writeTo(t).append()
    val loc = new Path(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Location").head().getString(1))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    def listAll(p: Path): Seq[String] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap(s =>
        if (s.isDirectory) listAll(s.getPath) else Seq(s.getPath.toString))
    def junk(p: Path, n: Int): Unit = {
      val out = fs.create(p, true)
      try out.write(Array.fill[Byte](n)(0x5A)) finally out.close()
    }
    val liveBefore = listAll(loc).toSet
    // crash residue: unregistered partition dir, committer staging, and
    // an orphaned .committed marker with no .pending manifest
    junk(new Path(loc, "dt=zombie/part-00000-orphan.parquet"), 300)
    junk(new Path(loc, "_temporary/0/part-00001.parquet"), 200)
    junk(new Path(loc, "_graft_txn/dead-txn-id.committed"), 10)

    val reader = spark.table(t).orderBy($"id") // planned before the vacuum
    // repair's inputs must survive VACUUM: planted AFTER the reader's
    // planning, because table loads now run READ-SIDE repair (round 19)
    // which would legitimately consume a residue manifest — this test
    // states vacuum's contract, not repair's
    junk(new Path(loc, "_graft_txn/live-txn-id.pending"), 10)
    junk(new Path(loc, "_graft_txn/live-txn-id.quarantine/0_part.parquet"), 10)
    // a merge-on-read txn PAIR is repair's input too (round 19): the
    // marker proves the statement committed — reclaiming it while its
    // manifest stays would make the next repair roll a COMMITTED
    // statement back over live data
    junk(new Path(loc, "_graft_txn/live-mor-id.delta"), 10)
    junk(new Path(loc, "_graft_txn/live-mor-id.delta.committed"), 0)
    val stats = graft.operators.Vacuum.vacuum(spark, t, retentionMs = 0L)
    assert(stats.reclaimedFiles === 3L, s"got $stats")
    assert(stats.reclaimedBytes === 510L, s"got $stats")
    assert(!fs.exists(new Path(loc, "dt=zombie")), "orphan partition dir must go")
    assert(!fs.exists(new Path(loc, "_temporary")), "staging must go")
    assert(!fs.exists(new Path(loc, "_graft_txn/dead-txn-id.committed")))
    assert(fs.exists(new Path(loc, "_graft_txn/live-txn-id.pending")),
      "pending manifests are repair's input, not garbage")
    assert(fs.exists(new Path(loc, "_graft_txn/live-txn-id.quarantine/0_part.parquet")),
      "quarantined files are restore evidence, not garbage")
    assert(fs.exists(new Path(loc, "_graft_txn/live-mor-id.delta")) &&
      fs.exists(new Path(loc, "_graft_txn/live-mor-id.delta.committed")),
      "a MOR manifest+marker pair is repair's input — reclaiming the " +
        "marker would roll a committed statement back")
    val liveAfter = listAll(loc).filterNot(p =>
      p.contains("_graft_txn") || p.contains("_temporary")).toSet
    assert(liveAfter === liveBefore.filterNot(p =>
      p.contains("_graft_txn") || p.contains("_temporary")),
      "registered data files must be byte-for-byte untouched")
    assert(reader.collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L),
      "concurrent reader sees the identical row set")
    // retention guards young files: a fresh orphan survives a 1h window
    junk(new Path(loc, "dt=young/part-00000-orphan.parquet"), 100)
    val kept = graft.operators.Vacuum.vacuum(spark, t, retentionMs = 3600L * 1000)
    assert(kept.reclaimedFiles === 0L, s"young orphan must survive, got $kept")
    assert(fs.exists(new Path(loc, "dt=young/part-00000-orphan.parquet")))
    // EXTERNAL tables refuse
    val ext = freshTable("t_vacuum_ext")
    val extDir = java.nio.file.Files.createTempDirectory("graft_vac_ext").toString
    spark.sql(s"CREATE TABLE $ext (id BIGINT) USING parquet LOCATION '$extDir'")
    val err = intercept[IllegalArgumentException] {
      graft.operators.Vacuum.vacuum(spark, ext, 0L)
    }
    assert(err.getMessage.contains("EXTERNAL"))
    spark.sql(s"DROP TABLE IF EXISTS $ext")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a writer killed between FS commit and catalog commit: readers see the old table; vacuum + retry converges") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    import graft.catalog.write.GraftBatchWrite
    val t = freshTable("t_2pc_crash")
    spark.sql(s"CREATE TABLE $t (id BIGINT, dt STRING) USING parquet PARTITIONED BY (dt)")
    Seq((1L, "a"), (2L, "b")).toDF("id", "dt").writeTo(t).append()
    val loc = new Path(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Location").head().getString(1))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())

    GraftBatchWrite.crashAfterFsCommit =
      Some(() => throw new RuntimeException("injected kill between commit phases"))
    try {
      val err = intercept[Exception] {
        Seq((3L, "c")).toDF("id", "dt").writeTo(t).append()
      }
      assert(stackMessages(err).exists(_.contains("injected kill")), err.toString)
    } finally GraftBatchWrite.crashAfterFsCommit = None

    // the FS phase DID run: the new partition's files are on disk...
    val zombieDir = new Path(loc, "dt=c")
    assert(fs.exists(zombieDir) &&
      fs.listStatus(zombieDir).exists(_.getPath.getName.startsWith("part-")),
      "injection must land after the FS commit published files")
    // ...but the catalog phase did NOT: readers see the old table only
    assert(spark.table(t).orderBy($"id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L), "reader must see the pre-crash table")
    assert(!spark.sql(s"SHOW PARTITIONS $t").collect()
      .exists(_.getString(0).contains("dt=c")))

    // recovery: vacuum reclaims the unregistered dir (the permit was
    // released by the failed commit — both ops acquire it again here),
    // then the retried statement lands exactly once
    val stats = graft.operators.Vacuum.vacuum(spark, t, retentionMs = 0L)
    assert(stats.reclaimedFiles >= 1, s"vacuum must reclaim the orphan: $stats")
    assert(!fs.exists(zombieDir))
    Seq((3L, "c")).toDF("id", "dt").writeTo(t).append()
    assert(spark.table(t).orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "retry after vacuum must converge with no duplicates")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  /** All messages down a throwable's cause chain (Spark wraps commit
    * failures in several layers). */
  private def stackMessages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq

  test("null-count skipping: IS NULL skips null-free files, IS NOT NULL skips all-null files") {
    import spark.implicits._
    val t = freshTable("t_null_skip")
    // three appends → three files with distinct null profiles on v
    Seq((1L, Some(10L)), (2L, Some(20L))).toDF("k", "v")
      .coalesce(1).writeTo(t)
      .tableProperty(SkipStats.Prop, "v").create()
    Seq((3L, None: Option[Long]), (4L, None: Option[Long])).toDF("k", "v")
      .coalesce(1).writeTo(t).append()
    Seq((5L, Some(50L)), (6L, None: Option[Long])).toDF("k", "v")
      .coalesce(1).writeTo(t).append()
    def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(qs.plan)
      case other => other.children.flatMap(allScans)
    }
    def run(q: org.apache.spark.sql.DataFrame): (Seq[Long], Int) = {
      val keys = q.select($"k").as[Long].collect().sorted.toSeq
      val files = allScans(q.queryExecution.executedPlan).head.inputRDD.partitions
        .toSeq.flatMap {
          case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
            dp.inputPartitions
        }.collect {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
        }.flatMap(_.files).map(_.filePath.toString).distinct
      (keys, files.size)
    }
    // IS NULL: the null-free first file is never scheduled
    val (nullKeys, nullFiles) = run(spark.table(t).filter($"v".isNull))
    assert(nullKeys === Seq(3L, 4L, 6L))
    assert(nullFiles === 2, s"IS NULL must skip the null-free file, got $nullFiles")
    // IS NOT NULL: the all-null second file is never scheduled
    val (nnKeys, nnFiles) = run(spark.table(t).filter($"v".isNotNull))
    assert(nnKeys === Seq(1L, 2L, 5L))
    assert(nnFiles === 2, s"IS NOT NULL must skip the all-null file, got $nnFiles")
    // and the pushed isnotnull CONJUNCT of an equality gets it for free
    val (eqKeys, eqFiles) = run(spark.table(t).filter($"v" === 50L))
    assert(eqKeys === Seq(5L))
    assert(eqFiles === 1,
      s"range + null proofs must leave only the covering file, got $eqFiles")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("migrate keeps skipping live: staging shards manifested pre-flip, blooms re-emitted into parquet") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val t = freshTable("t_migrate_skip")
    // orc source with BOTH declarations: ranges manifest from orc tails;
    // blooms can't exist in orc files (parquet-only), so the pre-migrate
    // shard carries ranges and the POST-migrate parquet generation must
    // gain real blooms re-emitted by the rewrite
    Tables(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
      .repartitionByRange(4, $"l_orderkey")
      .writeTo(t)
      .using("orc")
      .tableProperty(SkipStats.Prop, "l_orderkey")
      .tableProperty(SkipStats.BloomProp, "l_orderkey")
      .create()
    val expected = Tables(spark, sf0001, "lineitem")
      .filter($"l_orderkey" >= 1000L && $"l_orderkey" <= 1500L)
      .agg(count(lit(1)), sum($"l_quantity")).collect().head

    graft.operators.Migrate.toProvider(spark, t, "parquet")

    def loc() = new Path(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Location").head().getString(1))
    val newLoc = loc()
    val fs = newLoc.getFileSystem(spark.sessionState.newHadoopConf())
    // the shard landed in the staging generation BEFORE the flip: the
    // first post-flip query skips with NO post-migrate commit
    val manifest = new Path(newLoc, SkipStats.ManifestName)
    assert(fs.exists(manifest),
      "migrate must manifest the staging generation before the flip")
    val txt = {
      val in = fs.open(manifest)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    assert(txt.contains("\"ranges\":{\"l_orderkey\""),
      s"migrated shard must carry ranges: $txt")
    // blooms live in their own shard, read only by equality probes
    val bloomManifest = new Path(newLoc, SkipStats.BloomManifestName)
    assert(fs.exists(bloomManifest),
      "the parquet rewrite must re-emit blooms into the bloom shard")
    val bTxt = {
      val in = fs.open(bloomManifest)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    assert(bTxt.contains("\"l_orderkey\":\"") &&
      !bTxt.contains("\"l_orderkey\":\"\""),
      "the bloom shard must carry REAL blooms, not absent-markers")
    val totalFiles = fs.listStatus(newLoc)
      .count(s => s.getPath.getName.endsWith(".parquet"))
    assert(totalFiles === 4, s"range layout must survive, got $totalFiles")
    def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(qs.plan)
      case other => other.children.flatMap(allScans)
    }
    val q = spark.table(t).filter($"l_orderkey" >= 1000L && $"l_orderkey" <= 1500L)
    assert(q.agg(count(lit(1)), sum($"l_quantity")).collect().head === expected)
    val q2 = spark.table(t).filter($"l_orderkey" >= 1000L && $"l_orderkey" <= 1500L)
    q2.collect()
    val read = allScans(q2.queryExecution.executedPlan).head.inputRDD.partitions
      .toSeq.flatMap {
        case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          dp.inputPartitions
      }.collect {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
      }.flatMap(_.files).map(_.filePath.toString).distinct
    assert(read.nonEmpty && read.size < totalFiles,
      s"post-flip range query must skip, got ${read.size} of $totalFiles")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("generation rollback: descriptor flips back to the retired generation; redo works; reclaimed refuses") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val t = freshTable("t_rollback")
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v").writeTo(t).create()
    def provider() = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Provider").head().getString(1).toLowerCase
    def loc() = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Location").head().getString(1)
    def data() = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val origLoc = loc()
    val origData = data()
    val short = t.split("\\.").last
    val ns = t.split("\\.")(1)
    def history() = spark.table(s"${GraftBootstrap.CatalogName}.$ns.`$short$$history`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(4))).toSeq

    // no history yet → refuse
    val e0 = intercept[Exception] {
      spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.rollback('$t')").collect()
    }
    assert(e0.getMessage.contains("no retired generation"))

    graft.operators.Migrate.toProvider(spark, t, "orc")
    assert(provider() === "orc")
    assert(history() === Seq((1L, "parquet", true)),
      "the retired parquet generation must be listed live")

    // rollback: pure descriptor flip back to the ORIGINAL location
    val res = spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.rollback('$t')")
      .collect().head
    assert(res.getString(0) === "parquet" && res.getString(1) === origLoc)
    assert(provider() === "parquet" && loc() === origLoc)
    assert(data() === origData)
    // the orc generation took its place in history → rollback is REDO
    assert(history().map(h => (h._1, h._2)) === Seq((1L, "orc")))
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.rollback('$t')").collect()
    assert(provider() === "orc")
    assert(data() === origData)

    // reclaim the retired parquet generation → rollback refuses loudly
    graft.operators.Vacuum.vacuumNamespace(spark,
      s"${GraftBootstrap.CatalogName}.$ns", retentionMs = 0L)
    val fs = new Path(origLoc).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(origLoc)),
      "the zero-retention sweep must reclaim the retired parquet generation")
    assert(history() === Seq((1L, "parquet", false)),
      "the reclaimed generation must list as not live")
    val e1 = intercept[Exception] {
      spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.rollback('$t')").collect()
    }
    assert(e1.getMessage.contains("reclaimed"))
    assert(data() === origData, "the live orc generation must be unaffected")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("time travel: VERSION/TIMESTAMP AS OF resolve retired generations; writes and reclaimed gens refuse") {
    import spark.implicits._
    val t = freshTable("t_timetravel")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").writeTo(t).create()
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(5)
    graft.operators.Migrate.toProvider(spark, t, "orc")
    Seq((3L, "c")).toDF("id", "v").writeTo(t).append()
    // the live table moved on; VERSION AS OF 1 still serves the
    // pre-migrate generation's exact rows (its own provider + location)
    assert(spark.table(t).count() === 3L)
    assert(spark.sql(s"SELECT id FROM $t VERSION AS OF 1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // TIMESTAMP AS OF an instant BETWEEN create and migrate picks the
    // retired generation; an instant after the append picks the current
    val ts = new java.sql.Timestamp(betweenMs)
    assert(spark.sql(s"SELECT count(*) FROM $t TIMESTAMP AS OF '$ts'")
      .head().getLong(0) === 2L)
    val now = new java.sql.Timestamp(System.currentTimeMillis() + 1000)
    assert(spark.sql(s"SELECT count(*) FROM $t TIMESTAMP AS OF '$now'")
      .head().getLong(0) === 3L)
    // versioned relations are read-only: SQL cannot even express a
    // versioned write (parse error), and the connector surface refuses
    // outright — capabilities drop to BATCH_READ and newWriteBuilder
    // throws before any plan forms
    val gcat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val short = t.split("\\.").last
    val versioned = gcat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array(t.split("\\.")(1)), short), "1")
    assert(versioned.capabilities() ===
      java.util.EnumSet.of(
        org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ))
    val e1 = intercept[UnsupportedOperationException] {
      versioned.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(null)
    }
    assert(e1.getMessage.contains("read-only"))
    // out-of-range versions name the lineage surface
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 7").collect()
    }
    assert(e2.getMessage.contains("not in history"))
    // a reclaimed snapshot refuses instead of reading deleted files:
    // versions_back 2 is the pre-migrate parquet generation, whose dir
    // the zero-retention namespace sweep reclaims
    val ns = t.split("\\.")(1)
    graft.operators.Vacuum.vacuumNamespace(spark,
      s"${GraftBootstrap.CatalogName}.$ns", retentionMs = 0L)
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 2").collect()
    }
    assert(e3.getMessage.contains("reclaimed") ||
      e3.getMessage.contains("no longer restorable"), s"got: ${e3.getMessage}")
    assert(spark.table(t).count() === 3L, "the live generation is unaffected")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("format migration: atomic flip, old gen retained for readers, namespace sweep reclaims residue") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val t = freshTable("t_migrate")
    spark.sql(s"CREATE TABLE $t (id BIGINT, dt STRING) USING orc PARTITIONED BY (dt)")
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "dt").writeTo(t).append()
    def loc() = new Path(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Location").head().getString(1))
    val oldLoc = loc()
    val fs = oldLoc.getFileSystem(spark.sessionState.newHadoopConf())
    def provider() = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Provider").head().getString(1).toLowerCase

    assert(provider() === "orc")
    graft.operators.Migrate.toProvider(spark, t, "parquet")
    assert(provider() === "parquet", "descriptor must carry the new provider")
    assert(loc() !== oldLoc, "the flip moves the table to the staged generation")
    // reader-safety: the old generation is RETAINED for in-flight scans;
    // the age-gated namespace sweep reclaims it (asserted below)
    assert(fs.exists(oldLoc),
      "the old generation must survive the flip for concurrent readers")
    // partitions survived the flip — metadata AND the pruned read path
    val parts = spark.sql(s"SHOW PARTITIONS $t").collect().map(_.getString(0)).sorted
    assert(parts.toSeq === Seq("dt=a", "dt=b"))
    assert(spark.table(t).filter($"dt" === "a").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L))
    // the files really are parquet now
    val leaf = fs.listStatus(new Path(loc(), "dt=a"))
      .map(_.getPath.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(leaf.nonEmpty && leaf.forall(_.endsWith(".parquet")), leaf.mkString(","))
    // idempotent: migrating to the current provider is a no-op
    val before = loc()
    graft.operators.Migrate.toProvider(spark, t, "parquet")
    assert(loc() === before)
    // refusals: unknown provider; EXTERNAL tables
    val badErr = intercept[IllegalArgumentException] {
      graft.operators.Migrate.toProvider(spark, t, "delta")
    }
    assert(badErr.getMessage.contains("unsupported"))
    val ext = freshTable("t_migrate_ext")
    val extDir = java.nio.file.Files.createTempDirectory("graft_mig_ext").toString
    spark.sql(s"CREATE TABLE $ext (id BIGINT) USING orc LOCATION '$extDir'")
    val extErr = intercept[IllegalArgumentException] {
      graft.operators.Migrate.toProvider(spark, ext, "parquet")
    }
    assert(extErr.getMessage.contains("EXTERNAL"))

    // ---- namespace sweep: reclaims the retired generation + crashed
    // staging, and ONLY those
    val nsDir = oldLoc.getParent
    // plant a crashed migration's staging dir (unreferenced by any table)
    val crashed = new Path(nsDir,
      s"t_other__migrate_${java.util.UUID.randomUUID()}")
    fs.mkdirs(crashed)
    val out = fs.create(new Path(crashed, "part-00000.parquet"), true)
    try out.write(Array.fill[Byte](128)(0x5A)) finally out.close()
    // an unknown dir the sweep must NOT touch
    val bystander = new Path(nsDir, "not_ours")
    fs.mkdirs(bystander)
    val b = fs.create(new Path(bystander, "keep.bin"), true)
    try b.write(Array.fill[Byte](64)(0x11)) finally b.close()
    val committedStaging = loc() // the live table's post-flip location
    val ns = s"${graft.GraftBootstrap.CatalogName}.wtest"
    // retention guards first: a fresh sweep reclaims nothing
    val fresh = graft.operators.Vacuum.vacuumNamespace(spark, ns)
    assert(fs.exists(oldLoc) && fs.exists(crashed),
      s"retention must protect fresh residue, reclaimed $fresh")
    val swept = graft.operators.Vacuum.vacuumNamespace(spark, ns, retentionMs = 0L)
    assert(swept.reclaimedFiles >= 1, s"sweep must reclaim residue, got $swept")
    assert(!fs.exists(oldLoc), "retired generation reclaimed")
    assert(!fs.exists(crashed), "crashed staging reclaimed")
    assert(fs.exists(committedStaging), "the live (committed) generation survives")
    assert(fs.exists(bystander), "unknown dirs are not the sweep's to delete")
    assert(spark.table(t).count() === 3, "table reads unchanged after the sweep")
    fs.delete(bystander, true)

    // ---- DROP after a migration reclaims the retired generation too:
    // once the table is gone its old-name dir matches no live table and
    // would otherwise leak past the sweep's attribution forever
    val t3 = s"$ns.t_migrate3"
    spark.sql(s"DROP TABLE IF EXISTS $t3")
    spark.sql(s"CREATE TABLE $t3 (id BIGINT) USING orc")
    Seq((7L)).toDF("id").writeTo(t3).append()
    val t3Default = new Path(nsDir, "t_migrate3")
    graft.operators.Migrate.toProvider(spark, t3, "parquet")
    assert(fs.exists(t3Default), "retired generation present pre-drop")
    spark.sql(s"DROP TABLE $t3")
    assert(!fs.exists(t3Default),
      "drop must reclaim the retired generation (nothing can attribute it later)")

    // ---- create-time residue: a managed create whose default dir
    // holds files no table references (a dead generation inside the
    // retention window, or data kept from a dropped EXTERNAL table)
    // must REFUSE — neither aliasing the files as the new table's rows
    // nor destroying possibly-deliberate data on a plain CREATE
    val t2 = s"$ns.t_migrate2"
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    val residueDir = new Path(nsDir, "t_migrate2")
    Seq((99L, "zzz")).toDF("id", "dt").write.mode("overwrite")
      .parquet(residueDir.toString)
    val resErr = intercept[IllegalStateException](
      spark.sql(s"CREATE TABLE $t2 (id BIGINT, dt STRING) USING parquet"))
    assert(resErr.getMessage.contains("no table references"), resErr.getMessage)
    assert(fs.exists(residueDir), "the refusal must leave the residue intact")
    // the named remedy: remove the directory, then the create succeeds
    fs.delete(residueDir, true)
    spark.sql(s"CREATE TABLE $t2 (id BIGINT, dt STRING) USING parquet")
    assert(spark.table(t2).count() === 0,
      "a fresh managed table must not see a dead generation's files")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.sql(s"DROP TABLE IF EXISTS $ext")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("compaction racing an append never loses the append's rows") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val t = freshTable("t_compact_race")
    (0 until 4).foreach { i =>
      val df = Seq((i.toLong, "x"), (i.toLong, "y")).toDF("id", "p")
      if (i == 0) df.writeTo(t).partitionedBy($"p").create() else df.writeTo(t).append()
    }
    // Race compaction against a concurrent append. The compaction lease
    // spans plan (file listing) through commit, so the append either
    // lands first (and is rewritten) or queues behind the permit — its
    // rows must survive either serialization.
    val fc = Future(graft.operators.Compaction.compact(spark, t))
    val fa = Future(Seq((100L, "x")).toDF("id", "p").writeTo(t).append())
    Await.result(Future.sequence(Seq(fc, fa)), 120.seconds)
    val ids = spark.table(t).filter($"p" === "x").collect().map(_.getLong(0)).toSet
    assert(ids === Set(0L, 1L, 2L, 3L, 100L),
      s"append rows lost across compaction: $ids")
  }

  test("DELETE FROM: partition predicate deletes dirs + deregisters; row predicates rewrite; EXTERNAL refuses") {
    import spark.implicits._
    val t = freshTable("t_delete")
    Seq((1L, "x"), (2L, "y"), (3L, "y")).toDF("id", "p")
      .writeTo(t).partitionedBy($"p").create()
    spark.sql(s"DELETE FROM $t WHERE p = 'y'")
    assert(spark.table(t).collect().map(_.getLong(0)).toSeq === Seq(1L))
    val cat = spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[GraftCatalog]
    val meta = cat.metaStore.loadTable("wtest", "t_delete")
    assert(meta.partitions.map(_.spec) === Seq(Map("p" -> "x")))
    assert(meta.stats.exists(_.sizeInBytes === meta.partitions.map(_.sizeInBytes).sum))

    // a row-level predicate is not expressible as a partition spec —
    // canDeleteWhere=false routes it to the copy-on-write path
    // (SupportsRowLevelOperations, RowLevelSpec) instead of failing
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    assert(spark.table(t).count() === 0)
    Seq((1L, "x")).toDF("id", "p").writeTo(t).append()

    // whole-table DELETE == truncate
    spark.sql(s"DELETE FROM $t")
    assert(spark.table(t).count() === 0)
    assert(cat.metaStore.loadTable("wtest", "t_delete").partitions.isEmpty)

    // any DELETE on an external fixture table is refused at analysis
    // (newRowLevelOperationBuilder) — before any engine code runs
    val fixture = s"${GraftBootstrap.CatalogName}.tpch.nation"
    intercept[Exception](spark.sql(s"DELETE FROM $fixture WHERE n_nationkey = 0"))
    assert(spark.table(fixture).count() === 25)

    // EXTERNAL data is not ours to delete, even when the predicate
    // unwraps (whole-table DELETE passes canDeleteWhere) — the guard
    // must throw before touching any file
    val extDir = java.nio.file.Files.createTempDirectory("graft-ext-del")
    Seq(7L).toDF("id").write.parquet(s"$extDir/data")
    spark.sql(s"CREATE TABLE $ns.t_ext (id BIGINT) USING parquet LOCATION '$extDir/data'")
    val e = intercept[Exception](spark.sql(s"DELETE FROM $ns.t_ext"))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("EXTERNAL"), s"unexpected failure: $msgs")
    assert(spark.table(s"$ns.t_ext").count() === 1, "external data was touched")
    spark.sql(s"DROP TABLE $ns.t_ext")
  }

  test("SHOW PARTITIONS and ALTER TABLE DROP PARTITION round-trip") {
    import spark.implicits._
    val t = freshTable("t_ddl")
    Seq((1L, "x"), (2L, "y")).toDF("id", "p").writeTo(t).partitionedBy($"p").create()
    assert(spark.sql(s"SHOW PARTITIONS $t").collect().map(_.getString(0)).sorted
      === Array("p=x", "p=y"))
    spark.sql(s"ALTER TABLE $t DROP PARTITION (p = 'x')")
    assert(spark.sql(s"SHOW PARTITIONS $t").collect().map(_.getString(0)) === Array("p=y"))
    assert(spark.table(t).collect().map(_.getLong(0)) === Array(2L))
  }

  test("skipping never drops rows: NaN doubles are unmanifested; MILLIS-written timestamps normalize to micros") {
    import spark.implicits._
    val t = freshTable("t_skip_safety")
    val prevTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try {
      val base = java.sql.Timestamp.valueOf("2024-06-01 12:00:00")
      val later = java.sql.Timestamp.valueOf("2024-06-02 12:00:00")
      Seq((1.0, base), (Double.NaN, later))
        .toDF("d", "ts")
        .coalesce(1)
        .writeTo(t)
        .tableProperty(SkipStats.Prop, "d,ts")
        .create()
      // Spark orders NaN ABOVE every double, so `d > 5.0` matches the
      // NaN row — a footer-derived max of 1.0 (parquet stats omit NaN)
      // must therefore never manifest: doubles are skipping-unsupported
      assert(spark.table(t).filter($"d" > 5.0).count() === 1L,
        "NaN row lost — a floating-point range was used to skip the file")
      // a MILLIS-annotated file's INT64 bounds are milliseconds; the
      // manifest stores catalyst MICROS, so a raw copy would make every
      // timestamp predicate provably-exclude the file (micros >> millis)
      assert(spark.table(t)
        .filter($"ts" >= java.sql.Timestamp.valueOf("2024-06-02 00:00:00"))
        .count() === 1L, "row lost to a mis-scaled timestamp bound")
      val cat = spark.sessionState.catalogManager
        .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
      val root = new org.apache.hadoop.fs.Path(
        cat.metaStore.loadTable("wtest", "t_skip_safety").location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val manifestTxt = {
        val in = fs.open(new org.apache.hadoop.fs.Path(root, SkipStats.ManifestName))
        try scala.io.Source.fromInputStream(in).mkString finally in.close()
      }
      assert(!manifestTxt.contains("\"d\":["),
        "floating-point column must carry no range entry")
      // the ts range IS manifested — normalized to micros (×1000)
      val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(base)
      assert(manifestTxt.contains(s""""$micros""""),
        s"expected micros-normalized bound $micros in: $manifestTxt")
    } finally
      spark.conf.set("spark.sql.parquet.outputTimestampType", prevTs)
  }

  test("namespace vacuum protects in-window retired generations by retirement time, not file mtime") {
    import spark.implicits._
    val t = freshTable("t_cold_gen")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").writeTo(t).create()
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val fs = new org.apache.hadoop.fs.Path(sf0001)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // age every file of the CURRENT generation far past any retention —
    // the cold-table case: long-ingested data, then a migrate today
    val origLoc = new org.apache.hadoop.fs.Path(
      cat.metaStore.loadTable("wtest", "t_cold_gen").location)
    val old = System.currentTimeMillis() - 30L * 24 * 3600 * 1000
    def ageTree(p: org.apache.hadoop.fs.Path): Unit = {
      fs.listStatus(p).foreach { s =>
        if (s.isDirectory) ageTree(s.getPath)
        fs.setTimes(s.getPath, old, -1)
      }
      fs.setTimes(p, old, -1)
    }
    graft.operators.Migrate.toProvider(spark, t, "orc")
    ageTree(origLoc)
    // the generation retired SECONDS ago: an mtime-only retention test
    // would reclaim it immediately and the rollback window would be
    // zero for cold tables — retirement time must protect it
    graft.operators.Vacuum.vacuumNamespace(spark, s"${GraftBootstrap.CatalogName}.wtest",
      retentionMs = 3600L * 1000)
    assert(fs.exists(origLoc), "in-window retired generation was reclaimed")
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0) === 2L)
    // outside the window it reclaims as documented
    graft.operators.Vacuum.vacuumNamespace(spark, s"${GraftBootstrap.CatalogName}.wtest",
      retentionMs = 0L)
    assert(!fs.exists(origLoc), "out-of-window retired generation must reclaim")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("snapshot lineage: bounded eviction, vacuum retention of snapshot files, refusals") {
    import spark.implicits._
    val t = freshTable("t_snap_bounds")
    Seq((1L, "a")).toDF("id", "v").writeTo(t)
      .tableProperty(Snapshots.KeepProp, "3").create()
    Seq((2L, "b")).toDF("id", "v").writeTo(t).append()
    Seq((3L, "c")).toDF("id", "v").writeTo(t).append()
    Seq((4L, "d")).toDF("id", "v").writeTo(t).append()
    // 4 commits, keep=3: versions_back 1 and 2 retained, 3 evicted
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0) === 3L)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").head().getLong(0) === 2L)
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 3").collect()
    }
    assert(e1.getMessage.contains("not in history"), s"got: ${e1.getMessage}")
    // eviction GC'd the evicted snapshot's manifest but kept the
    // retained ones — and an overwrite's displaced files retire instead
    // of deleting, so the pre-overwrite snapshot keeps answering
    spark.sql(s"INSERT OVERWRITE $t SELECT 9L AS id, 'z' AS v")
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0) === 4L)
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val root = new org.apache.hadoop.fs.Path(
      cat.metaStore.loadTable("wtest", "t_snap_bounds").location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, Snapshots.RetiredDirName)),
      "overwrite must retire its displaced files")
    // zero-retention VACUUM expires every non-current snapshot, GCs the
    // retirement area + orphan manifests, and travel then refuses loudly
    graft.operators.Vacuum.vacuum(spark, t, retentionMs = 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, Snapshots.RetiredDirName)),
      "expired retirement area must be reclaimed")
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 1").collect()
    }
    assert(e2.getMessage.contains("not in history"), s"got: ${e2.getMessage}")
    assert(spark.table(t).count() === 1L, "the live table is unaffected")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("sys.rollback undoes in-place commits (append, UPDATE) and is redo-able") {
    import spark.implicits._
    val t = freshTable("t_snap_roll")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").writeTo(t).create()
    Seq((3L, "c")).toDF("id", "v").writeTo(t).append()
    val cat0 = GraftBootstrap.CatalogName
    // undo the append: a handful of renames, no data rewrite
    spark.sql(s"CALL $cat0.sys.rollback('$t')").collect()
    assert(spark.table(t).orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L))
    assert(spark.table(s"$ns.`t_snap_roll$$snapshots`")
      .orderBy("versions_back").head().getString(3) === "rollback")
    // redo: the state rolled away from is versions_back 1 again
    spark.sql(s"CALL $cat0.sys.rollback('$t')").collect()
    assert(spark.table(t).orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L))
    // COW DML commits snapshot too: travel to the pre-UPDATE rows
    spark.sql(s"UPDATE $t SET v = 'X' WHERE id = 2")
    assert(spark.table(t).filter($"v" === "X").count() === 1L)
    assert(spark.sql(s"SELECT v FROM $t VERSION AS OF 1 WHERE id = 2")
      .head().getString(0) === "b")
    spark.sql(s"CALL $cat0.sys.rollback('$t')")
    assert(spark.table(t).filter($"v" === "X").count() === 0L,
      "rollback must undo the row-level rewrite")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("many-file commit: concurrent manifest maintenance records every file; t\\$files serves counts from the shard") {
    import spark.implicits._
    val t = freshTable("t_many_files")
    // one commit, 48 files (pinned by repartition) — the footer reads
    // run concurrently; every file must still get its entry
    (0L until 4800L).map(i => (i, i % 7))
      .toDF("k", "v")
      .repartition(48)
      .writeTo(t)
      .tableProperty(SkipStats.Prop, "k")
      .create()
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val root = new org.apache.hadoop.fs.Path(
      cat.metaStore.loadTable("wtest", "t_many_files").location)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    val dataFiles = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
    assert(dataFiles.size === 48)
    val recorded = SkipStats.recordedRowCounts(conf, root)
    assert(recorded.keySet === dataFiles.toSet,
      "every committed file needs its shard entry")
    assert(recorded.values.sum === 4800L, "tallies must be exact")
    // t$files record_count agrees with the data…
    val viaMeta = spark.table(s"$ns.`t_many_files$$files`")
      .agg(org.apache.spark.sql.functions.sum($"record_count")).head().getLong(0)
    assert(viaMeta === 4800L)
    // …and comes FROM the shard, not the footers: a sentinel planted in
    // the shard surfaces verbatim (proof there is no footer I/O for
    // manifested files)
    val manifest = new org.apache.hadoop.fs.Path(root, SkipStats.ManifestName)
    val txt = {
      val in = fs.open(manifest)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    val victim = dataFiles.head
    val perFile = 4800L / 48
    val out = fs.create(manifest, true)
    try out.write(txt.replaceFirst(
      java.util.regex.Pattern.quote(s"""$victim":{"ranges""") + "(.*?)/" + perFile,
      java.util.regex.Matcher.quoteReplacement(s"""$victim":{"ranges""") +
        "$1/" + (perFile + 1000)).getBytes("UTF-8"))
    finally out.close()
    val viaMeta2 = spark.table(s"$ns.`t_many_files$$files`")
      .agg(org.apache.spark.sql.functions.sum($"record_count")).head().getLong(0)
    assert(viaMeta2 === 4800L + 1000L,
      "record_count must be served from the shard for manifested files")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("sys.rollback(t, versions_back): deep restore reaches states repeated rollbacks cannot") {
    import spark.implicits._
    val t = freshTable("t_deep_roll")
    Seq((1L, "a")).toDF("id", "v").writeTo(t).create()
    Seq((2L, "b")).toDF("id", "v").writeTo(t).append()
    Seq((3L, "c")).toDF("id", "v").writeTo(t).append()
    val cat0 = GraftBootstrap.CatalogName
    // two commits back in ONE call — repeated single-step rollbacks
    // could never reach this (each rollback is itself a commit, so the
    // second call is a redo)
    spark.sql(s"CALL $cat0.sys.rollback('$t', 2)").collect()
    assert(spark.table(t).collect().map(_.getLong(0)).toSeq === Seq(1L))
    // redo-able: the state rolled away from is one back again
    spark.sql(s"CALL $cat0.sys.rollback('$t')").collect()
    assert(spark.table(t).orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L))
    // beyond the retained lineage refuses with the surface named
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat0.sys.rollback('$t', 9)").collect()
    }
    assert(e.getMessage.contains("not retained"), s"got: ${e.getMessage}")
    // crossing a rewrite flip COMPOSES (round 19): the descriptor
    // re-points at the matching retired generation and the file-level
    // restore runs within its frozen root — one call lands the
    // pre-migrate parquet state exactly
    Seq((4L, "d")).toDF("id", "v").writeTo(t).append()
    graft.operators.Migrate.toProvider(spark, t, "orc")
    Seq((5L, "e")).toDF("id", "v").writeTo(t).append()
    val restored = spark.sql(s"CALL $cat0.sys.rollback('$t', 2)").collect()
    assert(restored.head.getString(0) === "parquet",
      "the cross-flip restore must land on the pre-migrate provider")
    assert(spark.table(t).orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L, 4L),
      "rollback(2) across the migrate must restore the pre-flip rows")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("changelog read: append-only ranges reduce to the incremental read; rewrite flips refuse") {
    import spark.implicits._
    val t = freshTable("t_cdc_reduce")
    Seq((1L, 1.0)).toDF("k", "v").writeTo(t).create()
    Seq((2L, 2.0), (3L, 3.0)).toDF("k", "v").writeTo(t).append()
    Seq((4L, 4.0)).toDF("k", "v").writeTo(t).append()
    // append-only range: the changelog is ALL inserts and row-for-row
    // identical to the manifest set-difference read (the q118 contract)
    val changes = graft.operators.ChangeFeed.changesBetween(spark, t, 2, 0)
    assert(changes.where("_change_type = 'delete'").count() === 0)
    val cdcRows = changes.select("k").collect().map(_.getLong(0)).sorted.toSeq
    val incRows = graft.operators.IncrementalRead.appendedBetween(spark, t, 2)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(cdcRows === incRows && cdcRows === Seq(2L, 3L, 4L),
      s"append-only changelog must equal the incremental read: $cdcRows vs $incRows")
    // the _change_version column names each commit
    assert(changes.select("_change_version").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    // a rewrite flip in the range refuses (representation, not content)
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.zorder('$t', 'k,v', 1L)")
      .collect()
    val e = intercept[Exception](
      graft.operators.ChangeFeed.changesBetween(spark, t, 2, 0).collect())
    assert(e.getMessage.contains("rewrite flip"), s"got: ${e.getMessage}")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("incremental append read: non-append ranges refuse; a later overwrite's displaced slice still resolves") {
    import spark.implicits._
    val t = freshTable("t_inc_read")
    Seq((1L, "a")).toDF("id", "v").writeTo(t).create()
    Seq((2L, "b"), (3L, "c")).toDF("id", "v").writeTo(t).append()
    // the appended slice, exactly
    assert(graft.operators.IncrementalRead.appendedBetween(spark, t, 1)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    // a LATER overwrite physically displaces the appended files — the
    // incremental slice (whose range is still append-only) resolves
    // them from the retirement area
    spark.sql(s"INSERT OVERWRITE $t SELECT 9L AS id, 'z' AS v")
    assert(graft.operators.IncrementalRead.appendedBetween(spark, t, 2, 1)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L),
      "the displaced append must resolve through retirement")
    // a range CONTAINING the overwrite refuses — "rows added" is not
    // well-defined across it
    val e = intercept[Exception] {
      graft.operators.IncrementalRead.appendedBetween(spark, t, 2, 0)
    }
    assert(e.getMessage.contains("non-append"), s"got: ${e.getMessage}")
    // SQL surface: the temp view serves the same rows
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.incremental_view(" +
      s"'$t', 2, 1, 'inc_probe_view')")
    assert(spark.table("inc_probe_view").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(2L, 3L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("snapshot travel prunes partitions against the recorded specs") {
    import spark.implicits._
    val t = freshTable("t_snap_prune")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "p")
      .writeTo(t).partitionedBy($"p").create()
    Seq((4L, "a")).toDF("id", "p").writeTo(t).append()
    // the travel read with a partition filter schedules only the
    // matching recorded group's files — pruning without any listing
    val q = spark.sql(s"SELECT id FROM $t VERSION AS OF 1 WHERE p = 'a'")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(1L))
    val files = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.flatMap(_.inputRDD.partitions.toSeq).flatMap {
      case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
        dp.inputPartitions
      case _ => Nil
    }.collect {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
    }.flatMap(_.files).map(_.filePath.toString)
    assert(files.nonEmpty && files.forall(_.contains("p=a")),
      s"travel scan must prune to the p=a group, read: $files")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("dynamic overwrite retires: travel and rollback cross it; crash repair restores unswapped dirs") {
    import spark.implicits._
    val t = freshTable("t_dyn_retire")
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").writeTo(t).partitionedBy($"p").create()
    // dynamic overwrite of p=a only — previously its old file was
    // deleted inside the committer's swap and travel across it refused
    Seq((10L, "a")).toDF("id", "p").writeTo(t).overwritePartitions()
    assert(spark.table(t).collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 10L))
    assert(spark.sql(s"SELECT id FROM $t VERSION AS OF 1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L),
      "travel across a dynamic overwrite must serve the replaced rows")
    // rollback of the dynamic overwrite: renames only
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.rollback('$t')").collect()
    assert(spark.table(t).collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // compaction IS a dynamic self-overwrite — travel crosses it too
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.compact('$t')").collect()
    assert(spark.sql(s"SELECT id FROM $t VERSION AS OF 1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L),
      "travel across a compaction must serve the pre-compaction files")
    // crash between the retirement moves and the FS commit: the next
    // write's repair restores the emptied dirs' files exactly
    graft.catalog.write.GraftBatchWrite.crashBeforeFsCommit = Some(() =>
      throw new RuntimeException("injected pre-commit crash"))
    try {
      intercept[Exception] {
        Seq((99L, "a")).toDF("id", "p").writeTo(t).overwritePartitions()
      }
    } finally graft.catalog.write.GraftBatchWrite.crashBeforeFsCommit = None
    // REPAIR-AT-READ (round 19): the crashed job left p=a empty (files
    // retired, swap never ran), but the very next READ probes the txn
    // dir, finds the .retire manifest, and restores the unswapped dir's
    // files — no intervening write needed. The crash window is gone.
    assert(spark.table(t).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L),
      "a reader AFTER the crash must see the pre-overwrite rows " +
        "(read-side repair, no intervening write)")
    // and writes still work normally on the healed table
    Seq((3L, "b")).toDF("id", "p").writeTo(t).append()
    assert(spark.table(t).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("custom-LOCATION partition data retires: travel across its truncate serves the rows (round 19)") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val t = freshTable("t_custom_retire")
    spark.sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p)")
    val custom = java.nio.file.Files
      .createTempDirectory("t_custom_retire_loc").toString
    spark.sql(s"ALTER TABLE $t ADD PARTITION (p = 'x') LOCATION '$custom'")
    Seq((1L, "x"), (2L, "y")).toDF("id", "p").writeTo(t).append()
    assert(spark.table(t).count() === 2)
    // truncate: the custom dir's data retires into ITS OWN
    // _graft_retired_ext area instead of deleting (the former §7.4 gap)
    spark.sql(s"TRUNCATE TABLE $t")
    assert(spark.table(t).count() === 0)
    val fs = new Path(custom).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(custom, Snapshots.ExtRetiredDirName)),
      "custom-location files must retire into the dir's own ext area")
    assert(spark.sql(s"SELECT id FROM $t VERSION AS OF 1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L),
      "travel across the truncate must serve the custom-location rows")
    // and rollback restores them physically
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.rollback('$t')").collect()
    assert(spark.table(t).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L), "rollback must restore the custom-location rows")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("deep rollback crosses a rewrite flip: append -> zorder -> append -> rollback(3)") {
    import spark.implicits._
    val t = freshTable("t_deep_flip")
    Seq((3L, 1.0), (1L, 2.0)).toDF("k", "v").writeTo(t).create()   // v1 seed
    Seq((2L, 3.0)).toDF("k", "v").writeTo(t).append()              // v2
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.zorder('$t', 'k,v', 1L)")
      .collect()                                                    // v3 flip
    Seq((9L, 9.0)).toDF("k", "v").writeTo(t).append()              // v4
    assert(spark.table(t).count() === 4)
    // one call crosses the flip: descriptor re-points at the pre-zorder
    // generation, then the file-level restore lands the v1 seed exactly
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.rollback('$t', 3)")
      .collect()
    assert(spark.table(t).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 3L),
      "rollback(3) across the zorder flip must restore the v1 seed")
    // the rollback is itself a commit: versions_back 1 is the state
    // rolled away from — the post-flip v4 state, served from the
    // zorderd generation now sitting in the history as redo material
    assert(spark.sql(s"SELECT k FROM $t VERSION AS OF 1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 9L),
      "VERSION AS OF 1 must be the state rolled away from (post-flip)")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("TIMESTAMP AS OF refuses below a deep rollback's lineage hole") {
    import spark.implicits._
    val t = freshTable("t_lineage_hole")
    Seq((1L, 1.0)).toDF("k", "v").writeTo(t).create()
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val now = System.currentTimeMillis()
    // graft the post-deep-rollback shape directly: a retained generation
    // retired after t, NO snapshots (pre-snapshot era), and the hole
    // marker a deep rollback records when it removes a MIDDLE entry
    cat.metaStore.updateTable("wtest", "t_lineage_hole") { m =>
      m.copy(snapshots = Nil,
        history = Seq(GenerationMeta(m.provider, m.location, m.partitions,
          None, retiredAtMs = now + 3600000L)),
        properties = m.properties +
          (GraftCatalog.HistoryPrunedBelowProp -> (now + 600000L).toString))
    }
    val tStr = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(now + 2000L)) // past creation even after second-truncation
    // pre-fix this served history.head — a generation NOT provably live
    // at t (the true owner of t's window was removed by the rollback)
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $t TIMESTAMP AS OF '$tStr'").collect())
    assert(e.getMessage.contains("lineage hole"), e.getMessage)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("repair-at-read consumes own-JVM residue immediately but waits out FOREIGN fresh residue") {
    import spark.implicits._
    val t = freshTable("t_foreign_residue")
    Seq((1L, 1.0)).toDF("k", "v").writeTo(t).create()
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
    val loc = cat.metaStore.loadTable("wtest", "t_foreign_residue").location
    val conf = spark.sessionState.newHadoopConf()
    val txn = new org.apache.hadoop.fs.Path(loc,
      graft.catalog.write.GraftBatchWrite.TxnDirName)
    val fs = txn.getFileSystem(conf)
    fs.mkdirs(txn)
    // a FOREIGN writer's manifest (not registered by this JVM's write
    // paths): an empty uncommitted .delta — repair would delete it
    val foreign = new org.apache.hadoop.fs.Path(txn,
      s"${java.util.UUID.randomUUID()}.delta")
    fs.create(foreign, false).close()
    spark.table(t).collect()
    assert(fs.exists(foreign),
      "a reader must NOT consume a foreign writer's FRESH txn manifest — " +
        "it may belong to a live cross-driver write")
    // aged past the write-lease timeout it is crash residue: repaired
    fs.setTimes(foreign, System.currentTimeMillis() - 700000L, -1L)
    spark.table(t).collect()
    assert(!fs.exists(foreign),
      "stale foreign residue must repair at read (the crashed-writer case)")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("snapshot lineage survives DROP PARTITION and RENAME (round 19)") {
    import spark.implicits._
    val t = freshTable("t_ddl_lineage")
    spark.sql(s"DROP TABLE IF EXISTS ${ns}.t_ddl_lineage2")
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").writeTo(t).partitionedBy($"p").create()
    Seq((3L, "a")).toDF("id", "p").writeTo(t).append()
    // DROP PARTITION is a retiring commit now: travel and rollback cross it
    spark.sql(s"ALTER TABLE $t DROP PARTITION (p = 'a')")
    assert(spark.table(t).collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(spark.sql(s"SELECT id FROM $t VERSION AS OF 1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L),
      "travel across a DROP PARTITION must serve the dropped rows")
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.rollback('$t')").collect()
    assert(spark.table(t).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L), "rollback must undo the DROP PARTITION")
    // RENAME rebases the retained manifests onto the new root: travel
    // still serves every retained version afterwards
    spark.sql(s"ALTER TABLE $t RENAME TO wtest.t_ddl_lineage2")
    val t2 = s"${ns}.t_ddl_lineage2"
    assert(spark.table(t2).count() === 3)
    assert(spark.sql(s"SELECT id FROM $t2 VERSION AS OF 1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L),
      "VERSION AS OF 1 (the post-drop state) must survive the rename")
    assert(spark.sql(s"SELECT id FROM $t2 VERSION AS OF 2 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L),
      "deeper retained versions must survive the rename too")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
  }

  test("streaming epochs are snapshots: travel between micro-batches; incremental view serves one epoch") {
    import spark.implicits._
    val t = freshTable("t_stream_snap")
    Seq((1L, 1.0)).toDF("k", "v").writeTo(t).create()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)](
      spark)
    val query = stream.toDF().toDF("k", "v")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("t_stream_snap_ckpt").toString)
      .toTable(t)
    try {
      stream.addData((2L, 2.0))
      query.processAllAvailable()
      stream.addData((3L, 3.0), (4L, 4.0))
      query.processAllAvailable()
    } finally query.stop()
    assert(spark.table(t).count() === 4)
    // each epoch commit snapshotted: versions_back 1 = before the last
    // micro-batch, 2 = before the first
    assert(spark.sql(s"SELECT k FROM $t VERSION AS OF 1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 2")
      .head().getLong(0) === 1L)
    // "what did the stream add between those checkpoints": the second
    // micro-batch alone
    assert(graft.operators.IncrementalRead.appendedBetween(spark, t, 1)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 4L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("TIMESTAMP AS OF outside the known lineage refuses instead of approximating") {
    import spark.implicits._
    val t = freshTable("t_ts_bounds")
    Seq((1L, "a")).toDF("id", "v").writeTo(t).create()
    val before = new java.sql.Timestamp(System.currentTimeMillis() - 24L * 3600 * 1000)
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t TIMESTAMP AS OF '$before'").collect()
    }
    assert(e.getMessage.contains("predates the table's creation"),
      s"unexpected: ${e.getMessage}")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  private def wcat: GraftCatalog = spark.sessionState.catalogManager
    .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]

  private def ids(t: String): Seq[Long] =
    spark.table(t).collect().map(_.getLong(0)).sorted.toSeq

  /** Hand-write a record under the table's txn dir, aged past the
    * write-lock timeout so a read repairs it like a crashed writer's. */
  private def plantRecord(m: TableMeta, name: String, lines: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val f = new Path(graft.catalog.write.IntentLog.txnDir(m.location), name)
    val fs = f.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(f, false)
    try out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8")) finally out.close()
    fs.setTimes(f, System.currentTimeMillis() - 3600L * 1000, -1L)
  }

  private def txnRecords(m: TableMeta): Seq[String] = {
    val dir = graft.catalog.write.IntentLog.txnDir(m.location)
    graft.catalog.write.IntentLog.list(
      dir.getFileSystem(spark.sessionState.newHadoopConf()), dir).map(_.getPath.getName)
  }

  test("a dynamic overwrite killed after its partition swap rolls back whole at the next read") {
    import spark.implicits._
    import graft.catalog.write.GraftBatchWrite
    val t = freshTable("t_dyn_crash_after")
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").writeTo(t).partitionedBy($"p").create()
    GraftBatchWrite.crashAfterFsCommit =
      Some(() => throw new RuntimeException("injected post-swap crash"))
    try {
      intercept[Exception] {
        Seq((10L, "a"), (20L, "c")).toDF("id", "p").writeTo(t).overwritePartitions()
      }
    } finally GraftBatchWrite.crashAfterFsCommit = None
    // no marker: the swapped-in files are swept, the retired ones restored
    assert(ids(t) === Seq(1L, 2L), "a reader must see exactly the pre-statement rows")
    val m = wcat.metaStore.loadTable("wtest", "t_dyn_crash_after")
    val conf = spark.sessionState.newHadoopConf()
    assert(GraftBatchWrite.dataFiles(
      GraftBatchWrite.partitionDir(m, Map("p" -> "c")), conf).isEmpty,
      "the unregistered written dir must lose the crashed statement's file")
    assert(txnRecords(m).isEmpty)
    Seq((10L, "a")).toDF("id", "p").writeTo(t).overwritePartitions()
    assert(ids(t) === Seq(2L, 10L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a legacy .retire record restores only into an emptied origin dir") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    import graft.catalog.write.GraftBatchWrite
    val t = freshTable("t_legacy_retire")
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").writeTo(t).partitionedBy($"p").create()
    val m = wcat.metaStore.loadTable("wtest", "t_legacy_retire")
    val conf = spark.sessionState.newHadoopConf()
    val dirA = GraftBatchWrite.partitionDir(m, Map("p" -> "a"))
    val dirB = GraftBatchWrite.partitionDir(m, Map("p" -> "b"))
    val fs = dirA.getFileSystem(conf)
    val fa = GraftBatchWrite.dataFiles(dirA, conf).head
    val fb = GraftBatchWrite.dataFiles(dirB, conf).head
    val token = java.util.UUID.randomUUID().toString
    val toA = Snapshots.retiredPath(conf, m.location, fa, token)
    val toB = Snapshots.retiredPath(conf, m.location, fb, token)
    // the crash: both dirs' files retired, the swap refilled only p=b
    Seq(fa -> toA, fb -> toB).foreach { case (from, to) =>
      fs.mkdirs(to.getParent)
      assert(fs.rename(from, to))
    }
    org.apache.hadoop.fs.FileUtil.copy(fs, toB, fs,
      new Path(dirB, "part-00000-swapped.parquet"), false, conf)
    plantRecord(m, s"$token.retire", Seq(s"R\t$toA\t$fa", s"R\t$toB\t$fb"))
    assert(ids(t) === Seq(1L, 2L))
    assert(fs.exists(fa) && !fs.exists(toA), "an emptied origin dir restores")
    assert(!fs.exists(fb) && fs.exists(toB), "a refilled origin dir stands")
    assert(txnRecords(m).isEmpty)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a legacy .rbk record reverses its moves and restores the descriptor") {
    import spark.implicits._
    import graft.catalog.write.GraftBatchWrite
    val t = freshTable("t_legacy_rbk")
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").writeTo(t).partitionedBy($"p").create()
    val pre = wcat.metaStore.loadTable("wtest", "t_legacy_rbk")
    val conf = spark.sessionState.newHadoopConf()
    val fb = GraftBatchWrite.dataFiles(
      GraftBatchWrite.partitionDir(pre, Map("p" -> "b")), conf).head
    val fs = fb.getFileSystem(conf)
    val token = java.util.UUID.randomUUID().toString
    val to = Snapshots.retiredPath(conf, pre.location, fb, token)
    // the crash: the rollback moved p=b's file away and published a
    // descriptor without p=b, then died before removing its record
    fs.mkdirs(to.getParent)
    assert(fs.rename(fb, to))
    wcat.metaStore.updateTable("wtest", "t_legacy_rbk")(m =>
      m.copy(partitions = m.partitions.filterNot(_.spec == Map("p" -> "b"))))
    plantRecord(pre, s"$token.rbk", Seq(
      "META\t" + java.util.Base64.getEncoder.encodeToString(
        MetaStore.toJson(pre).getBytes("UTF-8")),
      s"M\t$fb\t$to"))
    assert(ids(t) === Seq(1L, 2L))
    assert(fs.exists(fb) && !fs.exists(to), "the move must be reversed")
    assert(wcat.metaStore.loadTable("wtest", "t_legacy_rbk").partitions.map(_.spec).toSet
      === pre.partitions.map(_.spec).toSet, "the pre-rollback descriptor must be restored")
    assert(txnRecords(pre).isEmpty)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("the one repair lists _graft_txn once per call, whatever the records") {
    import spark.implicits._
    import graft.catalog.write.{GraftBatchWrite, IntentLog}
    val t = freshTable("t_repair_listing")
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").writeTo(t).partitionedBy($"p").create()
    val m = wcat.metaStore.loadTable("wtest", "t_repair_listing")
    val conf = spark.sessionState.newHadoopConf()
    val dirA = GraftBatchWrite.partitionDir(m, Map("p" -> "a"))
    val fa = GraftBatchWrite.dataFiles(dirA, conf).head
    def token = java.util.UUID.randomUUID().toString
    val committed = token
    plantRecord(m, s"$token.pending", Seq(s"W\t$dirA", s"K\t$fa"))
    plantRecord(m, s"$committed.pending", Seq(s"F\t$dirA/part-gone.parquet"))
    plantRecord(m, s"$committed.committed", Nil)
    plantRecord(m, s"$token.delta", Nil)
    plantRecord(m, s"$token.rbk", Seq(s"M\t$dirA/part-x.parquet\t$dirA/_moved"))
    val counting = new org.apache.hadoop.conf.Configuration(conf)
    counting.set("fs.file.impl", classOf[TxnListingCountingFs].getName)
    counting.setBoolean("fs.file.impl.disable.cache", true)
    TxnListingCountingFs.listings.set(0)
    IntentLog.repair(counting, wcat.metaStore, "wtest", m)
    assert(TxnListingCountingFs.listings.get === 1)
    assert(txnRecords(m).isEmpty)
    assert(ids(t) === Seq(1L, 2L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}

/** A local filesystem that counts listings of `_graft_txn` dirs. */
class TxnListingCountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.getName == graft.catalog.write.GraftBatchWrite.TxnDirName)
      TxnListingCountingFs.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object TxnListingCountingFs {
  val listings = new java.util.concurrent.atomic.AtomicInteger
}
