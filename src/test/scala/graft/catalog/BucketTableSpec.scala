package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftBootstrap, SparkFixture, Tables}

/** The writable bucketed-table surface (q100): hash-routed per-bucket
  * file layout on write, bucket-id recovery from file names on scan,
  * and the record-but-refuse posture for the non-writable declarations.
  * The zero-exchange JOIN plan is pinned in PlanShapeSpec; this suite
  * pins the physical layout contract those plans depend on. */
class BucketTableSpec extends AnyFunSuite with SparkFixture {

  private val ns = s"${GraftBootstrap.CatalogName}.btest"

  private def freshTable(name: String): String = {
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    val t = s"$ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    t
  }

  private def locationOf(t: String): Path = {
    val parts = t.split("\\.")
    val cat = spark.sessionState.catalogManager.catalog(parts(0))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    new Path(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array(parts(1)), parts(2))).properties
      .get(org.apache.spark.sql.connector.catalog.TableCatalog.PROP_LOCATION))
  }

  private def dataFiles(t: String): Seq[Path] = {
    val loc = locationOf(t)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(loc).toSeq.collect {
      case s if s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".") => s.getPath
    }
  }

  private val BucketName = "^part-(\\d+)-".r
  private def bucketIdOf(p: Path): Int =
    BucketName.findFirstMatchIn(p.getName).map(_.group(1).toInt).getOrElse(
      fail(s"file ${p.getName} does not carry a bucket id"))

  /** Every file's rows must hash to the file's name-declared bucket:
    * Spark SQL `hash()` IS the Murmur3(seed=42) the write shuffle
    * routes by, so the invariant is checkable without reimplementing
    * the hash. */
  private def assertBucketInvariant(t: String, col: String, n: Int): Unit = {
    dataFiles(t).foreach { f =>
      val b = bucketIdOf(f)
      val bad = spark.read.schema(spark.table(t).schema).parquet(f.toString)
        .where(pmod(hash(expr(col)), lit(n)) =!= b)
      assert(bad.count() === 0,
        s"file ${f.getName}: rows hashed outside bucket $b")
    }
  }

  test("bucketed CTAS lays down one file set per bucket; every row hashes to its file's bucket") {
    import spark.implicits._
    val t = freshTable("b_layout")
    Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_totalprice")
      .writeTo(t).partitionedBy(bucket(8, $"o_orderkey")).create()
    val files = dataFiles(t)
    val ids = files.map(bucketIdOf)
    assert(ids.toSet === (0 until 8).toSet,
      s"expected all 8 buckets, got ${ids.sorted}")
    // one whole bucket per write task: exactly one file per bucket here
    assert(files.size === 8, s"expected 8 files, got ${files.size}")
    assertBucketInvariant(t, "o_orderkey", 8)
    assert(spark.table(t).count() ===
      Tables(spark, sf0001, "orders").count())
  }

  test("appends preserve the bucket layout; reads see the union") {
    import spark.implicits._
    val t = freshTable("b_append")
    val src = Tables(spark, sf0001, "orders").select($"o_orderkey", $"o_totalprice")
    src.filter($"o_orderkey" % 2 === 0)
      .writeTo(t).partitionedBy(bucket(4, $"o_orderkey")).create()
    src.filter($"o_orderkey" % 2 === 1).writeTo(t).append()
    assert(dataFiles(t).size === 8) // 4 buckets × 2 writes
    assertBucketInvariant(t, "o_orderkey", 4)
    assert(spark.table(t).count() === src.count())
  }

  test("a foreign (unparseable) file disables bucket reporting but not correctness") {
    import spark.implicits._
    val t = freshTable("b_foreign")
    val src = Tables(spark, sf0001, "nation").select($"n_nationkey", $"n_name")
    src.writeTo(t).partitionedBy(bucket(4, $"n_nationkey")).create()
    // plant an ENGINE-COMPATIBLE parquet file (field ids copied from the
    // id-mapped table's schema — a manual copy of an engine file) under
    // a FOREIGN name: rows in the wrong bucket file MUST force the scan
    // off the bucket-aligned path, while the content still reads
    val loc = locationOf(t)
    val idSchema = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName).asInstanceOf[GraftCatalog]
      .metaStore.loadTable("btest", "b_foreign").schema
    val oneRow = src.filter($"n_nationkey" === 0).limit(1).collect().toSeq
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(oneRow).asJava, idSchema)
      .write.mode("overwrite").parquet(loc.toString + "__stage")
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = fs.listStatus(new Path(loc.toString + "__stage")).collectFirst {
      case s if s.isFile && s.getPath.getName.endsWith(".parquet") => s.getPath
    }.get
    fs.rename(staged, new Path(loc, "foreign-0000.parquet"))
    fs.delete(new Path(loc.toString + "__stage"), true)
    spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[GraftCatalog]
      .invalidateTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("btest"), "b_foreign"))
    graft.operators.EngineQueries.withSpjConfs(spark) {
      val self = spark.table(t).as("x")
        .join(spark.table(t).as("y"), $"x.n_nationkey" === $"y.n_nationkey")
      // fallback: the scan must NOT claim bucket alignment (the foreign
      // file's rows sit in no legal bucket), and the answer includes the
      // foreign row: 24 keys match 1×1, key 0 matches 2×2
      assert(self.count() === 24L + 4L)
    }
    // a fully FOREIGN file (no field ids at all) planted into an
    // id-mapped managed dir refuses LOUDLY at read instead of serving
    // name-matched rows that later evolutions would corrupt — managed
    // dirs are engine-owned (round-20 field-id posture)
    src.filter($"n_nationkey" === 1).limit(1)
      .write.mode("overwrite").parquet(loc.toString + "__stage2")
    val staged2 = fs.listStatus(new Path(loc.toString + "__stage2")).collectFirst {
      case s if s.isFile && s.getPath.getName.endsWith(".parquet") => s.getPath
    }.get
    fs.rename(staged2, new Path(loc, "foreign-0001.parquet"))
    fs.delete(new Path(loc.toString + "__stage2"), true)
    spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[GraftCatalog]
      .invalidateTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("btest"), "b_foreign"))
    // (a COLUMN-reading query — count(*) prunes to zero columns and so
    // requests no ids at all)
    val e = intercept[Exception](
      spark.table(t).selectExpr("sum(n_nationkey)").collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("field Id")), messages(e).mkString("; "))
  }

  test("non-writable bucket declarations keep the record-but-refuse posture") {
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    // partitioned + single-column bucketed became WRITABLE in q103 —
    // the SQL declaration routes through the composite layout
    val t1 = s"$ns.b_partitioned"
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(
      s"""CREATE TABLE $t1 (id BIGINT, p STRING)
         |USING parquet PARTITIONED BY (p)
         |CLUSTERED BY (id) INTO 4 BUCKETS""".stripMargin)
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").writeTo(t1).append()
    assert(spark.table(t1).count() === 2)
    val loc1 = locationOf(t1)
    val fs1 = loc1.getFileSystem(spark.sessionState.newHadoopConf())
    fs1.listStatus(loc1).filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .foreach { d =>
        fs1.listStatus(d.getPath)
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .foreach(f => bucketIdOf(f.getPath)) // every file carries its id
      }
    // multi-column bucket: recorded, writes refused
    val t2 = s"$ns.b_multicol"
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.sql(
      s"""CREATE TABLE $t2 (id BIGINT, id2 BIGINT)
         |USING parquet CLUSTERED BY (id, id2) INTO 4 BUCKETS""".stripMargin)
    val e2 = intercept[Exception] {
      Seq((1L, 2L)).toDF("id", "id2").writeTo(t2).append()
    }
    assert(e2.getMessage.contains("bucket"))
  }

  test("streaming writes to bucketed tables hash-route every epoch's files") {
    import spark.implicits._
    val t = freshTable("b_stream")
    Seq((1L, 1.0)).toDF("o_orderkey", "o_totalprice")
      .writeTo(t).partitionedBy(bucket(4, $"o_orderkey")).create()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)](
      spark)
    val query = stream.toDF().toDF("o_orderkey", "o_totalprice")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("b_stream_ckpt").toString)
      .toTable(t)
    try {
      stream.addData((2L, 2.0), (3L, 3.0), (4L, 4.0))
      query.processAllAvailable()
      stream.addData((5L, 5.0), (6L, 6.0))
      query.processAllAvailable()
    } finally query.stop()
    // every epoch's files carry bucket ids and satisfy the hash
    // invariant — the micro-batch planner routed the same distribution
    // as a batch write
    assertBucketInvariant(t, "o_orderkey", 4)
    assert(spark.table(t).count() === 6)
  }

  test("streaming writes to COMPOSITE tables route partition dirs AND bucket names per epoch") {
    import spark.implicits._
    val t = freshTable("b_stream_comp")
    Seq((1L, "a")).toDF("id", "p")
      .writeTo(t).partitionedBy($"p", bucket(4, $"id")).create()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](
      spark)
    val query = stream.toDF().toDF("id", "p")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("b_stream_comp_ckpt").toString)
      .toTable(t)
    try {
      stream.addData((2L, "a"), (3L, "b"), (4L, "b"))
      query.processAllAvailable()
      stream.addData((5L, "a"), (6L, "c"))
      query.processAllAvailable()
    } finally query.stop()
    assert(spark.table(t).count() === 6)
    val loc = locationOf(t)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = fs.listStatus(loc).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    assert(dirs.map(_.getPath.getName).toSet === Set("p=a", "p=b", "p=c"))
    dirs.foreach { d =>
      fs.listStatus(d.getPath).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .foreach { f =>
          val b = bucketIdOf(f.getPath)
          val bad = spark.read.parquet(f.getPath.toString)
            .where(pmod(hash($"id"), lit(4)) =!= b)
          assert(bad.count() === 0,
            s"${d.getPath.getName}/${f.getPath.getName}: streamed rows outside bucket $b")
        }
    }
  }

  test("composite layout composes with graft.cluster.by: per-(partition, bucket) files arrive key-sorted") {
    import spark.implicits._
    val t = freshTable("b_comp_clustered")
    Tables(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .writeTo(t)
      .tableProperty(GraftCatalog.ClusterByProp, "l_quantity")
      .partitionedBy($"l_returnflag", bucket(4, $"l_orderkey")).create()
    // all three layout levers from one declaration: partition dirs,
    // per-bucket hash-routed files, and within each file the declared
    // cluster key sorted (row-group min-max locality)
    val loc = locationOf(t)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(loc).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .foreach { d =>
        fs.listStatus(d.getPath).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .foreach { f =>
            bucketIdOf(f.getPath) // parses
            val vals = spark.read.parquet(f.getPath.toString)
              .select($"l_quantity").collect().map(_.getDouble(0))
            assert(vals.sameElements(vals.sorted),
              s"${d.getPath.getName}/${f.getPath.getName}: cluster key not sorted")
          }
      }
    assert(spark.table(t).count() ===
      Tables(spark, sf0001, "lineitem").count())
  }

  test("row-level MERGE on a bucketed table preserves the bucket layout") {
    import spark.implicits._
    val t = freshTable("b_merge")
    Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_totalprice")
      .writeTo(t).partitionedBy(bucket(4, $"o_orderkey")).create()
    Seq((1L, 999.0), (-5L, 1.0)).toDF("k", "p").createOrReplaceTempView("b_merge_src")
    spark.sql(
      s"""MERGE INTO $t tgt USING b_merge_src src ON tgt.o_orderkey = src.k
         |WHEN MATCHED THEN UPDATE SET o_totalprice = src.p
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice) VALUES (src.k, src.p)
         |""".stripMargin)
    // the COW rewrite rode the same required distribution: every file
    // still parses and satisfies the hash invariant
    assertBucketInvariant(t, "o_orderkey", 4)
    assert(spark.table(t).where($"o_orderkey" === -5L).count() === 1)
  }

  test("composite layout (q103): every partition dir holds hash-routed per-bucket files; appends preserve; guards hold") {
    import spark.implicits._
    val t = freshTable("b_composite")
    val src = Tables(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
    src.filter($"l_orderkey" % 2 === 0)
      .writeTo(t).partitionedBy($"l_returnflag", bucket(4, $"l_orderkey")).create()
    src.filter($"l_orderkey" % 2 === 1).writeTo(t).append()
    val loc = locationOf(t)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = fs.listStatus(loc).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    assert(dirs.size === 3, s"expected 3 l_returnflag dirs: ${dirs.map(_.getPath.getName)}")
    dirs.foreach { d =>
      val files = fs.listStatus(d.getPath).toSeq.filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      val ids = files.map(f => bucketIdOf(f.getPath))
      assert(ids.toSet.subsetOf((0 until 4).toSet),
        s"${d.getPath.getName}: foreign bucket ids ${ids.sorted}")
      // two writes → at most one file per (partition, bucket, write)
      assert(ids.groupBy(identity).values.forall(_.size <= 2),
        s"${d.getPath.getName}: more files per bucket than writes: ${ids.sorted}")
      // the name-declared bucket is the hash truth for the file's rows
      files.foreach { f =>
        val b = bucketIdOf(f.getPath)
        val bad = spark.read.parquet(f.getPath.toString)
          .where(pmod(hash($"l_orderkey"), lit(4)) =!= b)
        assert(bad.count() === 0,
          s"${d.getPath.getName}/${f.getPath.getName}: rows hashed outside bucket $b")
      }
    }
    // the union of both writes reads back bit-exactly
    assert(spark.table(t).count() === src.count())
    val back = spark.table(t).select($"l_orderkey", $"l_quantity", $"l_returnflag")
    assert(back.exceptAll(src).count() === 0 && src.exceptAll(back).count() === 0)
    // bucketing a PARTITION column is a declaration mistake, refused
    val badT = freshTable("b_comp_bad")
    val e = intercept[Exception](
      src.writeTo(badT).partitionedBy($"l_returnflag", bucket(4, $"l_returnflag"))
        .create())
    assert(e.getMessage.contains("partition column"), e.getMessage)
  }

  test("streamed READ of bucketed and composite tables sees every bucket-named file (v1 fallback)") {
    import spark.implicits._
    // plain bucketed: FileStreamSource must pick up part-<bucket> files
    val t = freshTable("b_stream_read")
    val src = Tables(spark, sf0001, "orders").select($"o_orderkey", $"o_totalprice")
    src.writeTo(t).partitionedBy(bucket(4, $"o_orderkey")).create()
    def streamedAgg(table: String, name: String): (Long, Long) = {
      val q = spark.readStream.table(table)
        .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("s"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      val r = spark.table(name).head()
      (r.getLong(0), r.getLong(1))
    }
    val (n1, s1) = streamedAgg(t, "bsr_plain")
    assert(n1 === src.count())
    assert(s1 === src.agg(sum($"o_orderkey")).head().getLong(0))
    // composite (q103): partition values must be resolved from the dir
    // names AND every per-(partition, bucket) file must stream
    val t2 = freshTable("b_stream_read_comp")
    val li = Tables(spark, sf0001, "lineitem")
      .select($"l_orderkey".as("o_orderkey"), $"l_returnflag")
    li.writeTo(t2).partitionedBy($"l_returnflag", bucket(4, $"o_orderkey")).create()
    val qc = spark.readStream.table(t2)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("s"))
      .writeStream.format("memory").queryName("bsr_comp")
      .outputMode("complete").start()
    try qc.processAllAvailable() finally qc.stop()
    val streamed = spark.table("bsr_comp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("s")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch,
      "streamed read of the composite table must equal the batch answer")
  }

  test("bucket layout composes with graft.cluster.by: per-bucket files arrive key-sorted") {
    import spark.implicits._
    val t = freshTable("b_clustered")
    Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_totalprice")
      .writeTo(t)
      .tableProperty(GraftCatalog.ClusterByProp, "o_totalprice")
      .partitionedBy(bucket(4, $"o_orderkey")).create()
    assertBucketInvariant(t, "o_orderkey", 4)
    // within each bucket file the declared cluster key is sorted — the
    // row-group min-max locality contract rides the bucket layout
    dataFiles(t).foreach { f =>
      val vals = spark.read.schema(spark.table(t).schema).parquet(f.toString)
        .select($"o_totalprice").collect().map(_.getDouble(0))
      assert(vals.sameElements(vals.sorted),
        s"file ${f.getName}: cluster key not sorted")
    }
  }

  test("bucket pruning: key equality/IN reads only the matching buckets' files — no SPJ confs needed") {
    import spark.implicits._
    val t = freshTable("b_prune")
    Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_totalprice")
      .writeTo(t).partitionedBy(bucket(8, $"o_orderkey")).create()
    def scanParts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.inputPartitions.size
      }.getOrElse(fail("no BatchScanExec in plan"))
    val all = scanParts(spark.table(t))
    // point lookup: exactly one bucket's files planned (8 files total,
    // one per bucket) — and the row comes back
    val keys = spark.table(t).select($"o_orderkey")
      .limit(3).collect().map(_.getLong(0))
    val point = spark.table(t).filter($"o_orderkey" === keys(0))
    assert(scanParts(point) === 1, s"point lookup must read 1 of $all bucket files")
    assert(point.count() === 1)
    // IN list over keys spanning ≤ 3 buckets
    val inq = spark.table(t).filter($"o_orderkey".isin(keys: _*))
    assert(scanParts(inq) <= 3 && scanParts(inq) < all)
    assert(inq.count() === keys.length)
    // a NULL literal prunes to zero files and zero rows (= its SQL
    // semantics); a filter on a NON-bucket column prunes nothing
    assert(scanParts(spark.table(t).filter($"o_totalprice" > 0)) === all)
    val nullEq = spark.table(t).filter($"o_orderkey" === lit(null).cast("bigint"))
    assert(nullEq.count() === 0)
  }

  test("pruning-only point lookup re-splits a large bucket file: intra-file parallelism survives pruning") {
    import spark.implicits._
    val t = freshTable("b_prune_split")
    Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_totalprice")
      .writeTo(t).partitionedBy(bucket(4, $"o_orderkey")).create()
    val key = spark.table(t).select($"o_orderkey").limit(1).collect().head.getLong(0)
    def scanParts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.inputPartitions.size
      }.getOrElse(fail("no BatchScanExec in plan"))
    // with maxPartitionBytes forced below the bucket file's size, the
    // pruned scan must plan MULTIPLE ranges over the one surviving
    // file — whole-file splits would run the lookup as a single task
    // no matter how large the bucket file is. v2 bucketing (default ON
    // in Spark 4) is disabled here: with it on, the scan reports
    // key-grouped partitioning and MUST keep whole-file splits (a
    // range spanning the file would break the SPJ key contract); this
    // pins the conf-off path, where no such contract exists.
    val conf = spark.conf
    val saved = conf.get("spark.sql.files.maxPartitionBytes")
    val savedSpj = conf.get("spark.sql.sources.v2.bucketing.enabled")
    try {
      conf.set("spark.sql.files.maxPartitionBytes", "2048")
      conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val point = spark.table(t).filter($"o_orderkey" === key)
      assert(scanParts(point) > 1,
        "pruned point lookup planned one whole-file task; expected intra-file splits")
      assert(point.count() === 1, "re-split ranges must still find the row exactly once")
    } finally {
      conf.set("spark.sql.files.maxPartitionBytes", saved)
      conf.set("spark.sql.sources.v2.bucketing.enabled", savedSpj)
    }
  }

  test("avro bucketed tables get bucket pruning and SPJ through the generic format scan") {
    import spark.implicits._
    val t = freshTable("b_avro")
    val src = Tables(spark, sf0001, "orders").select($"o_orderkey", $"o_totalprice")
    src.writeTo(t).using("avro").partitionedBy(bucket(4, $"o_orderkey")).create()
    def scanParts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.inputPartitions.size
      }.getOrElse(fail("no BatchScanExec in plan"))
    assert(spark.table(t).count() === src.count())
    // point lookup prunes to ONE bucket's file
    val key = spark.table(t).select($"o_orderkey").limit(1).collect().head.getLong(0)
    val point = spark.table(t).filter($"o_orderkey" === key)
    assert(scanParts(point) === 1,
      s"avro point lookup must read 1 bucket file, not ${scanParts(point)}")
    assert(point.count() === 1)
    // avro⋈avro zero-exchange join under the SPJ confs
    val b = freshTable("b_avro_b")
    src.filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey".as("b_orderkey"))
      .writeTo(b).using("avro").partitionedBy(bucket(4, $"b_orderkey")).create()
    graft.operators.EngineQueries.withSpjConfs(spark) {
      val j = spark.table(t).join(spark.table(b), $"o_orderkey" === $"b_orderkey")
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(o_orderkey") &&
        !p.contains("Exchange hashpartitioning(b_orderkey"),
        s"avro bucket-aligned join must not shuffle either side:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(j.count() === src.filter($"o_orderkey" % 3 === 0).count())
    }
  }

  test("composite maintenance: compaction and migration preserve the per-(partition, bucket) layout") {
    import spark.implicits._
    val t = freshTable("b_comp_maint")
    val src = Tables(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
    // three appends fragment every (partition, bucket) pair
    src.filter($"l_orderkey" % 3 === 0)
      .writeTo(t).partitionedBy($"l_returnflag", bucket(4, $"l_orderkey")).create()
    src.filter($"l_orderkey" % 3 === 1).writeTo(t).append()
    src.filter($"l_orderkey" % 3 === 2).writeTo(t).append()
    val loc = locationOf(t)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    def perDir(): Map[String, Seq[Int]] =
      fs.listStatus(loc).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath).toSeq
            .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
              !s.getPath.getName.startsWith("."))
            .map(f => bucketIdOf(f.getPath)).sorted
        }.toMap
    assert(perDir().values.forall(_.size > 4), "fixture not fragmented")
    val total = spark.table(t).count()
    // CALL compact: back to ONE file per (partition, bucket)
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.compact('$t')")
    val compacted = perDir()
    assert(compacted.values.forall(_ == (0 until 4)),
      s"expected one file per bucket per dir after compact: $compacted")
    assert(spark.table(t).count() === total)
    // CALL migrate: provider flips, layout survives, point lookup works
    spark.sql(s"CALL ${GraftBootstrap.CatalogName}.sys.migrate('$t', 'orc')")
    val migrated = perDir()
    assert(migrated.nonEmpty && migrated.values.forall(ids =>
      ids.nonEmpty && ids.toSet.subsetOf((0 until 4).toSet)),
      s"post-migration files lost their bucket ids: $migrated")
    assert(spark.table(t).count() === total)
    val sample = spark.table(t).limit(1).collect().head
    val k = sample.getLong(0)
    val rf = sample.getString(2)
    assert(spark.table(t)
      .filter($"l_returnflag" === rf && $"l_orderkey" === k).count() >= 1,
      "post-migration composite point lookup lost its rows")
  }

  test("format migration preserves the bucket layout; point lookups stay correct post-flip") {
    import spark.implicits._
    val t = freshTable("b_migrate")
    Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_totalprice")
      .writeTo(t).partitionedBy(bucket(4, $"o_orderkey")).create()
    graft.operators.Migrate.toProvider(spark, t, "orc")
    // every staged file carries a valid bucket id AND its rows hash to
    // it — a plain (unrouted) rewrite would produce part-N names that
    // PARSE but hold mis-bucketed rows, silently corrupting pruning
    dataFiles(t).foreach { f =>
      val b = bucketIdOf(f)
      val bad = spark.read.schema(spark.table(t).schema).orc(f.toString)
        .where(pmod(hash($"o_orderkey"), lit(4)) =!= b)
      assert(bad.count() === 0, s"file ${f.getName}: mis-bucketed rows after migrate")
    }
    // the bucket-pruned point lookup — the read that a broken layout
    // silently empties — still finds its row
    val keys = spark.table(t).select($"o_orderkey").limit(5)
      .collect().map(_.getLong(0))
    keys.foreach { k =>
      assert(spark.table(t).filter($"o_orderkey" === k).count() === 1,
        s"post-migration point lookup lost key $k")
    }
    assert(spark.table(t).count() ===
      Tables(spark, sf0001, "orders").count())
  }

  test("an EMPTY bucketed table plans and joins safely under the SPJ confs") {
    import spark.implicits._
    val t = freshTable("b_empty")
    spark.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_totalprice DOUBLE) " +
      "USING parquet CLUSTERED BY (o_orderkey) INTO 4 BUCKETS")
    val full = freshTable("b_empty_other")
    Tables(spark, sf0001, "orders").select($"o_orderkey", $"o_totalprice")
      .writeTo(full).partitionedBy(bucket(4, $"o_orderkey")).create()
    graft.operators.EngineQueries.withSpjConfs(spark) {
      assert(spark.table(t).count() === 0)
      assert(spark.table(t).join(spark.table(full), "o_orderkey").count() === 0)
      // outer join from the full side over the empty one keeps all rows
      assert(spark.table(full)
        .join(spark.table(t).withColumnRenamed("o_totalprice", "p2"),
          Seq("o_orderkey"), "left_outer").count()
        === spark.table(full).count())
    }
  }

  private def priorityDim(name: String): String = {
    import spark.implicits._
    val dim = freshTable(name)
    Seq(("1-URGENT", "keep"), ("2-HIGH", "drop"), ("3-MEDIUM", "drop"),
      ("4-NOT SPECIFIED", "drop"), ("5-LOW", "drop")).toDF("prio", "tag")
      .writeTo(dim).create()
    dim
  }

  private def dppJoin(fact: String, dim: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.table(fact)
      .join(spark.table(dim).filter($"tag" === "keep"), $"o_orderpriority" === $"prio")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
  }

  /** [[dppJoin]] (only '1-URGENT' survives the dim filter) under the SPJ
    * confs: its rows, and the fact scan's executed splits as
    * (partition key, whether the split carries files). The dim
    * broadcasts inside the SPJ confs because DPP reuses the broadcast
    * (`reuseBroadcastOnly`); the keyed layout latches at planning, so
    * the DPP filter arrives late. */
  private def lateDppJoin(fact: String, dim: String)
      : (Seq[org.apache.spark.sql.Row], Seq[(org.apache.spark.sql.catalyst.InternalRow, Boolean)]) =
    graft.operators.EngineQueries.withSpjConfs(spark) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      val j = dppJoin(fact, dim)
      val rows = j.collect().toSeq
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"), s"DPP subquery missing from the fact scan:\n$p")
      def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
        case other => other.children.flatMap(allScans)
      }
      val factScan = allScans(j.queryExecution.executedPlan)
        .find(_.toString.contains(fact.split("\\.").last + "["))
        .getOrElse(fail(s"fact scan not found:\n$p"))
      // the EXECUTED splits (post-runtime-filter), not the planning-time
      // inputPartitions
      val splits = factScan.inputRDD.partitions.toSeq.flatMap {
        case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          dp.inputPartitions
      }
      val parts = splits.collect {
        case f: org.apache.spark.sql.execution.datasources.FilePartition
            with org.apache.spark.sql.connector.read.HasPartitionKey =>
          (f.partitionKey(), f.files.nonEmpty)
      }
      assert(parts.size === splits.size,
        "every split of a keyed scan carries its partition key")
      (rows, parts)
    }

  test("avro composite layout: a late DPP filter keeps every (partition, bucket) key, empties the pruned groups") {
    import spark.implicits._
    val t = freshTable("b_avro_comp")
    val orders = Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    orders.writeTo(t).using("avro")
      .partitionedBy($"o_orderpriority", bucket(4, $"o_orderkey")).create()
    val (rows, parts) = lateDppJoin(t, priorityDim("b_avro_comp_dim"))
    assert(rows.size.toLong === orders.filter($"o_orderpriority" === "1-URGENT").count())
    def key(k: org.apache.spark.sql.catalyst.InternalRow) =
      (k.getUTF8String(0).toString, k.getInt(1))
    val keys = parts.map(p => key(p._1)).distinct
    assert(keys.size === 5 * 4, s"expected all 20 (partition, bucket) keys, got $keys")
    val withFiles = parts.filter(_._2).map(p => key(p._1)).distinct
    assert(withFiles.map(_._1).toSet === Set("1-URGENT") && withFiles.size === 4,
      s"only 1-URGENT's 4 buckets may carry files, got $withFiles")
  }

  test("graft.spj identity layout: a late DPP filter keeps every partition value, empties the pruned groups") {
    import spark.implicits._
    val orders = Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    val t = freshTable("spj_late")
    orders.writeTo(t).partitionedBy($"o_orderpriority")
      .tableProperty("graft.spj", "true").create()
    val flat = freshTable("spj_late_flat")
    orders.writeTo(flat).create()
    val dim = priorityDim("spj_late_dim")
    val expected = dppJoin(flat, dim).collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty)
    val (rows, parts) = lateDppJoin(t, dim)
    assert(rows.map(_.toString).sorted === expected,
      "the keyed scan's join must match the unpartitioned table's")
    val values = parts.map(_._1.getUTF8String(0).toString).distinct
    assert(values.size === 5, s"expected one group per partition value, got $values")
    val withFiles = parts.filter(_._2).map(_._1.getUTF8String(0).toString).distinct
    assert(withFiles === Seq("1-URGENT"),
      s"only the surviving value's groups may carry files, got $withFiles")
  }

  test("bucket function: bind validates shape; result matches Spark's hash routing") {
    val f = GraftBucketFunction.bind(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.LongType))))
      .asInstanceOf[GraftBucketBound]
    import spark.implicits._
    val rows = Seq(0L, 1L, 42L, -7L, 123456789L).toDF("c")
      .select(col("c"), pmod(hash(col("c")), lit(8)).as("b")).collect()
    rows.foreach { r =>
      val expect = r.getInt(1)
      val got = f.produceResult(
        org.apache.spark.sql.catalyst.InternalRow(8, r.getLong(0)))
      assert(got === expect, s"bucket(${r.getLong(0)})")
      // the magic invoke (the codegen'd shuffle-one-side path) agrees
      assert(f.invoke(8, r.getLong(0)) === expect, s"invoke(${r.getLong(0)})")
    }
    // null routes to the seed bucket, same as the hash expression
    val nullBucket = spark.sql("SELECT pmod(hash(CAST(NULL AS BIGINT)), 8)")
      .collect()(0).getInt(0)
    assert(f.produceResult(org.apache.spark.sql.catalyst.InternalRow(
      8, null)) === nullBucket)
  }
}
