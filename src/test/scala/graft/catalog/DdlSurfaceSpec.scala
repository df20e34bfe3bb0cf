package graft.catalog

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftBootstrap, SparkFixture}

/** The information-schema DDL surface a catalog user touches daily:
  * SHOW NAMESPACES / SHOW TABLES / DESCRIBE, and the error classes for
  * missing objects — all served by the DSv2 interfaces without custom
  * command code. */
class DdlSurfaceSpec extends AnyFunSuite with SparkFixture {

  private def cat = GraftBootstrap.CatalogName

  test("SHOW NAMESPACES / SHOW TABLES list catalog contents") {
    GraftBootstrap.ensure(spark, sf0001)
    val namespaces = spark.sql(s"SHOW NAMESPACES IN $cat").collect().map(_.getString(0))
    assert(namespaces.contains(GraftBootstrap.Namespace))
    val tables = spark.sql(s"SHOW TABLES IN $cat.${GraftBootstrap.Namespace}")
      .collect().map(_.getString(1))
    graft.Tables.all.foreach(t => assert(tables.contains(t), s"missing $t"))
  }

  test("DESCRIBE TABLE reports columns and partitioning") {
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ddl")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ddl.t")
    spark.sql(s"CREATE TABLE $cat.ddl.t (id BIGINT, p STRING) USING parquet PARTITIONED BY (p)")
    val desc = spark.sql(s"DESCRIBE TABLE $cat.ddl.t").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(desc.contains(("id", "bigint")))
    assert(desc.contains(("p", "string")))
    assert(desc.map(_._1).contains("# Partition Information"))
  }

  test("every catalog table advertises the streaming V1 fallback with catalog metadata") {
    GraftBootstrap.ensure(spark, sf0001)
    // directory-located table (the streamable case): fallback metadata
    // carries the catalog's schema, provider and identifier
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ddl")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ddl.stream_ok")
    spark.sql(s"CREATE TABLE $cat.ddl.stream_ok (id BIGINT, v DOUBLE) USING parquet")
    val okIdent = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("ddl"), "stream_ok")
    val okTable = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog].loadTable(okIdent)
    // the analyzer's streaming hook: RelationResolution only builds the
    // StreamingRelationV2 v1 fallback for V2TableWithV1Fallback tables
    // (re-exported as the public StreamingV1FallbackTable bridge trait)
    assert(okTable.isInstanceOf[org.apache.spark.sql.graft.StreamingV1FallbackTable])
    val v1 = okTable.asInstanceOf[
      org.apache.spark.sql.graft.StreamingV1FallbackTable].v1Table
    assert(v1.provider === Some("parquet"))
    assert(v1.schema === okTable.asInstanceOf[GraftTable].meta.schema)
    assert(v1.identifier.catalog === Some(cat))
    spark.sql(s"DROP TABLE IF EXISTS $cat.ddl.stream_ok")
    // single-FILE-located external table (the events fixture): the
    // fallback must refuse at resolution time with the problem named,
    // not die inside FileStreamSource with a basePath listing error
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array(GraftBootstrap.Namespace), "events")
    val table = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog].loadTable(ident)
    assert(table.isInstanceOf[org.apache.spark.sql.graft.StreamingV1FallbackTable])
    val err = intercept[UnsupportedOperationException](
      table.asInstanceOf[org.apache.spark.sql.graft.StreamingV1FallbackTable].v1Table)
    assert(err.getMessage.contains("single file") &&
      err.getMessage.contains("directory"))
  }

  test("catalog tables advertise STREAMING_WRITE; the epoch log is reserved and hidden") {
    import org.apache.spark.sql.connector.catalog.TableCapability
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ddl")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ddl.stream_w")
    spark.sql(s"CREATE TABLE $cat.ddl.stream_w (id BIGINT, v DOUBLE) USING parquet")
    val table = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog].loadTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("ddl"), "stream_w"))
    // df.writeStream.toTable routes through the table iff this is advertised
    assert(table.capabilities().contains(TableCapability.STREAMING_WRITE))
    assert(table.capabilities().contains(TableCapability.BATCH_WRITE))
    // the per-query epoch log is catalog bookkeeping: ALTER refuses it,
    // and Table.properties() never shows it
    val err = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.ddl.stream_w SET TBLPROPERTIES " +
        s"('${GraftCatalog.StreamEpochPropPrefix}q1'='7')"))
    assert(err.getMessage.contains("reserved"))
    assert(!table.properties().keySet().asScala.exists(GraftCatalog.isStreamEpochProp))
    spark.sql(s"DROP TABLE IF EXISTS $cat.ddl.stream_w")
  }

  test("FunctionCatalog: sys functions list, load, refuse bad types and unknowns") {
    GraftBootstrap.ensure(spark, sf0001)
    val plugin = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog]
    // listing: the sys namespace carries the surface; real namespaces
    // list none; unknown namespaces throw the standard class
    val sysFns = plugin.listFunctions(Array(CatalogFunctions.Namespace)).map(_.name)
    assert(sysFns.toSeq === Seq("array_dot", "array_sqdist"))
    assert(plugin.listFunctions(Array(GraftBootstrap.Namespace)).isEmpty)
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException] {
      plugin.listFunctions(Array("no_such_ns"))
    }
    // load + bind: correct shape binds, wrong arity/type is refused
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.types._
    val fn = plugin.loadFunction(
      Identifier.of(Array(CatalogFunctions.Namespace), "array_dot"))
    val good = StructType(Seq(
      StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType))))
    assert(fn.bind(good).resultType() === DoubleType)
    intercept[UnsupportedOperationException] {
      fn.bind(StructType(Seq(StructField("a", ArrayType(DoubleType)))))
    }
    intercept[UnsupportedOperationException] {
      fn.bind(StructType(Seq(
        StructField("a", StringType), StructField("b", ArrayType(DoubleType)))))
    }
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException] {
      plugin.loadFunction(Identifier.of(Array(CatalogFunctions.Namespace), "nope"))
    }
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException] {
      plugin.loadFunction(Identifier.of(Array(GraftBootstrap.Namespace), "array_dot"))
    }
    // SQL reaches it by three-part name, with implicit float→double
    // array cast handled by the analyzer, and the result matches the
    // DataFrame operator's math
    val viaSql = spark.sql(
      s"SELECT $cat.${CatalogFunctions.Namespace}.array_dot(" +
        "CAST(array(1.5D, 2.0D) AS ARRAY<DOUBLE>), array(2.0D, 0.5D)) AS d")
      .collect().head.getDouble(0)
    assert(viaSql === 1.5 * 2.0 + 2.0 * 0.5)
    val viaSqDist = spark.sql(
      s"SELECT $cat.${CatalogFunctions.Namespace}.array_sqdist(" +
        "array(1.0D, 2.0D), array(3.0D, 0.0D)) AS d")
      .collect().head.getDouble(0)
    assert(viaSqDist === 4.0 + 4.0)
    // NULL arrays reach invoke() as null ArrayData (the analyzer's
    // Invoke binding does not null-propagate): SQL NULL out, no NPE —
    // both functions, both argument positions
    val nulls = spark.sql(
      s"SELECT $cat.sys.array_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS a, " +
        s"$cat.sys.array_dot(array(1.0D), CAST(NULL AS ARRAY<DOUBLE>)) AS b, " +
        s"$cat.sys.array_sqdist(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS c, " +
        s"$cat.sys.array_sqdist(array(1.0D), CAST(NULL AS ARRAY<DOUBLE>)) AS d")
      .collect().head
    assert((0 until 4).forall(nulls.isNullAt), "NULL array input must yield SQL NULL")
    // row-based fallback path honors the same contract
    val bound = new ArrayDotBound
    assert(bound.produceResult(
      org.apache.spark.sql.catalyst.InternalRow(
        null, org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1.0)))) == null)
  }

  test("sys array functions return NULL on a NULL element, as the session functions do") {
    GraftBootstrap.ensure(spark, sf0001)
    val withNull = "array(1.0D, CAST(NULL AS DOUBLE))"
    val r = spark.sql(
      s"SELECT $cat.sys.array_dot($withNull, array(1.0D, 2.0D)) AS a, " +
        s"$cat.sys.array_sqdist(array(1.0D, 2.0D), $withNull) AS b, " +
        s"graft_array_dot($withNull, array(1.0D, 2.0D)) AS c, " +
        s"graft_array_sqdist(array(1.0D, 2.0D), $withNull) AS d")
      .collect().head
    assert((0 until 4).forall(r.isNullAt),
      s"a NULL element must null every array function: $r")
    // the magic method, on generic and unsafe arrays alike
    val generic = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](1.0, null))
    val unsafe = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(1.0, 2.0))
    val unsafeWithNull = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(Array[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
      .apply(org.apache.spark.sql.catalyst.InternalRow(generic)).getArray(0)
    Seq(generic, unsafeWithNull).foreach { a =>
      assert(new ArrayDotBound().invoke(a, unsafe) == null)
      assert(new ArraySqDistBound().invoke(unsafe, a) == null)
    }
    // no NULL element: the prefix fold is unchanged
    assert(new ArrayDotBound().invoke(unsafe, unsafe) == 5.0)
    assert(new ArraySqDistBound().invoke(unsafe,
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array(3.0))) == 4.0)
  }

  test("metadata tables: $files/$partitions agree with the data; unknown suffixes and $-creates refuse") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ddl")
    val t = s"$cat.ddl.meta_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    graft.Tables(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .writeTo(t).partitionedBy($"l_returnflag").create()
    // files: names + sizes agree with the filesystem, counts with the data
    val files = spark.table(s"$cat.ddl.`meta_t$$files`").collect()
    val loc = new org.apache.hadoop.fs.Path(
      spark.sql(s"DESCRIBE TABLE EXTENDED $t")
        .filter($"col_name" === "Location").head().getString(1))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    // hidden DIRS (snapshot manifests etc.) are engine metadata, not data
    val onDisk = fs.listStatus(loc)
      .filter(d => d.isDirectory && !d.getPath.getName.startsWith("_") &&
        !d.getPath.getName.startsWith("."))
      .flatMap(d => fs.listStatus(d.getPath)).filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(s => (s.getPath.getName, s.getLen)).toSet
    assert(files.map(r => (r.getString(0), r.getLong(2))).toSet === onDisk)
    assert(files.map(_.getLong(3)).sum === spark.table(t).count())
    // partitions: per-partition row counts equal the grouped data counts
    val partRows = spark.table(s"$cat.ddl.`meta_t$$partitions`")
      .select($"partition", $"row_count").as[(String, Long)].collect().toMap
    val real = spark.table(t).groupBy($"l_returnflag").count()
      .as[(String, Long)].collect().map { case (f, n) => s"l_returnflag=$f" -> n }
      .toMap
    assert(partRows === real)
    // SQL resolution works without the DataFrame API
    assert(spark.sql(s"SELECT count(*) FROM $cat.ddl.`meta_t$$partitions`")
      .head().getLong(0) === 3L)
    // $snapshots resolves too (one row per retained commit — here the
    // create-write), and unknown suffixes stay table-not-found; `$` is
    // refused at CREATE
    assert(spark.table(s"$cat.ddl.`meta_t$$snapshots`").count() === 1L)
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.table(s"$cat.ddl.`meta_t$$bogus`").collect()
    }
    assert(e1.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e1.errorClass.exists(_.contains("TABLE_OR_VIEW_NOT_FOUND")))
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ddl.`bad$$name` (id BIGINT) USING parquet")
    }
    assert(e2.getMessage.contains("reserved"))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("missing objects raise the standard error classes") {
    GraftBootstrap.ensure(spark, sf0001)
    val noTable = intercept[Exception](spark.table(s"$cat.${GraftBootstrap.Namespace}.nope"))
    assert(noTable.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      noTable.getMessage.toLowerCase.contains("cannot be found"))
    val noNs = intercept[Exception](spark.sql(s"SHOW TABLES IN $cat.no_such_db"))
    assert(noNs.getMessage.contains("SCHEMA_NOT_FOUND") ||
      noNs.getMessage.toLowerCase.contains("not found"))
  }

  test("CALL procedures: the maintenance surface is SQL-invocable through the sys namespace") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ddl")
    val t = s"$cat.ddl.t_proc"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // fragmented ingest to give compact and vacuum something to do
    (0 until 3).foreach { i =>
      val df = Seq((i.toLong, "a", 1.0), (i.toLong, "b", 2.0)).toDF("id", "p", "v")
      if (i == 0) df.writeTo(t).partitionedBy($"p").create() else df.writeTo(t).append()
    }
    // CALL compact: one file per partition afterwards
    val compacted = spark.sql(s"CALL $cat.sys.compact('$t')").collect()
    assert(compacted.map(_.getString(0)).toSeq === Seq(t))
    val loc = new Path(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Location").head().getString(1))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    Seq("a", "b").foreach { p =>
      val files = fs.listStatus(new Path(loc, s"p=$p"))
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
      assert(files.length === 1, s"p=$p not compacted: ${files.length} files")
    }
    // CALL vacuum reclaims planted residue; rows survive
    val junk = fs.create(new Path(loc, "p=zz/orphan.parquet"), true)
    try junk.write(Array.fill[Byte](64)(0x5A)) finally junk.close()
    val vac = spark.sql(s"CALL $cat.sys.vacuum('$t', 0L)").collect()
    assert(vac.head.getLong(0) >= 1L, s"vacuum reclaimed nothing: ${vac.toSeq}")
    assert(spark.table(t).count() === 6)
    // CALL migrate flips the provider; CALL vacuum_namespace sweeps the
    // retired generation
    spark.sql(s"CALL $cat.sys.migrate('$t', 'orc')")
    assert(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Provider").head().getString(1).toLowerCase === "orc")
    assert(spark.table(t).count() === 6)
    val swept = spark.sql(s"CALL $cat.sys.vacuum_namespace('$cat.ddl', 0L)").collect()
    assert(swept.head.getLong(0) >= 1L, s"sweep reclaimed nothing: ${swept.toSeq}")
    assert(spark.table(t).count() === 6)
    // default retention argument binds (no second arg)
    spark.sql(s"CALL $cat.sys.vacuum('$t')").collect()
    // CALL analyze recomputes real sizes: after clearing stats via the
    // descriptor (simulating an autoSizeUpdate=off history), the stats
    // return and match the filesystem
    val graftCat = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog]
    graftCat.metaStore.updateTable("ddl", "t_proc")(m => m.copy(stats = None,
      partitions = m.partitions.map(_.copy(sizeInBytes = PartitionMeta.Unsized))))
    val an = spark.sql(s"CALL $cat.sys.analyze('$t')").collect()
    assert(an.head.getLong(0) === 2L, s"expected 2 partitions sized: ${an.toSeq}")
    assert(an.head.getLong(1) > 0L)
    val restored = graftCat.metaStore.loadTable("ddl", "t_proc")
    assert(restored.stats.exists(_.sizeInBytes == an.head.getLong(1)))
    assert(restored.partitions.forall(_.isSized))
    // the columns argument collects per-column stats into the
    // descriptor (round-trip through the JSON store), and a later
    // size-only analyze PRESERVES them
    val anCols = spark.sql(s"CALL $cat.sys.analyze('$t', '*')").collect()
    assert(anCols.head.getLong(2) > 0, s"no columns analyzed: ${anCols.toSeq}")
    val withCols = graftCat.metaStore.loadTable("ddl", "t_proc").stats.get
    assert(withCols.numRows.isDefined && withCols.colStats.nonEmpty, s"$withCols")
    spark.sql(s"CALL $cat.sys.analyze('$t')").collect()
    val afterSizeOnly = graftCat.metaStore.loadTable("ddl", "t_proc").stats.get
    assert(afterSizeOnly.colStats === withCols.colStats &&
      afterSizeOnly.numRows === withCols.numRows,
      "size-only analyze must not drop ANALYZE-collected column stats")
    // unknown procedures throw the standard routine error
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql(s"CALL $cat.sys.no_such_proc('$t')"))
    assert(e.getMessage.toLowerCase.contains("routine") ||
      e.getMessage.contains("no_such_proc"))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("sys.analyze is permit-free: a held write permit neither blocks it nor corrupts stats") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ddl")
    val t = s"$cat.ddl.t_analyze_live"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, p STRING) USING parquet PARTITIONED BY (p)")
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p").writeTo(t).append()
    val graftCat = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog]
    val meta = graftCat.metaStore.loadTable("ddl", "t_analyze_live")
    val fs = new Path(meta.location).getFileSystem(spark.sessionState.newHadoopConf())
    // simulate an in-flight concurrent append: permit held by the
    // writer, uncommitted bytes staged under the partition's _temporary
    val staged = new Path(meta.location, "p=a/_temporary/0/part-staged.parquet")
    val out = fs.create(staged, true)
    try out.write(Array.fill[Byte](4096)(0x42)) finally out.close()
    def committed(p: Path): Long = fs.listStatus(p).map { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) 0L
      else if (st.isDirectory) committed(st.getPath)
      else st.getLen
    }.sum
    val expected = committed(new Path(meta.location))
    assert(expected > 0L)
    val releasePermit = graft.catalog.write.GraftBatchWrite.holdPermitForTest(
      spark, meta.location, "concurrent append (test)")
    val an = try {
      // must complete while the permit is held — the leased variant of
      // analyze would wedge here until the write-lock timeout
      spark.sql(s"CALL $cat.sys.analyze('$t')").collect()
    } finally releasePermit()
    assert(an.head.getLong(0) === 2L, s"expected 2 partitions sized: ${an.toSeq}")
    assert(an.head.getLong(1) === expected,
      s"staged _temporary bytes leaked into stats: ${an.head.getLong(1)} vs $expected")
    val restored = graftCat.metaStore.loadTable("ddl", "t_analyze_live")
    assert(restored.stats.exists(_.sizeInBytes == expected))
    fs.delete(new Path(meta.location, "p=a/_temporary"), true)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("CLUSTERED BY is recorded in table metadata; bucketed writes are refused") {
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ddl")
    val t = s"$cat.ddl.t_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // the WRITABLE shape (single column, unpartitioned): create records
    // the spec AND writes hash-route into per-bucket files
    // (BucketTableSpec gates the layout; here the DDL surface)
    spark.sql(s"CREATE TABLE $t (id BIGINT, name STRING) USING parquet " +
      "CLUSTERED BY (id) INTO 4 BUCKETS")
    val graftCat = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog]
    val meta = graftCat.metaStore.loadTable("ddl", "t_bucketed")
    assert(meta.properties.get(GraftCatalog.BucketCountProp).contains("4"))
    assert(meta.properties.get(GraftCatalog.BucketColumnsProp).contains("id"))
    // the bucket surfaces through partitioning() (DESCRIBE / SHOW CREATE)
    val parts = graftCat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("ddl"), "t_bucketed"))
      .partitioning.map(_.toString)
    assert(parts.exists(_.contains("bucket")), s"partitioning: ${parts.mkString(",")}")
    // scans of the (empty) bucketed table work, and the writable shape
    // ACCEPTS writes (round 16 — the reference refuses all of them)
    assert(spark.table(t).count() === 0)
    Seq((1L, "a")).toDF("id", "name").writeTo(t).append()
    assert(spark.table(t).count() === 1)
    // the COMPOSITE shape (partitioned + single-column bucket) became
    // writable in q103: the append lands hash-routed per-bucket files
    // under the partition directory
    val tp = s"$cat.ddl.t_bucketed_part"
    spark.sql(s"DROP TABLE IF EXISTS $tp")
    spark.sql(s"CREATE TABLE $tp (id BIGINT, p STRING) USING parquet " +
      "PARTITIONED BY (p) CLUSTERED BY (id) INTO 4 BUCKETS")
    Seq((1L, "a")).toDF("id", "p").writeTo(tp).append()
    assert(spark.table(tp).count() === 1)
    // and the recorded spec is ALTER-proof like other reserved props —
    // now load-bearing for LAYOUT correctness: a mutated bucket count
    // would silently mis-route every later write
    val alter = intercept[Exception](
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.bucket.count'='8')"))
    assert(alter.getMessage.toLowerCase.contains("reserved") ||
      alter.getMessage.contains("graft.bucket.count"))
    // an UNRELATED successful ALTER must not strip the bucket spec
    // (regression: reserved-prop stripping would silently break the
    // declared layout contract)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('note'='x')")
    val meta2 = graftCat.metaStore.loadTable("ddl", "t_bucketed")
    assert(meta2.properties.get(GraftCatalog.BucketCountProp).contains("4"))
    assert(meta2.properties.get("note").contains("x"))
    spark.sql(s"DROP TABLE IF EXISTS $tp")
    // SORTED BY gets a clear refusal, not a contradictory message
    val sb = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.ddl.t_sorted (a INT, b INT) USING parquet " +
        "CLUSTERED BY (a) SORTED BY (b) INTO 4 BUCKETS"))
    assert(sb.getMessage.contains("SORTED BY"), s"got: ${sb.getMessage}")
    // SHOW CREATE TABLE surfaces the bucket as a transform (no internal
    // graft.bucket.* props leak) and its output replays cleanly
    val stmt = spark.sql(s"SHOW CREATE TABLE $t").collect().head.getString(0)
    assert(stmt.contains("bucket(4, id)"), s"got: $stmt")
    assert(!stmt.contains("graft.bucket"), s"internal props leaked: $stmt")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ddl.t_bucketed2")
    spark.sql(stmt.replace("t_bucketed", "t_bucketed2"))
    val meta3 = graftCat.metaStore.loadTable("ddl", "t_bucketed2")
    assert(meta3.properties.get(GraftCatalog.BucketCountProp).contains("4"))
  }
}
