package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftBootstrap, Tables}
import graft.functions.GraftFunctions
import graft.operators.RelationalQueries.r2

/** Queries that exercise the engine surface itself — the write path
  * (Q24, SURVEY.md §2.3) and the declared UDF surface (q25/q26) — rather
  * than Spark's relational operators.
  */
object EngineQueries {

  // ---------------------------------------------------------------- Q24
  /** Write round-trip through the DSv2 write path (R14–R17): CTAS a
    * managed table partitioned by o_orderpriority → INSERT OVERWRITE one
    * static partition with adjusted rows → read back ordered.
    *
    * Exercises: createTable with an identity transform, append write with
    * required clustering on the partition column, overwrite-by-filter
    * unwrap (`EqualTo` → static partition spec,
    * /root/reference/.../HiveFileFormatWriteBuilder.scala:190-200), the
    * two-phase FS+catalog commit, partition registration from
    * `WriteTaskResult.updatedPartitions`, and the catalog-pruned read.
    *
    * Scale posture: the write shuffles by partition value before writing
    * (RequiresDistributionAndOrdering), so each partition is written by
    * few tasks as few large files; the overwrite deletes exactly one
    * partition directory, never rewrites the table.
    */
  def q24_write_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q24_orders"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    val orders = Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
    orders.writeTo(tgt).partitionedBy($"o_orderpriority").create()
    val adjusted = orders
      .filter($"o_orderpriority" === "1-URGENT")
      .withColumn("o_totalprice", r2($"o_totalprice" * 0.5))
    adjusted.writeTo(tgt).overwrite($"o_orderpriority" === lit("1-URGENT"))
    spark.table(tgt)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  // ---------------------------------------------------------------- Q25
  /** UDAF: weighted mean of extendedprice by quantity per returnflag via
    * the registered `Aggregator` (exact-integer-cents accumulation — see
    * [[GraftFunctions.WeightedMean]] for why that makes the result
    * bit-stable under any partitioning). */
  def q25_udaf_weighted_mean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val wm = udaf(new GraftFunctions.WeightedMean)
    Tables(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(wm($"l_extendedprice", $"l_quantity").as("w_mean_price"))
      .orderBy($"l_returnflag")
  }

  // ---------------------------------------------------------------- Q26
  /** Scalar UDF: normalize document text. A UDF is deliberately the
    * *only* non-codegen expression in the whole inventory — everything
    * else uses built-ins (SURVEY §7.3 decision table); this query exists
    * to cover the declared UDF surface. */
  def q26_udf_normalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val normalize = udf(GraftFunctions.normalizeText _)
    Tables(spark, dir, "documents")
      .select($"doc_id", normalize($"text").as("norm_text"),
        length(normalize($"text")).cast("long").as("norm_len"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- Q39
  /** CSV provider round-trip (R15): CTAS nation into a managed CSV table
    * through the catalog write path, read back through the CSV scan.
    * Values must survive the text round-trip exactly — the oracle reads
    * the original parquet. */
  def q39_csv_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q39_nation_csv"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    Tables(spark, dir, "nation")
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .writeTo(tgt).using("csv").create()
    spark.table(tgt).orderBy($"n_nationkey")
  }

  // ---------------------------------------------------------------- Q95
  /** ORC provider round-trip — the modern equivalent of the reference's
    * Hive SerDe read surface (R12,
    * /root/reference/.../HiveFilePartitionReaderFactory.scala:43-154,
    * whose most common SerDe after parquet is ORC): CTAS nation into a
    * managed ORC table through the catalog write path, carrying a
    * nested struct the CSV gate (q39) refuses, read back through
    * Spark's built-in columnar `OrcScan` with the same
    * pushdown/pruning surface as parquet (WritePathSpec pins
    * PushedFilters + ReadSchema on the ORC plan). Values must survive
    * the ORC round-trip exactly — the oracle reads the original
    * parquet. */
  def q95_orc_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q95_nation_orc"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    Tables(spark, dir, "nation")
      .select($"n_nationkey",
        struct($"n_name".as("name"), $"n_regionkey".as("regionkey")).as("info"))
      .writeTo(tgt).using("orc").create()
    spark.table(tgt)
      .select($"n_nationkey",
        $"info.name".as("name"), $"info.regionkey".as("regionkey"))
      .orderBy($"n_nationkey")
  }

  // ---------------------------------------------------------------- Q101
  /** AVRO provider round-trip — closing R12's SerDe-format matrix (the
    * reference's Hive reader handles any registered format,
    * /root/reference/.../HiveFilePartitionReaderFactory.scala:43-154;
    * avro is the remaining mainstream one after parquet/orc/csv/json).
    * Spark 4 bundles only the V1 `AvroFileFormat`, so the write
    * delegates to it directly while the read runs through the engine's
    * generic FileFormat-backed DSv2 scan
    * ([[org.apache.spark.sql.graft.GraftFormatScan]]) — column pruning
    * + catalog partition pruning, rows decoded by the stock avro
    * reader. Carries a nested struct (avro records nest; the CSV gate
    * refuses them) — values must survive the avro round-trip exactly
    * against the parquet-reading oracle. */
  def q101_avro_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q101_nation_avro"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    Tables(spark, dir, "nation")
      .select($"n_nationkey",
        struct($"n_name".as("name"), $"n_regionkey".as("regionkey")).as("info"))
      .writeTo(tgt).using("avro").create()
    spark.table(tgt)
      .select($"n_nationkey",
        $"info.name".as("name"), $"info.regionkey".as("regionkey"))
      .orderBy($"n_nationkey")
  }

  // ---------------------------------------------------------------- Q42
  /** JSON provider round-trip (R15) with NESTED columns: CTAS nation
    * into a managed JSON table carrying a struct and a map column —
    * exercising the JSON writer's recursive type gate
    * (/root/reference/.../JsonProviderFileWriteBuilder.scala:21-57),
    * which admits nested types where the CSV gate (q39) rejects them.
    * The read-back flattens the nested values so the oracle states them
    * in plain SQL over the source parquet; longs survive because the
    * JSON scan uses the catalog-declared schema, not inference. */
  def q42_json_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q42_nation_json"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    Tables(spark, dir, "nation")
      .select($"n_nationkey",
        struct($"n_name".as("name"), $"n_regionkey".as("regionkey")).as("info"),
        map(lit("len"), length($"n_name").cast("long"),
            lit("region"), $"n_regionkey".cast("long")).as("attrs"))
      .writeTo(tgt).using("json").create()
    spark.table(tgt)
      .select($"n_nationkey",
        $"info.name".as("name"),
        $"info.regionkey".as("regionkey"),
        element_at($"attrs", "len").as("name_len"),
        element_at($"attrs", "region").as("attr_region"))
      .orderBy($"n_nationkey")
  }

  // ---------------------------------------------------------------- Q45
  /** Schema evolution through the catalog (R6): CTAS two columns, ALTER
    * TABLE ADD COLUMN, append rows CARRYING the new column, read the
    * union — parquet files written before the ALTER lack the column and
    * must read back as null alongside the new generation. Promotes the
    * round-6 AlterTableSpec coverage into the oracle-gated inventory. */
  def q45_schema_evolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q45_nation_evo"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    val nation = Tables(spark, dir, "nation")
    nation.select($"n_nationkey", $"n_name").writeTo(tgt).create()
    spark.sql(s"ALTER TABLE $tgt ADD COLUMN extra STRING")
    nation.select(($"n_nationkey" + 100).as("n_nationkey"), $"n_name",
      $"n_regionkey".cast("string").as("extra")).writeTo(tgt).append()
    spark.table(tgt).orderBy($"n_nationkey")
  }

  // --------------------------------------------------------------- Q45b
  /** FIELD-ID SCHEMA EVOLUTION over data (round 20) — managed parquet
    * tables carry a `parquet.field.id` on every field from CREATE, the
    * writer embeds the ids, and reads match by id instead of name, so
    * the two name-resolution corruptions become correct behavior:
    * RENAME COLUMN over existing data PRESERVES the values (the renamed
    * field keeps its id), and DROP + re-ADD of the same name reads NULL
    * (the re-added column takes a fresh never-reused id, so the dropped
    * values stay dead). The sequence here seeds from nation, renames
    * `n_name`, drops and re-adds `n_regionkey`, appends a second
    * generation under the evolved schema, and reads the union — every
    * step over LIVE data files, zero rewrites. */
  def q45b_rename_over_data(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q45b_nation_fid"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    val nation = Tables(spark, dir, "nation")
    nation.select($"n_nationkey", $"n_name", $"n_regionkey")
      .writeTo(tgt).create()
    // rename over data: pre-rename files keep serving their values
    spark.sql(s"ALTER TABLE $tgt RENAME COLUMN n_name TO nation_name")
    // drop + re-add: the old regionkeys must stay dead (fresh id)
    spark.sql(s"ALTER TABLE $tgt DROP COLUMN n_regionkey")
    spark.sql(s"ALTER TABLE $tgt ADD COLUMN n_regionkey BIGINT")
    // a second generation written under the evolved schema
    nation.select(($"n_nationkey" + 100).as("n_nationkey"),
      $"n_name".as("nation_name"),
      ($"n_regionkey" + 50).cast("bigint").as("n_regionkey"))
      .writeTo(tgt).append()
    spark.table(tgt)
      .select($"n_nationkey", $"nation_name", $"n_regionkey")
      .orderBy($"n_nationkey")
  }

  // ---------------------------------------------------------------- Q49
  /** Small-file compaction — the table-maintenance operator every
    * long-lived 100 TB table needs: streaming ingest and per-batch
    * appends accumulate many small files per partition, and scan cost
    * degrades with file count (task-per-file scheduling, open/footer
    * overhead) long before data size grows.
    *
    * Build: 6 successive appends fragment each partition into ≥6 files.
    * Compact: read the table and dynamic-overwrite it WITH ITSELF —
    * safe under this engine's commit protocol because read tasks scan
    * the live partition dirs while write tasks stage under `_temporary`,
    * and dirs are swapped only at job commit after all reads finish;
    * the per-table write permit serializes it against other writers.
    * The write's required clustering on the partition column then lands
    * each partition in ONE task → one large file (file counts asserted
    * in WritePathSpec; the oracle pins that compaction preserved the
    * data exactly). */
  def q49_compaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q49_li_compact"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    val src = Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice", $"l_returnflag")
    // fragmented ingest: one append per l_orderkey stripe
    val stripes = 6
    src.filter($"l_orderkey" % stripes === 0)
      .writeTo(tgt).partitionedBy($"l_returnflag").create()
    (1 until stripes).foreach { i =>
      src.filter($"l_orderkey" % stripes === i).writeTo(tgt).append()
    }
    Compaction.compact(spark, tgt)
    spark.table(tgt)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        // per-term mod keeps every summand < 1e9, so the BIGINT sum
        // stays exact (no ANSI overflow / HUGEINT divergence) up to
        // ~9e9 rows per group — scale-safe where a bare sum of
        // key*131071 would overflow around SF 10
        sum((($"l_orderkey" % 1000003L) * 131071L + $"l_linenumber") % 1000000007L)
          .as("key_checksum"),
        r2(sum($"l_extendedprice")).as("sum_price"))
      .orderBy($"l_returnflag")
  }

  // ---------------------------------------------------------------- Q96
  /** Orphan-file reclamation ([[Vacuum]]): plant the exact residue a
    * crash between the two commit phases leaves — a fully-written
    * partition dir the catalog never registered, plus committer
    * `_temporary` staging — then VACUUM and read the table. The oracle
    * gates CONTENT PRESERVATION (live rows byte-identical to the
    * source); WritePathSpec gates the reclamation itself (orphan bytes
    * gone, registered files untouched, concurrent reader unaffected). */
  def q96_vacuum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q96_orders_vac"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .writeTo(tgt).partitionedBy($"o_orderpriority").create()
    // crash residue, planted where a died-between-phases writer leaves it
    val cat = spark.sessionState.catalogManager
      .catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val loc = new Path(cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("tmp"), "q96_orders_vac"))
      .properties.get(org.apache.spark.sql.connector.catalog.TableCatalog.PROP_LOCATION))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    def junk(p: Path): Unit = {
      val out = fs.create(p, true)
      try out.write(Array.fill[Byte](256)(0x5A)) finally out.close()
    }
    junk(new Path(loc, "o_orderpriority=9-ZOMBIE/part-00000-orphan.parquet"))
    junk(new Path(loc, "_temporary/0/_temporary/attempt_00000/part-00001.parquet"))
    val stats = Vacuum.vacuum(spark, tgt, retentionMs = 0L)
    require(stats.reclaimedFiles >= 2,
      s"vacuum must reclaim the planted orphans, got $stats")
    spark.table(tgt)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        RelationalQueries.r2(sum($"o_totalprice")).as("sum_price"))
      .orderBy($"o_orderpriority")
  }

  // ---------------------------------------------------------------- Q99
  /** FORMAT MIGRATION ([[Migrate]]): the working form of Hive's
    * `ALTER TABLE … SET FILEFORMAT` — a PARTITIONED ORC table (the
    * format a migrating Hive estate actually holds, q95's provider)
    * rewritten to parquet and flipped in ONE atomic descriptor update
    * (provider + location + partition registrations together), old
    * generation reclaimed. The read-back goes through the parquet scan
    * against the re-registered partitions; the oracle reads the source
    * parquet — values must survive ORC → parquet exactly. WritePathSpec
    * gates the descriptor flip, partition retention, old-dir
    * reclamation and the EXTERNAL/unknown-provider refusals. */
  def q99_migrate_format(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q99_orders_mig"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .writeTo(tgt).partitionedBy($"o_orderpriority").using("orc").create()
    Migrate.toProvider(spark, tgt, "parquet")
    spark.table(tgt)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        RelationalQueries.r2(sum($"o_totalprice")).as("sum_price"))
      .orderBy($"o_orderpriority")
  }

  // ---------------------------------------------------------------- Q102
  /** SQL-DRIVEN MAINTENANCE ([[graft.catalog.CatalogProcedures]], DSv2
    * `ProcedureCatalog`): the q49+q96 maintenance lifecycle executed
    * entirely through `CALL <catalog>.sys.*` statements — fragment a
    * partitioned table with per-stripe appends, `CALL sys.compact`,
    * plant crash residue, `CALL sys.vacuum(table, 0)` — no Scala API in
    * sight, the way an operator on a SQL gateway actually runs the
    * cadence (Iceberg's procedure UX; beyond the reference, whose
    * catalog stops at tables). The oracle gates content preservation
    * through BOTH SQL-driven rewrites; DdlSurfaceSpec gates the
    * procedure surface itself (one-file-per-partition layout, reclaim
    * counts, migrate + namespace sweep, default args, unknown-routine
    * refusal). */
  def q102_call_maintenance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    val tgt = s"$cat.tmp.q102_orders_call"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    val src = Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    val stripes = 4
    src.filter($"o_orderkey" % stripes === 0)
      .writeTo(tgt).partitionedBy($"o_orderpriority").create()
    (1 until stripes).foreach { i =>
      src.filter($"o_orderkey" % stripes === i).writeTo(tgt).append()
    }
    spark.sql(s"CALL $cat.sys.compact('$tgt')").collect()
    // crash residue, then the SQL-invoked reclamation
    val loc = new Path(spark.sql(s"DESCRIBE TABLE EXTENDED $tgt")
      .filter($"col_name" === "Location").head().getString(1))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val junk = fs.create(new Path(loc,
      "o_orderpriority=9-ZOMBIE/part-00000-orphan.parquet"), true)
    try junk.write(Array.fill[Byte](256)(0x5A)) finally junk.close()
    val vac = spark.sql(s"CALL $cat.sys.vacuum('$tgt', 0L)").collect()
    require(vac.head.getLong(0) >= 1L, s"vacuum must reclaim the orphan: ${vac.toSeq}")
    spark.table(tgt)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        RelationalQueries.r2(sum($"o_totalprice")).as("sum_price"))
      .orderBy($"o_orderpriority")
  }

  // ---------------------------------------------------------------- Q97
  /** STORAGE-PARTITIONED JOIN — the shuffle-free co-partitioned join
    * (the bucketed-read fast path the round-14 verdict listed as
    * unimplemented in both engines): two catalog tables partitioned on
    * the same column and opted in with `graft.spj=true` report their
    * partition layout as a DSv2 `KeyGroupedPartitioning`
    * ([[org.apache.spark.sql.graft.RuntimePruning]]), so a join
    * carrying the partition column in its keys aligns partition-to-
    * partition with NO exchange on either side, and the downstream
    * partition-keyed aggregate completes in the same task — at 100 TB
    * the difference between shuffling two fact tables and shuffling
    * nothing (PlanShapeSpec pins zero hash exchanges, and the contrast
    * plan without the property shuffling both sides). One side omits a
    * whole partition value, exercising the planner's partition-value
    * push (empty-side padding) rather than the lucky aligned case.
    *
    * The SPJ confs are scoped to the query (saved/restored): the result
    * is materialized eagerly via `localCheckpoint` so the plan executes
    * while they hold. */
  def q97_spj_join(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val a = s"$cat.tmp.q97_spj_a"
    val b = s"$cat.tmp.q97_spj_b"
    spark.sql(s"DROP TABLE IF EXISTS $a")
    spark.sql(s"DROP TABLE IF EXISTS $b")
    val orders = Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    orders.writeTo(a).partitionedBy($"o_orderpriority")
      .tableProperty("graft.spj", "true").create()
    orders.filter($"o_orderkey" % 3 === 0 && $"o_orderpriority" =!= "5-LOW")
      .select($"o_orderkey", $"o_orderpriority")
      .writeTo(b).partitionedBy($"o_orderpriority")
      .tableProperty("graft.spj", "true").create()
    withSpjConfs(spark) {
      spark.table(a).as("a")
        .join(spark.table(b).as("b"),
          $"a.o_orderpriority" === $"b.o_orderpriority" &&
            $"a.o_orderkey" === $"b.o_orderkey")
        .groupBy($"a.o_orderpriority".as("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          RelationalQueries.r2(sum($"a.o_totalprice")).as("sum_price"))
        .orderBy($"o_orderpriority")
        .localCheckpoint(eager = true) // execute while the SPJ confs hold
    }
  }

  // ---------------------------------------------------------------- Q100
  /** BUCKETED storage-partitioned join — q97's zero-exchange plan on a
    * HIGH-CARDINALITY key, where identity partitioning (one directory
    * per value) is impossible: two tables `CLUSTERED BY (orderkey) INTO
    * 8 BUCKETS` hash-route every write into per-bucket file sets
    * ([[graft.catalog.write.GraftWrite.requiredDistribution]]), the
    * scans report `KeyGroupedPartitioning(bucket(8, key))` with bucket
    * ids recovered from file names
    * ([[org.apache.spark.sql.graft.RuntimePruning]]), and the
    * planner resolves the transform through the catalog's `bucket`
    * function ([[graft.catalog.GraftBucketFunction]] — the function the
    * reference parses a BucketSpec for and then refuses to honor,
    * InternalSqlBridge.scala:25-38 / HiveFileFormatWriteBuilder.scala:
    * 124-136). The join on the bucket key then aligns bucket-to-bucket
    * with NO exchange on either side (PlanShapeSpec pins zero hash
    * exchanges; BucketTableSpec pins the physical per-bucket layout).
    * At 100 TB this is THE production SPJ case: fact⋈fact on an id key,
    * shuffle of both sides replaced by 8..4096 aligned bucket reads.
    * The b side carries a key checksum through the join so the oracle
    * proves real row matching, not just a count. */
  def q100_bucketed_spj_join(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val a = s"$cat.tmp.q100_bspj_a"
    val b = s"$cat.tmp.q100_bspj_b"
    spark.sql(s"DROP TABLE IF EXISTS $a")
    spark.sql(s"DROP TABLE IF EXISTS $b")
    val orders = Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    // no graft.spj property: the bucket declaration itself opts the
    // scan into the bucket-aware path (conf still gates key grouping)
    orders.writeTo(a).partitionedBy(bucket(8, $"o_orderkey")).create()
    orders.filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey".as("b_orderkey"))
      .writeTo(b).partitionedBy(bucket(8, $"b_orderkey")).create()
    withSpjConfs(spark) {
      spark.table(a)
        .join(spark.table(b), $"o_orderkey" === $"b_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          RelationalQueries.r2(sum($"o_totalprice")).as("sum_price"),
          sum($"b_orderkey" % 1000003L).as("key_checksum"))
        .orderBy($"o_orderpriority")
        .localCheckpoint(eager = true) // execute while the SPJ confs hold
    }
  }

  // ---------------------------------------------------------------- Q103
  /** COMPOSITE layout — the standard 100 TB fact-table shape:
    * `PARTITIONED BY (flag) CLUSTERED BY (orderkey) INTO 8 BUCKETS`,
    * combining q97's partition pruning on the identity column with
    * q100's zero-exchange bucket alignment on the high-cardinality key,
    * from ONE table declaration. The write shuffles on the bucket
    * column alone (shuffle partition id == bucket id, see
    * [[graft.catalog.write.GraftWrite.requiredDistribution]]) while the
    * required ordering splits each bucket task's output into one file
    * per partition directory, so every `part-<id>` name under every
    * `l_returnflag=X/` directory carries its bucket id. The scan
    * reports `KeyGroupedPartitioning(identity(flag), bucket(8, key))`
    * from per-file `(partition values, bucket id)` keys
    * ([[org.apache.spark.sql.graft.RuntimePruning]]), so a join
    * on (flag, key) between two co-laid-out tables aligns
    * group-to-group with NO exchange on either side, while a filter on
    * the flag prunes directories and a point predicate on the key
    * prunes buckets — both before any I/O. The reference parses exactly
    * this pair into `(partitionCols, BucketSpec)` and then refuses the
    * write (InternalSqlBridge.scala:21-38,
    * HiveFileFormatWriteBuilder.scala:124-136). The b side carries a
    * row-level checksum through the join so the oracle proves real row
    * matching. */
  def q103_composite_spj_join(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val a = s"$cat.tmp.q103_comp_a"
    val b = s"$cat.tmp.q103_comp_b"
    spark.sql(s"DROP TABLE IF EXISTS $a")
    spark.sql(s"DROP TABLE IF EXISTS $b")
    val li = Tables(spark, dir, "lineitem")
    li.select($"l_orderkey", $"l_quantity", $"l_extendedprice", $"l_returnflag")
      .writeTo(a)
      .partitionedBy($"l_returnflag", bucket(8, $"l_orderkey")).create()
    li.filter($"l_orderkey" % 3 === 0)
      .select($"l_returnflag".as("b_returnflag"), $"l_orderkey".as("b_orderkey"),
        $"l_linenumber".as("b_linenumber"))
      .writeTo(b)
      .partitionedBy($"b_returnflag", bucket(8, $"b_orderkey")).create()
    withSpjConfs(spark) {
      spark.table(a)
        .join(spark.table(b),
          $"l_returnflag" === $"b_returnflag" && $"l_orderkey" === $"b_orderkey")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          RelationalQueries.r2(sum($"l_extendedprice")).as("sum_price"),
          sum(($"b_orderkey" * 7L + $"b_linenumber") % 1000003L).as("key_checksum"))
        .orderBy($"l_returnflag")
        .localCheckpoint(eager = true) // execute while the SPJ confs hold
    }
  }

  // ---------------------------------------------------------------- Q105
  /** The FULL LAYOUT STACK from one declaration — q103's composite
    * (identity partitions + hash buckets) plus q88's sort clustering:
    * `PARTITIONED BY (flag) CLUSTERED BY (key) INTO 8 BUCKETS` with
    * `graft.cluster.by = l_shipdate`. Three read-side levers from one
    * table: the flag filter prunes DIRECTORIES before listing, the key
    * alignment joins ZERO-exchange against a co-laid-out table, and
    * within every per-(partition, bucket) file the rows arrive
    * shipdate-sorted so the range predicate's row-group min-max
    * statistics skip non-matching groups in the vectorized reader
    * (per-file sortedness gated in BucketTableSpec). At 100 TB this is
    * the full production posture for a time-filtered fact⋈fact query:
    * read one time slice of the matching directories, skip cold row
    * groups, shuffle nothing. */
  def q105_layout_stack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val a = s"$cat.tmp.q105_stack_a"
    val b = s"$cat.tmp.q105_stack_b"
    spark.sql(s"DROP TABLE IF EXISTS $a")
    spark.sql(s"DROP TABLE IF EXISTS $b")
    val li = Tables(spark, dir, "lineitem")
    li.select($"l_orderkey", $"l_extendedprice", $"l_returnflag", $"l_shipdate")
      .writeTo(a)
      .tableProperty(graft.catalog.GraftCatalog.ClusterByProp, "l_shipdate")
      .partitionedBy($"l_returnflag", bucket(8, $"l_orderkey")).create()
    li.filter($"l_linenumber" === 1)
      .select($"l_returnflag".as("b_returnflag"), $"l_orderkey".as("b_orderkey"),
        $"l_quantity".as("b_quantity"))
      .writeTo(b)
      .partitionedBy($"b_returnflag", bucket(8, $"b_orderkey")).create()
    withSpjConfs(spark) {
      spark.table(a)
        .filter($"l_returnflag" =!= "N" && // directory pruning
          $"l_shipdate" >= lit("1995-06-01").cast("timestamp_ntz")) // row-group skip
        .join(spark.table(b),
          $"l_returnflag" === $"b_returnflag" && $"l_orderkey" === $"b_orderkey")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          RelationalQueries.r2(sum($"l_extendedprice")).as("sum_price"),
          RelationalQueries.r2(sum($"b_quantity")).as("sum_qty"))
        .orderBy($"l_returnflag")
        .localCheckpoint(eager = true) // execute while the SPJ confs hold
    }
  }

  // ---------------------------------------------------------------- Q106
  /** SORT-FREE merge join — q100's zero-exchange bucket alignment plus
    * `SupportsReportOrdering`: both tables are `CLUSTERED BY (key) INTO
    * 8 BUCKETS` with `graft.cluster.by = <key>` declared at (managed)
    * create, so every file the engine ever writes into them is
    * internally SORTED by the key ([[graft.catalog.write.GraftWrite
    * .requiredOrdering]]) and the catalog's sort-trust marker
    * ([[graft.catalog.GraftCatalog.ClusterSortedProp]]) lets the scan
    * report that order to the planner. EnsureRequirements then sees a
    * merge join whose children are already co-partitioned (bucket SPJ)
    * AND already sorted — the plan has ZERO exchanges and ZERO sorts on
    * the scan legs (PlanShapeSpec pins both): the V1 `CLUSTERED BY ...
    * SORTED BY` fast path, which the reference refuses at the write
    * (HiveFileFormatWriteBuilder.scala:124-136) and Spark's own V1
    * bucketed tables only honor with one file per bucket — the same
    * one-file condition `BatchScanExec.partitioningPreservesOrdering`
    * enforces here, so fragmented appends degrade to a planned sort,
    * never to wrong rows. At 100 TB this is the cheapest possible
    * fact⋈fact equi-join: two aligned streaming reads of pre-sorted
    * buckets, no shuffle, no sort, O(1) memory per task. */
  def q106_sorted_bucket_join(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val a = s"$cat.tmp.q106_sfmj_a"
    val b = s"$cat.tmp.q106_sfmj_b"
    spark.sql(s"DROP TABLE IF EXISTS $a")
    spark.sql(s"DROP TABLE IF EXISTS $b")
    val orders = Tables(spark, dir, "orders")
    orders.select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
      .writeTo(a)
      .tableProperty(graft.catalog.GraftCatalog.ClusterByProp, "o_orderkey")
      .partitionedBy(bucket(8, $"o_orderkey")).create()
    orders.filter($"o_orderkey" % 2 === 1)
      .select($"o_orderkey".as("b_orderkey"))
      .writeTo(b)
      .tableProperty(graft.catalog.GraftCatalog.ClusterByProp, "b_orderkey")
      .partitionedBy(bucket(8, $"b_orderkey")).create()
    withSpjConfs(spark) {
      spark.table(a)
        .join(spark.table(b), $"o_orderkey" === $"b_orderkey")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          RelationalQueries.r2(sum($"o_totalprice")).as("sum_price"),
          sum($"b_orderkey" % 999983L).as("key_checksum"))
        .orderBy($"o_orderstatus")
        .localCheckpoint(eager = true) // execute while the SPJ confs hold
    }
  }

  // ---------------------------------------------------------------- Q107
  /** RUNTIME BUCKET PRUNING — dynamic partition pruning's I/O win on an
    * UNPARTITIONED table: the fact is `CLUSTERED BY (o_orderkey) INTO 8
    * BUCKETS` (no date/identity column at all), the dim side carries a
    * selective non-foldable filter, and the planner's runtime filter
    * (the dim's post-filter join-key values, reusing the join's own
    * broadcast) reaches the scan through `SupportsRuntimeV2Filtering` —
    * where each key value hashes to its bucket
    * (`pmod(murmur3(v), 8)`, the write-routing invariant shared with
    * [[graft.catalog.GraftBucketFunction]]) and only the matching
    * buckets' files are read. Static bucket pruning (q100) needs a
    * literal predicate on the key; this is the JOIN-driven form — at
    * 100 TB a point-lookup join (fact bucketed by order id ⋈ a filtered
    * dim of a few ids) reads a handful of buckets instead of the whole
    * table, with no partitioning column needed and no plan rewrite:
    * the same mechanism the reference's DPP surface applies to Hive
    * partition keys (V2ExternalCatalog's runtime-filter plumbing),
    * extended to hash buckets. PlanShapeSpec pins the dynamicpruning
    * subquery and the 1-of-8-buckets-with-files group shape. */
  def q107_runtime_bucket_prune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val f = s"$cat.tmp.q107_fact"
    val d = s"$cat.tmp.q107_dim"
    spark.sql(s"DROP TABLE IF EXISTS $f")
    spark.sql(s"DROP TABLE IF EXISTS $d")
    val orders = Tables(spark, dir, "orders")
    orders.select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
      .writeTo(f).partitionedBy(bucket(8, $"o_orderkey")).create()
    orders.filter($"o_orderkey" % 31 === 0)
      .select($"o_orderkey".as("d_key"), $"o_orderpriority".as("d_prio"))
      .writeTo(d).create()
    spark.table(f)
      .join(spark.table(d).filter($"d_prio" === "1-URGENT"),
        $"o_orderkey" === $"d_key")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        RelationalQueries.r2(sum($"o_totalprice")).as("sum_price"),
        sum($"o_orderkey" % 999983L).as("key_checksum"))
      .orderBy($"o_orderstatus")
  }

  // ---------------------------------------------------------------- Q108
  /** FOOTER-STATS AGGREGATE — DSv2 aggregate pushdown through the
    * catalog scan: under `spark.sql.parquet.aggregatePushdown` a
    * filterless `COUNT(*)`/`MIN`/`MAX` never decodes a data page — the
    * parquet reader answers each file's contribution from its FOOTER
    * row-group statistics (`ParquetScanBuilder.pushAggregation`; the
    * engine's wrapped builders forward `SupportsPushDownAggregates`, so
    * the same works through the partitioned/bucketed scan wrappers).
    * The plan's scan shows `PushedAggregation: [COUNT(*), MIN(...)…]`
    * and emits ONE pre-aggregated row per file split into the final
    * agg. At 100 TB this turns a full-table row-count or freshness
    * check (`max(ingest_ts)`) from a table scan into a metadata read —
    * thousands of footers instead of the data itself, the same
    * stats-serving posture as the reference's table-stats surface (R19)
    * but exact and per-query. PlanShapeSpec pins the pushed plan on
    * both the stock and the wrapped (partitioned) paths. */
  def q108_agg_pushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q108_agg"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice")
      .writeTo(t).create()
    val prev = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      spark.table(t)
        .agg(count(lit(1)).as("n_rows"),
          min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty"),
          min($"l_orderkey").as("min_key"), max($"l_orderkey").as("max_key"))
        .localCheckpoint(eager = true) // execute while the pushdown conf holds
    } finally spark.conf.set("spark.sql.parquet.aggregatePushdown", prev)
  }

  // ---------------------------------------------------------------- Q109
  /** FILE-LEVEL DATA SKIPPING — the planner-side complement to q105's
    * row-group skipping and the lakehouse capability the reference has
    * no analogue of: the table declares `graft.skipping.by =
    * l_orderkey`, every commit records each parquet file's per-column
    * min/max (one footer read per NEW file, under the write permit)
    * into `_graft_skipstats.json`, and the catalog file index evaluates
    * pushed data predicates against those ranges BEFORE planning — a
    * file whose range provably excludes the predicate is never opened,
    * split, or scheduled. The input arrives range-distributed
    * (`repartitionByRange` on the key), so the 8 written files carry
    * DISJOINT key ranges and a key-range query schedules ~2 of them.
    * Row-group skipping still opens every file for its footer; at
    * 100 TB with 100k files this is the planning tier that decides
    * whether a shipdate-window query schedules 200 tasks or 100,000.
    * Skipping is advisory end to end: a file with no manifest entry is
    * always read, every filter re-applies in the reader, and the
    * manifest rebuilds against the live file set on each commit —
    * stale-or-missing costs I/O, never rows (PlanShapeSpec pins the
    * file-subset plan, the manifest-deleted fallback, and
    * append-refresh). */
  def q109_file_skipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q109_skip"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .repartitionByRange(8, $"l_orderkey")
      .writeTo(t)
      .tableProperty(graft.catalog.SkipStats.Prop, "l_orderkey")
      .create()
    spark.table(t)
      .filter($"l_orderkey" >= 1000L && $"l_orderkey" <= 2000L)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        RelationalQueries.r2(sum($"l_quantity")).as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  // ---------------------------------------------------------------- Q110
  /** Z-ORDER + MULTI-COLUMN FILE SKIPPING — q109's planning tier made
    * multi-dimensional: the table declares `graft.skipping.by =
    * l_orderkey,l_partkey`, and `CALL sys.zorder` rewrites it with the
    * two keys' bin bits INTERLEAVED into a Z-value that the rewrite
    * range-distributes and sorts by — every file then covers a bounded
    * box in BOTH dimensions, its manifest entry records both ranges,
    * and a predicate on EITHER key prunes files (a single-column sort
    * gives this for one key and scatters the other; PlanShapeSpec pins
    * exactly that contrast plus the atomic staged-rewrite flip). This
    * is Delta's `OPTIMIZE ZORDER BY` re-expressed over the engine's
    * manifest + migrate-style staging — at 100 TB the layout that lets
    * one fact table serve order-scoped AND part-scoped queries from a
    * few files each, with no second copy of the data. */
  def q110_zorder_skipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q110_z"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_quantity")
      .writeTo(t)
      .tableProperty(graft.catalog.SkipStats.Prop, "l_orderkey,l_partkey")
      .create()
    spark.sql(s"CALL $cat.sys.zorder('$t', 'l_orderkey,l_partkey', 16L)").collect()
    // probe BOTH dimensions of the one layout; union keeps one oracle
    val byOrder = spark.table(t)
      .filter($"l_orderkey" >= 500L && $"l_orderkey" <= 900L)
      .agg(lit("by_order").as("probe"), count(lit(1)).as("n_rows"),
        RelationalQueries.r2(sum($"l_quantity")).as("sum_qty"))
    val byPart = spark.table(t)
      .filter($"l_partkey" >= 100L && $"l_partkey" <= 300L)
      .agg(lit("by_part").as("probe"), count(lit(1)).as("n_rows"),
        RelationalQueries.r2(sum($"l_quantity")).as("sum_qty"))
    byOrder.unionAll(byPart).orderBy($"probe")
  }

  // ---------------------------------------------------------------- Q111
  /** DYNAMIC FILE PRUNING — q109's skipping driven by a JOIN instead of
    * a literal: the fact table is range-clustered on `l_orderkey` with
    * `graft.skipping.by = l_orderkey` (no partitions, no buckets), and
    * a selective dim join's runtime filter (the dim's post-filter key
    * values, reusing the join's own broadcast) is evaluated against the
    * per-file min/max shards — a file whose recorded range excludes
    * EVERY surviving key is never scheduled. Static skipping (q109)
    * needs a literal range; runtime bucket pruning (q107) needs the
    * table bucketed by the key; this is the remaining quadrant — the
    * key is just a well-clustered data column, which is what a fact
    * table's primary key looks like after range-clustered ingest or a
    * Z-order rewrite. At 100 TB: "enrich these 2 000 orders" reads the
    * handful of files whose key ranges overlap the order list instead
    * of the whole fact table. Advisory end to end — the join re-applies
    * the predicate; a dropped runtime filter costs I/O, never rows
    * (PlanShapeSpec pins the dynamicpruning subquery, the ≤2-of-8 file
    * subset on the executed scan, and manifest-deleted equality). */
  def q111_dynamic_file_pruning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val f = s"$cat.tmp.q111_fact"
    val d = s"$cat.tmp.q111_dim"
    Seq(f, d).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .repartitionByRange(8, $"l_orderkey")
      .writeTo(f)
      .tableProperty(graft.catalog.SkipStats.Prop, "l_orderkey")
      .create()
    // dim keys live in one narrow band of the fact's key space — the
    // runtime IN-set lands in 1–2 of the 8 range-disjoint files
    Tables(spark, dir, "orders")
      .filter($"o_orderkey" >= 1000L && $"o_orderkey" <= 2000L)
      .select($"o_orderkey".as("d_key"), $"o_orderpriority".as("d_prio"))
      .writeTo(d).create()
    spark.table(f)
      .join(spark.table(d).filter($"d_prio" === "1-URGENT"),
        $"l_orderkey" === $"d_key")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        RelationalQueries.r2(sum($"l_quantity")).as("sum_qty"),
        sum($"l_orderkey" % 999983L).as("key_checksum"))
      .orderBy($"l_returnflag")
  }

  // ---------------------------------------------------------------- Q112
  /** BLOOM FILE SKIPPING — the point-lookup complement to q109/q111's
    * min/max ranges, Delta's bloom-filter index re-expressed over the
    * engine's shards: on a HASH-distributed layout every file spans the
    * whole key range, so min/max can never prune — but
    * `graft.bloom.by = doc_id` makes the parquet writer emit per-row-
    * group split-block bloom filters, commit merges each new file's row
    * groups into ONE per-file bloom in the skip-stats shard (fixed
    * `graft.bloom.ndv` keeps the SBBFs size-aligned and mergeable), and
    * equality/IN predicates — static literals AND q111's runtime
    * IN-sets — test each key's XXH64 against each file's bloom: a miss
    * PROVES absence and the file is never scheduled; a false positive
    * costs one file read, never rows. At 100 TB this serves "fetch
    * these ids" against a layout chosen for something else entirely —
    * no re-clustering, no second copy, no layout requirement at all.
    * Sizing lever: ndv per row group; the shard carries ~bloom-size
    * bytes per file per column (cap 128 KB), which the per-directory
    * sharding keeps partition-local. */
  def q112_bloom_skipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q112_bloom"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val docs = Tables(spark, dir, "documents")
    docs.select($"doc_id", $"source", $"n_chars")
      .repartition(8, $"doc_id") // hash layout: min/max can't prune this
      .writeTo(t)
      .tableProperty(graft.catalog.SkipStats.BloomProp, "doc_id")
      .create()
    val mn = docs.agg(min($"doc_id")).as[Long].head()
    spark.table(t)
      .filter($"doc_id".isin(mn + 5L, mn + 105L, mn + 1005L))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_rows"),
        sum($"n_chars").as("sum_chars"),
        sum($"doc_id" % 999983L).as("key_checksum"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- Q113
  /** METADATA TABLES — the Iceberg inspection UX over the engine's
    * catalog: `<table>$files` and `<table>$partitions` resolve as
    * read-only relations (refused in CREATE, so the suffix space is
    * unambiguous), one row per live data file / registered partition,
    * with `record_count`/`row_count` EXACT from the columnar formats'
    * own metadata (parquet footer row counts, orc tails) — no data
    * scan. Served as a driver-local scan: the rows ARE metadata, so a
    * local relation is the honest plan. The gate cross-checks the
    * metadata against the data itself: the files table's record counts
    * and the partitions table's row counts must each sum to the true
    * table count — a metadata surface that can silently drift from the
    * data is worse than none. At 100 TB this is the operator's
    * dashboard: file-size distributions (compaction debt), per-
    * partition row balance (skew), dead-partition detection — all from
    * footers, never a table scan. */
  def q113_metadata_tables(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t1 = s"$cat.tmp.q113_flat"
    val t2 = s"$cat.tmp.q113_part"
    Seq(t1, t2).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    val li = Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
    li.repartitionByRange(8, $"l_orderkey").writeTo(t1).create()
    li.writeTo(t2).partitionedBy($"l_returnflag").create()
    val files = spark.table(s"$cat.tmp.`q113_flat$$files`")
      .agg(lit("files").as("probe"),
        count(lit(1)).as("n_entries"),
        sum($"record_count").as("n_rows"))
    val parts = spark.table(s"$cat.tmp.`q113_part$$partitions`")
      .agg(lit("partitions").as("probe"),
        count(lit(1)).as("n_entries"),
        sum($"row_count").as("n_rows"))
    files.unionAll(parts).orderBy($"probe")
  }

  // ---------------------------------------------------------------- Q114
  /** GENERATION ROLLBACK — the "oops" lever the staged-rewrite protocol
    * makes nearly free: migrate/zorder flip a table to a NEW generation
    * directory and leave the old one on disk until the namespace
    * vacuum's retention window, so `CALL sys.rollback(t)` un-does a
    * rewrite as a pure descriptor flip — provider, location, partition
    * registrations and stats restored exactly as retired, NO data
    * movement at any table size (the flip is O(1) whether the table is
    * 60 k rows or 100 TB). The generation rolled away from joins the
    * bounded history in its place (rollback is redo-able), and
    * `t$history` lists what is restorable with a liveness flag. This
    * query proves the round trip: create parquet → migrate to orc →
    * rollback → the ORIGINAL parquet generation serves the read, with
    * the history count pinned in the result. */
  def q114_generation_rollback(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q114_roll"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .writeTo(t).create()
    graft.operators.Migrate.toProvider(spark, t, "orc")
    spark.sql(s"CALL $cat.sys.rollback('$t')").collect()
    // exactly ONE retired generation remains restorable: the orc one we
    // rolled away from (the rollback consumed the parquet entry)
    val gens = spark.table(s"$cat.tmp.`q114_roll$$history`").count()
    spark.table(t)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        RelationalQueries.r2(sum($"l_quantity")).as("sum_qty"))
      .withColumn("gens_retired", lit(gens))
      .orderBy($"l_returnflag")
  }

  // ---------------------------------------------------------------- Q115
  /** TIME TRAVEL — `SELECT … FROM t VERSION AS OF n` / `TIMESTAMP AS
    * OF ts` over the staged-rewrite lineage: q114's generation history
    * resolved through Spark's own time-travel surface
    * (`TableCatalog.loadTable(ident, version)`), so a RETIRED
    * generation serves reads with its own provider/location/partitions
    * while the live table moves on — and every mutation surface of the
    * versioned relation refuses. Version n is `t$history`'s
    * `versions_back`; `TIMESTAMP AS OF` picks the generation LIVE at
    * that instant. This is REWRITE lineage (migrate/zorder/rollback
    * flips), not row-level MVCC — in-place appends don't snapshot —
    * which is exactly the audit question rewrites raise: "what did this
    * table return before the migration?". Free while the vacuum
    * retention window holds the old generation; reclaimed generations
    * refuse loudly. The query proves it: the pre-migrate generation
    * keeps answering with the ORIGINAL rows after a post-migrate append
    * changed the live table. */
  def q115_time_travel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q115_tt"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val li = Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_quantity")
    li.filter($"l_partkey" % 2 === 0).writeTo(t).create()
    graft.operators.Migrate.toProvider(spark, t, "orc")
    li.filter($"l_partkey" % 2 === 1).writeTo(t).append()
    val asOf1 = spark.sql(
      s"SELECT 'as_of_1' AS probe, count(*) AS n_rows, " +
        s"CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum " +
        s"FROM $t VERSION AS OF 1")
    val current = spark.sql(
      s"SELECT 'current' AS probe, count(*) AS n_rows, " +
        s"CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum FROM $t")
    asOf1.unionAll(current).orderBy($"probe")
  }

  // ---------------------------------------------------------------- Q116
  /** SNAPSHOT-PER-COMMIT TIME TRAVEL — q115's lineage extended from
    * rewrite flips to EVERY batch commit: each append/overwrite/
    * truncate/DELETE/COW/epoch records a per-commit file manifest (the
    * q109 shard shape — per-directory lists, untouched dirs reused by
    * pointer from the parent snapshot), removed files RETIRE by rename
    * into `_graft_retired/<token>/` instead of deleting, and
    * `VERSION AS OF n` resolves the table exactly as it stood n commits
    * back — the Iceberg-snapshot posture, answering "what did this
    * query return before last night's append (or overwrite)?" with the
    * pre-commit rows, bit-exact. `sys.rollback` undoes the last commit
    * with a handful of renames (no data movement) and is redo-able; the
    * bounded lineage (`graft.snapshots.keep`) plus commit-time GC and
    * VACUUM's retention window keep the retained state finite. The
    * query proves it across THREE states: seed (even part keys) →
    * append (odd part keys) → INSERT OVERWRITE (every third order key):
    * `VERSION AS OF 2` still serves the seed exactly, `VERSION AS OF 1`
    * the full pre-overwrite table — files the overwrite physically
    * displaced — while the live table answers with the overwritten
    * subset. 100 TB posture: commit cost ∝ directories touched;
    * travel-read planning reads one manifest + pruned shards; the
    * reference has no snapshot surface at all. */
  def q116_snapshot_time_travel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q116_snap"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val li = Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_quantity")
    li.filter($"l_partkey" % 2 === 0).writeTo(t).create()
    li.filter($"l_partkey" % 2 === 1).writeTo(t).append()
    li.filter($"l_orderkey" % 3 === 0).writeTo(t).overwrite(
      org.apache.spark.sql.functions.lit(true))
    def probe(label: String, rel: String) = spark.sql(
      s"SELECT '$label' AS probe, count(*) AS n_rows, " +
        s"CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum FROM $rel")
    probe("as_of_1_pre_overwrite", s"$t VERSION AS OF 1")
      .unionAll(probe("as_of_2_seed", s"$t VERSION AS OF 2"))
      .unionAll(probe("current", t))
      .orderBy($"probe")
  }

  // ---------------------------------------------------------------- Q118
  /** INCREMENTAL APPEND READ — "process only the rows that arrived
    * since the last run", the LLM-pipeline driving primitive, computed
    * as a pure MANIFEST SET-DIFFERENCE over q116's snapshot lineage:
    * files in snapshot `to` but not snapshot `from` ARE the appended
    * data, so the incremental relation plans from O(dirs + changed
    * files) metadata — zero data listing, zero re-read of the
    * processed corpus (at 100 TB: a nightly run over a PB-year table
    * touches only the night's files). Append-only ranges are enforced
    * by refusal (an overwrite in the range makes "rows added"
    * ill-defined — Iceberg's incremental-scan contract); streaming
    * epochs count as appends, so micro-batch sinks support "what did
    * the stream add between checkpoints". Served both as a DataFrame
    * operator and as `CALL sys.incremental_view(...)` for pure SQL.
    * The query proves exactness: seed (even part keys) → append
    * (odds) → a SECOND append (every-fifth rows) — the incremental
    * read between from=2 and to=1 returns the ODD append alone,
    * bit-exact, while from=1,to=0 returns the fifth-rows append. */
  def q118_incremental_append(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q118_inc"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val li = Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_linenumber")
    li.filter($"l_partkey" % 2 === 0).writeTo(t).create()
    li.filter($"l_partkey" % 2 === 1).writeTo(t).append()
    li.filter(($"l_orderkey" * 7 + $"l_linenumber") % 5 === 0)
      .writeTo(t).append()
    def agg(df: DataFrame, label: String) = df
      .agg(lit(label).as("probe"), count(lit(1)).as("n_rows"),
        sum($"l_orderkey" % 999983L).as("key_checksum"),
        RelationalQueries.r2(sum($"l_quantity")).as("sum_qty"))
    // SQL surface for the middle slice; DataFrame operator for the head
    spark.sql(s"CALL $cat.sys.incremental_view('$t', 2, 1, 'q118_mid')")
    val mid = agg(spark.table("q118_mid"), "appended_odds")
    val head = agg(graft.operators.IncrementalRead
      .appendedBetween(spark, t, 1), "appended_fifths")
    mid.unionAll(head).orderBy($"probe")
  }

  // ---------------------------------------------------------------- Q117
  /** RUNTIME FILE/BLOOM SKIPPING ON THE COMPOSITE SCAN — the layout
    * stack's remaining join case: a fact PARTITIONED BY flag +
    * CLUSTERED BY order key, joined to a selective dim on a THIRD
    * column (`l_partkey`) the layout does not encode. The skipping
    * declaration (`graft.skipping.by` + `graft.bloom.by` on that
    * column) gives every file a recorded range and a merged bloom; the
    * dim join's runtime IN-set reaches the BUCKETED scan's runtime
    * surface and EMPTIES provably-excluded files out of the latched
    * keyed groups (the late-DPP mechanism — group count stays
    * contractual for any concurrent SPJ claim). At 100 TB: the
    * composite table keeps its zero-exchange fact⋈fact alignment AND
    * prunes files on dim joins over non-layout columns — the two
    * access patterns one physical layout otherwise has to choose
    * between. PlanShapeSpec pins the scheduled file subset; this query
    * hash-gates the join's row-level equality. */
  def q117_runtime_skip_join(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val f = s"$cat.tmp.q117_fact"
    val d = s"$cat.tmp.q117_dim"
    spark.sql(s"DROP TABLE IF EXISTS $f")
    spark.sql(s"DROP TABLE IF EXISTS $d")
    val li = Tables(spark, dir, "lineitem")
    li.select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_returnflag")
      .writeTo(f)
      .tableProperty(graft.catalog.SkipStats.Prop, "l_partkey")
      .tableProperty(graft.catalog.SkipStats.BloomProp, "l_partkey")
      .partitionedBy($"l_returnflag", bucket(8, $"l_orderkey")).create()
    li.select($"l_partkey".as("d_partkey")).filter($"d_partkey" % 97 === 0)
      .distinct()
      .withColumn("d_tag", lit("keep"))
      .writeTo(d).create()
    spark.table(f)
      .join(spark.table(d).filter($"d_tag" === "keep"),
        $"l_partkey" === $"d_partkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        RelationalQueries.r2(sum($"l_quantity")).as("sum_qty"),
        sum($"l_orderkey" % 999983L).as("key_checksum"))
      .orderBy($"l_returnflag")
  }

  /** Scope the storage-partitioned-join planner confs to one block —
    * `requireAllClusterKeysForCoPartition=false` lets a partitioning on
    * a SUBSET of the join keys co-partition (the SPJ core case);
    * broadcast stays off so the pinned plan proves SPJ, not a lucky
    * broadcast. All previous values restored afterwards. */
  private[graft] def withSpjConfs[T](spark: SparkSession)(body: => T): T = {
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---------------------------------------------------------------- q88
  /** CLUSTERED compaction — q49's rewrite with a declared sort layout:
    * the table carries `graft.cluster.by = l_orderkey`, so every write
    * (here: the compaction's dynamic self-overwrite) sorts each task's
    * rows by the cluster key after the partition clustering
    * (`GraftWrite.requiredOrdering`). The scan-side payoff is parquet
    * row-group min-max locality: fragmented appends interleave the key
    * range across every file, so a range predicate reads everything;
    * after the clustered rewrite the key range is contiguous within
    * each partition's file and the vectorized reader's row-group
    * statistics skip non-matching groups (per-file sortedness asserted
    * in WritePathSpec; this query's own gate pins that the clustered
    * rewrite preserved the data bit-exactly THROUGH a range read).
    *
    * At 100 TB this is the Z-order-lite maintenance pass every
    * time-series/id-ranged table runs: cluster by the hot predicate
    * column, compact freshly-ingested partitions, and range scans stop
    * paying for ingest order. */
  def q88_clustered_compaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q88_li_clustered"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    val src = Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice", $"l_returnflag")
    // fragmented ingest: each append interleaves the whole key range
    val stripes = 6
    src.filter($"l_orderkey" % stripes === 0)
      .writeTo(tgt)
      .tableProperty(graft.catalog.GraftCatalog.ClusterByProp, "l_orderkey")
      .partitionedBy($"l_returnflag").create()
    (1 until stripes).foreach { i =>
      src.filter($"l_orderkey" % stripes === i).writeTo(tgt).append()
    }
    Compaction.compact(spark, tgt)
    // the read the clustering exists for: a key-range slice
    spark.table(tgt)
      .filter($"l_orderkey".between(10000L, 30000L))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum((($"l_orderkey" % 1000003L) * 131071L + $"l_linenumber") % 1000000007L)
          .as("key_checksum"),
        r2(sum($"l_extendedprice")).as("sum_price"))
      .orderBy($"l_returnflag")
  }

  // ---------------------------------------------------------------- Q50
  /** Cross-catalog federation join — the reference's DEFINING capability
    * (V2ExternalCatalog: several independently-configured Hive-cluster
    * catalogs coexisting in one session, README.md:6-24) re-expressed:
    * a second `GraftCatalog` with its own warehouse and its own external
    * tables joins against the primary catalog's tables in ONE Catalyst
    * plan. Each side resolves through its own catalog → file index →
    * stats, so join planning (broadcast of the small federated dims
    * here) works across catalog boundaries exactly as within one. */
  private def ensureFedCatalog(spark: SparkSession, dir: String): Unit = {
    val cname = "graft_fed"
    if (!spark.conf.getOption(s"spark.sql.catalog.$cname").isDefined) {
      spark.conf.set(s"spark.sql.catalog.$cname",
        classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cname.warehouse",
        sys.props("java.io.tmpdir") +
          s"/graft-fed-wh-${spark.sparkContext.applicationId}")
    }
    val cat = spark.sessionState.catalogManager.catalog(cname)
      .asInstanceOf[graft.catalog.GraftCatalog]
    val ns = Array("fed")
    if (!cat.namespaceExists(ns))
      cat.createNamespace(ns, java.util.Collections.emptyMap[String, String]())
    Seq("customer", "nation").foreach { t =>
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(ns, t)
      val location = s"$dir/$t.parquet"
      import org.apache.spark.sql.connector.catalog.TableCatalog.{PROP_LOCATION, PROP_PROVIDER}
      val stale = cat.tableExists(ident) &&
        cat.loadTable(ident).properties().get(PROP_LOCATION) != location
      if (stale) cat.dropTable(ident)
      if (stale || !cat.tableExists(ident)) {
        val schema = spark.read.parquet(location).schema
        cat.createTable(ident, schema,
          Array.empty[org.apache.spark.sql.connector.expressions.Transform],
          java.util.Map.of(PROP_PROVIDER, "parquet", PROP_LOCATION, location))
      }
    }
  }

  def q50_multi_catalog_join(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    ensureFedCatalog(spark, dir)
    val orders = Tables(spark, dir, "orders")
    val cust = spark.table("graft_fed.fed.customer")
    val nat = spark.table("graft_fed.fed.nation")
    orders.join(cust, $"o_custkey" === $"c_custkey")
      .join(nat, $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_orders"), r2(sum($"o_totalprice")).as("sum_price"))
      .orderBy($"n_name")
  }

  // ---------------------------------------------------------------- Q91
  /** Catalog-scoped SQL functions through the DSv2 `FunctionCatalog`
    * surface (see [[graft.catalog.CatalogFunctions]]): a SQL user calls
    * `graft.sys.array_dot` / `graft.sys.array_sqdist` by three-part
    * name — no session extension installed, the functions travel with
    * the catalog registration. The magic-method binding runs as a
    * direct codegen'd Invoke; scoring math mirrors the DataFrame
    * operators exactly, so the query hash-gates against DuckDB's
    * list-comprehension restatement. */
  def q91_catalog_function(spark: SparkSession, dir: String): DataFrame = {
    GraftBootstrap.ensure(spark, dir)
    Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .createOrReplaceTempView("q91_emb")
    val cat = GraftBootstrap.CatalogName
    spark.sql(
      s"""SELECT e.vec_id,
         |  round($cat.sys.array_dot(e.v, e.v) * 10000) / 10000 AS sq_norm4,
         |  round($cat.sys.array_sqdist(e.v, q.v) * 10000) / 10000 AS d0_4
         |FROM q91_emb e CROSS JOIN (SELECT v FROM q91_emb WHERE vec_id = 0) q
         |ORDER BY e.vec_id""".stripMargin)
  }

  // ---------------------------------------------------------------- Q51
  /** DELETE FROM through `SupportsDelete`: a partition-predicate DELETE
    * executes as directory deletes + catalog deregistration — no
    * row-level rewrite, O(partitions touched) whatever the table size.
    * Exercises the same filter-unwrap rule as static overwrite
    * (PartitionPredicates) from the second DSv2 entry point. */
  def q51_delete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q51_orders_del"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .writeTo(tgt).partitionedBy($"o_orderpriority").create()
    spark.sql(s"DELETE FROM $tgt WHERE o_orderpriority = '1-URGENT'")
    spark.table(tgt)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  // ---------------------------------------------------------------- Q52
  /** MERGE INTO through `SupportsRowLevelOperations` — upsert + delete +
    * insert in one statement, executed as group-based copy-on-write at
    * partition granularity ([[graft.catalog.write.GraftRowLevelOperation]]).
    * Runtime group filtering first finds the partitions containing
    * matches with a pushed-down scan of the plain table, then only those
    * partitions are read and rewritten; merge-inserts into unmatched
    * partitions append without touching existing files. At 100 TB that
    * is the difference between rewriting the table and rewriting the
    * handful of partitions the source actually hits. */
  def q52_merge_upsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q52_orders_merge"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    val orders = Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
    orders.writeTo(tgt).partitionedBy($"o_orderpriority").create()
    val src =
      orders.filter($"o_orderkey" % 100 === 0)
        .withColumn("o_totalprice", r2($"o_totalprice" * 1.1))
        .withColumn("op", lit("u"))
      .unionByName(orders.filter($"o_orderkey" % 100 === 50)
        .withColumn("op", lit("d")))
      .unionByName(orders.filter($"o_orderkey" % 100 === 1)
        .withColumn("o_orderkey", $"o_orderkey" + 100000000L)
        .withColumn("op", lit("i")))
    src.createOrReplaceTempView("q52_merge_src")
    spark.sql(
      s"""MERGE INTO $tgt tgt USING q52_merge_src src
         |ON tgt.o_orderkey = src.o_orderkey
         |WHEN MATCHED AND src.op = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_totalprice,
         |  o_orderpriority) VALUES (src.o_orderkey, src.o_custkey,
         |  src.o_totalprice, src.o_orderpriority)
         |""".stripMargin)
    spark.table(tgt)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  // ---------------------------------------------------------------- Q94
  /** INCREMENTAL aggregate-rollup maintenance — the pattern that keeps
    * a 100 TB corpus' stats table fresh without ever rescanning it:
    * per-source document/token counts live in a catalog table built
    * from the PREVIOUS snapshot (doc_id ≡ 0 mod 3 — q86's convention);
    * a NEW batch (the rest) aggregates to per-source PARTIALS only
    * (cost ∝ batch), which MERGE into the stats table arithmetically —
    * matched sources ADD the deltas, unseen sources INSERT. The gate is
    * the maintenance invariant itself: the merged table must equal the
    * full recompute over all documents, which is exactly what the
    * DuckDB oracle states. Counts are exact longs ⇒ hash-gated.
    *
    * Composes q52's row-level MERGE machinery with the q59/q86
    * incremental-ingest argument: per-refresh cost tracks the batch
    * (one batch-sized aggregate + a stats-table-sized merge), never
    * the accumulated corpus. */
  def q94_incremental_rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q94_source_stats"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    def stats(df: org.apache.spark.sql.DataFrame) = df
      .filter($"text".isNotNull)
      .select($"source", graft.llm.TextOps.tokens($"text").as("toks"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size($"toks").cast("long")).as("n_tokens"))
    val docs = Tables(spark, dir, "documents")
    stats(docs.filter($"doc_id" % 3 === 0)).writeTo(tgt).create()
    stats(docs.filter($"doc_id" % 3 =!= 0)).createOrReplaceTempView("q94_batch")
    spark.sql(
      s"""MERGE INTO $tgt tgt USING q94_batch b
         |ON tgt.source = b.source
         |WHEN MATCHED THEN UPDATE SET
         |  n_docs = tgt.n_docs + b.n_docs,
         |  n_tokens = tgt.n_tokens + b.n_tokens
         |WHEN NOT MATCHED THEN INSERT (source, n_docs, n_tokens)
         |  VALUES (b.source, b.n_docs, b.n_tokens)
         |""".stripMargin)
    spark.table(tgt).orderBy($"source")
  }

  // ---------------------------------------------------------------- Q53
  /** UPDATE with a mixed partition + row predicate: the partition half
    * lets runtime group filtering prune the rewrite to ONE partition,
    * the row half selects which of its rows change — the other
    * partitions' files are never read or rewritten (asserted
    * bit-for-bit in RowLevelSpec). */
  def q53_update(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q53_orders_upd"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
      .writeTo(tgt).partitionedBy($"o_orderpriority").create()
    spark.sql(
      s"""UPDATE $tgt SET o_totalprice = round(o_totalprice * 0.9 * 100) / 100
         |WHERE o_orderpriority = '2-HIGH' AND o_custkey % 10 = 3""".stripMargin)
    spark.table(tgt)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  // ---------------------------------------------------------------- Q104
  /** Row-level DML on an AVRO table — closing the provider matrix
    * (q51–q54 cover parquet/orc; round 16 left avro refusing). The COW
    * rewrite's read half is the generic FileFormat-backed DSv2 scan
    * over the V1 `AvroFileFormat` (q101's read path,
    * [[org.apache.spark.sql.graft.GraftFormatScanBuilder]]); the write
    * half was already the AvroFileFormat delegate — so UPDATE and
    * row-predicate DELETE run as partition-scoped copy-on-write
    * rewrites exactly like the columnar providers, untouched partitions
    * keeping their files (RowLevelSpec pins the file-level behavior;
    * this entry hash-gates the row-level result). */
  def q104_avro_dml(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q104_orders_avro"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
      .writeTo(tgt).using("avro").partitionedBy($"o_orderpriority").create()
    spark.sql(
      s"""UPDATE $tgt SET o_totalprice = round(o_totalprice * 1.1 * 100) / 100
         |WHERE o_orderpriority = '2-HIGH' AND o_custkey % 10 = 3""".stripMargin)
    spark.sql(
      s"""DELETE FROM $tgt
         |WHERE o_custkey % 10 = 7 AND o_orderpriority = '3-MEDIUM'""".stripMargin)
    spark.table(tgt)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  // ---------------------------------------------------------------- Q54
  /** Row-predicate DELETE — the predicate `SupportsDelete` refuses
    * (q51's metadata-only path handles partition predicates) now
    * executes as a copy-on-write rewrite of just the partitions holding
    * matches. Partitions whose every row matches deregister entirely. */
  def q54_delete_rows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val tgt = s"${GraftBootstrap.CatalogName}.tmp.q54_orders_rowdel"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${GraftBootstrap.CatalogName}.tmp")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
      .writeTo(tgt).partitionedBy($"o_orderpriority").create()
    spark.sql(s"DELETE FROM $tgt WHERE o_custkey % 7 = 3 AND o_totalprice < 150000")
    spark.table(tgt)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  // ---------------------------------------------------------------- Q119
  /** MERGE-ON-READ DML — deletion-vector sidecars instead of partition
    * rewrites (`graft.dml.mode = merge-on-read` + a NOT NULL key).
    * UPDATE ships one key + one replacement row per changed row; DELETE
    * ships keys only; NO pre-existing data file is rewritten
    * (MorDmlSpec pins byte-identity) — the fix for COW's 100 TB write
    * amplification, where a 1-row UPDATE rewrote its whole partition.
    * Reads apply the vectors as a plan-level BROADCAST ANTI-JOIN
    * scoped per batch to exactly the files the DML scanned
    * (graft.plans.ResolveDeletionVectors), so untouched files keep
    * their vectorized pushed-down scans and a later re-insert of a
    * deleted key is visible again (the sequencing property Iceberg
    * needs sequence numbers for). This query hash-gates the combined
    * semantics: seed → MOR UPDATE (+1 qty on every fifth key) → MOR
    * DELETE (every key ≡ 3 mod 7) → aggregate equals DuckDB's
    * restatement over the source. */
  def q119_mor_dml(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q119_mor"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(
      s"""CREATE TABLE $t (k BIGINT NOT NULL, l_quantity DOUBLE,
         |  l_returnflag STRING)
         |PARTITIONED BY (l_returnflag)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read',
         |  'graft.dml.key'='k')""".stripMargin)
    Tables(spark, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast("bigint").as("k"),
        $"l_quantity".cast("double").as("l_quantity"), $"l_returnflag")
      .createOrReplaceTempView("q119_src")
    spark.sql(s"INSERT INTO $t SELECT * FROM q119_src")
    spark.sql(s"UPDATE $t SET l_quantity = l_quantity + 1 WHERE k % 5 = 0")
    spark.sql(s"DELETE FROM $t WHERE k % 7 = 3")
    // round 20: STACK an UPDATE and a MERGE over the live vectors (no
    // intervening compaction) — the delta read itself goes through the
    // anti-join split, so hidden keys must neither match nor resurrect
    spark.sql(s"UPDATE $t SET l_quantity = l_quantity * 2 WHERE k % 11 = 1")
    spark.sql(
      s"""MERGE INTO $t tgt
         |USING (SELECT DISTINCT k FROM q119_src WHERE k % 13 = 2) s
         |ON tgt.k = s.k
         |WHEN MATCHED AND s.k % 26 = 2 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET l_quantity = tgt.l_quantity + 100
         |""".stripMargin)
    spark.table(t).groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        r2(sum($"l_quantity")).as("sum_qty"),
        sum($"k" % 999983L).as("key_checksum"))
      .orderBy($"l_returnflag")
  }

  // --------------------------------------------------------------- Q119b
  /** COMPOSITE-KEY merge-on-read (round 20): `graft.dml.key` names a
    * comma-separated column TUPLE — the natural shape for fact tables
    * whose business key is (order, line), not a surrogate. The DV
    * sidecars carry all key columns; the read-side anti-join and the
    * CDC semi-join match on the tuple. The stacked sequence (UPDATE →
    * DELETE → stacked UPDATE, no compaction) exercises the composite
    * key through every MOR surface; every predicate is key-functional,
    * so the per-row DuckDB restatement is exact even over the
    * fixture's duplicate (orderkey, linenumber) tuples (equality
    * deletes hide all copies — the declared semantics). */
  def q119b_mor_composite_key(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q119b_mor"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(
      s"""CREATE TABLE $t (l_orderkey BIGINT NOT NULL,
         |  l_linenumber BIGINT NOT NULL, l_quantity DOUBLE,
         |  l_returnflag STRING)
         |PARTITIONED BY (l_returnflag)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read',
         |  'graft.dml.key'='l_orderkey,l_linenumber')""".stripMargin)
    Tables(spark, dir, "lineitem")
      .select($"l_orderkey".cast("bigint"), $"l_linenumber".cast("bigint"),
        $"l_quantity".cast("double").as("l_quantity"), $"l_returnflag")
      .createOrReplaceTempView("q119b_src")
    spark.sql(s"INSERT INTO $t SELECT * FROM q119b_src")
    spark.sql(s"UPDATE $t SET l_quantity = l_quantity + 1 WHERE l_orderkey % 5 = 0")
    spark.sql(s"DELETE FROM $t WHERE (l_orderkey + l_linenumber) % 7 = 3")
    spark.sql(s"UPDATE $t SET l_quantity = l_quantity * 2 WHERE l_linenumber % 3 = 1")
    spark.table(t).groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        r2(sum($"l_quantity")).as("sum_qty"),
        sum(($"l_orderkey" * 8 + $"l_linenumber") % 999983L).as("key_checksum"))
      .orderBy($"l_returnflag")
  }

  // ---------------------------------------------------------------- Q121
  /** POSITIONAL merge-on-read (round 20) — `graft.dml.mode =
    * merge-on-read` with NO `graft.dml.key`: the row identity is the
    * (`_file`, `_pos`) metadata pair (Iceberg position deletes), so
    * tables WITHOUT any natural NOT NULL key — including tables with
    * fully DUPLICATED rows, which equality deletes cannot even declare —
    * get deletion-vector DML and its write-amplification fix. `_pos` is
    * the parquet reader's native row index; `_file` is the file's
    * LOGICAL identity (original dir + name), so positions keep applying
    * after retirement moves the file (travel/CDC reads). The seed here
    * is deliberately keyless and duplicate-heavy (quantity, price,
    * flag), and every DML predicate is a row-wise function of the
    * columns, so the multiset semantics — each OCCURRENCE updated or
    * deleted independently, multiplicity preserved — restate exactly as
    * DuckDB's CASE/WHERE chain. The stacked DELETE → UPDATE → MERGE
    * runs with no intervening compaction (the delta reads anti-join the
    * live positions). */
  def q121_mor_positional(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q121_mor_pos"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(
      s"""CREATE TABLE $t (l_quantity DOUBLE, l_extendedprice DOUBLE,
         |  l_returnflag STRING)
         |PARTITIONED BY (l_returnflag)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read')""".stripMargin)
    Tables(spark, dir, "lineitem")
      .select($"l_quantity".cast("double").as("l_quantity"),
        $"l_extendedprice".cast("double").as("l_extendedprice"),
        $"l_returnflag")
      .createOrReplaceTempView("q121_src")
    spark.sql(s"INSERT INTO $t SELECT * FROM q121_src")
    spark.sql(s"DELETE FROM $t WHERE l_quantity < 5")
    spark.sql(s"UPDATE $t SET l_extendedprice = l_extendedprice + 100 " +
      "WHERE l_quantity > 45")
    spark.sql(
      s"""MERGE INTO $t tgt
         |USING (SELECT DISTINCT l_quantity AS q FROM q121_src
         |       WHERE l_quantity BETWEEN 20 AND 25) s
         |ON tgt.l_quantity = s.q
         |WHEN MATCHED THEN UPDATE SET l_extendedprice = tgt.l_extendedprice * 2
         |""".stripMargin)
    spark.table(t).groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        r2(sum($"l_quantity")).as("sum_qty"),
        r2(sum($"l_extendedprice")).as("sum_price"))
      .orderBy($"l_returnflag")
  }

  // ---------------------------------------------------------------- Q120
  /** CHANGELOG READ (CDC) — `Snapshots.addedBetween` extended past its
    * append-only refusal: the rows inserted AND deleted between two
    * retained snapshots, as the table's columns + `_change_type` +
    * `_change_version`, computed by a pure MANIFEST walk (per-commit
    * shard diffs; removed files read from their retirement area —
    * restorable by the q116 contract — and merge-on-read commits
    * contribute their deletion-vector keys). Planning is O(dirs +
    * changed files) metadata and the scan reads ONLY changed files:
    * "what changed since v" on a 100 TB table touches the day's files,
    * never the corpus. The sequence here exercises all three change
    * sources: an append (inserts), a partition DELETE (retired-file
    * deletes), and a static partition overwrite (deletes + inserts),
    * aggregated per (change, version, partition) and hash-compared to
    * DuckDB's restatement. Served as a DataFrame operator and as
    * `CALL sys.changes_view(...)` for pure SQL. */
  def q120_changelog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q120_cdc"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val li = Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_quantity".cast("double").as("l_quantity"),
        $"l_returnflag")
    // v1: seed evens; v2: append odds; v3: partition DELETE of 'R';
    // v4: static overwrite of 'A' with its every-third-orderkey subset
    li.filter($"l_orderkey" % 2 === 0).writeTo(t)
      .partitionedBy($"l_returnflag").create()
    li.filter($"l_orderkey" % 2 === 1).writeTo(t).append()
    spark.sql(s"DELETE FROM $t WHERE l_returnflag = 'R'")
    li.filter($"l_returnflag" === "A" && $"l_orderkey" % 3 === 0)
      .createOrReplaceTempView("q120_ovw")
    spark.sql(s"INSERT OVERWRITE $t PARTITION (l_returnflag = 'A') " +
      "SELECT l_orderkey, l_quantity FROM q120_ovw")
    spark.sql(s"CALL $cat.sys.changes_view('$t', 3, 0, 'q120_changes')")
    spark.table("q120_changes")
      .groupBy($"_change_type", $"_change_version", $"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        r2(sum($"l_quantity")).as("sum_qty"),
        sum($"l_orderkey" % 999983L).as("key_checksum"))
      .orderBy($"_change_type", $"_change_version", $"l_returnflag")
  }

  // --------------------------------------------------------------- Q120b
  /** ROW-GRANULAR CHANGELOG across a COW rewrite (q120's Delta-CDF gap
    * closed): the q120 surface restates EVERY row of a rewritten file as
    * delete + insert — valid, but a 2-row UPDATE in a large partition
    * reads as whole-partition churn. `rowGranular` nets the two sides
    * per commit (removed EXCEPT ALL added / added EXCEPT ALL removed,
    * multiset full-row equality), so only the rows the UPDATE actually
    * changed surface — computed at READ time from the same manifests,
    * one extra shuffle over the CHANGED files only, no commit-time
    * bookkeeping. The oracle restates exactly the matched rows' old and
    * new versions. */
  def q120b_changelog_row_granular(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftBootstrap.ensure(spark, dir)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q120b_cdc"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_quantity".cast("double").as("l_quantity"),
        $"l_returnflag")
      .writeTo(t).partitionedBy($"l_returnflag").create()       // v1 seed
    // v2: a sparse COW UPDATE — rewrites every touched partition's files
    // wholesale, but the row-granular feed must emit ONLY the matched
    // rows (old version as delete, new as insert)
    spark.sql(s"UPDATE $t SET l_quantity = l_quantity + 100 " +
      "WHERE l_orderkey % 1000 = 7")
    spark.sql(
      s"CALL $cat.sys.changes_view('$t', 1, 0, 'q120b_changes', true)")
    spark.table("q120b_changes")
      .groupBy($"_change_type", $"_change_version", $"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        r2(sum($"l_quantity")).as("sum_qty"),
        sum($"l_orderkey" % 999983L).as("key_checksum"))
      .orderBy($"_change_type", $"_change_version", $"l_returnflag")
  }

  // ------------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q119_mor_dml" -> (q119_mor_dml _),
    "q119b_mor_composite_key" -> (q119b_mor_composite_key _),
    "q121_mor_positional" -> (q121_mor_positional _),
    "q120_changelog" -> (q120_changelog _),
    "q120b_changelog_row_granular" -> (q120b_changelog_row_granular _),
    "q24_write_roundtrip" -> (q24_write_roundtrip _),
    "q51_delete" -> (q51_delete _),
    "q49_compaction" -> (q49_compaction _),
    "q96_vacuum" -> (q96_vacuum _),
    "q97_spj_join" -> (q97_spj_join _),
    "q100_bucketed_spj_join" -> (q100_bucketed_spj_join _),
    "q103_composite_spj_join" -> (q103_composite_spj_join _),
    "q105_layout_stack" -> (q105_layout_stack _),
    "q106_sorted_bucket_join" -> (q106_sorted_bucket_join _),
    "q107_runtime_bucket_prune" -> (q107_runtime_bucket_prune _),
    "q108_agg_pushdown" -> (q108_agg_pushdown _),
    "q109_file_skipping" -> (q109_file_skipping _),
    "q110_zorder_skipping" -> (q110_zorder_skipping _),
    "q111_dynamic_file_pruning" -> (q111_dynamic_file_pruning _),
    "q112_bloom_skipping" -> (q112_bloom_skipping _),
    "q113_metadata_tables" -> (q113_metadata_tables _),
    "q114_generation_rollback" -> (q114_generation_rollback _),
    "q115_time_travel" -> (q115_time_travel _),
    "q116_snapshot_time_travel" -> (q116_snapshot_time_travel _),
    "q117_runtime_skip_join" -> (q117_runtime_skip_join _),
    "q118_incremental_append" -> (q118_incremental_append _),
    "q102_call_maintenance" -> (q102_call_maintenance _),
    "q99_migrate_format" -> (q99_migrate_format _),
    "q88_clustered_compaction" -> (q88_clustered_compaction _),
    "q91_catalog_function" -> (q91_catalog_function _),
    "q94_incremental_rollup" -> (q94_incremental_rollup _),
    "q50_multi_catalog_join" -> (q50_multi_catalog_join _),
    "q42_json_roundtrip" -> (q42_json_roundtrip _),
    "q45_schema_evolution" -> (q45_schema_evolution _),
    "q45b_rename_over_data" -> (q45b_rename_over_data _),
    "q25_udaf_weighted_mean" -> (q25_udaf_weighted_mean _),
    "q26_udf_normalize" -> (q26_udf_normalize _),
    "q39_csv_roundtrip" -> (q39_csv_roundtrip _),
    "q95_orc_roundtrip" -> (q95_orc_roundtrip _),
    "q101_avro_roundtrip" -> (q101_avro_roundtrip _),
    "q52_merge_upsert" -> (q52_merge_upsert _),
    "q53_update" -> (q53_update _),
    "q54_delete_rows" -> (q54_delete_rows _),
    "q104_avro_dml" -> (q104_avro_dml _),
  )

  val oracles: Map[String, String] = Map(
    // Merge-on-read DML restated over the source: key = orderkey*8 +
    // linenumber (unique; linenumber ∈ 1..7). The STACKED sequence
    // (UPDATE, DELETE, then UPDATE and MERGE over the live vectors):
    // qty +1 where the first UPDATE matched, rows gone where the DELETE
    // matched, *2 where the stacked UPDATE matched a LIVE row, then the
    // MERGE deletes live k%26=2 and adds 100 to the other live k%13=2 —
    // hidden keys must neither match nor resurrect at any step.
    "q119_mor_dml" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round(sum(CASE WHEN k % 13 = 2 THEN q2 + 100 ELSE q2 END)
        |        * 100) / 100 AS sum_qty,
        |  CAST(sum(k % 999983) AS BIGINT) AS key_checksum
        | FROM (
        |  SELECT k, l_returnflag,
        |    CASE WHEN k % 11 = 1 THEN q1 * 2 ELSE q1 END AS q2
        |  FROM (
        |    SELECT l_orderkey * 8 + l_linenumber AS k,
        |      CASE WHEN (l_orderkey * 8 + l_linenumber) % 5 = 0
        |           THEN l_quantity + 1 ELSE l_quantity END AS q1,
        |      l_returnflag
        |    FROM lineitem) a
        |  WHERE k % 7 <> 3) b
        | WHERE k % 26 <> 2
        | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Field-id evolution restated: the first generation keeps its names
    // (served under the rename) with a DEAD regionkey (dropped + re-added
    // under a fresh id ⇒ NULL); the second generation carries the evolved
    // values (+100 keys, +50 regions).
    "q45b_rename_over_data" ->
      """SELECT * FROM (
        |  SELECT n_nationkey, n_name AS nation_name,
        |    CAST(NULL AS BIGINT) AS n_regionkey
        |  FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 100, n_name, CAST(n_regionkey + 50 AS BIGINT)
        |  FROM nation
        |) ORDER BY n_nationkey""".stripMargin,
    // Positional MOR restated row-wise: rows with quantity < 5 die,
    // survivors with quantity > 45 gain +100 price, then the MERGE
    // doubles the price of every (live) row whose quantity is in
    // [20, 25] — each OCCURRENCE independently, multiplicity preserved
    // (the semantics only position deletes can express over a
    // duplicate-heavy keyless table).
    "q121_mor_positional" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round(sum(l_quantity) * 100) / 100 AS sum_qty,
        |  round(sum(CASE WHEN l_quantity BETWEEN 20 AND 25 THEN p1 * 2
        |                 ELSE p1 END) * 100) / 100 AS sum_price
        | FROM (
        |  SELECT l_returnflag, l_quantity,
        |    CASE WHEN l_quantity > 45 THEN l_extendedprice + 100
        |         ELSE l_extendedprice END AS p1
        |  FROM lineitem WHERE l_quantity >= 5) a
        | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // The changelog restated: v2 inserted the odd orderkeys (every
    // flag), v3 deleted everything then in partition R (evens + odds),
    // v4 deleted everything then in partition A and inserted its
    // every-third-orderkey subset. Aggregates per (change, version,
    // flag) must match exactly — retired-file reads and the manifest
    // walk can neither lose nor invent a row.
    "q120_changelog" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS _change_type, CAST(2 AS BIGINT) AS _change_version,
        |    l_returnflag, count(*) AS n_rows,
        |    round(sum(l_quantity) * 100) / 100 AS sum_qty,
        |    CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum
        |  FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'delete', CAST(3 AS BIGINT), l_returnflag, count(*),
        |    round(sum(l_quantity) * 100) / 100,
        |    CAST(sum(l_orderkey % 999983) AS BIGINT)
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'delete', CAST(4 AS BIGINT), l_returnflag, count(*),
        |    round(sum(l_quantity) * 100) / 100,
        |    CAST(sum(l_orderkey % 999983) AS BIGINT)
        |  FROM lineitem WHERE l_returnflag = 'A' GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'insert', CAST(4 AS BIGINT), l_returnflag, count(*),
        |    round(sum(l_quantity) * 100) / 100,
        |    CAST(sum(l_orderkey % 999983) AS BIGINT)
        |  FROM lineitem WHERE l_returnflag = 'A' AND l_orderkey % 3 = 0
        |  GROUP BY l_returnflag
        |) ORDER BY _change_type, _change_version, l_returnflag""".stripMargin,
    // Composite-key MOR restated per source row: every predicate is a
    // function of (orderkey, linenumber), so tuple-equality deletes and
    // the stacked updates reduce to the row-wise CASE/WHERE chain.
    "q119b_mor_composite_key" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round(sum(CASE WHEN l_linenumber % 3 = 1 THEN q1 * 2 ELSE q1 END)
        |        * 100) / 100 AS sum_qty,
        |  CAST(sum((l_orderkey * 8 + l_linenumber) % 999983) AS BIGINT)
        |    AS key_checksum
        | FROM (
        |  SELECT l_orderkey, l_linenumber, l_returnflag,
        |    CASE WHEN l_orderkey % 5 = 0 THEN l_quantity + 1
        |         ELSE l_quantity END AS q1
        |  FROM lineitem) a
        | WHERE (l_orderkey + l_linenumber) % 7 <> 3
        | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Row-granular netting: the COW UPDATE rewrote whole partitions, but
    // ONLY the matched rows may surface — old versions as deletes, new
    // (+100) versions as inserts. Every carried row must cancel.
    "q120b_changelog_row_granular" ->
      """SELECT * FROM (
        |  SELECT 'delete' AS _change_type, CAST(2 AS BIGINT) AS _change_version,
        |    l_returnflag, count(*) AS n_rows,
        |    round(sum(l_quantity) * 100) / 100 AS sum_qty,
        |    CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum
        |  FROM lineitem WHERE l_orderkey % 1000 = 7 GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'insert', CAST(2 AS BIGINT), l_returnflag, count(*),
        |    round(sum(l_quantity + 100) * 100) / 100,
        |    CAST(sum(l_orderkey % 999983) AS BIGINT)
        |  FROM lineitem WHERE l_orderkey % 1000 = 7 GROUP BY l_returnflag
        |) ORDER BY _change_type, _change_version, l_returnflag""".stripMargin,
    // The final table state is derivable from the source: untouched
    // partitions keep their rows, the overwritten partition carries the
    // adjusted price.
    "q24_write_roundtrip" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderpriority = '1-URGENT'
        |       THEN round((o_totalprice * 0.5) * 100) / 100
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderpriority
        | FROM orders ORDER BY o_orderkey""".stripMargin,
    // Exact integer-cents weighted mean — identical arithmetic to the
    // Aggregator: every intermediate is an integer exactly representable
    // in a double, so accumulation order is irrelevant in both engines.
    "q25_udaf_weighted_mean" ->
      """SELECT l_returnflag,
        |  round(sum(round(l_extendedprice * 100) * l_quantity) / sum(l_quantity)) / 100
        |    AS w_mean_price
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q39_csv_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        | ORDER BY n_nationkey""".stripMargin,
    // ORC round-trip: read the original parquet, mirror the flattened
    // read-back column names.
    "q95_orc_roundtrip" ->
      """SELECT n_nationkey, n_name AS name, n_regionkey AS regionkey
        | FROM nation ORDER BY n_nationkey""".stripMargin,
    // Avro round-trip: read the original parquet, mirror the flattened
    // read-back column names.
    "q101_avro_roundtrip" ->
      """SELECT n_nationkey, n_name AS name, n_regionkey AS regionkey
        | FROM nation ORDER BY n_nationkey""".stripMargin,
    // The deleted partition's rows are gone; everything else survives.
    "q51_delete" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        | WHERE o_orderpriority <> '1-URGENT' ORDER BY o_orderkey""".stripMargin,
    // The maintenance invariant: incremental merge == full recompute.
    "q94_incremental_rollup" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')))
        |       AS BIGINT) AS n_tokens
        | FROM documents WHERE text IS NOT NULL
        | GROUP BY source ORDER BY source""".stripMargin,
    // The catalog-function math restated as list comprehensions: both
    // engines fold left-to-right over the common prefix, so the 1e-4
    // rounding is far outside float disagreement.
    "q91_catalog_function" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        | SELECT e.vec_id,
        |   round(list_sum([x * x for x in e.v]) * 10000) / 10000 AS sq_norm4,
        |   round(list_sum([(e.v[i] - qv[i]) * (e.v[i] - qv[i])
        |                   for i in range(1, len(e.v) + 1)]) * 10000) / 10000 AS d0_4
        | FROM e CROSS JOIN q ORDER BY e.vec_id""".stripMargin,
    // Both catalogs expose the same fixture data, so the federated join
    // equals the single-source join.
    "q50_multi_catalog_join" ->
      """SELECT n_name, count(*) AS n_orders,
        |  round((sum(o_totalprice)) * 100) / 100 AS sum_price
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY n_name ORDER BY n_name""".stripMargin,
    // Compaction preserved the data exactly: row counts, an
    // order-independent key checksum, and the price sum all match the
    // source. CAST keeps DuckDB's sum(BIGINT)→HUGEINT off the hash.
    "q49_compaction" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(((l_orderkey % 1000003) * 131071 + l_linenumber) % 1000000007)
        |       AS BIGINT) AS key_checksum,
        |  round((sum(l_extendedprice)) * 100) / 100 AS sum_price
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // SQL-driven compact + vacuum preserve every live row exactly.
    "q102_call_maintenance" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  round((sum(o_totalprice)) * 100) / 100 AS sum_price
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Vacuum preserves every live row exactly: the post-vacuum table
    // aggregate equals the source aggregate.
    "q96_vacuum" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  round((sum(o_totalprice)) * 100) / 100 AS sum_price
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Migration preserves every row exactly: the post-migration parquet
    // table aggregate equals the source aggregate.
    "q99_migrate_format" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  round((sum(o_totalprice)) * 100) / 100 AS sum_price
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // The co-partitioned join restated: arrival through the SPJ plan
    // must not change the answer.
    "q97_spj_join" ->
      """SELECT a.o_orderpriority, count(*) AS n_rows,
        |  round((sum(a.o_totalprice)) * 100) / 100 AS sum_price
        | FROM orders a
        | JOIN (SELECT o_orderkey, o_orderpriority FROM orders
        |       WHERE o_orderkey % 3 = 0 AND o_orderpriority <> '5-LOW') b
        |   ON a.o_orderpriority = b.o_orderpriority
        |  AND a.o_orderkey = b.o_orderkey
        | GROUP BY a.o_orderpriority ORDER BY a.o_orderpriority""".stripMargin,
    // The bucketed join restated as a plain join: arrival through the
    // zero-exchange bucket-aligned plan must not change the answer; the
    // b-side key checksum proves per-row matching. CAST keeps DuckDB's
    // sum(BIGINT)→HUGEINT off the hash.
    "q100_bucketed_spj_join" ->
      """SELECT a.o_orderpriority, count(*) AS n_rows,
        |  round((sum(a.o_totalprice)) * 100) / 100 AS sum_price,
        |  CAST(sum(b.b_orderkey % 1000003) AS BIGINT) AS key_checksum
        | FROM orders a
        | JOIN (SELECT o_orderkey AS b_orderkey FROM orders
        |       WHERE o_orderkey % 3 = 0) b
        |   ON a.o_orderkey = b.b_orderkey
        | GROUP BY a.o_orderpriority ORDER BY a.o_orderpriority""".stripMargin,
    // The sort-free merge join restated as a plain join: arrival
    // through the exchange-less, sort-less merge plan must not change
    // the answer; the b-side key checksum proves per-row matching.
    "q106_sorted_bucket_join" ->
      """SELECT a.o_orderstatus, count(*) AS n_rows,
        |  round((sum(a.o_totalprice)) * 100) / 100 AS sum_price,
        |  CAST(sum(b.b_orderkey % 999983) AS BIGINT) AS key_checksum
        | FROM orders a
        | JOIN (SELECT o_orderkey AS b_orderkey FROM orders
        |       WHERE o_orderkey % 2 = 1) b
        |   ON a.o_orderkey = b.b_orderkey
        | GROUP BY a.o_orderstatus ORDER BY a.o_orderstatus""".stripMargin,
    // Both Z-order probes restated plainly: the interleaved layout must
    // not change either answer.
    // Time travel restated over the source: VERSION AS OF 1 must return
    // the PRE-migrate seed (even part keys) even after the post-migrate
    // append added the odd half to the live table.
    "q115_time_travel" ->
      """SELECT 'as_of_1' AS probe, count(*) AS n_rows,
        |  CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum
        | FROM lineitem WHERE l_partkey % 2 = 0
        |UNION ALL
        |SELECT 'current' AS probe, count(*) AS n_rows,
        |  CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum
        | FROM lineitem
        |ORDER BY probe""".stripMargin,
    // Snapshot travel restated over the source: versions_back 2 is the
    // even-partkey seed, versions_back 1 the full pre-overwrite table
    // (its files were physically displaced by the INSERT OVERWRITE and
    // must resolve from the retirement area), current the overwritten
    // every-third-orderkey subset.
    "q116_snapshot_time_travel" ->
      """SELECT 'as_of_1_pre_overwrite' AS probe, count(*) AS n_rows,
        |  CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum
        | FROM lineitem
        |UNION ALL
        |SELECT 'as_of_2_seed' AS probe, count(*) AS n_rows,
        |  CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum
        | FROM lineitem WHERE l_partkey % 2 = 0
        |UNION ALL
        |SELECT 'current' AS probe, count(*) AS n_rows,
        |  CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum
        | FROM lineitem WHERE l_orderkey % 3 = 0
        |ORDER BY probe""".stripMargin,
    // The runtime-skipped composite join restated plainly: the dim is
    // exactly the distinct part keys divisible by 97, so the inner join
    // equals the WHERE — file/bloom pruning must not change a row.
    "q117_runtime_skip_join" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round((sum(l_quantity)) * 100) / 100 AS sum_qty,
        |  CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum
        | FROM lineitem WHERE l_partkey % 97 = 0
        | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Incremental append reads restated as the appended slices' WHEREs:
    // the manifest set-difference must return each append bit-exactly.
    "q118_incremental_append" ->
      """SELECT 'appended_fifths' AS probe, count(*) AS n_rows,
        |  CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum,
        |  round((sum(l_quantity)) * 100) / 100 AS sum_qty
        | FROM lineitem WHERE (l_orderkey * 7 + l_linenumber) % 5 = 0
        |UNION ALL
        |SELECT 'appended_odds' AS probe, count(*) AS n_rows,
        |  CAST(sum(l_orderkey % 999983) AS BIGINT) AS key_checksum,
        |  round((sum(l_quantity)) * 100) / 100 AS sum_qty
        | FROM lineitem WHERE l_partkey % 2 = 1
        |ORDER BY probe""".stripMargin,
    // Rollback restated over the source: after create -> migrate-to-orc
    // -> rollback, the ORIGINAL parquet generation must serve the exact
    // original rows; exactly one retired generation (the orc one)
    // remains restorable.
    "q114_generation_rollback" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round((sum(l_quantity)) * 100) / 100 AS sum_qty,
        |  CAST(1 AS BIGINT) AS gens_retired
        | FROM lineitem
        | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Metadata tables cross-checked against the data: the files table's
    // record counts and the partitions table's row counts must each sum
    // to the true count; the file count is pinned by construction (the
    // range write's 8 shuffle partitions), the partition count by the
    // column's domain.
    "q113_metadata_tables" ->
      """SELECT 'files' AS probe, CAST(8 AS BIGINT) AS n_entries,
        |  count(*) AS n_rows FROM lineitem
        |UNION ALL
        |SELECT 'partitions' AS probe,
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_entries,
        |  count(*) AS n_rows FROM lineitem
        |ORDER BY probe""".stripMargin,
    // Bloom skipping restated plainly: scheduling only the bloom-
    // matched files must not change the answer; the key checksum proves
    // per-row matching. sum cast keeps DuckDB's HUGEINT off the hash.
    "q112_bloom_skipping" ->
      """SELECT source, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id % 999983) AS BIGINT) AS key_checksum
        | FROM documents
        | WHERE doc_id IN ((SELECT min(doc_id) + 5 FROM documents),
        |                  (SELECT min(doc_id) + 105 FROM documents),
        |                  (SELECT min(doc_id) + 1005 FROM documents))
        | GROUP BY source ORDER BY source""".stripMargin,
    // Dynamic file pruning restated as a plain join: scheduling only
    // the files whose ranges overlap the dim's surviving keys must not
    // change the answer; the key checksum proves per-row matching.
    "q111_dynamic_file_pruning" ->
      """SELECT f.l_returnflag, count(*) AS n_rows,
        |  round((sum(f.l_quantity)) * 100) / 100 AS sum_qty,
        |  CAST(sum(f.l_orderkey % 999983) AS BIGINT) AS key_checksum
        | FROM lineitem f
        | JOIN (SELECT o_orderkey AS d_key FROM orders
        |       WHERE o_orderkey BETWEEN 1000 AND 2000
        |         AND o_orderpriority = '1-URGENT') d
        |   ON f.l_orderkey = d.d_key
        | GROUP BY f.l_returnflag ORDER BY f.l_returnflag""".stripMargin,
    "q110_zorder_skipping" ->
      """SELECT 'by_order' AS probe, count(*) AS n_rows,
        |  round((sum(l_quantity)) * 100) / 100 AS sum_qty
        | FROM lineitem WHERE l_orderkey BETWEEN 500 AND 900
        |UNION ALL
        |SELECT 'by_part' AS probe, count(*) AS n_rows,
        |  round((sum(l_quantity)) * 100) / 100 AS sum_qty
        | FROM lineitem WHERE l_partkey BETWEEN 100 AND 300
        |ORDER BY probe""".stripMargin,
    // File skipping restated plainly: scheduling only the overlapping
    // files must equal scanning them all.
    "q109_file_skipping" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round((sum(l_quantity)) * 100) / 100 AS sum_qty
        | FROM lineitem
        | WHERE l_orderkey BETWEEN 1000 AND 2000
        | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // The footer-stats aggregate restated plainly: answering from
    // row-group statistics must equal answering from the rows.
    "q108_agg_pushdown" ->
      """SELECT count(*) AS n_rows,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        | FROM lineitem""".stripMargin,
    // Runtime bucket pruning restated as a plain join: reading only the
    // runtime-matched buckets must not change the answer; the key
    // checksum proves per-row matching.
    "q107_runtime_bucket_prune" ->
      """SELECT f.o_orderstatus, count(*) AS n_rows,
        |  round((sum(f.o_totalprice)) * 100) / 100 AS sum_price,
        |  CAST(sum(f.o_orderkey % 999983) AS BIGINT) AS key_checksum
        | FROM orders f
        | JOIN (SELECT o_orderkey AS d_key FROM orders
        |       WHERE o_orderkey % 31 = 0 AND o_orderpriority = '1-URGENT') d
        |   ON f.o_orderkey = d.d_key
        | GROUP BY f.o_orderstatus ORDER BY f.o_orderstatus""".stripMargin,
    // The composite-layout join restated as a plain join: arrival
    // through the partition-pruned, bucket-aligned zero-exchange plan
    // must not change the answer; the b-side row checksum proves
    // per-row matching. CAST keeps DuckDB's sum(BIGINT)→HUGEINT off
    // the hash.
    "q103_composite_spj_join" ->
      """SELECT a.l_returnflag, count(*) AS n_rows,
        |  round((sum(a.l_extendedprice)) * 100) / 100 AS sum_price,
        |  CAST(sum((b.b_orderkey * 7 + b.b_linenumber) % 1000003) AS BIGINT)
        |    AS key_checksum
        | FROM lineitem a
        | JOIN (SELECT l_returnflag AS b_returnflag, l_orderkey AS b_orderkey,
        |              l_linenumber AS b_linenumber
        |       FROM lineitem WHERE l_orderkey % 3 = 0) b
        |   ON a.l_returnflag = b.b_returnflag
        |  AND a.l_orderkey = b.b_orderkey
        | GROUP BY a.l_returnflag ORDER BY a.l_returnflag""".stripMargin,
    // The full-stack query restated plainly: arrival through the
    // directory-pruned, row-group-skipped, bucket-aligned plan must not
    // change the answer.
    "q105_layout_stack" ->
      """SELECT a.l_returnflag, count(*) AS n_rows,
        |  round((sum(a.l_extendedprice)) * 100) / 100 AS sum_price,
        |  round((sum(b.b_quantity)) * 100) / 100 AS sum_qty
        | FROM (SELECT * FROM lineitem
        |       WHERE l_returnflag <> 'N'
        |         AND l_shipdate >= TIMESTAMP '1995-06-01') a
        | JOIN (SELECT l_returnflag AS b_returnflag, l_orderkey AS b_orderkey,
        |              l_quantity AS b_quantity
        |       FROM lineitem WHERE l_linenumber = 1) b
        |   ON a.l_returnflag = b.b_returnflag
        |  AND a.l_orderkey = b.b_orderkey
        | GROUP BY a.l_returnflag ORDER BY a.l_returnflag""".stripMargin,
    // the clustered rewrite must preserve the data exactly through the
    // range read the clustering exists for
    "q88_clustered_compaction" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(((l_orderkey % 1000003) * 131071 + l_linenumber) % 1000000007)
        |       AS BIGINT) AS key_checksum,
        |  round((sum(l_extendedprice)) * 100) / 100 AS sum_price
        | FROM lineitem WHERE l_orderkey BETWEEN 10000 AND 30000
        | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // The pre-ALTER generation reads the added column as NULL; the
    // post-ALTER generation carries real values.
    "q45_schema_evolution" ->
      """SELECT n_nationkey, n_name, CAST(NULL AS VARCHAR) AS extra FROM nation
        | UNION ALL
        | SELECT n_nationkey + 100, n_name, CAST(n_regionkey AS VARCHAR) AS extra
        | FROM nation
        | ORDER BY n_nationkey""".stripMargin,
    // Nested values flattened after the read-back: if the struct/map did
    // not survive the JSON write, these columns would not match.
    "q42_json_roundtrip" ->
      """SELECT n_nationkey, n_name AS name, n_regionkey AS regionkey,
        |  CAST(length(n_name) AS BIGINT) AS name_len,
        |  CAST(n_regionkey AS BIGINT) AS attr_region
        | FROM nation ORDER BY n_nationkey""".stripMargin,
    // Final state is derivable from the source alone: matched update keys
    // carry the adjusted price, matched delete keys vanish, insert keys
    // appear offset by 1e8 with their original attributes.
    "q52_merge_upsert" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 100 = 0
        |       THEN round((o_totalprice * 1.1) * 100) / 100
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderpriority
        | FROM orders WHERE o_orderkey % 100 <> 50
        | UNION ALL
        | SELECT o_orderkey + 100000000, o_custkey, o_totalprice,
        |        o_orderpriority
        | FROM orders WHERE o_orderkey % 100 = 1
        | ORDER BY o_orderkey""".stripMargin,
    // Identical arithmetic to the UPDATE's SET expression.
    "q53_update" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderpriority = '2-HIGH' AND o_custkey % 10 = 3
        |       THEN round(o_totalprice * 0.9 * 100) / 100
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderpriority
        | FROM orders ORDER BY o_orderkey""".stripMargin,
    // The avro table's final state is derivable from the source: the
    // update's CASE over surviving rows, minus the delete's matches.
    "q104_avro_dml" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderpriority = '2-HIGH' AND o_custkey % 10 = 3
        |       THEN round(o_totalprice * 1.1 * 100) / 100
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderpriority
        | FROM orders
        | WHERE NOT (o_custkey % 10 = 7 AND o_orderpriority = '3-MEDIUM')
        | ORDER BY o_orderkey""".stripMargin,
    // Survivors are the complement of the row predicate.
    "q54_delete_rows" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        | FROM orders
        | WHERE NOT (o_custkey % 7 = 3 AND o_totalprice < 150000)
        | ORDER BY o_orderkey""".stripMargin,
    "q26_udf_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       '\s+', ' ', 'g')) AS norm_text,
        |  length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       '\s+', ' ', 'g'))) AS norm_len
        | FROM documents ORDER BY doc_id""".stripMargin,
  )
}
