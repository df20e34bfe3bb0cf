package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftBootstrap, SparkEntry, Tables}
import graft.operators.{Compaction, EngineQueries, Rollback, Vacuum}

/** Helpers shared by the workloads. */
private object Owned {
  val Ns = s"${GraftBootstrap.CatalogName}.perfbench"

  def location(spark: SparkSession, table: String): String =
    spark.sessionState.catalogManager.catalog(GraftBootstrap.CatalogName)
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("perfbench"), table))
      .properties().get(TableCatalog.PROP_LOCATION)

  /** Every file under `dir` with its size, hidden and retired files
    * included. */
  def files(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(new java.net.URI(
      if (dir.startsWith("file:")) dir else "file:" + dir))
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally s.close()
    }
  }

  def parquetRows(spark: SparkSession, file: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path("file:" + file), spark.sessionState.newHadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }
}

/** Runs inventory entries of [[SparkEntry.queries]] through both scan
  * paths: the catalog (engine) and plain `spark.read.parquet` (raw). */
private abstract class InventoryWorkload(h: Harness) extends Workload {
  protected def spark: SparkSession = h.spark

  /** Switch the fixture read path and register that mode's temp views
    * before any timing starts (switching clears the view cache). */
  protected def mode(raw: Boolean): Unit = {
    Tables.setRawMode(raw)
    Tables.registerViews(spark, h.data)
  }

  protected def query(name: String): DataFrame = SparkEntry.queries(name)(spark, h.data)

  /** Engine results of the warm-up, by statement. */
  private val engineRows = mutable.Map.empty[String, Vector[String]]

  /** Warm-up that collects every statement's engine result and hands it
    * to the DuckDB check where an oracle SQL exists (run.py compares). */
  protected def check(names: Seq[String])(run: (String, Boolean) => DataFrame): Unit = {
    mode(raw = false)
    names.foreach { n =>
      h.stmt(n, "read")(run(n, false))(h.canon).foreach { case (rows, _) =>
        engineRows(n) = rows
        h.rowsOut(n) = rows.size.toLong
        oracle(n).foreach(sql => h.oracleDumps += ((n, sql, rows)))
      }
    }
  }

  protected def oracle(name: String): Option[String] = SparkEntry.oracleSql.get(name)

  /** After the measured passes: the engine results of statements without
    * an oracle (all of them in the traced run) against their raw-parquet
    * twins. Running the twins last leaves the measured passes of the
    * traced and untraced runs with the same history. */
  protected def twins(names: Seq[String])(run: (String, Boolean) => DataFrame): Unit = {
    val todo = names.filter(n => engineRows.contains(n) && (h.tracer.on || oracle(n).isEmpty))
    if (todo.nonEmpty) {
      mode(raw = true)
      todo.foreach { n =>
        h.stmt(s"$n@raw", "twin")(run(n, true))(h.canon).foreach { case (raw, _) =>
          h.expect(n, engineRows(n), raw)
        }
      }
      mode(raw = false)
    }
  }
}

/** read_scan: the read-only relational inventory plus seeded point,
  * range, partition-pruned, skip-stats and bucketed-join SQL over owned
  * copies of lineitem and orders. Short statements, so Catalyst, the
  * catalog and the scan layer hold a large share of each one; no commits,
  * so descriptor and listing caches stay warm. The traced run times each
  * statement against its raw-parquet twin back to back in ABBA order. */
private final class ReadScan(h: Harness) extends InventoryWorkload(h) {
  // the traced run adds two passes that time every statement against its
  // raw twin, so the engine/raw ratio has a pass-to-pass spread
  override val extraTracedPasses = 2
  val passSeconds = 7.0
  private val inventory = Seq(
    "q02_agg_tpch1", "q03_join_broadcast", "q06_semi_join", "q07_anti_join",
    "q09_distinct_agg", "q12_grouping_sets", "q16_topk", "q17a_union", "q21_json",
    "q22_correlated_subquery", "q23_cte_subquery")
  private val owned = Seq("li_skip", "li_pb", "ord_b")
  private val buckets = 8

  /** Seeded SQL over the owned copies, written in the dialect Spark and
    * DuckDB share; `{t}` names an owned table. */
  private val seeded: Seq[(String, String)] = {
    val nOrd = (1500000 * h.sf).toInt // the fixtures' orders keys: 0 until nOrd
    val r = new Random(h.seed)
    def key = r.nextInt(nOrd).toLong
    val w = 1 + nOrd / 200
    def pruning(i: Int) = {
      val a = key
      Seq(
        s"point_$i" -> ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice " +
          s"FROM {li_skip} WHERE l_orderkey = $key"),
        s"range_$i" -> ("SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q " +
          s"FROM {li_skip} WHERE l_orderkey BETWEEN $a AND ${a + w} GROUP BY l_returnflag"),
        s"skip_$i" -> ("SELECT count(*) AS n, sum(l_quantity) AS q, min(l_partkey) AS pk " +
          s"FROM {li_skip} WHERE l_orderkey IN ($key, $key, $key, $key)"))
    }
    val b = key
    pruning(0) ++ pruning(1) ++ Seq(
      "partition" -> ("SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS q, " +
        s"max(l_extendedprice) AS mx FROM {li_pb} WHERE l_returnflag = " +
        s"'${Seq("A", "N", "R")(r.nextInt(3))}' AND l_quantity >= ${1 + r.nextInt(45)} " +
        "GROUP BY l_linestatus"),
      "bucket" -> ("SELECT o.o_orderpriority, count(*) AS n, sum(l.l_quantity) AS q " +
        "FROM {li_pb} l JOIN {ord_b} o ON l.l_orderkey = o.o_orderkey " +
        s"WHERE o.o_orderkey BETWEEN $b AND ${b + 4 * w} GROUP BY o.o_orderpriority"))
  }
  private val seededSql = seeded.toMap
  private val statements = inventory ++ seeded.map(_._1)

  private def sqlFor(name: String, raw: Boolean): String =
    owned.foldLeft(seededSql(name)) { (s, t) =>
      s.replace(s"{$t}", if (raw) s"raw_$t" else s"${Owned.Ns}.$t")
    }

  private def duckSql(name: String): String = seededSql(name)
    .replace("{li_skip}", "lineitem").replace("{li_pb}", "lineitem").replace("{ord_b}", "orders")

  private def run(name: String, raw: Boolean): DataFrame =
    if (seededSql.contains(name)) spark.sql(sqlFor(name, raw)) else query(name)

  /** Bucketed joins run under the storage-partitioned-join confs. */
  private def withConfs[T](name: String)(body: => T): T =
    if (name == "bucket") EngineQueries.withSpjConfs(spark)(body) else body

  def setup(s: SparkSession): Unit = {
    Tables.setRawMode(false)
    GraftBootstrap.ensure(s, h.data)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS ${Owned.Ns}")
    owned.foreach(t => s.sql(s"DROP TABLE IF EXISTS ${Owned.Ns}.$t"))
    val li = Tables(s, h.data, "lineitem")
    li.repartitionByRange(2 * h.cores, col("l_orderkey"))
      .writeTo(s"${Owned.Ns}.li_skip")
      .tableProperty(graft.catalog.SkipStats.Prop, "l_orderkey").create()
    // the composite layout: identity partitions on the flag, hash buckets
    // on the order key
    li.writeTo(s"${Owned.Ns}.li_pb")
      .partitionedBy(col("l_returnflag"), bucket(buckets, col("l_orderkey"))).create()
    Tables(s, h.data, "orders")
      .writeTo(s"${Owned.Ns}.ord_b").partitionedBy(bucket(buckets, col("o_orderkey"))).create()
    owned.foreach(t => s.read.parquet(Owned.location(s, t)).createOrReplaceTempView(s"raw_$t"))
    Tables.registerViews(s, h.data)
  }

  override protected def oracle(name: String): Option[String] =
    if (seededSql.contains(name)) Some(duckSql(name)) else super.oracle(name)

  private def runWithConfs(n: String, raw: Boolean): DataFrame = withConfs(n)(run(n, raw))

  def checkPass(): Unit = check(statements)(runWithConfs)

  private val ratios = mutable.ArrayBuffer.empty[Double]

  def pass(i: Int): Unit = {
    var (engine, raw) = (0.0, 0.0)
    statements.zipWithIndex.foreach { case (n, j) =>
      // ABBA: alternate which side of the twin runs first
      val sides = if (!h.extra) Seq(false) else if (j % 2 == 0) Seq(false, true) else Seq(true, false)
      sides.foreach { side =>
        mode(side)
        withConfs(n) {
          h.stmt(if (side) s"$n@raw" else n, if (side) "twin" else "read")(run(n, side))(h.noop)
        }.foreach { case (_, sec) => if (side) raw += sec else engine += sec }
      }
    }
    mode(raw = false)
    if (raw > 0) ratios += engine / raw
  }

  override def finish(): Unit = {
    twins(statements)(runWithConfs)
    if (ratios.nonEmpty) {
      h.layer("catalog.overhead_ratio") = h.median(ratios.toSeq)
      h.layer("catalog.overhead_ratio_spread") = ratios.max - ratios.min
    }
  }
}

/** One row of a churn table: key, value, partition. */
private final case class R(k: Long, v: Long, p: Int)

/** churn_curate: every pass is a seeded sequence of appends, static and
  * dynamic INSERT OVERWRITE, copy-on-write and merge-on-read (keyed and
  * positional) UPDATE/DELETE/MERGE, a rollback of the last commit
  * (`Rollback.rollback`), interleaved with current-state and
  * `VERSION AS OF` reads over tables the benchmark owns, then a compaction
  * and a vacuum, then the job-heavy pipelines: iterative BPE merge
  * induction (graft.llm; ten merge steps whatever the data) and
  * micro-batch MERGE upserts into a catalog sink (graft.streaming).
  * Every commit invalidates the caches read_scan keeps warm, reads go
  * through deletion-vector merge, and the
  * catalog is a negligible share of the pipelines, where the driver floor
  * and stage parallelism show. Each read and the final state are checked
  * against a replay of the same operations on plain rows; the streaming
  * pipeline against its DuckDB oracle (its batch equivalent), the BPE
  * statement, which has no oracle, against its raw-parquet twin. */
private final class ChurnCurate(h: Harness) extends InventoryWorkload(h) {
  val passSeconds = 10.0
  private val pipelines = Seq("q81_bpe_merges", "s12_stream_merge_upsert")
  private val tables = Seq(
    "cow" -> "",
    "mor" -> "TBLPROPERTIES ('graft.dml.mode'='merge-on-read', 'graft.dml.key'='k')",
    "pos" -> "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
  private val initialRows = 10000
  private val parts = 8
  private val r = new Random(h.seed)

  private val schema = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("v", LongType), StructField("p", IntegerType)))
  /** Replay model: current rows and the rows before the last commit. */
  private val model = mutable.Map.empty[String, Vector[R]]
  private val before = mutable.Map.empty[String, Vector[R]]
  /** Whether the last operation on a table was a data commit. */
  private val lastWasCommit = mutable.Map.empty[String, Boolean].withDefaultValue(false)
  private var nextKey = initialRows.toLong
  private var opNo = 0

  private def name(t: String) = s"${Owned.Ns}.$t"
  private def initial(k: Long) = R(k, (k * 7919 + h.seed).abs % 1000, (k % parts).toInt)

  def setup(s: SparkSession): Unit = {
    Tables.setRawMode(false)
    GraftBootstrap.ensure(s, h.data)
    Tables.registerViews(s, h.data)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS ${Owned.Ns}")
    tables.foreach { case (t, props) =>
      s.sql(s"DROP TABLE IF EXISTS ${name(t)}")
      s.sql(s"CREATE TABLE ${name(t)} (k BIGINT NOT NULL, v BIGINT, p INT) " +
        s"PARTITIONED BY (p) $props")
      s.range(0, initialRows).select(col("id").as("k"),
          (abs(col("id") * 7919 + h.seed) % 1000).as("v"), (col("id") % parts).cast("int").as("p"))
        .writeTo(name(t)).append()
      model(t) = (0L until initialRows).map(initial).toVector
      before(t) = Vector.empty
      lastWasCommit(t) = false
    }
  }

  private def df(rows: Seq[R]): DataFrame =
    spark.createDataFrame(rows.map(x => Row(x.k, x.v, x.p)).asJava, schema)

  private def fresh(n: Int, p: Option[Int] = None): Seq[R] = (0 until n).map { _ =>
    val k = nextKey
    nextKey += 1
    R(k, r.nextInt(1000).toLong, p.getOrElse((k % parts).toInt))
  }

  private def commit(t: String, next: Vector[R]): Unit = {
    before(t) = model(t)
    model(t) = next
    lastWasCommit(t) = true
  }

  /** Files under the owned tables (path -> bytes), for the traced run's
    * write accounting: DSv2 writes do not fill Spark's task output
    * metrics, so bytes and rows written are read off what landed on disk. */
  private def files(): Map[String, Long] =
    if (!h.tracer.on) Map.empty
    else tables.flatMap { case (t, _) => Owned.files(Owned.location(spark, t)) }.toMap

  /** A statement over the owned tables whose new files are counted as
    * written (`write.*`) or rewritten (`maintenance.*`). */
  private def changing(id: String, kind: String)(body: => Unit): Boolean = {
    val before = files()
    val ok = h.stmt(id, kind) { body; spark.emptyDataFrame }(_ => ()).isDefined
    val added = files().filter { case (f, n) => !before.get(f).contains(n) }
    if (h.tracer.on && h.recording) {
      val bytes = added.values.sum.toDouble
      if (kind == "maint") h.layer("maintenance.bytes_rewritten") += bytes
      else {
        h.layer("write.bytes_written") += bytes
        h.layer("write.rows_written") += added.keys.filter(_.endsWith(".parquet"))
          .map(Owned.parquetRows(spark, _)).sum.toDouble
      }
    }
    ok
  }

  private def write(id: String, t: String, next: => Vector[R], changed: => Int)(
      body: => Unit): Unit =
    if (changing(id, "write")(body)) {
      if (h.recording) h.layer("write.rows_changed") += changed
      commit(t, next)
    }

  private def agg(rows: Vector[R]): Vector[String] =
    if (rows.isEmpty) Vector("[0,null,null]")
    else Vector(s"[${rows.size},${rows.map(_.k).sum},${rows.map(_.v).sum}]")

  private def read(id: String, sql: String, want: Vector[String]): Unit = {
    h.rowsOut(id) = 1L
    h.stmt(id, "read")(spark.sql(sql))(h.canon).foreach { case (got, _) =>
      h.expect(id, got, want)
    }
  }

  /** The (operation, table) pairs of one pass. Parameters, keys and rows
    * are seeded; the sequence is fixed, because an operation's cost
    * depends on the table state the ones before it left (deletion vectors
    * stacked since the last compaction, files rewritten), and a fixed
    * sequence keeps that state comparable across seeds. */
  private val mix = Seq("append" -> "pos", "update" -> "cow", "update" -> "mor",
    "read_partition" -> "mor", "delete" -> "mor", "merge" -> "mor", "travel" -> "mor",
    "update" -> "pos", "merge" -> "pos", "rollback" -> "pos", "read" -> "pos",
    "overwrite_static" -> "cow",
    "overwrite_dynamic" -> "cow", "read" -> "cow")

  /** One seeded operation. */
  private def step(opTable: (String, String)): Unit = {
    opNo += 1
    val (op, t) = opTable
    val cur = model(t)
    val id = s"${op}_${t}_$opNo"
    def agg3(where: String) = s"SELECT count(*) AS n, sum(v) AS sv, sum(k) AS sk FROM $where"
    op match {
      case "append" =>
        val rows = fresh(200)
        write(id, t, cur ++ rows, rows.size)(df(rows).writeTo(name(t)).append())
      case "overwrite_static" =>
        val p = r.nextInt(parts)
        val rows = fresh(150, Some(p)) ++ cur.filter(_.p == p).take(100).map(x => x.copy(v = x.v + 1))
        write(id, t, cur.filterNot(_.p == p) ++ rows, rows.size) {
          df(rows).createOrReplaceTempView("churn_src")
          spark.sql(s"INSERT OVERWRITE ${name(t)} PARTITION (p = $p) SELECT k, v FROM churn_src")
        }
      case "overwrite_dynamic" =>
        val ps = Set(r.nextInt(parts), r.nextInt(parts))
        val rows = ps.toSeq.flatMap(p => fresh(100, Some(p)))
        write(id, t, cur.filterNot(x => ps(x.p)) ++ rows, rows.size) {
          df(rows).writeTo(name(t)).overwritePartitions()
        }
      case "update" =>
        val (m, rem, c) = (10 + r.nextInt(40), r.nextInt(10), 1 + r.nextInt(9))
        val hit = (x: R) => x.k % m == rem
        write(id, t, cur.map(x => if (hit(x)) x.copy(v = x.v + c) else x), cur.count(hit)) {
          spark.sql(s"UPDATE ${name(t)} SET v = v + $c WHERE k % $m = $rem")
        }
      case "delete" =>
        val (m, rem) = (20 + r.nextInt(60), r.nextInt(20))
        val hit = (x: R) => x.k % m == rem
        write(id, t, cur.filterNot(hit), cur.count(hit)) {
          spark.sql(s"DELETE FROM ${name(t)} WHERE k % $m = $rem")
        }
      case "merge" =>
        val keys = cur.map(_.k).distinct
        val present = keys.toSet
        val old = Seq.fill(100)(keys(r.nextInt(keys.size))).distinct
          .map(k => R(k, r.nextInt(1000).toLong, (k % parts).toInt))
        val src = old ++ fresh(100)
        val byKey = src.map(x => x.k -> x).toMap
        val next = cur.map(x => byKey.get(x.k).map(s => x.copy(v = s.v)).getOrElse(x)) ++
          src.filterNot(x => present(x.k))
        write(id, t, next, src.size) {
          df(src).createOrReplaceTempView("churn_src")
          spark.sql(
            s"""MERGE INTO ${name(t)} tgt USING churn_src s ON tgt.k = s.k
               |WHEN MATCHED THEN UPDATE SET v = s.v
               |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.v, s.p)""".stripMargin)
        }
      case "rollback" =>
        // undoes the table's last commit; the rollback is a commit too
        write(id, t, before(t), (before(t).toSet diff cur.toSet).size) {
          Rollback.rollback(spark, name(t))
        }
        lastWasCommit(t) = false
      case "read_partition" =>
        val p = r.nextInt(parts)
        read(id, agg3(s"${name(t)} WHERE p = $p"), agg(cur.filter(_.p == p)))
      case "travel" if lastWasCommit(t) =>
        // VERSION AS OF 1 is the state before the table's last commit;
        // compaction commits too, so it is read only after a data commit
        read(id, agg3(s"${name(t)} VERSION AS OF 1"), agg(before(t)))
      case _ => read(id, agg3(name(t)), agg(cur))
    }
  }

  /** Compaction (which folds deletion vectors), then vacuum with no
    * retention, of both merge-on-read tables. */
  private def maintain(): Unit = Seq("mor", "pos").foreach { t =>
    changing(s"compact_${t}_$opNo", "maint")(Compaction.compact(spark, name(t)))
    changing(s"vacuum_${t}_$opNo", "maint")(Vacuum.vacuum(spark, name(t), retentionMs = 0L))
    lastWasCommit(t) = false
  }

  /** Warm-up: one pass of the same mix, every read and pipeline checked. */
  def checkPass(): Unit = {
    mix.foreach(step)
    maintain()
    check(pipelines)((n, _) => query(n))
  }

  def pass(i: Int): Unit = {
    mix.foreach(step)
    maintain()
    pipelines.foreach(n => h.stmt(n, "read")(query(n))(h.noop))
  }

  override def finish(): Unit = {
    twins(pipelines)((n, _) => query(n))
    tables.foreach { case (t, _) =>
      h.stmt(s"final_$t", "read")(spark.table(name(t)).select("k", "v", "p"))(
        h.canon).foreach { case (got, _) =>
        h.expect(s"final_$t", got, Rows.canonical(model(t).map(x => Row(x.k, x.p, x.v)).toArray))
      }
    }
    if (h.tracer.on) {
      // space amplification: bytes on disk under the owned tables over the
      // bytes of the same live rows written once with the same layout
      var disk, once = 0L
      tables.foreach { case (t, _) =>
        disk += Owned.files(Owned.location(spark, t)).values.sum
        spark.sql(s"DROP TABLE IF EXISTS ${name(t)}_once")
        spark.sql(s"CREATE TABLE ${name(t)}_once PARTITIONED BY (p) AS SELECT * FROM ${name(t)}")
        once += Owned.files(Owned.location(spark, s"${t}_once")).values.sum
        spark.sql(s"DROP TABLE ${name(t)}_once")
      }
      h.layer("write.space_amp") = disk.toDouble / once.max(1L)
    }
  }
}
