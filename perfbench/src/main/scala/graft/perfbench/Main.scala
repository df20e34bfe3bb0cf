package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side: one workload, one seed, one client thread.
  *
  * Flags: --workload --seed --seconds --trace (0|1) --data (fixture dir)
  * --sf (the fixtures' scale factor) --work (run-private scratch dir)
  * --out (result file) [--spans file].
  * Writes the result object (metrics, attempted, failed, failures) to
  * `--out`; `run.py` adds the DuckDB checks and prints the final line. */
object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[graft.catalog.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.catalog.GraftLocalFs].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoint")
    val h = new Harness(spark, new Tracer(spark, trace, cores), cores,
      opt("seconds").toDouble, opt("data"), opt("sf").toDouble, seed)
    val wl: Workload = workload match {
      case "read_scan" => new ReadScan(h)
      case "churn_curate" => new ChurnCurate(h)
      case other => sys.error(s"unknown workload $other")
    }
    val result = try h.run(wl) finally {
      opt.get("spans").foreach(h.tracer.writeSpans)
    }
    Files.writeString(Paths.get(opt("out")), result)
    val t0 = System.nanoTime()
    spark.stop()
    System.err.println(f"[perfbench] Spark stopped in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}

/** A seeded, closed-loop workload. Passes are fixed sequences of
  * statements derived from the seed; a run measures a number of whole
  * passes that depends on `--seconds` alone (see [[Harness.passes]]). */
trait Workload {
  /** Seconds one warm pass takes on a 4-core machine: a run of
    * `--seconds` measures round(seconds / passSeconds) passes. A constant,
    * so the pass count never follows the engine's speed. */
  val passSeconds: Double
  /** Passes the traced run adds after the measured ones; they feed only
    * the metrics they are named for, never the measured figures. */
  val extraTracedPasses = 0
  /** Owned tables and views. Called on three fresh sessions; each call
    * must rebuild the same state from scratch. */
  def setup(spark: SparkSession): Unit
  /** Untimed warm-up that also checks every statement's result. */
  def checkPass(): Unit
  /** One pass; `i` counts from 0, the traced run's extra passes
    * follow the measured ones. */
  def pass(i: Int): Unit
  /** Untimed checks and measurements after the last pass. */
  def finish(): Unit = ()
}

/** Timing, tracing, hygiene and the metric computation shared by the
  * workloads. */
final class Harness(base: SparkSession, val tracer: Tracer, val cores: Int,
    val seconds: Double, val data: String, val sf: Double, val seed: Long) {
  var spark: SparkSession = base

  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Latencies of timed statements by kind (read, write, maint, twin). */
  val latency = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val passWall = mutable.ArrayBuffer.empty[Double]
  private var passAcc = 0.0
  private var batchesFrom, batchesTo = 0
  val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Result rows of each statement, learned in the check pass. */
  val rowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Engine results the DuckDB side re-checks: (id, oracle SQL, rows). */
  val oracleDumps = mutable.ArrayBuffer.empty[(String, String, Vector[String])]

  def fail(id: String, why: String): Unit = {
    failures += s"$id: ${why.linesIterator.nextOption().getOrElse("").take(300)}"
    System.err.println(s"[perfbench] FAIL $id: $why")
  }

  /** Synchronous residue reset between statements, outside every timed
    * window: the same blocking unpersist and drain graft.Bench uses. */
  def reset(): Unit = {
    val t0 = System.nanoTime()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.graft.SuiteHygiene.drain(spark.sparkContext)
    org.apache.spark.graft.SuiteHygiene.settle(spark.sparkContext)
    layer("hygiene.reset_s") += (System.nanoTime() - t0) / 1e9
  }

  /** True during passes; statements outside them (set-up, warm-up and
    * checks) are not recorded. */
  var recording = false
  /** True during the traced run's extra passes: their statements are
    * timed for the caller but kept out of every recorded figure. */
  var extra = false

  /** Whole passes a run measures: round(seconds / passSeconds), at least
    * one. The count never depends on elapsed time, so a faster engine
    * measures the same statements with the same sample count. */
  def passes(wl: Workload): Int = math.max(1, math.round(seconds / wl.passSeconds).toInt)

  /** Run one statement: `build` makes the result (eager DDL/DML runs
    * here), `act` is the final action. Statements of kind "twin" are the
    * raw-parquet twins: recorded, but kept out of the pass wall time and
    * the layer sums. Returns the action's value and the statement
    * seconds. */
  def stmt[T](id: String, kind: String)(build: => DataFrame)(
      act: DataFrame => T): Option[(T, Double)] = {
    val timed = recording
    reset()
    attempted += 1
    val sc = spark.sparkContext
    sc.setJobGroup(id, id)
    val before = if (tracer.on) tracer.engineCounters else Map.empty[String, Double]
    val st = new StmtStats(id, kind, tracer.now)
    tracer.current = st
    val out = try {
      val r = tracer.span(if (!timed) "check" else if (extra) "stmt.extra" else s"stmt.$kind") {
        val df = tracer.span("build")(build)
        st.add("build_s", (tracer.now - st.start) / 1000.0)
        tracer.span("plan")(df.queryExecution.executedPlan)
        tracer.span("execute")(act(df))
      }
      st.end = tracer.now
      Some((r, st.seconds))
    } catch {
      case NonFatal(e) =>
        st.end = tracer.now
        fail(id, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    if (tracer.on) org.apache.spark.graft.SuiteHygiene.settle(sc)
    tracer.current = null
    sc.clearJobGroup()
    if (timed && out.isDefined) {
      System.err.println(f"[perfbench] $kind%-5s $id%-36s ${st.seconds}%.3f s")
    }
    if (timed && !extra && out.isDefined) {
      latency.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += st.seconds
      if (kind != "twin") passAcc += st.seconds
      if (tracer.on && kind != "twin") {
        tracer.engineCounters.foreach { case (k, v) => st.add(k, v - before(k)) }
        val driverOnly = st.seconds - st.jobCovered
        st.add("exec.job_s", st.jobCovered)
        st.add("exec.driver_only_s", driverOnly)
        if (kind == "write") st.add("write.driver_only_s", driverOnly)
        if (kind == "maint") st.add(s"maintenance.${id.takeWhile(_ != '_')}_s", st.seconds)
        st.add("scan.rows_out", rowsOut(id).toDouble)
        st.counters.foreach { case (k, v) => layer(k) += v }
        tracer.stmts += st
      }
    }
    out
  }

  /** Consume every row of the statement's final physical plan, as a noop
    * sink does, without planning it a second time. */
  def noop(df: DataFrame): Unit = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.executedPlan.execute().foreach(_ => ())
    }
  }

  /** Check an engine result against a reference; a mismatch is a failure. */
  def expect(id: String, got: Vector[String], want: Vector[String]): Unit =
    Rows.diff(got, want).foreach(d => fail(id, s"result mismatch: $d"))

  private def timedPass(i: Int, wl: Workload): Unit = {
    passAcc = 0.0
    recording = true
    try tracer.span(if (extra) "pass.extra" else "pass")(wl.pass(i)) finally recording = false
    if (!extra) passWall += passAcc
  }

  private def heapLiveMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def run(wl: Workload): String = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val sessionReady = (tracer.now - jvmStart) / 1000.0
    System.err.println(f"[perfbench] session ready $sessionReady%.1f s after JVM start")
    // set-up three times on fresh sessions; the median is the set-up cost
    val setups = (1 to 3).map { _ =>
      val s = base.newSession()
      SparkSession.setActiveSession(s)
      SparkSession.setDefaultSession(s)
      spark = s
      tracer.attach(s)
      val t0 = tracer.now
      tracer.span("setup")(wl.setup(s))
      (tracer.now - t0) / 1000.0
    }
    val t0 = tracer.now
    tracer.span("check")(wl.checkPass())
    val warmup = (tracer.now - t0) / 1000.0
    val cold = (tracer.now - jvmStart) / 1000.0
    val gc0 = gcSeconds
    var heapPeak = 0.0
    batchesFrom = tracer.streamBatches.size
    val measuredPasses = passes(wl)
    // whole passes only, and a fixed number of them: every run measures
    // the same complete seeded sequences
    (0 until measuredPasses).foreach { i =>
      timedPass(i, wl)
      heapPeak = heapPeak max heapLiveMb
    }
    val gc = gcSeconds - gc0
    batchesTo = tracer.streamBatches.size
    if (tracer.on) {
      extra = true
      try (0 until wl.extraTracedPasses).foreach(j => timedPass(measuredPasses + j, wl))
      finally extra = false
    }
    tracer.span("finish")(wl.finish())
    layer("setup.session_s") = sessionReady
    // set-up runs until the first measured statement: the median set-up
    // stands for the three, the warm-up runs once
    metrics(wl, sessionReady + median(setups) + warmup, warmup, cold, gc, heapPeak)
  }

  // ------------------------------------------------------------ metrics

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The Harrell-Davis estimate of the median: a weighted mean of all
    * order statistics, the i-th of n weighted by the mass of
    * Beta((n+1)/2, (n+1)/2) on [(i-1)/n, i/n]. Statement latencies
    * cluster by statement kind, and the sample median jumps across the
    * gap between two clusters when one statement moves a little; this
    * estimate moves smoothly. */
  def p50(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n < 3) return median(s)
    val a = (n + 1) / 2.0 - 1 // both Beta exponents
    val steps = 64
    // scaled to 1 at t = 1/2, so large n cannot underflow
    def density(t: Double) =
      if (t <= 0 || t >= 1) 0.0 else math.exp(a * (math.log(4 * t) + math.log(1 - t)))
    val mass = (0 until n).map { i => // Simpson's rule on [i/n, (i+1)/n]
      val h = 1.0 / n / steps
      (0 to steps).map { j =>
        density(i.toDouble / n + j * h) * (if (j == 0 || j == steps) 1 else if (j % 2 == 1) 4 else 2)
      }.sum * h / 3
    }
    s.zip(mass).map { case (x, w) => x * w }.sum / mass.sum
  }

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail: the highest percentile with at least ten samples beyond
    * it, i.e. the eleventh-largest sample. Below 21 samples that would
    * not be above the median; the maximum stands in. Returns (value,
    * percentile, n). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 21) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  private def metrics(wl: Workload, setup: Double, warmup: Double, cold: Double,
      gc: Double, heapPeak: Double): String = {
    val ops = latency.filter { case (k, _) => k != "twin" }.values.flatten.toSeq
    val (opTail, opPct, opN) = tail(ops)
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!tracer.on) {
      out("setup_s") = (setup, "s")
      out("wall_s") = (median(passWall.toSeq), "s")
      out("op_p50_s") = (p50(ops), "s")
      out("op_tail_s") = (opTail, "s")
    } else {
      val l = layer
      def put(k: String, v: Double, unit: String): Unit = out(k) = (v, unit)
      def lat(kind: String): Seq[Double] = latency.getOrElse(kind, Nil).toSeq
      // the measured passes are the ones the untraced run also measures
      put("trace.wall_s", median(passWall.toSeq), "s")
      put("trace.op_p50_s", p50(ops), "s")
      put("trace.op_tail_s", opTail, "s")
      put("read_p50_s", p50(lat("read")), "s")
      put("read_tail_s", tail(lat("read"))._1, "s")
      put("write_p50_s", p50(lat("write") ++ lat("maint")), "s")
      put("write_tail_s", tail(lat("write") ++ lat("maint"))._1, "s")
      val batches = tracer.streamBatches.asScala.slice(batchesFrom, batchesTo).toSeq
      put("batch_p50_s", p50(batches.map(_(0))), "s")
      put("batch_tail_s", tail(batches.map(_(0)))._1, "s")
      put("fail_frac", failures.size.toDouble / attempted.max(1), "ratio")
      put("setup.session_s", l("setup.session_s"), "s")
      put("setup.cold_s", cold, "s")
      put("setup.warmup_s", warmup, "s")
      for (p <- Seq("analysis", "optimization", "planning"))
        put(s"catalyst.${p}_s", l(s"catalyst.${p}_s"), "s")
      put("catalyst.query_executions", l("catalyst.query_executions"), "count")
      put("catalog.descriptor_reads", l("catalog.descriptor_reads"), "count")
      put("catalog.descriptor_read_s", l("catalog.descriptor_read_s"), "s")
      put("catalog.overhead_ratio", l("catalog.overhead_ratio"), "ratio")
      put("catalog.overhead_ratio_spread", l("catalog.overhead_ratio_spread"), "ratio")
      put("scan.bytes_read", l("scan.bytes_read"), "bytes")
      put("scan.rows_read", l("scan.rows_read"), "count")
      put("scan.rows_read_per_row_out",
        if (l("scan.rows_out") > 0) l("scan.rows_read") / l("scan.rows_out") else 0.0, "ratio")
      put("dv.physical_listings", l("dv.physical_listings"), "count")
      put("dv.skipped_delta_files", l("dv.skipped_delta_files"), "count")
      put("write.bytes_written", l("write.bytes_written"), "bytes")
      put("write.rows_written", l("write.rows_written"), "count")
      put("write.bytes_per_row_changed",
        if (l("write.rows_changed") > 0) l("write.bytes_written") / l("write.rows_changed") else 0.0,
        "bytes")
      put("write.driver_only_s", l("write.driver_only_s"), "s")
      put("write.space_amp", l("write.space_amp"), "ratio")
      put("maintenance.compact_s", l("maintenance.compact_s"), "s")
      put("maintenance.vacuum_s", l("maintenance.vacuum_s"), "s")
      put("maintenance.bytes_rewritten", l("maintenance.bytes_rewritten"), "bytes")
      for (k <- Seq("jobs", "stages", "tasks", "narrow_stages"))
        put(s"exec.$k", l(s"exec.$k"), "count")
      for (k <- Seq("job_s", "driver_only_s", "task_s")) put(s"exec.$k", l(s"exec.$k"), "s")
      val stmtS = tracer.stmts.map(_.seconds).sum
      put("exec.driver_only_share", if (stmtS > 0) l("exec.driver_only_s") / stmtS else 0.0, "ratio")
      put("exec.parallelism", if (l("exec.job_s") > 0) l("exec.task_s") / l("exec.job_s") else 0.0,
        "ratio")
      put("exec.shuffle_bytes", l("exec.shuffle_bytes"), "bytes")
      put("exec.spill_bytes", l("exec.spill_bytes"), "bytes")
      put("stream.batches", batches.size.toDouble, "count")
      put("stream.add_batch_s", batches.map(_(1)).sum, "s")
      put("stream.planning_s", batches.map(_(2)).sum, "s")
      put("stream.wal_commit_s", batches.map(_(3)).sum, "s")
      put("stream.state_rows", batches.map(_(4)).sum, "count")
      put("build_s", l("build_s"), "s")
      put("hygiene.reset_s", l("hygiene.reset_s"), "s")
      put("jvm.gc_s", gc, "s")
      put("jvm.heap_live_peak_mb", heapPeak, "MB")
    }
    System.err.println(f"[perfbench] ops n=$opN tail=p$opPct%.1f passes=${passWall.size} " +
      f"setup=$setup%.2fs warmup=$warmup%.2fs failures=${failures.size}")
    def js(s: String) = Rows.value(s)
    val m = out.map { case (k, (v, u)) =>
      s"${js(k)}:{${js("value")}:${if (v.isNaN || v.isInfinite) 0.0 else v},${js("unit")}:${js(u)}}"
    }.mkString("{", ",", "}")
    val dumps = oracleDumps.map { case (id, sql, rows) =>
      s"{${js("id")}:${js(id)},${js("sql")}:${js(sql)},${js("rows")}:${rows.map(js).mkString("[", ",", "]")}}"
    }.mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":${failures.size},"metrics":$m,""" +
      s""""failures":${failures.map(js).mkString("[", ",", "]")},"oracle":$dumps}"""
  }

  /** Collected canonical rows of a DataFrame, columns in name order. */
  def canon(df: DataFrame): Vector[String] = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    Rows.canonical(df.collect().map(r => Row.fromSeq(order.map(r.get))))
  }
}
