package graft
import java.nio.file.{Files, Paths}

import graft.catalog.GraftIO.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name-prefix filter for quick
    // single-query iteration (the driver's 2-arg invocation runs all)
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
    val spark = GraftBootstrap.localSession("4")
    new java.io.File(outDir).mkdirs()
    // A crashing query must surface as an error entry, never silently
    // shrink the inventory (round-10 lesson: q54's crash made the round
    // report 70/70 green instead of 70/71). The sentinel is a parquet
    // dir the driver can't read plus an `_error` text file with the
    // message — absence of output can no longer be mistaken for
    // "not declared".
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      val sentinel = Paths.get(s"$outDir/${name}._error")
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // outDir reuse: a stale sentinel from an earlier failed run must
        // not keep reporting ERR once the query is green again
        Files.deleteIfExists(sentinel)
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val msg = s"${e.getClass.getName}: ${e.getMessage}\n" +
          e.getStackTrace.take(12).mkString("", "\n", "\n")
        Files.writeString(sentinel, msg)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // summary on stderr; exit 0 regardless — the per-query _error
    // sentinels carry the failures, and a nonzero exit could make the
    // driver discard the 70 good results along with the one bad one
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} " +
          s"failed: ${failed.sorted.mkString(", ")}")
  }
}
