package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session for all suites (one JVM-wide session — Spark
  * sessions are expensive; suites must not stop() it). */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.catalog.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.catalog.GraftLocalFs].getName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
