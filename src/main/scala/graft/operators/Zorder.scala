package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.catalog.GraftCatalog

/** Z-ORDER clustering — multi-dimensional file locality for q109's
  * file-level data skipping. A single-column sort (`cluster.by`, or
  * q109's range distribution) gives tight per-file ranges on ONE
  * column; a table queried by several independent predicates (order id
  * sometimes, part id other times) needs per-file locality on ALL of
  * them at once. The classic answer is the Z-curve: quantize each
  * clustering column into 2^bits equal-width bins over its observed
  * [min, max] (one aggregate pass), interleave the bin bits into one
  * long, and range-distribute + sort the rewrite by that value — every
  * written file then covers a contiguous Z-interval, whose projection
  * onto EACH dimension is a bounded box, so the skip-stats manifest
  * records tight min/max for every clustering column and a predicate
  * on any one of them prunes files (the Delta `OPTIMIZE ZORDER BY`
  * capability, re-expressed over the engine's manifest + staged
  * rewrite).
  *
  * Execution shape (all-declarative, no driver-side data): one min/max
  * aggregate, then `repartitionByRange(targetFiles, z)` (sampling-based
  * range boundaries — the scalable alternative to a global sort) with
  * `sortWithinPartitions(z)` for row-group locality inside each file.
  * Equal-width quantization keeps the bin mapping a pure codegen'd
  * expression (no lookup table to broadcast); heavily skewed columns
  * degrade gracefully — bins collapse but ranges stay CORRECT, and the
  * manifest never over-promises (a wide file range just skips less).
  *
  * Safety: the rewrite is a [[Relocate]] transaction — written to a
  * staging generation while readers resolve the current location, then
  * one descriptor flip under the write permit; a crash leaves staging
  * residue the namespace vacuum reclaims, and the old generation stays
  * for in-flight readers and rollback until the retention sweep. The
  * skip-stats manifest for the new generation is written before the
  * flip, so the first post-flip query already skips.
  *
  * Scope: unpartitioned, unbucketed tables — the heap-shaped fact
  * table this layout tier exists for. Partitioned tables compose
  * pruning from directories (q103), bucketed tables from the hash
  * layout (q100); both refuse here with the matching operator named.
  */
object Zorder {

  /** Interleave width: 16 bits per column up to 3 columns, shrinking so
    * the Z value always fits a non-negative long. */
  private def bitsPerCol(n: Int): Int = math.min(16, 62 / n)

  /** The Z-value column for `cols`, given each column's observed
    * (min, max): equal-width bin via `width_bucket` (clamped to
    * [0, 2^bits)), bits interleaved most-significant-first across
    * columns so no dimension dominates the curve. */
  private[operators] def zvalue(
      cols: Seq[(String, Double, Double)]): Column = {
    val n = cols.size
    val bits = bitsPerCol(n)
    val nb = 1L << bits
    val bins = cols.map { case (c, mn, mx) =>
      if (mx <= mn) lit(0L) // constant column: one bin, contributes nothing
      else {
        val wb = width_bucket(col(c).cast("double"), lit(mn), lit(mx), lit(nb))
        // width_bucket: 1..nb inside, 0 / nb+1 outside; nulls → null.
        // Shift to 0-based and clamp — out-of-range and null rows land
        // in the edge bins (correctness never depends on the bin).
        least(greatest(coalesce(wb, lit(1L)) - 1L, lit(0L)), lit(nb - 1L))
      }
    }
    (0 until bits).flatMap { i =>
      bins.zipWithIndex.map { case (b, c) =>
        // bit i of column c → position i*n + (n-1-c)
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * n + (n - 1 - c))
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Rewrite `table` Z-ordered by `cols` into `targetFiles` files. */
  def zorder(
      spark: SparkSession,
      table: String,
      cols: Seq[String],
      targetFiles: Int = 32): Unit = {
    require(cols.size >= 2,
      s"zorder($table): interleaving needs >= 2 columns " +
        "(single-column locality is graft.cluster.by / a range-distributed write)")
    require(targetFiles > 0, s"zorder($table): targetFiles must be positive")
    val (plugin, Array(db, name)) = GraftCatalog.resolve(spark, table, "zorder")
    val pre = plugin.metaStore.loadTable(db, name)
    require(!pre.external,
      s"zorder($table): EXTERNAL tables own their files; refusing to rewrite")
    require(pre.partitionColumns.isEmpty,
      s"zorder($table): partitioned tables prune from their directories; " +
        "compact() is their in-place rewrite")
    require(GraftCatalog.writableBucketSpec(pre).isEmpty,
      s"zorder($table): bucketed tables prune from the hash layout; " +
        "a Z rewrite would scatter rows across bucket files")
    val resolved = cols.map { c =>
      val f = pre.schema.fields.find(f =>
        spark.sessionState.conf.resolver(f.name, c)).getOrElse(
        throw new IllegalArgumentException(
          s"zorder($table): no such column $c"))
      require(f.dataType.isInstanceOf[NumericType],
        s"zorder($table): ${f.name} is ${f.dataType.simpleString}; the " +
          "equal-width quantizer takes numeric columns")
      f.name
    }

    Relocate.rewrite(spark, plugin, db, pre,
      s"zorder rewrite of $table by ${resolved.mkString(",")} since " +
        s"${java.time.Instant.now()}") { meta =>
      val df = spark.table(table)
      val ranges = {
        val aggs = resolved.flatMap(c =>
          Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        resolved.zipWithIndex.map { case (c, i) =>
          (c,
            if (row.isNullAt(2 * i)) 0d else row.getDouble(2 * i),
            if (row.isNullAt(2 * i + 1)) 0d else row.getDouble(2 * i + 1))
        }
      }
      val zc = "__graft_z"
      Relocate.Staged(
        df.withColumn(zc, zvalue(ranges))
          .repartitionByRange(targetFiles, col(zc))
          .sortWithinPartitions(zc)
          .drop(zc),
        meta.provider)
    }
  }
}
