package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout for min/max skipping.
  *
  * A table range-partitioned and sorted on ONE column prunes scans only
  * on that column's predicates; at 100 TB a second dimension's filter
  * still reads every file. Interleaving the bits of two dimensions into
  * one sort key (the Morton curve) keeps each output file's bounding
  * box tight in BOTH dimensions, so parquet/Delta-style min/max file
  * statistics prune on either predicate — the standard multi-dimension
  * clustering trick (Delta Lake `OPTIMIZE ZORDER BY`, Databricks
  * liquid clustering lineage).
  *
  * Everything here is pure integer column arithmetic (builtin shifts
  * and masks — whole-stage codegen, no UDF) and engine-portable, so the
  * layout a DuckDB/Trino re-implementation computes is bit-identical.
  */
object ZOrder {

  /** Morton value of two non-negative ints: interleaves the low `bits`
    * bits of `x` (even positions) and `y` (odd positions) into one
    * long. Bit i of x lands at 2i via one mask + shift per bit:
    * `(x & (1<<i)) << i`; bit i of y lands at 2i+1. 2·bits builtin ops
    * total — a constant-folded codegen chain, not a HOF loop.
    * Values are masked to `bits` (callers bucket/modulo first), so the
    * result is always in [0, 4^bits). */
  def zvalue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    zvalueN(Seq(x, y), bits)
  }

  /** N-dimensional Morton value: bit i of column j lands at position
    * i·m + j (round-robin interleave across all m columns — for m = 2
    * this is exactly [[zvalue]]). m·bits builtin mask-and-shift ops,
    * all constant-folded into one codegen chain. m·bits ≤ 63 so the
    * result fits a signed long. */
  def zvalueN(cols: Seq[Column], bits: Int): Column = {
    val m = cols.size
    require(m >= 1, "zvalueN needs at least one column")
    require(bits >= 1 && m * bits <= 63,
      s"need bits >= 1 and cols*bits <= 63, got $m*$bits")
    cols.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, j)) =>
      val cl = c.cast("long")
      (0 until bits).foldLeft(acc) { (a, i) =>
        // bit i sits at position i; target is i*m + j -> shift by
        // i*(m-1) + j
        a.bitwiseOR(shiftleft(cl.bitwiseAND(lit(1L << i)), i * (m - 1) + j))
      }
    }
  }

  /** The write path: range-partition into `numFiles` z-contiguous
    * splits and sort inside each — one shuffle keyed on the z-value,
    * then each written file carries tight min/max on BOTH source
    * columns. Range boundaries come from Spark's sampling, so use
    * [[fileStats]] (fixed-width z-prefix splits) when the file
    * assignment itself must be deterministic/engine-portable. */
  def layout(
      df: DataFrame,
      xCol: String,
      yCol: String,
      bits: Int,
      numFiles: Int): DataFrame = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    df.withColumn("zval", zvalue(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("zval"))
      .sortWithinPartitions(col("zval"))
  }

  /** Per-file bounding boxes under a DETERMINISTIC z-prefix file
    * assignment: file id = the top `fileBits` bits of the z-value
    * (2^fileBits equal-width curve segments — the by-value analog of
    * [[layout]]'s sampled ranges, reproducible on any engine). Returns
    * one row per non-empty file with its row count and min/max of both
    * dimensions — exactly the statistics a min/max-skipping scan
    * consults, so the output IS the skipping story: a predicate prunes
    * every file whose box misses it. One shuffle, keyed on file id.
    *
    * Domain guard: [[zvalue]] only samples the low `bits` bits, so a
    * value outside [0, 2^bits) would silently alias into the wrong
    * curve cell while the raw-value min/max inflates that file's
    * bounding box — corrupted skipping with no error. Out-of-domain
    * rows are therefore quarantined under a NULL `file_id` (their own
    * visible stats row) instead of polluting a real file's box. */
  /** Persist the deterministic z-prefix layout: one directory per
    * curve segment (`file_id=<n>`), rows sorted by z-value inside.
    * Out-of-domain rows land in the hive null partition — visible,
    * never polluting a real segment's bounding box. The directory
    * key is what lets [[skippingScan]] turn the [[fileStats]] boxes
    * into actual PartitionFilters pruning. */
  def writeLayout(
      df: DataFrame,
      xCol: String,
      yCol: String,
      bits: Int,
      fileBits: Int,
      path: String): Unit = {
    require(fileBits >= 1 && fileBits <= 2 * bits,
      s"fileBits must be in [1, 2*bits], got $fileBits")
    val cap = 1L << bits
    val inDomain =
      col(xCol) >= 0 && col(xCol) < cap && col(yCol) >= 0 && col(yCol) < cap
    df.withColumn("zval", zvalue(col(xCol), col(yCol), bits))
      .withColumn("file_id",
        when(inDomain, shiftright(col("zval"), 2 * bits - fileBits)))
      .repartition(col("file_id"))
      .sortWithinPartitions(col("file_id"), col("zval"))
      .drop("zval")
      .write.partitionBy("file_id").mode("overwrite").parquet(path)
  }

  /** The file ids a box predicate `[xLo,xHi] × [yLo,yHi]` cannot prune
    * — every file whose [[fileStats]] bounding box intersects the
    * query box. The stats frame is metadata (≤ 2^fileBits rows), so
    * the collect is bounded by construction. */
  def overlappingFiles(
      stats: DataFrame,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): Seq[Long] =
    stats
      .where(col("file_id").isNotNull &&
        col("x_max") >= xLo && col("x_min") <= xHi &&
        col("y_max") >= yLo && col("y_min") <= yHi)
      .select(col("file_id"))
      .collect().map(_.getLong(0)).toSeq.sorted

  /** Min/max-skipping scan over a [[writeLayout]] directory: consult
    * the bounding boxes, read ONLY the surviving `file_id=` partitions
    * (the isin lands in the scan's PartitionFilters — the scan never
    * reads a directory the boxes prune; the schema is one footer),
    * then apply the residual row predicate. This is the measured form
    * of the skipping story: [[ZOrderSpec]] asserts the scan's
    * `numFiles` metric reads strictly fewer files than the layout
    * holds for a selective box.
    * The predicate box must lie inside the z-domain `[0, 2^bits)` —
    * out-of-domain rows live in the null partition, which an
    * in-domain box correctly never matches. */
  def skippingScan(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      stats: DataFrame,
      xCol: String,
      yCol: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): DataFrame = {
    val keep = overlappingFiles(stats, xLo, xHi, yLo, yHi)
    graft.sources.Parquet.read(spark, path)
      .where(col("file_id").isin(keep: _*))
      .where(col(xCol).between(xLo, xHi) && col(yCol).between(yLo, yHi))
  }

  def fileStats(
      df: DataFrame,
      xCol: String,
      yCol: String,
      bits: Int,
      fileBits: Int): DataFrame = {
    require(fileBits >= 1 && fileBits <= 2 * bits,
      s"fileBits must be in [1, 2*bits], got $fileBits")
    val cap = 1L << bits
    val inDomain =
      col(xCol) >= 0 && col(xCol) < cap && col(yCol) >= 0 && col(yCol) < cap
    df.withColumn("zval", zvalue(col(xCol), col(yCol), bits))
      .withColumn("file_id",
        when(inDomain, shiftright(col("zval"), 2 * bits - fileBits)))
      .groupBy(col("file_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col(xCol)).as("x_min"), max(col(xCol)).as("x_max"),
        min(col(yCol)).as("y_min"), max(col(yCol)).as("y_max"))
  }
}
