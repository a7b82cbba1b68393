package graft.expressions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** `bloom_contains(key)` against a Bloom filter carried as a plan
  * constant — the scan-side membership prefilter that lets an
  * incremental-dedup anti-join skip the shuffle for the (vast) majority
  * of rows that are provably absent from the snapshot. Spark's own
  * runtime row-level filters inject exactly this shape on the probe
  * side of semi/inner joins, but CANNOT for anti-joins (rows the bloom
  * rejects must be kept, not dropped), so the anti-join split lives in
  * [[graft.dedup.Dedup.bloomDedupAgainstSnapshot]] instead.
  *
  * False positives are possible (tunable via fpp at build time), false
  * negatives are not: `false` here is a PROOF of absence. Accepts
  * string keys (hashed as their UTF-8 bytes — identical to
  * `BloomFilter.putString`) and long keys. The filter is a codegen
  * reference object deserialized once per executor — each instance
  * should stay bounded (~10⁸ keys ≈ 120 MB at 1% fpp); past that,
  * [[graft.dedup.Dedup.bloomDedupAgainstSnapshot]] builds PER-RANGE
  * filters and probes them executor-locally, with no BloomContains in
  * the plan at all.
  */
case class BloomContains(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string or bigint key, got ${other.catalogString}")
  }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains"

  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(filterBytes))

  private def isString: Boolean = child.dataType == StringType

  override protected def nullSafeEval(key: Any): Any =
    if (isString)
      filter.mightContainBinary(key.asInstanceOf[UTF8String].getBytes)
    else filter.mightContainLong(key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("bloomFilter", filter,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c =>
      if (isString) s"${ev.value} = $f.mightContainBinary($c.getBytes());"
      else s"${ev.value} = $f.mightContainLong($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomContains =
    copy(child = newChild)
}

object BloomContains {

  /** Column form over a built filter. */
  def contains(key: Column, filter: BloomFilter): Column = {
    val out = new java.io.ByteArrayOutputStream()
    filter.writeTo(out)
    GraftColumnBridge.column(
      BloomContains(GraftColumnBridge.expression(key), out.toByteArray))
  }
}
