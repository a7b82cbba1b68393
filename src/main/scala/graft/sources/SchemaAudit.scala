package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Schema-drift audit for ingest contracts: compare what a source
  * ACTUALLY carries against the expected schema before a 100 TB load
  * commits to it. Upstream producers add, drop, rename and re-type
  * columns without warning; catching that at the contract — instead of
  * as a mid-job cast failure or, worse, silent nulls from a PERMISSIVE
  * read — is standard load hygiene (same family as
  * [[graft.etl.Expectations]], which audits the VALUES).
  *
  * Pure metadata work: the schema is [[Parquet.read]]'s — one footer
  * read on the driver plus Spark's partition discovery, so partition
  * columns and Spark's read-side nullability count — and no Spark job
  * runs.
  */
object SchemaAudit {

  sealed trait Drift { def field: String }
  /** In the source but not the contract (new upstream column). */
  final case class Added(field: String, actual: DataType) extends Drift
  /** In the contract but missing from the source. */
  final case class Missing(field: String, expected: DataType) extends Drift
  /** Present on both sides with different types. */
  final case class TypeChanged(
      field: String, expected: DataType, actual: DataType) extends Drift
  /** Contract requires non-null but the source allows nulls. */
  final case class NullabilityLoosened(field: String) extends Drift

  /** Field-by-field contract diff (names compared case-sensitively,
    * like Spark's default resolution). Empty result = no drift. */
  def diff(expected: StructType, actual: StructType): Seq[Drift] = {
    val exp = expected.fields.map(f => f.name -> f).toMap
    val act = actual.fields.map(f => f.name -> f).toMap
    val added = actual.fields.collect {
      case f if !exp.contains(f.name) => Added(f.name, f.dataType)
    }
    val missing = expected.fields.collect {
      case f if !act.contains(f.name) => Missing(f.name, f.dataType)
    }
    val changed = expected.fields.flatMap { f =>
      act.get(f.name).toSeq.flatMap { a =>
        val t = if (a.dataType != f.dataType)
          Seq(TypeChanged(f.name, f.dataType, a.dataType)) else Seq.empty
        val nl = if (!f.nullable && a.nullable)
          Seq(NullabilityLoosened(f.name)) else Seq.empty
        t ++ nl
      }
    }
    (missing ++ changed ++ added).toSeq
  }

  /** Audit a parquet source's footer schema against the contract —
    * no data is read. */
  def auditParquet(
      spark: SparkSession,
      path: String,
      expected: StructType): Seq[Drift] =
    diff(expected, Parquet.read(spark, path).schema)

  /** Gate form: throw with the full drift report unless the source
    * matches the contract. */
  def enforceParquet(
      spark: SparkSession,
      path: String,
      expected: StructType): Unit = {
    val drift = auditParquet(spark, path, expected)
    if (drift.nonEmpty)
      throw new IllegalStateException(
        s"schema drift at $path — ${drift.mkString("; ")}")
  }
}
