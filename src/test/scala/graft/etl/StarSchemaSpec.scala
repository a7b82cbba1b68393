package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StarSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val lookup = Seq((1L, "alpha"), (2L, "beta")).toDF("num", "name")

  test("backfillFromLookup covers all four branches") {
    val fact = Seq(
      (10L, Some(1L), Some("alpha")),  // complete -> untouched
      (11L, Some(2L), None),           // name from lookup by number
      (12L, None, Some("alpha")),      // number from lookup by name
      (13L, None, None)                // both null -> unknown member
    ).toDF("id", "n", "nm")
      .select(col("id"), col("n").as("num"), col("nm").as("name"))
    val out = StarSchema.backfillFromLookup(
        fact, "num", "name", lookup, "num", "name")
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq === Seq(
      (10L, 1L, "alpha"), (11L, 2L, "beta"),
      (12L, 1L, "alpha"), (13L, -1L, "unknown")))
  }

  test("backfillFromLookup drops one-sided nulls missing from the lookup") {
    // reference uses INNER joins for the single-null branches, so a row
    // whose lookup key is absent disappears
    val fact = Seq((20L, Some(99L), Option.empty[String]))
      .toDF("id", "num", "name")
    val out = StarSchema.backfillFromLookup(
      fact, "num", "name", lookup, "num", "name")
    assert(out.count() === 0)
  }

  test("money measures are exact decimals") {
    val r = Seq(("10.10", "0.05", "0.02")).toDF("p", "d", "t")
      .select(
        StarSchema.revenue(col("p"), col("d")).cast("string"),
        StarSchema.charge(col("p"), col("d"), col("t")).cast("string"))
      .head()
    assert(r.getString(0) === "9.5950")
    assert(r.getString(1) === "9.786900")
  }

  test("crossDim is the cross product of distincts") {
    val src = Seq(("a", 1), ("a", 2), ("b", 1)).toDF("x", "y")
    assert(StarSchema.crossDim(src, "x", "y").count() === 4)
    // a NULL on each side is a member of its distinct set, as in SQL's
    // SELECT DISTINCT: distinct(x) × distinct(y), NULLs included
    val rows = Seq((Some("a"), Some(1)), (None, Some(2)), (Some("b"), None),
      (Some("a"), Some(2)), (None, None))
    val withNulls = StarSchema.crossDim(rows.toDF("x", "y"), "x", "y")
    assert(withNulls.columns.toSeq === Seq("x", "y"))
    val got = withNulls.as[(Option[String], Option[Int])].collect().toSeq
    val expected = for (x <- rows.map(_._1).distinct; y <- rows.map(_._2).distinct)
      yield (x, y)
    assert(got.size === expected.size)
    assert(got.toSet === expected.toSet)
  }
}
