package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions.monotonically_increasing_id

/** Mirrors reference ingest_utils.py:83 `remove_one_day_changes`
  * behavior, including the next-day fan-out the reference exhibits when
  * the next active date itself carries several values. */
class CleaningSpec extends SparkSpec {
  import spark.implicits._

  test("intra-day flip-flop is replaced by the next day's value") {
    val df = Seq(
      (1L, "2024-01-01", "A"),
      (1L, "2024-01-01", "B"),  // flip-flop on day 1
      (1L, "2024-01-02", "C"),  // next day's (single) value
      (2L, "2024-01-01", "Z")   // untouched key
    ).toDF("nk", "ds", "v").selectExpr("nk", "CAST(ds AS DATE) AS d", "v")
    val out = Cleaning.removeOneDayChanges(df, "v", "nk", "d")
      .orderBy("nk", "d", "v")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getString(2)))
    assert(out.toSeq === Seq(
      (1L, "2024-01-01", "C"), (1L, "2024-01-01", "C"),
      (1L, "2024-01-02", "C"), (2L, "2024-01-01", "Z")))
  }

  test("next-day fan-out: multiple next-day values multiply the dup rows") {
    // faithful to the reference's join plan: day-1 duplicates join to
    // EVERY day-2 value, so each dup row fans out
    val df = Seq(
      (1L, "2024-01-01", "A"), (1L, "2024-01-01", "B"),
      (1L, "2024-01-02", "C"), (1L, "2024-01-02", "D")
    ).toDF("nk", "ds", "v").selectExpr("nk", "CAST(ds AS DATE) AS d", "v")
    val out = Cleaning.removeOneDayChanges(df, "v", "nk", "d")
    // 2 dup rows x 2 next-day values + the 2 day-2 rows themselves
    assert(out.count() === 6)
    val day1Vals = out.where($"d" === d("2024-01-01"))
      .select("v").distinct().collect().map(_.getString(0)).sorted
    assert(day1Vals.toSeq === Seq("C", "D"))
  }

  test("no duplicates -> input passes through unchanged") {
    val df = Seq((1L, "2024-01-01", "A"), (1L, "2024-01-02", "B"))
      .toDF("nk", "ds", "v").selectExpr("nk", "CAST(ds AS DATE) AS d", "v")
    val out = Cleaning.removeOneDayChanges(df, "v", "nk", "d")
      .orderBy("d").collect().map(_.getString(2))
    assert(out.toSeq === Seq("A", "B"))
  }

  test("fillUnknown fills listed string and numeric nulls only") {
    // reference: create_store_dim.py:33 fillna({...: 'unknown'/-1})
    val df = Seq(
      (Some(1L), Some("A"), Some("x")),
      (None, None, None),
      (Some(3L), None, Some("z"))
    ).toDF("sk", "name", "other")
      .withColumn("row", monotonically_increasing_id())
    val out = Cleaning.fillUnknown(df, Seq("name"), Seq("sk"))
      .orderBy("row").collect()
      .map(r => (r.getAs[Long]("sk"), r.getAs[String]("name"),
        Option(r.getAs[String]("other"))))
    assert(out.toSeq === Seq(
      (1L, "A", Some("x")),
      (-1L, "unknown", None),  // unlisted column keeps its null
      (3L, "unknown", Some("z"))))
  }
}
