package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Mirrors the reference's SCD unit coverage
  * (reference: include/tests/test_scd_functions.py:1): period
  * construction over multiple changes, the A→B→A one-period semantic,
  * and the update/insert split. */
class ScdSpec extends SparkSpec {
  import spark.implicits._

  private val records = Seq(
    // store 1: name changes A -> B -> C
    (1L, "A", "2024-01-01"), (1L, "A", "2024-01-02"),
    (1L, "B", "2024-01-05"), (1L, "C", "2024-01-09"),
    // store 2: never changes
    (2L, "X", "2024-01-03"), (2L, "X", "2024-01-07")
  ).toDF("nk", "name", "ds")
    .selectExpr("nk", "name", "CAST(ds AS DATE) AS d")

  test("scd2FromRecords builds ordered periods with lead end dates") {
    val scd = Scd.scd2FromRecords(records, "nk", Seq("name"), "d")
      .orderBy("nk", "start_date")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), s"${r.getDate(2)}",
        Option(r.getDate(3)).map(_.toString).orNull, r.getBoolean(4)))
    assert(scd === Array(
      (1L, "A", "2024-01-01", "2024-01-05", false),
      (1L, "B", "2024-01-05", "2024-01-09", false),
      (1L, "C", "2024-01-09", null, true),
      (2L, "X", "2024-01-03", null, true)))
  }

  test("A->B->A yields ONE A period anchored at the first sighting") {
    // reference groups on the attribute hash (scd.py:19), so the second
    // A observation folds into the first A period
    val flip = Seq(
      (7L, "A", "2024-01-01"), (7L, "B", "2024-01-03"), (7L, "A", "2024-01-06")
    ).toDF("nk", "name", "ds").selectExpr("nk", "name", "CAST(ds AS DATE) AS d")
    val scd = Scd.scd2FromRecords(flip, "nk", Seq("name"), "d")
      .orderBy("start_date").collect()
    assert(scd.length === 2)
    assert(scd.map(_.getString(1)).toSeq === Seq("A", "B"))
    assert(scd(0).getDate(2).toString === "2024-01-01")
    // B is the last period by start_date, so B is current — exactly the
    // reference's (surprising but intended) semantic
    assert(scd(1).getBoolean(4) === true)
  }

  test("scdUpsert splits closed-current rows from new periods") {
    val oldScd = Scd.scd2FromRecords(
      records.where($"d" < d("2024-01-09")), "nk", Seq("name"), "d")
    val newRecs = Seq(
      (1L, "C", "2024-01-09"),  // closes store 1's B period
      (3L, "N", "2024-01-10")   // brand-new key
    ).toDF("nk", "name", "ds").selectExpr("nk", "name", "CAST(ds AS DATE) AS d")
    val (toUpdate, toInsert) = Scd.scdUpsert(oldScd, newRecs, "nk", Seq("name"), "d")

    val upd = toUpdate.orderBy("nk", "start_date").collect()
    assert(upd.length === 1)
    assert(upd(0).getAs[Long]("nk") === 1L)
    assert(upd(0).getAs[String]("name") === "B")
    assert(upd(0).getAs[java.sql.Date]("end_date").toString === "2024-01-09")
    assert(!upd(0).getAs[Boolean]("is_current"))

    val ins = toInsert.orderBy("nk", "start_date").collect()
      .map(r => (r.getAs[Long]("nk"), r.getAs[String]("name"),
        r.getAs[Boolean]("is_current")))
    assert(ins.toSeq === Seq((1L, "C", true), (3L, "N", true)))
  }

  test("scdUpsert with same-attribute records is a no-op (merge, not new period)") {
    // reference: test_merge_last_scd_record_with_scd_records_from_new_data
    // _both_having_same_attibutes — a later observation of the SAME value
    // folds into the existing current period
    // key 2's attribute is NULL: NULL matches NULL, so its period is
    // neither re-inserted nor updated
    val oldScd = Scd.scd2FromRecords(
      Seq((1L, "A", d("2024-01-01")), (2L, null: String, d("2024-01-01")))
        .toDF("nk", "name", "d"),
      "nk", Seq("name"), "d")
    val newRecs = Seq((1L, "A", d("2024-01-20")), (2L, null: String, d("2024-01-20")))
      .toDF("nk", "name", "d")
    val (toUpdate, toInsert) = Scd.scdUpsert(oldScd, newRecs, "nk", Seq("name"), "d")
    assert(toUpdate.count() === 0)
    assert(toInsert.count() === 0)
  }

  test("pointInTimeJoin picks the period covering the fact date") {
    val dim = Scd.scd2FromRecords(records, "nk", Seq("name"), "d")
    val fact = Seq(
      (100L, 1L, "2024-01-03"), // inside A period
      (101L, 1L, "2024-01-05"), // boundary: start inclusive -> B
      (102L, 1L, "2024-01-30"), // open current period C
      (103L, 2L, "2024-01-03")  // X from its start
    ).toDF("fid", "nk", "fds").selectExpr("fid", "nk", "CAST(fds AS DATE) AS fd")
    val joined = Scd.pointInTimeJoin(fact, dim, "nk", "fd")
      .orderBy("fid")
      .select("fid", "dim_name")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(joined.toSeq === Seq(
      (100L, "A"), (101L, "B"), (102L, "C"), (103L, "X")))
  }
}
