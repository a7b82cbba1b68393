package graft.etl

import graft.SparkSpec
import graft.streaming.IncrementalPipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests: SCD2 structural invariants hold for arbitrary event
  * histories (the properties the reference's example-based tests imply
  * but never state). Deterministic seeds, plain ScalaCheck generators. */
class ScdPropertySpec extends SparkSpec {
  import spark.implicits._

  private val recordsGen: Gen[List[(Long, String, Int)]] =
    Gen.nonEmptyListOf(for {
      nk <- Gen.choose(1L, 4L)
      attr <- Gen.oneOf("A", "B", "C")
      day <- Gen.choose(1, 28)
    } yield (nk, attr, day))

  private def samples(g: Gen[List[(Long, String, Int)]], n: Int) =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private def toDf(xs: List[(Long, String, Int)]) =
    xs.map { case (nk, a, day) => (nk, a, f"2024-01-$day%02d") }
      .toDF("nk", "name", "ds").selectExpr("nk", "name", "CAST(ds AS DATE) AS d")

  private def rows(df: DataFrame) =
    df.collect().map((r: Row) => (r.getLong(0), r.getString(1),
      s"${r.getDate(2)}", s"${r.getDate(3)}", r.getBoolean(4)))
      .sortBy(_.toString).toSeq

  /** Reference merge: apply scdUpsert's split to the snapshot as a
    * MERGE — periods being updated are replaced (matched on natural key
    * + attrs + start_date), new periods appended. The join form the
    * one-shuffle `IncrementalPipeline.processBatch` must equal. */
  private def applyUpsert(
      oldScd: DataFrame,
      toUpdate: DataFrame,
      toInsert: DataFrame,
      naturalKey: String,
      attrs: Seq[String]): DataFrame = {
    // period identity = (key, attrs, start_date); see Scd.scdUpsert
    val keyCols = (naturalKey +: attrs) :+ "start_date"
    val updatedKeys = toUpdate.select(
      keyCols.zipWithIndex.map { case (c, i) => col(c).as(s"_u$i") }: _*)
    val untouched = oldScd.join(
      updatedKeys,
      keyCols.zipWithIndex.map { case (c, i) => oldScd(c) === col(s"_u$i") }
        .reduce(_ && _),
      "left_anti")
    untouched
      .unionByName(toUpdate.select(oldScd.columns.map(col): _*))
      .unionByName(toInsert.select(oldScd.columns.map(col): _*))
  }

  private def reference(oldScd: DataFrame, batch: DataFrame): DataFrame = {
    val (upd, ins) = Scd.scdUpsert(oldScd, batch, "nk", Seq("name"), "d")
    applyUpsert(oldScd, upd, ins, "nk", Seq("name"))
  }

  test("SCD2 invariants: one current row per key, contiguous periods") {
    samples(recordsGen, 15).foreach { recs =>
      val df = recs.map { case (nk, a, day) =>
        (nk, a, f"2024-01-$day%02d")
      }.toDF("nk", "name", "ds").selectExpr("nk", "name", "CAST(ds AS DATE) AS d")
      val scd = Scd.scd2FromRecords(df, "nk", Seq("name"), "d").collect()
      val byKey = scd.groupBy(_.getLong(0))
      byKey.foreach { case (nk, rows) =>
        // exactly one current period per key
        assert(rows.count(_.getBoolean(4)) === 1, s"key $nk current-count")
        val sorted = rows.sortBy(r => r.getDate(2).toString)
        // periods chain: end_date(i) == start_date(i+1); only last is open
        sorted.init.zip(sorted.tail).foreach { case (a, b) =>
          assert(a.getDate(3) === b.getDate(2), s"key $nk gap")
        }
        assert(sorted.last.getDate(3) === null)
        // first period starts at the key's earliest observation
        val minDate = recs.filter(_._1 == nk).map(_._3).min
        assert(sorted.head.getDate(2).toString === f"2024-01-$minDate%02d")
      }
    }
  }

  test("upsert then apply equals rebuilding from all records") {
    samples(recordsGen, 10).zip(samples(recordsGen, 10).reverse)
      .foreach { case (oldRecs, newRecs0) =>
      // keep batches date-disjoint the way incremental loads are:
      // old <= day 14, new >= day 15
      val o = oldRecs.map { case (nk, a, d0) => (nk, a, (d0 % 14) + 1) }
      val n = newRecs0.map { case (nk, a, d0) => (nk, a, (d0 % 14) + 15) }
      val oldScd = Scd.scd2FromRecords(toDf(o), "nk", Seq("name"), "d")
      val (upd, ins) = Scd.scdUpsert(oldScd, toDf(n), "nk", Seq("name"), "d")
      val applied = applyUpsert(oldScd, upd, ins, "nk", Seq("name"))
      val expected = Scd.scd2FromRecords(toDf(o ++ n), "nk", Seq("name"), "d")
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getString(1), s"${r.getDate(2)}",
          s"${r.getDate(3)}", r.getBoolean(4))
      assert(applied.collect().map(key).sortBy(_.toString).toSeq ===
        expected.collect().map(key).sortBy(_.toString).toSeq)
    }
  }

  test("processBatch equals the reference merge on late, out-of-order batches") {
    // batches span the whole month over a history of days 1-14, so they
    // carry late and out-of-order dates; half the draws from days 1-12
    // make same-day flips (one key, two attributes, one date) common
    val batchGen: Gen[List[(Long, String, Int)]] =
      Gen.nonEmptyListOf(for {
        nk <- Gen.choose(1L, 5L)
        attr <- Gen.oneOf("A", "B", "C")
        day <- Gen.oneOf(Gen.choose(1, 12), Gen.choose(1, 28))
      } yield (nk, attr, day))
    val batches = samples(batchGen, 16)
    samples(recordsGen, 8).zipWithIndex.foreach { case (hist, i) =>
      val o = hist.map { case (nk, a, d0) => (nk, a, (d0 % 14) + 1) }
      var snap = Scd.scd2FromRecords(toDf(o), "nk", Seq("name"), "d")
      for (b <- batches.slice(2 * i, 2 * i + 2)) {
        val want = reference(snap, toDf(b)).localCheckpoint()
        assert(rows(IncrementalPipeline.processBatch(snap, toDf(b), "nk",
          Seq("name"), "d")) === rows(want), s"history $o, batch $b")
        snap = want
      }
    }
  }
}
