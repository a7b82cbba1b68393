package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SplitLeakageSpec extends SparkSpec {
  import spark.implicits._

  private val pairs = Seq(
    (1L, 2L, 0.9),  // train-val: leak (eval 2, train 1)
    (2L, 3L, 0.8),  // val-train: leak (eval 2, train 3)
    (4L, 5L, 0.7),  // train-train: not a leak
    (6L, 7L, 0.95), // val-test: crosses splits but no train side
    (3L, 8L, 0.8)   // train-test: leak (eval 8)
  ).toDF("id_a", "id_b", "jaccard_sim")
  private val splits = Seq(
    1L -> "train", 2L -> "val", 3L -> "train", 4L -> "train",
    5L -> "train", 6L -> "val", 7L -> "test", 8L -> "test"
  ).toDF("doc_id", "split")

  test("orients pairs, counts dups, keeps strongest train partner") {
    val out = SplitLeakage.audit(pairs, splits).collect()
      .map(r => r.getAs[Long]("eval_id") ->
        (r.getAs[String]("eval_split"), r.getAs[Long]("n_train_dups"),
          r.getAs[Long]("best_train_id"), r.getAs[Double]("best_sim"))).toMap
    assert(out.keySet === Set(2L, 8L))
    assert(out(2L) === (("val", 2L, 1L, 0.9)))
    assert(out(8L) === (("test", 1L, 3L, 0.8)))
  }

  test("sim ties break to the LOWEST train id") {
    val tied = Seq((10L, 2L, 0.9), (1L, 2L, 0.9)).toDF("id_a", "id_b", "jaccard_sim")
    val sp = Seq(1L -> "train", 10L -> "train", 2L -> "val").toDF("doc_id", "split")
    val r = SplitLeakage.audit(tied, sp).head
    assert(r.getAs[Long]("best_train_id") === 1L)
  }

  test("banded tier: a planted cross-split duplicate is flagged") {
    // the 100 TB path — MinHash-banded pairs instead of the exact join;
    // identical docs share every band, so the planted leak cannot be
    // missed by the candidate tier.
    val docs = ((1L to 40L).map(i => (i, s"corpus document number $i about topic ${i % 5}")) :+
      (900L -> "the planted duplicate sentence that leaked across the split") :+
      (901L -> "the planted duplicate sentence that leaked across the split"))
      .toDF("doc_id", "text")
    // force the planted pair across the boundary
    val sp = docs.select(col("doc_id"),
      when(col("doc_id") === 900L, "train")
        .when(col("doc_id") === 901L, "val")
        .otherwise("train").as("split"))
    val banded = Dedup.minHashDedupFromShingles(
      Dedup.shingleTable(docs, "doc_id", "text", 3), threshold = 0.9)
    val out = SplitLeakage.audit(banded, sp).collect()
      .map(r => (r.getAs[Long]("eval_id"), r.getAs[Long]("best_train_id")))
    assert(out.contains((901L, 900L)),
      s"planted cross-split duplicate must surface: ${out.toSeq}")
  }
}
