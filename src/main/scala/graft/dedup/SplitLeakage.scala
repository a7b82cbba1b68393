package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/eval split-leakage audit over ANY near-dup pair source — the
  * tier-independent half of q39: given undirected similarity pairs
  * (id_a < id_b, sim) and a per-doc split assignment, orient every
  * pair that straddles the train boundary to (eval doc → train
  * partner) and report each leaked eval doc once, with its dup count
  * and strongest train partner (ties → lowest train id — engine- and
  * partitioning-deterministic).
  *
  * Tiers: feed it [[Dedup.jaccardJoin]] pairs for the EXACT audit
  * (q39's registered, oracle-checked form) or
  * [[Dedup.minHashDedupFromShingles]] /
  * banded candidates for the 100 TB path — the audit consumes pairs,
  * so its cost and recall are exactly the chosen pair tier's. A
  * planted cross-split duplicate survives every tier (identical docs
  * always share bands).
  *
  * Scale: two id-keyed equi-joins to attach split labels (shuffle on
  * the pair ids — pair-list-sized, which the candidate tier already
  * bounds), then one eval-id-keyed partial-aggregated rollup.
  */
object SplitLeakage {

  /** `pairs`: (id_a, id_b, simCol). `splits`: (idCol, split). */
  def audit(
      pairs: DataFrame,
      splits: DataFrame,
      idCol: String = "doc_id",
      simCol: String = "jaccard_sim",
      trainSplit: String = "train"): DataFrame = {
    val s = splits.select(col(idCol), col("split"))
    val oriented = pairs
      .join(s.select(col(idCol).as("id_a"), col("split").as("split_a")), "id_a")
      .join(s.select(col(idCol).as("id_b"), col("split").as("split_b")), "id_b")
      .where(col("split_a") =!= col("split_b") &&
        (col("split_a") === trainSplit || col("split_b") === trainSplit))
      .select(
        when(col("split_a") === trainSplit, col("id_b")).otherwise(col("id_a")).as("eval_id"),
        when(col("split_a") === trainSplit, col("split_b")).otherwise(col("split_a")).as("eval_split"),
        when(col("split_a") === trainSplit, col("id_a")).otherwise(col("id_b")).as("train_id"),
        col(simCol).as("_sim"))
    oriented
      .groupBy(col("eval_id"), col("eval_split"))
      .agg(
        count(lit(1)).as("n_train_dups"),
        max(struct(col("_sim").as("s"), negate(col("train_id")).as("nid")))
          .as("_best"))
      .select(col("eval_id"), col("eval_split"), col("n_train_dups"),
        negate(col("_best.nid")).as("best_train_id"),
        col("_best.s").as("best_sim"))
  }
}
