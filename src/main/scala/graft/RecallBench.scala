package graft

import org.apache.spark.sql.functions._
import graft.sim.Ann

/** Band-stratified recall probe for the capped-LSH embedding near-dup
  * path (q25's exact geometry: corpus-adaptive plane depth, 4 OR'd
  * tables, multi-probe 1, bucket cap 10k, declared output cap 20
  * pairs/id). The round-10 100× run measured overall recall 0.103 vs
  * the full cos ≥ 0.4 probe truth and BENCH_NOTES claims the loss is
  * concentrated in the cos ≈ 0.4 tail while "the dup clusters that
  * dedup actually targets live at high cosine where table-OR recall
  * stays strong" — this main turns that sentence into numbers: exact
  * probe⨯corpus truth (same probe-block method as the in-query
  * `measured_recall`, wider probe set), recall reported PER COSINE
  * BAND (0.4–0.5 … 0.9–1.0), split into candidate recall (pair
  * surfaced before the output cap) and delivered recall (pair
  * survived the declared 20/id cap), so the depth-vs-tail trade and
  * the cap's cost are visible separately.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir with embeddings.parquet>
  *        runMain graft.RecallBench [nProbes] [planesOverride]
  * Prints one JSON line.
  */
object RecallBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nProbes = args.headOption.map(_.toLong).getOrElse(200L)
    val planesOverride = args.drop(1).headOption.map(_.toInt)
    val spark = graft.util.LocalSession()
    spark.range(100000).selectExpr("sum(id % 7)").collect()

    val e = graft.etl.Spread.byKeyIfNarrow(
      graft.sources.Tables.embeddings(spark, sfDir), col("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val r0 = e.agg(max(size(col("embedding"))).as("d"),
      count(lit(1)).as("n")).head()
    val (dim, n) = (r0.getInt(0), r0.getLong(1))
    // q25's corpus-adaptive depth: smallest p with (p+1)·n/2^p <= 250.
    val planes = planesOverride.getOrElse {
      var p = 6
      while ((p + 1.0) * n / math.pow(2.0, p) > 250.0 && p < 24) p += 1
      p
    }

    val t0 = System.nanoTime()
    // Candidate-stage pairs (pre-cap) and delivered pairs (post-cap)
    // from ONE banded run: the cap is a deterministic rank filter, so
    // applying it to the materialized uncapped list reproduces
    // nearDupPairsLshCapped exactly.
    val uncapped = Ann.nearDupPairsLsh(e, "vec_id", "embedding", dim,
      numPlanes = planes, threshold = 0.4, numTables = 4,
      maxBucketSize = 10000, multiProbe = 1)
    val pred = graft.util.Blocks.lazyCheckpoint(uncapped)
    val delivered = Ann.capPairsPerId(pred, maxPairsPerId = 20)
    val predSec = (System.nanoTime() - t0) / 1e9

    // Exact probe⨯corpus truth at cos >= 0.4 — the probe-block method
    // of the in-query measured_recall, with a caller-sized probe set.
    val base = Ann.withNorm(
      e.select(col("vec_id").as("id"), col("embedding").as("v")), "v")
    val probes = base.where(col("id") < nProbes)
      .select(col("id").as("pid"), col("v").as("pv"), col("self_dot").as("pd"))
    val truth = graft.util.Blocks.lazyCheckpoint(
      broadcast(probes)
        .join(base.select(col("id").as("cid"), col("v").as("cv"),
          col("self_dot").as("cd")), col("pid") =!= col("cid"))
        .withColumn("cos_t",
          Ann.dot(col("pv"), col("cv")) / sqrt(col("pd") * col("cd")))
        .where(col("cos_t") >= 0.4)
        .select(least(col("pid"), col("cid")).as("id_a"),
          greatest(col("pid"), col("cid")).as("id_b"), col("cos_t")))

    def bandRecall(predPairs: org.apache.spark.sql.DataFrame) = {
      truth.as("t")
        .join(predPairs.select(col("id_a"), col("id_b"),
            lit(1).as("hit")).as("p"),
          Seq("id_a", "id_b"), "left")
        .groupBy(floor(col("cos_t") * 10).cast("int").as("band10"))
        .agg(count(lit(1)).as("truth_n"), sum(coalesce(col("hit"),
          lit(0))).as("hit_n"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
    }
    val cand = bandRecall(pred)
    val deliv = bandRecall(delivered)
    val wall = (System.nanoTime() - t0) / 1e9

    def fmt(rows: Array[(Int, Long, Long)]) = rows.map { case (b, t, h) =>
      val lo = b / 10.0
      f""""$lo%.1f":{"truth":$t,"hit":$h,"recall":${
        if (t == 0) 1.0 else h.toDouble / t}%.3f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"lsh_recall_by_band","sf_dir":"$sfDir","n":$n,""" +
      s""""dim":$dim,"planes":$planes,"n_probes":$nProbes,""" +
      s""""pred_sec":${math.round(predSec * 10) / 10.0},""" +
      s""""wall_sec":${math.round(wall * 10) / 10.0},""" +
      s""""candidate":${fmt(cand)},"delivered":${fmt(deliv)}}""")
    graft.util.Blocks.release(pred)
    graft.util.Blocks.release(truth)
    spark.stop()
  }
}
