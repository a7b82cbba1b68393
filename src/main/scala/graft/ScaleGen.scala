package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus scale-up generator for scale spot-checks: replicates the
  * `documents` and `embeddings` tables N× with deterministic per-replica
  * perturbation, so the heavy dedup/ANN family can be benchmarked at
  * sf1-equivalent volume without inventing a new data distribution.
  *
  * The perturbation is chosen so a 10× corpus SCALES the workload
  * instead of distorting it:
  *
  *  - Replica 0 is the source data verbatim — sf1 strictly contains
  *    sf0.1, so any knee found at sf1 is attributable to volume.
  *  - Documents: each replica k>0 passes text through a replica-specific
  *    vowel permutation (`translate`). Any char-3-gram containing a
  *    vowel changes, so cross-replica Jaccard falls far below the 0.5
  *    dedup threshold while each replica internally preserves the exact
  *    near-dup structure of the source. Without this, 10 verbatim clones
  *    of every doc would form cross-replica cliques and the similarity
  *    join's candidate volume would grow ~100× for 10× data — an
  *    adversarial corpus, not a scaled one. `translate` is 1:1 on
  *    chars, so `n_chars` stays valid.
  *  - Embeddings: each element gets a hash-derived additive jitter
  *    (±5% of the element scale) keyed on (vec_id, index, replica) —
  *    deterministic, cheap, and enough to break exact cosine ties so
  *    per-replica neighborhoods stay distinct.
  *
  * Ids are remapped as `id + replica * 10_000_000` (source ids are far
  * below that), keeping replica membership recoverable for audits.
  *
  * With `tables=all` the warehouse side scales too, the way a real
  * warehouse grows: FACTS replicate N× with consistently remapped keys
  * (orders/lineitem share the orderkey offset so the star joins hold;
  * customers and event users replicate with the facts), while the
  * slowly-growing DIMENSIONS (part, supplier, region, nation) copy
  * verbatim — 10× facts against fixed dims is exactly the broadcast-
  * join shape the operators must keep at scale. `events.ts` keeps its
  * source encoding: a NANOS source is read (and written back) as the
  * raw INT64 nanos long under `nanosAsLong`, which is set only for that
  * encoding, as [[graft.sources.Tables.events]] does; it converts on
  * read either way.
  *
  * Usage: `runMain graft.ScaleGen <srcDir> <outDir> [factor=10] [tables=docs|all]`
  */
object ScaleGen {
  // 10 fixed vowel permutations; index 0 is the identity (verbatim copy)
  private val VowelPerms: Seq[String] = Seq(
    "aeiou", "eioua", "iouae", "ouaei", "uaeio",
    "uoiea", "aiueo", "eoaui", "iaeuo", "oueia")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor <= VowelPerms.size,
      s"factor $factor exceeds the ${VowelPerms.size} distinct vowel permutations")
    val spark = graft.util.LocalSession()

    val reps = spark.range(factor.toLong).select(col("id").cast("int").as("rep"))
    // CASE over the fixed replica list — each branch a codegen'd static
    // translate; rep 0 (and the unreachable default) pass text verbatim
    val textPerRep = (1 until factor).foldLeft(col("text")) { (acc, k) =>
      when(col("rep") === k, translate(col("text"), "aeiou", VowelPerms(k)))
        .otherwise(acc)
    }

    // Replica id offset derives from the SOURCE id space (max+1, one
    // bounded 1-row agg) instead of a fixed constant, so ScaleGen
    // CHAINS: 10x of a 10x corpus yields collision-free ids at 100x.
    val srcDocs = spark.read.parquet(s"$src/documents.parquet")
    val docOffset = math.max(
      srcDocs.agg(max(col("doc_id"))).head.getLong(0) + 1L, 10000000L)
    val docs = srcDocs
      .crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("rep").cast("long") * docOffset).as("doc_id"),
        textPerRep.as("text"),
        col("lang"), col("source"), col("n_chars"))
    docs.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val srcEmbs = spark.read.parquet(s"$src/embeddings.parquet")
    val vecOffset = math.max(
      srcEmbs.agg(max(col("vec_id"))).head.getLong(0) + 1L, 10000000L)
    val embs = srcEmbs
      .crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("rep").cast("long") * vecOffset).as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            (x + (pmod(xxhash64(col("vec_id"), i, col("rep")), lit(101L))
              .cast("float") - 50f) / 1000f).cast("float"))).as("embedding"),
        col("label"))
    embs.repartition(32).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    if (args.length > 3 && args(3) == "all") {
      if (graft.sources.Parquet.nanosTimestamp(spark, s"$src/events.parquet", "ts"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val off = col("rep").cast("long") * 10000000L
      def scaled(table: String)(remap: DataFrame => DataFrame): Unit =
        remap(spark.read.parquet(s"$src/$table.parquet")
            .crossJoin(broadcast(reps)))
          .drop("rep").repartition(32)
          .write.mode("overwrite").parquet(s"$out/$table.parquet")
      scaled("orders")(df => df
        .withColumn("o_orderkey", col("o_orderkey") + off)
        .withColumn("o_custkey", col("o_custkey") + off))
      scaled("lineitem")(df => df
        .withColumn("l_orderkey", col("l_orderkey") + off))
      scaled("customer")(df => df
        .withColumn("c_custkey", col("c_custkey") + off))
      scaled("events")(df => df
        .withColumn("event_id", col("event_id") + off)
        .withColumn("user_id", col("user_id") + off))
      for (dim <- Seq("region", "nation", "supplier", "part"))
        spark.read.parquet(s"$src/$dim.parquet")
          .write.mode("overwrite").parquet(s"$out/$dim.parquet")
    }
    val nd = spark.read.parquet(s"$out/documents.parquet").count()
    val ne = spark.read.parquet(s"$out/embeddings.parquet").count()
    println(s"""{"out":"$out","factor":$factor,"documents":$nd,"embeddings":$ne}""")
    spark.stop()
  }
}
