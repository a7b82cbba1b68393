package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away today"), // near-dup of 1
    (3L, "completely different content about database systems and query engines"),
    (4L, "the quick brown fox jumps over the lazy dog and runs far away"), // exact dup of 1
    (5L, "short text")
  ).toDF("id", "text")

  test("exact dedup keeps min id per identical text") {
    val out = Dedup.exact(docs, "id", col("text"))
      .orderBy("keep_id")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 2L), (2L, 1L), (3L, 1L), (5L, 1L)))
  }

  test("latestPerKey keeps the newest row per key") {
    val df = Seq((1L, 10L, "old"), (1L, 20L, "new"), (2L, 5L, "only"))
      .toDF("nk", "ts", "v")
    val out = Dedup.latestPerKey(df, Seq("nk"), Seq("ts"))
      .orderBy("nk").collect().map(_.getString(2))
    assert(out.toSeq === Seq("new", "only"))
  }

  test("jaccard: identical arrays -> 1, disjoint -> 0") {
    val df = Seq((Seq("a", "b"), Seq("a", "b"), Seq("c", "d")))
      .toDF("x", "y", "z")
    val r = df.select(
      Dedup.jaccard(col("x"), col("y")),
      Dedup.jaccard(col("x"), col("z"))).head()
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 0.0)
  }

  test("minHashDedup finds near-dups and exact dups, skips unrelated") {
    val pairs = Dedup.minHashDedupFromShingles(
        Dedup.shingleTable(docs, "id", "text", 3), threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact dup pair must survive")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)),
      "near-dup pair should be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
  }

  test("minHash signature is deterministic across invocations") {
    def sigs() = Dedup.minHashSignaturesFromShingles(
        Dedup.shingleTable(docs, "id", "text", 3), 16)
      .orderBy("id").collect().map(_.toSeq)
    val a = sigs()
    val b = sigs()
    assert(a.toSeq === b.toSeq)
  }

  test("simHashDedup: exact dup has hamming 0; unrelated doc stays out") {
    val out = Dedup.simHashDedupFromSigs(
        Dedup.simHashSignatures(docs, "id", "text"), maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(out.get((1L, 4L)) === Some(0))
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccardJoin is lossless vs brute-force all-pairs (asymmetric prefixes)") {
    // deterministic corpus of token sets with varied lengths and two
    // blocks, skewed toward shared vocabulary so near-dup pairs exist
    val rng = new scala.util.Random(42)
    val corpus = (1L to 60L).map { i =>
      val len = 5 + rng.nextInt(20)
      val toks = (0 until len).map(_ => s"w${rng.nextInt(40)}").distinct
      (i, if (i % 2 == 0) "en" else "de", toks)
    }
    for (t <- Seq(0.5, 0.7); tier <- Seq("prefix", "bitmap", "auto")) {
      val expected = (for {
        a <- corpus; b <- corpus
        if a._1 < b._1 && a._2 == b._2
        inter = a._3.toSet.intersect(b._3.toSet).size
        j = inter.toDouble / (a._3.size + b._3.size - inter)
        if j >= t
      } yield (a._1, b._1)).toSet
      val got = Dedup.jaccardJoin(
          corpus.toDF("id", "blk", "sh"), threshold = t, tier = tier)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"threshold $t tier $tier")
    }
  }

  test("jaccardJoin tiers agree row-for-row including similarity values") {
    // char-3-gram shape (small vocab) — the regime the bitmap tier owns;
    // includes exact dups (J = 1), near-dups, and multi-block isolation
    val rng = new scala.util.Random(7)
    val base = (1L to 40L).map { i =>
      val len = 20 + rng.nextInt(60)
      val text = (0 until len).map(_ => "abcdef".charAt(rng.nextInt(6))).mkString
      (i, if (i % 3 == 0) "de" else "en", text)
    }
    val corpus = (base ++ Seq(
      (101L, "en", base.head._3),           // exact dup of doc 1
      (102L, "en", base.head._3 + "xyz")))  // near-dup of doc 1
      .toDF("id", "blk", "text")
      .select(col("id"), col("blk"),
        Dedup.charShingles(col("text"), 3).as("sh"))
    def run(tier: String) = Dedup.jaccardJoin(
        corpus, threshold = 0.5, tier = tier)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = run("prefix")
    val bitmap = run("bitmap")
    assert(prefix.exists(_._3 == 1.0), "corpus must contain an exact-dup pair")
    assert(bitmap === prefix)
  }

  test("jaccardJoinCross = jaccardJoin filtered to cross-side pairs, both tiers") {
    // same corpus shape as the tier-agreement test, plus a side flag;
    // the cross tier must emit EXACTLY the side_a != side_b subset of
    // the full join, identical similarity values, in both tiers
    val rng = new scala.util.Random(11)
    val base = (1L to 40L).map { i =>
      val len = 20 + rng.nextInt(60)
      val text = (0 until len).map(_ => "abcdef".charAt(rng.nextInt(6))).mkString
      (i, if (i % 3 == 0) "de" else "en", text)
    }
    val corpus = (base ++ Seq(
      (101L, "en", base.head._3),           // exact dup of doc 1, other side
      (102L, "en", base.head._3 + "xyz"),   // near-dup of doc 1, same side
      (103L, "en", base(1)._3)))            // exact dup of doc 2, other side
      .toDF("id", "blk", "text")
      .select(col("id"), col("blk"),
        Dedup.charShingles(col("text"), 3).as("sh"),
        (pmod(col("id"), lit(2)) === 0).as("side"))
    val sides = corpus.select(col("id"), col("side"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def full(tier: String) = Dedup.jaccardJoin(
        corpus.drop("side"), threshold = 0.5, tier = tier)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def cross(tier: String) = Dedup.jaccardJoinCross(
        corpus, threshold = 0.5, sideCol = "side", tier = tier)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (tier <- Seq("bitmap", "prefix")) {
      val expected = full(tier).filter(p => sides(p._1) != sides(p._2))
      val got = cross(tier)
      assert(expected.nonEmpty && expected.size < full(tier).size,
        s"$tier: corpus must have both cross- and same-side pairs")
      assert(got === expected, s"tier $tier")
    }
  }

  test("connectedComponents: chains collapse, clusters stay separate") {
    // chain 1-2-3-4-5, triangle 10-11-12 (+ redundant edge), isolate pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    ).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 5L).forall(comp(_) === 1L))
    assert(Seq(10L, 11L, 12L).forall(comp(_) === 10L))
    assert(Seq(20L, 21L).forall(comp(_) === 20L))
    assert(comp.size === 10)
  }

  test("connectedComponents agrees with union-find on random graphs") {
    for (seed <- Seq(7, 21, 99)) {
      val rng = new scala.util.Random(seed)
      val n = 80
      val pairs = (1 to 120).map { _ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }.filter(p => p._1 != p._2)
      // reference: classic union-find with min-id relabeling
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(x => x -> find(x)).toMap
      // default path takes the driver union-find tier (contracted graph
      // is tiny); driverTierMaxEdges = 0 forces the distributed fixpoint
      // loop — both must agree with the reference exactly
      val got = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === want, s"seed $seed (driver tier)")
      val gotLoop = Dedup.connectedComponents(
          pairs.toDF("id_a", "id_b"), driverTierMaxEdges = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(gotLoop === want, s"seed $seed (loop tier)")
    }
  }

  test("substringDupGroups finds shared spans; sampleMod thins the index") {
    val docs = Seq(
      (1L, "the COMMON shared span here plus unique tail one"),
      (2L, "prefix two the common SHARED span here plus other"),
      (3L, "completely unrelated text with no overlap at all!")
    ).toDF("doc_id", "text")
    val groups = Dedup.substringDupGroups(docs, "doc_id", "text", k = 20)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // docs 1+2 share "common shared span here plus" (canonical, > 20 chars)
    assert(groups.nonEmpty)
    assert(groups.forall { case (keep, n) => keep === 1L && n === 2L })
    // doc 3 shares nothing: it never appears as a keeper of a group of 1
    val sampled = Dedup.substringDupGroups(docs, "doc_id", "text", k = 20,
      sampleMod = 4)
    assert(sampled.collect().length <= groups.length)
  }

  test("dedupAgainstSnapshot drops known fps, collapses batch dups") {
    val incoming = Seq(
      (10L, "brand new document"),
      (11L, "Brand  NEW document"),   // canonical dup of 10 within batch
      (12L, "already in the corpus"), // known fp -> dropped
      (13L, "another fresh one")
    ).toDF("doc_id", "text")
    val snapshot = Seq("already in the corpus").toDF("t")
      .select(graft.text.TextAnalysis.fingerprint(col("t")).as("fp"))
    val got = Dedup.dedupAgainstSnapshot(incoming, "doc_id", "text", snapshot)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((10L, 2L), (13L, 1L)))
  }

  test("bloomDedupAgainstSnapshot is value-identical to the plain anti-join") {
    // a corpus with exact dups, batch-internal dups and fresh docs; the
    // bloom path's false positives must re-confirm away so both
    // formulations agree row-for-row
    val corpus = (0L until 400L)
      .map(i => (i, s"document body number ${i % 300}")) // 100 exact dups
      .toDF("doc_id", "text")
    val snapshot = corpus.where(col("doc_id") < 250)
      .select(graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
      .distinct()
    val incoming = corpus.where(col("doc_id") >= 250)
    val plain = Dedup.dedupAgainstSnapshot(incoming, "doc_id", "text", snapshot)
    val bloomed =
      Dedup.bloomDedupAgainstSnapshot(incoming, "doc_id", "text", snapshot)
    assert(bloomed.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq ===
      plain.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq)
    assert(bloomed.count() === 50L) // ids 300-349 are genuinely new texts
  }

  test("rangeBlooms long path: every key lands in its own range's filter") {
    // the fp contract allows string OR long keys; the per-range build
    // must put longs natively (not via toString) for BloomContains'
    // mightContainLong probe to find them
    val fps = (0L until 100L).map(_ * 7919L)
    val snapshot = fps.toDF("fp")
    val blooms = Dedup.rangeBloomsRdd(snapshot, 4, 50L, 0.01).collect().toMap
    val rngOf = snapshot.select(col("fp"),
        pmod(xxhash64(col("fp")), lit(4L)).cast("int").as("rng"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(blooms.nonEmpty && blooms.size <= 4)
    for ((fp, rng) <- rngOf) {
      assert(blooms(rng).mightContainLong(fp), s"fp $fp missing from range $rng")
      // and it landed ONLY in its own range (no cross-range pollution):
      // a 7919-multiple absent from all OTHER ranges' filters with
      // overwhelming probability at 1% fpp
    }
    val crossHits = rngOf.count { case (fp, rng) =>
      blooms.exists { case (r2, bf) => r2 != rng && bf.mightContainLong(fp) }
    }
    assert(crossHits <= 5, s"$crossHits keys appear in foreign ranges")
  }

  test("executor-local bloom tier is value-identical and ships no plan-constant filters") {
    // ranges=4 forces the zipPartitions tier — the 10^11-key path where
    // no task, plan constant, or driver array ever holds more than its
    // own range's filter
    val dir = java.nio.file.Files.createTempDirectory("bloomlocal").toString
    (0L until 400L)
      .map(i => (i, s"document body number ${i % 300}"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val snapshot = corpus.where(col("doc_id") < 250)
      .select(graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
      .distinct()
    val incoming = corpus.where(col("doc_id") >= 250)
    val plain = Dedup.dedupAgainstSnapshot(incoming, "doc_id", "text", snapshot)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val local = Dedup.bloomDedupAgainstSnapshot(
      incoming, "doc_id", "text", snapshot,
      expectedItems = 1000L, ranges = 4)
    assert(local.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq === plain)
    // the defining property vs the single filter: NO filter is a plan
    // constant — probing happens executor-side inside zipPartitions
    // (the one-filter-per-task guarantee is require()d in the task)
    val plan = local.queryExecution.executedPlan.toString
    assert(!plan.contains("bloom_contains"),
      s"executor-local tier must not ship filters as plan constants:\n$plan")
  }

  test("auto tier selection: big snapshot hint goes executor-local, small stays single") {
    // same tiny data either way — only the expectedItems HINT differs;
    // auto must dispatch the measured-fastest tier for the declared
    // scale (BENCH_NOTES round 8: local wins from 2e5 keys up)
    val snapshot = Seq("a doc", "b doc")
      .toDF("text")
      .select(graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
    // parquet-backed: over a LocalRelation Catalyst constant-folds the
    // plan-constant probe away entirely
    val dir = java.nio.file.Files.createTempDirectory("bloomauto").toString
    Seq((1L, "a doc"), (2L, "c doc")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val incoming = spark.read.parquet(dir)
    val big = Dedup.bloomDedupAgainstSnapshot(incoming, "doc_id", "text",
      snapshot, expectedItems = 1000000L)
    assert(!big.queryExecution.executedPlan.toString.contains("bloom_contains"),
      "1e6-key hint must dispatch the executor-local tier (no plan constants)")
    val small = Dedup.bloomDedupAgainstSnapshot(incoming, "doc_id", "text",
      snapshot, expectedItems = 1000L)
    assert(small.queryExecution.executedPlan.toString.contains("bloom_contains"),
      "1e3-key hint must keep the single plan-constant bloom")
    // and both agree with each other on values
    assert(big.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq ===
      small.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq)
  }

  test("executor-local bloom tier: null-text rows route to range 0 as provably new") {
    // fingerprint(null text) = null; the local tier routes it to range 0
    // with might_dup = false — null-fp rows are kept
    val incoming = Seq(
      (1L, "fresh doc"), (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val snapshot = Seq("other doc").toDF("text")
      .select(graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
    val out = Dedup.bloomDedupAgainstSnapshot(incoming, "doc_id", "text",
      snapshot, expectedItems = 10L, ranges = 4)
    assert(out.count() === 2) // the fresh doc + the null-fp group
    val nullGrp = out.where(col("fp").isNull).collect()
    assert(nullGrp.length === 1)
    assert(nullGrp(0).getLong(1) === 2L && nullGrp(0).getLong(2) === 2L)
  }

  test("stripCommonLines strikes cross-doc boilerplate, keeps order and uniques") {
    val docs = Seq(
      (1L, "HEADER\nreal content one\nfooter text"),
      (2L, "HEADER\nreal content two\nfooter text"),
      (3L, "HEADER\nreal content three\nfooter text"),
      (4L, "  HEADER  \nsolo doc line"), // trim-normalized match
      (5L, "totally unique\n\nwith empty line")) // empties never boiler
      .toDF("doc_id", "text")
    val out = Dedup.stripCommonLines(docs, "doc_id", "text", minDocs = 3L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // HEADER in 4 docs (one via trim), footer in 3 -> both boilerplate
    assert(out(1L) === ((1L, 2L, "real content one")))
    assert(out(2L) === ((1L, 2L, "real content two")))
    assert(out(3L) === ((1L, 2L, "real content three")))
    assert(out(4L) === ((1L, 1L, "solo doc line")))
    // empty line kept verbatim, order preserved
    assert(out(5L) === ((3L, 0L, "totally unique\n\nwith empty line")))
  }

  test("stripCommonLines emits a row for null-text documents") {
    val docs = Seq(
      (1L, "shared line\nalpha"),
      (2L, "shared line\nbeta"),
      (3L, null.asInstanceOf[String]),
      (4L, "")).toDF("doc_id", "text")
    val out = Dedup.stripCommonLines(docs, "doc_id", "text", minDocs = 2L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.size === 4) // one row per input document, nulls included
    assert(out(1L) === ((1L, 1L, "alpha")))
    assert(out(2L) === ((1L, 1L, "beta")))
    // null text coalesces to "": a single empty line, never boilerplate
    assert(out(3L) === ((1L, 0L, "")))
    assert(out(4L) === ((1L, 0L, "")))
  }

  test("keepCanonical: highest score wins, ties break to the smallest id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "comp")
    val scored = Seq((1L, 10L), (2L, 30L), (3L, 30L), (7L, 5L), (9L, 5L))
      .toDF("doc_id", "score")
    val got = Dedup.keepCanonical(clusters, scored, "doc_id", "score")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // cluster 1: 2 and 3 tie at 30 -> smaller id 2 wins
    assert(got(1L) === ((2L, 30L, 3L)))
    // cluster 7: 7 and 9 tie at 5 -> 7 wins
    assert(got(7L) === ((7L, 5L, 2L)))
  }

  test("keepCanonical keeps the determinism contract for string ids") {
    // Regression (round-9 advice): the old tiebreak negate(id) cast
    // string ids to a null double, making the tie winner arbitrary.
    // The (−score, id) struct orders any orderable id type exactly.
    val clusters = Seq(("docB", "docA"), ("docA", "docA"), ("docC", "docA"),
      ("x2", "x1"), ("x1", "x1")).toDF("doc_id", "comp")
    val scored = Seq(("docA", 10L), ("docB", 10L), ("docC", 4L),
      ("x1", 1L), ("x2", 9L)).toDF("doc_id", "score")
    val got = Dedup.keepCanonical(clusters, scored, "doc_id", "score")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // docA and docB tie at 10 -> lexicographically smaller docA wins
    assert(got("docA") === (("docA", 10L, 3L)))
    assert(got("x1") === (("x2", 9L, 2L)))
  }

  test("connectedComponents handles non-numeric (string) ids") {
    // Regression: the old sum-of-decimal convergence checksum nulled out
    // on string ids (cast to decimal → NULL → every round summed to 0),
    // falsely signalling convergence after one round. The changed-row
    // count works for any orderable id type. Zero-padded names keep
    // lexicographic order == numeric order for the min-label assertions.
    val pairs = ((1 until 12).map(i => (f"n$i%02d", f"n${i + 1}%02d")) ++
      Seq(("zz1", "zz2"), ("zz2", "zz3"))).toDF("id_a", "id_b")
    for (tierMax <- Seq(200000, 0)) { // driver union-find tier, then loop tier
      val comp = Dedup.connectedComponents(pairs, driverTierMaxEdges = tierMax)
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert((1 to 12).forall(i => comp(f"n$i%02d") === "n01"), s"tier $tierMax")
      assert(Seq("zz1", "zz2", "zz3").forall(comp(_) === "zz1"), s"tier $tierMax")
      assert(comp.size === 15)
    }
  }

  test("spanningForestWithin preserves components exactly") {
    for (seed <- Seq(3, 17)) {
      val rng = new scala.util.Random(seed)
      val n = 60
      val pairs = (1 to 500).map(_ =>
          (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(p => p._1 != p._2).toDF("id_a", "id_b")
        .repartition(7) // multiple partitions: the forest is per-partition
      val forest = Dedup.spanningForestWithin(pairs)
      // the forest is a subset with at most one edge per union step
      assert(forest.count() <= pairs.count(), s"seed $seed")
      val full = Dedup.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val red = Dedup.connectedComponents(forest)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // identical node set AND identical min-id component labels
      assert(red === full, s"seed $seed")
    }
  }

  test("jaccardForestPairs clusters exactly like the full pair list") {
    val docs = (0L until 40L).map { i =>
      val fam = i / 4
      (i, "blk", s"family $fam shared boilerplate sentence number " +
        s"that repeats across the group with tail ${i % 4}")
    }.toDF("id", "blk", "text")
      .select(col("id"), col("blk"),
        Dedup.charShinglesFrom(graft.text.TextAnalysis.canonical(col("text")), 3)
          .as("sh"))
    val full = Dedup.connectedComponents(
        Dedup.jaccardJoin(docs, threshold = 0.5)
          .select(col("id_a"), col("id_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val forest = Dedup.connectedComponents(
        Dedup.jaccardForestPairs(docs, threshold = 0.5)
          .select(col("id_a"), col("id_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(forest === full)
    assert(full.nonEmpty)
  }

  test("connectedComponents fast tier matches the forced loop tier") {
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 8L), (7L, 8L), (5L, 5L))
      .toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val loop = Dedup.connectedComponents(pairs, driverTierMaxEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast === loop)
    assert(fast(9L) === 7L && fast(5L) === 5L)
  }

  test("connectedComponents tiers agree on null ids and drop null pairs") {
    // a null endpoint is no node: neither the driver tier's union-find
    // nor the loop tier may label it, so both return the same labels
    val pairs = Seq[(Option[Long], Option[Long])](
        (Some(1L), Some(2L)), (Some(2L), Some(3L)), (None, Some(3L)),
        (Some(5L), Some(6L)))
      .toDF("id_a", "id_b")
    val want = Map[Any, Any](1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    for (tierMax <- Seq(200000, 0)) { // fast driver tier, then loop tier
      val rows = Dedup.connectedComponents(pairs, driverTierMaxEdges = tierMax)
        .collect()
      assert(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
        s"tier $tierMax: ${rows.mkString(", ")}")
      assert(rows.map(r => r.get(0) -> r.get(1)).toMap === want, s"tier $tierMax")
    }
  }

  test("connectedComponents converges on a long chain within maxIter") {
    // path of 40 nodes: diameter 39 — path halving must converge in
    // O(log n) rounds, far under the default maxIter of 20
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.length === 40)
    assert(comp.forall(_._2 === 1L))
  }

  test("capBuckets bound: a degenerate bucket is dropped entirely") {
    val many = (1L to 50L).map(i => (i, "identical boilerplate text here"))
      .toDF("id", "text")
    // bucket cap smaller than the group -> no pairs at all
    val shingled = Dedup.shingleTable(many, "id", "text", 3)
    val capped = Dedup.minHashDedupFromShingles(shingled, maxBucketSize = 10)
    assert(capped.count() === 0)
    // default cap -> all 50 pair up (50*49/2)
    val full = Dedup.minHashDedupFromShingles(shingled)
    assert(full.count() === 50L * 49 / 2)
  }

  test("editDistanceJoin finds typo mutations, honors block + length contract") {
    val prefix = "shared sixteen c" // exactly 16 chars
    val fuzzy = Seq(
      (10L, prefix + "opy of a document body with a small typo inside"),
      (11L, prefix + "opy of a document body with a small typpo inside"),
      (12L, prefix + "opy of a document body with a small typo inside" +
        " plus thirty extra characters appended here"), // len diff > maxDist
      (13L, "different start " + "opy of a document body with a small typo inside"),
      (14L, prefix + "ompletely rewritten tail that no edit budget can bridge xxxx")
    ).toDF("id", "text")
    val out = Dedup.editDistanceJoin(fuzzy, "id", "text", maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((10L, 11L, 1L)),
      "only the in-block, in-length-budget, in-distance pair qualifies")
  }

  test("editDistanceJoin length banding is lossless and duplicate-free") {
    // lenBucket = 16: lengths 31 and 33 sit in bands 1 and 2 — the pair
    // crosses a band boundary and must still be found exactly once
    val base = "0123456789abcdef" // 16-char block prefix
    val df = Seq(
      (1L, base + "xxxxxxxxxxxxxxx"),        // len 31 -> band 1
      (2L, base + "xxxxxxxxxxxxxxxyy"),      // len 33 -> band 2
      (3L, base + "xxxxxxxxxxxxxxxyyzzzzzz") // len 39, diff 8 from id 1 -> kept
    ).toDF("id", "text")
    val rows = Dedup.editDistanceJoin(df, "id", "text", maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === rows.distinct.length, "no duplicate pair rows")
    assert(rows.toSet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("editDistanceJoin maxBlockSize drops degenerate blocks, keeps the rest") {
    val base = "0123456789abcdef"
    val hot = (1L to 30L).map(i => (i, base + "same boilerplate body"))
    val cool = Seq((100L, "another prefix xx tail one"),
      (101L, "another prefix xx tail onx"))
    val df = (hot ++ cool).toDF("id", "text")
    val capped = Dedup.editDistanceJoin(df, "id", "text", maxDist = 4,
      maxBlockSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq === Seq((100L, 101L)),
      "hot block dropped, cool block survives")
    // default: no cap, the hot block pairs all-vs-all
    assert(Dedup.editDistanceJoin(df, "id", "text", maxDist = 4).count()
      === 30L * 29 / 2 + 1)
  }

  test("editDistanceJoin threshold excludes pairs past maxDist") {
    val base = "0123456789abcdef"
    val df = Seq(
      (1L, base + " aaaa bbbb cccc"),
      (2L, base + " aaaa bbbb zzzz") // distance 4 on the verify window
    ).toDF("id", "text")
    assert(Dedup.editDistanceJoin(df, "id", "text", maxDist = 4).count() === 1)
    assert(Dedup.editDistanceJoin(df, "id", "text", maxDist = 3).count() === 0)
  }

  test("nearDupCollapse reconstructs dense clusters without a pair list") {
    // three dense clusters of near-identical docs + unrelated singles;
    // a tiny per-member suffix tweak keeps pairs near-dup, not exact
    def member(cluster: Int, i: Int): (Long, String) = {
      val base = (0 until 40)
        .map(t => s"c$cluster-tok${t % 37}").mkString(" ")
      ((cluster * 100 + i).toLong, s"$base extra$i")
    }
    val docs = ((0 until 3).flatMap(c => (0 until 12).map(i => member(c, i))) ++
      Seq((900L, "totally unrelated words about weather patterns only"),
        (901L, "another disjoint document speaking of mountain ranges")))
      .toDF("id", "text")
    val shingled = Dedup.shingleTable(docs, "id", "text", 3)
    val labels = Dedup.nearDupCollapseFromShingles(shingled,
      threshold = 0.5, edgesPerDoc = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // each dense cluster collapses WHOLE to its min id, even with the
    // spanning cap at 2 edges per doc
    for (c <- 0 until 3; i <- 0 until 12)
      assert(labels((c * 100 + i).toLong) === (c * 100).toLong,
        s"cluster $c member $i")
    // unrelated docs never enter any cluster
    assert(!labels.contains(900L) && !labels.contains(901L))
    // and the labels agree with the UNCAPPED pair-exact path
    val pairs = Dedup.minHashDedupFromShingles(shingled, threshold = 0.5)
    val exact = Dedup.connectedComponents(
        pairs.select(col("id_a"), col("id_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels === exact)
  }

  test("nearDupCollapse candidate stream is bit-identical to the " +
      "quadratic per-bucket pair form") {
    // A 30-member dense family (≫ 2·edgesPerDoc+1, so the bucket-low
    // shortcut is actually exercised), a 3-member chain, band
    // colliders that FAIL verification (headroom slots), singletons.
    def fam(i: Int): (Long, String) = {
      val base = (0 until 40).map(t => s"fam-tok${t % 31}").mkString(" ")
      (100L + i, s"$base tail$i")
    }
    val docs = ((0 until 30).map(fam) ++ Seq(
      (500L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (501L, "alpha beta gamma delta epsilon zeta eta theta iota prime"),
      (502L, "beta gamma delta epsilon zeta eta theta iota prime omega"),
      (900L, "wholly unrelated prose regarding tide tables and moons"),
      (901L, "other disjoint text about volcanic soil composition")))
      .toDF("id", "text")
    val edgesPerDoc = 2
    val shingled =
      Dedup.shingleTable(docs, "id", "text", 3).persist()
    // default directBucketMax (64): the 30-member family rides the
    // small-bucket self-join tier
    val got = Dedup.nearDupCollapseFromShingles(
        shingled, threshold = 0.5, edgesPerDoc = edgesPerDoc)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // directBucketMax = 4: the same family forced through the
    // large-bucket bucket-low tier — must be identical
    val gotLow = Dedup.nearDupCollapseFromShingles(
        shingled, threshold = 0.5, edgesPerDoc = edgesPerDoc,
        directBucketMax = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === gotLow)
    // legacy quadratic candidate stream, verbatim: per-bucket full
    // self-join, then the global smallest-2e cut per id_b
    val sig = Dedup.minHashSignaturesFromShingles(shingled, 32)
    val capped = Dedup.capBuckets(
      sig.select(col("id"), explode(Dedup.bandKeys(8, 4)).as("bk")), 100000)
    val candEdges = capped.as("l")
      .join(capped.as("r"),
        col("l.bk") === col("r.bk") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .groupBy(col("id_b"))
      .agg(slice(array_sort(collect_set(col("id_a"))), 1, 2 * edgesPerDoc)
        .as("_lo"))
      .select(explode(col("_lo")).as("id_a"), col("id_b"))
    val sh = shingled.select(col("id"), col("sh"))
    val legacyEdges = candEdges
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .where(round(Dedup.jaccard(col("sh_a"), col("sh_b")), 6) >= 0.5)
      .groupBy(col("id_b"))
      .agg(slice(array_sort(collect_set(col("id_a"))), 1, edgesPerDoc)
        .as("_lo"))
      .select(explode(col("_lo")).as("id_a"), col("id_b"))
    val want = Dedup.connectedComponents(legacyEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    shingled.unpersist()
    assert(got === want)
  }

  test("longestSharedSpan matches brute-force longest common substring") {
    val paste = "this exact paragraph was pasted verbatim between the " +
      "two documents and runs well past the window size"
    val short = "a shared sentence of overlap" // 28 chars
    val docs = Seq(
      (1L, s"doc one opens differently. $paste And then doc one ends."),
      (2L, s"Second document intro text! $paste Totally other closing."),
      (3L, s"third text has $short plus unrelated padding words here"),
      (4L, s"fourth one carries $short too but nothing else in common"),
      (5L, "entirely disjoint content about basalt columns and tides"))
      .toDF("id", "text")
    val k = 20
    val got = Dedup.longestSharedSpan(docs, "id", "text", k)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // brute-force LCS length over the canonical strings
    def canon(s: String) = s.toLowerCase.replaceAll("\\s+", " ").trim
    def lcs(a: String, b: String): Int = {
      var best = 0
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        if (a(i - 1) == b(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          best = math.max(best, dp(i)(j))
        }
      best
    }
    val raw = Seq(
      1L -> s"doc one opens differently. $paste And then doc one ends.",
      2L -> s"Second document intro text! $paste Totally other closing.",
      3L -> s"third text has $short plus unrelated padding words here",
      4L -> s"fourth one carries $short too but nothing else in common",
      5L -> "entirely disjoint content about basalt columns and tides")
      .toMap
    for (a <- raw.keys; b <- raw.keys if a < b) {
      val expect = lcs(canon(raw(a)), canon(raw(b)))
      if (expect >= k)
        assert(got((a, b)) === expect.toLong, s"pair ($a,$b)")
      else
        assert(!got.contains((a, b)), s"pair ($a,$b) below window size")
    }
  }

  test("spanCoverage matches brute-force interval union per doc") {
    val paste = "this exact paragraph was pasted verbatim between the " +
      "two documents and runs well past the window size"
    val raw = Seq(
      1L -> s"doc one opens differently. $paste And then doc one ends.",
      2L -> s"Second document intro text! $paste Totally other closing.",
      3L -> s"third has the $paste twice: $paste and padding after it",
      4L -> "entirely disjoint content about basalt columns and tides",
      5L -> "tiny")
    val k = 20
    val got = Dedup.spanCoverage(raw.toDF("id", "text"), "id", "text", k)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    def canon(s: String) = s.toLowerCase.replaceAll("\\s+", " ").trim
    val ct = raw.map { case (id, t) => id -> canon(t) }.toMap
    for ((id, c) <- ct) {
      val others = ct.collect { case (o, t) if o != id => t }
      val matched = (0 to c.length - k)
        .filter(p => others.exists(_.contains(c.substring(p, p + k))))
      val covered = matched.flatMap(p => p until p + k).distinct.size
      val (nw, cov, tot, ppm) = got(id)
      assert(nw === matched.size.toLong, s"doc $id windows")
      assert(cov === covered.toLong, s"doc $id coverage")
      assert(tot === c.length.toLong, s"doc $id length")
      if (c.nonEmpty)
        assert(ppm === 1000000L * covered / c.length, s"doc $id ppm")
    }
    assert(got(4L)._2 === 0L && got(5L)._2 === 0L)
  }

  test("removeSharedSpans cuts later copies, keeps the first intact") {
    val paste = "this exact paragraph was pasted verbatim between the " +
      "two documents and runs well past the window size"
    val raw = Seq(
      1L -> s"doc one opens differently. $paste And then doc one ends.",
      2L -> s"Second document intro text! $paste Totally other closing.",
      3L -> s"third has the $paste twice: $paste and padding after it",
      4L -> "entirely disjoint content about basalt columns and tides",
      5L -> "tiny")
    val k = 20
    val got = Dedup.removeSharedSpans(raw.toDF("id", "text"),
        "id", "text", k)
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    def canon(s: String) = s.toLowerCase.replaceAll("\\s+", " ").trim
    val ct = raw.map { case (id, t) => id -> canon(t) }.toMap
    for ((id, c) <- ct) {
      // brute force: position removable iff its window's min-id doc
      // is not this one
      val removable = (0 to c.length - k).filter { p =>
        val w = c.substring(p, p + k)
        val docsWith = ct.collect { case (o, t) if t.contains(w) => o }
        docsWith.size >= 2 && docsWith.min != id
      }
      val covered = removable.flatMap(p => p until p + k).distinct.sorted
      val kept = c.zipWithIndex
        .collect { case (ch, i) if !covered.contains(i) => ch }.mkString
      val (gotText, tot, rem, ppm) = got(id)
      assert(gotText === kept, s"doc $id text")
      assert(tot === c.length.toLong && rem === covered.size.toLong,
        s"doc $id counts")
      if (c.nonEmpty)
        assert(ppm === 1000000L * covered.size / c.length, s"doc $id ppm")
    }
    // the first-occurrence doc keeps its copy verbatim
    assert(got(1L)._1 === ct(1L))
    assert(got(4L)._1 === ct(4L) && got(5L)._1 === ct(5L))
  }

  test("winnowedDupGroups: guarantee holds, index winnowed, no false groups") {
    val k = 20; val w = 8
    // randomized corpora with planted shared spans of EXACTLY the
    // guarantee length w + k - 1: every planted pair MUST share a
    // selected fingerprint
    for (seed <- Seq(3, 17, 91)) {
      val rng = new scala.util.Random(seed)
      def prose(n: Int) =
        (0 until n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
      val span = prose(w + k - 1)
      val docs = Seq(
        (1L, s"${prose(40)}$span${prose(35)}"),
        (2L, s"${prose(55)}$span${prose(20)}"),
        (3L, prose(120)),
        (4L, prose(90))).toDF("id", "text")
      val groups = Dedup.winnowedDupGroups(docs, "id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // guarantee: the planted pair shares >= 1 winnowed fingerprint
      assert(groups.exists { case (_, keep, n) => keep == 1L && n >= 2L },
        s"seed $seed: planted span must collide")
      // docs 3/4 are random prose: no group should span 3+ docs
      assert(groups.forall(_._3 <= 2L), s"seed $seed: spurious group")
    }
    // winnowing density: far fewer fingerprints than raw windows
    val long = (1L, ("the quick brown fox jumps over a lazy dog " * 20))
    val raw = Dedup.substringDupGroups(
      Seq(long, (2L, long._2)).toDF("id", "text"), "id", "text", k)
    val win = Dedup.winnowedDupGroups(
      Seq(long, (2L, long._2)).toDF("id", "text"), "id", "text", k, w)
    assert(win.count() > 0 && win.count() < raw.count() / 2)
  }

  test("winnowedSharedSpan: guarantee discovery, lower-bound lengths") {
    val k = 20; val w = 8
    for (seed <- Seq(5, 23, 77)) {
      val rng = new scala.util.Random(seed)
      def prose(n: Int) =
        (0 until n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
      // one span at EXACTLY the guarantee length, one long paste
      val short = prose(w + k - 1)
      val long = prose(200)
      val docs = Seq(
        (1L, s"${prose(40)}$short${prose(35)}"),
        (2L, s"${prose(55)}$short${prose(20)}"),
        (3L, s"${prose(30)}$long${prose(25)}"),
        (4L, s"${prose(60)}$long${prose(15)}"),
        (5L, prose(150))).toDF("id", "text")
      val got = Dedup.winnowedSharedSpan(docs, "id", "text", k, w)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // guarantee: both planted pairs discovered
      assert(got.contains((1L, 2L)), s"seed $seed: guarantee-length span")
      assert(got.contains((3L, 4L)), s"seed $seed: long span")
      // lower-bound semantic, never exceeding the true span
      assert(got((1L, 2L)) >= k && got((1L, 2L)) <= (w + k - 1).toLong,
        s"seed $seed: short span bound, got ${got((1L, 2L))}")
      assert(got((3L, 4L)) >= (200 - 2 * (w - 1)).toLong &&
        got((3L, 4L)) <= 200L,
        s"seed $seed: long span bound, got ${got((3L, 4L))}")
      // every winnowed pair/length is dominated by the exact report
      val full = Dedup.longestSharedSpan(docs, "id", "text", k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      got.foreach { case (pair, lb) =>
        assert(full.contains(pair) && lb <= full(pair),
          s"seed $seed: $pair winnowed $lb vs exact ${full.get(pair)}")
      }
    }
  }

  test("longestSharedSpan: windows above maxDocsPerWindow stay excluded") {
    // 5 docs share one boilerplate span: every shared window has
    // doc-frequency 5, so cap 4 empties the report and cap 5 yields
    // all C(5,2) pairs — pins the two-step screen + over-cap anti-join
    val boiler = "this boilerplate span appears everywhere in the corpus"
    val five = (1L to 5L).map(i => (i, s"head $i $boiler tail $i"))
      .toDF("id", "text")
    assert(Dedup.longestSharedSpan(five, "id", "text", k = 20,
      maxDocsPerWindow = 4).count() === 0L)
    assert(Dedup.longestSharedSpan(five, "id", "text", k = 20,
      maxDocsPerWindow = 5).count() === 10L)
  }

  test("longestSharedSpan: cap counts DISTINCT docs, not occurrences") {
    // doc 1 repeats the paste three times, doc 2 carries it once: every
    // shared window hash has 4 total occurrences but only 2 distinct
    // docs, so cap 3 must KEEP the pair — pins the eligibility screen's
    // hot branch (a count(*)-only formulation would silently drop it)
    val paste = "this exact paragraph was pasted verbatim between the " +
      "two documents and runs well past the window size"
    val docs = Seq(
      (1L, s"first copy: $paste middle: $paste closing: $paste end"),
      (2L, s"other doc intro. $paste and unrelated closing words here"))
      .toDF("id", "text")
    val got = Dedup.longestSharedSpan(docs, "id", "text", k = 20,
        maxDocsPerWindow = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(got.keySet === Set((1L, 2L)))
    assert(got((1L, 2L)) >= paste.length.toLong)
  }

  test("winnowedDupGroups: oversized doc truncates at 2^20 windows, no corruption") {
    val k = 3; val w = 8
    // a doc past the 2^20 position encoding limit must behave exactly
    // like its truncated prefix (2^20 + k - 1 chars) instead of
    // emitting corrupted fingerprints from the negative-tiebreak zone
    def prose(n: Int): String = {
      val sb = new StringBuilder(n)
      var x = 88172645463325252L
      var i = 0
      while (i < n) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        sb.append(('a' + (java.lang.Long.remainderUnsigned(x, 26L)).toInt).toChar)
        i += 1
      }
      sb.toString
    }
    val full = prose((1 << 20) + 200)
    val prefix = full.substring(0, (1 << 20) + k - 1)
    def fps(text: String): Set[Long] =
      Dedup.winnowedDupGroups(Seq((1L, text)).toDF("id", "text"),
        "id", "text", k, w, minDocs = 1L)
        .collect().map(_.getLong(0)).toSet
    val fullFps = fps(full)
    assert(fullFps === fps(prefix), "truncation equivalence")
    assert(fullFps.forall(_ >= 0L), "no negative decoded hashes")
  }

  private def containmentCorpus = {
    import spark.implicits._
    val wrapper = "every page of this site carries the same header " +
      "navigation footer and boilerplate text around the content"
    val core = "the actual article body discusses shuffle partitioning " +
      "and broadcast joins in considerable depth"
    Seq(
      (1L, "en", s"$wrapper $core $wrapper"),   // container
      (2L, "en", core),                          // contained in 1
      (3L, "en", "a completely different note on garden furniture " +
        "maintenance and seasonal oiling of hardwood surfaces"),
      (4L, "de", core),                          // same text, other block
      (5L, "en", "")                             // empty: never contained
    ).toDF("id", "blk", "text")
      .select(col("id"), col("blk"), Dedup.tokensOf(col("text")).as("toks"))
      .select(col("id"), col("blk"),
        Dedup.shinglesFromTokens(col("toks"), 3).as("sh"))
  }

  test("containmentJoin: wrapped copy surfaces, asymmetric, block-scoped") {
    val got = Dedup.containmentJoin(containmentCorpus, threshold = 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // core (2) is fully contained in the wrapped page (1)...
    assert(got.exists { case (a, b, c) => a == 2L && b == 1L && c == 1.0 })
    // ...but NOT the other way round (asymmetry), and never cross-block
    assert(!got.exists { case (a, b, _) => a == 1L && b == 2L })
    assert(!got.exists { case (a, b, _) => a == 4L || b == 4L })
    assert(!got.exists { case (a, b, _) => a == 3L || b == 3L })
    assert(!got.exists { case (a, b, _) => a == 5L || b == 5L })
  }

  test("containmentJoinPrefix output is value-identical to the exact tier") {
    val exact = Dedup.containmentJoin(containmentCorpus, threshold = 0.8)
      .collect().map(_.toSeq).toSet
    val prefix = Dedup.containmentJoinPrefix(containmentCorpus,
        threshold = 0.8)
      .collect().map(_.toSeq).toSet
    assert(prefix === exact)
    assert(prefix.nonEmpty)
    // and at a lower threshold where more pairs qualify (both
    // directions for near-identical docs)
    val lo = Dedup.containmentJoin(containmentCorpus, threshold = 0.3)
      .collect().map(_.toSeq).toSet
    val loP = Dedup.containmentJoinPrefix(containmentCorpus,
        threshold = 0.3)
      .collect().map(_.toSeq).toSet
    assert(loP === lo)
    assert(lo.size > prefix.size)
  }
}
