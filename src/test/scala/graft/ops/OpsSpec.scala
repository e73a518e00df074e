package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the training-data pipeline operators. */
class OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  import spark.implicits._

  // a corpus with one exact dup pair, one near-dup pair, one unique doc
  private lazy val corpus: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today", "a"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today", "a"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight", "a"),
    (4L, "completely different content about spark query engines and shuffles", "a"),
    (5L, "", "a")
  ).toDF("doc_id", "text", "blk")

  // ------------------------------------------------------------------ text

  test("readability: flesch on a known sentence; guards on empty text") {
    val r = spark.range(1).select(
      TextOps.wordCount(lit("The cat sat.")).as("w"),
      TextOps.sentenceCount(lit("The cat sat. Yes! Go?")).as("s"),
      TextOps.syllableCount(lit("banana")).as("y"),
      round(TextOps.fleschScore(lit("The cat sat.")), 6).as("f"),
      TextOps.fleschScore(lit("")).as("fe")).head()
    assert(r.getLong(0) == 3L)   // The, cat, sat
    assert(r.getLong(1) == 3L)   // ., !, ?
    assert(r.getLong(2) == 3L)   // a-a-a vowel groups
    // words=3, sentences=1, syllables=3 ("e", "a", "a"):
    // 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert(math.abs(r.getDouble(3) - 119.19) < 1e-9)
    // empty text: words floored to 1, syllables 0 → 206.835-1.015-0
    assert(math.abs(r.getDouble(4) - (206.835 - 1.015)) < 1e-9)
  }

  test("codeScore: source-ish text trips isCode, prose does not") {
    val code = "def f(x) {\n    return (x + 1);\n}\n\tval y = f(2);"
    val prose = "It was a bright cold day in April, and the clocks " +
      "were striking thirteen. Winston Smith hurried home."
    val r = spark.range(1).select(
      TextOps.isCode(lit(code)).as("c"),
      TextOps.isCode(lit(prose)).as("p"),
      TextOps.codeScore(lit("")).as("z")).head()
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getDouble(2) == 0.0) // empty: 0/(0+1)
  }

  test("tokenCount: whitespace runs, blank → 0") {
    val r = spark.range(1).select(
      TextOps.tokenCount(lit("a  b\tc")).as("t1"),
      TextOps.tokenCount(lit("")).as("t2"),
      TextOps.tokenCount(lit("   ")).as("t3"),
      TextOps.tokenCount(lit("one")).as("t4")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 0L, 0L, 1L)))
  }

  test("subword/punct counts") {
    val r = spark.range(1).select(
      TextOps.subwordCount(lit("hello, world42! x")).as("s"),
      TextOps.punctCount(lit("a, b; c... d")).as("p")).head()
    // hello , world 42 ! x → 6 subword units; punct: , ; . . . → 5
    assert(r.getLong(0) == 6L && r.getLong(1) == 5L)
  }

  test("fingerprint: deterministic, position-sensitive, empty → 0") {
    def fpScala(s: String): Long = {
      val w = Iterator.iterate(1L)(_ * 31L).take(8).toSeq
      s.zipWithIndex.map { case (c, i) => c.toLong * w(i % 8) }.sum % 1000000007L
    }
    val r = spark.range(1).select(
      TextOps.fingerprint(lit("abc")).as("a"),
      TextOps.fingerprint(lit("acb")).as("b"),
      TextOps.fingerprint(lit("")).as("c")).head()
    assert(r.getLong(0) == fpScala("abc"))
    assert(r.getLong(1) == fpScala("acb"))
    assert(r.getLong(0) != r.getLong(1)) // position sensitivity
    assert(r.getLong(2) == 0L)
  }

  test("langId picks the dominant marker language; 'und' when none") {
    val r = spark.range(1).select(
      TextOps.langId(lit("the cat and the dog is of value to us")).as("en"),
      TextOps.langId(lit("der hund und die katze ist nicht da")).as("de"),
      TextOps.langId(lit("le chat et les chiens est une merveille")).as("fr"),
      TextOps.langId(lit("xyzzy plugh qwerty")).as("und")).head()
    assert((r.getString(0), r.getString(1), r.getString(2), r.getString(3)) ==
      (("en", "de", "fr", "und")))
  }

  test("qualityScore stays in [0,1]") {
    val scores = corpus.select(
      TextOps.qualityScore(col("text"), length(col("text"))).as("q"))
      .collect().map(_.getDouble(0))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  // ----------------------------------------------------------------- dedup

  test("exact dedup keeps min id and counts dups") {
    val r = Dedup.exact(corpus, "text", "doc_id").orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("shingles: fewer than n tokens → empty, no phantom shingles") {
    val r = spark.range(1).select(
      size(Dedup.shingles(lit("one two"), 3)).as("a"),
      size(Dedup.shingles(lit("one two three four"), 3)).as("b")).head()
    assert(r.getInt(0) == 0 && r.getInt(1) == 2)
  }

  test("ngramJaccardPairs finds exact+near dups within block") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", "blk",
        n = 3, threshold = 0.5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashLshPairs agrees with exact pairs at high threshold") {
    val exact = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", "blk",
        n = 3, threshold = 0.8)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(corpus, "text", "doc_id",
        n = 3, k = 128, bands = 32, threshold = 0.8)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // candidates are exact-verified inside minhashLshPairs, so lsh is a
    // subset of exact by construction; equality additionally needs the
    // banding to FIND every >=0.8 pair (docs 1,2 are identical: certain)
    assert(lsh == exact)
    assert(lsh.contains((1L, 2L)))
  }

  test("dupNgramFraction: exact dups 1.0, unique doc 0.0, empty doc row present") {
    val out = TextOps.dupNgramFraction(corpus, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.size == 5) // every doc, including the empty one
    assert(out(1L)._2 == 1.0 && out(2L)._2 == 1.0) // exact dup pair
    assert(out(3L)._2 > 0.5 && out(3L)._2 < 1.0)   // near dup shares most grams
    assert(out(4L) == ((out(4L)._1, 0.0)) && out(4L)._1 > 0) // unique content
    assert(out(5L) == ((0L, 0.0)))                 // empty doc: 0 grams, 0.0
  }

  test("prefixJaccardPairs == naive all-pairs on random corpora (exactness)") {
    // the operator's claim is PROVABLE completeness — check it against
    // the quadratic scan on random word-soup corpora at several
    // thresholds, including boundary-ish ones
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    for (trial <- 1 to 3; threshold <- Seq(0.5, 0.7, 0.9)) {
      val docsDf = (0 until 40).map { i =>
        val len = 6 + rnd.nextInt(10)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
          "one")
      }.toDF("doc_id", "text", "blk")
      val naive = Dedup.ngramJaccardPairs(docsDf, "text", "doc_id", "blk",
          n = 2, threshold = threshold, maxBlock = 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
      val exact = Dedup.prefixJaccardPairs(docsDf, "text", "doc_id",
          n = 2, threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
      assert(exact == naive,
        s"trial $trial τ=$threshold: prefix ${exact.size} vs naive ${naive.size}")
    }
  }

  test("prefixJaccard positional filter prunes short-bound candidates, keeps exactness") {
    // docs 1/2: exact dups of nine common tokens. Doc 100 = zzz + all
    // commons; doc 200 = three singletons + zzz + six commons. The ONLY
    // prefix token 100/200 share is zzz, at ordered positions (0, 3) of
    // two length-10 sets → overlap bound min(0,3)+min(10,7) = 7 < α =
    // 0.7/1.7·20 ≈ 8.24, so the positional filter kills the candidate
    // the length filter (τ·10 ≤ 10) lets through; true J = 7/13 < τ, so
    // exactness is unharmed.
    val docs = Seq(
      (1L, (1 to 9).map(i => s"c$i").mkString(" ")),
      (2L, (1 to 9).map(i => s"c$i").mkString(" ")),
      (100L, "zzz " + (1 to 9).map(i => s"c$i").mkString(" ")),
      (200L, "u1 u2 u3 zzz " + (1 to 6).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val base = docs.select(col("doc_id").cast("long").as("__id"),
      Dedup.hashedShingleSet(col("text"), 1).as("__sh"))
    def cands(positional: Boolean): Set[(Long, Long)] =
      Dedup.prefixJaccardCandidates(base, 0.7, positional = positional)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withPos = cands(true)
    val withoutPos = cands(false)
    assert(withPos.subsetOf(withoutPos))
    assert(withoutPos.contains((100L, 200L)) && !withPos.contains((100L, 200L)),
      s"positional filter did not prune: $withPos / $withoutPos")
    assert(withPos.contains((1L, 2L))) // true pairs survive pruning
    val naive = Dedup.ngramJaccardPairs(docs.withColumn("blk", lit("x")),
        "text", "doc_id", "blk", n = 1, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val got = Dedup.prefixJaccardPairs(docs, "text", "doc_id",
        n = 1, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    assert(got == naive && naive.map(p => (p._1, p._2)) ==
      Set((1L, 2L), (1L, 100L), (2L, 100L)))
  }

  test("minhashLshPairsAgainst: cross-side pairs only, id spaces may overlap") {
    // corpus doc 1 and batch doc 2 are exact dups (cross-side: found);
    // docs 1 and 2 would also pair WITHIN the full corpus, but each
    // side here holds only one of them. Batch docs 10/11 are exact dups
    // of each other (within-side: must NOT be reported).
    val batch = Seq(
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (10L, "some entirely distinct batch document body for the within test"),
      (11L, "some entirely distinct batch document body for the within test")
    ).toDF("doc_id", "text")
    val corpusSide = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "an overlapping id with completely unrelated corpus content here")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairsAgainst(batch, corpusSide, "text", "doc_id",
        n = 3, k = 128, bands = 32, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((2L, 1L, 1.0))) // cross dup found, id 2 vs 2 not self-matched
  }

  test("verifyJaccard: AQE splits a hub document's skewed join partition") {
    // one hub doc appears in 10^4 candidate pairs (the boilerplate-hub
    // shape at corpus scale) — the verify join-back must not leave all
    // its pair rows in one task. Force shuffled joins (no broadcast) and
    // lower the AQE skew thresholds so the test corpus crosses them, as
    // a 100 TB run's defaults would be crossed by a real hub.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

      // id_a and the texts derive from the range column (not literals)
      // so Catalyst cannot constant-fold the hub key or the shingles
      // into a cartesian-of-one-row plan
      val n = 10000
      val cand = spark.range(1, n + 1)
        .select((col("id") % lit(1)).as("id_a"), col("id").as("id_b"))
      val sh = spark.range(0, n + 1)
        .select(col("id").as("__id"),
          Dedup.hashedShingleSet(
            concat(lit("the quick brown fox jumps over the lazy dog shared "),
              lit("boilerplate text in every single document near variant "),
              (col("id") % 13).cast("string")),
            3).as("__sh"))
      val out = Dedup.verifyJaccard(cand, sh, threshold = 0.5)
      val rows = out.collect()
      assert(rows.length == n) // near-identical shingles pass the verify
      assert(rows.forall(r => r.getDouble(2) >= 0.5 && r.getLong(0) == 0L))
      // the hub partition was detected and split by OptimizeSkewedJoin
      val planStr = out.queryExecution.executedPlan.toString
      assert(planStr.contains("skewed"),
        s"no skew split in the verify join plan:\n$planStr")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("simhash: identical text → identical fp; near text → small hamming") {
    val fps = corpus.where(col("doc_id") <= 4)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(1L), fps(3L)) <= 8)
    assert(ham(fps(1L), fps(4L)) > 8)
  }

  test("simhashPairs finds the exact-dup pair") {
    val pairs = Dedup.simhashPairs(corpus, "text", "doc_id", maxDist = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("simhashPairs: maxBucket caps degenerate mega-buckets (skew safety)") {
    // 50 identical docs → every chunk bucket holds all 50 ids. With the
    // cap below the corpus size the oversized buckets are dropped (the
    // documented recall tradeoff instead of a quadratic blow-up)...
    val degenerate = spark.range(50)
      .select(col("id").as("doc_id"), lit("same boilerplate text here").as("text"))
    val capped = Dedup.simhashPairs(degenerate, "text", "doc_id",
      maxDist = 3, maxBucket = 10)
    assert(capped.count() == 0)
    // ...and an uncapped run still sees all 50*49/2 exact-dup pairs.
    val uncapped = Dedup.simhashPairs(degenerate, "text", "doc_id",
      maxDist = 3, maxBucket = 1000)
    assert(uncapped.count() == 50L * 49 / 2)
    assert(uncapped.where(col("dist") =!= 0).count() == 0)
  }

  test("ngramJaccardPairs: maxBlock drops a degenerate block (skew safety)") {
    // 60 near-identical docs under ONE block key — the uncapped
    // quadratic corner. With the cap below the block size the block is
    // dropped (bounded output); a healthy block is unaffected.
    val degenerate = spark.range(60)
      .select(col("id").as("doc_id"),
        concat(lit("shared boilerplate text repeated in every document "),
          col("id")).as("text"),
        lit("hot").as("blk"))
      .union(corpus.select(col("doc_id") + 1000, col("text"), lit("cold")))
    val capped = Dedup.ngramJaccardPairs(degenerate, "text", "doc_id", "blk",
      n = 3, threshold = 0.5, maxBlock = 10)
    val got = capped.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got.forall { case (a, b) => a >= 1000 && b >= 1000 }) // hot dropped
    assert(got.contains((1001L, 1002L))) // cold block still pairs
    // and an adequate cap still sees the full quadratic pair set
    val uncapped = Dedup.ngramJaccardPairs(degenerate, "text", "doc_id", "blk",
      n = 3, threshold = 0.5, maxBlock = 100)
    assert(uncapped.where(col("id_a") < 1000).count() == 60L * 59 / 2)
  }

  test("embeddingNearDupPairs: maxBlock drops a degenerate block (skew safety)") {
    val degenerate = spark.range(50)
      .select(col("id").as("vec_id"),
        array(lit(1.0f), lit(0.0f), lit(0.0f)).as("embedding"),
        lit("hot").as("blk"))
      .union(spark.createDataFrame(Seq(
        (1000L, Array(1.0f, 0.0f, 0.0f), "cold"),
        (1001L, Array(0.99f, 0.01f, 0.0f), "cold"))
      ).toDF("vec_id", "embedding", "blk"))
    val capped = Dedup.embeddingNearDupPairs(degenerate, "embedding", "vec_id",
      "blk", threshold = 0.9, maxBlock = 10)
    val got = capped.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == Set((1000L, 1001L))) // hot block dropped, cold intact
    val uncapped = Dedup.embeddingNearDupPairs(degenerate, "embedding", "vec_id",
      "blk", threshold = 0.9, maxBlock = 100)
    assert(uncapped.where(col("id_a") < 1000).count() == 50L * 49 / 2)
  }

  test("simhashPairs: generalized chunking at maxDist=7 keeps the pigeonhole guarantee") {
    // fingerprints differing in exactly 7 bits must still collide on one
    // of the 8 chunks; verify via a corpus whose near-pair distance is
    // known to be <= 7 under the default token hash
    val pairs7 = Dedup.simhashPairs(corpus, "text", "doc_id", maxDist = 7)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(pairs7.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    // every reported pair respects the distance bound
    assert(pairs7.forall(_._3 <= 7))
    // maxDist=7 is a superset of maxDist=3's pair set
    val pairs3 = Dedup.simhashPairs(corpus, "text", "doc_id", maxDist = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs3.subsetOf(pairs7.map(p => (p._1, p._2)).toSet))
  }

  // ------------------------------------------------------------ similarity

  private lazy val vecs: DataFrame = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f), 0),
    (3L, Array(0.0f, 0.0f, 1.0f), 1),
    (4L, Array(-1.0f, 0.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("cosine: orthogonal → 0, identical → 1, zero-norm guarded") {
    val r = vecs.where(col("vec_id") === 0).select(
      Similarity.cosine(col("embedding"), col("embedding")).as("a"),
      Similarity.cosine(col("embedding"), lit(Array(0.0f, 1.0f, 0.0f))).as("b"),
      Similarity.cosine(col("embedding"), lit(Array(0.0f, 0.0f, 0.0f))).as("c")
    ).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0)
  }

  test("bruteForceTopK: correct neighbors, rank order, no self-match") {
    val r = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 0),
        "embedding", "vec_id", k = 2)
      .orderBy("rank").collect()
    assert(r.length == 2)
    assert(r(0).getLong(1) == 1L) // closest: (0.9, 0.1, 0)
    assert(r(0).getLong(2) == 1L && r(1).getLong(2) == 2L)
    assert(r.forall(_.getLong(1) != 0L))
  }

  test("TopK aggregator merge keeps global best with ties by id") {
    val agg = new Similarity.TopK(3)
    val a = List(Similarity.Scored(1, 0.9), Similarity.Scored(2, 0.5))
    val b = List(Similarity.Scored(3, 0.9), Similarity.Scored(4, 0.7))
    val m = agg.finish(agg.merge(a, b))
    assert(m.map(_.id) == Seq(1L, 3L, 4L)) // 0.9(id1), 0.9(id3), 0.7
  }

  test("deduplicate returns full kept rows") {
    val r = Dedup.deduplicate(corpus, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L, 5L))
    assert(r.head.schema.fieldNames.toSeq == corpus.schema.fieldNames.toSeq)
  }

  test("connectedComponents == driver-side union-find on a random graph") {
    // deterministic pseudo-random edge list with several components,
    // a chain (stresses round count) and a hub (stresses the
    // no-adjacency-list path)
    val rnd = new scala.util.Random(7)
    val chain = (0L until 12L).sliding(2).map(s => (s(0) + 100, s(1) + 100)).toSeq
    val hub = (1L to 15L).map(i => (500L, 500L + i))
    val random = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val all = chain ++ hub ++ random
    // reference: union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    all.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val expect = parent.keys.map(k => k -> find(k)).toMap

    val got = Dedup.connectedComponents(all.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("connectedComponents: driver fast path == distributed loop on the same graph") {
    val rnd = new scala.util.Random(11)
    val edges = (Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      ++ (0L until 10L).sliding(2).map(s => (s(0) + 200, s(1) + 200)))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(df) // default limit → driver path
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(df, driverEdgeLimit = 0L) // force loop
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
  }

  test("connectedComponents: empty input and single-edge graphs") {
    val empty = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(empty.collect().isEmpty)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "component"))
    val one = Dedup.connectedComponents(Seq((9L, 3L), (3L, 9L), (9L, 9L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(9L -> 3L, 3L -> 3L))
  }

  test("componentsAgainst: merged ≡ from-scratch, untouched rows " +
      "byte-exact (round 16)") {
    // existing graph: {1,2,3} (root 1), {10,11} (root 10), {20,21}
    // (root 20), singleton-ish {30,31}
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (30L, 31L)).toDF("id_a", "id_b")
    val existing = Dedup.connectedComponents(oldPairs)
    // batch: bridges {10,11}+{20,21}, links a NEW node 99 into {1..3},
    // introduces a new MINIMUM 0 into {1..3}, and a brand-new pair
    // (40,41); {30,31} untouched
    val batch = Seq((11L, 20L), (3L, 99L), (0L, 2L), (40L, 41L))
      .toDF("id_a", "id_b")
    val merged = Dedup.componentsAgainst(existing, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.connectedComponents(
        oldPairs.unionByName(batch))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == scratch)
    assert(merged(0L) == 0L && merged(1L) == 0L && merged(99L) == 0L)
    assert(merged(21L) == 10L && merged(40L) == 40L)
    // untouched component rows pass through byte-exact
    assert(merged(30L) == 30L && merged(31L) == 30L)
    val untouchedRows = Dedup.componentsAgainst(existing, batch)
      .where(col("component") === 30L).collect().toSet
    val originalRows = existing.where(col("component") === 30L)
      .collect().toSet
    assert(untouchedRows == originalRows)
    // distributed sub-solve path agrees (force past the driver limit)
    val mergedDist = Dedup.componentsAgainst(existing, batch,
        driverEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mergedDist == scratch)
    // an empty batch is the identity
    val idm = Dedup.componentsAgainst(existing,
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idm == existing.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("componentsRetract: splits repair touched-only, untouched rows " +
      "byte-exact (round 17)") {
    // {1,2,3,4} chain, {10,11,12} triangle, {20,21} pair, {30,31}
    // untouched
    val all = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (11L, 12L), (10L, 12L), (20L, 21L), (30L, 31L))
      .toDF("id_a", "id_b")
    val existing = Dedup.connectedComponents(all)
    // retractions: SPLIT the chain (given in the REVERSED orientation
    // — canonicalization must match it), a triangle edge (no split),
    // and the {20,21} pair's only edge (both become singletons)
    val removed = Seq((3L, 2L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val out = Dedup.componentsRetract(existing, all, removed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L && out(2L) == 1L)          // {1,2}
    assert(out(3L) == 3L && out(4L) == 3L)          // {3,4} split off
    assert(Seq(10L, 11L, 12L).forall(out(_) == 10L)) // triangle holds
    assert(out(20L) == 20L && out(21L) == 21L)      // singletons
    assert(out(30L) == 30L && out(31L) == 30L)      // untouched
    // ≡ from-scratch over the surviving edges (+ the singleton
    // convention for ids whose every edge was retracted)
    val scratch = Dedup.connectedComponents(
        Seq((1L, 2L), (3L, 4L), (11L, 12L), (10L, 12L), (30L, 31L))
          .toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == scratch ++ Map(20L -> 20L, 21L -> 21L))
    // untouched component rows pass through byte-exact
    val untouchedRows = Dedup.componentsRetract(existing, all, removed)
      .where(col("component") === 30L).collect().toSet
    assert(untouchedRows ==
      existing.where(col("component") === 30L).collect().toSet)
    // distributed sub-solve path agrees
    val dist = Dedup.componentsRetract(existing, all, removed,
        driverEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == out)
    // empty retraction is the identity; retracting an ABSENT pair
    // only marks its component touched (result unchanged)
    val idm = Dedup.componentsRetract(existing, all,
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idm == existing.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val absent = Dedup.componentsRetract(existing, all,
        Seq((1L, 4L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(absent == idm)
  }

  test("streaming components accumulator: chunked merges ≡ " +
      "from-scratch (round 17)") {
    // pairs arrive in micro-batches; each batch merges via
    // componentsAgainst (bridges land across batch boundaries: 2-3
    // joins {1,2}+{3,4} a batch later; 5-1 introduces a new minimum
    // after the component formed)
    val all = Seq((1L, 2L), (3L, 4L), (2L, 3L), (10L, 11L),
      (5L, 1L), (11L, 12L))
    var acc: org.apache.spark.sql.DataFrame = null
    graft.streaming.Replay.runForeachBatch(spark,
        all.grouped(2).toSeq) { (batch, _) =>
      val bp = batch.toDF("id_a", "id_b")
      if (!bp.isEmpty)
        acc = (if (acc == null) Dedup.connectedComponents(bp)
               else Dedup.componentsAgainst(acc, bp))
          .localCheckpoint(true)
    }
    val got = acc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.connectedComponents(all.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == scratch)
    assert(got(5L) == 1L && got(4L) == 1L && got(12L) == 10L)
  }

  test("persisted SimHash index: probe ≡ cross-side fingerprintPairs, " +
      "append ≡ from-scratch (round 17)") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different text about spark engines and scale"),
      (4L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "another unrelated document mentioning parquet buckets"),
      (6L, "completely different text about spark engines and scale")
    ).toDF("doc_id", "text")
    val corpus = base.where(col("doc_id") % 2 === 1)
    val batch = base.where(col("doc_id") % 2 === 0)
    val path = java.nio.file.Files
      .createTempDirectory("sim_idx").toString
    Dedup.writeSimhashIndex(corpus, "text", "doc_id", path, maxDist = 3)
    val probe = Dedup.simhashProbeIndex(spark, path, batch,
        "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // ground truth: the cross-side slice of the in-memory pair scan
    val all = Dedup.simhashPairs(base, "text", "doc_id", maxDist = 3,
        maxBucket = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cross = all.flatMap { case (a, b, d) =>
      if (a % 2 == 1 && b % 2 == 0) Some((b, a, d))
      else if (a % 2 == 0 && b % 2 == 1) Some((a, b, d)) else None
    }.toSet
    assert(probe == cross && probe.nonEmpty)
    // the exact cross-side duplicate recalls at distance 0
    assert(probe.contains((2L, 1L, 0L)))
    // append ≡ from-scratch under the frozen params
    val path2 = java.nio.file.Files
      .createTempDirectory("sim_idx2").toString
    Dedup.writeSimhashIndex(corpus.where(col("doc_id") === 1),
      "text", "doc_id", path2)
    Dedup.appendSimhashIndex(corpus.where(col("doc_id") =!= 1),
      "text", "doc_id", path2)
    val probe2 = Dedup.simhashProbeIndex(spark, path2, batch,
        "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(probe2 == probe)
    // fingerprint-level core: arbitrary precomputed (id, fp) frames
    val p3 = java.nio.file.Files
      .createTempDirectory("fp_idx").toString
    Dedup.writeFingerprintIndex(
      Seq((10L, 0L), (11L, 1L), (12L, -1L)).toDF("id", "fp"),
      "id", "fp", p3, maxDist = 1)
    val pr = Dedup.probeFingerprintIndex(spark, p3,
        Seq((20L, 0L)).toDF("id", "fp"), "id", "fp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(pr == Set((20L, 10L, 0L), (20L, 11L, 1L)))
  }

  test("persisted LSH index: probe ≡ minhashLshPairsAgainst, append ≡ " +
      "from-scratch (round 16)") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different text about spark engines and scale"),
      (4L, "the quick brown fox jumps over the lazy dog tonight"),
      (5L, "another unrelated document mentioning parquet buckets"),
      (6L, "completely different text about spark engines and scale")
    ).toDF("doc_id", "text")
    val corpus = base.where(col("doc_id") % 2 === 1)
    val batch = base.where(col("doc_id") % 2 === 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("batch_id"), col("corpus_id"),
          round(col("jaccard"), 9).as("j"))
        .orderBy("batch_id", "corpus_id").collect().toSeq
    val mem = canon(Dedup.minhashLshPairsAgainst(batch, corpus,
      "text", "doc_id", n = 3, k = 128, bands = 32, threshold = 0.5))
    assert(mem.nonEmpty)
    val path = java.nio.file.Files
      .createTempDirectory("lshidx").toString
    try {
      Dedup.writeLshIndex(corpus, "text", "doc_id", path,
        n = 3, k = 128, bands = 32)
      // probe ≡ the in-memory cross-corpus path, value-identical
      val probe = canon(Dedup.lshProbeIndex(spark, path, batch,
        "text", "doc_id", threshold = 0.5))
      assert(probe == mem)
      // band-partitioned layout on disk
      val bandDirs = new java.io.File(s"$path/bands").listFiles
        .count(_.getName.startsWith("band="))
      assert(bandDirs > 1)
    } finally
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(path))
    // append ≡ from-scratch: index half the corpus, append the rest
    val path2 = java.nio.file.Files
      .createTempDirectory("lshidx2").toString
    try {
      Dedup.writeLshIndex(corpus.where(col("doc_id") === 1),
        "text", "doc_id", path2, n = 3, k = 128, bands = 32)
      Dedup.appendLshIndex(corpus.where(col("doc_id") =!= 1),
        "text", "doc_id", path2)
      val appended = canon(Dedup.lshProbeIndex(spark, path2, batch,
        "text", "doc_id", threshold = 0.5))
      assert(appended == mem)
    } finally
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(path2))
  }

  test("nearDeduplicate keeps one doc per near-dup cluster plus singletons") {
    // corpus docs 1,2 exact dups; 3 near-dup of both (transitively one
    // cluster {1,2,3}); 4 and 5 singletons
    val pairs = Dedup.minhashLshPairs(corpus, "text", "doc_id",
      n = 3, k = 64, bands = 16, threshold = 0.7)
    val kept = Dedup.nearDeduplicate(corpus, pairs, "doc_id")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 4L, 5L))
  }

  test("normalize: case, control chars, whitespace runs, trim") {
    val r = spark.range(1).select(
      TextOps.normalize(lit("  Hello\tWorld !  \n\nBye ")).as("a"),
      TextOps.normalize(lit("")).as("b")).head()
    assert(r.getString(0) == "hello world ! bye")
    assert(r.getString(1) == "")
  }

  test("scrubPii: email, ip, ssn, phone; ssn wins over phone") {
    val in = "mail a.b+c@ex-1.org, ip 192.168.0.1, ssn 123-45-6789, " +
      "call +1 (555) 123-4567 now, plain 42"
    val r = spark.range(1).select(TextOps.scrubPii(lit(in)).as("s")).head()
    assert(r.getString(0) ==
      "mail <EMAIL>, ip <IP>, ssn <SSN>, call <PHONE> now, plain 42")
  }

  test("asofJoin: latest at-or-before right row per key; null when none") {
    def ts(s: Long) = new Timestamp(s * 1000L)
    val l = Seq((1L, 10L, ts(100)), (2L, 10L, ts(205)), (3L, 10L, ts(50)),
        (4L, 20L, ts(300)))
      .toDF("eid", "uid", "lts")
    val r = Seq((10L, ts(100), 1.0), (10L, ts(200), 2.0), (10L, ts(400), 3.0),
        (30L, ts(10), 9.0))
      .toDF("uid", "rts", "rv")
    val got = AsOf.asofJoin(l, r, Seq("uid"), "lts", "rts")
      .orderBy("eid").collect()
      .map(x => (x.getLong(0), Option(x.get(3)).map(_.toString), x.get(4)))
    assert(got.toSeq == Seq(
      (1L, Some(ts(100).toString), 1.0), // equal ts matches (inclusive)
      (2L, Some(ts(200).toString), 2.0), // latest of the two priors
      (3L, None, null),                  // no right row at-or-before
      (4L, None, null)))                 // key with no right rows at all
  }

  test("asofJoin with tolerance: stale matches null out, fresh ones survive") {
    def ts(s: Long) = new Timestamp(s * 1000L)
    val l = Seq((1L, 10L, ts(100)), (2L, 10L, ts(260)), (3L, 10L, ts(1000)))
      .toDF("eid", "uid", "lts")
    val r = Seq((10L, ts(100), 1.0), (10L, ts(200), 2.0))
      .toDF("uid", "rts", "rv")
    val got = AsOf.asofJoin(l, r, Seq("uid"), "lts", "rts",
        toleranceSec = Some(60L))
      .orderBy("eid").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(4)) None else Some(x.getDouble(4))))
    assert(got.toSeq == Seq(
      (1L, Some(1.0)),  // exact-ts match, age 0 ≤ 60
      (2L, Some(2.0)),  // age 60 — boundary is inclusive
      (3L, None)))      // latest preceding is 800 s stale → nulled
    // wide tolerance ≡ unbounded
    val wide = AsOf.asofJoin(l, r, Seq("uid"), "lts", "rts",
      toleranceSec = Some(100000L)).orderBy("eid").collect().map(_.toSeq)
    val unbounded = AsOf.asofJoin(l, r, Seq("uid"), "lts", "rts")
      .orderBy("eid").collect().map(_.toSeq)
    assert(wide.toSeq == unbounded.toSeq)
  }

  test("asofJoin == brute-force argmax on a random stream") {
    val rnd = new scala.util.Random(11)
    def ts(s: Long) = new Timestamp(s * 1000L)
    val l = Seq.tabulate(80)(i => (i.toLong, rnd.nextInt(5).toLong, ts(rnd.nextInt(1000))))
    val r = Seq.tabulate(60)(i => (rnd.nextInt(5).toLong, ts(rnd.nextInt(1000)), i.toDouble))
      .groupBy(x => (x._1, x._2)).map(_._2.head).toSeq // unique per (key, ts)
    val expect = l.map { case (eid, uid, lts) =>
      val prior = r.filter(x => x._1 == uid && !x._2.after(lts))
      eid -> prior.sortBy(_._2.getTime).lastOption.map(_._3)
    }.toMap
    val got = AsOf.asofJoin(l.toDF("eid", "uid", "lts"),
        r.toDF("uid", "rts", "rv"), Seq("uid"), "lts", "rts")
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(4)) None else Some(x.getDouble(4)))).toMap
    assert(got == expect)
  }

  test("rangeJoin == crossJoin-filter reference; intervals span buckets") {
    val rnd = new scala.util.Random(13)
    def ts(s: Long) = new Timestamp(s * 1000L)
    // intervals up to 500 s wide vs a 60 s bucket → many multi-cell
    // intervals; also an empty interval (start == end)
    val l = Seq.tabulate(40) { i =>
      val st = rnd.nextInt(2000); val len = if (i == 0) 0 else rnd.nextInt(500)
      (i.toLong, rnd.nextInt(4).toLong, ts(st), ts(st + len))
    }
    val r = Seq.tabulate(150)(i =>
      (rnd.nextInt(4).toLong, ts(rnd.nextInt(2500)), i.toLong))
    val expect = (for {
      (eid, k, st, en) <- l
      (rk, rts, rid) <- r
      if rk == k && !rts.before(st) && rts.before(en)
    } yield (eid, rid)).toSet
    val ldf = l.toDF("eid", "k", "st", "en")
    val rdf = r.toDF("k", "rts", "rid")
    val joined = AsOf.rangeJoin(ldf, rdf, Seq("k"), "st", "en", "rts", 60L)
    val got = joined.select("eid", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(got.length == got.toSet.size, "pair emitted more than once")
    assert(got.toSet == expect)
    // the whole point: an equi-join physical plan, not a nested loop
    val phys = joined.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$phys")
  }

  test("streaming dedup drops re-arrivals within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val out = Dedup.streamingDedup(
      mem.toDS().toDF(), textCol = "event_type", tsCol = "ts",
      watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      mem.addData(
        Sessionize.Event(1, ts(0), 10, "aaa", 1.0),
        Sessionize.Event(2, ts(1), 10, "aaa", 1.0),
        Sessionize.Event(3, ts(2), 10, "bbb", 1.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event(4, ts(3), 10, "aaa", 1.0))
      q.processAllAvailable()
      val got = spark.table("sdedup").collect()
      assert(got.map(_.getAs[String]("event_type")).sorted.toSeq == Seq("aaa", "bbb"))
    } finally q.stop()
  }

  test("streamingSimhashMatches: near-dups flagged at ingest, horizon enforced") {
    implicit val sqlCtx = spark.sqlContext
    // NOT epoch 0: a row whose event time equals the initial watermark
    // (0 ms) is dropped as late before the stateful operator
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(s: Long) = new Timestamp(base + s * 1000L)
    val A = "the quick brown fox jumps over the lazy dog near the river bank today"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val out = Dedup.streamingSimhashMatches(
      mem.toDS().toDF("doc_id", "text", "ts"),
      "text", "doc_id", "ts", horizonMs = 3600 * 1000L)
    val q = out.writeStream.format("memory").queryName("ssim")
      .outputMode("append").start()
    try {
      mem.addData((1L, A, ts(0)), (2L, A, ts(60)),
        (3L, "completely different content about spark query engines", ts(120)))
      q.processAllAvailable()
      mem.addData((4L, A, ts(600))) // later batch, still in horizon
      q.processAllAvailable()
      mem.addData((5L, A, ts(5 * 3600))) // 5h later: beyond horizon of all
      q.processAllAvailable()
      val got = spark.table("ssim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(got.forall(_._3 == 0)) // exact dups → distance 0
      val pairs = got.map(g => (g._1, g._2)).toSet
      assert(pairs == Set((2L, 1L), (4L, 1L), (4L, 2L)),
        s"got $pairs") // doc 5 matches nothing: horizon enforced
    } finally q.stop()
  }

  test("streamingMinhashMatches: banded matches at ingest, estimator and horizon") {
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(s: Long) = new Timestamp(base + s * 1000L)
    val A = "the quick brown fox jumps over the lazy dog near the river bank today"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val out = Dedup.streamingMinhashMatches(
      mem.toDS().toDF("doc_id", "text", "ts"),
      "text", "doc_id", "ts", horizonMs = 3600 * 1000L)
    val q = out.writeStream.format("memory").queryName("sminh")
      .outputMode("append").start()
    try {
      mem.addData((1L, A, ts(0)), (2L, A, ts(60)),
        (3L, "completely different content about spark query engines", ts(120)))
      q.processAllAvailable()
      mem.addData((4L, A, ts(600))) // later batch, still in horizon
      q.processAllAvailable()
      mem.addData((5L, A, ts(5 * 3600))) // 5h later: beyond horizon of all
      q.processAllAvailable()
      val got = spark.table("sminh").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // exact dups agree on every signature row → estimator exactly 1.0
      assert(got.forall(_._3 == 1.0), s"got $got")
      val pairs = got.map(g => (g._1, g._2)).toSet
      assert(pairs == Set((2L, 1L), (4L, 1L), (4L, 2L)),
        s"got $pairs") // doc 5 matches nothing: horizon enforced
      // identical docs collide in EVERY band: once-per-band emission
      assert(got.count(g => (g._1, g._2) == (2L, 1L)) == 16)
    } finally q.stop()
  }

  test("streamingSpanCutsAgainst == batch span removal on touched " +
      "docs (round 14)") {
    import spark.implicits._
    val P = (0 until 12).map(i => s"p$i").mkString(" ")
    val Q = (0 until 12).map(i => s"q$i").mkString(" ")
    val corpus = Seq(
      (100L, s"c1 c2 c3 $P c4"),
      (101L, s"d1 d2 $Q d3")).toDF("doc_id", "text")
    val stream = Seq(
      (1L, s"a1 a2 $P a3 a4"),
      (2L, "b1 b2 b3 b4"),
      (3L, s"x1 $P y1 $Q z1"))
    val got = graft.streaming.Replay.run(spark,
        Seq(stream.take(2), stream.drop(2)), "append") { ds =>
      Dedup.streamingSpanCutsAgainst(ds.toDF("doc_id", "text"), corpus,
        "text", "doc_id", minRun = 10, n = 3, window = 4).toDF()
    }.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1)
    // doc 1 loses P (one interval), doc 3 loses P and Q (two), doc 2
    // never matches a candidate and is ABSENT (pass-through contract)
    assert(got.toSeq == Seq(
      (1L, "a1 a2 a3 a4", 1),
      (3L, "x1 y1 z1", 2)))
    // batch equivalence: substringDupSpansAgainst ∘
    // removeDupSpansAgainst at minShared = 1, on the touched docs
    val batchDf = stream.toDF("doc_id", "text")
    val spans = Dedup.substringDupSpansAgainst(batchDf, corpus,
      "text", "doc_id", minRun = 10, n = 3, window = 4, minShared = 1)
    val cut = Dedup.removeDupSpansAgainst(batchDf, spans, "text",
        "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    got.foreach { case (id, text, _) => assert(cut(id) == text) }
    // untouched doc byte-exact in batch, absent from the stream twin
    assert(cut(2L) == "b1 b2 b3 b4" && !got.exists(_._1 == 2L))
  }

  test("ivfTopK: scores exact, recall reasonable on real embeddings") {
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = embs.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val ivf = Similarity.ivfTopK(embs, queries, "embedding", "vec_id", 10,
      nCentroids = 16, nProbe = 8).collect()
    // every IVF hit that is also an exact hit carries the identical score
    ivf.foreach { r =>
      exact.get((r.getLong(0), r.getLong(1))).foreach { s =>
        assert(java.lang.Double.doubleToLongBits(s) ==
          java.lang.Double.doubleToLongBits(r.getDouble(3)))
      }
    }
    val hits = ivf.count(r => exact.contains((r.getLong(0), r.getLong(1))))
    val recall = hits.toDouble / exact.size
    assert(recall > 0.3, s"recall $recall")
  }

  test("IVF end-to-end: groupCentroids seed → k-means → persisted index → pruned probe") {
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = embs.where(col("vec_id") < 8)
    // 1. per-label prototypes as the centroid seed (10 labels → 10 lists)
    val seed = Similarity.collectCentroids(
      Similarity.groupCentroids(embs, "embedding", "label"))
    assert(seed.length == 10 && seed.head.length == 64)
    // 2. Lloyd refinement over the corpus
    val cent = Similarity.refineCentroids(embs, "embedding", "vec_id",
      seed, iters = 2, sampleN = 500)
    // 3. persist the index partitioned by inverted list
    val out = java.nio.file.Files.createTempDirectory("ivfidx").toString
    try {
      Similarity.writeIvfIndex(embs, "embedding", "vec_id", cent, out)
      val back = spark.read.parquet(out)
      assert(back.count() == 500)
      val listDirs = new java.io.File(out).listFiles
        .filter(_.getName.startsWith("__list=")).map(_.getName).sorted
      assert(listDirs.nonEmpty && listDirs.length <= 10)
      // repartition(__list) bounds files: one shard per list directory
      val shards = new java.io.File(out).listFiles
        .filter(_.getName.startsWith("__list="))
        .map(_.listFiles.count(_.getName.endsWith(".parquet")))
      assert(shards.forall(_ == 1), s"shards per list: ${shards.toSeq}")

      // 4. probe reads ONLY the probed lists: partition-pruned at
      // planning time, no row-level filters, numFiles < total
      val nProbe = 3
      val probed = Similarity.ivfProbeIndex(back, queries, "embedding",
        "vec_id", k = 10, cent, nProbe)
      val probedRows = probed.collect()
      val planStr = probed.queryExecution.executedPlan.toString
      assert(planStr.contains("PartitionFilters: [__list"),
        s"probe scan not partition-pruned:\n$planStr")
      // the same pruned scan, isolated, to read the files-read metric
      val q = queries.select(
        explode(graft.functions.NativeExpressions.nearestCentroids(
          col("embedding"), cent, nProbe)).as("__list"))
      val lists = q.distinct().collect().map(_.getInt(0)).sorted.toSeq
      assert(lists.length < listDirs.length) // genuinely selective
      val pruned = back.where(col("__list").isin(lists: _*))
      pruned.collect() // drive THIS queryExecution so its metrics populate
      val scan = pruned.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      assert(scan.metrics("numFiles").value == lists.length.toLong)
      assert(scan.toString.contains("DataFilters: []"))

      // 5. recall unchanged: the persisted+pruned path returns exactly
      // the in-memory assignment's results (same centroids)
      val mem = Similarity.ivfTopKWithCentroids(embs, queries, "embedding",
        "vec_id", k = 10, cent, nProbe).collect()
      def key(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
      assert(key(probedRows) == key(mem))
      assert(probedRows.nonEmpty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  test("PQ: codebook rows encode to themselves; decode = codebook concat") {
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqCodebooks(embs, "embedding", "vec_id", m = 8, ksub = 16)
    assert(cb.length == 8 && cb.head.length == 16 && cb.head.head.length == 8)
    // seed-row subvectors are codebook entries → their own code unless
    // an EARLIER entry ties exactly (none do in this data)
    val seedIds = embs.select(col("vec_id"))
      .orderBy(graft.ops.Hashing.mulHash(col("vec_id")), col("vec_id"))
      .limit(16).collect().map(_.getLong(0))
    val codes = embs.where(col("vec_id").isin(seedIds: _*))
      .select(col("vec_id"), Similarity.pqCode(col("embedding"), cb).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    seedIds.zipWithIndex.foreach { case (id, j) =>
      assert(codes(id).forall(_ == j), s"seed row $id → ${codes(id)}, want $j")
    }
    // decode of a seed row's code reproduces its vector exactly
    val rec = embs.where(col("vec_id") === seedIds.head)
      .select(Similarity.pqDecode(
        Similarity.pqCode(col("embedding"), cb), cb).as("r"),
        col("embedding"))
      .head()
    assert(rec.getSeq[Float](0) == rec.getSeq[Float](1))
  }

  test("native PqCode == compositional pqCodeComposed (small codebooks)") {
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqCodebooks(embs, "embedding", "vec_id", m = 4, ksub = 8)
    val both = embs.select(
      Similarity.pqCode(col("embedding"), cb).as("n"),
      Similarity.pqCodeComposed(col("embedding"), cb).as("c"))
    assert(both.where(col("n") =!= col("c")).count() == 0)
    assert(both.count() == 500)
  }

  test("pqTopK: reasonable L2 recall vs the exact scan on real embeddings") {
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = embs.where(col("vec_id") < 10)
    // exact L2 reference through the same top-k machinery
    val c = embs.select(col("vec_id").as("neighbor_id"), col("embedding").as("__cv"))
    val exactScored = c.crossJoin(broadcast(
        queries.select(col("vec_id").as("query_id"), col("embedding").as("__qv"))))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-Similarity.l2sq(col("__qv"), col("__cv"))).as("s"))
    val exact = Similarity.topKPerGroup(exactScored, "query_id", "neighbor_id", "s", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(k: Int, m: Int, iters: Int): Double =
      Similarity.pqTopK(embs, queries, "embedding", "vec_id", k,
          m = m, ksub = 64, trainIters = iters).collect()
        .count(r => exact.contains((r.getLong(0), r.getLong(1)))).toDouble / exact.size
    val pq = Similarity.pqTopK(embs, queries, "embedding", "vec_id", 10,
      m = 16, ksub = 64).collect()
    assert(pq.forall(_.getDouble(3) >= 0.0))
    val recall16 = pq.count(r => exact.contains((r.getLong(0), r.getLong(1)))).toDouble / exact.size
    assert(recall16 > 0.3, s"PQ m=16 recall $recall16")
    // at the coarser m=8 code (half the bits) Lloyd training visibly
    // beats the raw seed codebooks; at m=16 the seed is already near
    // this data's distortion floor, so the effect is asserted at m=8
    val trained8 = recallAt(10, 8, 3)
    val untrained8 = recallAt(10, 8, 0)
    assert(trained8 > untrained8, s"trained $trained8 vs untrained $untrained8 at m=8")
    // operational two-stage metric: a PQ top-30 shortlist captures most
    // of the exact top-10 (re-rank recovers exact order downstream)
    val short = recallAt(30, 16, 0)
    assert(short > 0.6, s"PQ shortlist recall $short")
  }

  test("TopK aggregator == brute-force sort-take on random streams") {
    val rnd = new scala.util.Random(7)
    for (k <- Seq(1, 3, 8); trial <- 1 to 5) {
      val xs = Seq.fill(200)(Similarity.Scored(
        rnd.nextInt(40).toLong, (rnd.nextInt(10) / 10.0)))   // many ties
      val agg = new Similarity.TopK(k)
      // split into uneven partial buffers like map-side aggregation does
      val parts = xs.grouped(37).toSeq
        .map(p => p.foldLeft(agg.zero)(agg.reduce))
      val merged = parts.reduce(agg.merge)
      val got = agg.finish(merged)
      val want = xs.sortWith((a, b) =>
        a.score > b.score || (a.score == b.score && a.id < b.id)).take(k)
      assert(got == want, s"k=$k trial=$trial")
    }
  }

  test("ivfTopK: k-means refinement lifts recall at fixed probe budget") {
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = embs.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(iters: Int): Double = {
      val got = Similarity.ivfTopK(embs, queries, "embedding", "vec_id", 10,
        nCentroids = 16, nProbe = 2, kmeansIters = iters).collect()
      got.count(r => exact.contains((r.getLong(0), r.getLong(1)))).toDouble / exact.size
    }
    val seeded = recall(0)
    val refined = recall(3)
    assert(refined > seeded,
      s"refined recall $refined should beat seeded $seeded at nProbe=2")
  }

  test("quantizeInt8: exact values, round-trip error bound, zero vectors dropped") {
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),      // zero vector → dropped
      (3L, Array(-2.0f, 2.0f, 1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df, "embedding", "vec_id")
      .orderBy("vec_id").collect()
    assert(q.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val r1 = q(0)
    assert(r1.getDouble(1) == 1.0 / 127.0)
    assert(r1.getSeq[Byte](2) == Seq[Byte](127, -63, 32, 0)) // -63.5 rounds half-UP
    assert(q(1).getSeq[Byte](2) == Seq[Byte](-127, 127, 64, -63))
    // round-trip error ≤ scale/2 on real embeddings
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rt = Similarity.quantizeInt8(embs, "embedding", "vec_id")
      .join(embs, "vec_id")
      .select(array_max(transform(
        zip_with(Similarity.dequantizeInt8(col("qvec"), col("scale")),
          col("embedding"), (d, o) => abs(d - o.cast("double"))),
        x => x / col("scale"))).as("worst"))
      .agg(max("worst")).head().getDouble(0)
    assert(rt <= 0.5 + 1e-9, s"worst per-component error $rt scales")
  }

  test("int8TopK: high agreement with exact float top-k on real embeddings") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = embs.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.int8TopK(embs, queries, "embedding", "vec_id", 10)
      .collect()
    // scores are plausible cosines and ranks are contiguous
    got.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length))
    }
    assert(got.forall(r => r.getDouble(3) <= 1.0 + 1e-9))
    // int8 quantization barely perturbs cosine ordering: ≥ 80% overlap
    val hits = got.count(r => exact.contains((r.getLong(0), r.getLong(1))))
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.8, s"int8 recall vs float exact: $recall")
  }

  test("int8RerankTopK: full shortlist reproduces bruteForceTopK bit-for-bit") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = embs.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val rr = Similarity.int8RerankTopK(embs, queries, "embedding", "vec_id",
        k = 5, shortlist = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(rr == exact)
    // narrow shortlist still returns k contiguous ranks per query
    val narrow = Similarity.int8RerankTopK(embs, queries, "embedding",
      "vec_id", k = 5, shortlist = 8).collect()
    narrow.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length)) }
  }

  test("PQ index: code-only stage-1 scan; full shortlist equals brute force bit-for-bit") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = embs.where(col("vec_id") < 5)
    val cb = Similarity.pqTrainCodebooks(embs, "embedding", "vec_id",
      m = 8, ksub = 16, iters = 1, sampleN = 500)
    val out = java.nio.file.Files.createTempDirectory("pqidx").toString
    Similarity.writePqIndex(embs, "embedding", "vec_id", cb, out, numFiles = 4)
    val idx = spark.read.parquet(out)
    assert(idx.count() == 500)
    assert(new java.io.File(out).listFiles
      .count(_.getName.endsWith(".parquet")) == 4)
    val probed = Similarity.pqProbeIndex(idx, queries, "embedding", "vec_id",
      k = 5, cb, shortlist = 500)
    val got = probed.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val exact = Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(got == exact)
    // columnar pruning: stage 1's file scan reads (id, code) and never the
    // float vectors; stage 2's reads (id, vec) and never the codes
    val schemas = "ReadSchema: [^\\n]*".r
      .findAllIn(probed.queryExecution.executedPlan.toString).toList
    assert(schemas.exists(s => s.contains("code") && !s.contains("vec")),
      s"no code-only scan in: $schemas")
    assert(schemas.exists(s => s.contains("vec") && !s.contains("code")),
      s"no vec-only scan in: $schemas")
    // narrow shortlist keeps the contract: k contiguous ranks per query
    val narrow = Similarity.pqProbeIndex(idx, queries, "embedding", "vec_id",
      k = 5, cb, shortlist = 8).collect()
    narrow.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length)) }
  }

  test("dsirWeights: target-like docs outrank off-target; hashed buckets match exact") {
    val raw = Seq(
      (1L, "alpha alpha beta alpha beta"),
      (2L, "zeta zeta yota zeta xi"),
      (3L, "alpha beta alpha beta alpha")).toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta alpha alpha beta")).toDF("doc_id", "text")
    val w = Pipeline.dsirWeights(raw, target, "text", "doc_id")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .toMap
    assert(w.keySet == Set(1L, 2L, 3L))
    assert(w(1L)._1 == 5 && w(2L)._1 == 5)
    assert(w(1L)._2 > w(2L)._2 && w(3L)._2 > w(2L)._2,
      s"target-like docs must outrank off-target: $w")
    // wide hashed feature space (no collisions) reproduces exact weights
    val wb = Pipeline.dsirWeights(raw, target, "text", "doc_id",
        buckets = 1 << 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    w.foreach { case (id, (_, v)) => assert(math.abs(wb(id) - v) < 1e-9) }
    // near-zero temperature → Gumbel noise negligible → pure top-2
    val sel = Pipeline.dsirSelect(
        Pipeline.dsirWeights(raw, target, "text", "doc_id"), "doc_id",
        n = 2, temperature = 1e-4)
      .collect().map(_.getLong(0)).toSet
    assert(sel == Set(1L, 3L), s"got $sel")
  }

  test("bigramLogLikelihood: seen bigram = ML ratio, unseen backs off, short docs absent") {
    val ref = Seq((1L, "a b a c")).toDF("doc_id", "text")
    // reference: unigrams a:2 b:1 c:1 → N=4 V=3; bigrams (a,b),(b,a),(a,c)
    val docs = Seq(
      (10L, "a b"),  // seen bigram: ln(c(a,b)/c(a)) = ln(1/2)
      (11L, "a z"),  // unseen: ln(0.4·(c(z)+1)/(N+V)) = ln(0.4·1/7)
      (12L, "x")     // one token → no transitions → absent
    ).toDF("doc_id", "text")
    val got = TextOps.bigramLogLikelihood(docs, ref, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(10L, 11L))
    assert(got(10L)._1 == 1 && math.abs(got(10L)._2 - math.log(0.5)) < 1e-12)
    assert(math.abs(got(11L)._2 - math.log(0.4 / 7.0)) < 1e-12)
  }

  test("semanticDedup: planted clone dropped, roots kept, components stay in-cluster") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cent = Similarity.seedCentroids(embs, "embedding", "vec_id", 8)
    // plant a bitwise clone of vec 7 under a fresh max id: identical
    // vector → same cluster, cosine exactly 1 → same component
    val clone = embs.where(col("vec_id") === 7)
      .withColumn("vec_id", lit(100000L))
    val d = Similarity.semanticDedup(embs.unionByName(clone),
      "embedding", "vec_id", cent, threshold = 0.95)
    val byId = d.collect().map(r => r.getLong(0) ->
      (r.getInt(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(byId.size == 501)
    val (cl7, root7, _) = byId(7L)
    val (clC, rootC, keptC) = byId(100000L)
    assert(clC == cl7 && rootC == root7 && !keptC && root7 <= 7L)
    byId.foreach { case (id, (cluster, root, kept)) =>
      assert(kept == (id == root)) // kept ⟺ is its component's root
      val (rootCluster, rootRoot, rootKept) = byId(root)
      assert(rootKept && rootRoot == root) // roots keep themselves
      assert(rootCluster == cluster) // pairs never span clusters
      assert(root <= id) // min-id root semantics
    }
  }

  test("contaminationReport composes with a streaming corpus (stream-static join)") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val out = Pipeline.contaminationReport(
      mem.toDS().toDF("doc_id", "text"), bench, "text", "doc_id",
      n = 3, threshold = 0.5)
    val q = out.writeStream.format("memory").queryName("contam")
      .outputMode("complete").start()
    try {
      mem.addData((10L, "the quick brown fox jumps over the lazy dog"),
        (12L, "completely unrelated words about query engines here"))
      q.processAllAvailable()
      val got = spark.table("contam").collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(got == Map(10L -> 1.0))
    } finally q.stop()
  }

  test("lshTopK returns subset-consistent results (same bucket → found)") {
    val r = Similarity.lshTopK(vecs, vecs.where(col("vec_id") === 0),
      "embedding", "vec_id", k = 2, nPlanes = 2)
    val rows = r.orderBy("rank").collect()
    // query 0's own bucket contains at least itself-similar vec 1 under
    // any sign assignment that keeps (1,0,0) and (.9,.1,0) together —
    // but bucketing is hash-dependent, so assert on whatever returns:
    // ranks contiguous from 1, neighbors are real ids, cosine matches a
    // brute-force recompute for those pairs
    assert(rows.map(_.getLong(2)).toSeq == (1 to rows.length).map(_.toLong))
    val exact = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 0),
      "embedding", "vec_id", k = 4)
      .collect().map(x => x.getLong(1) -> x.getDouble(3)).toMap
    rows.foreach { x =>
      assert(exact.contains(x.getLong(1))) // real corpus neighbor
      assert(java.lang.Double.doubleToLongBits(exact(x.getLong(1))) ==
        java.lang.Double.doubleToLongBits(x.getDouble(3)))
    }
  }

  // ------------------------------------------ native codegen expressions

  test("native MinHashSig == compositional minhashSignature") {
    import graft.functions.NativeExpressions
    val hashes = Dedup.shingleHashes(Dedup.shingles(col("text"), 3))
    val k = 16
    val r = corpus.select(
      NativeExpressions.minhashSig(hashes, Dedup.mhCoeffs(k), 4294967311L).as("n"),
      Dedup.minhashSignature(hashes, k).as("c")).collect()
    r.foreach(row => assert(row.getSeq[Long](0) == row.getSeq[Long](1)))
  }

  test("fused TextFeatures == the seven regex-composed counters") {
    import graft.functions.NativeExpressions
    val samples = Seq(
      "the quick brown fox, and a dog; IS it?",
      "", "   ", "\t", "\tleading tab", "trailing tab\t", "a\t\tb",
      "der die und das ist nicht ein", "le la et les des est une",
      "el los y las una es que", "THE AND IS OF TO WAS FOR",
      "punct...only!!!???", "a1b2c3", "_under_score_ the_cat the cat",
      "héllo wörld the café", "日本語 the テキスト", "mixed 123 numbers 456",
      "emoji 😀🎉 the mix 😀ok", "astral𝒜math𝒜id the end",
      "is is is is is", "a", "an and of to in is was for",
      "x.y,z;w:v!u?t", "  the  ", "thé the th e")
    val df = samples.toDF("text")
    val markerCols = TextOps.LangMarkers.zipWithIndex.map { case ((_, pat), i) =>
      size(regexp_extract_all(lower(col("text")), lit(pat), lit(0)))
        .cast("long").as(s"m$i")
    }
    val rows = df.select(
      (NativeExpressions.textFeatures(col("text")).as("f") +:
        TextOps.tokenCount(col("text")).as("c0") +:
        TextOps.subwordCount(col("text")).as("c1") +:
        TextOps.punctCount(col("text")).as("c2") +:
        size(regexp_extract_all(col("text"),
          lit("(?i)\\b(the|a|an|and|of|to|in|is)\\b"), lit(0)))
          .cast("long").as("c3") +:
        markerCols): _*).collect()
    rows.zip(samples).foreach { case (r, s) =>
      val f = r.getSeq[Long](0)
      val expected = (1 to 8).map(i => r.getLong(i))
      assert(f == expected, s"textFeatures mismatch for '$s': $f vs $expected")
    }
    // fused quality/langid == original formulations on the real corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cmp = docs.select(
      TextOps.features(col("text")).as("__f"), col("text"), col("n_chars"))
      .select(
        TextOps.langIdF(col("__f")).as("l1"), TextOps.langId(col("text")).as("l2"),
        TextOps.qualityScoreF(col("__f"), col("n_chars")).as("q1"),
        TextOps.qualityScore(col("text"), col("n_chars")).as("q2"))
      .collect()
    cmp.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("native token-hash arrays == transform-lambda compositions") {
    import graft.functions.NativeExpressions
    val toks = TextOps.tokens(col("text"))
    val r = corpus.select(
      NativeExpressions.tokenHashesXx(toks).as("nx"),
      transform(toks, t => xxhash64(t)).as("cx"),
      NativeExpressions.tokenHashes60(toks).as("n60"),
      transform(toks, t => NativeExpressions.tokenHash60(t)).as("c60")).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getSeq[Long](0) == row.getSeq[Long](1)) // xx == Spark xxhash64
      assert(row.getSeq[Long](2) == row.getSeq[Long](3))
    }
  }

  test("stratifiedSample: exact n per stratum, deterministic, small strata kept whole") {
    val df = spark.range(100).select(col("id").as("doc_id"),
      (col("id") % 3).cast("string").as("lang"), lit("x").as("text"))
      .union(Seq((1000L, "rare", "x")).toDF("doc_id", "lang", "text"))
    val s1 = Pipeline.stratifiedSample(df, "lang", "doc_id", perStratum = 10)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(s1.groupBy(_._1).map { case (l, xs) => l -> xs.length } ==
      Map("0" -> 10, "1" -> 10, "2" -> 10, "rare" -> 1))
    // deterministic across repartitionings
    val s2 = Pipeline.stratifiedSample(df.repartition(7), "lang", "doc_id", 10)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(s1.toSet == s2.toSet)
  }

  test("hash sampling survives snowflake-scale 64-bit ids (no ANSI overflow)") {
    // a raw id * 2654435761 multiply overflows Long above ~3.4e9 —
    // ANSI mode (Spark 4 default) throws; the safe modular form must not
    val big = Seq(512346778123456789L, 612346778123456790L, 712346778123456791L,
      812346778123456792L, 912346778123456793L)
      .toDF("doc_id").withColumn("lang", lit("xx")).withColumn("text", lit("t"))
    val s = Pipeline.sampleByHashFraction(big, "doc_id", 0.5)
    val n = s.count() // would throw ArithmeticException before the fix
    assert(n >= 0 && n <= 5)
    val strat = Pipeline.stratifiedSample(big, "lang", "doc_id", 3)
    assert(strat.count() == 3)
    // hash values stay in [0, 1e9+7) — the sign bug with ANSI off
    val hs = big.select(graft.ops.Hashing.mulHash(col("doc_id")).as("h"))
      .collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 0 && h < 1000000007L))
  }

  test("sampleByHashFraction: map-only (no shuffle), deterministic, ~fraction") {
    val df = spark.range(10000).select(col("id").as("doc_id"))
    val s = Pipeline.sampleByHashFraction(df, "doc_id", 0.1)
    assert(!s.queryExecution.executedPlan.toString.contains("Exchange"))
    val n = s.count()
    assert(n > 800 && n < 1200, s"got $n of 10000 at fraction 0.1")
    assert(s.collect().map(_.getLong(0)).toSet ==
      Pipeline.sampleByHashFraction(df.repartition(5), "doc_id", 0.1)
        .collect().map(_.getLong(0)).toSet)
  }

  test("contaminationReport: flags n-gram overlap with the benchmark set") {
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // identical → 1.0
      (11L, "a quick brown fox jumps over a sleepy cat today ok"), // partial
      (12L, "completely unrelated words about query engines here"), // none
      (13L, "to sh or")                                        // 1 gram, no hit
    ).toDF("doc_id", "text")
    val r = Pipeline.contaminationReport(corpus, bench, "text", "doc_id",
        n = 3, threshold = 0.0)
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(10L) == 1.0)
    assert(r.contains(11L) && r(11L) > 0.0 && r(11L) < 1.0)
    assert(!r.contains(12L) && !r.contains(13L))
    // threshold filters
    val strict = Pipeline.contaminationReport(corpus, bench, "text", "doc_id",
      n = 3, threshold = 0.9).collect().map(_.getLong(0)).toSet
    assert(strict == Set(10L))
    // benchmark grams are broadcast → corpus-side join is broadcast, not shuffle
    val plan = Pipeline.contaminationReport(corpus, bench, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("contaminationReportBloom ≡ exact report; bloom prunes map-side") {
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "a quick brown fox jumps over a sleepy cat today ok"),
      (12L, "completely unrelated words about query engines here"),
      (13L, "to sh or")
    ).toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2),
        x.getDouble(3))).toSet
    val exact = Pipeline.contaminationReport(corpus, bench, "text",
      "doc_id", n = 3, threshold = 0.0)
    val bloomed = Pipeline.contaminationReportBloom(corpus, bench, "text",
      "doc_id", n = 3, threshold = 0.0)
    assert(key(bloomed) == key(exact))
    // a DELIBERATELY tiny bitset (64 bits for ~8 grams → fp rate near 1)
    // must still be exact: the verify join kills every false positive
    val noisy = Pipeline.contaminationReportBloom(corpus, bench, "text",
      "doc_id", n = 3, threshold = 0.0, expectedGrams = 8, numBits = 64)
    assert(key(noisy) == key(exact))
    // the bloom probe sits in the plan as a might_contain filter BELOW the
    // verify join, and the join carries NO forced broadcast hint — at the
    // design point bench outgrows any broadcast, so Catalyst must stay free
    // to pick a shuffled join (at test scale AQE may still broadcast; what
    // matters is that WE didn't force it)
    val analyzed = bloomed.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      "verify join must not force a broadcast of the bench gram set")
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"))
    // the might_contain prune must sit on the corpus-scan side, i.e. appear
    // in a Filter, not only inside the join condition
    assert(plan.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("might_contain")))
  }

  test("repetition signals: duplicate lines and dominant n-grams") {
    val df = Seq(
      (1L, "unique one\nunique two\nunique three"),           // no dup lines
      (2L, "same line\nsame line\nother"),                    // 1 of 3 duplicated
      (3L, "spam spam spam spam spam spam"),                  // one dominant 3-gram
      (4L, "the quick brown fox jumps over lazy dogs daily"), // all grams distinct
      (5L, "")                                                // empty
    ).toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
      TextOps.lineCount(col("text")).as("nl"),
      TextOps.dupLineFraction(col("text")).as("dl"),
      TextOps.topNgramFraction(col("text"), 3).as("tg"))
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 3 && r(0).getDouble(2) == 0.0)
    assert(r(1).getDouble(2) == 1.0 / 3.0)
    // "spam"x6 → 4 identical 3-grams → fraction 1.0
    assert(r(2).getDouble(3) == 1.0)
    // 9 distinct tokens → 7 distinct grams → 1/7
    assert(r(3).getDouble(3) == 1.0 / 7)
    assert(r(4).getLong(1) == 1 && r(4).getDouble(2) == 0.0 &&
      r(4).getDouble(3) == 0.0)
  }

  test("native SimHash64 == compositional simhashFromHashes") {
    import graft.functions.NativeExpressions
    val hashes = transform(TextOps.tokens(col("text")), t => xxhash64(t))
    val r = corpus.select(NativeExpressions.simhash64(hashes).as("n"),
      Dedup.simhashFromHashes(hashes).as("c")).collect()
    r.foreach(row => assert(row.getLong(0) == row.getLong(1)))
  }

  test("native fingerprint == composed fingerprint; unicode-safe") {
    val r = corpus.select(TextOps.fingerprint(col("text")).as("n"),
      TextOps.fingerprintComposed(col("text")).as("c")).collect()
    r.foreach(row => assert(row.getLong(0) == row.getLong(1)))
    val u = spark.range(1).select(
      TextOps.fingerprint(lit("héllo wörld")).as("n"),
      TextOps.fingerprintComposed(lit("héllo wörld")).as("c")).head()
    assert(u.getLong(0) == u.getLong(1))
  }

  test("DotF yields NULL on mismatched vector lengths (zip_with parity)") {
    val r = spark.range(1).select(
      Similarity.dot(lit(Array(1.0f, 2.0f)), lit(Array(1.0f, 2.0f, 3.0f))).as("n"),
      Similarity.dotComposed(lit(Array(1.0f, 2.0f)),
        lit(Array(1.0f, 2.0f, 3.0f))).as("c")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("hashed shingle jaccard == string shingle jaccard") {
    val withBoth = corpus.select(col("doc_id"),
      Dedup.shingles(col("text"), 3).as("s"),
      Dedup.hashedShingleSet(col("text"), 3).as("h"))
    val l = withBoth.select(col("doc_id").as("ia"), col("s").as("sa"), col("h").as("ha"))
    val r = withBoth.select(col("doc_id").as("ib"), col("s").as("sb"), col("h").as("hb"))
    val rows = l.crossJoin(r).where(col("ia") < col("ib"))
      .select(Dedup.jaccard(col("sa"), col("sb")).as("js"),
        Dedup.jaccardHashed(col("ha"), col("hb")).as("jh")).collect()
    rows.foreach(row => assert(row.getDouble(0) == row.getDouble(1)))
  }

  test("native DotF == compositional dot, bit-identical") {
    val r = vecs.crossJoin(vecs.select(col("embedding").as("e2")))
      .select(Similarity.dot(col("embedding"), col("e2")).as("n"),
        Similarity.dotComposed(col("embedding"), col("e2")).as("c")).collect()
    r.foreach(row => assert(
      java.lang.Double.doubleToLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(row.getDouble(1))))
  }

  test("SQL registration exposes native functions to spark.sql") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_simhash64(array(1L, 2L, 3L)) AS fp,
        |       graft_dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                   array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |       graft_sorted_intersect_count(array(1L, 2L, 5L),
        |                                    array(2L, 5L, 9L)) AS ic,
        |       size(graft_minhash_sig(array(7L, 9L), 16)) AS sk
        |""".stripMargin).head()
    assert(r.getDouble(1) == 11.0)
    assert(r.getLong(2) == 2L)
    assert(r.getInt(3) == 16)
    // fp equals the ops-level computation on the same input
    val expected = spark.range(1)
      .select(Dedup.simhashFromHashes(array(lit(1L), lit(2L), lit(3L))))
      .head().getLong(0)
    assert(r.getLong(0) == expected)
    // round-2 registrations
    val r2 = spark.sql(
      """SELECT graft_dot_i8(array(CAST(3 AS TINYINT), CAST(-2 AS TINYINT)),
        |                    array(CAST(4 AS TINYINT), CAST(5 AS TINYINT))) AS di,
        |       graft_fingerprint64('abc') AS fp64,
        |       graft_token_hash60('abc') AS th60,
        |       graft_token_hashes_xx(array('a', 'b')) AS txx,
        |       graft_token_hashes60(array('a', 'b')) AS t60,
        |       size(graft_mod_ngram_hashes(array('a', 'b', 'c', 'd'), 3)) AS ng
        |""".stripMargin).head()
    assert(r2.getLong(0) == 2L) // 12 - 10
    assert(r2.getLong(1) == ('a' + 'b' * 31 + 'c' * 961).toLong)
    assert(r2.getLong(2) >>> 30 == r2.getLong(1))
    assert(r2.getSeq[Long](3).size == 2 && r2.getSeq[Long](4).size == 2)
    assert(r2.getInt(5) == 2)
    val r3 = spark.sql("SELECT graft_text_features('the cat. sat') AS f").head()
    // 3 tokens; subwords the|cat|.|sat; 1 punct; "the" = stopword + en hit
    assert(r3.getSeq[Long](0) == Seq(3L, 4L, 1L, 1L, 1L, 0L, 0L, 0L))
  }

  // ---------------------------------------------------------- sessionize

  // day 1, not epoch 0: the initial streaming watermark is 0 and rows at
  // exactly the watermark are treated as late
  private def ts(min: Long): Timestamp = new Timestamp(86400000L + min * 60000L)

  private lazy val events: DataFrame = Seq(
    (1L, ts(0), 10L, "view", 1.0, ""),
    (2L, ts(10), 10L, "view", 2.0, ""),
    (3L, ts(70), 10L, "buy", 3.0, ""),   // gap 60min → new session
    (4L, ts(75), 10L, "view", 4.0, ""),
    (5L, ts(5), 20L, "view", 5.0, "")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("batch sessionize: gap splits sessions, aggregates correct") {
    val r = Sessionize.batch(events, gapMinutes = 30)
      .orderBy("user_id", "session_id").collect()
    assert(r.length == 3)
    val s1 = r(0)
    assert(s1.getAs[Long]("user_id") == 10L && s1.getAs[Long]("n_events") == 2L
      && s1.getAs[Double]("sum_value") == 3.0)
    val s2 = r(1)
    assert(s2.getAs[Long]("n_events") == 2L && s2.getAs[Double]("sum_value") == 7.0)
    assert(r(2).getAs[Long]("user_id") == 20L)
  }

  test("streaming sessionize matches batch on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val out = Sessionize.streaming(
      mem.toDS().withWatermark("ts", "10 minutes"), gapMinutes = 30)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      mem.addData(
        Sessionize.Event(1, ts(0), 10, "view", 1.0),
        Sessionize.Event(2, ts(10), 10, "view", 2.0),
        Sessionize.Event(5, ts(5), 20, "view", 5.0))
      q.processAllAvailable()
      // advance watermark far past session end → timeout fires
      mem.addData(Sessionize.Event(6, ts(500), 30, "view", 0.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event(7, ts(1000), 30, "view", 0.0))
      q.processAllAvailable()
      val got = spark.table("sessions")
        .orderBy("user_id", "session_start").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
          r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value")))
      // full equivalence with batch() on the users whose sessions have
      // closed (30, the watermark driver, still has open sessions)
      // identical event subset to what the stream received (1, 2, 5)
      val expected = Sessionize.batch(
          events.where(col("event_id").isin(1L, 2L, 5L)), gapMinutes = 30)
        .orderBy("user_id", "session_start").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
          r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value")))
      assert(got.filter(t => t._1 == 10L || t._1 == 20L).toSeq == expected.toSeq)
    } finally q.stop()
  }

  test("streaming sessionize extends the session backward for out-of-order events") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val out = Sessionize.streaming(
      mem.toDS().withWatermark("ts", "2 hours"), gapMinutes = 30)
    val q = out.writeStream.format("memory").queryName("oosess")
      .outputMode("append").start()
    try {
      mem.addData(Sessionize.Event(1, ts(60), 10, "view", 1.0))
      q.processAllAvailable()
      // out-of-order but within watermark: 10 minutes EARLIER
      mem.addData(Sessionize.Event(2, ts(50), 10, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event(9, ts(2000), 99, "view", 0.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event(10, ts(4000), 99, "view", 0.0))
      q.processAllAvailable()
      val u10 = spark.table("oosess").collect()
        .filter(_.getAs[Long]("user_id") == 10L)
      assert(u10.length == 1)
      assert(u10(0).getAs[Timestamp]("session_start") == ts(50)) // moved back
      assert(u10(0).getAs[Long]("n_events") == 2L)
    } finally q.stop()
  }

  test("streaming sessionize: far-earlier out-of-order event forms its own session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val out = Sessionize.streaming(
      mem.toDS().withWatermark("ts", "4 hours"), gapMinutes = 30)
    val q = out.writeStream.format("memory").queryName("oosplit")
      .outputMode("append").start()
    try {
      mem.addData(Sessionize.Event(1, ts(100), 10, "view", 1.0))
      q.processAllAvailable()
      // 95 minutes earlier — beyond the 30-min gap, within the watermark:
      // must NOT merge into [100,100]
      mem.addData(Sessionize.Event(2, ts(5), 10, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event(9, ts(5000), 99, "view", 0.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event(10, ts(9000), 99, "view", 0.0))
      q.processAllAvailable()
      val u10 = spark.table("oosplit").collect()
        .filter(_.getAs[Long]("user_id") == 10L)
        .sortBy(_.getAs[Timestamp]("session_start").getTime)
      assert(u10.length == 2, u10.mkString(";"))
      assert(u10(0).getAs[Timestamp]("session_start") == ts(5)
        && u10(0).getAs[Long]("n_events") == 1L)
      assert(u10(1).getAs[Timestamp]("session_start") == ts(100))
    } finally q.stop()
  }

  test("ivfTopK with nProbe exceeding centroid count probes all lists") {
    val r = Similarity.ivfTopK(vecs, vecs.where(col("vec_id") === 0),
      "embedding", "vec_id", k = 2, nCentroids = 3, nProbe = 10)
    assert(r.count() == 2) // no ArrayIndexOutOfBounds; full coverage
  }

  test("hourlyRollup groups by hour + type") {
    val r = Sessionize.hourlyRollup(events).collect()
    assert(r.map(_.getAs[Long]("n_events")).sum == 5L)
  }

  test("streamingHourlyRollup emits closed windows matching batch rollup") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val out = Sessionize.streamingHourlyRollup(
      mem.toDS().toDF(), watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("rollup")
      .outputMode("append").start()
    try {
      mem.addData(
        Sessionize.Event(1, ts(0), 10, "view", 1.0),
        Sessionize.Event(2, ts(10), 10, "view", 2.0),
        Sessionize.Event(3, ts(70), 20, "buy", 3.0))
      q.processAllAvailable()
      // watermark jump closes the first two windows
      mem.addData(Sessionize.Event(9, ts(600), 30, "view", 0.0))
      q.processAllAvailable()
      val got = spark.table("rollup").orderBy("hour", "event_type").collect()
      assert(got.length == 2)
      assert(got(0).getAs[String]("event_type") == "view"
        && got(0).getAs[Long]("n_events") == 2L
        && got(0).getAs[Double]("sum_value") == 3.0)
      assert(got(1).getAs[String]("event_type") == "buy"
        && got(1).getAs[Long]("n_events") == 1L)
    } finally q.stop()
  }

  test("curation pipeline: gate + dedup compose (dups collapse, low quality drops)") {
    val docsDf = corpus.withColumn("n_chars", length(col("text")))
    val curated = Pipeline.curatedCorpus(docsDf, minQuality = 0.0)
    // even with no quality gate, the exact dup (doc 2) is gone
    assert(curated.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L, 4L, 5L))
    val report = Pipeline.curationReport(docsDf, minQuality = 0.0).collect()
    assert(report.map(_.getAs[Long]("n_docs")).sum == 4L)
  }

  test("writeCurated produces language-partitioned parquet that prunes") {
    val docsDf = corpus.withColumn("n_chars", length(col("text")))
    val out = java.nio.file.Files.createTempDirectory("curated").toString
    try {
    Pipeline.writeCurated(docsDf, minQuality = 0.0, out, filesPerLang = 2)
    val back = spark.read.parquet(out)
    assert(back.count() == 4) // dedup applied before write
    assert(back.columns.contains("lang_pred"))
    // partition pruning: filter on lang_pred reads only that directory
    val pruned = back.where(col("lang_pred") === "en")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() ==
      back.collect().count(_.getAs[String]("lang_pred") == "en"))
    // pruned at planning (PartitionFilters), no row-level DataFilters
    assert(scan.contains("PartitionFilters: [isnotnull(lang_pred"))
    assert(scan.contains("DataFilters: []"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  test("leakageSafeSplit: clusters stay whole, split is deterministic") {
    // pair graph: {1,2,3} one cluster (chain), {10,11} another;
    // 20..119 unclustered
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val docsDf = ((1L to 3L) ++ Seq(10L, 11L) ++ (20L until 120L))
      .map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val split = Pipeline.leakageSafeSplit(docsDf, pairs, "doc_id", 0.3)
    val m = split.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("split")).toMap
    assert(m.size == 105)
    // every cluster lands on one side
    assert(Set(m(1L), m(2L), m(3L)).size == 1)
    assert(m(10L) == m(11L))
    // both sides populated, fraction in a plausible band
    val testN = m.values.count(_ == "test")
    assert(testN > 10 && testN < 60, s"test side $testN of 105")
    // deterministic across runs
    val again = Pipeline.leakageSafeSplit(docsDf, pairs, "doc_id", 0.3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(again == m)
  }

  test("bucketed tables join with zero exchanges") {
    val conf = spark.conf
    val savedBc = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val docsDf = (0L until 200L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
      val feats = (0L until 200L).map(i => (i, i * 0.5)).toDF("doc_id", "score")
      Bucketing.writeBucketed(docsDf, "graft_test_docs", "doc_id", 4)
      Bucketing.writeBucketed(feats, "graft_test_feats", "doc_id", 4)
      try {
        val joined = Bucketing.joinBucketed(spark, "graft_test_docs",
          "graft_test_feats", "doc_id")
        assert(joined.count() == 200)
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
        // single file per bucket (task boundaries aligned by repartition)
        assert(plan.contains("SelectedBucketsCount: 4 out of 4"), plan)
      } finally {
        spark.sql("DROP TABLE IF EXISTS graft_test_docs")
        spark.sql("DROP TABLE IF EXISTS graft_test_feats")
      }
    } finally savedBc match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("compactParquet: fragmented dataset rewritten to target-sized files") {
    val in = java.nio.file.Files.createTempDirectory("frag").toString
    val out = java.nio.file.Files.createTempDirectory("compact").toString
    try {
      // 64 deliberately tiny files
      spark.range(2000).select(col("id"), (col("id") % 7).as("q"))
        .repartition(64).write.mode("overwrite").parquet(in)
      val (files0, bytes0) = Maintenance.parquetFootprint(spark, in)
      assert(files0 == 64)
      val n = Maintenance.compactParquet(spark, in, out,
        targetFileBytes = bytes0 / 4, sortCols = Seq("q"))
      val (files1, _) = Maintenance.parquetFootprint(spark, out)
      assert(files1 == n && n <= 6, s"wrote $n files")
      // content identical
      val a = spark.read.parquet(in).collect().map(_.toSeq).toSet
      val b = spark.read.parquet(out).collect().map(_.toSeq).toSet
      assert(a == b)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(in)).deleteRecursively()
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  // ---------------------------------------------------------- multimodal

  test("multimodal: meta extraction is deterministic and schema-typed") {
    val media = Seq(
      Multimodal.MediaRow(1L, Array[Byte](1, 2, 3, 4, 5)),
      Multimodal.MediaRow(2L, Array[Byte](1, 2, 3, 4, 5)),
      Multimodal.MediaRow(3L, "totally different bytes".getBytes)).toDS()
    val meta = Multimodal.extractMeta(media).collect()
      .map(m => m.media_id -> m).toMap
    assert(meta(1L).copy(media_id = 2L) == meta(2L)) // deterministic
    assert(meta(1L).byte_len == 5L)
    assert(meta(1L).content_hash == meta(2L).content_hash)
    assert(meta(1L).content_hash != meta(3L).content_hash)
    assert(meta.values.forall(m => m.width >= 64 && m.height >= 64))
  }

  test("multimodal: real PNG/JPEG header dimensions parsed from bytes") {
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 2, 0x80, /* w=640 */ 0, 0, 1, 0xe0 /* h=480 */).map(_.toByte)
    val jpeg = (Array[Int](0xff, 0xd8, 0xff, 0xe0, 0x00, 0x10) ++
      Array.fill(14)(0) ++
      Array[Int](0xff, 0xc0, 0x00, 0x11, 8, 0x01, 0xe0, 0x02, 0x80) ++
      Array.fill(12)(0)).map(_.toByte)
    val media = Seq(Multimodal.MediaRow(1L, png),
      Multimodal.MediaRow(2L, jpeg)).toDS()
    val metas = Multimodal.extractMeta(media).collect()
      .map(m => m.media_id -> m).toMap
    assert(metas(1L).format == "png" &&
      metas(1L).width == 640 && metas(1L).height == 480)
    assert(metas(2L).format == "jpeg" &&
      metas(2L).width == 640 && metas(2L).height == 480)
  }

  test("chunkByTokens: stride windows, short tail, empty doc dropped") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c"), // shorter than one chunk
      (3L, "")       // no tokens → no rows
    ).toDF("doc_id", "text")
    val out = Pipeline.chunkByTokens(df, "text", "doc_id",
      chunkSize = 4, overlap = 1) // stride 3 → starts 1,4,7,10
      .orderBy("doc_id", "chunk_idx")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, 4L, "w1 w2 w3 w4"),
      (1L, 1L, 4L, "w4 w5 w6 w7"),
      (1L, 2L, 4L, "w7 w8 w9 w10"),
      (1L, 3L, 1L, "w10"),
      (2L, 0L, 3L, "a b c")))
    // consecutive chunks share exactly `overlap` tokens
    val c0 = out(0)._4.split(" ").toSeq
    val c1 = out(1)._4.split(" ").toSeq
    assert(c0.takeRight(1) == c1.take(1))
    intercept[IllegalArgumentException] {
      Pipeline.chunkByTokens(df, "text", "doc_id", chunkSize = 4, overlap = 4)
    }
  }

  test("topKPerGroup: rank within group, deterministic ties, k cap") {
    val df = Seq(
      ("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 9.0), ("a", 4L, 1.0),
      ("b", 5L, 2.0)).toDF("g", "id", "score")
    val out = Pipeline.topKPerGroup(df, Seq("g"),
      Seq(col("score").desc, col("id").asc), k = 2)
      .orderBy("g", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    // score desc, id tie-break: a→(3, then 1 over 2 by id), b→5
    assert(out.toSeq == Seq(("a", 3L, 1L), ("a", 1L, 2L), ("b", 5L, 1L)))
  }

  test("tfidf: ranks by score — a rare term beats a ubiquitous high-tf term") {
    val df = Seq(
      (1L, "the the the rare"),
      (2L, "the x"),
      (3L, "the y")).toDF("doc_id", "text")
    val out = TextOps.tfidfTopTerms(df, "text", "doc_id", k = 2)
      .orderBy("doc_id", "rank")
      .collect() // columns: (doc_id, token, tf, df, rank, tfidf)
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // doc1: 'the' has tf=3 but df=3 → score 3·ln(4/4)=0; 'rare' has
    // tf=1, df=1 → ln(2)≈0.69 and must rank FIRST (raw tf would not)
    assert(out(0) == ((1L, "rare", 1L, 1L, 1L)))
    assert(out(1) == ((1L, "the", 3L, 3L, 2L)))
    // doc2: x (df=1) beats the (score 0)
    assert(out(2) == ((2L, "x", 1L, 1L, 1L)))
    assert(out(3) == ((2L, "the", 1L, 3L, 2L)))
    // tfidf score: tf * ln((N+1)/(df+1)) with N=3
    val rare = TextOps.tfidfTopTerms(df, "text", "doc_id", k = 2)
      .where(col("token") === "rare").select("tfidf").head().getDouble(0)
    assert(math.abs(rare - math.log(4.0 / 2.0)) < 1e-12)
  }

  test("tfidf runtime plan reuses the tf exchange (tokenize once)") {
    val q = TextOps.tfidfTopTerms(corpus, "text", "doc_id", k = 2)
    q.collect() // materialize so AQE finalizes the plan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") ||
      plan.contains("ReusedQueryStage") || plan.contains("TableCacheQueryStage"),
      s"tf subplan not reused — tokenization would run twice:\n$plan")
  }

  test("decontaminate keeps exactly the non-contaminated complement") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corp = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // fully contaminated
      (2L, "totally unrelated words in this document right here"),
      (3L, "xx yy") // < n tokens: no grams → never contaminated
    ).toDF("doc_id", "text")
    val kept = Pipeline.decontaminate(corp, bench, "text", "doc_id",
      n = 3, threshold = 0.5).select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L, 3L))
    // the filter is the complement of the report
    val flagged = Pipeline.contaminationReport(corp, bench, "text", "doc_id",
      n = 3, threshold = 0.5).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(1L))
  }

  test("topFractionPerGroup: ceil sizing per group, tiny groups keep 1") {
    val df = (1 to 8).map(i => ("big", i.toLong, i.toDouble)) ++
      Seq(("one", 100L, 1.0), ("three", 200L, 2.0), ("three", 201L, 3.0),
        ("three", 202L, 1.0))
    val out = Pipeline.topFractionPerGroup(df.toDF("g", "id", "score"),
      Seq("g"), Seq(col("score").desc, col("id").asc), fraction = 0.25)
      .orderBy("g", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // big: ceil(8*.25)=2 → scores 8,7; one: ceil(1*.25)=1; three: ceil(3*.25)=1
    assert(out.toSeq == Seq(("big", 8L), ("big", 7L), ("one", 100L),
      ("three", 201L)))
  }

  test("parseJson: explicit schema, flattened fields, malformed → null") {
    val df = Seq(
      (1L, """{"k": 7, "tag": "x"}"""),
      (2L, """{"k": 9}"""),
      (3L, "not json at all")).toDF("id", "props")
    val out = SemiStructured.parseJson(df, "props", "k BIGINT, tag STRING")
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), Option(r.get(2)), Option(r.get(3)))).toSeq
      == Seq((1L, Some(7L), Some("x")), (2L, Some(9L), None),
        (3L, None, None)))
    // source column kept
    assert(out(0).getString(1).startsWith("{"))
  }

  test("jsonl sink/source round-trip with explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val df = Seq((1L, "hello world", "en"), (2L, "bonjour", "fr"))
      .toDF("doc_id", "text", "lang")
    SemiStructured.writeJsonl(df, s"$dir/out", shards = 2)
    val back = SemiStructured.readJsonl(spark, s"$dir/out",
      "doc_id BIGINT, text STRING, lang STRING")
    assert(back.orderBy("doc_id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      == Seq((1L, "hello world", "en"), (2L, "bonjour", "fr")))
    // shard count is what was asked for (bounded file count contract)
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".json"))
    assert(files.length == 2)
  }

  test("funnel: ordered stages, pre-stage events ignored, nulls cascade") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      // user 1: click BEFORE first view must not count; full funnel later
      (1L, "click", ts(1)), (1L, "view", ts(2)), (1L, "click", ts(5)),
      (1L, "purchase", ts(6)),
      // user 2: view only → click/purchase null
      (2L, "view", ts(1)), (2L, "purchase", ts(0)),
      // user 3: never viewed → absent from output
      (3L, "click", ts(1)),
      // user 4: purchase exactly AT click time is not strictly after
      (4L, "view", ts(1)), (4L, "click", ts(2)), (4L, "purchase", ts(2))
    ).toDF("user_id", "event_type", "ts")
    val out = Sessionize.funnel(ev, Seq("view", "click", "purchase"))
      .orderBy("user_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    assert(out(0).getTimestamp(1) == ts(2) && out(0).getTimestamp(2) == ts(5)
      && out(0).getTimestamp(3) == ts(6))
    assert(out(1).getTimestamp(1) == ts(1) && out(1).isNullAt(2)
      && out(1).isNullAt(3))
    assert(out(2).getTimestamp(2) == ts(2) && out(2).isNullAt(3))
  }

  test("funnel with maxStepGap: late stages fall outside the bound") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      // user 1: click 3 min after view (within 5), purchase 10 min after
      // click (outside 5) → purchase null under the bound
      (1L, "view", ts(0)), (1L, "click", ts(3)), (1L, "purchase", ts(13)),
      // user 2: click 7 min after view → click null AND purchase null
      // (cascade), even though an in-bound purchase follows the click
      (2L, "view", ts(0)), (2L, "click", ts(7)), (2L, "purchase", ts(8)),
      // user 3: everything within bounds — identical to unbounded
      (3L, "view", ts(0)), (3L, "click", ts(4)), (3L, "purchase", ts(8)),
      // user 4: first click out of bound, SECOND click in bound → the
      // conditional min picks the in-bound one
      (4L, "view", ts(0)), (4L, "click", ts(9)), (4L, "click", ts(2)),
      (4L, "purchase", ts(5))
    ).toDF("user_id", "event_type", "ts")
    val out = Sessionize.funnel(ev, Seq("view", "click", "purchase"),
        maxStepGapMinutes = Some(5L))
      .orderBy("user_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out(0).getTimestamp(2) == ts(3) && out(0).isNullAt(3))
    assert(out(1).isNullAt(2) && out(1).isNullAt(3))
    assert(out(2).getTimestamp(2) == ts(4) && out(2).getTimestamp(3) == ts(8))
    assert(out(3).getTimestamp(2) == ts(2) && out(3).getTimestamp(3) == ts(5))
    // a wide bound reproduces the unbounded result exactly
    val wide = Sessionize.funnel(ev, Seq("view", "click", "purchase"),
      maxStepGapMinutes = Some(100000L)).orderBy("user_id").collect()
    val unbounded = Sessionize.funnel(ev, Seq("view", "click", "purchase"))
      .orderBy("user_id").collect()
    assert(wide.map(_.toSeq).toSeq == unbounded.map(_.toSeq).toSeq)
  }

  test("rollupDaily: subtotals correct, one Expand + one shuffle") {
    def ts(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val ev = Seq(
      ("view", ts(1, 9), 1.0), ("view", ts(1, 10), 2.0),
      ("view", ts(2, 9), 4.0), ("click", ts(1, 9), 8.0)
    ).toDF("event_type", "ts", "value")
    val out = Sessionize.rollupDaily(ev)
      .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)
      .collect()
    // grand total, click subtotal+day, view subtotal+2 days
    assert(out.length == 1 + 2 + 3)
    assert(out(0).isNullAt(0) && out(0).isNullAt(1) &&
      out(0).getLong(2) == 4L && out(0).getDouble(3) == 15.0)
    assert(out(1).getString(0) == "click" && out(1).isNullAt(1) &&
      out(1).getDouble(3) == 8.0)
    assert(out(3).getString(0) == "view" && out(3).isNullAt(1) &&
      out(3).getLong(2) == 3L && out(3).getDouble(3) == 7.0)
    // one Expand, one aggregate exchange — not three unioned passes
    val plan = Sessionize.rollupDaily(ev).queryExecution.executedPlan.toString
    assert(plan.contains("Expand"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("retentionCohorts: first-day cohort, distinct day offsets") {
    def ts(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val ev = Seq(
      (1L, ts(1, 9)), (1L, ts(1, 17)), // two events same day → one offset-0
      (1L, ts(3, 9)),                  // back on day 3 → offset 2
      (2L, ts(1, 5)),                  // cohort 01-01, never returns
      (3L, ts(3, 5)), (3L, ts(4, 5))   // cohort 01-03, returns offset 1
    ).toDF("user_id", "ts")
    val out = Sessionize.retentionCohorts(ev)
      .orderBy("cohort_day", "day_offset").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 2L, 1L),
      ("2024-01-03", 0L, 1L), ("2024-01-03", 1L, 1L)))
  }

  test("nearDeduplicateBy: keeper policy picks the preferred cluster member") {
    val df = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5), // cluster {1,2,3} → keep 2
      (4L, 0.7),                       // unpaired → kept
      (5L, 0.3), (6L, 0.3)             // cluster {5,6}: tie → keep min id 5
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDeduplicateBy(df, pairs, "doc_id",
        Seq(col("q").desc, col("doc_id").asc))
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L, 4L, 5L))
  }

  test("nearDeduplicateBy works when the id column is literally 'id'") {
    val df = Seq((1L, 0.1), (2L, 0.9)).toDF("id", "q")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDeduplicateBy(df, pairs, "id",
        Seq(col("q").desc, col("id").asc))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L))
  }

  test("parseJson rejects schema fields that collide with existing columns") {
    val df = Seq((1L, """{"ts": 5}""")).toDF("ts", "props")
    val e = intercept[IllegalArgumentException] {
      SemiStructured.parseJson(df, "props", "ts BIGINT")
    }
    assert(e.getMessage.contains("ts"))
  }

  test("dedupAgainst: null text never matches the corpus") {
    val existing = Seq((1L, Option.empty[String]), (2L, Some("real")))
      .toDF("doc_id", "text")
    val incoming = Seq((10L, Option.empty[String]), (11L, Some("real")),
      (12L, Some("fresh"))).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainst(incoming, existing, "text", "doc_id")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    // null-text incoming survives (content-less); "real" is dropped
    assert(kept == Seq(10L, 12L))
  }

  test("dedupAgainst: batch self-dedup + anti-join vs existing corpus") {
    val existing = Seq((1L, "old doc one"), (2L, "old doc two"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "old doc one"),   // already in corpus → dropped
      (11L, "new doc"), (12L, "new doc"), // in-batch dup → keep 11
      (13L, "another new doc")
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainst(incoming, existing, "text", "doc_id")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(11L, 13L))
  }

  test("chunkByTokens and parseJson run unchanged on a stream (stateless)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val src = mem.toDS().toDF("doc_id", "text", "props")
    // both operators are map-only, so they compose into one streaming
    // query with no watermark/state requirements; chunking consumes the
    // JSON-parsed field so neither op gets pruned out of the plan
    val q = Pipeline.chunkByTokens(
        SemiStructured.parseJson(src, "props", "t STRING"),
        "t", "doc_id", chunkSize = 2, overlap = 0)
      .writeStream.format("memory").queryName("chunks").start()
    try {
      mem.addData((1L, "unused", """{"t": "a b c d e"}"""))
      q.processAllAvailable()
      val got = spark.table("chunks").orderBy("chunk_idx").collect()
        .map(r => (r.getLong(1), r.getString(3)))
      assert(got.toSeq == Seq((0L, "a b"), (1L, "c d"), (2L, "e")))
    } finally q.stop()
  }

  test("dedupLinesAcrossCorpus: first occurrence wins, short lines immune") {
    val docs = Seq(
      (1L, "SUBSCRIBE TO OUR NEWSLETTER\nunique first body line\nok"),
      (2L, "second doc opening line\nSUBSCRIBE TO OUR NEWSLETTER\nok"),
      (3L, "SUBSCRIBE TO OUR NEWSLETTER")
    ).toDF("doc_id", "text")
    val out = TextOps.dedupLinesAcrossCorpus(docs, "text", "doc_id",
        minLineLen = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(
      // doc 1 holds the first occurrence → keeps it
      (1L, "SUBSCRIBE TO OUR NEWSLETTER\nunique first body line\nok"),
      // later occurrences dropped; "ok" (< 5 chars) always kept
      (2L, "second doc opening line\nok"),
      // all lines removed → empty string, row preserved
      (3L, "")))
  }

  test("dedupLinesAcrossCorpus plan carries Partial+Final WindowGroupLimit") {
    val docs = Seq((1L, "a long enough line\nok")).toDF("doc_id", "text")
    val q = TextOps.dedupLinesAcrossCorpus(docs, "text", "doc_id", minLineLen = 5)
    q.collect() // materialize so AQE finalizes the plan
    val plan = q.queryExecution.executedPlan.toString
    val hits = "WindowGroupLimit".r.findAllIn(plan).size
    assert(hits >= 2, s"expected Partial+Final WindowGroupLimit, got $hits in:\n$plan")
  }

  test("dedupLinesAcrossCorpus survives a boilerplate line repeated 200k times") {
    // the operator's target workload: ONE hot line in every document.
    // With the rank filter a pure conjunct, WindowGroupLimit forwards one
    // candidate per map task, so the hot (h1,h2) window partition sees
    // ~numPartitions rows instead of all 200k copies.
    val n = 200000L
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("THIS BOILERPLATE LINE REPEATS IN EVERY DOCUMENT\nunique line "),
        col("id")).as("text"))
    val out = TextOps.dedupLinesAcrossCorpus(docs, "text", "doc_id")
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
    val got = out.where(col("doc_id").isin(0L, 1L, 137L))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq(
      (0L, "THIS BOILERPLATE LINE REPEATS IN EVERY DOCUMENT\nunique line 0"),
      (1L, "unique line 1"),
      (137L, "unique line 137")))
    assert(out.count() == n)
  }

  test("topKPerGroup plan carries Partial+Final WindowGroupLimit") {
    val df = Seq(("a", 1L, 5.0), ("a", 2L, 3.0), ("b", 3L, 2.0))
      .toDF("g", "id", "score")
    val q = Pipeline.topKPerGroup(df, Seq("g"),
      Seq(col("score").desc, col("id").asc), k = 2)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    val hits = "WindowGroupLimit".r.findAllIn(plan).size
    assert(hits >= 2, s"expected Partial+Final WindowGroupLimit, got $hits in:\n$plan")
  }

  test("groupCentroids: element-wise mean per group, ordered components") {
    val df = Seq(
      ("a", Seq(1.0f, 2.0f, 3.0f)), ("a", Seq(3.0f, 4.0f, 5.0f)),
      ("b", Seq(10.0f, 0.0f, 0.0f))).toDF("label", "embedding")
    val out = Similarity.groupCentroids(df, "embedding", "label")
      .orderBy("label").collect()
      .map(r => (r.getString(0), r.getSeq[Double](1), r.getLong(2)))
    assert(out(0) == (("a", Seq(2.0, 3.0, 4.0), 2L)))
    assert(out(1) == (("b", Seq(10.0, 0.0, 0.0), 1L)))
  }

  test("unigramLogLikelihood: fluent text outscores gibberish") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "zxqv wkjh qpzm xvbn")).toDF("doc_id", "text")
    val out = TextOps.unigramLogLikelihood(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out.map(_._2) == Seq(6L, 6L, 4L))
    // docs 1/2 share common tokens (the/sat/on) → higher mean logprob
    // than doc 3's singletons
    assert(out(0)._3 > out(2)._3 && out(1)._3 > out(2)._3)
    // exact value for doc 3: every token unique → ln(1/16) each
    assert(math.abs(out(2)._3 - math.log(1.0 / 16.0)) < 1e-12)
  }

  test("connectedComponents matches union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val edges = Seq.fill(n) {
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)
      }.filter { case (a, b) => a != b }
      // local union-find ground truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // min id per component as the canonical root
      val want = nodes.groupBy(find).flatMap { case (_, ns) =>
        val root = ns.min
        ns.map(_ -> root)
      }.toMap
      val got = Dedup.connectedComponents(
          edges.toDF("id_a", "id_b"), maxIter = 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: $got vs $want")
    }
  }

  test("funnel matches an in-memory fold on random event sets") {
    val rnd = new scala.util.Random(7)
    val stages = Seq("s0", "s1", "s2")
    val types = stages ++ Seq("noise")
    for (trial <- 1 to 4) {
      val events = Seq.fill(120) {
        (rnd.nextInt(12).toLong,
          types(rnd.nextInt(types.length)),
          Timestamp.valueOf(f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00"))
      }
      // reference fold: t0 = min s0; t(i) = min s_i ts strictly after t(i-1)
      val want = events.groupBy(_._1).flatMap { case (u, evs) =>
        val t0 = evs.filter(_._2 == "s0").map(_._3).minOption(
          Ordering.by((t: Timestamp) => t.getTime))
        t0.map { start =>
          val ts = stages.tail.scanLeft(Option(start)) { (prev, st) =>
            prev.flatMap(p => evs.filter(e => e._2 == st && e._3.after(p))
              .map(_._3).minOption(Ordering.by((t: Timestamp) => t.getTime)))
          }
          u -> ts
        }
      }
      val got = Sessionize.funnel(
          events.toDF("user_id", "event_type", "ts"), stages)
        .collect().map(r => r.getLong(0) ->
          (0 to 2).map(i => Option(r.getTimestamp(i + 1))).toList).toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("chunkByTokens reconstruction: stripping overlaps rebuilds the doc") {
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 5) {
      val nTok = rnd.nextInt(50) + 1
      val text = (1 to nTok).map(i => s"t$i").mkString(" ")
      val (size, overlap) = (rnd.nextInt(8) + 2, rnd.nextInt(2))
      val chunks = Pipeline.chunkByTokens(
          Seq((1L, text)).toDF("doc_id", "text"), "text", "doc_id",
          size, overlap)
        .orderBy("chunk_idx").collect().map(_.getString(3))
      val rebuilt = (chunks.head +: chunks.tail.map(c =>
        c.split(" ").drop(overlap).mkString(" "))).filter(_.nonEmpty)
        .mkString(" ")
      assert(rebuilt == text, s"size=$size overlap=$overlap n=$nTok")
    }
  }

  test("multimodal: frame sampling only for video, stride respected") {
    val media = Seq(
      Multimodal.MediaRow(1L, Array.tabulate(64)(_.toByte)),
      Multimodal.MediaRow(2L, Array.tabulate(65)(i => (i + 1).toByte))).toDS()
    val metas = Multimodal.extractMeta(media).collect()
    val frames = Multimodal.sampleFrames(media, stride = 7).collect()
    val vids = metas.filter(_.format == "mp4").map(_.media_id).toSet
    assert(vids.nonEmpty) // guard: at least one fixture must classify as video
    assert(frames.forall(f => vids.contains(f.media_id)))
    metas.filter(m => vids.contains(m.media_id)).foreach { m =>
      val n = frames.count(_.media_id == m.media_id)
      assert(n == (m.n_frames + 6) / 7)
    }
  }

  test("rollingUserStats: inclusive range frame, per-user, peers share a frame") {
    def ts(ms: Long) = new Timestamp(ms)
    val events = Seq(
      (1L, ts(0L), 7L, 1.0), (2L, ts(60000L), 7L, 2.0),
      (3L, ts(61000L), 7L, 4.0),      // 0 ms falls OUT of its 1-min frame
      (4L, ts(61000L), 7L, 8.0),      // peer of 3 at the same ms
      (5L, ts(0L), 9L, 16.0)          // other user: frames never mix
    ).toDF("event_id", "ts", "user_id", "value")
    val r = Sessionize.rollingUserStats(events, windowMinutes = 1)
      .orderBy("event_id")
      .collect().map(x => (x.getLong(0), x.getLong(3), x.getDouble(4)))
    assert(r(0) == ((1L, 1L, 1.0)))
    assert(r(1) == ((2L, 2L, 3.0)))       // 0 and 60000 both in [0, 60000]
    assert(r(2) == ((3L, 3L, 14.0)))      // 60000, 61000, 61000 — not 0
    assert(r(3) == ((4L, 3L, 14.0)))      // peer row: identical frame
    assert(r(4) == ((5L, 1L, 16.0)))
  }

  test("eventIdCol parameter: window operators run on frames without event_id") {
    def ts(ms: Long) = new Timestamp(ms)
    val events = Seq(
      (101L, ts(0L), 7L, 1.0, "view"),
      (102L, ts(30000L), 7L, 2.0, "cart"),
      (103L, ts(60000L), 7L, 4.0, "buy")
    ).toDF("evt", "ts", "user_id", "value", "event_type")
    // each operator's tie-break column is the parameter, not a
    // hardcoded event_id — the frame above has no event_id at all
    val roll = Sessionize.rollingUserStats(events, windowMinutes = 1,
      eventIdCol = "evt").orderBy("evt").collect()
    assert(roll.map(_.getLong(0)).toSeq == Seq(101L, 102L, 103L))
    assert(roll.last.getLong(3) == 3L) // frame [0, 60000] inclusive holds all 3
    val trans = Sessionize.eventTransitions(events, eventIdCol = "evt")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(trans == Set(("view", "cart"), ("cart", "buy")))
    val gaps = Sessionize.interArrivalQuantiles(events, Seq(1.0),
      typeCol = "user_id", eventIdCol = "evt")
    assert(gaps.count() == 1)
    val paths = Sessionize.topPaths(events, pathLen = 3, topK = 5,
      eventIdCol = "evt").collect()
    assert(paths.length == 1 && paths.head.getLong(1) == 1L)
  }

  test("scrubBoilerplateLines: df-threshold drops all copies, short lines exempt") {
    val docs = Seq(
      (1L, "unique one alpha\nBOILERPLATE FOOTER X\nok"),
      (2L, "unique two beta\nBOILERPLATE FOOTER X\nok"),
      (3L, "BOILERPLATE FOOTER X\nshared twice only\nok"),
      (4L, "shared twice only\nunique four gamma"),
      (5L, "BOILERPLATE FOOTER X") // whole doc is boilerplate → empty
    ).toDF("doc_id", "text")
    val r = TextOps.scrubBoilerplateLines(docs, "text", "doc_id",
        minDocFreq = 3, minLineLen = 10)
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(r(0) == "unique one alpha\nok")           // footer in 3 docs: gone
    assert(r(1) == "unique two beta\nok")
    assert(r(2) == "shared twice only\nok")          // df=2 < 3: kept
    assert(r(3) == "shared twice only\nunique four gamma")
    assert(r(4) == "")                               // "ok" short-line exempt
  }

  test("winnowFingerprints: shared long run guarantees a common fingerprint") {
    val w = 4; val n = 3
    // 12 shared tokens >= window + n - 1 = 6 → at least one common fp
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, s"one two three $shared x y z"),
      (2L, s"totally different prefix words here $shared"),
      (3L, "no overlap with anything else at all whatsoever"),
      (4L, "ab cd"), // fewer than n tokens → no grams → absent
      (5L, "p q r s") // 4 tokens → 2 grams < window → single whole-list window
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(docs, "text", "doc_id", n, w)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    assert(!byDoc.contains(4L))
    assert(byDoc(5L).size == 1) // min over the 2-gram list, one window
    // fingerprints are a subset of the doc's gram hashes (window minima)
    val grams1 = docs.where(col("doc_id") === 1)
      .select(graft.functions.NativeExpressions.modNgramHashes(
        TextOps.tokens(col("text")), n).as("g"))
      .head().getSeq[Long](0).toSet
    assert(byDoc(1L).subsetOf(grams1))
  }

  test("native WinnowMins == compositional window-min selection (random arrays)") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 60).map { i =>
      val len = rnd.nextInt(40) // includes 0-length
      (i.toLong, Array.fill(len)(rnd.nextLong(50) + 1)) // dup-heavy values
    }
    val df = rows.toDF("id", "g")
    for (w <- Seq(1, 3, 4, 9)) {
      val native = df.select(col("id"),
          graft.functions.NativeExpressions.winnowMins(col("g"), w).as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      val composed = df.where(size(col("g")) > 0).select(col("id"),
          TextOps.winnowMinsComposed(col("g"), w).as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      composed.foreach { case (id, exp) =>
        assert(native(id) == exp, s"w=$w id=$id")
      }
      // empty gram arrays → empty selection from the native path
      rows.filter(_._2.isEmpty).foreach { case (id, _) =>
        assert(native(id).isEmpty)
      }
    }
  }

  test("winnowDupPairs: planted shared passage found; maxBucket caps boilerplate fp") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"intro words then $passage and an ending"),
      (2L, s"other start $passage closing remarks here"),
      (3L, "unrelated content entirely about other things altogether")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowDupPairs(docs, "text", "doc_id",
      n = 3, window = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // a fingerprint shared by every doc is boilerplate: cap kills the bucket
    val boiler = (1L to 30L).map(i => (i, s"same same same same same same"))
      .toDF("doc_id", "text")
    val capped = Dedup.winnowDupPairs(boiler, "text", "doc_id",
      n = 3, window = 4, minShared = 1, maxBucket = 10)
    assert(capped.count() == 0)
    // the cap is a COUNT pre-filter, not a post-collect size check: a
    // mega-bucket must never reach collect_list (no ObjectHashAggregate
    // buffer holds it). Plan shape: the size filter precedes the
    // collect aggregation (semi-join on the counted keys).
    val plan = capped.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected count semi-join:\n$plan")
  }

  test("substringDupSpans: exact shared passage found with span and offsets") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"intro words then $passage and an ending"),
      (2L, s"other start $passage closing remarks here"),
      (3L, "unrelated content entirely about other things altogether"),
      // near-identical run broken in the middle: two 5-token halves,
      // below a minRun of 6
      (4L, "alpha beta gamma delta epsilon XX zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val r = Dedup.substringDupSpans(docs, "text", "doc_id",
        minRun = 6, n = 3, window = 4, minShared = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2),
        x.getInt(3), x.getInt(4), x.getString(5)))
    assert(r.map(t => (t._1, t._2)).toSet == Set((1L, 2L)))
    val (_, _, len, sa, sb, span) = r.head
    assert(len == 10 && sa == 3 && sb == 2 && span == passage)
    // the kernel is exact: equal full texts give the full-length run
    val same = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val r2 = Dedup.substringDupSpans(same, "text", "doc_id",
      minRun = 8, n = 3, window = 4, minShared = 1).collect()
    assert(r2.length == 1 && r2.head.getInt(2) == 8)
    // native expression matches a straightforward reference DP
    def refRun(a: Seq[String], b: Seq[String]): (Int, Int, Int) = {
      var best = (0, 0, 0)
      for (i <- a.indices; j <- b.indices) {
        var k = 0
        while (i + k < a.size && j + k < b.size && a(i + k) == b(j + k))
          k += 1
        if (k > best._1) best = (k, i, j)
      }
      best
    }
    val ta = "x alpha beta x x alpha beta gamma y".split(" ").toSeq
    val tb = "alpha beta gamma z alpha beta".split(" ").toSeq
    val got = spark.range(1).select(
      graft.functions.NativeExpressions.longestCommonRun(
        lit(ta.toArray), lit(tb.toArray))).head().getStruct(0)
    assert((got.getInt(0), got.getInt(1), got.getInt(2)) == refRun(ta, tb))
    // maxTokens truncation bounds the DP
    val gotT = spark.range(1).select(
      graft.functions.NativeExpressions.longestCommonRun(
        lit(ta.toArray), lit(tb.toArray), maxTokens = 3)).head().getStruct(0)
    assert(gotT.getInt(0) == 2) // "x alpha beta" vs "alpha beta gamma"
  }

  test("substringDupSpansAgainst: batch x corpus spans only, ids overlap") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val batch = Seq(
      (1L, s"bbb one two $passage"),
      (2L, "bbb nothing shared at all here today")
    ).toDF("doc_id", "text")
    // corpus id 1 overlaps batch id 1 — sides never join on id
    val corpus = Seq(
      (1L, s"ccc other start $passage trailing words"),
      (7L, s"ccc more stuff $passage"),
      (9L, "ccc fully unrelated content everywhere")
    ).toDF("doc_id", "text")
    val r = Dedup.substringDupSpansAgainst(batch, corpus, "text",
        "doc_id", minRun = 8, n = 3, window = 4, minShared = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2),
        x.getString(5))).sortBy(t => (t._1, t._2))
    assert(r.map(t => (t._1, t._2)).toSeq == Seq((1L, 1L), (1L, 7L)))
    assert(r.forall(t => t._3 == 8 && t._4 == passage))
    // within-side duplication is never reported: batch 1 vs batch 1'
    // style pairs simply cannot form (the join is batch x corpus)
  }

  test("exciseTokenSpans: interval union, reflow, untouched byte-exact") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      // irregular whitespace proves the untouched fast path is byte-exact
      (2L, "  two   spaced\tout  "),
      (3L, "a b c d e")
    ).toDF("doc_id", "text")
    val cuts = Seq(
      (1L, 2, 5), (1L, 4, 7),   // overlap -> [2,7)
      (1L, 8, 9),               // disjoint second interval
      (3L, 0, 2), (3L, 2, 4)    // adjacent -> [0,4)
    ).toDF("id", "s", "e")
    val r = Dedup.exciseTokenSpans(docs, cuts, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "t0 t1 t7 t9")
    assert(r(2L) == "  two   spaced\tout  ")
    assert(r(3L) == "e")
  }

  test("removeDupSpans: keep-first keeps id_a, cuts every other copy") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"one intro $passage tail1"),
      (2L, s"two start $passage tail2 words"),
      (3L, s"$passage three closing"),
      (4L, "unrelated content entirely about other things altogether")
    ).toDF("doc_id", "text")
    val spans = Dedup.substringDupSpans(docs, "text", "doc_id",
      minRun = 10, n = 3, window = 4, minShared = 1)
    val r = Dedup.removeDupSpans(docs, spans, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == s"one intro $passage tail1") // keeper: untouched
    assert(r(2L) == "two start tail2 words")
    assert(r(3L) == "three closing")
    assert(r(4L) == "unrelated content entirely about other things altogether")
    // end-to-end convenience gives the same corpus
    val r2 = Dedup.dedupSpans(docs, "text", "doc_id",
        minRun = 10, n = 3, window = 4, minShared = 1)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r2 == r)
  }

  test("removeDupSpans: quality keeper beats lower id; ties go low-id") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"one intro $passage tail1", 0.1),
      (2L, s"two start $passage tail2 words", 0.9),
      (3L, s"$passage three closing", 0.9)
    ).toDF("doc_id", "text", "q")
    val spans = Dedup.substringDupSpans(docs, "text", "doc_id",
      minRun = 10, n = 3, window = 4, minShared = 1)
    val r = Dedup.removeDupSpans(docs, spans, "text", "doc_id",
        qualityCol = Some("q"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    // pair (1,2): 2 wins on quality; (1,3): 3 wins; (2,3): tie -> 2 wins
    assert(r(1L) == "one intro tail1")
    assert(r(2L) == s"two start $passage tail2 words")
    assert(r(3L) == "three closing")
  }

  test("removeDupSpansAgainst: batch always cuts, corpus untouched") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val batch = Seq(
      (1L, s"bbb one two $passage ending"),
      (2L, "bbb nothing shared at all here today friends")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"ccc other start $passage trailing"),
      (7L, s"ccc more stuff $passage")
    ).toDF("doc_id", "text")
    val spans = Dedup.substringDupSpansAgainst(batch, corpus, "text",
      "doc_id", minRun = 10, n = 3, window = 4, minShared = 1)
    val r = Dedup.removeDupSpansAgainst(batch, spans, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "bbb one two ending")
    assert(r(2L) == "bbb nothing shared at all here today friends")
  }

  test("jsonFieldQuality: present rates per field, corrupt and null payloads counted") {
    val df = Seq(
      (1L, """{"k": 1, "tag": "a"}"""),
      (2L, """{"k": 2}"""),          // tag absent
      (3L, """not json at all"""),   // corrupt
      (4L, null.asInstanceOf[String]) // null source: neither corrupt nor present
    ).toDF("id", "props")
    val r = SemiStructured.jsonFieldQuality(df, "props", "k BIGINT, tag STRING")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r("k") == ((4L, 2L, 0.5)))
    assert(r("tag") == ((4L, 1L, 0.25)))
    assert(r("__corrupt") == ((4L, 1L, 0.25)))
  }

  test("winsorize: per-group clip at exact discrete percentiles") {
    val df = (Seq.tabulate(100)(i => ("a", (i + 1).toDouble)) ++
      Seq(("b", 1.0), ("b", 2.0), ("b", 1000.0))).toDF("g", "v")
    val r = Pipeline.winsorize(df, "g", "v", lo = 0.05, hi = 0.95)
    val a = r.where(col("g") === "a")
      .select(col("v"), col("v_winsorized")).collect()
      .map(x => x.getDouble(0) -> x.getDouble(1)).toMap
    // group a (1..100): p05 = 5th value = 5.0, p95 = 95th = 95.0
    assert(a(1.0) == 5.0 && a(4.0) == 5.0 && a(5.0) == 5.0)
    assert(a(50.0) == 50.0)
    assert(a(96.0) == 95.0 && a(100.0) == 95.0)
    // group b: its own thresholds (ceil(.05·3)=1st=1.0, ceil(.95·3)=3rd=1000)
    val b = r.where(col("g") === "b").select(col("v"), col("v_winsorized"))
      .collect().map(x => x.getDouble(0) -> x.getDouble(1)).toMap
    assert(b(1000.0) == 1000.0 && b(1.0) == 1.0)
  }

  test("approx quantile twins: GK rank-error bound holds, schema matches exact twin") {
    val n = 10000
    val df = Seq.tabulate(n)(i => ("a", (i + 1).toLong)).toDF("g", "v")
    // values are 1..n, so value v has rank v: rank error ≤ n/accuracy
    // translates directly to |q_approx − q_exact| ≤ n/accuracy
    val accuracy = 100
    val bound = n.toDouble / accuracy // GK guarantee: ≤ 100 ranks here
    val exact = Pipeline.groupQuantiles(df, "g", "v", Seq(0.25, 0.5, 0.99))
      .collect().map(r => r.getDouble(1) -> r.getLong(2)).toMap
    val approx = Pipeline.groupQuantilesApprox(df, "g", "v",
      Seq(0.25, 0.5, 0.99), accuracy)
      .collect().map(r => r.getDouble(1) -> r.getLong(2)).toMap
    for (p <- Seq(0.25, 0.5, 0.99))
      assert(math.abs(approx(p) - exact(p)) <= bound,
        s"p=$p approx=${approx(p)} exact=${exact(p)} bound=$bound")
    // drop-in interchangeable: same output schema as the exact twin
    assert(Pipeline.groupQuantilesApprox(df, "g", "v", Seq(0.5)).schema ==
      Pipeline.groupQuantiles(df, "g", "v", Seq(0.5)).schema)
    // winsorizeApprox: row count preserved, clips agree with the exact
    // twin within the same rank-error bound at both tails
    val we = Pipeline.winsorize(df, "g", "v", lo = 0.05, hi = 0.95)
      .orderBy("v").collect().map(_.getLong(2))
    val wa = Pipeline.winsorizeApprox(df, "g", "v", lo = 0.05, hi = 0.95,
      accuracy = accuracy).orderBy("v").collect().map(_.getLong(2))
    assert(wa.length == n)
    we.zip(wa).foreach { case (e, a) =>
      assert(math.abs(e - a) <= bound, s"exact=$e approx=$a bound=$bound")
    }
  }

  test("recallAtK: full, partial and zero recall; short exact lists not penalized") {
    def df(rows: (Long, Long, Long)*) =
      rows.toDF("query_id", "neighbor_id", "rank")
    val exact = df((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 20L, 1L), (2L, 21L, 2L),
      (3L, 30L, 1L)) // only one true neighbor
    val approx = df((1L, 10L, 1L), (1L, 12L, 2L), (1L, 99L, 3L),
      (2L, 98L, 1L), (2L, 97L, 2L),
      (3L, 30L, 1L), (3L, 31L, 2L))
    val r = Similarity.recallAtK(approx, exact, k = 3)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((3L, 2L, 2.0 / 3)))
    assert(r(2L) == ((2L, 0L, 0.0)))
    assert(r(3L) == ((1L, 1L, 1.0))) // denominator = actual exact size
    // rank > k rows are ignored on both sides
    val r2 = Similarity.recallAtK(approx, exact, k = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r2(1L) == 1.0 && r2(2L) == 0.0)
  }

  test("interArrivalQuantiles: hand-computed gaps per type") {
    def ts(ms: Long) = new Timestamp(ms)
    val events = Seq(
      (1L, ts(1000L), 1L, "a"), (2L, ts(2000L), 1L, "a"),
      (3L, ts(4000L), 2L, "a"), (4L, ts(8000L), 2L, "a"),
      (5L, ts(1000L), 3L, "b"), (6L, ts(1500L), 3L, "b")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val r = Sessionize.interArrivalQuantiles(events, Seq(0.5, 1.0))
      .collect().map(x => ((x.getString(0), x.getDouble(1)), x.getLong(2))).toMap
    // type a gaps: 1000, 2000, 4000 → p50 = 2000 (2nd of 3), max 4000
    assert(r(("a", 0.5)) == 2000L && r(("a", 1.0)) == 4000L)
    assert(r(("b", 0.5)) == 500L && r(("b", 1.0)) == 500L)
  }

  test("zipfFit: exact -1 slope on a synthetic 1/r corpus") {
    // token w_r appears round(1200/r) times → ln f = ln 1200 − ln r:
    // a perfect slope −1, intercept ln 1200 fit (all counts distinct
    // for r ≤ 30, so ranking is unambiguous)
    val toks = (1 to 30).flatMap(r => Seq.fill(math.round(1200.0 / r).toInt)(f"w$r%02d"))
    val docs = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val row = TextOps.zipfFit(docs, "text", topK = 30).head()
    assert(row.getLong(0) == 30L)
    assert(math.abs(row.getDouble(1) - (-1.0)) < 0.01, s"slope ${row.getDouble(1)}")
    assert(math.abs(row.getDouble(2) - math.log(1200.0)) < 0.05)
  }

  test("bpePairCounts: hand-counted pairs, single-char tokens excluded") {
    val docs = Seq((1L, "abab ab x"), (2L, "abba")).toDF("doc_id", "text")
    // abab → ab, ba, ab ; ab → ab ; abba → ab, bb, ba ; x excluded
    val r = TextOps.bpePairCounts(docs, "text", topK = 10)
      .collect().map(x => x.getString(0) -> x.getLong(1))
    assert(r.toMap == Map("ab" -> 4L, "ba" -> 2L, "bb" -> 1L))
    assert(r.head._1 == "ab") // the pair one BPE step would merge
  }

  test("exact dedup over normalize collapses case/whitespace variants") {
    val docs = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, " HELLO\tWORLD "),
      (4L, "different")).toDF("doc_id", "text")
    val r = Dedup.exact(
        docs.withColumn("__n", TextOps.normalize(col("text"))), "__n", "doc_id")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 3L, 4L -> 1L))
  }

  test("topTokenPmi: attracting pair positive, repelling pair negative, floor drops") {
    // 20 docs: 'aa bb' always together (10 docs); 'cc' and 'dd' never
    // together (5+5); every doc also carries filler 'ee'
    val docs = (
      (1 to 10).map(i => (i.toLong, "aa bb ee")) ++
      (11 to 15).map(i => (i.toLong, "cc ee xx")) ++
      (16 to 20).map(i => (i.toLong, "dd ee yy"))
    ).toDF("doc_id", "text")
    val r = TextOps.topTokenPmi(docs, "text", "doc_id", topK = 5,
        minPairCount = 2L)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    // top-5 by freq: ee(20), aa(10), bb(10), cc(5), dd(5)
    val (nab, pmi) = r(("aa", "bb"))
    assert(nab == 10L && math.abs(pmi - math.log(20.0 * 10 / (10 * 10))) < 1e-12)
    assert(!r.contains(("cc", "dd"))) // never co-occur
    val (_, pmiAaEe) = r(("aa", "ee"))
    assert(math.abs(pmiAaEe - 0.0) < 1e-12) // ee is independent filler
    // repulsion visible when the floor allows it: cc+ee co-occur 5 <
    // minPairCount=2 holds... cc-ee n_ab=5 ≥ 2, pmi = ln(20·5/(5·20)) = 0
    assert(r(("cc", "ee"))._1 == 5L)
  }

  test("lshPlan: enumerates factorizations, defaults sit on the right S-curve") {
    val plan = Dedup.lshPlan(k = 128, targetJaccard = 0.8)
    assert(plan.map(p => p.bands * p.rows).forall(_ == 128))
    val chosen = plan.find(p => p.bands == 32 && p.rows == 4).get
    // the shipped defaults: near-certain at τ, low-ish below it
    assert(chosen.pAtTarget > 0.999)
    assert(chosen.pBelow < chosen.pAtTarget)
    assert(math.abs(chosen.curveThreshold - math.pow(1.0 / 32, 0.25)) < 1e-12)
    // monotonicity: more rows per band → curve threshold moves right
    val byRows = plan.sortBy(_.rows)
    assert(byRows.map(_.curveThreshold) == byRows.map(_.curveThreshold).sorted)
  }

  test("funnelSummary: stage counts and conversion rates off the funnel output") {
    def ts(ms: Long) = new Timestamp(ms)
    val events = Seq(
      (1L, ts(1L), 1L, "view"), (2L, ts(2L), 1L, "click"), (3L, ts(3L), 1L, "buy"),
      (4L, ts(1L), 2L, "view"), (5L, ts(2L), 2L, "click"),
      (6L, ts(1L), 3L, "view"),
      (7L, ts(1L), 4L, "click") // no view: not in the funnel at all
    ).toDF("event_id", "ts", "user_id", "event_type")
    val f = Sessionize.funnel(events, Seq("view", "click", "buy"))
    val r = Sessionize.funnelSummary(f, Seq("view", "click", "buy"))
      .orderBy("stage_idx").collect()
      .map(x => (x.getString(1), x.getLong(2), x.getDouble(3), x.getDouble(4)))
    assert(r(0) == (("view", 3L, 1.0, 1.0)))
    assert(r(1) == (("click", 2L, 2.0 / 3, 2.0 / 3)))
    assert(r(2) == (("buy", 1L, 0.5, 1.0 / 3)))
  }

  test("snapshotDiff == naive string diff on random mutations") {
    val rnd = new scala.util.Random(11)
    val before = (1 to 200).map(i => (i.toLong, s"doc $i body ${rnd.nextInt(5)}"))
    val after = before.flatMap { case (id, text) =>
      rnd.nextInt(4) match {
        case 0 => None                         // removed
        case 1 => Some((id, text + " mutated")) // changed
        case _ => Some((id, text))             // unchanged
      }
    } ++ (201 to 230).map(i => (i.toLong, s"new doc $i"))
    val expected = {
      val b = before.toMap
      val a = after.toMap
      val removed = (b.keySet -- a.keySet).map(_ -> "removed")
      val added = (a.keySet -- b.keySet).map(_ -> "added")
      val changed = (b.keySet & a.keySet)
        .filter(k => b(k) != a(k)).map(_ -> "changed")
      (removed ++ added ++ changed).toMap
    }
    val got = Dedup.snapshotDiff(before.toDF("doc_id", "text"),
        after.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(got == expected)
  }

  test("winnowing guarantee holds on random corpora (shared run ⇒ shared fp)") {
    val rnd = new scala.util.Random(13)
    val (n, w) = (3, 4)
    val vocab = (1 to 30).map(i => s"w$i")
    for (trial <- 1 to 10) {
      val runLen = w + n - 1 + rnd.nextInt(5) // always >= guarantee bound
      val shared = Seq.fill(runLen)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      def filler(len: Int) =
        Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val docs = Seq(
        (1L, s"${filler(rnd.nextInt(20))} $shared ${filler(rnd.nextInt(20))}"),
        (2L, s"${filler(rnd.nextInt(20))} $shared ${filler(rnd.nextInt(20))}")
      ).toDF("doc_id", "text")
      val fps = TextOps.winnowFingerprints(docs, "text", "doc_id", n, w)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      assert((fps(1L) intersect fps(2L)).nonEmpty, s"trial $trial")
    }
  }

  test("snapshotDiff: added/removed/changed classified, unchanged silent") {
    val before = Seq((1L, "same"), (2L, "old"), (3L, "gone")).toDF("doc_id", "text")
    val after = Seq((1L, "same"), (2L, "new"), (4L, "fresh")).toDF("doc_id", "text")
    val r = Dedup.snapshotDiff(before, after, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("containmentPairs: embedded doc scores 1.0 where Jaccard dilutes to ~0") {
    val passage = (1 to 12).map(i => s"tok$i").mkString(" ")
    val host = ((1 to 12).map(i => s"tok$i") ++
      (1 to 200).map(i => s"host$i")).mkString(" ")
    val docs = Seq(
      (1L, passage), (2L, host),
      (3L, "completely unrelated words that share nothing at all here")
    ).toDF("doc_id", "text")
    val r = Dedup.containmentPairs(docs, "text", "doc_id",
        n = 3, window = 4, minShared = 1, threshold = 0.9)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(r.keySet == Set((1L, 2L)))
    assert(r((1L, 2L)) == 1.0) // every passage shingle is in the host
    // the symmetric view on the same pair is heavily diluted
    val j = Dedup.ngramJaccardPairs(
      docs.withColumn("blk", lit("x")), "text", "doc_id", "blk",
      n = 3, threshold = 0.0).where(col("id_a") === 1 && col("id_b") === 2)
      .head().getDouble(2)
    assert(j < 0.1)
  }

  test("langIdReport: clear text has high margin, mixed text low, junk zero") {
    val docs = Seq(
      (1L, "the cat and the dog of the house is to be seen"), // en, clear
      (2L, "the der cat und dog das is ist"),                 // en/de mixed
      (3L, "qqq zzz xxx")                                     // no markers
    ).toDF("doc_id", "text")
    val r = TextOps.langIdReport(docs, "text", "doc_id")
      .collect().map(x => x.getLong(0) ->
        (x.getString(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    assert(r(1L)._1 == "en" && r(1L)._4 > 0.5)
    assert(r(2L)._4 <= 0.5) // de 4 hits vs en 2 → margin exactly 0.5
    assert(r(3L) == (("und", 0L, 0L, 0.0)))
    // margin consistency: (best-second)/best exactly
    val (_, b, s2, m) = r(2L)
    assert(m == (b - s2).toDouble / b)
  }

  test("bm25TopK: tf, idf and length normalization order as expected") {
    val docs = Seq(
      (1L, "cat cat cat dog"),              // high tf for 'cat', short
      (2L, "cat mouse mouse mouse"),        // tf 1 for 'cat'
      (3L, "cat cat cat dog " * 8),         // same tf ratio as 1 but long
      (4L, "mouse mouse mouse mouse"),      // no query terms → absent
      (5L, "rare cat")                      // 'rare' appears only here
    ).toDF("doc_id", "text")
    val q = Seq((0L, "cat"), (1L, "rare")).toDF("query_id", "qtext")
    val r = Retrieval.bm25TopK(docs, q, "text", "doc_id", "query_id",
      "qtext", k = 10)
    val q0 = r.where(col("query_id") === 0).orderBy("rank")
      .collect().map(_.getLong(1))
    // hand-computed (avgdl = 74/5): doc3 2.012 (tf24 beats its 8×-length
    // penalty at saturation) > doc1 1.863 (tf3 short) > doc5 1.547
    // (tf1, shortest) > doc2 1.426 (tf1); doc4 never appears
    assert(q0.toSeq == Seq(3L, 1L, 5L, 2L))
    val q1 = r.where(col("query_id") === 1).collect()
    assert(q1.map(_.getLong(1)).toSeq == Seq(5L)) // only the rare-term doc
    // rare term idf > ubiquitous term idf: doc5's q1 score beats its q0 score
    val s5q0 = r.where(col("query_id") === 0 && col("doc_id") === 5)
      .head().getDouble(3)
    val s5q1 = q1.head.getDouble(3)
    assert(s5q1 > s5q0)
  }

  test("persisted BM25 postings index: probe ≡ in-memory, append ≡ " +
      "from-scratch, buckets prune (round 16)") {
    val docs = Seq(
      (1L, "cat cat cat dog"),
      (2L, "cat mouse mouse mouse"),
      (3L, "cat cat cat dog " * 8),
      (4L, "mouse mouse mouse mouse"),
      (5L, "rare cat"),
      (6L, ""),                             // empty doc: counts in N/avgdl
      (7L, "dog dog rare mouse cat fox"),
      // vocabulary spread so the bucket dirs outnumber the probed set
      (8L, (1 to 40).map(i => s"filler$i").mkString(" "))
    ).toDF("doc_id", "text")
    val q = Seq((0L, "cat dog"), (1L, "rare fox")).toDF("query_id", "qtext")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("doc_id"), col("rank"),
          round(col("score"), 9).as("score"))
        .orderBy("query_id", "rank").collect().toSeq
    val mem = canon(Retrieval.bm25TopK(docs, q, "text", "doc_id",
      "query_id", "qtext", k = 10))
    val path = java.nio.file.Files
      .createTempDirectory("bm25idx").toString
    try {
      // 1. probe ≡ in-memory bm25TopK, value-identical
      Retrieval.writeBm25Index(docs, "text", "doc_id", path,
        nBuckets = 8)
      val probe = Retrieval.bm25ProbeIndex(spark, path, q, "query_id",
        "qtext", k = 10)
      assert(canon(probe) == mem)
      // 2. partition pruning: the probed buckets push as
      // PartitionFilters, no row-level DataFilters on the scan
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [__bucket"),
        s"probe scan not partition-pruned:\n$plan")
      val bucketDirs = new java.io.File(s"$path/postings").listFiles
        .count(_.getName.startsWith("__bucket="))
      // repartition(__bucket) bounds files: one shard per bucket dir
      val shards = new java.io.File(s"$path/postings").listFiles
        .filter(_.getName.startsWith("__bucket="))
        .map(_.listFiles.count(_.getName.endsWith(".parquet")))
      assert(shards.forall(_ == 1), s"shards per bucket: ${shards.toSeq}")
      // the pruned scan in isolation: files read = probed buckets
      val nb = 8
      val probedBuckets = q
        .select(explode(array_distinct(TextOps.tokens(col("qtext"))))
          .as("token"))
        .select(pmod(hash(col("token")), lit(nb)).as("__b"))
        .distinct().collect().map(_.getInt(0)).sorted.toSeq
      assert(probedBuckets.length < bucketDirs) // genuinely selective
      val pruned = spark.read.parquet(s"$path/postings")
        .where(col("__bucket").isin(probedBuckets: _*))
      pruned.collect()
      val scan = pruned.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      assert(scan.metrics("numFiles").value == probedBuckets.length.toLong)
      assert(scan.toString.contains("DataFilters: []"))
    } finally
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(path))
    // 3. append ≡ from-scratch: build from even ids, append odd ids —
    // probes see old + new rows, df/avgdl deltas fold in exactly
    val path2 = java.nio.file.Files
      .createTempDirectory("bm25idx2").toString
    try {
      Retrieval.writeBm25Index(docs.where(col("doc_id") % 2 === 0),
        "text", "doc_id", path2, nBuckets = 8)
      Retrieval.appendBm25Index(docs.where(col("doc_id") % 2 === 1),
        "text", "doc_id", path2)
      val appended = canon(Retrieval.bm25ProbeIndex(spark, path2, q,
        "query_id", "qtext", k = 10))
      assert(appended == mem)
      // untouched-bucket files stay untouched: appending an empty
      // batch adds no posting files anywhere
      val before = new java.io.File(s"$path2/postings").listFiles
        .filter(_.getName.startsWith("__bucket="))
        .map(d => d.getName ->
          d.listFiles.count(_.getName.endsWith(".parquet"))).toMap
      Retrieval.appendBm25Index(
        docs.where(col("doc_id") < 0), "text", "doc_id", path2)
      val after = new java.io.File(s"$path2/postings").listFiles
        .filter(_.getName.startsWith("__bucket="))
        .map(d => d.getName ->
          d.listFiles.count(_.getName.endsWith(".parquet"))).toMap
      assert(after == before)
    } finally
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(path2))
  }

  test("bm25 runtime plan reuses the tf exchange (tokenize once)") {
    val q = Seq((0L, "quick fox")).toDF("query_id", "qtext")
    val r = Retrieval.bm25TopK(corpus, q, "text", "doc_id", "query_id",
      "qtext", k = 3)
    r.collect() // materialize so AQE finalizes the plan
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") ||
      plan.contains("ReusedQueryStage") || plan.contains("TableCacheQueryStage"),
      s"tf subplan not reused — tokenization would run per branch:\n$plan")
    // per-query top-k rides WindowGroupLimit: map tasks forward <= k
    // candidates per query, never the full scored posting list
    assert(plan.contains("WindowGroupLimit"),
      s"bm25 top-k lost its WindowGroupLimit:\n$plan")
  }

  test("scd2: consecutive same-state rows collapse; episodes tile the timeline") {
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val log = Seq(
      (1L, "A", ts(1), 10L), (1L, "A", ts(2), 11L), // re-observation: no split
      (1L, "B", ts(3), 12L), (1L, "A", ts(4), 13L), // A again = NEW episode
      (2L, "X", ts(5), 14L)
    ).toDF("user_id", "state", "ts", "event_id")
    val r = ChangeData.scd2(log, "user_id", Seq("state"), "ts", "event_id")
      .orderBy("user_id", "valid_from").collect()
    assert(r.length == 4)
    val u1 = r.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getString(1)).toSeq == Seq("A", "B", "A"))
    assert(u1.map(_.getTimestamp(2)).toSeq == Seq(ts(1), ts(3), ts(4)))
    assert(u1.map(x => Option(x.getTimestamp(3))).toSeq ==
      Seq(Some(ts(3)), Some(ts(4)), None))
    assert(u1.map(_.getBoolean(4)).toSeq == Seq(false, false, true))
    assert(r.last.getBoolean(4)) // user 2's single row is current
  }

  test("slidingDistinctUsers: trailing window counts, clamped at the last hour") {
    def ts(h: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:30:00")
    val ev = Seq(
      (1L, "x", ts(0)), (1L, "x", ts(0)), // same user+hour dedupes
      (2L, "x", ts(1)), (3L, "y", ts(1))
    ).toDF("user_id", "event_type", "ts")
    val r = Sessionize.slidingDistinctUsers(ev, windowHours = 2)
      .orderBy("event_type", "hour").collect()
      .map(x => (x.getString(0), x.getTimestamp(1).toString, x.getLong(2)))
    // hour 0: {u1}; hour 1: {u1 (carried), u2}; no ghost hour 2 (maxh=1)
    assert(r.toSeq == Seq(
      ("x", "2026-01-01 00:00:00.0", 1L),
      ("x", "2026-01-01 01:00:00.0", 2L),
      ("y", "2026-01-01 01:00:00.0", 1L)))
    // HLL twin: same schema, counts within the sketch's error envelope
    val exact = Sessionize.slidingDistinctUsers(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), 6)
    val approx = Sessionize.slidingDistinctUsersApprox(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), 6)
    assert(exact.schema.fieldNames.toSeq == approx.schema.fieldNames.toSeq)
    val joined = exact.withColumnRenamed("n_users", "n_exact")
      .join(approx.withColumnRenamed("n_users", "n_approx"),
        Seq("event_type", "hour"))
      .select(max(abs(col("n_exact") - col("n_approx")) /
        col("n_exact"))).head().getDouble(0)
    assert(joined < 0.1, s"HLL relative error too high: $joined")
  }

  test("rrfFuse: fused scores, ranks and n_runs on two hand-built runs") {
    val runA = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val runB = Seq((0L, 2L, 1L), (0L, 3L, 2L), (0L, 4L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val r = Retrieval.rrfFuse(Seq(runA, runB), k = 3).orderBy("rank")
      .collect()
    // doc2: 1/62+1/61 = .032522 > doc3: 1/63+1/62 = .032002 >
    // doc1: 1/61 = .016393; doc4 (1/63) misses the top 3
    assert(r.map(_.getLong(1)).toSeq == Seq(2L, 3L, 1L))
    assert(r.map(_.getLong(4)).toSeq == Seq(2L, 2L, 1L))
    assert(math.abs(r(0).getDouble(3) - (1.0 / 62 + 1.0 / 61)) < 1e-6)
    assert(math.abs(r(2).getDouble(3) - 1.0 / 61) < 1e-6)
  }

  test("retrievalMetrics: MRR and binary nDCG on a hand-built run") {
    val run = Seq((0L, 10L, 1L), (0L, 20L, 2L), (0L, 30L, 3L),
      (1L, 10L, 1L)).toDF("query_id", "doc_id", "rank")
    val qrels = Seq((0L, 20L), (0L, 40L), (0L, 50L))
      .toDF("query_id", "doc_id")
    val r = Retrieval.retrievalMetrics(run, qrels, k = 3)
      .orderBy("query_id").collect()
    // query 0: 3 relevant, one hit at rank 2 → mrr 1/2,
    // dcg = 1/log2(3), idcg = 1 + 1/log2(3) + 1/2
    assert(r(0).getLong(1) == 3L && r(0).getLong(2) == 1L)
    assert(math.abs(r(0).getDouble(3) - 0.5) < 1e-9)
    val dcg = 1.0 / (math.log(3) / math.log(2))
    assert(math.abs(r(0).getDouble(4) - dcg / (1.0 + dcg + 0.5)) < 1e-6)
    // query 1: no qrels at all → every metric 0, still reported
    assert(r(1).getLong(1) == 0L && r(1).getLong(2) == 0L)
    assert(r(1).getDouble(3) == 0.0 && r(1).getDouble(4) == 0.0)
  }

  test("mmrRerank: diversification demotes the near-duplicate; λ=1 is pure relevance") {
    // d2 is a near-clone of d1; d3 is farther from the query but
    // diverse. Relevance alone ranks d1, d2, d3 — MMR at λ=0.5 must
    // pick the diverse d3 second.
    val vecs = Seq(
      (1L, Seq(1.0f, 0.10f, 0.0f)),
      (2L, Seq(1.0f, 0.11f, 0.0f)),
      (3L, Seq(0.8f, 0.0f, 0.6f)),
      (9L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val qs = vecs.where(col("vec_id") === 9)
    val corp = vecs.where(col("vec_id") =!= 9)
    val mmr = Similarity.mmrRerankTopK(corp, qs, "embedding", "vec_id",
      k = 3, nCandidates = 3, lambda = 0.5).orderBy("step").collect()
    assert(mmr.map(_.getLong(1)).toSeq == Seq(1L, 3L, 2L))
    // λ=1: redundancy penalty vanishes → exactly the relevance order
    val pure = Similarity.mmrRerankTopK(corp, qs, "embedding", "vec_id",
      k = 3, nCandidates = 3, lambda = 1.0).orderBy("step").collect()
    val brute = Similarity.bruteForceTopK(corp, qs, "embedding", "vec_id",
      k = 3).orderBy("rank").collect()
    assert(pure.map(_.getLong(1)).toSeq == brute.map(_.getLong(1)).toSeq)
  }

  test("matryoshkaRerankTopK: full shortlist reproduces bruteForceTopK bit-for-bit") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = embs.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val mk = Similarity.matryoshkaRerankTopK(embs, queries, "embedding",
        "vec_id", k = 5, dPrefix = 16, shortlist = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(mk == exact)
    // narrow shortlist: recall via the s14 harness stays reasonable
    val approx = Similarity.matryoshkaRerankTopK(embs, queries, "embedding",
      "vec_id", k = 5, dPrefix = 16, shortlist = 16)
    val rec = Similarity.recallAtK(approx,
        Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 5), 5)
      .agg(avg(col("recall"))).head().getDouble(0)
    // synthetic embeddings are NOT matryoshka-trained, so the prefix is
    // an arbitrary 1/4 of the dims — expect far-above-chance (5/500),
    // not MRL-grade recall
    assert(rec > 0.15, s"mean recall@5 $rec")
  }

  test("rpRerankTopK: full shortlist reproduces bruteForceTopK bit-for-bit") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = embs.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val rr = Similarity.rpRerankTopK(embs, queries, "embedding", "vec_id",
        k = 5, dDims = 8, shortlist = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(rr == exact)
    // narrow shortlist: decent stage-1 recall — every query still returns
    // k rows with contiguous ranks
    val narrow = Similarity.rpRerankTopK(embs, queries, "embedding",
      "vec_id", k = 5, dDims = 8, shortlist = 12).collect()
    narrow.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length)) }
  }

  test("topPaths: ordered prefixes, short journeys kept, deterministic head") {
    def ts(ms: Long) = new Timestamp(ms)
    val events = Seq(
      (1L, ts(1L), 1L, "view"), (2L, ts(2L), 1L, "cart"), (3L, ts(3L), 1L, "buy"),
      (4L, ts(1L), 2L, "view"), (5L, ts(2L), 2L, "cart"), (6L, ts(3L), 2L, "buy"),
      (7L, ts(3L), 2L, "late"), // beyond pathLen: ignored
      (8L, ts(1L), 3L, "view")  // short journey
    ).toDF("event_id", "ts", "user_id", "event_type")
    val r = Sessionize.topPaths(events, pathLen = 3, topK = 10)
      .collect().map(x => x.getString(0) -> x.getLong(1))
    assert(r.toMap == Map("view>cart>buy" -> 2L, "view" -> 1L))
    assert(r.head._1 == "view>cart>buy")
  }

  test("eventTransitions: per-user ordering, conditional probabilities sum to 1") {
    def ts(ms: Long) = new Timestamp(ms)
    val events = Seq(
      (1L, ts(0L), 1L, "view"), (2L, ts(1L), 1L, "cart"),
      (3L, ts(2L), 1L, "buy"),
      (4L, ts(0L), 2L, "view"), (5L, ts(1L), 2L, "view"),
      (6L, ts(2L), 2L, "buy"),
      (7L, ts(0L), 3L, "view") // single event: no transition
    ).toDF("event_id", "ts", "user_id", "event_type")
    val r = Sessionize.eventTransitions(events)
      .collect().map(x => ((x.getString(0), x.getString(1)),
        (x.getLong(2), x.getDouble(3)))).toMap
    // from view: u1 view→cart, u2 view→view and view→buy → 1/3 each
    assert(r(("view", "cart")) == ((1L, 1.0 / 3)))
    assert(r(("view", "view")) == ((1L, 1.0 / 3)))
    assert(r(("view", "buy")) == ((1L, 1.0 / 3)))
    assert(r(("cart", "buy")) == ((1L, 1.0)))
    assert(r.size == 4) // user 3's lone event contributes nothing
    // P sums to 1 within each from_type
    r.keys.map(_._1).foreach { f =>
      val s = r.collect { case ((`f`, _), (_, p)) => p }.sum
      assert(math.abs(s - 1.0) < 1e-12)
    }
  }

  test("applyMixtureWithRepetition: deficit group upsamples to ~target tokens") {
    // group 'small' has 10 docs × 10 tokens = 100 tokens; target 0.5 ×
    // 1000 = 500 → r = 5.0 exactly: every doc emits 5 copies, no
    // fractional epoch. group 'big': 100 docs × 10 tok; target 500 →
    // r = 0.5: the plain hash-cut downsample shape.
    val docs = (Seq.tabulate(100)(i => (i.toLong, "t " * 10, "big")) ++
      Seq.tabulate(10)(i => ((100 + i).toLong, "t " * 10, "small")))
      .toDF("doc_id", "text", "lang")
    val plan = Pipeline.mixturePlan(docs, "text", "lang",
      Map("big" -> 0.5, "small" -> 0.5), budgetTokens = 1000L)
    val out = Pipeline.applyMixtureWithRepetition(docs, "doc_id", "lang", plan)
    val small = out.where(col("lang") === "small")
    assert(small.count() == 50L) // 10 docs × exactly 5 copies
    assert(small.groupBy("doc_id").count().collect().forall(_.getLong(1) == 5L))
    // integer r → copy indices are exactly 1..5 per doc
    assert(small.where(col("doc_id") === 100L).select("copy")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // fractional-only r: subset of docs, one copy each, deterministic
    val big = out.where(col("lang") === "big")
    assert(big.groupBy("doc_id").count().collect().forall(_.getLong(1) == 1L))
    val n1 = big.count()
    assert(n1 > 20 && n1 < 80) // ~50 expected under the hash cut
    val rerun = Pipeline.applyMixtureWithRepetition(docs, "doc_id", "lang", plan)
      .where(col("lang") === "big").count()
    assert(rerun == n1)
  }

  test("perplexityBuckets: tertile thresholds, per-language, short docs absent") {
    // the reference is a SEPARATE clean corpus (scoring a corpus
    // against itself makes unique gibberish score perfectly — every
    // bigram is its own ML evidence)
    val ref = Seq(
      (101L, "the cat sat on the mat", "en"),
      (102L, "the cat sat on the mat", "en"),
      (103L, "the dog ran to the park", "en")).toDF("doc_id", "text", "lang")
    val docs = Seq(
      (1L, "the cat sat on the mat", "en"),   // seen bigrams → best en
      (2L, "the dog ran to the park", "en"),
      (3L, "the cat dog mat park sat", "en"), // shuffled: unseen bigrams
      (4L, "zzq qqz zqz qzz zzz", "en"),      // OOV gibberish → worst
      (5L, "one", "en"),                      // < 2 tokens → absent
      (6L, "the cat sat on the mat", "de"),   // de label, en words → de head
      (7L, "der hund the cat hier", "de"),    // partial overlap → middle
      (8L, "xxy yyx xyx qqq", "de")           // gibberish → de tail
    ).toDF("doc_id", "text", "lang")
    val r = TextOps.perplexityBuckets(docs, ref, "text", "doc_id", "lang")
      .collect().map(x => x.getLong(0) -> x.getString(4)).toMap
    assert(!r.contains(5L))
    assert(r(4L) == "tail")   // en gibberish is en's tail
    assert(r(1L) == "head")   // clean reference-like text is en's head
    assert(r(6L) == "head")   // de thresholds are de's own: 6 tops them
    assert(r(7L) == "middle")
    assert(r(8L) == "tail")
    assert(r.values.toSet.subsetOf(Set("head", "middle", "tail")))
  }

  test("csv sink/source round-trip with embedded delimiters, quotes, newlines") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val in = Seq(
      (1L, "plain text", "en"),
      (2L, "comma, inside", "de"),
      (3L, "a \"quoted\" word", "fr"),
      (4L, "line one\nline two", "es"),
      (5L, "", "en")
    ).toDF("doc_id", "text", "lang")
    SemiStructured.writeCsv(in, dir, shards = 2)
    val back = SemiStructured.readCsv(spark, dir,
      "doc_id BIGINT, text STRING, lang STRING")
    val a = in.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""), r.getString(2)))
    val b = back.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""), r.getString(2)))
    assert(a.toSeq == b.toSeq)
    val files = new java.io.File(dir).listFiles.count(_.getName.endsWith(".csv"))
    assert(files == 2)
  }

  test("IVF-PQ: probe prunes partitions; all-lists probe equals pure-PQ probe") {
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = embs.where(col("vec_id") < 5)
    val cent = Similarity.seedCentroids(embs, "embedding", "vec_id", 10)
    val cb = Similarity.pqCodebooks(embs, "embedding", "vec_id", m = 8, ksub = 16)
    val out = java.nio.file.Files.createTempDirectory("ivfpq").toString
    try {
      Similarity.writeIvfPqIndex(embs, "embedding", "vec_id", cent, cb, out)
      val idx = spark.read.parquet(out)
      // selective probe: partition-pruned scan
      val probed = Similarity.ivfPqProbeIndex(idx, queries, "embedding",
        "vec_id", k = 5, cent, cb, nProbe = 3, shortlist = 20)
      probed.collect()
      assert(probed.queryExecution.executedPlan.toString
        .contains("PartitionFilters: [__list"))
      // probing EVERY list with a huge shortlist = the pure-PQ two-stage
      // probe over the same codes (bit-equal ranks and scores)
      val all = Similarity.ivfPqProbeIndex(idx, queries, "embedding",
          "vec_id", k = 5, cent, cb, nProbe = 10, shortlist = 500)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
      val pqOut = java.nio.file.Files.createTempDirectory("pqflat").toString
      try {
        Similarity.writePqIndex(embs, "embedding", "vec_id", cb, pqOut, 4)
        val pq = Similarity.pqProbeIndex(spark.read.parquet(pqOut), queries,
            "embedding", "vec_id", k = 5, cb, shortlist = 500)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
        assert(all == pq && all.nonEmpty)
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(pqOut)).deleteRecursively()
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  test("appendIvfIndex: incremental batch lands in its lists, probes see old+new") {
    assume(new java.io.File("/root/testdata/sf0.001/embeddings.parquet").exists())
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = embs.where(col("vec_id") < 400)
    val batch = embs.where(col("vec_id") >= 400)
    val cent = Similarity.collectCentroids(
      Similarity.groupCentroids(base, "embedding", "label"))
    val out = java.nio.file.Files.createTempDirectory("ivfappend").toString
    try {
      Similarity.writeIvfIndex(base, "embedding", "vec_id", cent, out)
      def filesPerList: Map[String, Int] = new java.io.File(out).listFiles
        .filter(_.getName.startsWith("__list="))
        .map(d => d.getName -> d.listFiles.count(_.getName.endsWith(".parquet")))
        .toMap
      val before = filesPerList
      Similarity.appendIvfIndex(batch, "embedding", "vec_id", cent, out)
      val after = filesPerList
      // append only ADDS files; untouched lists keep their exact count
      before.foreach { case (l, n) => assert(after(l) >= n) }
      assert(after.values.sum > before.values.sum)
      val back = spark.read.parquet(out)
      assert(back.count() == 500)
      // probing the appended index == probing a from-scratch index of
      // the full corpus (same centroids → same geometry)
      val queries = embs.where(col("vec_id") < 8)
      val full = java.nio.file.Files.createTempDirectory("ivffull").toString
      try {
        Similarity.writeIvfIndex(embs, "embedding", "vec_id", cent, full)
        def key(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
        val a = key(Similarity.ivfProbeIndex(back, queries, "embedding",
          "vec_id", k = 10, cent, nProbe = 3))
        val b = key(Similarity.ivfProbeIndex(spark.read.parquet(full), queries,
          "embedding", "vec_id", k = 10, cent, nProbe = 3))
        assert(a == b && a.nonEmpty)
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(full)).deleteRecursively()
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  test("streamingRollingUserStats matches batch on in-order streams") {
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    // offset off epoch 0: the initial watermark is 0 and the late-row
    // filter is strictly-greater, so a ts=0 event would silently drop
    def ts(ms: Long) = new Timestamp(3600000L + ms)
    val events = Seq(
      Sessionize.Event(1L, ts(0L), 7L, "e", 1.0),
      Sessionize.Event(2L, ts(60000L), 7L, "e", 2.0),
      Sessionize.Event(3L, ts(61000L), 7L, "e", 4.0),
      Sessionize.Event(4L, ts(61000L), 7L, "e", 8.0),
      Sessionize.Event(5L, ts(0L), 9L, "e", 16.0),
      Sessionize.Event(6L, ts(200000L), 9L, "e", 32.0))
    val stream = MemoryStream[Sessionize.Event]
    val q = Sessionize.streamingRollingUserStats(
        stream.toDS().withWatermark("ts", "10 minutes"), windowMinutes = 1)
      .writeStream.format("memory").queryName("rolling_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // same-ms peers (3, 4) must share a batch: batch semantics give
      // peers a common frame, and emitted rows are never retracted
      stream.addData(events.take(4))
      q.processAllAvailable()
      stream.addData(events.drop(4))
      q.processAllAvailable()
      val got = spark.table("rolling_out")
        .select("event_id", "n_window", "sum_window")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e6) / 1e6)).toSet
      val exp = Sessionize.rollingUserStats(events.toDF(), windowMinutes = 1)
        .collect().map(r => (r.getLong(0), r.getLong(3),
          math.round(r.getDouble(4) * 1e6) / 1e6)).toSet
      assert(got == exp)
    } finally q.stop()
  }

  test("centroidDrift: identical snapshots cos 1, disjoint group null") {
    val a = Seq(
      (1L, Array(1f, 0f), "x"), (2L, Array(0f, 1f), "x"),
      (3L, Array(1f, 1f), "only_a")).toDF("vec_id", "embedding", "label")
    val b = Seq(
      (4L, Array(1f, 0f), "x"), (5L, Array(0f, 1f), "x"),
      (6L, Array(0f, 2f), "only_b")).toDF("vec_id", "embedding", "label")
    val r = Similarity.centroidDrift(a, b, "embedding", "label")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), Option(x.get(3)).map(_.asInstanceOf[Double])))
      .toMap
    assert(r("x")._3.exists(c => math.abs(c - 1.0) < 1e-12))
    assert(r("x")._1 == 2L && r("x")._2 == 2L)
    assert(r("only_a") == ((1L, 0L, None)))
    assert(r("only_b") == ((0L, 1L, None)))
    // drifted group: centroid rotates, cosine drops below 1
    val b2 = Seq((4L, Array(1f, 0f), "x"), (5L, Array(1f, 0.2f), "x"))
      .toDF("vec_id", "embedding", "label")
    val d = Similarity.centroidDrift(a.where(col("label") === "x"), b2,
      "embedding", "label").head().getDouble(3)
    assert(d < 1.0 && d > 0.5)
  }

  test("semanticContaminationReport: planted paraphrase flagged, filter twin drops it") {
    val mk = (id: Long, v: Array[Float]) => (id, v)
    val bench = Seq(
      mk(1L, Array(1f, 0f, 0f, 0f)),
      mk(2L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      mk(10L, Array(0.99f, 0.1f, 0f, 0f)),  // near-dup of bench 1 → flagged
      mk(11L, Array(0f, 0f, 1f, 0f)),       // orthogonal → clean
      mk(12L, Array(0.6f, 0.6f, 0.52f, 0f)) // moderate → below 0.9
    ).toDF("vec_id", "embedding")
    val rep = Similarity.semanticContaminationReport(corpus, bench,
      "embedding", "vec_id", threshold = 0.9)
    val flagged = rep.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(flagged.keySet == Set(10L))
    assert(flagged(10L) > 0.99)
    val kept = Similarity.semanticDecontaminate(corpus, bench,
      "embedding", "vec_id", threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L))
  }

  test("semanticContaminationReport: excludeSelfIds=false keeps colliding-id pairs") {
    // cross-corpus benchmark with an INDEPENDENT id space: corpus row 1
    // is a near-dup of benchmark row 1 (coincidentally same id). The
    // default self-pair exclusion would hide it; the flag keeps it.
    val bench = Seq((1L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(0.99f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val hidden = Similarity.semanticContaminationReport(corpus, bench,
      "embedding", "vec_id", threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(hidden.isEmpty) // id-disjoint convention assumed → pair skipped
    val full = Similarity.semanticContaminationReport(corpus, bench,
      "embedding", "vec_id", threshold = 0.9, excludeSelfIds = false)
      .collect().map(_.getLong(0)).toSet
    assert(full == Set(1L))
    val kept2 = Similarity.semanticDecontaminate(corpus, bench,
      "embedding", "vec_id", threshold = 0.9, excludeSelfIds = false)
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(2L))
  }

  test("secretTokens: uniform strings flag, natural words and short tokens don't") {
    val docs = Seq(
      (1L, "the customer placed an order sk_4f8a2b9c1d6e3f7a with currency"),
      (2L, "aaaaaaaaaaaaaaaa normal words only here"), // long but 0 entropy
      (3L, "short k3y"),                               // under minLen
      (4L, "abcdefghijkl abcdefghijkl")                // distinct pair dedups
    ).toDF("doc_id", "text")
    val r = TextOps.secretTokens(docs, "text", "doc_id",
      minLen = 12, minEntropy = 2.0)
      .collect().map(x => (x.getLong(0), x.getString(1)))
    assert(r.contains((1L, "sk_4f8a2b9c1d6e3f7a")))
    assert(!r.exists(_._1 == 2L)) // entropy of a^16 is 0
    assert(!r.exists(_._1 == 3L))
    // 12 distinct chars in 12 → H = ln(12) ≈ 2.485 ≥ 2.0, and the
    // repeated occurrence dedups to ONE row
    assert(r.count(_ == ((4L, "abcdefghijkl"))) == 1)
    // entropy value matches the closed form for all-distinct chars
    val e = TextOps.secretTokens(docs, "text", "doc_id", 12, 2.0)
      .where(col("doc_id") === 4L).head().getDouble(3)
    assert(math.abs(e - math.log(12.0)) < 1e-6)
  }

  test("groupQuantiles: smallest-value-with-CDF>=p, input type preserved") {
    val df = (Seq.tabulate(10)(i => ("a", (i + 1).toLong)) ++
      Seq(("b", 5L), ("b", 7L), ("b", 9L))).toDF("g", "v")
    val r = Pipeline.groupQuantiles(df, "g", "v", Seq(0.5, 0.9))
      .collect().map(x => ((x.getString(0), x.getDouble(1)), x.getLong(2))).toMap
    assert(r(("a", 0.5)) == 5L)  // ceil(0.5·10) = 5th of 1..10
    assert(r(("a", 0.9)) == 9L)  // ceil(0.9·10) = 9th
    assert(r(("b", 0.5)) == 7L)  // ceil(1.5) = 2nd of {5,7,9}
    assert(r(("b", 0.9)) == 9L)  // ceil(2.7) = 3rd
    // long input stays long (no silent double widening)
    val schema = Pipeline.groupQuantiles(df, "g", "v", Seq(0.5)).schema
    assert(schema("q").dataType == org.apache.spark.sql.types.LongType)
  }

  test("temperatureMixturePlan: alpha=1 natural, alpha<1 upsamples the tail") {
    val docs = Seq.tabulate(90)(i => (i.toLong, "tok " * 10, "big")) ++
      Seq.tabulate(10)(i => ((90 + i).toLong, "tok " * 10, "small"))
    val df = docs.toDF("doc_id", "text", "lang")
    def share(plan: DataFrame, g: String): Double =
      plan.where(col("lang") === g).head().getAs[Double]("share")
    val natural = Pipeline.temperatureMixturePlan(df, "text", "lang",
      alpha = 1.0, budgetTokens = 100L)
    assert(math.abs(share(natural, "big") - 0.9) < 1e-12)
    assert(math.abs(share(natural, "small") - 0.1) < 1e-12)
    val temp = Pipeline.temperatureMixturePlan(df, "text", "lang",
      alpha = 0.5, budgetTokens = 100L)
    assert(share(temp, "small") > 0.1 && share(temp, "big") < 0.9)
    // shares always normalize to 1
    val tot = temp.agg(sum("share")).head().getDouble(0)
    assert(math.abs(tot - 1.0) < 1e-12)
    // applyMixture consumes the plan unchanged (schema-compatible)
    val applied = Pipeline.applyMixture(df, "doc_id", "lang", temp)
    assert(applied.count() > 0)
  }

  // ------------------------------------------------------------- graph ops

  test("pageRank: star graph concentrates rank at the hub; sums bounded") {
    // 1→4, 2→4, 3→4 (node 4 dangling): closed form after k iters
    val e = Seq((1L, 4L), (2L, 4L), (3L, 4L)).toDF("s", "d")
    val pr = GraphOps.pageRank(e, "s", "d", iterations = 2, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // leaves: (1-d)/N each iteration (no in-edges)
    val leaf = 0.15 / 4
    assert(math.abs(pr(1L) - leaf) < 1e-12)
    assert(math.abs(pr(2L) - leaf) < 1e-12)
    assert(math.abs(pr(3L) - leaf) < 1e-12)
    // hub at iter 2: (1-d)/N + d * 3 * leaf  (leaves' iter-1 rank)
    assert(math.abs(pr(4L) - (leaf + 0.85 * 3 * leaf)) < 1e-12)
    // dangling mass not redistributed → total < 1 and > 0
    val tot = pr.values.sum
    assert(tot > 0 && tot < 1.0)
  }

  test("pageRank: a 2-cycle is a fixpoint at uniform rank") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
    val pr = GraphOps.pageRank(e, "s", "d", iterations = 7)
      .collect().map(_.getDouble(1))
    assert(pr.forall(r => math.abs(r - 0.5) < 1e-12))
  }

  test("degrees: out/in with zero-fill on the missing direction") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "d")
    val d = GraphOps.degrees(e, "s", "d")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(d(1L) == ((2L, 0L)))
    assert(d(2L) == ((1L, 1L)))
    assert(d(3L) == ((0L, 2L)))
  }

  test("triangleCount: K4 has 4 triangles; direction/dups/self-loops ignored") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val noisy = (k4 ++ k4.map(_.swap) ++ Seq((1L, 1L), (2L, 2L))).toDF("a", "b")
    assert(GraphOps.triangleCount(noisy, "a", "b").head().getLong(0) == 4L)
    // maxDegree cap: in K4 every node has degree 3 — cap 2 removes all
    assert(GraphOps.triangleCount(noisy, "a", "b", maxDegree = Some(2))
      .head().getLong(0) == 0L)
    // a path graph has none
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(GraphOps.triangleCount(path, "a", "b").head().getLong(0) == 0L)
  }

  test("anomalyZScores: leakage-free baseline, exact z, null verdicts") {
    // user 1: five prior events valued 1..5 inside the window, then a
    // spike; baseline μ=3, σ²=2 → z = (13−3)/√2
    val base = (1 to 5).map(i =>
      (i.toLong, 1L, Timestamp.valueOf(f"2024-01-01 10:0$i:00"), i.toDouble))
    val spike = Seq((6L, 1L, Timestamp.valueOf("2024-01-01 10:30:00"), 13.0))
    val df = (base ++ spike).toDF("event_id", "user_id", "ts", "value")
    val r = Sessionize.anomalyZScores(df, windowMinutes = 60, minPrior = 5)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(4), Option(x.get(5)).map(_.asInstanceOf[Double]),
          Option(x.get(6)).map(_.asInstanceOf[Boolean])))).toMap
    // first five events: fewer than 5 priors → null z and verdict
    (1L to 5L).foreach { i =>
      assert(r(i)._2.isEmpty && r(i)._3.isEmpty && r(i)._1 == i - 1)
    }
    val (n, z, flag) = r(6L)
    assert(n == 5L)
    assert(math.abs(z.get - 10.0 / math.sqrt(2.0)) < 1e-9)
    assert(flag.contains(true))
    // constant prior values → σ = 0 → no verdict even past minPrior
    val const = ((1 to 5).map(i =>
      (i.toLong, 2L, Timestamp.valueOf(f"2024-01-01 10:0$i:00"), 7.0)) :+
      ((6L, 2L, Timestamp.valueOf("2024-01-01 10:30:00"), 9.0)))
      .toDF("event_id", "user_id", "ts", "value")
    val rc = Sessionize.anomalyZScores(const, 60, minPrior = 5)
      .where(col("event_id") === 6).head()
    assert(rc.isNullAt(5) && rc.isNullAt(6))
  }

  test("weightedSample: proportional inclusion, deterministic, no dups") {
    import scala.util.Random
    // two weight classes: heavy rows 10x the light rows' weight
    val df = (1 to 1000).map(i =>
      (i.toLong, if (i <= 200) 10.0 else 1.0)).toDF("id", "w")
    val got = Pipeline.weightedSample(df, "id", "w", n = 300)
      .collect().map(_.getLong(0))
    assert(got.length == 300 && got.distinct.length == 300)
    // determinism across invocations and partitionings
    val again = Pipeline.weightedSample(df.repartition(7), "id", "w", n = 300)
      .collect().map(_.getLong(0))
    assert(got.sorted.toSeq == again.sorted.toSeq)
    // heavy rows (20% of pop, ~71% of mass) must be strongly
    // over-represented vs uniform sampling
    val heavy = got.count(_ <= 200)
    assert(heavy > 120, s"heavy rows in sample: $heavy")
    // zero/negative weights never selected
    val withBad = df.union(Seq((2000L, 0.0), (2001L, -1.0)).toDF("id", "w"))
    val g2 = Pipeline.weightedSample(withBad, "id", "w", n = 1200)
      .collect().map(_.getLong(0))
    assert(!g2.contains(2000L) && !g2.contains(2001L))
  }

  test("dupRateByGroupApprox tracks the exact twin within HLL error") {
    import scala.util.Random
    val rng = new Random(42)
    // 2000 docs, ~30% dups, two groups
    val rows = (1 to 2000).map { i =>
      val base = if (rng.nextDouble() < 0.3) rng.nextInt(50)
                 else 1000 + i
      (s"doc body number $base with some shared filler", if (i % 2 == 0) "a" else "b")
    }
    val df = rows.toDF("text", "grp")
    val exact = Dedup.dupRateByGroup(df, "text", "grp")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val approx = Dedup.dupRateByGroupApprox(df, "text", "grp", rsd = 0.02)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    exact.keySet.foreach { g =>
      // dup_rate error ≤ distinct-count rsd scaled by distinct share;
      // 3×rsd is a comfortable bound at this size
      assert(math.abs(exact(g) - approx(g)) < 0.06,
        s"group $g exact=${exact(g)} approx=${approx(g)}")
    }
  }

  test("intervalOverlapJoin: exact pairs, no duplicates across buckets") {
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    // left: [0, 90) spans many 10-min buckets; right: [80, 100) overlaps
    // in several cells — must appear ONCE. [90, 95) touches the open
    // end → no overlap. different key → never.
    val left = Seq((1L, 10L, ts(0), ts(90))).toDF("l_id", "k", "ls", "le")
    val right = Seq(
      (100L, 10L, ts(80), ts(100)),
      (101L, 10L, ts(90), ts(95)),
      (102L, 20L, ts(0), ts(90))
    ).toDF("r_id", "k", "rs", "re")
    val r = AsOf.intervalOverlapJoin(left, right, Seq("k"),
        "ls", "le", "rs", "re", bucketWidthSec = 600)
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq == Seq((1L, 100L)))
    // contained interval (one bucket) still matches once
    val right2 = Seq((103L, 10L, ts(30), ts(35))).toDF("r_id", "k", "rs", "re")
    val r2 = AsOf.intervalOverlapJoin(left, right2, Seq("k"),
        "ls", "le", "rs", "re", bucketWidthSec = 600)
      .select("l_id", "r_id").collect()
    assert(r2.length == 1)
  }

  test("decodeBatchPlan: start-offset binning per group") {
    val rows = Seq(
      (1L, "a", Array.fill[Byte](600)(1)),
      (2L, "a", Array.fill[Byte](500)(1)),  // starts at 600 → bin 0
      (3L, "a", Array.fill[Byte](200)(1)),  // starts at 1100 → bin 1
      (4L, "b", Array.fill[Byte](100)(1))   // fresh group → bin 0
    ).toDF("id", "grp", "pay")
    val plan = Multimodal.decodeBatchPlan(rows, "pay", "id", "grp",
        maxBatchBytes = 1000)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(plan(1L) == ((600L, 0L)))
    assert(plan(2L) == ((500L, 0L))) // overruns to 1100, allowed (starts in 0)
    assert(plan(3L) == ((200L, 1L)))
    assert(plan(4L) == ((100L, 0L)))
  }

  test("streaming anomaly z-scores match batch on the same data") {
    implicit val sqlCtx = spark.sqlContext
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    val evs = ((1 to 5).map(i =>
      Sessionize.Event(i.toLong, t(i), 1L, "view", i.toDouble)) :+
      Sessionize.Event(6L, t(30), 1L, "view", 13.0)) :+
      Sessionize.Event(7L, t(31), 2L, "view", 1.0)
    val mem = MemoryStream[Sessionize.Event]
    val out = Sessionize.streamingAnomalyZScores(
      mem.toDS().withWatermark("ts", "2 hours"), windowMinutes = 60,
      minPrior = 5)
    val q = out.writeStream.format("memory").queryName("anomalies")
      .outputMode("append").start()
    try {
      mem.addData(evs.take(4): _*)   // split across micro-batches
      q.processAllAvailable()
      mem.addData(evs.drop(4): _*)
      q.processAllAvailable()
      val got = spark.table("anomalies").orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getLong(4),
          Option(r.get(5)).map(_.asInstanceOf[Double]),
          Option(r.get(6)).map(_.asInstanceOf[Boolean])))
      val batch = Sessionize.anomalyZScores(
          spark.createDataset(evs).toDF(), windowMinutes = 60, minPrior = 5)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getLong(4),
          Option(r.get(5)).map(_.asInstanceOf[Double]),
          Option(r.get(6)).map(_.asInstanceOf[Boolean])))
      assert(got.length == batch.length)
      got.zip(batch).foreach { case ((ge, gn, gz, gf), (be, bn, bz, bf)) =>
        assert(ge == be && gn == bn && gf == bf)
        (gz, bz) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9)
          case (a, b) => assert(a == b)
        }
      }
      // the spike scored against its five priors
      val spike = got.find(_._1 == 6L).get
      assert(spike._2 == 5L && spike._4.contains(true))
    } finally q.stop()
  }

  test("personalizedPageRank: teleport mass stays on the source set") {
    // star 1→4, 2→4, 3→4, sources = {1}: closed form after 2 iters
    val e = Seq((1L, 4L), (2L, 4L), (3L, 4L)).toDF("s", "d")
    val pr = GraphOps.personalizedPageRank(e, "s", "d", Seq(1L).toDF("n"),
        iterations = 2, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(1L) - 0.15) < 1e-12)      // (1-d)·1/|S|
    assert(pr(2L) == 0.0 && pr(3L) == 0.0)       // unreachable from S
    assert(math.abs(pr(4L) - 0.85 * 0.15) < 1e-12) // d · rank_1(1)/deg(1)
    // empty source intersection is an error, not silent NaNs
    intercept[IllegalArgumentException](
      GraphOps.personalizedPageRank(e, "s", "d", Seq(99L).toDF("n"),
        iterations = 1).collect())
  }

  test("labelPropagation: two cliques joined by a bridge keep distinct labels") {
    // cliques {1,2,3} and {10,11,12}, bridge 3–10; labels are min-ish
    // ids per community under the (freq desc, label asc) rule
    val c1 = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val c2 = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val e = (c1 ++ c2 ++ Seq((3L, 10L))).toDF("a", "b")
    val lp = GraphOps.labelPropagation(e, "a", "b", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    // each clique converges to one label; the two cliques differ
    assert(Set(lp(1L), lp(2L)).size == 1)
    assert(Set(lp(10L), lp(11L), lp(12L)).size == 1)
    assert(lp(1L) != lp(11L))
  }

  test("labelPropagation round 1 is exact: min neighbor label (all counts 1)") {
    // path 1–2–3: after one round every neighbor multiset has distinct
    // labels, so the argmax tie-break picks the smallest neighbor label
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val lp = GraphOps.labelPropagation(e, "a", "b", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("kCoreExact peels to the fixpoint a fixed-round call can miss") {
    // K4 with a 5-node chain: 2-core peeling needs 3 rounds to consume
    // the chain — kCore(peels = 1) still holds chain remnants,
    // kCoreExact converges to exactly the K4
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L))
    val e = (k4 ++ chain).toDF("a", "b")
    val exact = GraphOps.kCoreExact(e, "a", "b", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val shallow = GraphOps.kCore(e, "a", "b", k = 2, peels = 1)
      .collect().map(_.getLong(0)).toSet
    assert(shallow.size > 4) // one peel only dropped the chain's tip
    // enough fixed peels == exact
    val deep = GraphOps.kCore(e, "a", "b", k = 2, peels = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deep == exact)
    // empty core converges to empty, not an error
    val tree = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    assert(GraphOps.kCoreExact(tree, "a", "b", k = 2).isEmpty)
  }

  test("kCoreExact fails typed when maxIter runs out before the fixpoint") {
    // a 10-node path peels one edge per end per round: 3 rounds leave 3
    // of its 9 edges, and its 2-core is empty
    val path = (1L to 9L).map(i => (i, i + 1)).toDF("a", "b")
    assert(intercept[GraphContractViolation](
        GraphOps.kCoreExact(path, "a", "b", k = 2, maxIter = 3)).getMessage ==
      "kCoreExact: peeling did not converge in 3 rounds — raise maxIter " +
      "(a chain hanging off the core peels one edge per end per round)")
    assert(GraphOps.kCoreExact(path, "a", "b", k = 2).isEmpty)
  }

  test("kCore: K4 plus a tail — 3-core is exactly the K4") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val tail = Seq((4L, 5L), (5L, 6L)) // degree-1/2 chain peels away
    val e = (k4 ++ tail).toDF("a", "b")
    val core = GraphOps.kCore(e, "a", "b", k = 3, peels = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a tree has no 2-core at all
    val tree = Seq((1L, 2L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    assert(GraphOps.kCore(tree, "a", "b", k = 2, peels = 3).isEmpty)
  }

  test("commonNeighborScores: shared-neighbor pair gets exact jaccard/AA") {
    // star: 1–2, 1–3 (plus 2–4 noise): pair (2,3) shares only node 1
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L)).toDF("a", "b")
    val r = GraphOps.commonNeighborScores(e, "a", "b", maxDegree = None)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getLong(2), x.getDouble(3), x.getDouble(4)))).toMap
    // deg(1)=2, deg(2)=2, deg(3)=1, deg(4)=1
    // (2,3): cn=1 via w=1; jaccard = 1/(2+1-1) = 0.5; aa = 1/ln(2)
    val (cn, j, aa) = r((2L, 3L))
    assert(cn == 1L && math.abs(j - 0.5) < 1e-12)
    assert(math.abs(aa - 1.0 / math.log(2.0)) < 1e-12)
    // (3,4) share nothing; (1,4) share node 2: jaccard = 1/(2+1-1)
    assert(!r.contains((3L, 4L)))
    assert(r((1L, 4L))._1 == 1L)
    // maxDegree=1 drops both middles (deg 2) → no pairs survive
    assert(GraphOps.commonNeighborScores(e, "a", "b", maxDegree = Some(1)).isEmpty)
  }

  test("bfsDistances: hop distances are minimal and depth-bounded") {
    // directed path 1→2→3→4→5 with a shortcut 1→4
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L)).toDF("s", "d")
    val srcs = Seq(1L).toDF("node")
    val d3 = GraphOps.bfsDistances(e, "s", "d", srcs, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 4 is reached at hop 1 via the shortcut, 5 at hop 2 — never hop 3/4
    assert(d3 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L))
    // depth bound honored: maxHops=1 sees only the direct successors
    val d1 = GraphOps.bfsDistances(e, "s", "d", srcs, maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 == Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
    // multi-source: min over sources
    val d2 = GraphOps.bfsDistances(e, "s", "d", Seq(1L, 3L).toDF("n"),
        maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2(4L) == 1L && d2(5L) == 2L && d2(3L) == 0L)
  }

  // --------------------------------------------- round-6 late additions

  test("shardLayout: dense per-shard positions, full coverage, stable under repartition") {
    val df = spark.range(0, 200).toDF("id")
    val a = Pipeline.shardLayout(df, "id", 4)
    val b = Pipeline.shardLayout(df.repartition(7), "id", 4)
    assert(a.count() == 200)
    // every shard's positions are exactly 0..count-1
    val perShard = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"),
        countDistinct("pos").as("nd")).collect()
    assert(perShard.nonEmpty)
    perShard.foreach { r =>
      assert(r.getAs[Long]("mn") == 0L)
      assert(r.getAs[Long]("mx") == r.getAs[Long]("n") - 1)
      assert(r.getAs[Long]("nd") == r.getAs[Long]("n"))
    }
    // partitioning of the input does not change the layout
    assert(a.orderBy("id").collect().toSeq ==
      b.orderBy("id").collect().toSeq)
  }

  test("lengthBucketBatches: batch sizes bounded, totals conserved, waste >= 0") {
    val docs = Seq.tabulate(100)(i => (i.toLong, ("w " * (i % 40 + 1)).trim))
      .toDF("doc_id", "text")
    val out = Pipeline.lengthBucketBatches(docs, "doc_id", "text",
      boundaries = Seq(8, 16, 32), batchSize = 8).collect()
    assert(out.map(_.getAs[Long]("n_rows")).sum == 100L)
    assert(out.forall(_.getAs[Long]("n_rows") <= 8L))
    assert(out.forall(_.getAs[Long]("pad_waste") >= 0L))
    // every batch's max fits its bucket band (overflow band = 64 marker)
    out.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(r.getAs[Long]("max_tokens") <= (if (b == 64L) Long.MaxValue else b))
    }
  }

  test("mergeHourlyRollup: merge of split rollups == rollup of the union") {
    val ev = Seq(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "a", 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "a", 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "a", 4.0),
      (Timestamp.valueOf("2024-01-01 10:20:00"), "b", 8.0),
      (Timestamp.valueOf("2024-01-02 10:20:00"), "a", 16.0)
    ).toDF("ts", "event_type", "value")
    val cut = lit("2024-01-01 11:00:00").cast("timestamp")
    val merged = Sessionize.mergeHourlyRollup(
      Sessionize.hourlyRollup(ev.where(col("ts") < cut)),
      Sessionize.hourlyRollup(ev.where(col("ts") >= cut)))
      .orderBy("hour", "event_type").collect().toSeq
    val full = Sessionize.hourlyRollup(ev)
      .orderBy("hour", "event_type").collect().toSeq
    assert(merged == full)
  }

  test("sourceOverlap: known cross-source sharing, jaccard exact") {
    val df = Seq(
      (1L, "shared-one", "s1"), (2L, "shared-one", "s2"),
      (3L, "shared-two", "s1"), (4L, "shared-two", "s2"),
      (5L, "only-s1", "s1"), (6L, "only-s3", "s3"),
      (7L, "shared-one", "s3"), (8L, "shared-one", "s1") // dup within s1
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(df, "text", "source")
      .orderBy("src_a", "src_b").collect()
    // s1 keys: {one, two, only-s1} (3); s2: {one, two} (2); s3: {one, only-s3} (2)
    val m = out.map(r => (r.getString(0), r.getString(1)) ->
      (r.getAs[Long]("n_shared"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("jaccard"))).toMap
    assert(m(("s1", "s2")) == ((2L, 3L, 2L, math.round(2.0 / 3 * 1e6) / 1e6)))
    assert(m(("s1", "s3")) == ((1L, 3L, 2L, 0.25)))
    assert(m(("s2", "s3")) == ((1L, 2L, 2L, math.round(1.0 / 3 * 1e6) / 1e6)))
  }

  test("clusteringCoefficient: triangle + pendant graph exact") {
    // triangle 1-2-3 plus pendant 3-4
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val out = GraphOps.clusteringCoefficient(e, "a", "b").collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("deg"), r.getAs[Long]("n_tri"), r.getAs[Double]("coeff")))
      .toMap
    assert(out(1L) == ((2L, 1L, 1.0)))
    assert(out(2L) == ((2L, 1L, 1.0)))
    assert(out(3L) == ((3L, 1L, math.round(1.0 / 3 * 1e6) / 1e6))) // 2*1/(3*2)
    assert(out(4L) == ((1L, 0L, 0.0)))
  }

  test("heavyHitters: exact threshold semantics vs brute force") {
    // 60% "hot", 20% "warm", rest singletons; capacity 4 → threshold n/5
    val words = Seq.fill(60)("hot") ++ Seq.fill(20)("warm") ++
      (1 to 20).map(i => s"w$i")
    val docs = words.grouped(10).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val out = TextOps.heavyHitters(docs, "text", capacity = 4)
      .orderBy("token").collect()
    val expected = Seq(("hot", 60L), ("warm", 20L)) // 20*5 > 100? no: = -> strict
    // threshold is STRICT: cnt*5 > 100 ⇒ warm at exactly 20 is excluded
    assert(out.map(r => (r.getString(0), r.getAs[Long]("cnt"))).toSeq ==
      expected.filter(_._2 * 5 > 100))
    assert(out.forall(_.getAs[Long]("n_total") == 100L))
  }

  test("MisraGriesAgg: candidates superset of true heavy hitters on random streams") {
    val rnd = new scala.util.Random(7)
    val stream = Seq.fill(500)(s"t${rnd.nextInt(30)}") ++ Seq.fill(200)("HH")
    val ds = stream.toDF("token").repartition(5)
    import org.apache.spark.sql.Encoders
    val cap = 8
    val cands = ds.as(Encoders.STRING)
      .select(new TextOps.MisraGriesAgg(cap).toColumn).head().toSet
    assert(cands.size <= cap)
    val n = stream.size
    val trueHH = stream.groupBy(identity).view.mapValues(_.size)
      .filter { case (_, c) => c.toLong * (cap + 1) > n }.keySet
    assert(trueHH.subsetOf(cands), s"missing ${trueHH -- cands}")
  }

  test("mortonCode: known interleavings; zorderLayout conserves rows") {
    val r = spark.range(1).select(
      Bucketing.mortonCode(lit(3), lit(5), 3).as("m1"),
      Bucketing.mortonCode(lit(0), lit(0), 5).as("m2"),
      Bucketing.mortonCode(lit(31), lit(31), 5).as("m3")).head()
    assert(r.getLong(0) == 39L)  // x=011,y=101 -> 100111
    assert(r.getLong(1) == 0L)
    assert(r.getLong(2) == 1023L)
    val df = spark.range(0, 500).select(col("id"),
      (col("id") % 24).as("x"), (col("id") % 32).as("y"))
    val files = Bucketing.zorderLayout(df, "x", "y", "id", 5, 100).collect()
    assert(files.map(_.getAs[Long]("n_rows")).sum == 500L)
    assert(files.forall(_.getAs[Long]("n_rows") <= 100L))
    assert(files.forall(r => r.getAs[Long]("min_x") <= r.getAs[Long]("max_x")))
  }

  test("peakConcurrency: hour carry-in and within-hour peaks exact") {
    val sess = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:10:00"), Timestamp.valueOf("2024-01-01 11:30:00")),
      (2L, Timestamp.valueOf("2024-01-01 10:20:00"), Timestamp.valueOf("2024-01-01 10:40:00")),
      (3L, Timestamp.valueOf("2024-01-01 11:00:00"), Timestamp.valueOf("2024-01-01 11:10:00")),
      (4L, Timestamp.valueOf("2024-01-01 13:00:00"), Timestamp.valueOf("2024-01-01 13:00:00"))
    ).toDF("id", "st", "en")
    val out = Sessionize.peakConcurrency(sess, "st", "en", "id")
      .orderBy("hour").collect()
      .map(r => r.getTimestamp(0).toString -> r.getAs[Long]("peak_concurrent"))
    // hour 10: sessions 1+2 overlap -> 2; hour 11: 1 carried + 3 -> 2;
    // hour 13: degenerate instant session -> 1; hour 12 absent (no deltas)
    assert(out.toSeq == Seq(
      "2024-01-01 10:00:00.0" -> 2L,
      "2024-01-01 11:00:00.0" -> 2L,
      "2024-01-01 13:00:00.0" -> 1L))
  }

  test("peakConcurrency: touching sessions count as concurrent (closed intervals)") {
    val sess = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), Timestamp.valueOf("2024-01-01 10:30:00")),
      (2L, Timestamp.valueOf("2024-01-01 10:30:00"), Timestamp.valueOf("2024-01-01 10:45:00"))
    ).toDF("id", "st", "en")
    val out = Sessionize.peakConcurrency(sess, "st", "en", "id").collect()
    assert(out.length == 1 && out.head.getAs[Long]("peak_concurrent") == 2L)
  }

  test("topPcProjection: axis-aligned corpus projects to centered coordinate") {
    val vecs = (1 to 5).map(t =>
      (t.toLong, Array(t.toFloat, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.topPcProjection(vecs, "embedding", "vec_id", 2)
      .orderBy("vec_id").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pc1")).toMap
    // mean = 3 along e1; PC1 = e1 (sign from the all-positive start)
    (1 to 5).foreach(t => assert(out(t.toLong) == (t - 3).toDouble))
  }

  test("topPcProjection: invariant under input repartitioning") {
    val rnd = new scala.util.Random(11)
    val vecs = (1 to 40).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val a = Similarity.topPcProjection(vecs, "embedding", "vec_id", 2)
      .orderBy("vec_id").collect().toSeq
    val b = Similarity.topPcProjection(vecs.repartition(7), "embedding",
        "vec_id", 2)
      .orderBy("vec_id").collect().toSeq
    assert(a == b)
  }

  test("sourceSimilaritySketch: estimate within ~1/sqrt(k) of exact shingle jaccard") {
    val rnd = new scala.util.Random(3)
    def sent(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(400)}").mkString(" ")
    val shared = Seq.fill(12)(sent(30))
    val onlyA = Seq.fill(6)(sent(30))
    val onlyB = Seq.fill(6)(sent(30))
    val rows = (shared ++ onlyA).zipWithIndex.map { case (t, i) => (i.toLong, t, "A") } ++
      (shared ++ onlyB).zipWithIndex.map { case (t, i) => (100L + i, t, "B") }
    val df = rows.toDF("doc_id", "text", "source")
    val est = Dedup.sourceSimilaritySketch(df, "text", "source", k = 256)
      .head().getAs[Double]("est_jaccard")
    // exact shingle-set jaccard of the two sources
    val sh = df.select(col("source"),
        explode(Dedup.hashedShingleSet(col("text"), 5)).as("h"))
      .distinct()
    val na = sh.where(col("source") === "A").count().toDouble
    val nb = sh.where(col("source") === "B").count().toDouble
    val inter = sh.groupBy("h").agg(countDistinct("source").as("c"))
      .where(col("c") === 2).count().toDouble
    val exact = inter / (na + nb - inter)
    assert(math.abs(est - exact) < 0.12, s"est $est vs exact $exact")
  }

  test("chunkManifest: ragged last chunk, empty payloads dropped, coverage exact") {
    val df = Seq(
      (1L, Array.fill[Byte](250)(1)),
      (2L, Array.fill[Byte](96)(2)),
      (3L, Array.empty[Byte])
    ).toDF("doc_id", "payload")
    val out = Multimodal.chunkManifest(df, "payload", "doc_id", 96)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("off"), r.getAs[Long]("len")))
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 96L), (1L, 1L, 96L, 96L), (1L, 2L, 192L, 58L),
      (2L, 0L, 0L, 96L)))
  }

  test("partitionSkewReport/Summary: counts conserve, skew >= 1") {
    val df = spark.range(0, 1000).toDF("id").repartition(8)
    val rep = Maintenance.partitionSkewReport(df).collect()
    assert(rep.map(_.getAs[Long]("n_rows")).sum == 1000L)
    val s = Maintenance.partitionSkewSummary(df).head()
    assert(s.getAs[Long]("total_rows") == 1000L)
    assert(s.getAs[Double]("skew") >= 1.0)
  }

  test("bipartiteProject: weights exact, hub pivots dropped") {
    val e = Seq(
      (10L, 1L), (10L, 2L),             // pivot 10 -> pair (1,2)
      (11L, 1L), (11L, 2L), (11L, 3L),  // pivot 11 -> (1,2),(1,3),(2,3)
      (12L, 1L), (12L, 2L), (12L, 3L), (12L, 4L) // hub (deg 4): dropped at cap 3
    ).toDF("l", "r")
    val out = GraphOps.bipartiteProject(e, "l", "r",
        maxPivotDegree = Some(3), minWeight = 1)
      .orderBy("u", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("weight")))
    assert(out.toSeq == Seq((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
    val floored = GraphOps.bipartiteProject(e, "l", "r",
      maxPivotDegree = Some(3), minWeight = 2).collect()
    assert(floored.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("modularity: two triangles + bridge, known Q") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val comm = Seq((1L, 0L), (2L, 0L), (3L, 0L),
      (4L, 1L), (5L, 1L), (6L, 1L)).toDF("node", "label")
    val r = GraphOps.modularity(e, "a", "b", comm).head()
    // m=7; per community: L=3, D=7 -> Q = 2*(3/7 - (7/14)^2)
    assert(r.getAs[Double]("modularity") ==
      math.round((2.0 * (3.0 / 7 - 0.25)) * 1e6) / 1e6)
    assert(r.getAs[Long]("n_communities") == 2L)
    assert(r.getAs[Long]("m_edges") == 7L)
  }

  test("asofJoin directions: forward/nearest semantics and ties") {
    val L = Seq((1L, 10L, Timestamp.valueOf("2024-01-01 10:00:10")))
      .toDF("lid", "k", "ts")
    val R = Seq(
      (10L, Timestamp.valueOf("2024-01-01 10:00:00"), "before"),
      (10L, Timestamp.valueOf("2024-01-01 10:00:30"), "after")
    ).toDF("k", "rts", "tag")
    def run(dir: String, tol: Option[Long] = None) =
      AsOf.asofJoin(L, R, Seq("k"), "ts", "rts", tol, dir)
        .select("lid", "tag").head().getString(1)
    assert(run("backward") == "before")
    assert(run("forward") == "after")
    assert(run("nearest") == "before") // 10s back vs 20s forward
    // tolerance cuts the forward match (20s > 15s)
    assert(AsOf.asofJoin(L, R, Seq("k"), "ts", "rts", Some(15L), "forward")
      .select("tag").head().isNullAt(0))
    // equal-distance tie goes to the earlier (backward) row
    val Lt = Seq((1L, 10L, Timestamp.valueOf("2024-01-01 10:00:15")))
      .toDF("lid", "k", "ts")
    assert(AsOf.asofJoin(Lt, R, Seq("k"), "ts", "rts", None, "nearest")
      .select("tag").head().getString(0) == "before")
    // equal-ts inclusivity in both directions
    val Le = Seq((1L, 10L, Timestamp.valueOf("2024-01-01 10:00:30")))
      .toDF("lid", "k", "ts")
    assert(AsOf.asofJoin(Le, R, Seq("k"), "ts", "rts", None, "forward")
      .select("tag").head().getString(0) == "after")
  }

  test("queryLikelihood: plan reuses the tf exchange; sane ranking semantics") {
    val docsQl = Seq(
      (1L, "quick fox jumps"), (2L, "quick quick quick fox"),
      (3L, "slow turtle walks"), (4L, "fox")
    ).toDF("doc_id", "text")
    val q = Seq((0L, "quick fox zzz_oov")).toDF("query_id", "qtext")
    val r = Retrieval.queryLikelihoodTopK(docsQl, q, "text", "doc_id",
      "query_id", "qtext", k = 4, mu = 10.0)
    val rows = r.orderBy("rank").collect()
    r.collect()
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") ||
      plan.contains("ReusedQueryStage") || plan.contains("TableCacheQueryStage"),
      s"tf subplan not reused:\n$plan")
    // doc 3 matches nothing -> absent; doc 2 (3x quick + fox) ranks first
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 4L))
    assert(rows.head.getAs[Long]("doc_id") == 2L)
    // scores strictly ordered and finite (OOV term dropped cleanly)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.forall(s => !s.isNaN && !s.isInfinite))
    assert(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("editDistancePairs: typo pairs found, length band respected, block isolation") {
    val df = Seq(
      (1L, "the quick brown fox", "b1"),
      (2L, "the quikc brown fox", "b1"),   // transposition: dist 2
      (3L, "the quick brown fox", "b2"),   // same text, OTHER block: no pair
      (4L, "completely different text here", "b1"),
      (5L, "xx", "b1")                     // length band excludes vs all
    ).toDF("doc_id", "text", "blk")
    val out = Dedup.editDistancePairs(df, "text", "doc_id", "blk",
        maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 2L, 2L)))
  }

  test("interleaveSources: prefix rates track weights; excluded groups drop") {
    val docs = (1 to 300).map(i =>
      (i.toLong, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("doc_id", "grp")
    val out = Pipeline.interleaveSources(docs, "doc_id", "grp",
      Map("a" -> 0.75, "b" -> 0.25)) // c excluded
    val seq = out.orderBy("order_pos").collect().map(_.getAs[String]("grp"))
    assert(seq.length == 200 && !seq.contains("c"))
    // in the first 40 positions, group a should appear ~30 times (75%)
    val head = seq.take(40)
    val aCount = head.count(_ == "a")
    assert(aCount >= 27 && aCount <= 33, s"a appeared $aCount/40")
    // deterministic under repartition
    val again = Pipeline.interleaveSources(docs.repartition(7), "doc_id",
      "grp", Map("a" -> 0.75, "b" -> 0.25))
      .orderBy("order_pos").collect().map(_.getAs[String]("grp"))
    assert(seq.toSeq == again.toSeq)
  }

  test("slidingDistinctUsersStream: closed windows match the batch HLL twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long)]
    val out = Sessionize.slidingDistinctUsersStream(
      mem.toDS().toDF("ts", "event_type", "user_id"), windowHours = 2,
      watermarkDelay = "30 minutes")
    val q = out.writeStream.format("memory").queryName("slide")
      .outputMode("append").start()
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val rows = Seq(
      (t(10, 5), "view", 1L), (t(10, 40), "view", 2L),
      (t(11, 10), "view", 1L), (t(11, 30), "view", 3L))
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData((t(20, 0), "view", 9L)) // watermark jump closes windows
      q.processAllAvailable()
      val got = spark.table("slide")
        .where(col("hour") <= lit(t(11, 0)))  // batch twin clamps at the corpus max hour
        .orderBy("hour").collect()
        .map(r => r.getTimestamp(0) -> r.getAs[Long]("n_users"))
      val batch = Sessionize.slidingDistinctUsersApprox(
          rows.toDF("ts", "event_type", "user_id"), windowHours = 2)
        .orderBy("hour").collect()
        .map(r => r.getTimestamp(1) -> r.getAs[Long]("n_users")).toMap
      assert(got.nonEmpty)
      got.foreach { case (h, n) =>
        assert(batch.get(h).contains(n), s"window $h: stream $n vs batch ${batch.get(h)}")
      }
    } finally q.stop()
  }

  test("kTruss: 4-truss keeps the K4, sheds the pendant triangle; exact == converged") {
    // K4 on {1,2,3,4} (every edge in 2 triangles) plus a triangle
    // {4,5,6} whose edges sit in only 1 triangle each
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("a", "b")
    val t = GraphOps.kTruss(e, "a", "b", k = 4, rounds = 2)
      .orderBy("lo", "hi").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(t.toSeq == Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    val ex = GraphOps.kTrussExact(e, "a", "b", k = 4)
      .orderBy("lo", "hi").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ex.toSeq == t.toSeq)
    // k=5 kills everything (no edge is in 3 triangles)
    assert(GraphOps.kTrussExact(e, "a", "b", k = 5).count() == 0L)
  }

  test("kTrussExact fails typed when maxRounds runs out before the fixpoint") {
    // 11 nodes, 26 edges: the 4-truss peel drops 3, 3, 3, 2, 3 and 1
    // edges, and a 7th round confirms the 11-edge truss (6 rounds reach
    // it unconfirmed)
    val e = Seq((0L, 2L), (0L, 3L), (0L, 5L), (0L, 7L), (0L, 8L), (1L, 10L),
      (2L, 4L), (2L, 7L), (2L, 8L), (2L, 9L), (3L, 4L), (3L, 5L), (3L, 8L),
      (3L, 9L), (3L, 10L), (4L, 7L), (4L, 9L), (4L, 10L), (5L, 6L), (5L, 7L),
      (5L, 10L), (6L, 7L), (6L, 9L), (6L, 10L), (7L, 9L), (9L, 10L))
      .toDF("a", "b")
    for (rounds <- Seq(3, 6))
      assert(intercept[GraphContractViolation](
          GraphOps.kTrussExact(e, "a", "b", k = 4, maxRounds = rounds))
        .getMessage == s"kTrussExact: peeling did not converge in $rounds " +
        "rounds — raise maxRounds (each round drops only the edges left " +
        "in fewer than k - 2 triangles)")
    val truss = Seq((2L, 4L), (2L, 7L), (2L, 9L), (3L, 4L), (3L, 9L),
      (3L, 10L), (4L, 7L), (4L, 9L), (4L, 10L), (7L, 9L), (9L, 10L))
    assert(GraphOps.kTrussExact(e, "a", "b", k = 4, maxRounds = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == truss)
  }

  test("tokenEntropy: uniform > repeated; empty is 0; known value") {
    val r = spark.range(1).select(
      round(TextOps.tokenEntropy(lit("a b a c")), 6).as("h"),
      TextOps.tokenEntropy(lit("x x x x")).as("rep"),
      TextOps.tokenEntropy(lit("")).as("emp"),
      round(TextOps.tokenEntropy(lit("p q r s")), 6).as("uni")).head()
    // {a:2,b:1,c:1}: -(.5 ln .5 + .25 ln .25 * 2) = 1.039721
    assert(r.getDouble(0) == 1.039721)
    assert(r.getDouble(1) == 0.0 || r.getDouble(1) == -0.0)
    assert(r.getDouble(2) == 0.0)
    assert(r.getDouble(3) == math.round(math.log(4) * 1e6) / 1e6)
  }

  test("pageRankWeighted: weight-skewed star beats uniform; ranks sum to ~1") {
    // star: 1->2 (w 9), 1->3 (w 1); plus 2->1, 3->1 to keep mass moving
    val e = Seq((1L, 2L, 9.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val r = GraphOps.pageRankWeighted(e, "src", "dst", "w", iterations = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(2L) > r(3L)) // 9x the weight share
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
    // uniform weights == classic pageRank
    val u = Seq((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val pw = GraphOps.pageRankWeighted(u, "src", "dst", "w", iterations = 5)
      .collect().map(x => x.getLong(0) -> math.round(x.getDouble(1) * 1e9)).toMap
    val pc = GraphOps.pageRank(u.select("src", "dst"), "src", "dst",
        iterations = 5)
      .collect().map(x => x.getLong(0) -> math.round(x.getDouble(1) * 1e9)).toMap
    assert(pw == pc)
  }

  test("harmonicCentrality: path graph known values, early exit past diameter") {
    // path 1-2-3-4: from 1 -> d(2)=1, d(3)=2, d(4)=3 -> H = 1 + 1/2 + 1/3
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val srcs = Seq(1L, 2L).toDF("node")
    val r = GraphOps.harmonicCentrality(e, "a", "b", srcs, maxHops = 9)
      .collect().map(x => x.getAs[Long]("src") ->
        (x.getAs[Long]("n_reached"), x.getAs[Double]("harmonic"))).toMap
    assert(r(1L)._1 == 3L)
    assert(r(1L)._2 == math.round((1.0 + 0.5 + 1.0 / 3) * 1e6) / 1e6)
    assert(r(2L) == ((3L, 2.5))) // 1 + 1 + 1/2
  }

  test("kmeansAssign: separable blobs recovered; repartition-invariant") {
    val rnd = new scala.util.Random(5)
    def blob(cx: Float, cy: Float, base: Long) = (0 until 20).map(j =>
      (base + j, Array(cx + rnd.nextFloat() * 0.1f, cy + rnd.nextFloat() * 0.1f)))
    val vecs = (blob(0f, 0f, 0L) ++ blob(10f, 10f, 100L) ++ blob(0f, 10f, 200L))
      .toDF("vec_id", "embedding")
    val a = Similarity.kmeansAssign(vecs, "embedding", "vec_id", k = 3,
      iterations = 3).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster"))
    val byBlob = a.groupBy(_._1 / 100).view.mapValues(_.map(_._2).toSet).toMap
    // every blob is pure (one cluster) and the blobs use distinct clusters
    assert(byBlob.values.forall(_.size == 1), s"impure blobs: $byBlob")
    assert(byBlob.values.flatten.toSet.size == 3)
    val b = Similarity.kmeansAssign(vecs.repartition(5), "embedding",
      "vec_id", k = 3, iterations = 3).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    assert(a.toMap == b)
  }

  test("mergeHourlyRollup maintains a live rollup via foreachBatch (streaming maintenance)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    // the maintained state: rollup rows materialized after each batch
    var state: Option[Seq[org.apache.spark.sql.Row]] = None
    var schema: org.apache.spark.sql.types.StructType = null
    val q = mem.toDS().toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = Sessionize.hourlyRollup(batch)
        val merged = state match {
          case None => delta
          case Some(rows) =>
            val base = spark.createDataFrame(
              spark.sparkContext.parallelize(rows), schema)
            Sessionize.mergeHourlyRollup(base, delta)
        }
        schema = merged.schema
        state = Some(merged.collect().toSeq)
        ()
      }.start()
    def ev(id: Long, min: Int, t: String, v: Double) =
      Sessionize.Event(id, Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
        , 1L, t, v)
    val all = Seq(ev(1, 5, "view", 1.0), ev(2, 40, "view", 2.0),
      ev(3, 55, "buy", 4.0), ev(4, 59, "view", 8.0))
    try {
      mem.addData(all(0), all(1))
      q.processAllAvailable()
      mem.addData(all(2), all(3))
      q.processAllAvailable()
    } finally q.stop()
    val expected = Sessionize.hourlyRollup(all.toDF())
      .orderBy("hour", "event_type").collect().toSeq
    val got = spark.createDataFrame(
        spark.sparkContext.parallelize(state.get), schema)
      .orderBy("hour", "event_type").collect().toSeq
    assert(got == expected)
  }

  test("streamingFunnel: latest row per user matches the batch funnel") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val stages = Seq("view", "cart", "buy")
    val out = Sessionize.streamingFunnel(mem.toDS(), stages)
    val q = out.writeStream.format("memory").queryName("sfunnel")
      .outputMode("update").start()
    def ev(id: Long, u: Long, min: Int, t: String) =
      Sessionize.Event(id, Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"),
        u, t, 1.0)
    val all = Seq(
      ev(1, 1, 0, "view"), ev(2, 1, 5, "cart"), ev(3, 1, 3, "buy"),
      // buy@3 precedes cart@5: sequential constraint leaves buy null...
      ev(4, 1, 9, "buy"),  // ...until a later buy lands
      ev(5, 2, 1, "view"), ev(6, 2, 2, "view"),
      ev(7, 3, 4, "cart")) // never saw view: everything null downstream
    try {
      mem.addData(all.take(3): _*)
      q.processAllAvailable()
      mem.addData(all.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    // latest update per user
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(monotonically_increasing_id().desc)
    val got = spark.table("sfunnel")
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(monotonically_increasing_id())))
      .groupBy("user_id")
      .agg(max(struct(col("__rn"), col("view_ts"), col("cart_ts"),
        col("buy_ts"))).as("s"))
      .select(col("user_id"), col("s.view_ts"), col("s.cart_ts"),
        col("s.buy_ts"))
      .orderBy("user_id").collect().toSeq
    val batch = Sessionize.funnel(all.toDF(), stages)
      .orderBy("user_id")
      .select("user_id", "view_ts", "cart_ts", "buy_ts").collect().toSeq
    // user 3 has no stage-0 event: absent from batch funnel and never
    // emitted by the stream either
    assert(got.map(_.toString) == batch.map(_.toString))
  }

  // ------------------------------------------- round-6 second-batch ops

  test("hits: bipartite star — auth on sinks, hub on sources, L1 sums to 1") {
    val e = Seq((1L, 10L), (2L, 10L), (1L, 11L)).toDF("src", "dst")
    val r1 = GraphOps.hits(e, "src", "dst", iterations = 1)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // iter 1: auth_raw(10)=2, auth_raw(11)=1 -> auth 2/3, 1/3
    assert(math.abs(r1(10L)._1 - 2.0 / 3) < 1e-12)
    assert(math.abs(r1(11L)._1 - 1.0 / 3) < 1e-12)
    // hub_raw(1)=auth(10)+auth(11)=1, hub_raw(2)=2/3 -> hub 0.6, 0.4
    assert(math.abs(r1(1L)._2 - 0.6) < 1e-12)
    assert(math.abs(r1(2L)._2 - 0.4) < 1e-12)
    // bipartite split: sources have no authority, sinks no hub mass
    assert(r1(1L)._1 == 0.0 && r1(10L)._2 == 0.0)
    // more iterations keep the L1 contract and the ordering
    val r2 = GraphOps.hits(e, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(math.abs(r2.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(r2.values.map(_._2).sum - 1.0) < 1e-9)
    assert(r2(10L)._1 > r2(11L)._1 && r2(1L)._2 > r2(2L)._2)
  }

  test("markovStationary: cyclic chain stays uniform; absorbing chain is a fixed point") {
    def ev(rows: Seq[(Long, Long, String)]): DataFrame =
      rows.map { case (id, u, t) =>
        (id, u, t, new Timestamp(1700000000000L + id * 1000)) }
        .toDF("event_id", "user_id", "event_type", "ts")
    // A->B->A->B: P(A->B)=1, P(B->A)=1 -> uniform is stationary
    val cyc = ev(Seq((1L, 1L, "A"), (2L, 1L, "B"), (3L, 1L, "A"),
      (4L, 1L, "B")))
    val pi = Sessionize.markovStationary(cyc, iterations = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pi("A") - 0.5) < 1e-12 && math.abs(pi("B") - 0.5) < 1e-12)
    // A->B only: B absorbs all mass, then the guard holds it there
    val abs = ev(Seq((1L, 1L, "A"), (2L, 1L, "B")))
    val pa = Sessionize.markovStationary(abs, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pa("A") == 0.0 && pa("B") == 1.0)
  }

  test("paretoAbc: 80/15/5 split lands A/B/C with exact cumulative shares") {
    val ev = Seq((1L, "x", 80.0), (2L, "y", 15.0), (3L, "z", 5.0))
      .toDF("event_id", "event_type", "value")
    val r = Sessionize.paretoAbc(ev)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getString(5))).toMap
    assert(r("x") == ((0.8, 0.8, "A")))
    assert(r("y")._3 == "B" && math.abs(r("y")._2 - 0.95) < 1e-12)
    assert(r("z")._3 == "C" && math.abs(r("z")._2 - 1.0) < 1e-12)
  }

  test("gopherGate: clean prose passes; each rule fails on its violator") {
    def gate(t: String) = spark.range(1)
      .select(TextOps.gopherGate(lit(t)).as("g")).select("g.*").head()
    val good = gate("The cat and the dog sat in a quiet house of mist " +
      "and it is warm today for all of us here together now")
    assert(good.getAs[Boolean]("pass"))
    assert(good.getAs[Long]("n_words") >= 10L)
    val short = gate("tiny text")                    // word-count rule
    assert(!short.getAs[Boolean]("pass"))
    val bullets = gate("- the cat is here and of it\n- a dog is there " +
      "and of it\n- an owl is in the air of night")  // every line bulleted
    assert(bullets.getAs[Double]("bullet_ratio") > 0.9)
    assert(!bullets.getAs[Boolean]("pass"))
    val nostop = gate("alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi rho sigma")
    assert(nostop.getAs[Long]("n_stop_distinct") < 2L)
    assert(!nostop.getAs[Boolean]("pass"))
  }

  test("mojibakeStats: counts each artifact class; clean ASCII is not suspect") {
    val dirty = "ab\u00C3\u00A9c\uFFFDd\u0007"
    val r = spark.range(1)
      .select(TextOps.mojibakeStats(lit(dirty)).as("m")).select("m.*").head()
    assert(r.getAs[Long]("n_replacement") == 1L)
    assert(r.getAs[Long]("n_ctrl") == 1L)
    assert(r.getAs[Long]("n_mojibake") == 1L)
    assert(r.getAs[Boolean]("suspect"))
    val c = spark.range(1)
      .select(TextOps.mojibakeStats(lit("plain ascii text")).as("m"))
      .select("m.*").head()
    assert(!c.getAs[Boolean]("suspect") && c.getAs[Double]("nonascii_ratio") == 0.0)
  }

  test("lexicalDiversity: TTR / hapax / Yule's K on a known histogram; empty doc zero-fills") {
    val d = Seq((1L, "a a b c"), (2L, "")).toDF("doc_id", "text")
    val r = TextOps.lexicalDiversity(d, "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    val one = r(1L)
    assert(one.getAs[Long]("n_tokens") == 4L)
    assert(one.getAs[Long]("n_types") == 3L)
    assert(one.getAs[Long]("n_hapax") == 2L)
    assert(math.abs(one.getAs[Double]("ttr") - 0.75) < 1e-12)
    assert(math.abs(one.getAs[Double]("hapax_frac") - 2.0 / 3) < 1e-12)
    // sum f^2 = 4+1+1 = 6; K = 1e4 * (6-4)/16 = 1250
    assert(math.abs(one.getAs[Double]("yule_k") - 1250.0) < 1e-9)
    val two = r(2L)
    assert(two.getAs[Long]("n_tokens") == 0L && two.getAs[Double]("ttr") == 0.0)
  }

  test("curriculumAssign: quartile cutpoints split 1..8 into equal phases, ties to the lower phase") {
    val d = (1 to 8).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
    val a = Pipeline.curriculumAssign(d, "score", nPhases = 4)
    val byPhase = a.groupBy("phase").agg(count(lit(1)).as("n"),
        min("score").as("lo"), max("score").as("hi"))
      .orderBy("phase").collect()
    assert(byPhase.map(_.getLong(1)).toSeq == Seq(2L, 2L, 2L, 2L))
    // phases are contiguous, non-overlapping score ranges
    byPhase.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0).getDouble(3) < w(1).getDouble(2))
    }
    // a score equal to a cutpoint (2.0 = q25) sits in the LOWER phase
    assert(a.where(col("score") === 2.0).select("phase").head().getLong(0) == 0L)
  }

  test("tokenBudgetFill: caps bind, surplus water-fills to uncapped sources, budget conserved") {
    val docs = (Seq.fill(100)("tok") .zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "small") } ++
      Seq.tabulate(100) { i => (1000L + i, Seq.fill(100)("tok").mkString(" "),
        "big") }).toDF("doc_id", "text", "src")
    // avail: small=100, big=10000; alpha=0 -> equal shares; budget 2000,
    // 1-epoch cap: small caps at 100, leftover 900 all flows to big
    val r = Pipeline.tokenBudgetFill(docs, "src", "text",
        budget = 2000.0, alpha = 0.0, maxEpochs = 1.0, rounds = 2)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(3), x.getBoolean(5))).toMap
    assert(r("small")._1 == 100L && r("big")._1 == 10000L)
    assert(math.abs(r("small")._2 - 100.0) < 1e-9 && r("small")._3)
    assert(math.abs(r("big")._2 - 1900.0) < 1e-9 && !r("big")._3)
    assert(math.abs(r.values.map(_._2).sum - 2000.0) < 1e-9)
  }

  test("rangeSearch: exact pairs over the threshold; LSH twin is a subset with full recall on identicals") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),   // close to 1
      (3L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 1
      (4L, Array(1.0f, 0.0f, 0.0f)))   // identical to 1
      .toDF("vec_id", "embedding")
    val qs = vecs.where(col("vec_id") === 1L)
    val exact = Similarity.rangeSearch(vecs, qs, "embedding", "vec_id", 0.9)
      .collect().map(_.getLong(1)).toSet
    assert(exact == Set(2L, 4L))
    val lsh = Similarity.rangeSearchLsh(vecs, qs, "embedding", "vec_id", 0.9,
        nPlanes = 4)
      .collect().map(_.getLong(1)).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains(4L)) // identical vector shares every bucket
  }

  test("segmentPlan: overlapping win/hop schedule, ragged tail, empty payload dropped") {
    val d = Seq((1L, Array.fill[Byte](1000)(1)), (2L, Array.fill[Byte](100)(1)),
      (3L, Array.empty[Byte])).toDF("id", "payload")
    val segs = Multimodal.segmentPlan(d, "payload", "id", winMs = 400L,
        hopMs = 250L).orderBy("id", "seg_idx").collect()
    val one = segs.filter(_.getLong(0) == 1L)
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(one.toSeq == Seq((0L, 0L, 400L), (1L, 250L, 650L),
      (2L, 500L, 900L), (3L, 750L, 1000L)))
    // consecutive segments overlap by win - hop = 150 ms
    one.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0)._3 - w(1)._2 == 150L)
    }
    assert(segs.filter(_.getLong(0) == 2L).map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq == Seq((0L, 0L, 100L)))
    assert(!segs.exists(_.getLong(0) == 3L))
  }

  test("applyChangeFeed: latest-wins upsert, delete removes, untouched passes through, insert lands") {
    val snap = Seq((1L, "one", 10), (2L, "two", 20), (3L, "three", 30))
      .toDF("id", "name", "v")
    val feed = Seq(
      (1L, "one-a", 11, "U", 1L), (1L, "one-b", 12, "U", 2L), // latest wins
      (2L, null.asInstanceOf[String], 0, "D", 1L),            // delete
      (4L, "four", 40, "U", 1L))                              // insert
      .toDF("id", "name", "v", "op", "seq")
    val out = ChangeData.applyChangeFeed(snap, feed, "id", "seq")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, "one-b", 12), (3L, "three", 30),
      (4L, "four", 40)))
  }

  test("cusumChangepoints: prefix-minus-running-min equals the max(0,...) recursion") {
    // two types: 'flat' stays near mean, 'shift' jumps for its last days
    val rows = (0 until 10).flatMap { day =>
      val ts = new Timestamp(1700000000000L + day.toLong * 86400000L)
      val flat = Seq.fill(5)(("flat", ts))
      val shift = Seq.fill(if (day >= 7) 20 else 5)(("shift", ts))
      flat ++ shift
    }.zipWithIndex.map { case ((t, ts), i) => (i.toLong, 1L, t, ts, 0.0) }
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val out = Sessionize.cusumChangepoints(rows, slackSigma = 0.5,
        thresholdSigma = 2.0)
      .orderBy("event_type", "day").collect()
    // reference recursion per type
    val byType = out.groupBy(_.getString(0))
    for ((_, rs) <- byType) {
      val n = rs.map(_.getLong(2).toDouble)
      val mu = n.sum / n.length
      val sd = math.sqrt(n.map(x => (x - mu) * (x - mu)).sum / n.length)
      var s = 0.0
      rs.zip(n).foreach { case (r, x) =>
        s = math.max(0.0, s + (x - mu - 0.5 * sd))
        assert(math.abs(r.getDouble(3) - s) < 1e-9,
          s"cusum mismatch at ${r.getString(0)}/${r.getAs[java.sql.Date](1)}")
        assert(r.getBoolean(4) == (s > 2.0 * sd))
      }
    }
    // the shifted type actually alarms, the flat one never does
    assert(out.filter(_.getString(0) == "shift").exists(_.getBoolean(4)))
    assert(!out.filter(_.getString(0) == "flat").exists(_.getBoolean(4)))
  }

  test("binaryHammingTopK: identical-sign vector ranks first; hamming is the sign-mismatch count") {
    val vecs = Seq(
      (10L, Array(0.9f, 0.8f, -0.7f, 0.6f)),   // same signs as query
      (11L, Array(0.1f, -0.2f, -0.3f, 0.4f)),  // 1 mismatch
      (12L, Array(-1.0f, -1.0f, 1.0f, -1.0f)), // all 4 mismatch
      (1L, Array(1.0f, 1.0f, -1.0f, 1.0f)))    // the query
      .toDF("vec_id", "embedding")
    val out = Similarity.binaryHammingTopK(vecs,
        vecs.where(col("vec_id") === 1L), "embedding", "vec_id",
        k = 3, nCandidates = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(3)))
    assert(out.map(_._1).head == 10L)        // same-sign + closest cosine
    assert(out.toMap == Map(10L -> 0L, 11L -> 1L, 12L -> 4L))
  }

  test("curationAttrition: stage counts are monotone non-increasing; raw row is totals") {
    val d = Seq(
      (1L, "the quick brown fox jumps high today", 37L),
      (2L, "short", 5L),
      (3L, "der hund und die katze und der vogel", 36L))
      .toDF("doc_id", "text", "n_chars")
    val out = Pipeline.curationAttrition(d, TextOps.tokenCount(col("text")),
        Seq("min5" -> (TextOps.tokenCount(col("text")) >= 5L),
          "en_only" -> (TextOps.langId(col("text")) === lit("en"))))
      .orderBy("stage").collect()
    assert(out.length == 3)
    assert(out(0).getString(1) == "raw" && out(0).getLong(2) == 3L)
    assert(out(1).getLong(2) == 2L)  // doc 2 fails min5
    assert(out(2).getLong(2) == 1L)  // doc 3 is German
    assert(out.map(_.getLong(2)).sliding(2).forall(w => w(0) >= w(1)))
    assert(out(0).getDouble(4) == 1.0)
  }

  test("betweennessSampled: exact Brandes sums on a path and a star (all sources)") {
    // path 1-2-3-4-5: bc = 0,6,8,6,0 (both directions counted)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val nodes = (1L to 5L).toDF("s")
    val bc = GraphOps.betweennessSampled(path, "a", "b", nodes, maxHops = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bc == Map(1L -> 0.0, 2L -> 6.0, 3L -> 8.0, 4L -> 6.0, 5L -> 0.0))
    // star: center 0, leaves 1..3 → center carries every leaf pair twice
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val bcs = GraphOps.betweennessSampled(star, "a", "b",
        (0L to 3L).toDF("s"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bcs(0L) == 6.0 && bcs(1L) == 0.0)
    // sampling HALF the sources bounds the estimate by the full sum
    val bcHalf = GraphOps.betweennessSampled(path, "a", "b",
        Seq(1L, 5L).toDF("s"), maxHops = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bcHalf(3L) > 0.0 && bcHalf(3L) <= bc(3L))
  }

  test("madOutliers: robust z pins the planted outlier; zero-MAD group never flags") {
    val d = ((Seq.tabulate(11)(i => ("a", 10.0 + i)) :+ ("a", 1000.0)) ++
      Seq.fill(5)(("b", 7.0))).toDF("grp", "x")
    val out = Pipeline.madOutliers(d, "grp", "x")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getBoolean(3))).toSeq
    // group a: 12 values, median (disc) = 15, MAD = median(|x-15|) = 3
    val big = out.filter(v => v._1 == "a" && v._2 == 1000.0).head
    assert(math.abs(big._3 - (1000.0 - 15.0) / (1.4826 * 3.0)) < 1e-9)
    assert(big._4)
    assert(out.count(v => v._1 == "a" && v._4) == 1) // only the plant
    // group b: identical values → MAD 0 → z 0, never outliers
    assert(out.filter(_._1 == "b").forall(v => v._3 == 0.0 && !v._4))
  }

  test("histogram: known equi-width bins, zero-fill, closed top edge") {
    val d = (Seq(0, 0, 5, 10, 19, 20)).toDF("x")
    val out = Pipeline.histogram(d, "x", nBins = 4)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    // lo 0, hi 20, width 5: {0,0}→bin0, {5}→bin1, {10}→bin2, {19,20}→bin3
    assert(out.toSeq == Seq((0L, 0.0, 5.0, 2L), (1L, 5.0, 10.0, 1L),
      (2L, 10.0, 15.0, 1L), (3L, 15.0, 20.0, 2L)))
  }

  test("standardizeDims: known per-dim z-scores; constant dim maps to 0") {
    val d = Seq((1L, Array(1.0f, 5.0f)), (2L, Array(3.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.standardizeDims(d, "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // dim 0: mu 2, sigma_pop 1 → z = ±1; dim 1 constant → 0
    assert(out((1L, 0L)) == -1.0 && out((2L, 0L)) == 1.0)
    assert(out((1L, 1L)) == 0.0 && out((2L, 1L)) == 0.0)
  }

  test("botScores: metronome user flags, bursty user does not, singleton is null-gap") {
    val base = 1700000000000L
    val bot = (0 until 30).map(i => (i.toLong, 1L, "view",
      new Timestamp(base + i * 1000L)))                 // exact 1s gaps
    val human = Seq(0L, 1L, 2L, 30L, 31L, 300L, 8000L, 8001L, 8002L,
      9000L, 9100L, 20000L, 20010L, 21000L, 40000L, 40001L, 41000L,
      50000L, 60000L, 61000L).zipWithIndex.map { case (s, i) =>
      (100L + i, 2L, "view", new Timestamp(base + s * 1000L)) }
    val single = Seq((999L, 3L, "view", new Timestamp(base)))
    val ev = (bot ++ human ++ single)
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Sessionize.botScores(ev, minEvents = 20, maxCv = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(4))).toMap
    assert(out(1L) == ((30L, true)))
    assert(out(2L)._1 == 20L && !out(2L)._2)  // enough events, bursty CV
    assert(out(3L) == ((1L, false)))
  }

  test("saltedJoin: result set identical to the plain join; dim replicates per salt") {
    val fact = Seq((1L, 10.0, 0), (1L, 20.0, 1), (1L, 30.0, 2),
      (2L, 5.0, 3)).toDF("k", "v", "rowid")
    val dim = Seq((1L, "one"), (2L, "two"), (3L, "unmatched"))
      .toDF("k", "name")
    val salted = Bucketing.saltedJoin(fact, dim, "k", salts = 4,
        saltExpr = col("rowid"))
      .select("k", "v", "name")
    val plain = fact.join(dim, Seq("k")).select("k", "v", "name")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // the replicated dim side carries salts × rows before the join
    assert(dim.withColumn("__salt",
      explode(sequence(lit(0), lit(3)))).count() == 12L)
  }

  test("streamClickAttribution: stream-stream interval join attributes in-window clicks only") {
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(m: Long) = new Timestamp(base + m * 60000L)
    val imps = MemoryStream[(Long, Timestamp, Long)]
    val clks = MemoryStream[(Long, Timestamp, Long)]
    val out = Sessionize.streamClickAttribution(
      imps.toDS().toDF("user_id", "ts", "impression_id"),
      clks.toDS().toDF("user_id", "ts", "click_id"),
      windowMinutes = 30L, watermarkMinutes = 10L)
    val q = out.writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts(0), 100L), (1L, ts(5), 101L), (2L, ts(0), 102L))
      clks.addData((1L, ts(20), 900L),  // inside both impressions' windows
        (2L, ts(45), 901L),             // 45m after imp 102 → outside
        (3L, ts(10), 902L))             // no impression for user 3
      q.processAllAvailable()
      val got = spark.table("attr").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(5))).toSet
      assert(got == Set((100L, 900L, 20L * 60000L), (101L, 900L, 15L * 60000L)))
    } finally q.stop()
  }

  test("sccBounded: cycles collapse to min label, DAG nodes stay singleton") {
    // 1⇄2⇄3 cycle (via 1→2→3→1), 4→5 DAG tail, 6⇄7 two-cycle
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 6L)).toDF("s", "d")
    val c = GraphOps.sccBounded(e, "s", "d", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(1L) == 1L && c(2L) == 1L && c(3L) == 1L)
    assert(c(4L) == 4L && c(5L) == 5L)
    assert(c(6L) == 6L && c(7L) == 6L)
  }

  test("ewmaDaily: closed form equals the s_k = αx + (1-α)s recursion with bias correction") {
    val base = 1700000000000L
    val counts = Seq(5, 9, 2, 7, 7, 1, 30, 4)
    val ev = counts.zipWithIndex.flatMap { case (n, day) =>
      Seq.tabulate(n)(j => ((day * 100 + j).toLong, 1L, "view",
        new Timestamp(base + day.toLong * 86400000L)))
    }.toDF("event_id", "user_id", "event_type", "ts")
    val out = Sessionize.ewmaDaily(ev, alpha = 0.3)
      .orderBy("day").collect().map(_.getDouble(3))
    var s = 0.0
    counts.zipWithIndex.foreach { case (x, i) =>
      s = 0.3 * x + 0.7 * s
      val corrected = s / (1.0 - math.pow(0.7, i + 1.0))
      assert(math.abs(out(i) - corrected) < 1e-9, s"day $i")
    }
    // bias correction makes the first smoothed value the raw count
    assert(math.abs(out.head - counts.head) < 1e-9)
  }

  test("datasetCard: metric values on a known tiny corpus") {
    val d = Seq(
      (1L, "the cat sat", "en", "web", 11L),
      (2L, "the cat sat", "en", "web", 11L),   // exact dup
      (3L, "der hund lief schnell", "de", "books", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = Pipeline.datasetCard(d)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("n_docs") == 3.0 && m("n_tokens") == 10.0)
    assert(m("n_sources") == 2.0 && m("n_langs") == 2.0)
    assert(math.abs(m("exact_dup_rate") - (1.0 - 2.0 / 3)) < 1e-6)
    assert(m("p50_tokens") == 3.0 && m("p95_tokens") == 4.0)
  }

  test("prfExpansionTerms: expansion excludes query terms, RM1 weights known") {
    val d = Seq(
      (1L, "spark shuffle join broadcast"),
      (2L, "spark shuffle spill"),
      (3L, "unrelated cooking recipe text")).toDF("doc_id", "text")
    val qs = Seq((0L, "spark")).toDF("query_id", "qtext")
    val out = Retrieval.prfExpansionTerms(d, qs, "text", "doc_id",
        "query_id", "qtext", kDocs = 2, mTerms = 10)
      .collect().map(r => r.getString(1) -> r.getDouble(3)).toMap
    assert(!out.contains("spark"))          // query echo excluded
    assert(!out.contains("cooking"))        // non-feedback doc contributes 0
    // shuffle appears in both feedback docs: 1/4 + 1/3
    assert(math.abs(out("shuffle") - (0.25 + 1.0 / 3)) < 1e-9)
    assert(math.abs(out("join") - 0.25) < 1e-9)
  }

  test("seasonalityR2: pure diurnal signal scores ~1 with the right peak; flat scores 0") {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // diurnal: hour 9 gets 10 events, hour 21 gets 2, over 5 days
    val rows = (0 until 5).flatMap { day =>
      def at(h: Int, n: Int) = Seq.tabulate(n)(j =>
        ("diurnal", new Timestamp(base + (day * 24L + h) * 3600000L + j)))
      at(9, 10) ++ at(21, 2)
    } ++ (0 until 48).map(h =>          // flat: one event every hour
      ("flat", new Timestamp(base + h * 3600000L)))
    val ev = rows.zipWithIndex.map { case ((t, ts), i) =>
      (i.toLong, 1L, t, ts) }.toDF("event_id", "user_id", "event_type", "ts")
    val out = Sessionize.seasonalityR2(ev)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(out("diurnal")._1 > 0.999 && out("diurnal")._2 == 9L)
    assert(out("flat")._1 == 0.0)
  }

  test("assocRules: support/confidence/lift on hand-counted baskets") {
    val base = Timestamp.valueOf("2024-01-01 12:00:00").getTime
    def ev(id: Long, u: Long, day: Int, t: String) =
      (id, u, t, new Timestamp(base + day * 86400000L))
    // baskets: u1d0={A,B}, u1d1={A}, u2d0={A,B,C}, u3d0={C}
    val rows = Seq(ev(1, 1, 0, "A"), ev(2, 1, 0, "B"), ev(3, 1, 1, "A"),
      ev(4, 2, 0, "A"), ev(5, 2, 0, "B"), ev(6, 2, 0, "C"),
      ev(7, 3, 0, "C")).toDF("event_id", "user_id", "event_type", "ts")
    val out = Sessionize.assocRules(rows)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    // N=4 baskets, n(A)=3, n(B)=2, n(AB)=2
    val ab = out(("A", "B"))
    assert(ab._1 == 2L && math.abs(ab._2 - 0.5) < 1e-12)
    assert(math.abs(ab._3 - 2.0 / 3) < 1e-12)
    assert(math.abs(ab._4 - 4.0 * 2 / (3 * 2)) < 1e-12)
    // the reverse direction shares support/lift, has its own confidence
    val ba = out(("B", "A"))
    assert(ba._2 == ab._2 && math.abs(ba._3 - 1.0) < 1e-12 && ba._4 == ab._4)
  }

  test("graphCard: known metrics on a tiny digraph with one reciprocal pair") {
    // edges: 1→2, 2→1 (reciprocal), 1→3, self-loop 3→3 dropped, dup deduped
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 3L), (3L, 3L))
      .toDF("s", "d")
    val m = GraphOps.graphCard(e, "s", "d")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("n_nodes") == 3.0 && m("n_edges") == 3.0)
    assert(math.abs(m("density") - 0.5) < 1e-9)       // 3/(3·2)
    assert(math.abs(m("reciprocity") - 2.0 / 3) < 1e-6)
    assert(m("max_out_degree") == 2.0)
  }

  test("rfmSegments: quintile scores with inverted recency; segment composes digits") {
    val base = 1700000000000L
    // 5 users with increasing recency / decreasing frequency+value
    val rows = (1 to 5).flatMap { u =>
      val n = 6 - u                       // u1 five events ... u5 one
      Seq.tabulate(n)(j => ((u * 100 + j).toLong, u.toLong, "buy",
        new Timestamp(base - u.toLong * 86400000L + j), 10.0 * n))
    }.toDF("event_id", "user_id", "event_type", "ts", "value")
    val out = Sessionize.rfmSegments(rows)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7))).toMap
    // user 1: most recent, most frequent, highest spend → 555
    assert(out(1L)._5 == 555L)
    // user 5: oldest, least frequent, lowest spend → 111
    assert(out(5L)._5 == 111L)
    // recency inverted: user1 r=5 > user5 r=1; digits compose
    out.values.foreach { v =>
      assert(v._5 == v._2 * 100 + v._3 * 10 + v._4)
      assert(v._2 >= 1 && v._2 <= 5)
    }
  }

  test("tokenizerSample: hash-order prefix, crossing doc kept, budget reached") {
    val d = (1L to 50L).map(i => (i, "tok " * 10)).toDF("doc_id", "text")
    val out = Pipeline.tokenizerSample(d, "text", "doc_id", tokenBudget = 95L)
      .collect()
    // 10 tokens per doc, budget 95 → 10 docs (the 10th starts at 90 < 95)
    assert(out.length == 10)
    assert(out.map(_.getLong(2)).max == 100L)
    // deterministic across runs
    val again = Pipeline.tokenizerSample(d, "text", "doc_id", 95L)
      .collect().map(_.getLong(0)).toSet
    assert(again == out.map(_.getLong(0)).toSet)
  }

  test("modalityRoute: magic-byte classes with correct byte accounting") {
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G') ++ Array.fill[Byte](10)(1)
    val jpg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte)
    val txt = "hello".getBytes("UTF-8")
    val d = Seq((1L, png), (2L, jpg), (3L, txt), (4L, png))
      .toDF("id", "payload")
    val out = Multimodal.modalityRoute(d, "payload")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out("image/png") == ((2L, 28L)))
    assert(out("image/jpeg") == ((1L, 4L)))
    assert(out("text/plain") == ((1L, 5L)))
    assert(!out.contains("audio/riff"))
  }

  test("giniByType: uniform values score 0, one whale scores near 1, math pinned") {
    val base = new Timestamp(1700000000000L)
    val rows = ((1 to 4).map(u => (u.toLong, "equal", 10.0)) ++
      Seq((1L, "whale", 1000.0), (2L, "whale", 1.0), (3L, "whale", 1.0),
        (4L, "whale", 1.0)))
      .zipWithIndex.map { case ((u, t, v), i) => (i.toLong, u, t, base, v) }
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val g = Sessionize.giniByType(rows)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(g("equal")) < 1e-12)
    // whale: values (1,1,1,1000) ranks 1..4 → G = 2·(1+2+3+4000)/(4·1003) − 5/4
    val expected = 2.0 * 4006 / (4 * 1003.0) - 1.25
    assert(math.abs(g("whale") - expected) < 1e-9)
  }

  test("farthestPoints: picks spread corners before near-duplicates") {
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)),
      (2L, Array(0.1f, 0.0f)),    // near-dup of 1
      (3L, Array(10.0f, 0.0f)),
      (4L, Array(0.0f, 10.0f)),
      (5L, Array(10.0f, 10.0f)))
      .toDF("vec_id", "embedding")
    val sel = Similarity.farthestPoints(vecs, "embedding", "vec_id", k = 4)
      .orderBy("sel_idx").collect().map(_.getLong(1))
    // the four corners are chosen before the near-duplicate of the seed
    assert(sel.toSet == Set(1L, 3L, 4L, 5L) || sel.toSet == Set(2L, 3L, 4L, 5L))
    assert(!sel.toSet.contains(1L) || !sel.toSet.contains(2L))
    // deterministic
    val again = Similarity.farthestPoints(vecs, "embedding", "vec_id", 4)
      .orderBy("sel_idx").collect().map(_.getLong(1))
    assert(again.toSeq == sel.toSeq)
  }

  test("ngramNovelty: first doc fully novel, copy fully stale, short doc vacuous") {
    val d = Seq(
      (1L, "a b c d e f"),       // grams: abcde, bcdef → both novel
      (2L, "a b c d e f"),       // exact copy → novelty 0
      (3L, "x y z w v a b c d e"), // one stale gram (abcde), others novel
      (4L, "tiny"))              // < n tokens → vacuous 1.0
      .toDF("doc_id", "text")
    val out = TextOps.ngramNovelty(d, "text", "doc_id", n = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 0L, 0.0)))
    assert(out(3L)._1 == 6L && out(3L)._2 == 5L)
    assert(out(4L) == ((0L, 0L, 1.0)))
  }

  test("filteredTopK: predicate applies before top-k — survivors always satisfy it") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), "a"),
      (2L, Array(0.99f, 0.1f), "b"),   // closest but wrong label
      (3L, Array(0.8f, 0.6f), "a"),
      (4L, Array(0.0f, 1.0f), "a"))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.filteredTopK(vecs,
        vecs.where(col("vec_id") === 1L), "embedding", "vec_id",
        metaCols = Seq("label"), k = 2,
        predicate = col("c_label") === col("q_label"))
      .orderBy("rank").collect().map(_.getLong(1))
    // 2 is excluded by the label filter despite the best cosine
    assert(out.toSeq == Seq(3L, 4L))
  }

  test("streamingLatest: latest-wins state across batches matches the batch CDC winners") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[ChangeData.Change]
    val q = ChangeData.streamingLatest(mem.toDS())
      .writeStream.format("memory").queryName("cdcl")
      .outputMode("update").start()
    try {
      mem.addData(ChangeData.Change(1L, 1L, "U", "one-a"),
        ChangeData.Change(2L, 1L, "U", "two"))
      q.processAllAvailable()
      mem.addData(ChangeData.Change(1L, 2L, "U", "one-b"),
        ChangeData.Change(2L, 0L, "U", "stale"),   // below retained seq
        ChangeData.Change(3L, 1L, "D", "gone"))
      q.processAllAvailable()
      val emitted = spark.table("cdcl").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      // latest emission per key = the latest-wins winner; stale never emits
      val latest = emitted.groupBy(_._1).map { case (k, rs) =>
        k -> rs.maxBy(_._2) }
      assert(latest(1L) == ((1L, 2L, "U", "one-b")))
      assert(latest(2L) == ((2L, 1L, "U", "two")))
      assert(latest(3L)._3 == "D")
      assert(!emitted.exists(_._4 == "stale"))
    } finally q.stop()
  }

  test("streamingScd2: replay reduced per (key, valid_from) equals " +
      "the batch scd2 (round 15)") {
    import graft.ops.ChangeData.Scd2Obs
    def ts(m: Long) = new java.sql.Timestamp(m * 1000L)
    // key 1: a→a→b→a (re-observation extends, two changes);
    // key 2: x only (one open episode); the slicing cuts mid-episode
    val obs = Seq(
      Scd2Obs(1L, "a", ts(10), 1L), Scd2Obs(2L, "x", ts(11), 2L),
      Scd2Obs(1L, "a", ts(20), 3L), Scd2Obs(1L, "b", ts(30), 4L),
      Scd2Obs(1L, "a", ts(40), 5L), Scd2Obs(2L, "x", ts(41), 6L))
    val replay = graft.streaming.Replay.run(spark,
        obs.grouped(2).toSeq, "update") {
      ds => ChangeData.streamingScd2(ds).toDF()
    }
    val reduced = replay
      .groupBy("key", "attr", "valid_from")
      .agg(min(col("valid_to")).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("key"), col("attr"), col("valid_from"),
        col("valid_to"), col("is_current"))
      .orderBy("key", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4)))
    val batch = ChangeData.scd2(
        obs.toDF("key", "attr", "ts", "tie"), "key", Seq("attr"),
        "ts", "tie")
      .orderBy("key", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4)))
    assert(reduced.toSeq == batch.toSeq)
    // shape sanity: key 1 has episodes a[10,30) b[30,40) a[40,∞);
    // a CLOSED episode emits exactly once across the whole replay
    assert(reduced.count(_._1 == 1L) == 3)
    val closedEmissions = replay
      .where(col("valid_to").isNotNull).collect()
    assert(closedEmissions.length == 2)
  }

  test("deterministicWalks: hops follow edges, deterministic, revisits allowed") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L)).toDF("a", "b")
    val nbrs = Map(1L -> Set(2L, 3L), 2L -> Set(1L, 3L, 4L),
      3L -> Set(1L, 2L), 4L -> Set(2L))
    val w = GraphOps.deterministicWalks(e, "a", "b", Seq(1L, 4L).toDF("s"),
        steps = 4)
      .orderBy("start", "step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(w.length == 10) // 2 walks × (1 + 4 steps)
    // every hop is a real edge
    w.groupBy(_._1).values.foreach { walk =>
      walk.sortBy(_._2).sliding(2).foreach { p =>
        if (p.length == 2) assert(nbrs(p(0)._3).contains(p(1)._3))
      }
    }
    val again = GraphOps.deterministicWalks(e, "a", "b",
        Seq(1L, 4L).toDF("s"), steps = 4)
      .orderBy("start", "step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == w.toSeq)
  }

  test("canaryRecall: verbatim plants are always caught; clean corpus has no incidentals") {
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today"))
      .toDF("doc_id", "text")
    val corpus = Seq((10L, "completely unrelated text about spark shuffles"),
      (11L, "another unrelated document on query planning"))
      .toDF("doc_id", "text")
    val r = Pipeline.canaryRecall(corpus, bench, "text", "doc_id").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 0L && r.getDouble(3) == 1.0)
  }

  test("jaroWinklerPairs: near names pair, cross-block pairs never generate") {
    val d = Seq((1L, "jonathan smith"), (2L, "jonathon smith"),
      (3L, "jonathan smith"),              // duplicate value — dedupes
      (4L, "bob jones"), (5L, "different person"))
      .toDF("id", "name")
    val out = Dedup.jaroWinklerPairs(d, "name", threshold = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(out.length == 1)
    assert(out.head._1 == "jonathan smith" && out.head._2 == "jonathon smith")
    assert(out.head._3 > 0.9 && out.head._3 < 1.0)
  }

  test("retentionHalfLife: planted exponential decay recovers its half-life") {
    val base = 1700000000000L
    // 64 users day 0; halve activity each day: 32 on day 1, 16 on day 2…
    val rows = (0 until 6).flatMap { day =>
      (0 until (64 >> day)).map(u => (day * 1000L + u, u.toLong,
        "view", new Timestamp(base + day.toLong * 86400000L)))
    }.toDF("event_id", "user_id", "event_type", "ts")
    val r = Sessionize.retentionHalfLife(rows).head()
    assert(r.getLong(0) == 5L)                       // offsets 1..5
    assert(math.abs(r.getDouble(1) - (-math.log(2.0))) < 1e-9) // slope −ln2
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)    // half-life 1 day
  }

  test("sourceLooValue: removing the bad source raises the mean; deltas consistent") {
    val mk = (src: String, q: String, n: Int, off: Int) =>
      (0 until n).map(i => ((off + i).toLong, q, src, q.length.toLong))
    val good = "the cat and the dog sat in a house of mist and it is warm " +
      "today for all of us"
    val bad = "zzzz"
    val d = (mk("good", good, 8, 0) ++ mk("bad", bad, 2, 100))
      .toDF("doc_id", "text", "source", "n_chars")
    val out = Pipeline.sourceLooValue(d)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(out("good")._1 > out("bad")._1)
    assert(out("good")._2 > 0 && out("bad")._2 < 0)
  }

  test("behaviorEntropy: single-type user is 0 bits, uniform k-type user is log2 k") {
    val base = new Timestamp(1700000000000L)
    val rows = (Seq.fill(8)((1L, "view")) ++
      Seq((2L, "view"), (2L, "click"), (2L, "purchase"), (2L, "signup")))
      .zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t, base) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Sessionize.behaviorEntropy(rows)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(math.abs(out(1L)) < 1e-12)
    assert(math.abs(out(2L) - 2.0) < 1e-12)
  }

  test("groupCorrelation: perfect linear is 1/1, perfect monotone-nonlinear keeps spearman 1") {
    val lin = (1 to 20).map(i => ("lin", i.toLong, i.toDouble, 2.0 * i + 3))
    val cube = (1 to 20).map(i => ("cube", 100L + i,
      i.toDouble, math.pow(i.toDouble, 3)))
    val anti = (1 to 20).map(i => ("anti", 200L + i, i.toDouble, -i.toDouble))
    val d = (lin ++ cube ++ anti).toDF("g", "id", "x", "y")
    val out = Pipeline.groupCorrelation(d, "g", "x", "y", "id")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(math.abs(out("lin")._1 - 1.0) < 1e-9)
    assert(math.abs(out("lin")._2 - 1.0) < 1e-9)
    assert(out("cube")._1 < 1.0 - 1e-6)            // nonlinear dents Pearson
    assert(math.abs(out("cube")._2 - 1.0) < 1e-9)  // Spearman holds
    assert(math.abs(out("anti")._2 + 1.0) < 1e-9)
  }

  test("ivfRecallCurve: recall non-decreasing in nProbe, exact at full probes") {
    val vecs = (0 until 64).map { i =>
      val ang = i * 0.1
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat,
        (i % 7).toFloat / 7f, (i % 3).toFloat / 3f))
    }.toDF("vec_id", "embedding")
    val qs = vecs.where(col("vec_id") < 4)
    val curve = Similarity.ivfRecallCurve(vecs, qs, "embedding", "vec_id",
        k = 3, nCentroids = 8, probes = Seq(1, 2, 4, 8))
      .orderBy("n_probe").collect().map(r => r.getDouble(1))
    assert(curve.sliding(2).forall(w => w.length < 2 || w(0) <= w(1) + 1e-12))
    assert(math.abs(curve.last - 1.0) < 1e-12)
  }

  test("partitionPlanAdvisory: verdicts for coarse, skewed, and sane layouts") {
    val d = (
      (0 until 900).map(i => (i.toLong, "hot", i % 30, i % 2)) ++
      (0 until 100).map(i => (1000L + i, s"cold_$i", 100 + i % 30, i % 2))
    ).toDF("id", "skewed_col", "sane_col", "coarse_col")
    val r = Bucketing.partitionPlanAdvisory(d,
        Seq("skewed_col", "sane_col", "coarse_col"),
        targetRowsPerFile = 100L, maxPartitions = 200L)
      .collect().map(x => x.getString(0) -> x.getString(8)).toMap
    // 'hot' holds 900 of 1000 rows over 101 keys → skew ≈ 91
    assert(r("skewed_col") == "skewed")
    assert(r("coarse_col") == "too_coarse") // 2 values
    assert(r("sane_col") == "ok")           // 60 balanced keys
    // a tighter directory budget trips the partition-count verdict
    val tight = Bucketing.partitionPlanAdvisory(d, Seq("sane_col"),
        targetRowsPerFile = 100L, maxPartitions = 50L)
      .collect().head.getString(8)
    assert(tight == "too_many_partitions")
    // file estimate: 900-row partition at target 100 → 9 files
    val est = Bucketing.partitionPlanAdvisory(d, Seq("skewed_col"),
        targetRowsPerFile = 100L)
      .collect().head
    assert(est.getLong(6) == 9L + 100L) // 9 for 'hot' + 1 per cold key
    intercept[IllegalArgumentException](
      Bucketing.partitionPlanAdvisory(d, Seq.empty, 100L))
  }

  test("filterCascadeReport: sequential funnel and unique rejections") {
    val d = Seq(
      (1L, 10, true),   // fails len only → len's UNIQUE rejection
      (2L, 200, false), // fails ok only → ok's UNIQUE rejection
      (3L, 200, true),  // passes all
      (4L, 10, false)   // fails both → unique to NEITHER stage
    ).toDF("id", "len", "ok")
    val r = Pipeline.filterCascadeReport(d, Seq(
        "len" -> (col("len") >= 100), "ok" -> col("ok")))
      .orderBy("stage_no").collect()
    assert(r(0).getString(1) == "len" && r(0).getLong(2) == 4 &&
      r(0).getLong(3) == 2 && r(0).getLong(5) == 1)
    assert(r(1).getString(1) == "ok" && r(1).getLong(2) == 2 &&
      r(1).getLong(3) == 1 && r(1).getLong(5) == 1)
    // null predicate values count as failures, never as passes
    val dn = Seq((1L, Some(true)), (2L, None: Option[Boolean]))
      .toDF("id", "ok")
    val rn = Pipeline.filterCascadeReport(dn, Seq("ok" -> col("ok")))
      .collect()
    assert(rn(0).getLong(2) == 2 && rn(0).getLong(3) == 1)
    intercept[IllegalArgumentException](
      Pipeline.filterCascadeReport(d, Seq.empty))
    intercept[IllegalArgumentException](
      Pipeline.filterCascadeReport(d,
        Seq("a" -> col("ok"), "a" -> col("ok"))))
  }

  test("weightedSssp: cheaper-but-longer route wins; negative weight typed") {
    // s→a(1), a→b(1), s→b(5): b settles at 2 through the longer route
    // (a hop-count shortest path would pick the direct 5); c→d is
    // disconnected from s and never appears
    val e = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (0L, 2L, 5.0),
      (3L, 4L, 1.0)).toDF("src", "dst", "w")
    val src = Seq(0L).toDF("id")
    val out = GraphOps.weightedSssp(e, "src", "dst", "w", src)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(0L -> 0.0, 1L -> 1.0, 2L -> 2.0))
    // a later round can IMPROVE an already-settled node (the diamond
    // where the cheap route arrives one round later)
    val e2 = Seq((0L, 1L, 10.0), (0L, 2L, 1.0), (2L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val out2 = GraphOps.weightedSssp(e2, "src", "dst", "w", src)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out2 == Map(0L -> 0.0, 1L -> 2.0, 2L -> 1.0))
    // multi-source: min over the sources' cones
    val ms = GraphOps.weightedSssp(e, "src", "dst", "w",
        Seq(0L, 3L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ms == Map(0L -> 0.0, 1L -> 1.0, 2L -> 2.0, 3L -> 0.0,
      4L -> 1.0))
    // negative weights fail typed up front
    intercept[GraphContractViolation](GraphOps.weightedSssp(
      Seq((0L, 1L, -1.0)).toDF("src", "dst", "w"), "src", "dst", "w",
      src).collect())
    // non-convergence guard trips typed, never loops
    intercept[GraphContractViolation](GraphOps.weightedSssp(
      e2, "src", "dst", "w", src, maxIter = 1).collect())
  }

  test("weightedSsspTree: preds follow the cheapest route; ties take " +
      "the smallest pred in the id's NATIVE order") {
    // s→a(1), a→b(1), s→b(5): b's pred is a (via the cheap route)
    val e = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (0L, 2L, 5.0))
      .toDF("src", "dst", "w")
    val src = Seq(0L).toDF("id")
    val t = GraphOps.weightedSsspTree(e, "src", "dst", "w", src)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    assert(t == Map(0L -> ((0.0, None)), 1L -> ((1.0, Some(0L))),
      2L -> ((2.0, Some(1L)))))
    // equal-cost diamond: 0→1→3 and 0→2→3 both cost 2; pred of 3 is
    // the smaller id 1; the source keeps its null pred
    val e2 = Seq((0L, 1L, 1.0), (0L, 2L, 1.0), (1L, 3L, 1.0),
      (2L, 3L, 1.0)).toDF("src", "dst", "w")
    val t2 = GraphOps.weightedSsspTree(e2, "src", "dst", "w", src)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(t2(3L) == Some(1L) && t2(0L).isEmpty)
    // NUMERIC tie-break: preds 9 and 10 both reach 100 at cost 1 —
    // native Long order picks 9 (lexicographic "10" < "9" would not)
    val e3 = Seq((0L, 9L, 0.5), (0L, 10L, 0.5), (9L, 100L, 0.5),
      (10L, 100L, 0.5)).toDF("src", "dst", "w")
    val t3 = GraphOps.weightedSsspTree(e3, "src", "dst", "w", src)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(t3(100L) == Some(9L))
    // tree dists agree with weightedSssp
    val d1 = GraphOps.weightedSssp(e2, "src", "dst", "w", src)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val d2 = GraphOps.weightedSsspTree(e2, "src", "dst", "w", src)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d1 == d2)
  }

  test("ssspRoutes: every node's cheapest route, source at pos 0") {
    // s→a(1), a→b(1), s→b(5): b's route is s, a, b
    val e = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (0L, 2L, 5.0))
      .toDF("src", "dst", "w")
    val tree = GraphOps.weightedSsspTree(e, "src", "dst", "w",
      Seq(0L).toDF("id"))
    val routes = GraphOps.ssspRoutes(tree)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(routes("0") == Seq("0"))
    assert(routes("1") == Seq("0", "1"))
    assert(routes("2") == Seq("0", "1", "2"))
    // a hand-mangled cyclic tree fails typed instead of looping
    val cyc = Seq(("x", 1.0, "y"), ("y", 1.0, "x"))
      .toDF("node", "dist", "pred")
    intercept[GraphContractViolation](
      GraphOps.ssspRoutes(cyc, maxIter = 5).collect())
  }

  test("ivfRetrainAdvisory: in-distribution append vs drifted rebuild") {
    val built = (0 until 64).map { i =>
      val ang = i * 0.1
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat,
        (i % 7).toFloat / 7f, (i % 3).toFloat / 3f))
    }.toDF("vec_id", "embedding")
    val qs = built.where(col("vec_id") < 4)
    // an in-distribution batch (the same generator, shifted ids):
    // geometry holds, the operating point probes most lists → append
    val sameDist = (64 until 80).map { i =>
      val ang = (i - 64) * 0.1
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat,
        ((i - 64) % 7).toFloat / 7f, ((i - 64) % 3).toFloat / 3f))
    }.toDF("vec_id", "embedding")
    val ok = Similarity.ivfRetrainAdvisory(built, sameDist, qs,
      "embedding", "vec_id", k = 3, nCentroids = 8, nProbe = 8).head()
    assert(ok.getLong(0) == 64L && ok.getLong(1) == 16L)
    assert(ok.getDouble(3) == 1.0)        // recall at full probes
    assert(ok.getDouble(4) > 0.95)        // mean drift cosine held
    assert(ok.getString(6) == "append")
    // a far-off-distribution batch 3x the build size drags every
    // list's centroid off the frozen geometry → rebuild
    val drifted = (100 until 292).map { i =>
      (i.toLong, Array(-50f + (i % 5), 80f, -30f, 60f))
    }.toDF("vec_id", "embedding")
    val bad = Similarity.ivfRetrainAdvisory(built, drifted, qs,
      "embedding", "vec_id", k = 3, nCentroids = 8, nProbe = 1).head()
    assert(bad.getString(6) == "rebuild")
    assert(bad.getDouble(2) == 3.0)       // growth 192/64
  }

  test("appendPqIndex: appended index probes identically to from-scratch") {
    val all = (0 until 64).map { i =>
      val ang = i * 0.17
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat,
        (i % 5).toFloat / 5f, (i % 3).toFloat / 3f))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(all, "embedding", "vec_id",
      m = 2, ksub = 8)
    val qs = all.where(col("vec_id") < 4)
    val p1 = java.nio.file.Files.createTempDirectory("pq_full").toString
    Similarity.writePqIndex(all, "embedding", "vec_id", cb, p1)
    val p2 = java.nio.file.Files.createTempDirectory("pq_app").toString
    Similarity.writePqIndex(all.where(col("vec_id") % 2 === 0),
      "embedding", "vec_id", cb, p2)
    Similarity.appendPqIndex(all.where(col("vec_id") % 2 === 1),
      "embedding", "vec_id", cb, p2)
    def probe(p: String) = Similarity.pqProbeIndex(spark.read.parquet(p),
        qs, "embedding", "vec_id", k = 3, cb, shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    assert(probe(p2) == probe(p1) && probe(p1).nonEmpty)
  }

  test("pqRetrainAdvisory: in-distribution append vs drifted rebuild") {
    val built = (0 until 64).map { i =>
      val ang = i * 0.1
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat,
        (i % 7).toFloat / 7f, (i % 3).toFloat / 3f))
    }.toDF("vec_id", "embedding")
    val qs = built.where(col("vec_id") < 4)
    // same generator, shifted ids: reconstruction error holds and the
    // full shortlist keeps recall → append
    val sameDist = (64 until 80).map { i =>
      val ang = (i - 64) * 0.1
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat,
        ((i - 64) % 7).toFloat / 7f, ((i - 64) % 3).toFloat / 3f))
    }.toDF("vec_id", "embedding")
    val ok = Similarity.pqRetrainAdvisory(built, sameDist, qs,
      "embedding", "vec_id", k = 3, m = 2, ksub = 16,
      shortlist = 80).head()
    assert(ok.getLong(0) == 64L && ok.getLong(1) == 16L)
    assert(ok.getDouble(3) == 1.0) // recall at a corpus-wide shortlist
    assert(ok.getString(7) == "append")
    // a far-off-distribution batch quantizes terribly under the frozen
    // codebooks: recon_drift explodes → rebuild
    val drifted = (100 until 116).map { i =>
      (i.toLong, Array(-50f + (i % 5), 80f, -30f, 60f))
    }.toDF("vec_id", "embedding")
    val bad = Similarity.pqRetrainAdvisory(built, drifted, qs,
      "embedding", "vec_id", k = 3, m = 2, ksub = 16,
      shortlist = 80).head()
    assert(bad.getDouble(6) > 1.5) // recon_drift
    assert(bad.getString(7) == "rebuild")
    // tiny corpus: built ∪ batch has fewer than k+1 vectors, so truth
    // has < k rows per query — recall divides by the ACTUAL truth-row
    // count (round-13 advice), so a perfect probe still reads 1.0
    // instead of understating into a spurious 'rebuild'
    val tinyB = built.where(col("vec_id") < 2)
    val tinyBatch = sameDist.where(col("vec_id") < 65)
    val tiny = Similarity.pqRetrainAdvisory(tinyB, tinyBatch,
      tinyB.where(col("vec_id") < 1), "embedding", "vec_id",
      k = 5, m = 2, ksub = 16, shortlist = 80).head()
    // 3 vectors total, 1 query → 2 truth rows, never 5
    assert(tiny.getDouble(3) == 1.0)
    assert(tiny.getString(7) == "append")
  }

  test("markovEntropyRate: deterministic cycle is 0 bits; fair coin chain is 1 bit") {
    def ev(rows: Seq[(Long, Long, String)]): DataFrame =
      rows.map { case (id, u, t) =>
        (id, u, t, new Timestamp(1700000000000L + id * 1000)) }
        .toDF("event_id", "user_id", "event_type", "ts")
    val cyc = ev((0 until 12).map(i =>
      (i.toLong, 1L, if (i % 2 == 0) "A" else "B")))
    val r1 = Sessionize.markovEntropyRate(cyc).head()
    assert(r1.getLong(0) == 2L && math.abs(r1.getDouble(1)) < 1e-12)
    // A→A and A→B equally often (fair coin from A; B always returns to A)
    val coin = ev(Seq("A","A","A","B","A","A","A","B","A")
      .zipWithIndex.map { case (t, i) => (i.toLong, 1L, t) })
    val r2 = Sessionize.markovEntropyRate(coin).head()
    assert(r2.getDouble(1) > 0.5 && r2.getDouble(1) <= 1.0)
  }

  test("thresholdSweep: counts are cumulative-from-above, zero-fill at strict cuts") {
    val A = "the quick brown fox jumps over the lazy dog near the river"
    val d = Seq((1L, A), (2L, A),                       // jaccard 1.0
      (3L, A + " bank"),                                // high but < 1
      (4L, "totally different words entirely here")).toDF("doc_id", "text")
    val out = Dedup.thresholdSweep(d, "text", "doc_id", n = 3)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(out(0.9) >= 1L)                 // the exact pair survives 0.9
    assert(out.keySet == Set(0.5, 0.6, 0.7, 0.8, 0.9))
    val sorted = out.toSeq.sortBy(_._1).map(_._2)
    assert(sorted.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("oodScores: a planted far point flags, tight cluster members do not") {
    val tight = (0 until 20).map(i =>
      (i.toLong, Array(1.0f + i * 0.001f, 2.0f), 1))
    val far = Seq((99L, Array(50.0f, -40.0f), 1))
    val d = (tight ++ far).toDF("vec_id", "embedding", "label")
    val out = Similarity.oodScores(d, "embedding", "vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out(99L))
    assert(tight.forall(t => !out(t._1)))
  }

  test("scriptCensus: mixed-script fractions and dominant routing") {
    val r = spark.range(1).select(
      TextOps.scriptCensus(lit("hello 中文 мир")).as("s")).select("s.*").head()
    assert(r.getAs[Long]("n_cjk") == 2L)
    assert(r.getAs[Long]("n_latin") == 5L)
    assert(r.getAs[Long]("n_cyrillic") == 3L)
    assert(r.getAs[String]("dominant") == "latin")
    val c = spark.range(1).select(
      TextOps.scriptCensus(lit("中文本")).as("s")).select("s.*").head()
    assert(c.getAs[String]("dominant") == "cjk")
    val e = spark.range(1).select(
      TextOps.scriptCensus(lit("123 !?")).as("s")).select("s.*").head()
    assert(e.getAs[String]("dominant") == "none")
  }

  test("parse-or-quarantine split runs unchanged on a stream (stateless)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val parsed = from_json(col("props"), "k INT", Map.empty[String, String])
    val out = mem.toDS().toDF("event_id", "props")
      .select(col("event_id"),
        when(parsed.isNull || parsed.getField("k").isNull,
          lit("quarantined")).otherwise(lit("parsed")).as("status"))
    val q = out.writeStream.format("memory").queryName("squar")
      .outputMode("append").start()
    try {
      mem.addData((1L, """{"k": 5}"""), (2L, """{{"k": 5}"""),
        (3L, """{"other": 1}"""))
      q.processAllAvailable()
      val got = spark.table("squar").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "parsed", 2L -> "quarantined",
        3L -> "quarantined"))
    } finally q.stop()
  }

  test("kTruss valve: valved == unvalved on a hub-free graph; hub edges drop under the cap") {
    // hub-free: K4 + pendant triangle (max degree 4 on node 4)
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("a", "b")
    val un = GraphOps.kTruss(e, "a", "b", k = 4, rounds = 2)
      .orderBy("lo", "hi").collect().map(r => (r.getLong(0), r.getLong(1)))
    val v = GraphOps.kTruss(e, "a", "b", k = 4, rounds = 2,
        maxDegree = Some(10))
      .orderBy("lo", "hi").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(v.toSeq == un.toSeq)
    val exv = GraphOps.kTrussExact(e, "a", "b", k = 4, maxDegree = Some(10))
      .orderBy("lo", "hi").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exv.toSeq == un.toSeq)
    // hub graph: K4 plus a degree-20 hub fanning out of node 1; capping
    // at 5 removes the hub's edges, leaving exactly the K4 truss
    val hub = (101L to 120L).map(x => (1L, x))
    val he = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)) ++ hub).toDF("a", "b")
    val capped = GraphOps.kTrussExact(he, "a", "b", k = 4,
        maxDegree = Some(25))
      .orderBy("lo", "hi").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq == Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    // cap below node 1's degree (23): its edges drop pre-peel, so no
    // triangle survives k=4 (nodes 2,3,4 alone hold one triangle)
    assert(GraphOps.kTrussExact(he, "a", "b", k = 4,
      maxDegree = Some(5)).count() == 0L)
  }

  test("sccBounded guard: dense mutual-reach graph trips GraphContractViolation; g18-shape untouched") {
    // complete bidirectional graph on 12 nodes: closure = 132 ordered
    // pairs immediately, over a 100-row bound
    val n = 12
    val dense = (for { a <- 1 to n; b <- 1 to n if a != b }
      yield (a.toLong, b.toLong)).toDF("s", "d")
    val ex = intercept[GraphContractViolation] {
      GraphOps.sccBounded(dense, "s", "d", rounds = 3,
        maxClosureRows = 100L)
    }
    assert(ex.getMessage.contains("maxClosureRows=100"))
    assert(ex.getMessage.contains("round 1"))
    // the contract-honoring case still works under the same bound
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("s", "d")
    val c = GraphOps.sccBounded(e, "s", "d", rounds = 3,
        maxClosureRows = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(1L) == 1L && c(2L) == 1L && c(3L) == 1L && c(4L) == 4L)
  }

  test("valveAdvisory: hub graph gets sqrt(2E) caps, hub-free gets none; scc bound scales with E") {
    // star hub: node 0 -> 1..40 plus a small chain; max degree 40,
    // sqrt(2*42) ~ 10 -> caps recommended
    val hubEdges = ((1L to 40L).map(x => (0L, x)) ++ Seq((41L, 42L),
      (42L, 43L))).toDF("s", "d")
    val a = GraphOps.valveAdvisory(GraphOps.graphCard(hubEdges, "s", "d"))
    assert(a.maxDegree.nonEmpty && a.maxPivotDegree == a.maxDegree)
    assert(a.maxDegree.get == math.ceil(math.sqrt(2.0 * a.nEdges)).toInt)
    assert(a.observedMaxDegree == 40L && a.nEdges == 42L)
    assert(a.sccMaxClosureRows == 64L * 42L)
    // cycle: every degree 1 (directed out-degree), no hub -> no caps
    val ring = (1 to 20).map(i => (i.toLong, (i % 20 + 1).toLong))
      .toDF("s", "d")
    val b = GraphOps.valveAdvisory(GraphOps.graphCard(ring, "s", "d"))
    assert(b.maxDegree.isEmpty && b.maxPivotDegree.isEmpty)
  }

  test("applyChangeFeed: seq ties resolve deterministically, upsert beats delete; streaming agrees") {
    val snap = Seq((1L, "one"), (2L, "two")).toDF("id", "name")
    // id=1: D and U tied at seq 5 -> exactly one winner, the upsert
    // id=2: two upserts tied at seq 5 -> the greater payload, once
    val feed = Seq(
      (1L, null.asInstanceOf[String], "D", 5L),
      (1L, "one-up", "U", 5L),
      (2L, "two-a", "U", 5L),
      (2L, "two-b", "U", 5L))
      .toDF("id", "name", "op", "seq")
    val out = ChangeData.applyChangeFeed(snap, feed, "id", "seq")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "one-up"), (2L, "two-b")))

    // streaming twin: same (seq, op, payload) order -> same winners
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ChangeData.Change]
    val q = ChangeData.streamingLatest(mem.toDS())
      .writeStream.format("memory").queryName("tieslatest")
      .outputMode("update").start()
    try {
      mem.addData(
        ChangeData.Change(1L, 5L, "D", ""),
        ChangeData.Change(1L, 5L, "U", "one-up"),
        ChangeData.Change(2L, 5L, "U", "two-a"),
        ChangeData.Change(2L, 5L, "U", "two-b"))
      q.processAllAvailable()
      // a replay of the losing tie rows must be a no-op
      mem.addData(ChangeData.Change(1L, 5L, "D", ""),
        ChangeData.Change(2L, 5L, "U", "two-a"))
      q.processAllAvailable()
      val rows = spark.table("tieslatest").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      // exactly one emission per key, matching the batch winners
      assert(rows.sorted.toSeq == Seq((1L, 5L, "U", "one-up"),
        (2L, 5L, "U", "two-b")))
    } finally q.stop()
  }

  test("applyChangeFeed: null-seq change rows are dropped, not merged") {
    val snap = Seq((1L, "one"), (2L, "two")).toDF("id", "name")
    // id=1: only null-seq changes -> key untouched, snapshot row stays
    // id=2: null-seq delete loses to a real-seq upsert it would have
    //       beaten under struct-max-with-nulls
    // id=3: only a null-seq insert -> never lands
    val feed = Seq(
      (1L, "one-null", "U", null.asInstanceOf[java.lang.Long]),
      (2L, null.asInstanceOf[String], "D", null.asInstanceOf[java.lang.Long]),
      (2L, "two-up", "U", java.lang.Long.valueOf(1L)),
      (3L, "three", "U", null.asInstanceOf[java.lang.Long]))
      .toDF("id", "name", "op", "seq")
    val out = ChangeData.applyChangeFeed(snap, feed, "id", "seq")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "one"), (2L, "two-up")))
  }

  test("mortonCode: negative dimensions raise, nulls propagate null") {
    val ex = intercept[Exception] {
      spark.range(1).select(Bucketing.mortonCode(lit(-1), lit(3), 4)).head()
    }
    assert(ex.getMessage.contains("negative dimension") ||
      Option(ex.getCause).exists(_.getMessage.contains("negative dimension")))
    val r = Seq((Some(3), Some(5)), (None, Some(2)))
      .toDF("x", "y")
      .select(Bucketing.mortonCode(col("x"), col("y"), 4).as("m"))
      .orderBy(col("m").asc_nulls_last).collect()
    assert(r(0).getLong(0) == 39L) // interleave(3,5) = 39
    assert(r(1).isNullAt(0))
  }

  test("payloadNearDups: exact dup at dist 0, 1-byte flip nearby, disjoint apart") {
    import org.apache.spark.sql.functions._
    val base = (0 until 120).map(i => s"w$i").mkString(" ")
    val flip = base.updated(base.length / 2, 'Z')
    val other = (0 until 120).map(i => s"x${i * 7}").mkString("_")
    val df = Seq((1L, base), (2L, base), (3L, flip), (4L, other))
      .toDF("id", "s")
      .select(col("id"), encode(col("s"), "UTF-8").as("p"))
    val pairs = Multimodal.payloadNearDups(df, "id", "p", maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exact duplicates MUST surface at dist 0 (identical fingerprints)
    assert(pairs.contains((1L, 2L, 0L)))
    // a single flipped byte shifts few gram-majorities: near, not far
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 <= 8L))
    // the disjoint payload pairs with nothing
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // canonical pair set: unique, id_a < id_b
    assert(pairs.forall(p => p._1 < p._2) &&
      pairs.map(p => (p._1, p._2)).distinct.length == pairs.length)
  }

  test("modalityRoute: EXIF (FF D8 FF E1) and JFIF (FF D8 FF E0) both route image/jpeg") {
    val jfif = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0xe0.toByte, 0x10, 0x20)
    val exif = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0xe1.toByte, 0x30)
    val raw = "plain text".getBytes("UTF-8")
    val d = Seq((1L, jfif), (2L, exif), (3L, raw)).toDF("id", "payload")
    val got = Multimodal.modalityRoute(d, "payload").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("image/jpeg") == 2L)
    assert(got("text/plain") == 1L)
  }

  test("curationFrontier: all 9 threshold rows present, zero-filled when no doc clears") {
    // empty-ish corpus: quality of "" is low, so high deciles are empty
    val d = Seq((1L, "x y", 3L), (2L, "z w", 3L))
      .toDF("doc_id", "text", "n_chars")
    val rows = Pipeline.curationFrontier(d).orderBy("threshold").collect()
    assert(rows.length == 9)
    assert(rows.map(_.getDouble(0)).toSeq ==
      (1 to 9).map(_ / 10.0).toSeq)
    // cumulative-from-above: n_docs non-increasing with threshold
    val counts = rows.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // the top decile of a 2-tiny-doc corpus must be zero-filled (not
    // absent) if nothing clears it
    val last = rows.last
    if (last.getLong(1) == 0L) {
      assert(last.getLong(2) == 0L)
      assert(last.getDouble(3) == 0.0 && last.getDouble(4) == 0.0)
    }
  }

  test("orientedTriangles: degree-ordered enumeration matches known counts, hub-safe uncapped") {
    def tc(pairs: Seq[(Long, Long)]): Long =
      GraphOps.triangleCount(pairs.toDF("a", "b"), "a", "b")
        .head().getLong(0)
    // K5: C(5,3) = 10 triangles
    val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    assert(tc(k5) == 10L)
    // star (hub of degree 40, no closure): 0 — and fast without a cap
    val star = (1L to 40L).map(x => (0L, x))
    assert(tc(star) == 0L)
    // star + one leaf-leaf edge closes exactly one triangle
    assert(tc(star :+ (1L, 2L)) == 1L)
    // K4 + pendant triangle: 4 + 1 = 5 (duplicate/reversed edges dedupe)
    val k4p = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
    assert(tc(k4p) == 5L)
    // clusteringCoefficient rides the same enumeration: K4 corners are
    // fully closed (coeff 1.0), the bridge node 4 is not
    val cc = GraphOps.clusteringCoefficient(k4p.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(cc(1L) == 1.0 && cc(2L) == 1.0 && cc(3L) == 1.0)
    assert(cc(4L) < 1.0 && cc(5L) == 1.0 && cc(6L) == 1.0)
  }

  test("property: triangleCount matches brute force on random graphs") {
    // deterministic pseudo-random edge sets (seeded LCG), brute-force
    // reference computed driver-side
    var seed = 0x9E3779B97F4A7C15L
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound + bound) % bound).toInt
    }
    for (trial <- 1 to 5) {
      val n = 8 + nextInt(8)
      val m = 10 + nextInt(30)
      val pairs = (1 to m).map(_ => (nextInt(n).toLong, nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      if (pairs.nonEmpty) {
        // brute triangles over the canonical undirected set
        val undirected = pairs.map(p =>
          (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
        val nodes = undirected.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
        def adj(a: Long, b: Long) =
          undirected((math.min(a, b), math.max(a, b)))
        val brute = (for {
          i <- nodes.indices; j <- (i + 1) until nodes.size
          k <- (j + 1) until nodes.size
          if adj(nodes(i), nodes(j)) && adj(nodes(j), nodes(k)) &&
            adj(nodes(i), nodes(k))
        } yield 1).size.toLong
        val got = GraphOps.triangleCount(pairs.toDF("a", "b"), "a", "b")
          .head().getLong(0)
        assert(got == brute, s"trial $trial: triangles $got vs $brute")
      }
    }
  }

  test("valveAdvisory: empty graph yields no caps, no crash") {
    val empty = Seq.empty[(Long, Long)].toDF("s", "d")
    val a = GraphOps.valveAdvisory(GraphOps.graphCard(empty, "s", "d"))
    assert(a.maxDegree.isEmpty && a.nEdges == 0L && a.nNodes == 0L)
    assert(a.sccMaxClosureRows >= 1L)
  }

  test("Replay.timeChunks edge cases: empty input, more chunks than items") {
    import graft.streaming.Replay
    assert(Replay.timeChunks(Seq.empty[Int], 3) == Seq(Seq.empty[Int]))
    val tiny = Replay.timeChunks(Seq(1, 2), 5)
    assert(tiny.flatten == Seq(1, 2))
    assert(tiny.forall(_.nonEmpty))
    val even = Replay.timeChunks((1 to 10).toSeq, 3)
    assert(even.flatten == (1 to 10).toSeq && even.size <= 4)
  }

  test("Replay.runForeachBatch: empty batches keep batch ids aligned") {
    import graft.streaming.Replay
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    Replay.runForeachBatch[Int](spark,
      Seq(Seq(1, 2), Seq.empty, Seq(3), Seq.empty, Seq(4, 5, 6))) {
      (ds, id) => seen += ((id, ds.count()))
    }
    // one callback per caller batch, ids in caller order, empties fire
    assert(seen.toSeq == Seq((0L, 2L), (1L, 0L), (2L, 1L),
      (3L, 0L), (4L, 3L)))
  }

  test("bcastIf is byte-aware: a wide frame is not hinted even under " +
      "the row bound (round 17; VERDICT-r16 #6)") {
    import org.apache.spark.sql.types._
    // slim loop frame (two longs, ~32 B estimated): hinted at 1M rows
    val slim = Seq((1L, 2L)).toDF("__src", "__dst")
    assert(!(GraphOps.bcastIf(slim, 1000000L) eq slim),
      "slim frame under both bounds must carry the broadcast hint")
    // wide frame: 40 string columns estimate ~808 B/row -> ~770 MB at
    // 1M rows, far past spark.graft.broadcastBytes (128 MB default) -
    // must come back UNHINTED (same reference) despite rows <= 1M
    val wideSchema = StructType((1 to 40).map(i =>
      StructField(s"c$i", StringType)))
    val wide = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      wideSchema)
    assert(GraphOps.estRowBytes(wideSchema) * 1000000L >
      128L * 1024 * 1024)
    assert(GraphOps.bcastIf(wide, 1000000L) eq wide,
      "wide frame past the byte budget must keep the planner's plan")
    // the same wide frame IS hinted when its row count is small
    assert(!(GraphOps.bcastIf(wide, 1000L) eq wide))
    // containers are charged per ~8 elements, not defaultSize's 1
    val arrSchema = StructType(Seq(
      StructField("a", ArrayType(StringType))))
    assert(GraphOps.estRowBytes(arrSchema) >= 8 * 20)
  }
}
