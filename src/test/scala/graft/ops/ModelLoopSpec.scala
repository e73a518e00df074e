package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The Spark-core model loops of [[Similarity]] — `kmeansAssign`,
 * `topPcProjection` and `farthestPoints` — against their DataFrame
 * formulations, copied below as the references: random corpora with
 * null elements, null and empty vectors, ragged lengths and
 * repartitioned input; grid-valued corpora make distance ties common.
 * Rows and schemas (nullability included) must be equal, and an input
 * the reference fails on must fail.
 *
 * The power iterations ([[Fixpoint.power]]: PageRank plain, personalized
 * and weighted, HITS, `markovStationary`) against a plain-Scala power
 * iteration on random graphs, and on empty ones.
 */
class ModelLoopSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  // ---------------------------------- the DataFrame references

  private def kmeansRef(df: DataFrame, vecCol: String, idCol: String,
      k: Int, iterations: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = df.select(col(idCol).cast(LongType).as("__vid"),
        posexplode(col(vecCol)).as(Seq("__i", "__v0")))
      .select(col("__vid"), col("__i"), col("__v0").cast("double").as("__v"))
      .localCheckpoint()
    val seedIds = df.select(col(idCol).cast(LongType).as("i"))
      .orderBy(Hashing.mulHash(col("i")), col("i")).limit(k)
      .collect().map(_.getLong(0))
    val seedDf = broadcast(seedIds.toIndexedSeq.zipWithIndex
      .map { case (v, c) => (v, c.toLong) }.toDF("__vid", "__c"))
    var cent = x.join(seedDf, Seq("__vid"))
      .select(col("__c"), col("__i"), col("__v").as("__cv"))
      .localCheckpoint()
    var assign: DataFrame = null
    for (it <- 1 to iterations) {
      val d = x.join(broadcast(cent), Seq("__i"))
        .groupBy(col("__vid"), col("__c"))
        .agg(sum(pow(col("__v") - col("__cv"), 2)).as("__d"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__vid")).orderBy(round(col("__d"), 9), col("__c"))
      assign = d.withColumn("__rk", row_number().over(w))
        .where(col("__rk") === 1)
        .select(col("__vid"), col("__c"), col("__d"))
        .localCheckpoint()
      if (it < iterations)
        cent = assign.join(x, Seq("__vid"))
          .groupBy(col("__c"), col("__i"))
          .agg(round(avg(col("__v")), 6).as("__cv"))
          .localCheckpoint()
    }
    assign.select(col("__vid").as(idCol), col("__c").as("cluster"),
      round(col("__d"), 6).as("dist"))
  }

  private def topPcRef(df: DataFrame, vecCol: String, idCol: String,
      iterations: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dims = df.select(size(col(vecCol)).as("d")).head().getInt(0)
    require(dims >= 1, s"empty vectors in $vecCol")
    val x = df.select(col(idCol).as("__vid"),
        posexplode(col(vecCol)).as(Seq("__i", "__v0")))
      .select(col("__vid"), col("__i"), col("__v0").cast("double").as("__v"))
    val mu = x.groupBy(col("__i")).agg(avg(col("__v")).as("__m"))
    val xc = x.join(mu, Seq("__i"))
      .select(col("__vid"), col("__i"), (col("__v") - col("__m")).as("__v"))
      .localCheckpoint()
    var v: Array[Double] = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    for (_ <- 1 to iterations) {
      val vDf = broadcast(v.toIndexedSeq.zipWithIndex
        .map { case (vi, i) => (i, vi) }.toDF("__i", "__vi"))
      val d = xc.join(vDf, Seq("__i"))
        .groupBy(col("__vid"))
        .agg(sum(col("__v") * col("__vi")).as("__d"))
      val s = xc.join(d, Seq("__vid"))
        .groupBy(col("__i")).agg(sum(col("__v") * col("__d")).as("__s"))
        .orderBy(col("__i"))
        .collect().map(_.getDouble(1))
      val nrm = math.sqrt(s.map(e => e * e).sum)
      require(nrm > 0.0, "degenerate corpus: zero-variance along iterate")
      v = s.map(e => BigDecimal(e / nrm)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val vDf = broadcast(v.toIndexedSeq.zipWithIndex
      .map { case (vi, i) => (i, vi) }.toDF("__i", "__vi"))
    xc.join(vDf, Seq("__i"))
      .groupBy(col("__vid").as(idCol))
      .agg(round(sum(col("__v") * col("__vi")), 6).as("pc1"))
  }

  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, t) => acc + t)

  private def farthestRef(corpus: DataFrame, vecCol: String, idCol: String,
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast(LongType).as("__vid"),
      col(vecCol).cast("array<double>").as("__v"))
    val seed = base
      .orderBy(Hashing.mulHash(col("__vid")), col("__vid"))
      .limit(1).collect()(0)
    var chosen = Vector[(Long, Seq[Double])](
      (seed.getLong(0), seed.getSeq[Double](1)))
    while (chosen.length < k) {
      val chosenDf = broadcast(chosen.map(_._2).zipWithIndex
        .map { case (v, i) => (i, v) }.toDF("__ci", "__cv"))
      val dTo = (v: Column, c: Column) =>
        round(dotD(v, v) - lit(2.0) * dotD(v, c) + dotD(c, c), 9)
      val next = base
        .join(broadcast(chosen.map(_._1).toDF("__vid")), Seq("__vid"),
          "left_anti")
        .crossJoin(chosenDf)
        .groupBy(col("__vid")).agg(min(dTo(col("__v"), col("__cv")))
          .as("__d"), first(col("__v")).as("__v"))
        .orderBy(col("__d").desc, col("__vid"))
        .limit(1).collect()(0)
      chosen = chosen :+ ((next.getLong(0), next.getSeq[Double](2)))
    }
    chosen.map(_._1).zipWithIndex
      .map { case (id, i) => (i.toLong, id) }
      .toDF("sel_idx", "vec_id")
  }

  // ---------------------------------------------------- corpora

  /** `n` rows of unique, shuffled ids (typed `idType`) and float vectors
    * of `dims` elements, or 1 to `dims` when `ragged`; each element is
    * null at `nullRate`. `grid` values are multiples of 0.5 in [0, 4),
    * so distances tie often; otherwise they are uniform in [0, 1).
    * `holes` makes one vector null and one empty. */
  private def corpus(seed: Int, n: Int, dims: Int, ragged: Boolean,
      nullRate: Double, grid: Boolean, holes: Boolean = false,
      idType: DataType = LongType): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0 until n).map(_ * 7L + 3))
    val rows = ids.zipWithIndex.map { case (id, i) =>
      val vec: Seq[java.lang.Float] =
        if (holes && i == n - 1) null
        else if (holes && i == n - 2) Seq.empty
        else Seq.fill(if (ragged) 1 + rnd.nextInt(dims) else dims) {
          if (rnd.nextDouble() < nullRate) null
          else java.lang.Float.valueOf(
            if (grid) rnd.nextInt(8) / 2f else rnd.nextFloat())
        }
      Row(if (idType == IntegerType) id.toInt else id, vec)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("vec_id", idType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true)))))
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `mine` equals `ref` in schema and rows, or both throw. Returns
    * whether the reference answered. */
  private def same(what: String)(ref: => DataFrame, mine: => DataFrame)
      : Boolean = {
    val r = scala.util.Try { val d = ref; (d.schema, sorted(d)) }
    val m = scala.util.Try { val d = mine; (d.schema, sorted(d)) }
    assert(r.isSuccess == m.isSuccess,
      s"$what: reference ${r.fold(_.toString, _ => "answered")}, " +
        s"kernel ${m.fold(_.toString, _ => "answered")}")
    for (rr <- r; mm <- m) {
      assert(mm._1 == rr._1, s"$what: schema")
      assert(mm._2 == rr._2, s"$what: rows")
    }
    r.isSuccess
  }

  // ------------------------------------------------------ units

  test("kmeansAssign matches its DataFrame formulation: nulls, ragged, " +
      "repartitioned; k 1-3 and k >= rows; iterations 1-3") {
    val cases = Seq(
      (corpus(1, 12, 4, ragged = false, 0.0, grid = true), 1, 1),
      (corpus(2, 15, 5, ragged = true, 0.15, grid = true, holes = true), 3, 3),
      (corpus(3, 14, 4, ragged = true, 0.1, grid = false, holes = true)
        .repartition(3), 2, 2),
      (corpus(4, 5, 3, ragged = true, 0.2, grid = true, holes = true), 7, 2))
    for (((df, k, iters), i) <- cases.zipWithIndex)
      assert(same(s"case $i (k $k, iterations $iters)")(
        kmeansRef(df, "embedding", "vec_id", k, iters),
        Similarity.kmeansAssign(df, "embedding", "vec_id", k, iters)))
  }

  test("topPcProjection matches its DataFrame formulation: nulls, ragged, " +
      "repartitioned, int ids; iterations 1-3") {
    val cases = Seq(
      (corpus(11, 12, 4, ragged = false, 0.0, grid = false), 1),
      (corpus(12, 16, 5, ragged = true, 0.1, grid = false, holes = true), 2),
      (corpus(13, 10, 3, ragged = false, 0.2, grid = true,
        idType = IntegerType).repartition(3), 3),
      (corpus(14, 9, 4, ragged = true, 0.0, grid = true), 2))
    val answered = cases.zipWithIndex.count { case ((df, iters), i) =>
      same(s"case $i (iterations $iters)")(
        topPcRef(df, "embedding", "vec_id", iters),
        Similarity.topPcProjection(df, "embedding", "vec_id", iters))
    }
    assert(answered == cases.size)
    // a dimension whose every element is null, and a null first vector
    val allNull = corpus(15, 6, 3, ragged = false, 0.0, grid = false)
      .withColumn("embedding", array(col("embedding")(0), col("embedding")(1),
        lit(null).cast(FloatType)))
    val nullFirst = corpus(16, 6, 3, ragged = false, 0.0, grid = false,
      holes = true).orderBy(size(col("embedding")))
    for ((df, i) <- Seq(allNull, nullFirst).zipWithIndex)
      assert(!same(s"failing case $i")(
        topPcRef(df, "embedding", "vec_id", 2),
        Similarity.topPcProjection(df, "embedding", "vec_id", 2)))
  }

  test("farthestPoints matches its DataFrame formulation: nulls, ragged, " +
      "repartitioned; k 1-3, k = rows, k past the rows fails") {
    val cases = Seq(
      (corpus(21, 10, 3, ragged = false, 0.0, grid = true), 1),
      (corpus(22, 12, 4, ragged = true, 0.1, grid = true, holes = true), 3),
      (corpus(23, 11, 4, ragged = false, 0.15, grid = false)
        .repartition(3), 2),
      // k = rows picks every vector; the reference cannot hold a
      // chosen vector that is null or has a null element (its toDF of
      // the chosen vectors rejects them), so this corpus has neither
      (corpus(24, 6, 3, ragged = true, 0.0, grid = true)
        .repartition(2), 6))
    for (((df, k), i) <- cases.zipWithIndex)
      assert(same(s"case $i (k $k)")(
        farthestRef(df, "embedding", "vec_id", k),
        Similarity.farthestPoints(df, "embedding", "vec_id", k)))
    val small = corpus(25, 3, 2, ragged = false, 0.0, grid = false)
    assert(!same("k past the rows")(
      farthestRef(small, "embedding", "vec_id", 4),
      Similarity.farthestPoints(small, "embedding", "vec_id", 4)))
  }

  // ------------------------------------------------ power iterations

  /** x,,r,,(v) = (1 − d)·tele(v)/n + d·Σ,,u→v,, x,,r−1,,(u)·p(u, v) in
    * plain Scala over the (u, v, w) edges `es`: parallel edges sum their
    * weights (`sum`) or count once, p is w over u's out-weight when
    * `stochastic`, and teleport lands on every node or on `tele`'s.
    * `normalize` divides each round by its L1 total, keeping the last
    * vector when that is 0; `reverse` alternates with the reversed edges
    * and keeps the last two vectors. */
  private def powerRef[K](es: Seq[(K, K, Double)], tele: Option[Set[K]],
      rounds: Int, d: Double, normalize: Boolean, sum: Boolean,
      stochastic: Boolean, reverse: Boolean): Map[Any, Seq[Double]] = {
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val w = es.groupMapReduce(e => (e._1, e._2))(_._3)(
      (a, b) => if (sum) a + b else a)
    val outW = w.groupMapReduce(_._1._1)(_._2)(_ + _)
    val p = w.map { case ((u, v), x) =>
      ((u, v), if (stochastic) x / outW(u) else x) }
    val tl = nodes.map(v => v -> tele.fold(1.0)(s => if (s(v)) 1.0 else 0.0))
      .toMap
    val n = tl.values.sum
    var xs = List(tl.map { case (v, t) => (v, t / n) })
    for (r <- 1 to rounds) {
      val fwd = !reverse || r % 2 == 1
      val x = xs.head
      val y = nodes.map(v => v -> ((1 - d) * tl(v) / n + d * p.collect {
        case ((a, b), q) if (if (fwd) b else a) == v => x(if (fwd) a else b) * q
      }.sum)).toMap
      val tot = y.values.sum
      xs = (if (!normalize) y else if (tot > 0) y.map(kv => (kv._1, kv._2 / tot))
            else x) :: xs
    }
    nodes.map(v => (v: Any) ->
      (if (reverse) Seq(xs(1)(v), xs.head(v)) else Seq(xs.head(v)))).toMap
  }

  /** `got`'s (node, values…) rows are `want`'s, to 1e-9. */
  private def near(what: String, got: DataFrame, want: Map[Any, Seq[Double]])
      : Unit = {
    val g = got.collect().map(r => r.get(0) ->
      (1 until r.length).map(r.getDouble)).toMap
    assert(g.keySet == want.keySet, s"$what: nodes")
    for ((k, v) <- want; (a, b) <- g(k).zip(v))
      assert(math.abs(a - b) <= 1e-9, s"$what: node $k: $a, want $b")
  }

  /** Random (u, v, w) edges over `n` nodes: parallel edges, a self-loop
    * and a sink among them, weights in {0.5, 1.5, 2.5, 3.5}. */
  private def randomEdges(seed: Int, n: Int, m: Int): Seq[(Long, Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
      0.5 + rnd.nextInt(4)))
    es ++ es.take(3).map(e => e.copy(_3 = e._3 + 1)) ++
      Seq((1L, 1L, 2.0), (2L, n.toLong, 1.5))
  }

  /** Events whose per-user type sequences are `seqs`, in order. */
  private def events(seqs: Seq[Seq[String]]): DataFrame = {
    val rows = seqs.zipWithIndex.flatMap { case (ts, u) =>
      ts.zipWithIndex.map { case (t, i) =>
        val id = u * 100L + i
        Row(id, u.toLong, t, new java.sql.Timestamp(1700000000000L + id * 1000))
      }
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType))))
  }

  test("the power iterations match a plain-Scala power iteration: " +
      "PageRank plain, personalized (int sources) and weighted, HITS, Markov") {
    import spark.implicits._
    for (seed <- 1 to 2) {
      val es = randomEdges(seed, 10, 24)
      val df = es.toDF("s", "d", "w").repartition(3)
      val ones = es.map(e => (e._1, e._2, 1.0))
      val srcs = Seq(Some(1), Some(3), Some(99), None).toDF("n")
      near(s"pageRank $seed", GraphOps.pageRank(df, "s", "d", 4),
        powerRef(ones, None, 4, 0.85, false, false, true, false))
      val ppr = GraphOps.personalizedPageRank(df, "s", "d", srcs, 3, 0.8)
      assert(ppr.schema("node").dataType == LongType)
      near(s"personalizedPageRank $seed", ppr,
        powerRef(ones, Some(Set(1L, 3L)), 3, 0.8, false, false, true, false))
      near(s"pageRankWeighted $seed",
        GraphOps.pageRankWeighted(df, "s", "d", "w", 5),
        powerRef(es, None, 5, 0.85, false, true, true, false))
      near(s"hits $seed", GraphOps.hits(df, "s", "d", 3),
        powerRef(ones, None, 6, 1.0, true, false, false, true))
    }
    // a cyclic chain, and one whose mass drains into the absorbing D
    val rnd = new scala.util.Random(5)
    val cyclic = Seq.fill(6)(Seq.fill(2 + rnd.nextInt(5))(
      "ABCE".charAt(rnd.nextInt(4)).toString))
    val draining = Seq.fill(6)(
      (Seq("A", "B", "C").filter(_ => rnd.nextBoolean()) :+ "D"))
      .map(s => if (s.size == 1) "A" +: s else s)
    for ((what, seqs) <- Seq("cyclic" -> cyclic, "draining" -> draining)) {
      val trans = seqs.flatMap(s => s.zip(s.tail))
        .groupMapReduce(identity)(_ => 1.0)(_ + _)
        .map { case ((f, t), c) => (f, t, c) }.toSeq
      val want = powerRef(trans, None, 6, 1.0, true, true, true, false)
      if (what == "draining") assert(want("D") == Seq(1.0))
      near(s"markovStationary $what",
        Sessionize.markovStationary(events(seqs), iterations = 6), want)
    }
  }

  test("an empty graph: PageRank fails as empty, personalized PageRank " +
      "wants a source, HITS and markovStationary have no rows") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long, Double)].toDF("s", "d", "w")
    val nullEnds = Seq((Some(1L), None, 1.0), (None, Some(2L), 1.0))
      .toDF("s", "d", "w")
    def msg(f: => DataFrame): String =
      intercept[IllegalArgumentException](f.collect()).getMessage
    for (e <- Seq(none, nullEnds)) {
      assert(msg(GraphOps.pageRank(e, "s", "d")).contains("empty graph"))
      assert(msg(GraphOps.personalizedPageRank(e, "s", "d",
        Seq(1L).toDF("n"))).contains("needs >= 1 source in the graph"))
      assert(msg(GraphOps.pageRankWeighted(e, "s", "d", "w"))
        .contains("empty graph"))
      assert(GraphOps.hits(e, "s", "d").collect().isEmpty)
    }
    for (ev <- Seq(events(Nil), events(Seq(Seq(null, null, null)))))
      assert(Sessionize.markovStationary(ev).collect().isEmpty)
  }
}
