package graft.cypher

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.ops.{Fixpoint, GraphContractViolation, GraphOps}

/**
 * The reach, DAG-check, BFS, k-core and shortest-path loops on the
 * [[graft.ops.Fixpoint]] executors: the in-memory and the RDD executor
 * agree with each other and with brute-force references on random
 * graphs, every typed guard
 * keeps its exact message on both, and the job budget holds — on the
 * cluster a fixed setup count plus ONE job per round and per walk step,
 * so per-round Catalyst work shows up as a failing unit; in driver
 * memory no round job at all.
 */
class FixpointKernelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** `body` with the driver executor off: every loop runs on the
    * cluster. */
  private def kernel[A](body: => A): A = {
    spark.conf.set(Reach.DriverRowsConf, "0")
    try body finally spark.conf.unset(Reach.DriverRowsConf)
  }

  private def withConf[A](key: String, v: String)(body: => A): A = {
    spark.conf.set(key, v)
    try body finally spark.conf.unset(key)
  }

  /** Sorted row renderings: a multiset comparison of two frames. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Runs `f` on the in-memory and on the RDD executor; both must
    * agree. Returns the rows. */
  private def same(what: String)(f: => DataFrame): Seq[Row] = {
    val drv = f.collect().toSeq
    val ker = kernel(rowsOf(f))
    assert(ker == drv.map(_.toString).sorted,
      s"$what: in-memory ≠ RDD executor")
    drv
  }

  private def bag[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  /** Every minimal path out of each seed over the distinct edges, as
    * (src, dst, length, nodes): BFS distances, then every walk that
    * steps one distance level at a time. */
  private def minimalPaths(es: Seq[(Long, Long)], seeds: Seq[Long])
      : Seq[(Long, Long, Long, List[Long])] = {
    val out = es.distinct.groupMap(_._1)(_._2)
    seeds.distinct.flatMap { s =>
      val dist = mutable.Map.empty[Long, Long]
      var front = Seq(s)
      var d = 0L
      while (front.nonEmpty) {
        d += 1
        front = front.flatMap(out.getOrElse(_, Nil)).distinct
          .filterNot(dist.contains)
        front.foreach(dist(_) = d)
      }
      def grow(path: List[Long], i: Long)
          : Seq[(Long, Long, Long, List[Long])] =
        out.getOrElse(path.head, Nil)
          .filter(w => dist.get(w).contains(i + 1)).flatMap { w =>
            val p = w :: path
            (s, w, i + 1, p.reverse) +: grow(p, i + 1)
          }
      grow(List(s), 0)
    }
  }

  /** Walk counts per (seed, node, length) on a DAG, each edge row a
    * distinct hop (parallel edges multiply). */
  private def walkCounts(es: Seq[(Long, Long)], seeds: Seq[Long])
      : Map[(Long, Long, Long), Long] = {
    val out = es.groupMap(_._1)(_._2)
    seeds.distinct.flatMap { s =>
      var level = Map(s -> 1L)
      var len = 0L
      val acc = mutable.ArrayBuffer.empty[((Long, Long, Long), Long)]
      while (level.nonEmpty) {
        len += 1
        level = level.toSeq.flatMap { case (u, c) =>
          out.getOrElse(u, Nil).map(w => (w, c))
        }.groupMapReduce(_._1)(_._2)(_ + _)
        level.foreach { case (w, c) => acc += (((s, w, len), c)) }
      }
      acc
    }.toMap
  }

  /** Walked witness paths as (src, dst, dist, ids) rows of long ids. */
  private def pathRows(ps: Fixpoint.Rows[Reach.WitnessPath]): DataFrame = {
    import org.apache.spark.sql.types._
    Fixpoint.frame(spark, ps.map(p => Row(p.src, p.dst, p.dist, p.ids)),
      StructType(Seq(StructField("__src", LongType),
        StructField("__dst", LongType), StructField("__dist", LongType),
        StructField("__wids", ArrayType(LongType)))))
  }

  private def witnessRow(r: Row): (Long, Long, Long, List[Long]) =
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3).toList)

  private final class Lcg(var s: Long) {
    def next(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % bound + bound) % bound).toInt
    }
  }

  // ------------------ in-memory ≡ RDD executor ≡ brute force

  test("in-memory ≡ RDD executor: reach pairs, parents, witness walks " +
      "and σ rows on random cyclic graphs, against brute force") {
    import spark.implicits._
    val rnd = new Lcg(0x5DEECE66DL)
    for (trial <- 1 to 4) {
      val n = 6 + rnd.next(8)
      val es = (1 to 8 + rnd.next(20))
        .map(_ => (rnd.next(n).toLong, rnd.next(n).toLong))
      val edges = es.toDF("s", "d")
      val seedIds = Seq(rnd.next(n).toLong, rnd.next(n).toLong)
      val seeds = seedIds.toDF("id")
      val minimal = minimalPaths(es, seedIds)
      same(s"trial $trial closure")(
        Reach.reachablePairs(edges, "s", "d", withDist = true))
      same(s"trial $trial witnesses")(pathRows(Reach.reconstructWitnessIds(
        Reach.reachablePairs(edges, "s", "d", seeds = Some(seeds),
          withDist = true, withParent = true))))
      val all = same(s"trial $trial all-parents witnesses") {
        val (pairs, parents, bound) =
          Reach.allParentsPairs(edges, "s", "d", Some(seeds))
        pathRows(Reach.reconstructAllWitnessIds(pairs, parents, bound))
      }
      assert(bag(all.map(witnessRow)) == bag(minimal),
        s"trial $trial: all-parents witnesses ≠ every minimal path")
      val sigma = same(s"trial $trial σ rows")(
        Reach.allShortestWitnesses(edges, "s", "d", seeds))
      assert(bag(sigma.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))) ==
        bag(minimal.map(p => (p._1, p._2, p._3))),
        s"trial $trial: σ rows ≠ one per minimal path")
    }
  }

  test("in-memory ≡ RDD executor: k-level levels and walks on random " +
      "DAGs with parallel edges, levels against brute force") {
    import spark.implicits._
    val rnd = new Lcg(42L)
    for (trial <- 1 to 3; (kind, k) <- Seq(("groups", 2), ("shortest", 3),
        (Reach.WalkKind, 1))) {
      val n = 6 + rnd.next(6)
      val es = (1 to 10 + rnd.next(12)).map { _ =>
        val a = rnd.next(n - 1)
        (a.toLong, (a + 1 + rnd.next(n - 1 - a)).toLong)
      }
      val edges = es.toDF("s", "d")
      val seedIds = Seq(0L, rnd.next(n).toLong)
      val seeds = seedIds.toDF("id")
      val levels = same(s"trial $trial $kind $k levels")(
        Reach.kLevelLevels(edges, "s", "d", Some(seeds), kind, k,
          withParents = false)._1)
      assert(levels.map(r => (r.getLong(0), r.getLong(1), r.getLong(3)) ->
          r.getLong(2)).toMap == walkCounts(es, seedIds),
        s"trial $trial: levels ≠ walk counts")
      same(s"trial $trial $kind $k") {
        val (levels, parents, bound) = Reach.kLevelLevels(edges, "s", "d",
          Some(seeds), kind, k, withParents = true)
        val chosen = Reach.kLevelTrim(levels, kind, k)
        pathRows(Reach.kLevelWalk(chosen, parents.get, bound, kind, k))
      }
    }
  }

  test("kernel shortest-path tree and routes match a brute-force " +
      "relaxation with min-pred ties") {
    import spark.implicits._
    val rnd = new Lcg(7L)
    for (trial <- 1 to 3) {
      val n = 8
      val es = (1 to 20).map(_ =>
        (rnd.next(n).toLong, rnd.next(n).toLong, rnd.next(3).toDouble + 1))
      // Bellman-Ford to the fixpoint, ties on the smaller pred
      val best = scala.collection.mutable.Map[Long, (Double, Option[Long])](
        0L -> (0.0, None))
      var changed = true
      while (changed) {
        changed = false
        for ((s, d, w) <- es; (ds, _) <- best.get(s)) {
          val cand = (ds + w, Some(s))
          val better = best.get(d).forall { case (od, op) =>
            cand._1 < od || (cand._1 == od && op.exists(s < _))
          }
          if (better) { best(d) = cand; changed = true }
        }
      }
      val tree = GraphOps.weightedSsspTree(es.toDF("s", "d", "w"),
        "s", "d", "w", Seq(0L).toDF("id"))
      assert(tree.collect().map(r => r.getLong(0) ->
          (r.getDouble(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
        .toMap == best.toMap, s"trial $trial tree")
      assert(GraphOps.weightedSssp(es.toDF("s", "d", "w"), "s", "d", "w",
          Seq(0L).toDF("id")).collect().map(r => r.getLong(0) -> r.getDouble(1))
        .toMap == best.view.mapValues(_._1).toMap, s"trial $trial dists")
      def route(v: Long): List[Long] =
        best(v)._2.fold(List(v))(p => route(p) :+ v)
      val routes = GraphOps.ssspRoutes(tree).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
      assert(routes == best.keys.flatMap(v => route(v).zipWithIndex.map {
        case (h, i) => (v.toString, i, h.toString)
      }).toSet, s"trial $trial routes")
    }
  }

  test("a graph past the advisory partition size regroups onto a " +
      "wider loop and still matches the driver twins") {
    import spark.implicits._
    val rnd = new Lcg(11L)
    val n = 12
    val edges = (1 to 30).map { _ =>
      val a = rnd.next(n - 1)
      (a.toLong, (a + 1 + rnd.next(n - 1 - a)).toLong)
    }.toDF("s", "d")
    val seeds = Seq(0L, 3L).toDF("id")
    val weighted = edges.withColumn("w",
      org.apache.spark.sql.functions.lit(1.0))
    val base = rowsOf(GraphOps.weightedSsspTree(weighted, "s", "d", "w",
      seeds))
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    // 30 edges at 3 (of 64 bytes) per partition: 10 partitions past
    // the base 4
    try withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "192b") {
      val tags = jobs.during {
        same("closure")(Reach.reachablePairs(edges, "s", "d",
          withDist = true))
        same("witnesses")(pathRows(Reach.reconstructWitnessIds(
          Reach.reachablePairs(edges, "s", "d", seeds = Some(seeds),
            withDist = true, withParent = true))))
        same("all-parents witnesses") {
          val (pairs, parents, bound) =
            Reach.allParentsPairs(edges, "s", "d", Some(seeds))
          pathRows(Reach.reconstructAllWitnessIds(pairs, parents, bound))
        }
        same("k-level walk") {
          val (levels, parents, bound) = Reach.kLevelLevels(edges, "s",
            "d", Some(seeds), "groups", 2, withParents = true)
          pathRows(Reach.kLevelWalk(Reach.kLevelTrim(levels, "groups", 2),
            parents.get, bound, "groups", 2))
        }
        assert(rowsOf(GraphOps.weightedSsspTree(weighted, "s", "d", "w",
          seeds)) == base, "shortest-path tree")
      }
      for (loop <- Seq("reach", "allParents", "kLevel", "weightedSsspTree"))
        assert(tags.contains(s"$loop:regroup"), s"$loop did not regroup")
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  /** True when a cycle is reachable from `from` (every node when
    * None): a depth-first search that meets a node still on its stack. */
  private def cyclicFrom(es: Seq[(Long, Long)], from: Option[Seq[Long]])
      : Boolean = {
    val out = es.groupMap(_._1)(_._2)
    val done = mutable.Set.empty[Long]
    val onStack = mutable.Set.empty[Long]
    def dfs(v: Long): Boolean =
      if (onStack(v)) true
      else if (done(v)) false
      else {
        onStack += v
        val hit = out.getOrElse(v, Nil).exists(dfs)
        onStack -= v
        done += v
        hit
      }
    from.getOrElse(es.flatMap(e => Seq(e._1, e._2))).distinct.exists(dfs)
  }

  private val dagWhat = "a k > 1 path selector (GROUPS 2)"
  private val cyclicMsg = s"$dagWhat over a CYCLIC graph — the k-level " +
    "lowering counts walks, which revisit edges beyond the minimal " +
    "length; bound the range [*lo..hi] for exact trail semantics"

  /** The k-level levels of `es` from `seeds` (every source when None)
    * as walk counts, or the DAG check's rejection. */
  private def dagChecked(es: Seq[(Long, Long)], seeds: Option[Seq[Long]])
      : Either[String, Map[(Long, Long, Long), Long]] = {
    import spark.implicits._
    try Right(Reach.kLevelLevels(es.toDF("s", "d"), "s", "d",
        seeds.map(_.toDF("id")), "groups", 2, withParents = false)._1
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)) ->
        r.getLong(2)).toMap)
    catch { case e: GraphContractViolation => Left(e.getMessage) }
  }

  test("the DAG check agrees with a depth-first search on both " +
      "executors: random DAGs and cyclic graphs, anchored and not") {
    val rnd = new Lcg(99L)
    def expect(es: Seq[(Long, Long)], seeds: Option[Seq[Long]],
        what: String): Unit = {
      val want =
        if (cyclicFrom(es, seeds)) Left(cyclicMsg)
        else Right(walkCounts(es, seeds.getOrElse(es.map(_._1))))
      assert(dagChecked(es, seeds) == want, s"$what: in-memory")
      assert(kernel(dagChecked(es, seeds)) == want, s"$what: RDD executor")
    }
    for (trial <- 1 to 6) {
      val n = 5 + rnd.next(6)
      val dag = trial % 2 == 1
      val es = (1 to 6 + rnd.next(10)).map { _ =>
        if (dag) {
          val a = rnd.next(n - 1)
          (a.toLong, (a + 1 + rnd.next(n - 1 - a)).toLong)
        } else (rnd.next(n).toLong, rnd.next(n).toLong)
      }
      expect(es, Some(Seq(rnd.next(n).toLong, rnd.next(n).toLong)),
        s"trial $trial anchored")
      expect(es, None, s"trial $trial unanchored")
    }
    // a cycle in the seed's cone rejects; one upstream of the cone,
    // feeding one of its nodes, does not
    val cone = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    expect(cone :+ ((3L, 1L)), Some(Seq(0L)), "cycle in the cone")
    expect(cone ++ Seq((5L, 6L), (6L, 5L), (6L, 2L)), Some(Seq(0L)),
      "cycle outside the cone")
    expect(cone ++ Seq((5L, 6L), (6L, 5L), (6L, 2L)), None,
      "unanchored over a cycle")
    expect(cone :+ ((2L, 2L)), Some(Seq(0L)), "self-loop in the cone")
  }

  test("the DAG check's cone answers on both executors under a small " +
      "maxClosureRows") {
    // the seed's cone is a 12-node cycle: 12 reach pairs from the seed,
    // past the bound — the cone is peeled, never closed into pairs
    val ring = (0L until 12L).map(i => (i, (i + 1) % 12)) :+ ((20L, 21L))
    withConf(Reach.MaxClosureRowsConf, "5") {
      assert(dagChecked(ring, Some(Seq(0L))) == Left(cyclicMsg))
      assert(kernel(dagChecked(ring, Some(Seq(0L)))) == Left(cyclicMsg))
    }
  }

  test("bfsDistances matches a brute-force BFS: cycles, self-loops, " +
      "duplicate and null sources, long and string ids") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val rnd = new Lcg(5L)
    def brute(es: Seq[(Long, Long)], srcs: Seq[Long], maxHops: Int)
        : Map[Long, Long] = {
      val out = es.groupMap(_._1)(_._2)
      val dist = mutable.Map(srcs.distinct.map(_ -> 0L): _*)
      var front = srcs.distinct
      for (h <- 1 to maxHops) {
        front = front.flatMap(out.getOrElse(_, Nil)).distinct
          .filterNot(dist.contains)
        front.foreach(dist(_) = h.toLong)
      }
      dist.toMap
    }
    for (trial <- 1 to 3; maxHops <- Seq(1, 2, 3, 40)) {
      val n = 6 + rnd.next(8)
      val es = (1 to 6 + rnd.next(14))
        .map(_ => (rnd.next(n).toLong, rnd.next(n).toLong)) :+ ((1L, 1L))
      val srcs = Seq(rnd.next(n).toLong, rnd.next(n).toLong)
      val want = brute(es, srcs, maxHops)
      val sources = (srcs ++ srcs).map(Option(_)) :+ None
      val longs = GraphOps.bfsDistances(es.toDF("s", "d"), "s", "d",
        sources.toDF("id"), maxHops)
      assert(longs.schema == StructType(Seq(
        StructField("node", LongType, nullable = true),
        StructField("dist", LongType, nullable = false))))
      val got = longs.collect().toSeq
      assert(got.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
          r.getLong(1))).sorted ==
        ((None, 0L) +: want.toSeq.map { case (v, d) => (Some(v), d) })
          .sorted, s"trial $trial maxHops $maxHops: long ids")
      val strs = GraphOps.bfsDistances(
        es.map { case (a, b) => (s"v$a", s"v$b") }.toDF("s", "d"), "s", "d",
        sources.map(_.map(v => s"v$v").orNull).toDF("id"), maxHops)
      assert(strs.schema.map(_.dataType) == Seq(StringType, LongType))
      assert(strs.collect().map(r => (Option(r.getString(0)), r.getLong(1)))
        .toSeq.sorted == ((None, 0L) +: want.toSeq.map { case (v, d) =>
          (Some(s"v$v"), d) }).sorted,
        s"trial $trial maxHops $maxHops: string ids")
    }
    // non-null sources of a non-nullable column: a non-nullable node
    val plain = GraphOps.bfsDistances(Seq((0L, 1L)).toDF("s", "d"), "s", "d",
      Seq(0L).toDF("id"), 2)
    assert(plain.schema("node").nullable == false)
    assert(plain.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 0L), (1L, 1L)))
  }

  /** The canonical undirected edges of `es`: (lo, hi), no self-loops. */
  private def canon(es: Seq[(Long, Long)]): Set[(Long, Long)] =
    es.collect { case (a, b) if a != b => (a min b, a max b) }.toSet

  private def degrees(e: Set[(Long, Long)]): Map[Long, Long] =
    e.toSeq.flatMap(x => Seq(x._1, x._2))
      .groupMapReduce(identity)(_ => 1L)(_ + _)

  /** One synchronous peel: the edges between nodes of degree ≥ k. */
  private def peelOnce(e: Set[(Long, Long)], k: Int): Set[(Long, Long)] = {
    val d = degrees(e)
    e.filter(x => d(x._1) >= k && d(x._2) >= k)
  }

  /** A random graph on `n` nodes with repeated, reversed and self-loop
    * edges. */
  private def randomGraph(rnd: Lcg, n: Int, m: Int): Seq[(Long, Long)] =
    (1 to m).map(_ => (rnd.next(n).toLong, rnd.next(n).toLong))

  private def degs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** kCore's and kCoreExact's output schema over non-null long ids. */
  private val coreSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("node", LongType, nullable = false),
      StructField("deg", LongType, nullable = false)))
  }

  test("kCore matches a brute-force synchronous peel: peels 1-5, k 1-4") {
    import spark.implicits._
    val rnd = new Lcg(17L)
    for (k <- 1 to 4; peels <- 1 to 5) {
      val es = randomGraph(rnd, 6 + rnd.next(8), 8 + rnd.next(24))
      val got = GraphOps.kCore(es.toDF("a", "b"), "a", "b", k, peels)
      assert(got.schema == coreSchema)
      assert(degs(got) == degrees(Iterator.iterate(canon(es))(peelOnce(_, k))
        .drop(peels).next()), s"k $k peels $peels: $es")
    }
    // 5's neighbour 6 peels on the last peel: 5 stays at degree 1 < k
    val tail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(degs(GraphOps.kCore(tail.toDF("a", "b"), "a", "b", 2, 1)) ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
    // the node column: the ids' common type, nullable when both are
    import org.apache.spark.sql.types._
    val strs = GraphOps.kCore(Seq(("x", "y")).toDF("a", "b"), "a", "b", 1, 1)
    assert(strs.schema == StructType(Seq(StructField("node", StringType),
      StructField("deg", LongType, nullable = false))))
    assert(rowsOf(strs) == Seq("[x,1]", "[y,1]"))
    assert(GraphOps.kCoreExact(Seq((1, 2L)).toDF("a", "b"), "a", "b", 1)
      .schema == coreSchema)
  }

  test("kCoreExact matches the brute-force peel loop, maxIter swept from " +
      "1 to the peel depth + 1") {
    import spark.implicits._
    val rnd = new Lcg(19L)
    // peels until one removes nothing or empties the graph; fails once
    // maxIter peels did neither
    def exact(es: Seq[(Long, Long)], k: Int, maxIter: Int)
        : Either[String, Map[Long, Long]] = {
      var e = canon(es)
      var iter = 0
      var done = e.isEmpty
      while (!done && iter < maxIter) {
        iter += 1
        val next = peelOnce(e, k)
        done = next.size == e.size || next.isEmpty
        e = next
      }
      if (done) Right(degrees(e))
      else Left(s"kCoreExact: peeling did not converge in $maxIter rounds " +
        "— raise maxIter (a chain hanging off the core peels one edge per " +
        "end per round)")
    }
    def depth(es: Seq[(Long, Long)], k: Int): Int =
      (1 to 100).find(exact(es, k, _).isRight).get
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val graphs = Seq(
      "K4 and a chain" -> (k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L)), 2),
      "a path that empties" -> ((1L to 7L).map(i => (i, i + 1)), 2),
      "a triangle and a path" -> (Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (4L, 5L), (5L, 6L)), 2),
      "random" -> (randomGraph(rnd, 12, 30), 3))
    for ((what, (es, k)) <- graphs; maxIter <- 1 to depth(es, k) + 1) {
      val want = exact(es, k, maxIter)
      val got =
        try Right(GraphOps.kCoreExact(es.toDF("a", "b"), "a", "b", k,
          maxIter))
        catch { case e: GraphContractViolation => Left(e.getMessage) }
      assert(got.map(degs) == want, s"$what, maxIter $maxIter")
      got.foreach(df => assert(df.schema == coreSchema))
    }
  }

  test("harmonicCentrality matches a brute-force BFS per source: cycles, " +
      "self-loops, duplicate, null and absent sources, long and string ids") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val rnd = new Lcg(23L)
    def brute(es: Seq[(Long, Long)], srcs: Seq[Long], maxHops: Int)
        : Map[Long, (Long, Double)] = {
      val nbrs = canon(es).toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupMap(_._1)(_._2)
      srcs.distinct.flatMap { s =>
        val dist = mutable.Map(s -> 0L)
        var front = Seq(s)
        for (h <- 1 to maxHops) {
          front = front.flatMap(nbrs.getOrElse(_, Nil)).distinct
            .filterNot(dist.contains)
          front.foreach(dist(_) = h.toLong)
        }
        val far = dist.values.filter(_ > 0)
        if (far.isEmpty) None
        else Some(s -> (far.size.toLong, BigDecimal(far.map(1.0 / _).sum)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }.toMap
    }
    def schema(src: DataType, nullable: Boolean) = StructType(Seq(
      StructField("src", src, nullable),
      StructField("n_reached", LongType, nullable = false),
      StructField("harmonic", DoubleType, nullable = true)))
    for (trial <- 1 to 2; maxHops <- Seq(1, 2, 20)) {
      val n = 6 + rnd.next(8)
      val es = randomGraph(rnd, n, 6 + rnd.next(14)) :+ ((1L, 1L))
      // 99 is outside the graph; the first source comes twice
      val srcs = Seq(rnd.next(n).toLong, rnd.next(n).toLong, 99L)
      val want = brute(es, srcs, maxHops)
      val sources = (srcs.head +: srcs).map(Option(_)) :+ None
      val longs = GraphOps.harmonicCentrality(es.toDF("a", "b"), "a", "b",
        sources.toDF("id"), maxHops)
      assert(longs.schema == schema(LongType, nullable = true))
      assert(longs.collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getDouble(2))).toMap == want,
        s"trial $trial maxHops $maxHops: long ids")
      val strs = GraphOps.harmonicCentrality(
        es.map { case (a, b) => (s"v$a", s"v$b") }.toDF("a", "b"), "a", "b",
        sources.map(_.map(v => s"v$v").orNull).toDF("id"), maxHops)
      assert(strs.schema == schema(StringType, nullable = true))
      assert(strs.collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2))).toMap ==
        want.map { case (s, v) => s"v$s" -> v },
        s"trial $trial maxHops $maxHops: string ids")
    }
    // int sources over long edges keep their own type
    val ints = GraphOps.harmonicCentrality(Seq((1L, 2L)).toDF("a", "b"), "a",
      "b", Seq(1).toDF("id"), 1)
    assert(ints.schema == schema(IntegerType, nullable = false))
    assert(ints.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .toSeq == Seq((1, 1L, 1.0)))
  }

  // ------------------------------------------ typed guards, kernel path

  private def chain(n: Long): DataFrame = {
    import spark.implicits._
    (0L until n).map(i => (i, i + 1)).toDF("s", "d")
  }

  /** Seed `s` fully joined through `depth` layers of `width` nodes:
    * σ = width^(layer − 1) shortest paths to a layer's nodes, while
    * pairs and parents grow only as width² per layer. */
  private def lattice(width: Int, depth: Int): DataFrame = {
    import spark.implicits._
    def node(layer: Int, i: Int): Long = (layer * 100 + i).toLong
    ((0 until width).map(i => (0L, node(1, i))) ++
      (1 until depth).flatMap(l =>
        for (i <- 0 until width; j <- 0 until width)
          yield (node(l, i), node(l + 1, j)))).toDF("s", "d")
  }

  private def seed0: DataFrame = {
    import spark.implicits._
    Seq(0L).toDF("id")
  }

  test("kernel guard: reach closure bound and MaxRounds keep their " +
      "messages") {
    // 99-edge chain, unanchored: 99 + 98 + … pairs pass 500 at round 5
    val closure =
      "unbounded variable-length: reachability closure hit 579 rows " +
      "after round 5 (bound maxClosureRows=500). The graph is too " +
      "well-connected for an unanchored closure — anchor an endpoint " +
      "(a literal WHERE equality or a piped frame), or raise " +
      s"${Reach.MaxClosureRowsConf} deliberately."
    val rounds = "unbounded variable-length: reachability did not " +
      s"converge in ${Reach.MaxRounds} rounds — the edge set's diameter " +
      "exceeds the guard"
    def check(): Unit = {
      withConf(Reach.MaxClosureRowsConf, "500") {
        assert(intercept[GraphContractViolation](Reach.reachablePairs(
          chain(99), "s", "d")).getMessage == closure)
      }
      // seeded at 0, a chain of MaxRounds + 1 edges needs one round
      // more than the backstop allows
      assert(intercept[CypherBindingException](Reach.reachablePairs(
        chain(Reach.MaxRounds + 1L), "s", "d", seeds = Some(seed0)))
        .getMessage == rounds)
    }
    check()
    kernel(check())
  }

  test("kernel guard: allShortestPaths witnesses parent-set and " +
      "path-expansion bounds keep their messages") {
    def msg(what: String, n: Any, round: Int, bound: Long) =
      s"allShortestPaths: $what hit $n rows after round $round (bound " +
      s"maxClosureRows=$bound). Narrow the anchor, or raise " +
      s"${Reach.MaxClosureRowsConf} deliberately."
    def witnesses(e: DataFrame) = Reach.allShortestWitnesses(e, "s", "d",
      seed0)
    def check(): Unit = {
      // width 3, depth 4: pairs + parents reach 15, 27, 39 by round 3
      withConf(Reach.MaxClosureRowsConf, "30") {
        assert(intercept[GraphContractViolation](Reach.allParentsPairs(
            lattice(3, 4), "s", "d", Some(seed0))).getMessage ==
          "allShortestPaths witnesses: the parent set hit 39 rows after " +
          "round 3 (bound maxClosureRows=30). Narrow the anchor, or raise " +
          s"${Reach.MaxClosureRowsConf} deliberately.")
      }
      // the walk: 30 rows after the parent join, 66 after step 1, 120
      // (3 + 9 + 27 + 81 witnesses) after step 2
      val (pairs, parents, _) =
        Reach.allParentsPairs(lattice(3, 4), "s", "d", Some(seed0))
      assert(intercept[GraphContractViolation](
          Reach.reconstructAllWitnessIds(pairs, parents, 100L))
        .getMessage ==
        "allShortestPaths witnesses: the path expansion hit 120 rows at " +
        "step 2 (bound maxClosureRows=100). Narrow the anchor, or raise " +
        s"${Reach.MaxClosureRowsConf} deliberately.")
      // σ rows: 3 pairs per layer, 12 after round 3; σ = 3^(layer − 1),
      // 120 witnesses, counted after the empty round 4
      withConf(Reach.MaxClosureRowsConf, "10") {
        assert(intercept[GraphContractViolation](
          witnesses(lattice(3, 4))).getMessage ==
          msg("the anchored cone", 12, 3, 10))
      }
      withConf(Reach.MaxClosureRowsConf, "100") {
        assert(intercept[GraphContractViolation](
          witnesses(lattice(3, 4))).getMessage ==
          msg("the witness expansion", 120, 4, 100))
      }
      // width 2: σ = 2^43 at layer 44, added by round 43, passes the cap
      // Long.MaxValue >> 20 = 2^43 − 1
      assert(intercept[GraphContractViolation](
          witnesses(lattice(2, 45))).getMessage ==
        "allShortestPaths: shortest-path witness count σ exceeded " +
        s"${Long.MaxValue >> 20} per pair after round 43 (Long overflow " +
        "territory on a diamond-rich DAG). Narrow the anchor — the " +
        "witness expansion would not be materializable anyway.")
    }
    check()
    kernel(check())
  }

  test("kernel guard: k-level level-row and path-expansion bounds keep " +
      "their messages") {
    def levels(parents: Boolean) = Reach.kLevelLevels(lattice(3, 4), "s",
      "d", Some(seed0), "groups", 2, withParents = parents)
    def msg(n: Long, round: Long, bound: Long) =
      s"k-level reach hit $n level rows after round $round (bound " +
      s"maxClosureRows=$bound). Narrow the anchor, or raise " +
      s"${Reach.MaxClosureRowsConf} deliberately."
    def check(): Unit = {
      // 3 level rows per round: 12 after round 4
      withConf(Reach.MaxClosureRowsConf, "10") {
        assert(intercept[GraphContractViolation](levels(false))
          .getMessage == msg(12, 4, 10))
      }
      // the deferred parent-volume check: 12 levels + 30 parents
      withConf(Reach.MaxClosureRowsConf, "40") {
        assert(intercept[GraphContractViolation](levels(true))
          .getMessage == msg(42, 5, 40))
      }
      val (lv, parents, _) = levels(true)
      val chosen = Reach.kLevelTrim(lv, "groups", 2)
      assert(intercept[GraphContractViolation](
          Reach.kLevelWalk(chosen, parents.get, 100L, "groups", 2))
        .getMessage ==
        "k-level witnesses: the path expansion hit 120 rows at step 2 " +
        "(bound maxClosureRows=100). Narrow the anchor, or raise " +
        s"${Reach.MaxClosureRowsConf} deliberately.")
    }
    check()
    kernel(check())
  }

  test("kernel guard: shortest paths, tree and route walk keep their " +
      "messages") {
    import spark.implicits._
    val neg = Seq((0L, 1L, 1.0), (1L, 2L, -1.0)).toDF("s", "d", "w")
    val line = chain(5).withColumn("w", org.apache.spark.sql.functions.lit(1.0))
    for ((op, run) <- Seq[(String, (DataFrame, Int) => DataFrame)](
        "weightedSssp" -> ((e, it) =>
          GraphOps.weightedSssp(e, "s", "d", "w", seed0, maxIter = it)),
        "weightedSsspTree" -> ((e, it) =>
          GraphOps.weightedSsspTree(e, "s", "d", "w", seed0, maxIter = it)))) {
      assert(intercept[GraphContractViolation](run(neg, 100)).getMessage ==
        s"$op: negative edge weight — relaxation requires w >= 0 (a " +
        "negative cycle would improve forever)")
      assert(intercept[GraphContractViolation](run(line, 2)).getMessage ==
        s"$op: relaxation did not converge in 2 rounds — raise maxIter " +
        "(dense weighted improvement can take up to V-1 rounds)")
    }
    val cyclic = Seq(("a", "b"), ("b", "a")).toDF("node", "pred")
    assert(intercept[GraphContractViolation](
        GraphOps.ssspRoutes(cyclic, maxIter = 5)).getMessage ==
      "ssspRoutes: route expansion did not terminate in 5 rounds — the " +
      "tree's pred links do not reach a source (malformed or cyclic tree)")
  }

  // ------------------------------------------------ one job per round

  /** Minimal TPC-H tables for the reach twins and the GraphOps route
    * and BFS queries: 25 nations in 5 regions, 10 customers with 3
    * orders each, 3 lineitems per order over 20 parts and 3 suppliers,
    * each at a quantity past g07's co-supply cut. */
  private def writeTables(dir: Path): Unit = {
    import spark.implicits._
    def put(df: DataFrame, t: String): Unit =
      df.write.parquet(dir.resolve(s"$t.parquet").toString)
    put((0 until 25).map(k => (k.toLong, s"N$k", (k % 5).toLong))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    put((0 until 10).map(k => (k.toLong, s"C$k", k * 10.0, "BUILDING",
        (k % 25).toLong))
      .toDF("c_custkey", "c_name", "c_acctbal", "c_mktsegment",
        "c_nationkey"), "customer")
    put((0 until 30).map(k => (k.toLong, (k % 10).toLong, "O", k * 1.5,
        java.sql.Date.valueOf("1995-01-01"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"), "orders")
    put((0 until 20).map(k => (k.toLong, s"P$k", "B", "T", k, k * 2.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice"), "part")
    put((for (o <- 0 until 30; i <- 0 until 3) yield (o.toLong,
        ((o * 7 + i * 3) % 20).toLong, (i + 1).toLong, 50.0, 2.0, 0.0, 0.0,
        "N", "O", java.sql.Date.valueOf("1995-02-01"), i + 1))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate", "l_linenumber"), "lineitem")
  }

  /** Job-start events in arrival order, each with its kernel round tag
    * (null for any other job). */
  private final class Jobs extends SparkListener {
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      seen.add((e.jobId,
        Option(e.properties).map(_.getProperty(Fixpoint.RoundProperty))
          .orNull))

    /** The tags of every job `body` starts: a marker job after it
      * proves the bus has delivered everything before. */
    def during(body: => Unit): Seq[String] = {
      seen.clear()
      body
      val marker = "marker"
      val sc = spark.sparkContext
      sc.setLocalProperty(Fixpoint.RoundProperty, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Fixpoint.RoundProperty, null)
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(_._2 == marker) &&
          System.nanoTime() < deadline) Thread.sleep(5)
      seen.asScala.toSeq.takeWhile(_._2 != marker).map(_._2)
    }
  }

  test("distributed loops launch one job per round and per walk step " +
      "past a fixed setup count") {
    val dir = Files.createTempDirectory("graft_fixpoint_jobs")
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    try {
      writeTables(dir)
      // untagged jobs: the DataFrame work at the loop boundary — the
      // window that derives the nation chain of q170, q187 and g28, the
      // joins and the sorted limit behind the co-supply edges and
      // sources of g05, g07, g14 and g25, and the k-trim of q170 and
      // q188 after the σ DP. None of it grows with the round count; the
      // kernel's own jobs, q170's DAG check, the BFS of g07 and g14 and
      // the peel of g05 and g25 included, are all tagged.
      val setup = Map(
        "q187_dist_unbounded_witness" -> 1,
        "q188_dist_hetero_klevel_witness" -> 1,
        "q189_dist_allshortest_witness" -> 0,
        "q170_klevel_unanchored" -> 4,
        "g07_bfs_hops" -> 5,
        "g28_sssp_routes" -> 1,
        "g05_kcore" -> 2,
        "g14_harmonic" -> 5,
        "g25_kcore_exact" -> 2)
      kernel {
        for ((name, maxUntagged) <- setup) {
          val build = () => SparkEntry.queries(name)(spark, dir.toString)
          build() // warm-up: the first read of each table lists its files
          val tags = jobs.during(build())
          val tagged = tags.filter(_ != null)
          val rounds = tagged.filter(t => !t.endsWith(":edges") &&
            !t.endsWith(":regroup") && !t.endsWith(":start"))
          assert(rounds.nonEmpty, s"$name: no kernel rounds ran")
          assert(tagged.distinct == tagged,
            s"$name: a round ran more than one job: $tagged")
          assert(tags.size - tagged.size <= maxUntagged,
            s"$name: ${tags.size - tagged.size} untagged jobs beside " +
            s"${tagged.mkString(", ")}")
        }
      }
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      Using.resource(Files.walk(dir))(_.iterator().asScala.toVector)
        .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  /** Every node of an executed plan: adaptive plans by their final
    * plan, query stages and reused exchanges by the plans they hold. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec        => planNodes(s.plan)
    case r: ReusedExchangeExec    => planNodes(r.child)
    case o => (o.children ++ o.subqueries).flatMap(planNodes)
  })

  test("witness reach plans only scan resolved paths: q187–q189 within " +
      "an exec job budget") {
    val dir = Files.createTempDirectory("graft_witness_plans")
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    try {
      writeTables(dir)
      // jobs while the built query is collected, as measured: the
      // resolution's shuffles run inside them
      val budget = Map(
        "q187_dist_unbounded_witness" -> 5,
        "q188_dist_hetero_klevel_witness" -> 5,
        "q189_dist_allshortest_witness" -> 5)
      val tail = Set("GenerateExec", "WindowExec", "SortAggregateExec",
        "ObjectHashAggregateExec")
      val seen = for ((name, _) <- budget) yield {
        val build = () => SparkEntry.queries(name)(spark, dir.toString)
        build().collect() // warm-up: the first read of each table lists its files
        val df = build()
        val tags = jobs.during(df.collect())
        val ops = planNodes(df.queryExecution.executedPlan)
          .map(_.getClass.getSimpleName)
        assert(!ops.exists(tail), s"$name: ${ops.filter(tail)} in the plan")
        name -> tags.size
      }
      assert(seen.forall { case (n, c) => c <= budget(n) },
        s"exec jobs per query: $seen, budget $budget")
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      Using.resource(Files.walk(dir))(_.iterator().asScala.toVector)
        .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  test("kernel exits keep the loop width: a walk's rows and a regroup") {
    val sc = spark.sparkContext
    val width = Fixpoint.partitioner(spark).numPartitions
    // a chain 0 ← 1 ← … ← 9 walked back from every node: 9 steps
    val parents = Fixpoint.Dist(sc.parallelize((1L to 9L).map(i =>
      (i: Any, i - 1)), 3))
    val start = Fixpoint.Dist(sc.parallelize((0L to 9L).map(i => (i, i)), 5))
    val walked = Fixpoint.walk("widthWalk", start, parents, spark, from = 0)(
      w => if (w._2 > 0) w._1 else null, _._2) { (w, ps) =>
        Iterator.single((ps.head, w._2 - 1))
      } { (_, _) => () }
    val regrouped = Fixpoint.regroup(Fixpoint.Dist(sc.parallelize(
      (0 until 40).map(i => ((i % 6): Any, i)), 7)), spark)((k, vs) =>
      Iterator.single((k, vs.sum)))
    for ((what, rows) <- Seq("walk" -> walked, "regroup" -> regrouped))
      rows match {
        case Fixpoint.Dist(rdd) =>
          assert(rdd.getNumPartitions == width, s"$what: partitions")
        case _ => fail(s"$what: not on the cluster")
      }
    assert(walked.asInstanceOf[Fixpoint.Dist[(Long, Long)]].rdd.collect()
      .sorted.toSeq == (0L to 9L).map(_ => (0L, 0L)))
  }

  test("the model loops launch one tagged job per round: s20, s22, s28") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_model_jobs")
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    try {
      val rnd = new scala.util.Random(7)
      (0 until 40).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat())))
        .toDF("vec_id", "embedding")
        .write.parquet(dir.resolve("embeddings.parquet").toString)
      // the seed or mean job (`:0`), then one job per centroid update
      // (s22's 2 assign rounds update once), power iteration (s20: 2) or
      // further pick (s28: 4 after the seed), and no other job: the last
      // assignment and the projection run when the result is read
      val rounds = Map(
        "s20_pca_project" -> Seq("topPcProjection:0", "topPcProjection:1",
          "topPcProjection:2"),
        "s22_kmeans" -> Seq("kmeansAssign:0", "kmeansAssign:1"),
        "s28_farthest_points" -> (0 until 5).map(r => s"farthestPoints:$r"))
      for ((name, want) <- rounds) {
        val build = () => SparkEntry.queries(name)(spark, dir.toString)
        build() // warm-up: the first read of each table lists its files
        val tags = jobs.during(build())
        assert(tags == want, s"$name: jobs $tags")
      }
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      Using.resource(Files.walk(dir))(_.iterator().asScala.toVector)
        .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  test("the driver executor launches no round jobs") {
    val dir = Files.createTempDirectory("graft_fixpoint_driver_jobs")
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    try {
      writeTables(dir)
      // untagged jobs while each query is built: the admission counts,
      // the collects of the edge and seed frames and the DataFrame work
      // around the loops — the counts the parent commit's driver twins
      // launched
      val setup = Map(
        "q124_unbounded_witness" -> 9,
        "q163_hetero_allshortest_witness" -> 7,
        "q173_hetero_klevel_witness" -> 11,
        "q169_klevel_witness" -> 13,
        "q72_all_shortest" -> 9)
      val seen = for ((name, _) <- setup) yield {
        val build = () => SparkEntry.queries(name)(spark, dir.toString)
        build() // warm-up: the first read of each table lists its files
        val tags = jobs.during(build())
        assert(tags.forall(_ == null), s"$name: tagged jobs ran: $tags")
        name -> tags.size
      }
      assert(seen.forall { case (n, c) => c <= setup(n) },
        s"untagged jobs per query: $seen, budget $setup")
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      Using.resource(Files.walk(dir))(_.iterator().asScala.toVector)
        .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }
}
