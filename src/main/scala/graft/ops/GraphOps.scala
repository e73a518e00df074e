package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType,
  LongType, MapType, StringType, StructField, StructType}

import graft.ops.Fixpoint.compareIds

/**
 * Graph analytics over edge lists, complementing
 * [[Dedup.connectedComponents]]. The iterative ones run on the
 * [[Fixpoint]] kernel; the DataFrame loops left work on slim
 * (src, dst[, weight]) rows and cut lineage with local checkpoints.
 *
 * PageRank follows the classic formulation (Page et al. 1999,
 * "The PageRank Citation Ranking"); triangle counting is the canonical
 * oriented-edge join (Suri & Vassilvitskii 2011, WWW — "Counting
 * triangles and the curse of the last reducer").
 */
object GraphOps {

  /** Session conf key bounding the per-round broadcast joins of the
    * DataFrame loops left here and the compiler's key-set semi joins
    * ([[bcastIf]]). A frame whose EXACT row count — the loops count
    * their frames for guards and termination anyway — sits at or under
    * the bound joins with an explicit broadcast hint, so the static edge
    * frame is never shuffled per round (optimization guide §3.1, §2.4).
    * LocalCheckpoint frames carry no size statistics, so without the
    * hint every per-round join degenerates to sort-merge, re-shuffling
    * the edge frame every round. Rows at these sites are slim (16–64 B),
    * so the 1M-row default is ≲ 64 MB framed. A 100 TB run whose
    * frontier outgrows the bound falls back to the shuffle strategy.
    * Set 0 to disable. */
  val BroadcastRowsConf = "spark.graft.broadcastRows"
  val BroadcastRowsDefault = 1000000L

  /** Byte companion to [[BroadcastRowsConf]] (optimization round 17;
    * VERDICT-r16 #6): the row bound alone is width-blind — 1M rows of
    * witness arrays or wide property structs is a multi-GB broadcast.
    * A hint additionally requires rows × [[estRowBytes]] within this
    * budget. Default 128 MB of ESTIMATED bytes: [[estRowBytes]] is
    * deliberately ~2× pessimistic on real data (20 B per string, 8
    * elements per container), so this admits the slim loop frames the
    * round-16 hints were measured on (≤ ~116 B/row estimated at the
    * 1M row bound) while a genuinely wide frame — arrays of structs,
    * dozens of string properties — estimates far past it and keeps
    * the planner's shuffle strategy. */
  val BroadcastBytesConf = "spark.graft.broadcastBytes"
  val BroadcastBytesDefault = 128L * 1024 * 1024

  /** Conservative schema-derived per-row byte estimate: catalyst
    * `defaultSize` per scalar (8 B numerics, 20 B strings), containers
    * charged for ~8 elements plus header — an ESTIMATE for admission
    * decisions (broadcast hints, driver collects), deliberately
    * pessimistic on variable-width data so a wide frame is rejected
    * rather than OOMing an executor. */
  private[graft] def estRowBytes(schema: StructType): Long = {
    def sz(dt: org.apache.spark.sql.types.DataType): Long = dt match {
      case ArrayType(et, _) => 16L + 8L * sz(et)
      case MapType(kt, vt, _) => 16L + 8L * (sz(kt) + sz(vt))
      case s: StructType => 8L + s.fields.map(f => sz(f.dataType)).sum
      case other => other.defaultSize.toLong
    }
    math.max(8L, sz(schema))
  }

  /** `df` with a broadcast hint when `rows` (an exact count the
    * caller already holds) is within [[BroadcastRowsConf]] AND the
    * estimated payload (rows × [[estRowBytes]]) is within
    * [[BroadcastBytesConf]]; `df` unchanged otherwise, keeping the
    * planner's shuffle strategy for frames past either bound. The call
    * sites are SLIM frames: [[labelPropagation]]'s labels,
    * [[deterministicWalks]]' walkers, [[betweennessSampled]]'s waves
    * and the compiler's key sets, 16–64 B rows; the byte gate makes
    * that contract enforced rather than assumed (ADVICE-r16). */
  private[graft] def bcastIf(df: DataFrame, rows: Long): DataFrame = {
    val conf = df.sparkSession.conf
    val lim = conf.getOption(BroadcastRowsConf)
      .map(_.toLong).getOrElse(BroadcastRowsDefault)
    val bytesLim = conf.getOption(BroadcastBytesConf)
      .map(_.toLong).getOrElse(BroadcastBytesDefault)
    if (rows >= 0 && rows <= lim &&
        rows * estRowBytes(df.schema) <= bytesLim) broadcast(df) else df
  }

  /**
   * PageRank over a directed edge list, fixed iteration count.
   *
   * rank_0(v) = 1/N;
   * rank_{k+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} rank_k(u)/outdeg(u).
   *
   * Dangling mass (nodes with no out-edges) is NOT redistributed —
   * both this and any mirror must use the same convention; documented
   * so results are reproducible. Parallel edges count once; an edge set
   * with no row whose ends are both non-null fails as an empty graph.
   *
   * Scale: one [[Fixpoint.power]] iteration ([[powerIteration]]). The
   * edges are grouped by source once, with 1/outdeg on each out-edge;
   * the rank vector is an RDD co-partitioned with them, 8 B of rank per
   * node; each iteration is one job whose one shuffle combines the
   * pushed ranks per node.
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 10, damping: Double = 0.85): DataFrame =
    powerIteration("pageRank", unweighted(edges, srcCol, dstCol), None,
      iterations, damping, normalize = false, (w, _) => w,
      stochastic = true, Seq("rank"))(n => require(n > 0, "empty graph"))

  /**
   * Personalized PageRank (Jeh & Widom 2003, "Scaling personalized web
   * search"): teleportation lands uniformly on the SOURCE set instead
   * of all nodes —
   * rank_0 = 1_S/|S|; rank_{k+1}(v) = (1-d)·1_S(v)/|S| + d·Σ rank_k(u)/outdeg(u).
   * Ranks measure proximity to the sources (recommendation /
   * relatedness queries); nodes unreachable from S stay at 0. S counts
   * only sources that are graph nodes, and must not be empty.
   * Same iteration as [[pageRank]]: the source flag is each node's
   * teleport weight, set once when the edges are grouped.
   */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           sources: DataFrame, iterations: Int = 10,
                           damping: Double = 0.85): DataFrame =
    powerIteration("personalizedPageRank", unweighted(edges, srcCol, dstCol),
      Some(sources), iterations, damping, normalize = false, (w, _) => w,
      stochastic = true, Seq("rank"))(n => require(n > 0,
        "personalized PageRank needs >= 1 source in the graph"))

  /** (src, dst, w = 1) rows of the edges with both ends non-null. */
  private def unweighted(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        lit(1.0).as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull)

  /** [[Fixpoint.power]] run as `name` over the (src, dst, w) rows of `e`
    * (non-null ends, w > 0), as a (node, `cols`) frame. The ids are cast
    * to one type with `tele`'s one column ([[Fixpoint.commonType]]), and
    * the node column back to the edges' type. Parallel edges merge their
    * weights by `parallel`; p(u, v) is the merged weight over u's total
    * out-weight when `stochastic`, else the weight itself. One column
    * holds the vector after `iterations` rounds; two hold HITS' last two
    * half-steps of `2·iterations`, forward then reverse. */
  private[ops] def powerIteration(name: String, e: DataFrame,
      tele: Option[DataFrame], iterations: Int, damping: Double,
      normalize: Boolean, parallel: (Double, Double) => Double,
      stochastic: Boolean, cols: Seq[String])(guard: Long => Unit)
      : DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val spark = e.sparkSession
    val te = Fixpoint.commonType(e.schema("src").dataType,
      e.schema("dst").dataType)
    val t = Fixpoint.commonType(te +: tele.toSeq.map(_.schema.head.dataType)
      : _*)
    val edges = Fixpoint.values(e.select(Fixpoint.castTo(e, "src", t),
        Fixpoint.castTo(e, "dst", t), col("w").cast(DoubleType)))
      .map(a => (a(0), (a(1), a(2).asInstanceOf[Double])))
    val ids = tele.map { s =>
      val c = s.columns.head
      Fixpoint.values(s.where(col(c).isNotNull)
        .select(Fixpoint.castTo(s, c, t))).map(_(0))
    }
    val out = (ws: collection.Seq[(Any, Double)]) => {
      val m = scala.collection.mutable.LinkedHashMap.empty[Any, Double]
      ws.foreach { case (v, w) => m(v) = m.get(v).fold(w)(parallel(_, w)) }
      val tot = if (stochastic) m.valuesIterator.sum else 1.0
      m.iterator.map { case (v, w) => (v, w / tot) }.toArray
    }
    val hits = cols.size == 2
    val x = Fixpoint.power(name, edges, ids, spark)(out)(
      if (hits) 2 * iterations else iterations, damping, normalize,
      reverse = hits)(guard)
    val df = spark.createDataFrame(x.map { case (n, xs) =>
        Row.fromSeq(n +: xs.toSeq) },
      StructType(StructField("node", t, nullable = false) +:
        cols.map(StructField(_, DoubleType, nullable = false))))
    if (t == te) df else df.withColumn("node", col("node").cast(te))
  }

  /** Per-node out/in degrees over a directed edge list (0 for absent
    * direction). Slim-key aggregation; one shuffle per direction plus
    * the outer-join merge. */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val out = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /**
   * Exact global triangle count over an UNDIRECTED edge list.
   *
   * Edges canonicalize to (lo, hi) with lo < hi and dedupe; triangles
   * enumerate via DEGREE-ORDERED orientation (see
   * [[orientedTriangles]]) — wedge fan-out per node is bounded by its
   * out-degree in the (degree, id)-ranked acyclic orientation, which
   * is O(sqrt(E)) on any graph (the arboricity bound), so a hub node
   * no longer produces a quadratic "last reducer" (Suri &
   * Vassilvitskii 2011) even UNVALVED.
   *
   * `maxDegree` remains as the explicit-semantics valve (drop
   * over-cap nodes entirely BEFORE pairing, the documented contract
   * shared with kTruss/clusteringCoefficient); with the degree
   * orientation it is a result-shaping knob, not a survival
   * requirement. Pass None to keep the full graph.
   */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String,
                    maxDegree: Option[Int] = None): DataFrame = {
    val raw = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    val canon = raw.select(
      least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
      .distinct()
    orientedTriangles(capDegree(canon, maxDegree))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /**
   * All triangles of a canonical (lo, hi) edge set, one row (a, b, c)
   * per triangle, via degree-ordered orientation: each undirected edge
   * orients from its lower-(degree, id) endpoint to the higher; every
   * triangle then has exactly ONE node with two outgoing edges (its
   * rank-minimum), so enumerating ordered out-wedges at each node and
   * semi-joining the closing oriented edge counts each triangle exactly
   * once. Wedge work per node is outdeg², and the ranked orientation
   * bounds outdeg by O(sqrt(E)) on any graph — hub-safe two-path
   * enumeration without caps (Chiba–Nishizeki orientation, the
   * standard fix for the "curse of the last reducer").
   * Output columns (a, b, c) carry no order guarantee.
   */
  private def orientedTriangles(canon: DataFrame): DataFrame = {
    val deg = canon.select(col("lo").as("n"))
      .union(canon.select(col("hi").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = canon
      .join(deg.select(col("n").as("lo"), col("d").as("__dl")), Seq("lo"))
      .join(deg.select(col("n").as("hi"), col("d").as("__dh")), Seq("hi"))
    // orient low-rank → high-rank; carry the head's rank for wedge order
    val oriented = withDeg.select(
        when(struct(col("__dl"), col("lo")) < struct(col("__dh"), col("hi")),
          struct(col("lo").as("u"), col("hi").as("v"), col("__dh").as("vd")))
        .otherwise(
          struct(col("hi").as("u"), col("lo").as("v"), col("__dl").as("vd")))
        .as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"), col("__e.vd").as("vd"))
      .localCheckpoint(false)
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          struct(col("x.vd"), col("x.v")) < struct(col("y.vd"), col("y.v")))
      .select(col("x.u").as("a"), col("x.v").as("b"), col("y.v").as("c"))
    // the closing edge is oriented b → c (rank(b) < rank(c) by the
    // wedge order), so one semi join closes the triangle
    wedges.join(oriented.select(col("u").as("b"), col("v").as("c")),
      Seq("b", "c"), "left_semi")
  }

  /** The hub-degree valve shared by the triangle-family operators
    * ([[triangleCount]], [[kTruss]]/[[kTrussExact]]): drop every
    * canonical edge incident to a node of degree > cap BEFORE any
    * two-path enumeration — id-ordered two-path fan-out is quadratic
    * in hub degree (Suri & Vassilvitskii's "last reducer"), so the
    * cap bounds the quadratic corner the way the dedup operators cap
    * blocks. `None` keeps the full graph. */
  private def capDegree(canon: DataFrame, maxDegree: Option[Int]): DataFrame =
    maxDegree match {
      case None => canon
      case Some(cap) =>
        val deg = canon.select(col("lo").as("node"))
          .union(canon.select(col("hi").as("node")))
          .groupBy("node").agg(count(lit(1)).as("d"))
        val keep = deg.where(col("d") <= cap).select("node")
        canon.join(keep.withColumnRenamed("node", "lo"), Seq("lo"))
          .join(keep.withColumnRenamed("node", "hi"), Seq("hi"))
          .select("lo", "hi")
    }

  /** Canonical undirected edge set: (lo, hi) with lo < hi, self-loops
    * dropped, deduped. Shared by the undirected analytics below. */
  private def canonical(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"))
      .distinct()

  /** Both directions of every non-null, non-loop edge as (node, nbr),
    * the ids cast to their common type and NOT deduped: the input of
    * the kernel loops, whose graph build dedups each node's out-edges
    * ([[peelGraph]], [[hops]]) without [[canonical]]'s shuffle. */
  private def bothWays(edges: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val ab = edges.select(col(aCol).as("a"), col(bCol).as("b"))
    val t = Fixpoint.commonType(ab.schema("a").dataType,
      ab.schema("b").dataType)
    val e = ab.select(Fixpoint.castTo(ab, "a", t).as("a"),
        Fixpoint.castTo(ab, "b", t).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    e.select(col("a").as("node"), col("b").as("nbr"))
      .union(e.select(col("b").as("node"), col("a").as("nbr")))
  }

  /** Both directions of the canonical undirected edge set as
    * (node, nbr) rows — still an edge LIST (2|E| slim rows), not
    * adjacency lists; no per-node collection anywhere. */
  private def symmetric(e: DataFrame): DataFrame =
    e.select(col("lo").as("node"), col("hi").as("nbr"))
      .union(e.select(col("hi").as("node"), col("lo").as("nbr")))

  /**
   * Synchronous label propagation community detection (Raghavan et al.
   * 2007, "Near linear time algorithm to detect community structures in
   * large-scale networks"), made DETERMINISTIC: labels start as node
   * ids; each round every node adopts the most frequent label among its
   * neighbors, ties broken by the SMALLEST label; isolated nodes (none
   * here — every node has an edge by construction) keep their label.
   * Synchronous update + total tie order makes the result reproducible
   * across engines, which the classic async/random-tie variant is not.
   *
   * 100 TB posture: each round is (a) one shuffle joining the 16 B/node
   * label state to the symmetric edge list on nbr, (b) one
   * groupBy(node, label) count — partial aggregation absorbs hub
   * fan-in map-side, (c) one groupBy(node) max(struct(cnt, -label))
   * argmax — again partially aggregated, O(distinct labels per node)
   * ≤ degree. No windows over whole partitions, no adjacency lists;
   * label state is checkpointed per round so plan depth stays O(1).
   */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       rounds: Int = 4): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = canonical(edges, aCol, bCol)
    val adj = symmetric(e).localCheckpoint(false)
    var labels = adj.select(col("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(false)
    // node-sized label state broadcasts under the bound (bcastIf): the
    // symmetrized edge frame never re-shuffles per round
    val nNodes = labels.count()
    for (_ <- 1 to rounds) {
      val counts = adj.join(
        bcastIf(labels.withColumnRenamed("node", "nbr"), nNodes), "nbr")
        .groupBy("node", "label").agg(count(lit(1)).as("c"))
      // argmax by (count desc, label asc): max over (c, -label) pairs,
      // both long — struct ordering is lexicographic, so negating the
      // label turns "smallest label" into "largest second field"
      labels = counts
        .groupBy("node")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
        .localCheckpoint(false)
    }
    labels
  }

  /**
   * k-core membership after a FIXED number of synchronous peeling
   * rounds: each round drops every node whose current degree is < k,
   * then recomputes degrees on the induced subgraph (Matula & Beck
   * 1983 peeling, bulk-synchronous). With enough rounds this is the
   * exact k-core; a fixed `peels` bound keeps the computation
   * deterministic and mirrorable — extra rounds past convergence are
   * no-ops, so callers pick `peels` ≥ the expected peel depth (peel
   * depth is tiny for the near-dup / co-occurrence graphs this targets;
   * [[kCoreExact]] peels to the fixpoint).
   *
   * Returns (node, deg): nodes surviving all rounds with their induced
   * degree, which the last peel may have dropped below k. Runs on the
   * [[Fixpoint]] kernel ([[peel]]): the symmetric edges are grouped by
   * node once, and each peel is one job over the neighbours of the
   * nodes the last peel removed.
   */
  def kCore(edges: DataFrame, aCol: String, bCol: String,
            k: Int, peels: Int = 4): DataFrame = {
    require(k >= 1 && peels >= 1, "k and peels must be >= 1")
    core("kCore", edges, aCol, bCol, k, peels, peels)(
      throw new IllegalStateException("kCore: past the peel bound"))._1
  }

  /**
   * EXACT k-core: [[kCore]]'s peel run to the fixpoint. Peel depth is
   * bounded by the longest chain hanging off the core — tiny for
   * co-occurrence graphs; `maxIter` backstops adversarial paths. It
   * bounds the peels that remove an edge plus, unless the graph
   * empties, the one that finds none to remove; a graph that needs
   * more fails typed rather than return a half-peeled graph.
   */
  def kCoreExact(edges: DataFrame, aCol: String, bCol: String,
                 k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1 && maxIter >= 1, "k and maxIter must be >= 1")
    def tooDeep = throw new GraphContractViolation(
      s"kCoreExact: peeling did not converge in $maxIter rounds — " +
      "raise maxIter (a chain hanging off the core peels one edge " +
      "per end per round)")
    // the round after peel maxIter may only confirm the fixpoint
    val (out, whole, last) = core("kCoreExact", edges, aCol, bCol, k,
      Int.MaxValue, math.max(maxIter, maxIter + 1))(tooDeep)
    if (last + (if (whole) 0 else 1) > maxIter) tooDeep
    out
  }

  /** [[peel]] of the undirected edges ([[bothWays]]), its (node,
    * remaining degree) rows as a (node, deg) frame. */
  private def core(name: String, edges: DataFrame, aCol: String,
      bCol: String, k: Int, peels: Int, maxRounds: Int)(
      diverged: => Nothing): (DataFrame, Boolean, Int) = {
    val spark = edges.sparkSession
    val sym = bothWays(edges, aCol, bCol)
    val (left, whole, last) = peel(name, peelGraph(name, Fixpoint.rows(sym,
      None).map(a => (a(0), a(1))), spark), None, k, peels, maxRounds)(diverged)
    (Fixpoint.frame(spark, left.map { case (n, d) => Row(n, d) },
      StructType(Seq(sym.schema("node"),
        StructField("deg", LongType, nullable = false)))), whole, last)
  }

  /** `edges` grouped for [[peel]]: each node's distinct out-edges behind
    * a null one to itself, so that round 0 gives every node an entry. */
  private[graft] def peelGraph(name: String, edges: Fixpoint.Rows[(Any, Any)],
      spark: SparkSession): Fixpoint.Edges[Any] =
    Fixpoint.graph(name, edges, spark)(
      (ds: collection.Seq[Any]) => (null +: ds.distinct).toArray)()

  /** Synchronous peel on a [[Fixpoint.loop]] of the edges of `g` (a
    * [[peelGraph]]) out of `nodes` (every edge when None; else a node
    * set closed under successors). A node's entry is (removed in-edges,
    * in-degree, its peel); peel 1 (round 0) counts the in-degrees. A
    * node peels on the write that drops its remaining in-degree below
    * `k` at a peel ≤ `peels`, then grows and keeps its entry. Symmetric
    * edges: the k-core peel; k = 1 over directed edges: Kahn's. Returns
    * each unpeeled node's remaining in-degree (when > 0), whether every
    * node peeled, and the last peel in which a node peeled with
    * in-edges left. */
  private[graft] def peel(name: String, g: Fixpoint.Edges[Any],
      nodes: Option[Fixpoint.Rows[Any]], k: Int, peels: Int, maxRounds: Int)(
      diverged: => Nothing): (Fixpoint.Rows[(Any, Long)], Boolean, Int) = {
    def peeled(c: (Long, Long, Int)) = c._2 - c._1 < k && c._3 <= peels
    // the candidate along `node`'s edge to `d`; along its null edge, none
    def hit(node: Any, d: Any, c: (Long, Long, Int)) =
      if (d == null) ((null, node), (0L, 0L, c._3)) else ((null, d), c)
    var (left, last) = (0L, 0) // nodes not peeled; last edge-removing peel
    val entries = Fixpoint.loop(name, g, nodes, maxRounds)(
      Fixpoint.Frontier[Any, Int, (Long, Long, Int)](
        seed = (s, d) => hit(s, d, (0L, 1L, 1)),
        front = (_, c) => c._3 + 1,
        extend = (p, node, d) => hit(node, d, (1L, 0L, p)),
        combine = (a, b) => (a._1 + b._1, a._2 + b._2, a._3),
        merge = Some((c, old) => old.fold(Option(c))(o =>
          if (c._1 == 0 || peeled(o)) None
          else Some((o._1 + c._1, o._2, c._3)))),
        grows = peeled,
        sum = c => if (peeled(c)) 1L else 0L,
        max = c => if (peeled(c)) c._2 - c._1 else 0L)) { (r, st) =>
      left += (if (r == 0) st.rows else 0L) - st.sum
      if (st.max > 0) last = r + 1
    }(diverged)
    (entries.flatMap { case (key, (_, c)) =>
      if (peeled(c) || c._1 == c._2) None
      else Some((key.asInstanceOf[(Any, Any)]._2, c._2 - c._1))
    }, left == 0, last)
  }

  /**
   * Common-neighbor link prediction over an undirected graph: for every
   * node pair (u < v) with at least one shared neighbor, emit
   * cn = |N(u)∩N(v)|, Jaccard = cn / (|N(u)|+|N(v)|-cn), and
   * Adamic–Adar = Σ_{w∈N(u)∩N(v)} 1/ln(deg(w)) (Adamic & Adar 2003,
   * "Friends and neighbors on the Web"). Pairs may or may not be
   * existing edges — callers anti-join `edges` to score only
   * non-edges.
   *
   * The pair generation is the triangle two-path shape: join the
   * symmetric edge list to itself on the MIDDLE node w, keep u < v.
   * That fan-out is quadratic in deg(w), so `maxDegree` drops hub
   * middles above the bound BEFORE pairing — the same skew valve as
   * [[triangleCount]]; the bound is part of the operator's contract
   * (scores become "over the ≤cap-degree graph") and any mirror must
   * apply it identically. Degrees join back post-aggregation on slim
   * (node, deg) rows.
   */
  def commonNeighborScores(edges: DataFrame, aCol: String, bCol: String,
                           maxDegree: Option[Int] = Some(1000)): DataFrame = {
    // the canonical set feeds the pair join, the degree table, and two
    // degree join-backs — materialize it once (the pattern every other
    // iterative op here uses) instead of re-deriving the input pairing
    // per consumer; deg is 12 B/node and read three times, so it gets
    // the same treatment
    val e = canonical(edges, aCol, bCol).localCheckpoint(false)
    val sym = symmetric(e)
    val deg = sym.groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val mids = maxDegree match {
      case None => sym
      case Some(cap) =>
        sym.join(deg.where(col("deg") <= cap).select("node"),
          Seq("node"), "left_semi")
    }
    // two-path through w: (w, u) ⋈ (w, v), u < v; ln(deg(w)) rides
    // along so Adamic–Adar needs no third join
    val wdeg = mids.join(deg, "node")
      .select(col("node").as("w"), col("nbr").as("u"),
        log(col("deg").cast("double")).as("lnd"))
    val pairs = wdeg.as("x").join(
        wdeg.select(col("w"), col("u").as("v")).as("y"), "w")
      .where(col("u") < col("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("cn"), sum(lit(1.0) / col("lnd")).as("aa"))
    pairs
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), col("cn"),
        (col("cn").cast("double") /
          (col("du") + col("dv") - col("cn"))).as("jaccard"),
        col("aa").as("adamic_adar"))
  }

  /**
   * Multi-source BFS hop distances over a DIRECTED edge list, bounded
   * depth: dist(v) = min hops from any source, for all v reachable in
   * ≤ `maxHops`. Sources are a 1-column DataFrame (any name); a null
   * source reports (null, 0). The node column takes the wider of the
   * edge and source id types.
   *
   * Runs on the [[Fixpoint]] kernel ([[hops]]): the edges are grouped
   * by source once, and each hop is one job over the nodes the last
   * hop first reached — O(V+E) over the whole wave, never O(paths).
   */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   sources: DataFrame, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val spark = edges.sparkSession
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val src = sources.toDF("node")
    val t = Fixpoint.commonType(e.schema("src").dataType,
      e.schema("dst").dataType, src.schema("node").dataType)
    val reached = hops("bfs", Fixpoint.rows(e.select(
        Fixpoint.castTo(e, "src", t), Fixpoint.castTo(e, "dst", t)), None)
        .map(a => (a(0), a(1))),
      Fixpoint.rows(src.select(Fixpoint.castTo(src, "node", t)), None)
        .map(a => (null, a(0))), maxHops, maxHops, spark)(
      throw new IllegalStateException("bfsDistances: past the hop bound"))
    Fixpoint.frame(spark, reached.map { case ((_, n), h) => Row(n, h) },
      StructType(Seq(StructField("node", t, src.schema("node").nullable),
        StructField("dist", LongType, nullable = false))))
  }

  /** First-discovery hop counts ((tag, node), hops) from the (tag,
    * start) pairs of `starts` (hop 0) along `edges`, out to `maxHops`,
    * one BFS per tag: a [[Fixpoint.loop]] from the starts' root, run
    * where the edges are held. [[bfsDistances]] and the k-level DAG
    * check's seed cone tag every start null; [[harmonicCentrality]]
    * tags each with its source. */
  private[graft] def hops(name: String, edges: Fixpoint.Rows[(Any, Any)],
      starts: Fixpoint.Rows[(Any, Any)], maxHops: Long, maxRounds: Int,
      spark: SparkSession)(diverged: => Nothing)
      : Fixpoint.Rows[((Any, Any), Long)] = {
    val (es, root) = Fixpoint.rooted(edges, starts)(identity)
    val g = Fixpoint.graph(name, es, spark)(
      (ds: collection.Seq[Any]) => ds.distinct.toArray)()
    Fixpoint.loop(name, g, Some(root), maxRounds)(
      Fixpoint.Frontier[Any, (Any, Long), Long](
        seed = (_, s) => (s, 0L),
        front = (t, h) => (t, h),
        extend = { case ((t, h), _, d) => ((t, d), h + 1) },
        combine = (a, _) => a,
        merge = Fixpoint.firstDiscovery,
        grows = _ < maxHops))((_, _) => ())(diverged)
      .map { case (k, (_, h)) => (k.asInstanceOf[(Any, Any)], h) }
  }

  /**
   * Local clustering coefficient per node of the undirected graph:
   * `coeff = 2·T(v) / (deg(v)·(deg(v)−1))` where T(v) counts triangles
   * through v — the per-node closure density behind community
   * cohesion scoring and spam-subgraph triage. Nodes of degree < 2
   * report 0.0. Output: (node, deg, n_tri, coeff), coeff rounded to 6.
   *
   * Scale shape — same canonical machinery as [[triangleCount]]: the
   * DEGREE-ORDERED enumeration ([[orientedTriangles]], arboricity-
   * bounded wedge fan-out, hub-safe uncapped) yields each triangle
   * once with NO row multiplication, then each closed triangle
   * contributes to its three corners via an in-row 3-way explode of
   * slim id rows; one partial-aggregated count per node finishes. The
   * optional `maxDegree` valve caps hub fan-out before pairing exactly
   * as in [[triangleCount]] (documented truncation, not silent skew
   * death).
   */
  def clusteringCoefficient(edges: DataFrame, aCol: String, bCol: String,
                            maxDegree: Option[Int] = None): DataFrame = {
    val canon = canonical(edges, aCol, bCol)
    val e = maxDegree match {
      case None => canon
      case Some(cap) =>
        val deg0 = symmetric(canon)
          .groupBy("node").agg(count(lit(1)).as("d"))
        val keep = deg0.where(col("d") <= cap).select("node")
        canon.join(keep.withColumnRenamed("node", "lo"), Seq("lo"))
          .join(keep.withColumnRenamed("node", "hi"), Seq("hi"))
          .select("lo", "hi")
    }
    val deg = symmetric(e).groupBy("node").agg(count(lit(1)).as("deg"))
    val perNode = orientedTriangles(e)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(when(col("deg") < 2, lit(0.0))
          .otherwise(lit(2.0) * coalesce(col("n_tri"), lit(0L))
            .cast("double") /
            (col("deg") * (col("deg") - lit(1L))).cast("double")), 6)
          .as("coeff"))
  }

  /**
   * Bipartite projection: from a two-mode edge list (left, right),
   * produce the one-mode co-occurrence graph over the RIGHT nodes —
   * (u < v, weight = number of distinct left pivots they share). This
   * is the graph-construction step behind co-supply / co-purchase /
   * co-citation analytics (7 of this repo's graph specs build exactly
   * this shape inline).
   *
   * Scale: the quadratic danger is a hub pivot (a left node connected
   * to k rights emits k² pairs) — `maxPivotDegree` drops pivots above
   * the cap BEFORE pairing (documented truncation, the triangleCount
   * valve); `minWeight` prunes noise pairs after the partial-agg
   * count. Distinct-then-join on the pivot key is one shuffle; pair
   * aggregation a second.
   */
  def bipartiteProject(edges: DataFrame, leftCol: String, rightCol: String,
                       maxPivotDegree: Option[Int] = None,
                       minWeight: Long = 1): DataFrame = {
    val pr = edges.select(col(leftCol).as("__l"), col(rightCol).as("__r"))
      .where(col("__l").isNotNull && col("__r").isNotNull)
      .distinct()
    val kept = maxPivotDegree match {
      case None => pr
      case Some(cap) =>
        val pd = pr.groupBy("__l").agg(count(lit(1)).as("__d"))
        pr.join(pd.where(col("__d") <= cap).select("__l"), Seq("__l"))
    }
    kept.as("a").join(kept.as("b"),
        col("a.__l") === col("b.__l") && col("a.__r") < col("b.__r"))
      .groupBy(col("a.__r").as("u"), col("b.__r").as("v"))
      .agg(count(lit(1)).as("weight"))
      .where(col("weight") >= minWeight)
  }

  /**
   * Newman modularity of a community assignment over the undirected
   * graph: `Q = Σ_c [ L_c/m − (D_c/2m)² ]` (L_c intra-community
   * edges, D_c total degree of c, m total edges) — the one-number
   * quality check run after ANY community detection
   * ([[labelPropagation]], the dedup components) before the
   * assignment is trusted downstream. Output one row:
   * (modularity, n_communities, m_edges), modularity rounded to 6.
   *
   * Scale: two broadcast-or-hash joins of the slim (node, community)
   * map onto the canonical edge list, partial-aggregated per-community
   * sums (state = communities, not nodes), one final 1-row reduce.
   * Nodes missing from `communities` fail loudly (inner joins drop
   * their edges and the degree sum mismatch is visible in m_edges)
   * rather than silently counting as singletons.
   */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
                 communities: DataFrame, nodeCol: String = "node",
                 commCol: String = "label"): DataFrame = {
    val e = canonical(edges, aCol, bCol)
    val comm = communities.select(col(nodeCol).as("__n"),
      col(commCol).as("__c"))
    val mDf = e.agg(count(lit(1)).cast("double").as("__m"))
    val deg = symmetric(e).groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val intra = e
      .join(comm.select(col("__n").as("lo"), col("__c").as("__ca")), Seq("lo"))
      .join(comm.select(col("__n").as("hi"), col("__c").as("__cb")), Seq("hi"))
      .where(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("__c")).agg(count(lit(1)).as("__li"))
    val dc = comm.join(deg, col("__n") === col("node"))
      .groupBy(col("__c")).agg(sum(col("__d")).as("__dc"))
    dc.join(intra, Seq("__c"), "left")
      .crossJoin(broadcast(mDf))
      .agg(
        round(sum(coalesce(col("__li"), lit(0L)).cast("double") / col("__m")
          - pow(col("__dc").cast("double") / (lit(2.0) * col("__m")), 2)), 6)
          .as("modularity"),
        count(lit(1)).as("n_communities"),
        max(col("__m")).cast("long").as("m_edges"))
  }

  /**
   * k-truss peeling, fixed `rounds` bulk-synchronous iterations: keep
   * edges participating in ≥ k−2 triangles, recompute, repeat — the
   * edge-level cohesion decomposition (stricter than k-core; the
   * standard community-core extractor). Returns the surviving
   * canonical (lo, hi) edges after `rounds` peels; a fixed round count
   * keeps the SQL oracle mirrorable (the [[kCore]] contract), with
   * [[kTrussExact]] as the converged twin.
   *
   * Scale: each round re-runs the oriented triangle enumeration on the
   * shrinking edge set (no row multiplication), explodes each triangle
   * to its 3 edges IN-ROW, partial-aggregates support per edge, and
   * semi-joins the survivors; per-round lineage cuts keep plan depth
   * O(1). `maxDegree` is the hub valve (the [[triangleCount]]
   * contract): edges incident to a node of degree > cap are dropped
   * BEFORE the first peel — the per-round two-path join is quadratic
   * in hub degree, and unlike [[triangleCount]] it is paid once per
   * round, so an unvalved hub stalls every peel. On a hub-free graph
   * the valve is a no-op (pinned by unit test); on a capped graph the
   * result is the k-truss OF THE CAPPED GRAPH, the same explicit
   * semantics as the other valves.
   */
  def kTruss(edges: DataFrame, aCol: String, bCol: String, k: Int,
             rounds: Int, maxDegree: Option[Int] = None): DataFrame = {
    require(k >= 3, s"k must be >= 3: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    var e = capDegree(canonical(edges, aCol, bCol), maxDegree)
      .localCheckpoint(false)
    for (_ <- 1 to rounds) e = trussPeelOnce(e, k).localCheckpoint(false)
    e
  }

  private def trussPeelOnce(e: DataFrame, k: Int): DataFrame = {
    // degree-ordered enumeration (orientedTriangles) — per-round wedge
    // work is arboricity-bounded, so a hub doesn't stall every peel;
    // (a, b, c) carry no order, so support pairs re-canonicalize
    val tris = orientedTriangles(e)
    val support = tris.select(explode(array(
        struct(least(col("a"), col("b")).as("lo"),
          greatest(col("a"), col("b")).as("hi")),
        struct(least(col("b"), col("c")).as("lo"),
          greatest(col("b"), col("c")).as("hi")),
        struct(least(col("a"), col("c")).as("lo"),
          greatest(col("a"), col("c")).as("hi")))).as("__e"))
      .groupBy(col("__e.lo").as("lo"), col("__e.hi").as("hi"))
      .agg(count(lit(1)).as("__sup"))
    e.join(support.where(col("__sup") >= k - 2).select("lo", "hi"),
      Seq("lo", "hi"), "left_semi")
  }

  /** Converged k-truss: peel until the edge COUNT stops changing —
    * convergence detection rides the count that materializes each
    * round's checkpoint (one job per round). `maxRounds` bounds
    * pathological graphs: a peel still shrinking after `maxRounds`
    * rounds fails typed rather than return a half-peeled graph.
    * `maxDegree` is the same pre-peel hub valve as [[kTruss]]. */
  def kTrussExact(edges: DataFrame, aCol: String, bCol: String, k: Int,
                  maxRounds: Int = 50,
                  maxDegree: Option[Int] = None): DataFrame = {
    require(k >= 3, s"k must be >= 3: $k")
    var e = capDegree(canonical(edges, aCol, bCol), maxDegree)
      .localCheckpoint(false)
    var n = e.count()
    var done = n == 0
    var r = 0
    while (!done && r < maxRounds) {
      e = trussPeelOnce(e, k).localCheckpoint(false)
      val n2 = e.count()
      done = n2 == n || n2 == 0
      n = n2
      r += 1
    }
    if (!done)
      throw new GraphContractViolation(
        s"kTrussExact: peeling did not converge in $maxRounds rounds — " +
        "raise maxRounds (each round drops only the edges left in " +
        "fewer than k - 2 triangles)")
    e
  }

  /**
   * Weighted PageRank: contributions distribute proportionally to edge
   * weight — `rank_{k+1}(v) = (1−d)/N + d·Σ_u rank_k(u)·w(u,v)/W(u)`
   * with `W(u)` the total outgoing weight. The natural composition
   * with [[bipartiteProject]]: co-occurrence weights make strongly
   * co-supplying partners matter more than one-off pairings. Parallel
   * (src, dst) rows pre-sum their weights; non-positive weights drop.
   * Same iteration as [[pageRank]], with w(u,v)/W(u) on each grouped
   * out-edge.
   */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int = 10,
                       damping: Double = 0.85): DataFrame =
    powerIteration("pageRankWeighted", edges.select(col(srcCol).as("src"),
        col(dstCol).as("dst"), col(weightCol).cast("double").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("w") > 0),
      None, iterations, damping, normalize = false, _ + _, stochastic = true,
      Seq("rank"))(n => require(n > 0, "empty graph"))

  /**
   * Harmonic centrality of the `sources` nodes over the undirected
   * graph, bounded at `maxHops`: `H(s) = Σ_{v ≠ s} 1/d(s,v)` summed
   * over reached nodes — the centrality that stays well-defined on
   * disconnected graphs (unreachable nodes contribute 0, not ∞).
   * Output: (src, n_reached, harmonic), harmonic rounded to 6; a
   * source that reaches nothing has no row.
   *
   * Scale shape: the [[bfsDistances]] BFS ([[hops]]) with each entry
   * tagged by its source, so state is (src, node) pairs — bounded by
   * |sources|·reachable, which is why this is a SAMPLED-sources
   * centrality (estimating all-nodes centrality samples sources; the
   * all-pairs form is quadratic and intentionally absent). The
   * symmetric edges are grouped by node once, and each hop is one job
   * over the pairs the last hop first reached.
   */
  def harmonicCentrality(edges: DataFrame, aCol: String, bCol: String,
                         sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val spark = edges.sparkSession
    val sym = bothWays(edges, aCol, bCol)
    val src = sources.toDF("node")
    val t = Fixpoint.commonType(sym.schema("node").dataType,
      src.schema("node").dataType)
    val reached = hops("harmonic", Fixpoint.rows(sym.select(
        Fixpoint.castTo(sym, "node", t), Fixpoint.castTo(sym, "nbr", t)), None)
        .map(a => (a(0), a(1))), Fixpoint.rows(src.select(col("node"),
        Fixpoint.castTo(src, "node", t)), None).map(a => (a(0), a(1))),
      maxHops, maxHops, spark)(
      throw new IllegalStateException("harmonicCentrality: past the hop bound"))
    Fixpoint.frame(spark, reached.flatMap { case ((s, _), h) =>
        if (h > 0) Some(Row(s, h)) else None
      }, StructType(Seq(src.schema("node").copy(name = "src"),
        StructField("dist", LongType, nullable = false))))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_reached"),
        round(sum(lit(1.0) / col("dist").cast("double")), 6).as("harmonic"))
  }

  /**
   * Degree distribution with a log-log power-law fit: the histogram
   * (degree → node count) of the undirected graph plus a least-squares
   * slope/intercept over ln(degree) vs ln(count) — the one-look health
   * check that separates a scale-free co-occurrence graph from a
   * uniform-noise artifact (and flags projection hubs BEFORE a
   * quadratic operator meets them). Output one row:
   * (n_nodes, n_degrees, max_degree, slope, intercept), slope/
   * intercept rounded to 6.
   *
   * Scale: two partial-agg passes over slim rows (degrees, then the
   * histogram), one 1-row reduce for the fit — the [[TextOps.zipfFit]]
   * arithmetic on degree classes.
   */
  def degreeDistribution(edges: DataFrame, aCol: String,
                         bCol: String): DataFrame = {
    val deg = symmetric(canonical(edges, aCol, bCol))
      .groupBy("node").agg(count(lit(1)).as("__d"))
    val hist = deg.groupBy(col("__d")).agg(count(lit(1)).as("__c"))
    val pts = hist.select(log(col("__d").cast("double")).as("__x"),
      log(col("__c").cast("double")).as("__y"),
      col("__d"), col("__c"))
    pts.agg(sum(col("__c")).as("n_nodes"), count(lit(1)).as("n_degrees"),
        max(col("__d")).as("max_degree"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .select(col("n_nodes"), col("n_degrees"), col("max_degree"),
        round((col("n_degrees") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("n_degrees") * col("__sxx") - col("__sx") * col("__sx")), 6)
          .as("slope"),
        round((col("__sy") - ((col("n_degrees") * col("__sxy") -
          col("__sx") * col("__sy")) /
          (col("n_degrees") * col("__sxx") - col("__sx") * col("__sx"))) *
          col("__sx")) / col("n_degrees"), 6).as("intercept"))
  }

  /**
   * Degree assortativity (Newman 2002): the Pearson correlation of
   * endpoint degrees over the symmetrized edge list — positive means
   * hubs attach to hubs (social-graph shape), negative means hub-and-
   * spoke (star/bipartite-projection shape), the one number that says
   * which quadratic valves will matter. Computed from the five sums
   * explicitly (no engine corr() variance-convention surprises).
   * Output one row: (n_pairs, assortativity), rounded to 6.
   */
  def degreeAssortativity(edges: DataFrame, aCol: String,
                          bCol: String): DataFrame = {
    val e = canonical(edges, aCol, bCol)
    val deg = symmetric(e).groupBy("node").agg(count(lit(1)).as("__d"))
    val pairs = symmetric(e)
      .join(deg.select(col("node"), col("__d").as("__dx")), Seq("node"))
      .join(deg.select(col("node").as("nbr"), col("__d").as("__dy")),
        Seq("nbr"))
      .select(col("__dx").cast("double").as("x"),
        col("__dy").cast("double").as("y"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
        sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"),
        sum(col("y") * col("y")).as("__syy"))
      .select(col("n_pairs"),
        round((col("n_pairs") * col("__sxy") - col("__sx") * col("__sy")) /
          sqrt((col("n_pairs") * col("__sxx") - col("__sx") * col("__sx")) *
            (col("n_pairs") * col("__syy") - col("__sy") * col("__sy"))), 6)
          .as("assortativity"))
  }

  /**
   * Deterministic random-walk corpus (the DeepWalk / node2vec
   * training-data generator, Perozzi et al. 2014): one walk of
   * `steps` hops per source over the undirected graph, where the
   * "random" neighbor choice is the argmin of a multiplicative hash
   * of (current node, step, neighbor) — pseudo-random spread, but
   * reproducible across runs, partitionings and engines (ties break
   * on the smaller neighbor). Walks CAN revisit nodes, as real random
   * walks do. Output: (start, step, node) rows, step 0 = the source —
   * exactly the sequence corpus a skip-gram embedding trainer
   * consumes.
   *
   * Scale: per hop, one join of the walks-sized frontier to the
   * symmetric edge list + a partial-aggregated argmin per walk —
   * 24 B rows throughout; `steps` is small by contract (walk length,
   * not diameter). The frontier checkpoints per hop so plan depth
   * stays flat. Hub fan-in is bounded by the argmin's map-side
   * partial aggregation (no neighbor list ever materializes).
   */
  def deterministicWalks(edges: DataFrame, aCol: String, bCol: String,
                         sources: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1, s"steps must be >= 1: $steps")
    val sym = symmetric(canonical(edges, aCol, bCol)).localCheckpoint(false)
    var cur = sources.toDF("start").distinct()
      .select(col("start"), col("start").as("node"))
      .localCheckpoint(false)
    // one row per walk at every step — count once, broadcast each hop
    // under the bound so sym never shuffles per step
    val nWalks = cur.count()
    var out = cur.withColumn("step", lit(0L))
    for (s <- 1 to steps) {
      val h = Hashing.mulHash(col("node") * lit(1000003L) +
        lit(s * 31L) + col("nbr"))
      cur = bcastIf(cur, nWalks).join(sym, Seq("node"))
        .groupBy(col("start"))
        .agg(min(struct(h.as("h"), col("nbr").as("n"))).as("__m"))
        .select(col("start"), col("__m.n").as("node"))
        .localCheckpoint(false)
      out = out.union(cur.withColumn("step", lit(s.toLong)))
    }
    out.select(col("start"), col("step"), col("node"))
  }

  /**
   * Graph card: the p20-datasetCard analog for a DIRECTED edge list —
   * size, density, degree shape and reciprocity as (metric, value)
   * rows, the pre-flight read before choosing graph operators (max
   * degree → quadratic-valve settings; reciprocity → whether directed
   * analysis differs from undirected at all). Self-loops are dropped
   * and edges deduped first; density = E/(V·(V−1)); reciprocity =
   * fraction of edges whose reverse also exists.
   *
   * Scale: one distinct over slim pairs, degree partial-aggs, a
   * self-semi-join for reciprocity, and 1-row reduces — metric rows
   * explode from the 1-row frame.
   */
  def graphCard(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct().localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .agg(count(lit(1)).as("__v"))
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("__d"))
      .agg(max(col("__d")).as("__maxout"), avg(col("__d")).as("__avgout"))
    val recip = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("__r"))
    val edgesN = e.agg(count(lit(1)).as("__e"))
    val one = edgesN.crossJoin(nodes).crossJoin(outDeg).crossJoin(recip)
    val metrics: Seq[(String, Column)] = Seq(
      "n_nodes" -> col("__v").cast("double"),
      "n_edges" -> col("__e").cast("double"),
      // guarded ratios: density/reciprocity are undefined (null) on
      // graphs with < 2 nodes / no edges — an unguarded divide is an
      // ANSI-mode runtime error on the empty graph
      "density" -> when(col("__v") > 1L, round(col("__e").cast("double") /
        (col("__v").cast("double") * (col("__v") - 1L)), 6)),
      "avg_out_degree" -> round(col("__avgout"), 6),
      "max_out_degree" -> col("__maxout").cast("double"),
      "reciprocity" -> when(col("__e") > 0L,
        round(col("__r").cast("double") / col("__e"), 6)))
    one.select(explode(array(metrics.map { case (n, c) =>
        struct(lit(n).as("metric"), c.as("value")) }: _*)).as("__m"))
      .select("__m.*")
  }

  /**
   * Strongly connected components by bounded-doubling reachability:
   * `rounds` rounds of transitive-closure doubling (R ← R ∪ R⋈R)
   * give every path of ≤ 2^rounds hops, then SCC(v) = min(v, min{w :
   * v⇝w ∧ w⇝v}) — EXACT whenever the graph's directed diameter is
   * ≤ 2^rounds, which the caller asserts by choosing `rounds`
   * (3 ⇒ 8 hops). Deterministic: closure and min-labeling are
   * set-algebraic, no tie-breaking anywhere.
   *
   * Scale: closure doubling is the O(log d) path-joins trade — each
   * round one self-join + distinct on slim (src, dst) pairs, lazily
   * checkpointed. The closure can be |V|² on dense mutual-reach
   * graphs: this operator targets CONTRACTED graphs (entity-level
   * flow graphs, dependency graphs), not raw billion-node webs — run
   * [[Dedup.connectedComponents]] first when direction doesn't
   * matter, or contract by community before asking for SCCs. The
   * contract is ENFORCED, not just documented: after every doubling
   * round the closure's row count is checked against
   * `maxClosureRows` and a [[GraphContractViolation]] names the bound
   * and the round — failing fast in O(rounds) jobs instead of
   * silently materializing a quadratic frame (the count rides the
   * checkpoint the round materializes anyway, the [[kTrussExact]]
   * pattern).
   */
  def sccBounded(edges: DataFrame, srcCol: String, dstCol: String,
                 rounds: Int = 3,
                 maxClosureRows: Long = 100000000L): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    require(maxClosureRows >= 1, "maxClosureRows must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct().localCheckpoint(false)
    var r = e
    for (round <- 1 to rounds) {
      r = r.union(
          r.as("a").join(r.as("b"), col("a.dst") === col("b.src"))
            .select(col("a.src").as("src"), col("b.dst").as("dst")))
        .distinct().localCheckpoint(false)
      val n = r.count()
      if (n > maxClosureRows)
        throw new GraphContractViolation(
          s"sccBounded: reachability closure hit $n rows after doubling " +
          s"round $round (bound maxClosureRows=$maxClosureRows). The input " +
          "is too well-connected for closure doubling — contract the graph " +
          "first (community/CC contraction) or raise maxClosureRows " +
          "deliberately.")
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val mutual = r.join(
      r.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    val minPartner = mutual.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("__m"))
    nodes.join(minPartner, Seq("node"), "left")
      .select(col("node"),
        least(col("node"), coalesce(col("__m"), col("node")))
          .as("component"))
  }

  /**
   * Sampled-source betweenness centrality (Brandes 2001, "A faster
   * algorithm for betweenness centrality"; sampling per Brandes &
   * Pich 2007): exact single-source dependency accumulation batched
   * over a SOURCE SAMPLE — the same deliberate contract as
   * [[harmonicCentrality]]: all-pairs betweenness is O(V·E) and
   * intentionally absent; estimate by sampling sources and scaling.
   * Output `bc` sums the raw Brandes dependencies δ_s(v) over the
   * sampled sources (no pair-direction halving — each undirected pair
   * contributes from both endpoints when both are sampled, the
   * classic convention; divide by 2 outside for the textbook number).
   *
   * Forward phase: BFS waves keyed (source, node) carrying the
   * shortest-path COUNT σ (a depth-(d+1) node's σ is the sum of its
   * depth-d neighbors' σ). Backward phase: walks the recorded depth
   * frames deepest-first, δ(v) = Σ_{w: dist(w)=dist(v)+1}
   * (σ_v/σ_w)·(1+δ_w) — every step a join + partial-aggregated
   * groupBy over slim (source, node) rows; per-depth frames are
   * lazily checkpointed so the 2·depth-round lineage stays flat.
   * `maxHops` bounds the wavefront (the BFS-family skew valve);
   * state is |sources|·reachable by construction.
   */
  def betweennessSampled(edges: DataFrame, aCol: String, bCol: String,
                         sources: DataFrame, maxHops: Int = 6): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val sym = symmetric(canonical(edges, aCol, bCol)).localCheckpoint(false)
    val src = sources.toDF("s").distinct()
    val lvl0 = src.select(col("s"), col("s").as("node"),
      lit(1.0).as("sigma")).localCheckpoint(false)
    var levels = Vector(lvl0)
    var levelRows = Vector(lvl0.count())
    var seen = lvl0.select("s", "node").localCheckpoint(false)
    var frontierNonEmpty = levelRows.last > 0
    var d = 0
    while (frontierNonEmpty && d < maxHops) {
      // small wave frames broadcast into the sym join (bcastIf): the
      // symmetrized edge frame never shuffles per wave; the full count
      // replaces the limit-1 probe and feeds the hint bound
      val nxt = bcastIf(levels.last, levelRows.last).join(sym, Seq("node"))
        .select(col("s"), col("nbr").as("node"), col("sigma"))
        .join(seen, Seq("s", "node"), "left_anti")
        .groupBy("s", "node").agg(sum("sigma").as("sigma"))
        .localCheckpoint(false)
      val n = nxt.count()
      frontierNonEmpty = n > 0
      if (frontierNonEmpty) {
        levels = levels :+ nxt
        levelRows = levelRows :+ n
        seen = seen.union(nxt.select("s", "node")).localCheckpoint(false)
        d += 1
      }
    }
    // backward accumulation, deepest level has delta = 0
    var acc: DataFrame = null
    var below = levels.last.withColumn("delta", lit(0.0))
    var belowRows = levelRows.last
    for (i <- levels.length - 2 to 1 by -1) {
      val contrib = bcastIf(levels(i), levelRows(i)).join(sym, Seq("node"))
        .select(col("s"), col("node"), col("sigma"), col("nbr"))
        .join(bcastIf(below.select(col("s"), col("node").as("nbr"),
          col("sigma").as("__sw"), col("delta").as("__dw")), belowRows),
          Seq("s", "nbr"))
        .groupBy(col("s"), col("node"), col("sigma"))
        .agg(sum(col("sigma") / col("__sw") * (lit(1.0) + col("__dw")))
          .as("delta"))
        .select(col("s"), col("node"), col("sigma"), col("delta"))
        .localCheckpoint(false)
      belowRows = levelRows(i)
      // nodes at this depth with no deeper successor keep delta 0
      below = levels(i).join(bcastIf(contrib.select(col("s"), col("node"),
          col("delta")), levelRows(i)), Seq("s", "node"), "left")
        .select(col("s"), col("node"), col("sigma"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .localCheckpoint(false)
      acc = if (acc == null) below.select("node", "delta")
            else acc.union(below.select("node", "delta"))
    }
    val allNodes = sym.select(col("node")).distinct()
    val bc = if (acc == null) allNodes.withColumn("bc", lit(0.0))
      else allNodes.join(acc.groupBy("node").agg(sum("delta").as("bc")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("bc"), lit(0.0)).as("bc"))
    bc
  }

  /**
   * HITS hubs-and-authorities (Kleinberg 1999, "Authoritative sources
   * in a hyperlinked environment"), fixed iteration count, L1 (sum)
   * normalization after every half-step so scores are comparable
   * across engines without an eigenvector-scale ambiguity:
   *
   *   auth_k(v) = Σ_{(u,v)∈E} hub_{k-1}(u)   then auth_k /= Σ auth_k
   *   hub_k(u)  = Σ_{(u,v)∈E} auth_k(v)      then hub_k  /= Σ hub_k
   *
   * hub_0 ≡ 1. Nodes with no in-edges keep authority 0; nodes with no
   * out-edges keep hub 0 (on a bipartite graph the two scores live on
   * opposite sides — that is the expected shape, not a bug). Parallel
   * edges count once; an empty edge set has no rows.
   *
   * Scale: [[pageRank]]'s iteration with p = 1 and no teleport, its
   * half-steps alternating between the forward and the reversed edges,
   * each grouped once: one job per half-step, whose L1 total
   * normalizes the scores.
   */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 3): DataFrame =
    powerIteration("hits", unweighted(edges, srcCol, dstCol), None,
      iterations, 1.0, normalize = true, (w, _) => w, stochastic = false,
      Seq("auth", "hub"))(_ => ())

  /**
   * Recommended quadratic-valve settings read off a [[graphCard]] —
   * so 100×-scale users size `maxDegree` / `maxPivotDegree` /
   * `maxClosureRows` from measured graph shape instead of hand-tuning:
   *
   *  - `maxDegree` (for [[triangleCount]] / [[kTruss]] /
   *    `clusteringCoefficient`) and `maxPivotDegree` (for
   *    `bipartiteProject`): `ceil(sqrt(2·E))` whenever the observed
   *    max degree exceeds it, else `None` (no hub to valve). Rationale:
   *    a node of degree d contributes d² two-paths, so capping at
   *    ~sqrt(2E) bounds any single node's pair fan-out by the total
   *    edge count — no "last reducer" (Suri & Vassilvitskii 2011).
   *  - `sccMaxClosureRows`: `max(64·E, 16·V)` — a closure that honest
   *    contracted-graph inputs stay well under (diameter-bounded
   *    reach ≈ E·diameter) but a dense mutual-reach graph blows
   *    through in the first doublings, tripping [[sccBounded]]'s
   *    guard early instead of at |V|².
   *
   * The card is model-sized (6 metric rows) so the read is a
   * documented model-sized collect.
   */
  def valveAdvisory(card: DataFrame): ValveAdvisory = {
    // null-safe read: an empty graph's card carries null max/avg rows
    val m = card.collect().flatMap { r =>
      Option(r.get(r.fieldIndex("value"))).map(v =>
        r.getString(r.fieldIndex("metric")) ->
          v.asInstanceOf[Number].doubleValue())
    }.toMap
    val edges = m.getOrElse("n_edges", 0.0)
    val nodes = m.getOrElse("n_nodes", 0.0)
    val maxDeg = m.getOrElse("max_out_degree", 0.0)
    val cap = math.ceil(math.sqrt(2.0 * edges)).toLong
    val hubCap =
      if (edges > 0 && maxDeg > cap) Some(math.max(cap, 1L).toInt) else None
    ValveAdvisory(
      maxDegree = hubCap,
      maxPivotDegree = hubCap,
      sccMaxClosureRows = math.max(64L * edges.toLong,
        16L * nodes.toLong).max(1L),
      observedMaxDegree = maxDeg.toLong,
      nNodes = nodes.toLong,
      nEdges = edges.toLong)
  }

  /**
   * Weighted single-source (or multi-source) shortest paths (round
   * 11): distributed frontier RELAXATION — Bellman-Ford's shape, the
   * standard Spark lowering (a Dijkstra priority queue has no
   * distributed form). Each round extends only the rows IMPROVED last
   * round along their out-edges, min-aggregates candidate distances
   * per destination, and keeps the ones that beat the settled table —
   * so round work tracks the improvement wavefront, not the node
   * count, and the loop stops the first round nothing improves.
   * Output: one (node, dist) row per reachable node, sources at 0.0;
   * the node column takes the wider of the edge and source id types.
   *
   * Weights must be NON-NEGATIVE (checked by the job that groups the
   * edges): relaxation still converges with negative
   * edges, but a negative CYCLE would improve forever — the typed
   * error beats a silent maxIter timeout. Rounds are bounded by
   * `maxIter` (weighted improvement can revisit a node up to V−1
   * times in the worst case; the guard fails typed, never loops).
   *
   * Scale shape: runs on the [[Fixpoint]] kernel ([[relax]]) — the
   * edges are grouped by source once, and each round is one job over
   * the improved nodes; the settled state holds one entry per node.
   */
  def weightedSssp(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, sources: DataFrame,
      maxIter: Int = 100): DataFrame =
    relax("weightedSssp", edges, srcCol, dstCol, weightCol, sources,
      maxIter, withPred = false)

  /**
   * Weighted shortest-path TREE (round 11): [[weightedSssp]] carrying
   * each settled node's PREDECESSOR on its cheapest route — the
   * standard routing deliverable (follow `pred` links back to a
   * source to reconstruct the path; sources carry a null pred).
   * RETURN CONTRACT: `pred` keeps the source id column's NATIVE type,
   * and equal-cost routes tie-break on the SMALLEST predecessor id in
   * that type's order (numeric ids compare numerically — 9 < 10; the
   * same struct-min trick as MERGE's winner rule), so the tree is
   * deterministic and a SQL oracle reproduces it with a plain min().
   *
   * Same relaxation, guards and kernel loop as [[weightedSssp]]
   * ([[relax]]), with the pred riding the per-round min-combine.
   * Output: (node, dist, pred); the node and pred columns take the
   * wider of the edge and source id types.
   */
  def weightedSsspTree(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, sources: DataFrame,
      maxIter: Int = 100): DataFrame =
    relax("weightedSsspTree", edges, srcCol, dstCol, weightCol, sources,
      maxIter, withPred = true)

  /** The relaxation loop of [[weightedSssp]] and [[weightedSsspTree]]
    * (`withPred`) on a [[Fixpoint.loop]] from the sources' root
    * ([[Fixpoint.rooted]]): round 0 writes the sources at 0.0 with a
    * null pred; the edges are grouped by source once (that job also
    * counts negative weights), and each round is one job — the
    * improved nodes extend along their out-edges, candidates
    * min-combine per node, and a candidate replaces the node's entry
    * (one entry per node) only when it beats it. Without preds every
    * candidate carries a null pred, so a node improves only on a
    * strictly smaller distance.
    * Output (node, dist[, pred]); errors name `op`. */
  private def relax(op: String, edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, sources: DataFrame,
      maxIter: Int, withPred: Boolean): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    val spark = edges.sparkSession
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"),
        col(weightCol).cast(DoubleType).as("__w"))
      .where(col("__s").isNotNull && col("__d").isNotNull &&
        col("__w").isNotNull)
    val src = sources.select(col(sources.columns.head).as("__n"))
    val t = Fixpoint.commonType(e.schema("__s").dataType,
      e.schema("__d").dataType, src.schema("__n").dataType)
    // node → (dst, weight) out-edges, the root's at 0.0; the build job
    // also counts the negative weights
    val (es, root) = Fixpoint.rooted(Fixpoint.rows(e.select(
        Fixpoint.castTo(e, "__s", t), Fixpoint.castTo(e, "__d", t),
        col("__w")), None).map(a => (a(0), (a(1), a(2).asInstanceOf[Double]))),
      Fixpoint.rows(src.select(Fixpoint.castTo(src, "__n", t)), None)
        .flatMap(a => Option(a(0))))(n => (n, 0.0))
    val g = Fixpoint.graph(op, es, spark)(
      (ws: collection.Seq[(Any, Double)]) => ws.toArray)(
      _.count(_._2 < 0).toLong)
    if (g.sum > 0)
      throw new GraphContractViolation(
        s"$op: negative edge weight — relaxation requires " +
        "w >= 0 (a negative cycle would improve forever)")
    // (null, node) → (dist, pred)
    val settled = Fixpoint.loop(op, g, Some(root), maxIter)(
      Fixpoint.Frontier[(Any, Double), Double, (Double, Any)](
        seed = { case (_, (n, _)) => ((null, n), (0.0, null)) },
        front = (_, c) => c._1,
        extend = { case (dist, node, (d, w)) =>
          ((null, d), (dist + w, if (withPred) node else null))
        },
        combine = (a, b) => if (treeOrder(a, b) <= 0) a else b,
        merge = Some((c, old) =>
          if (old.forall(treeOrder(c, _) < 0)) Some(c) else None)))(
      (_, _) => ())(
      throw new GraphContractViolation(
        s"$op: relaxation did not converge in $maxIter " +
        "rounds — raise maxIter (dense weighted improvement can " +
        "take up to V-1 rounds)"))
    Fixpoint.frame(spark, settled.map { case (k, (_, (dist, pred))) =>
        val n = k.asInstanceOf[(Any, Any)]._2
        if (withPred) Row(n, dist, pred) else Row(n, dist)
      }, StructType(Seq(StructField("node", t),
      StructField("dist", DoubleType)) ++
      (if (withPred) Seq(StructField("pred", t)) else Nil)))
  }

  /** The shortest-path tree's order on (dist, pred) entries: distance
    * first, then the smaller predecessor, a source's null pred
    * smallest — Spark's `min(struct(dist, pred))` order. */
  private def treeOrder(a: (Double, Any), b: (Double, Any)): Int = {
    val c = compareIds(a._1, b._1)
    if (c != 0) c else compareIds(a._2, b._2)
  }

  /**
   * Route expansion over a [[weightedSsspTree]] (round 11): one row
   * per HOP of every node's cheapest route — (node, pos, hop), pos 0
   * at the source, the last pos at the node itself. Iterative
   * pred-following: each round moves the still-walking heads one pred
   * link back, so round work is the number of unfinished routes and
   * the loop ends when every head reaches a source (null pred).
   * Output rows = Σ route lengths — bounded by nodes × the tree's
   * depth; `maxIter` guards a malformed tree (a pred cycle cannot
   * arise from [[weightedSsspTree]] itself, but a hand-edited frame
   * could) with a typed error.
   *
   * Runs on the [[Fixpoint]] kernel: the tree's (node → pred) links
   * are indexed once as the loop's adjacency, and each round is one
   * job that shuffles only the heads still walking.
   */
  def ssspRoutes(tree: DataFrame, maxIter: Int = 100): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    val spark = tree.sparkSession
    val links = Fixpoint.rows(tree.select(col("node").cast(StringType),
      col("pred").cast(StringType)), None).flatMap(a =>
        if (a(0) == null) None else Some((a(0), a(1))))
    val g = Fixpoint.graph("routes", links.flatMap { case (n, p) =>
      Option(p).map((n, _)) }, spark)((ps: collection.Seq[Any]) => ps.toArray)()
    // a level per round: (target, hop) → back, the hops walked back from
    // the target; round r walks back r + 1
    val walked = Fixpoint.loop("routes", g, None, maxIter - 1)(
      Fixpoint.Frontier[Any, (Any, Int), Int](
        seed = (node, pred) => ((node, pred), 1),
        front = (target, back) => (target, back),
        extend = { case ((target, back), _, pred) =>
          ((target, pred), back + 1)
        },
        combine = (a, _) => a))((_, _) => ())(
      throw new GraphContractViolation(
        s"ssspRoutes: route expansion did not terminate in $maxIter " +
        "rounds — the tree's pred links do not reach a source " +
        "(malformed or cyclic tree)"))
    // pos = route length − back (source at 0, target last)
    val hops = Fixpoint.union(links.map { case (n, _) => (n, (n, 0)) },
      walked.map { case (k, (_, back)) =>
        val (target, hop) = k.asInstanceOf[(Any, Any)]
        (target, (hop, back))
      })
    Fixpoint.frame(spark, Fixpoint.regroup(hops, spark) { (target, hs) =>
        val len = hs.iterator.map(_._2).max
        hs.iterator.map { case (hop, back) => Row(target, len - back, hop) }
      }, StructType(Seq(
      StructField("node", StringType), StructField("pos", IntegerType),
      StructField("hop", StringType))))
  }
}

/** Recommended caps for the quadratic-prone graph operators, derived
  * from measured graph shape by [[GraphOps.valveAdvisory]]. `None`
  * means the graph has no hub that needs valving. */
final case class ValveAdvisory(
    maxDegree: Option[Int],
    maxPivotDegree: Option[Int],
    sccMaxClosureRows: Long,
    observedMaxDegree: Long,
    nNodes: Long,
    nEdges: Long)

/** Thrown when a graph operator's documented scale contract is
  * violated at runtime (e.g. [[GraphOps.sccBounded]]'s reachability
  * closure exceeding its row bound) — the fail-fast alternative to
  * silently materializing a quadratic frame. */
class GraphContractViolation(msg: String) extends RuntimeException(msg)
