package graft.cypher

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField,
  StructType}

import ast._
import graft.ops.{Fixpoint, GraphContractViolation}
import graft.ops.Fixpoint.{compareIdSeqs, compareIds}
import graft.ops.GraphOps.bcastIf

/**
 * Unbounded variable-length `[*]` / `[*1..]` → REACHABLE-PAIR lowering
 * (extension; the reference rejects all var-length,
 * reference: CypherVisitor.cs:2035-2039).
 *
 * Semantics — deliberately the recursive-CTE `UNION` (distinct)
 * contract, the only shape that scales: the match set contains ONE row
 * per distinct (source, destination) pair connected by a path of
 * length ≥ 1, not one row per path (unbounded per-path enumeration is
 * factorially large on cyclic graphs; bounded `[*lo..hi]` keeps the
 * per-path branch-union semantics). The pair set is computed by an
 * iterate-to-fixpoint frontier BFS — the [[graft.ops.GraphOps]]
 * posture: slim (src, dst) rows only, per-round lineage cuts, the
 * frontier anti-joins the seen set so every round shrinks to genuinely
 * new pairs and the loop terminates in ≤ diameter rounds.
 *
 * The lowering SPLICES the reach frame back into the ordinary join
 * DAG as a synthetic one-hop edge (`__REACH_<n>_<verb>` over table
 * `__reach_<n>_<verb>`; `<n>` from a process-global counter so nested
 * rewrites — an outer MATCH plus an EXISTS subplan in the same query —
 * can never collide on a table name), so everything around it — other
 * rels, WHERE, OPTIONAL MATCH, aggregation, projections — compiles
 * unchanged.
 *
 * Scale posture (the closure is computed at COMPILE time, so the
 * guards live here, not in the emitted plan):
 *
 *  - '''Anchor seeding.''' When the clause constrains a reach endpoint
 *    — a literal `=`/`IN` WHERE conjunct on any property of the
 *    endpoint's node (inline property maps and `$params` desugar to
 *    exactly these), or the endpoint variable piped in bound from an
 *    earlier part — the BFS frontier starts from the CONSTRAINED node
 *    set instead of every edge, so only the reachable cone of the
 *    anchored rows is ever materialized (multi-source waves, the
 *    [[graft.ops.GraphOps.bfsDistances]] posture). A source anchor
 *    seeds the forward BFS; otherwise a destination anchor seeds the
 *    same BFS over reversed edges. Piped-frame seeding re-executes the
 *    incoming frame once at compile time (distinct ids only) — the
 *    right trade whenever the frame is narrower than the graph, which
 *    is what piping it means.
 *  - '''Closure row guard.''' Every round the accumulated pair count
 *    (taken by the job that materializes the round anyway) is
 *    checked against `maxClosureRows` — default `max(64·E, 1024)`, the
 *    [[graft.ops.GraphOps.sccBounded]] contract, overridable via the
 *    session conf `spark.graft.reach.maxClosureRows` — and a
 *    [[graft.ops.GraphContractViolation]] names the bound and the
 *    round. A dense graph blows up in ROW VOLUME long before the
 *    round guard (diameter) trips; this fails fast in O(rounds) jobs
 *    instead of silently materializing a quadratic frame.
 *
 * Contract (typed rejections otherwise):
 *  - explicit single verb whose schema edge is SELF-TYPE
 *    (fromLabel == toLabel) — multi-hop chains of one verb need one id
 *    namespace; heterogeneous chains must be written hop by hop;
 *  - undirected patterns (round 17): the reachability/shortest forms
 *    run over the SYMMETRIZED frame (e ∪ swap(e)) — minimal walks
 *    there never repeat a vertex, so pairs/shortestPath/allShortest
 *    are trail-exact; (x, x) rows are excluded (the return walk
 *    reuses its edge) and per-path forms stay typed (the symmetrized
 *    frame is cyclic by construction). Heterogeneous undirected
 *    chains stay typed;
 *  - per-path observation: a PLAIN named path (`length(p)` /
 *    `nodes(p)` / `relationships(p)` without a shortest form or
 *    selector) enumerates ALL paths (round 17) via the k-level σ DP
 *    UNTRIMMED (`walk` kind: every level kept, every path its own
 *    row) — exact trail semantics on a DAG (a walk on a DAG cannot
 *    revisit a node); cyclic graphs keep the typed bound-the-range
 *    contract, and the maxClosureRows guard bounds the expansion.
 *    `shortestPath()` over an unbounded range
 *    IS lowered (round 9): min-distance per pair is exactly what the
 *    BFS's first-discovery round computes, so the reach frame gains a
 *    `__dist` column and `length(p)` binds to it — per-pair shortest
 *    semantics without ever enumerating a path. `allShortestPaths()`
 *    over an unbounded range is lowered for ANCHORED patterns only
 *    (round 10, [[allShortestWitnesses]]): the same BFS carries the
 *    shortest-path count σ (Brandes' forward pass) and each pair row
 *    multiplies σ-fold — one row per minimal path with no per-path
 *    state; unanchored stays a typed rejection (the witness set is
 *    only bounded on an anchored cone);
 *  - lower bound > 1 (round 17): "exists a path of length ≥ k" is not
 *    min-distance ≥ k on cyclic graphs, so `[*k..]` has no BFS
 *    lowering — it routes through the k-level DP instead (levels
 *    filter to `__dist ≥ k` before the trim; shortestPath ≡
 *    SHORTEST 1, allShortestPaths ≡ SHORTEST 1 GROUPS, bare patterns
 *    take one row per pair), DAG-exact and typed on cyclic graphs.
 */
private[cypher] object Reach {

  /** Fixpoint-round guard: rounds = graph diameter, so hitting this
    * means a pathological chain, not a real query. */
  val MaxRounds = 1024

  /** Session conf key overriding the closure row bound. */
  val MaxClosureRowsConf = "spark.graft.reach.maxClosureRows"

  /** Session conf key bounding the DRIVER fast path of the iterative
    * reach loops (optimization round 16 — the driverKahn /
    * driverUnionFind precedent generalized): an edge frame whose
    * distinct-pair count sits at or under this bound is collected once
    * and the BFS/σ-DP/pointer-walk loop runs in memory — one job
    * replaces the O(diameter) round jobs of the distributed loop (the
    * [[graft.ops.Fixpoint]] kernel), the dominant fixed cost of the
    * family on interactive-scale graphs. Every
    * maxClosureRows guard, round bound and typed-error message is
    * enforced identically in both paths (equivalence unit-pinned), and
    * a driver computation whose INTERMEDIATE rows outgrow this same
    * bound abandons the attempt and falls back to the distributed loop
    * — a 100 TB frame never runs driver-side, and a small frame with a
    * huge closure only pays one bounded in-memory attempt. Set 0 to
    * disable (the equivalence tests do). */
  val DriverRowsConf = "spark.graft.reach.driverRows"
  val DriverRowsDefault = 2000000L

  /** Byte companion to [[DriverRowsConf]] (optimization round 17;
    * VERDICT-r16 #6): admission to a driver collect additionally
    * requires rows × schema-estimated row width within this budget —
    * the row bound alone is width-blind and a wide frame under 2M rows
    * could still be a multi-GB collect. Default 256 MB: the slim
    * (id, id[, dist, parent, σ]) frames the fast paths collect sit at
    * 16–100 B/row, well inside even at the full row bound. */
  val DriverBytesConf = "spark.graft.reach.driverBytes"
  val DriverBytesDefault = 256L * 1024 * 1024

  private def driverRowsLimit(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(DriverRowsConf).map(_.toLong)
      .getOrElse(DriverRowsDefault)

  /** True when collecting `rows` rows of `df`'s schema fits the
    * [[DriverBytesConf]] budget ([[graft.ops.GraphOps.estRowBytes]]
    * width estimate). */
  private def fitsDriverBytes(df: DataFrame, rows: Long): Boolean =
    rows * graft.ops.GraphOps.estRowBytes(df.schema) <=
      df.sparkSession.conf.getOption(DriverBytesConf).map(_.toLong)
        .getOrElse(DriverBytesDefault)

  /** Thrown internally when a driver fast-path attempt outgrows
    * [[DriverRowsConf]] — the caller falls back to the distributed
    * loop. Never user-visible. */
  private final class DriverOverflow extends RuntimeException

  /** LocalRelation frame from driver rows — no RDD job at build time. */
  private def localDf(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[org.apache.spark.sql.Row], schema: StructType)
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Row-count upper bound of a frame that is just projections/filters
    * over a LocalRelation — i.e. a frame the driver fast path built —
    * or None for a genuinely distributed frame. Used to admit the fast
    * witness resolution without running a count job. */
  private def localLeafRows(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def walk(p: LogicalPlan): Option[Long] = p match {
      case l: LocalRelation => Some(l.data.size.toLong)
      case p: Project       => walk(p.child)
      case f: Filter        => walk(f.child)
      case s: SubqueryAlias => walk(s.child)
      case _                => None
    }
    walk(df.queryExecution.optimizedPlan)
  }


  /** Process-global counter for synthetic reach verb/table names —
    * global (not per-rewrite) so an outer MATCH rewrite and a nested
    * EXISTS rewrite in one query chain can never share a table name. */
  private val nameCounter = new AtomicLong(0)

  private def isUnbounded(r: RelPat): Boolean =
    r.varLength.exists(_._2 == Parser.Unbounded)

  def hasUnbounded(matches: Seq[MatchClause]): Boolean =
    matches.exists(_.parts.exists(_.rels.exists(isUnbounded)))

  /** Alias prefix of the synthetic min-distance rel backing a
    * `shortestPath` over an unbounded range: `__rd<id>`. The analyzer
    * exempts the shape from the reserved-`__` rejection and binds the
    * part's path variable to the rel's `__dist` property instead of a
    * literal relationship count. */
  val DistRelPrefix = "__rd"

  /** Selector kind of the PLAIN named-path enumeration (round 17):
    * the k-level machinery untrimmed — every level kept, every path
    * its own row (all trails on a DAG). Never user-spellable. */
  val WalkKind = "walk"

  /** True iff `alias` is a Reach-made min-distance rel alias. */
  def isDistRel(alias: String): Boolean =
    alias.startsWith(DistRelPrefix) && alias.length > DistRelPrefix.length &&
      alias.drop(DistRelPrefix.length).forall(_.isDigit)

  /** Rewrites every unbounded var-length rel to a synthetic reach edge;
    * returns the rewritten clauses plus a catalog that can serve the
    * synthetic tables. A `shortestPath(…)` part keeps its path variable
    * but its rel becomes a `__rd<id>`-aliased dist-bearing reach edge —
    * the analyzer then binds the path var to the min-distance column
    * ([[isDistRel]]). `outer` (the incoming frame, when the clause
    * follows a WITH or correlates an EXISTS) enables piped-frame anchor
    * seeding. No-op (same instances) when nothing is unbounded. */
  def rewrite(matches: Seq[MatchClause], catalog: GraphCatalog,
              outer: Option[Compiler.Ctx] = None,
              witnessVars: Set[String] = Set.empty)
      : (Seq[MatchClause], GraphCatalog) = {
    if (!hasUnbounded(matches)) return (matches, catalog)
    val extra = Vector.newBuilder[(EdgeDef, DataFrame)]
    val out = matches.map { m =>
      m.copy(parts = m.parts.map { pp =>
        if (!pp.rels.exists(isUnbounded)) pp
        else {
          // k > 1 path selectors over an unbounded range (round 15;
          // VERDICT-r14 #2): lowered via [[kLevelReach]] — anchored
          // σ DP over a DAG, k smallest distinct lengths per pair
          // with GQL row multiplicity
          // PLAIN named path over an unbounded range (round 17):
          // ALL-paths enumeration — the k-level σ DP untrimmed
          // ([[WalkKind]]: every level kept, every path its own row),
          // exact trail semantics on a DAG (a walk on a DAG cannot
          // revisit a node); cyclic graphs keep the typed
          // bound-the-range contract via the same DAG guard
          val enumAll = pp.pathVar.isDefined && !pp.shortest &&
            !pp.allShortest && pp.selector.isEmpty
          val selK =
            if (enumAll) Some(PathSelector(WalkKind, Int.MaxValue))
            else pp.selector
          if (selK.isDefined) {
            if (pp.rels.size != 1)
              throw new CypherNotSupportedException(
                (if (enumAll) "a plain named path"
                 else "a k > 1 path selector") +
                " over an unbounded range must " +
                "be its pattern's sole relationship — chain further " +
                "hops through a WITH")
          }
          if ((pp.shortest || pp.allShortest) && pp.rels.size != 1)
            throw new CypherNotSupportedException(
              (if (pp.allShortest) "allShortestPaths()"
               else "shortestPath()") +
              " over an unbounded variable-length " +
              "composes only as the pattern's sole relationship — " +
              "chain further hops through a WITH")
          // shortestPath((a)-[:T*1..]->(b)): the reach frame is already
          // ONE row per (src, dst) pair, and BFS first-discovery IS the
          // min distance — so the lowering just adds a __dist column
          // and binds length(p) to it (no per-path state anywhere).
          // allShortestPaths additionally multiplies each pair row by
          // its shortest-path COUNT (σ from the same BFS — no path
          // enumeration), and requires an anchored endpoint.
          val needDist =
            (pp.shortest || pp.allShortest || selK.isDefined) &&
              pp.pathVar.isDefined
          // nodes(p) over an unbounded shortestPath (round 13): the
          // BFS additionally records one PARENT pointer per pair
          // (first-discovery predecessor, min-id tie-break) and a
          // driver loop bounded by the maximum DISTANCE — never the
          // path count — walks the pointers back into one witness
          // id array per pair, converted to the canonical node-struct
          // array by a single posexplode + node join + re-collect.
          // allShortestPaths (round 14) records ALL min-distance
          // parents instead and the walk enumerates every minimal
          // path — σ distinct witness rows per pair.
          // round 16 (VERDICT-r15 #2): k > 1 selectors now carry
          // witnesses too, via the per-level multi-parent walk
          val wantWitness =
            (pp.shortest || pp.allShortest || selK.isDefined) &&
              pp.pathVar.exists(witnessVars)
          val rels2 = pp.rels.zipWithIndex.map { case (r, i) =>
            if (!isUnbounded(r)) r
            else {
              if (r.alias.isDefined)
                throw new CypherNotSupportedException(
                  s"relationship variable '${r.alias.get}' over an " +
                  "unbounded variable-length is not bindable — " +
                  "reachable-pair semantics erase the individual " +
                  "relationships (a pair row aggregates many hops); " +
                  "drop the variable, or bound the range [*lo..hi] " +
                  "for per-branch relationship rows")
              // relationship type alternation over an unbounded range
              // (round 17; previously typed): `[:A|B*]` pools EVERY
              // listed verb's edge definitions and runs the ordinary
              // label-stratified lowering over the pooled set — the
              // union frame, the σ multiplicity seeding and the
              // witness shape merging are all def-keyed already, so a
              // hop present under both verbs is two parallel edges
              // (two distinct paths, the q158 contract; witness rel
              // snapshots stay the deterministic min-struct)
              val verbs = (r.verb.toList ++ r.alts).distinct
              if (verbs.isEmpty)
                throw new CypherNotSupportedException(
                  "unbounded variable-length requires an explicit " +
                  "relationship type, e.g. [:NEXT*]")
              val verb = verbs.mkString("|")
              // UNDIRECTED unbounded var-length (round 17; previously
              // typed): each hop may traverse either way — the edge
              // frame SYMMETRIZES (e ∪ swap(e)) and the BFS forms run
              // unchanged. Minimal walks on the symmetrized frame
              // never repeat a vertex, hence never reuse a
              // relationship — so bare pairs, shortestPath and
              // allShortestPaths (σ at the minimum) are TRAIL-exact;
              // (x, x) rows are excluded (the x–y–x return walk
              // reuses its edge — genuine undirected self-trails need
              // cycle enumeration; bound the range). Per-path forms
              // stay typed: the symmetrized frame is cyclic by
              // construction, so the walk/selector DP cannot run.
              if (r.dir == Direction.Both &&
                  (selK.isDefined || r.varLength.exists(_._1 > 1)))
                throw new CypherNotSupportedException(
                  "undirected unbounded per-path forms (plain named " +
                  "paths, k > 1 selectors, [*lo..] with lo > 1) — the " +
                  "symmetrized frame is cyclic by construction; " +
                  "direct the pattern, or bound the range [*lo..hi]")
              // endpoint node patterns in EDGE direction: the pattern
              // node binding the edge's source side vs its sink side
              // (an undirected pattern orients left → right)
              val srcPat =
                if (r.dir == Direction.In) pp.nodes(i + 1) else pp.nodes(i)
              val dstPat =
                if (r.dir == Direction.In) pp.nodes(i) else pp.nodes(i + 1)
              val defs = verbs.flatMap { v =>
                val ds = catalog.graph.edgesByVerb(v)
                if (ds.isEmpty)
                  throw new CypherBindingException(
                    s"unbounded variable-length over '$v': no edge of " +
                    "that type in the schema")
                ds
              }
              val selfDefs = defs.filter(e => e.fromLabel == e.toLabel)
              // the single-verb ambiguity contract is unchanged; an
              // ALTERNATION across self-type verbs is the feature, not
              // an ambiguity — it routes through the stratified path
              if (verbs.size == 1 && selfDefs.size > 1)
                throw new CypherBindingException(
                  s"unbounded variable-length over '$verb' is ambiguous: " +
                  s"${selfDefs.map(_.fromLabel).sorted.mkString(", ")} all " +
                  "carry a self-type edge of that verb")
              // [*lo..] with lo > 1 (round 17; previously a parse
              // rejection): no BFS lowering exists (min-distance ≠
              // exists-longer-path on cyclic graphs) — the k-level DP
              // answers it exactly on a DAG: levels filter to
              // __dist >= lo before the trim, shortestPath becomes
              // SHORTEST 1 and allShortestPaths SHORTEST 1 GROUPS
              // over the filtered levels, a bare pattern takes one
              // row per pair (take-1 trim), and the plain named path
              // keeps the walk kind. Cyclic graphs stay typed
              // (bound the range [*lo..hi]).
              val lo = r.varLength.map(_._1).getOrElse(1)
              val minLen = math.max(lo, 1)
              val effSel: Option[(String, Int)] =
                selK.map(s => (s.kind, s.k)).orElse(
                  if (lo <= 1) None
                  else if (pp.allShortest) Some(("groups", 1))
                  else Some(("shortest", 1)))
              val (reach, fromL, toL) =
                if (verbs.size == 1 && selfDefs.size == 1 && defs.size == 1) {
                  // homogeneous chain: one id namespace, no tagging
                  val e = selfDefs.head
                  val node = catalog.graph.node(e.fromLabel)
                  val edf0 = catalog.edgeDf(e)
                  // undirected: symmetrize with properties carried —
                  // a hop walked against storage order reads the same
                  // edge row (both-direction stored pairs become
                  // multiplicity-2 hops, matching Neo4j's two
                  // traversable relationships)
                  val edf =
                    if (r.dir != Direction.Both) edf0
                    else edf0.unionByName(edf0.select(
                      edf0.columns.toSeq.map {
                        case c if c == e.srcIdColumn =>
                          col(e.sinkIdColumn).as(e.srcIdColumn)
                        case c if c == e.sinkIdColumn =>
                          col(e.srcIdColumn).as(e.sinkIdColumn)
                        case c => col(c)
                      }: _*))
                  val base =
                    if (effSel.isDefined && wantWitness) {
                      // k-level witnesses (round 16; VERDICT-r15 #2):
                      // per-level parent sets + σ-fold walk
                      val (kind, k) = effSel.get
                      val w = witnessKReach(edf, e,
                        () => seedFor(m.where, srcPat.alias, node,
                          catalog, outer),
                        () => seedFor(m.where, dstPat.alias, node,
                          catalog, outer),
                        node, catalog.nodeDf(e.fromLabel),
                        kind, k, minLen)
                      if (r.dir == Direction.In)
                        w.withColumn("__nodes", reverse(col("__nodes")))
                          .withColumn("__rels", reverse(col("__rels")))
                      else w
                    }
                    else if (effSel.isDefined) {
                      // k-level lowering (round 15): σ DP, GQL row
                      // multiplicity baked into the frame; round 16
                      // (VERDICT-r15 #3) — no anchor falls back to
                      // the UNANCHORED DP (every source seeds) under
                      // the same maxClosureRows guard
                      val (kind, k) = effSel.get
                      val out = seedFor(m.where, srcPat.alias, node,
                          catalog, outer)
                        .map(sd => kLevelReach(edf, e.srcIdColumn,
                          e.sinkIdColumn, Some(sd), kind, k,
                          minLen = minLen))
                        .orElse(seedFor(m.where, dstPat.alias, node,
                          catalog, outer)
                          .map(sd => swapPairs(kLevelReach(edf,
                            e.sinkIdColumn, e.srcIdColumn, Some(sd),
                            kind, k, minLen = minLen), dist = true)))
                        .getOrElse(kLevelReach(edf, e.srcIdColumn,
                          e.sinkIdColumn, None, kind, k,
                          minLen = minLen))
                      if (needDist) out else out.drop("__dist")
                    }
                    else if (wantWitness) {
                      val fwd = () => seedFor(m.where, srcPat.alias,
                        node, catalog, outer)
                      val rev = () => seedFor(m.where, dstPat.alias,
                        node, catalog, outer)
                      val w =
                        if (pp.allShortest)
                          witnessAllReach(edf, e, fwd, rev, node,
                            catalog.nodeDf(e.fromLabel))
                        else witnessReach(edf, e, fwd, rev,
                          node, catalog.nodeDf(e.fromLabel),
                          needRels = true)
                      // `<-` patterns: path order runs against the
                      // edge orientation — reverse both arrays so
                      // nodes(p)/relationships(p) read pattern order
                      if (r.dir == Direction.In)
                        w.withColumn("__nodes", reverse(col("__nodes")))
                          .withColumn("__rels", reverse(col("__rels")))
                      else w
                    }
                    else computeReach(edf, e.srcIdColumn, e.sinkIdColumn,
                      () => seedFor(m.where, srcPat.alias, node, catalog,
                        outer),
                      () => seedFor(m.where, dstPat.alias, node, catalog,
                        outer),
                      needDist, pp.allShortest)
                  // undirected: (x, x) rows would reuse their edge
                  // (x–y–x) — excluded, documented above
                  val baseU =
                    if (r.dir != Direction.Both) base
                    else base.where(col("__src") =!= col("__dst"))
                  (baseU, e.fromLabel, e.toLabel)
                } else {
                  // heterogeneous chain (round 10): label-stratified
                  // BFS over tagged namespaces; round 14 — witnesses
                  // ride the tagged parent pointers (the tag IS the
                  // per-wave label), element shapes merged across
                  // labels/defs like bounded branch witnesses
                  // round 16 (VERDICT-r15 #4): k > 1 selectors run
                  // the σ DP over the tagged union frame — the packed
                  // (ordinal, id) keys compose, the DP never reads
                  // the id content
                  val (b0, fl, tl) = stratifiedReach(defs, verb, srcPat,
                    dstPat, m.where, catalog, outer, needDist,
                    pp.allShortest, wantWitness,
                    allowIdentity = r.varLength.exists(_._1 == 0),
                    selector = effSel, minLen = minLen,
                    undirected = r.dir == Direction.Both)
                  val b =
                    if (wantWitness && r.dir == Direction.In)
                      b0.withColumn("__nodes", reverse(col("__nodes")))
                        .withColumn("__rels", reverse(col("__rels")))
                    else b0
                  (b, fl, tl)
                }
              // [*0..] (round 10): the REFLEXIVE closure — every node
              // of the (shared) endpoint label reaches itself by the
              // empty path, so the pair frame gains one (id, id) row
              // per node at distance 0. Cyclic (x, x) rows at d > 0
              // drop first (the empty path is always the minimum, and
              // its σ is exactly 1), which keeps the frame one row per
              // pair without a re-aggregation. Identity rows bypass
              // any per-hop predicate (zero hops traverse no edge) —
              // the HopPred rewrite filtered only the edge frame.
              val reach2 =
                if (r.varLength.exists(_._1 > 0)) reach
                else {
                  if (fromL != toL)
                    throw new CypherNotSupportedException(
                      "[*0..] over a chain whose endpoint labels " +
                      s"differ ('$fromL' vs '$toL') — a zero-hop row " +
                      "needs one node to satisfy both endpoints")
                  val node = catalog.graph.node(fromL)
                  val idc = col(node.idColumn)
                  val ndf = catalog.nodeDf(fromL)
                  // a zero-hop witness is the single endpoint node
                  // with NO traversed relationships
                  val ident0 =
                    if (wantWitness && defs.size > 1) {
                      // heterogeneous [*0..] witnesses (round 15,
                      // VERDICT-r14 #5): the identity row's arrays use
                      // the MERGED element shapes (the stratified
                      // witness branch's universe), the endpoint
                      // label's own columns filled, the rest null —
                      // exactly how a bounded zero branch null-fills
                      val nFields = mergeFields(
                        defs.flatMap(e2 => Seq(e2.fromLabel, e2.toLabel))
                          .distinct.sorted.map { l =>
                            val nd2 = catalog.graph.node(l)
                            val sch = catalog.nodeDf(l).schema
                            (nd2.idColumn +: nd2.properties).distinct
                              .map(c2 => sch(c2))
                          }, "node label")
                      val rFields = mergeFields(defs.sortBy(_.key)
                        .map { e2 =>
                          val sch = catalog.edgeDf(e2).schema
                          (Seq(e2.srcIdColumn, e2.sinkIdColumn) ++
                            e2.properties).distinct.map(c2 => sch(c2))
                        }, "relationship definition")
                      val own =
                        (node.idColumn +: node.properties).distinct.toSet
                      ndf.select(idc.as("__src"), idc.as("__dst"),
                        array(struct(nFields.map { f =>
                          (if (own(f.name)) col(f.name)
                           else lit(null).cast(f.dataType)).as(f.name)
                        }: _*))
                          .cast(ArrayType(StructType(nFields),
                            containsNull = true)).as("__nodes"),
                        array().cast(ArrayType(StructType(rFields),
                          containsNull = true)).as("__rels"))
                    } else if (wantWitness) {
                      val e0 = catalog.graph.edgesByVerb(verb).head
                      val edf0 = catalog.edgeDf(e0)
                      val eCols = (Seq(e0.srcIdColumn, e0.sinkIdColumn)
                        ++ e0.properties).distinct
                      val relT = ArrayType(StructType(eCols.map(c2 =>
                        StructField(c2, edf0.schema(c2).dataType))),
                        containsNull = true)
                      ndf.select(idc.as("__src"), idc.as("__dst"),
                        array(witnessElem(node, ndf))
                          .cast(witnessArrayType(node, ndf))
                          .as("__nodes"),
                        array().cast(relT).as("__rels"))
                    }
                    else ndf.select(idc.as("__src"), idc.as("__dst"))
                  val ident =
                    if (needDist) ident0.withColumn("__dist", lit(0L))
                    else ident0
                  reach.where(col("__src") =!= col("__dst"))
                    .unionByName(ident)
                }
              val id = nameCounter.getAndIncrement()
              val synthVerb = s"__REACH_${id}_$verb"
              val synth = EdgeDef(synthVerb, fromL, toL,
                "__src", "__dst",
                (if (needDist) Seq("__dist") else Seq.empty) ++
                  (if (wantWitness) Seq("__nodes", "__rels")
                   else Seq.empty),
                s"__reach_${id}_$verb")
              extra += ((synth, reach2))
              // an undirected pattern's reach frame is symmetrized
              // and oriented left → right already, so the synthetic
              // rel splices in as Out (the analyzer's single-hop rule
              // would reject a Both self-type hop)
              RelPat(if (needDist) Some(s"$DistRelPrefix$id") else None,
                Some(synthVerb),
                if (r.dir == Direction.Both) Direction.Out else r.dir)
            }
          }
          pp.copy(rels = rels2, shortest = false, allShortest = false,
            selector = None)
        }
      })
    }
    (out, catalog.withExtraEdges(extra.result()))
  }

  /** Cycle guard for the k-level σ DP (round 15): Kahn's peel over the
    * slim edge frame — repeatedly drop edges whose source has no
    * remaining incoming edge; a non-shrinking non-empty fixpoint is a
    * cycle. The σ DP counts WALKS; beyond the minimal length a walk
    * may revisit an edge, diverging from Cypher's trail contract on
    * cyclic graphs — so k > 1 selectors over unbounded ranges require
    * a DAG (bound the range [*lo..hi] for exact trail semantics on
    * cyclic graphs). Rounds = the longest chain; each round is one
    * slim semi-join. */
  /** Edge-count bound under which the DAG check collects to the
    * DRIVER (the [[graft.ops.Dedup.connectedComponents]]
    * driverUnionFind precedent): one collect + an in-memory Kahn
    * replaces O(depth) distributed semi-join rounds — the dominant
    * fixed cost of the k-level family on small graphs, while frames
    * past the bound keep the distributed peel. */
  val DriverDagEdgeLimit = 1000000L

  private def isDag(e: DataFrame, what: String): Boolean = {
    var cur = e
    var n = cur.count()
    if (n == 0) return true
    if (n <= DriverDagEdgeLimit) return driverKahn(e)
    var rounds = 0
    while (n > 0) {
      rounds += 1
      if (rounds > MaxRounds)
        throw new CypherBindingException(
          s"$what: the DAG check did not converge in $MaxRounds rounds")
      val next = cur.join(
        cur.select(col("__dst").as("__s2")).distinct(),
        col("__src") === col("__s2"), "left_semi").localCheckpoint(false)
      val n2 = next.count()
      if (n2 == n) return false
      cur = next; n = n2
    }
    true
  }

  /** In-memory Kahn over a collected edge list. Keys are whatever the
    * frame holds — longs, strings, or tagged (ordinal, id) structs;
    * Spark's Row equality/hashCode make them usable as map keys. */
  private def driverKahn(e: DataFrame): Boolean =
    driverKahnPairs(e.select(col("__src"), col("__dst")).collect()
      .map(r => (r.get(0), r.get(1))))

  private def driverKahnPairs(pairs: Array[(Any, Any)]): Boolean = {
    val indeg = scala.collection.mutable.HashMap.empty[Any, Int]
    val adj = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    pairs.foreach { case (s, d) =>
      indeg.getOrElseUpdate(s, 0)
      indeg(d) = indeg.getOrElse(d, 0) + 1
      adj.getOrElseUpdate(s,
        scala.collection.mutable.ArrayBuffer.empty[Any]) += d
    }
    val queue = scala.collection.mutable.Queue.empty[Any]
    indeg.foreach { case (v, deg) => if (deg == 0) queue += v }
    var seen = 0
    while (queue.nonEmpty) {
      val v = queue.dequeue(); seen += 1
      adj.get(v).foreach(_.foreach { d =>
        val nd = indeg(d) - 1
        indeg(d) = nd
        if (nd == 0) queue += d
      })
    }
    seen == indeg.size
  }

  /** The k-level family's cyclic-graph error — one string shared by
    * the distributed and driver DAG checks. */
  private def cyclicMsg(what: String): String =
    s"$what over a CYCLIC graph — the k-level lowering counts " +
    "walks, which revisit edges beyond the minimal length; " +
    "bound the range [*lo..hi] for exact trail semantics"

  /** Driver twin of [[requireDag]] over already-collected pairs:
    * whole-graph Kahn first; on a cycle, narrow to the seed set's
    * reachable cone and only reject if the cone itself is cyclic.
    * Known error-behavior divergence (ADVICE-r16, accepted): the cone
    * closure here is NOT subject to the maxClosureRows guard the
    * distributed requireDag inherits via reachablePairs — on a
    * cyclic-but-huge-cone graph this path reports cyclic/acyclic where
    * the distributed path would throw the closure-bound error. The
    * ≤ 2M-edge admission gate bounds the work, so the divergence is
    * message-only, never unbounded compute. */
  private def driverRequireDag(pairs: Array[(Any, Any)],
      seedSet: collection.Set[Any], what: String): Unit = {
    if (driverKahnPairs(pairs)) return
    val adj = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    pairs.foreach { case (s, d) =>
      adj.getOrElseUpdate(s,
        scala.collection.mutable.ArrayBuffer.empty[Any]) += d
    }
    val reach = scala.collection.mutable.HashSet.empty[Any]
    var front = seedSet.toSeq.flatMap(s =>
      adj.getOrElse(s, Nil)).distinct.filterNot(reach)
    while (front.nonEmpty) {
      reach ++= front
      front = front.flatMap(v => adj.getOrElse(v, Nil))
        .distinct.filterNot(reach)
    }
    val cone = pairs.filter { case (s, _) => reach(s) || seedSet(s) }
    if (!driverKahnPairs(cone))
      throw new GraphContractViolation(cyclicMsg(what))
  }

  /** DAG requirement for the k-level σ DP: cheap whole-graph Kahn
    * peel first (free pass on the common acyclic case); when a cycle
    * exists, narrow to the anchor's REACHABLE CONE — a cycle the DP
    * never walks must not reject the query — via one set-closure from
    * the seeds, and only reject if the cone itself is cyclic. */
  private def requireDag(e: DataFrame, sd: DataFrame,
      what: String): Unit =
    if (!isDag(e, what)) {
      val cone = reachablePairs(e, "__src", "__dst", seeds = Some(sd))
        .select(col("__dst").as("__cn")).distinct()
      val coneEdges = e.join(cone, col("__src") === col("__cn"),
          "left_semi")
        .unionByName(e.join(
          sd.select(col(sd.columns.head).as("__cn")).distinct(),
          col("__src") === col("__cn"), "left_semi"))
        .distinct().localCheckpoint(false)
      if (!isDag(coneEdges, what))
        throw new GraphContractViolation(cyclicMsg(what))
    }

  /** k-level σ DP levels (round 15, split out round 16): runs the
    * anchored — or, round 16, UNANCHORED (seeds = None: the frontier
    * starts at every edge) — walk-count DP over a DAG. Per (src, dst)
    * pair and LENGTH, one level row with the path count σ; the
    * frontier carries (src, end, σ) only (distance × breadth state,
    * never per-path), exactly the BFS discipline, but does NOT stop
    * at first discovery: it runs the DAG's depth out so longer levels
    * surface. Per-(src, dst) edge MULTIPLICITY seeds σ (ADVICE-r15
    * #3): parallel relationships (multigraph-lite rows a map-keyed
    * MERGE creates) are distinct paths under GQL — σ multiplies by
    * the hop's row count, matching the bounded-range branches' q158
    * contract. With `withParents` (round 16; VERDICT-r15 #2 — witness
    * accessors under `SHORTEST k`), it additionally records one
    * (src, node, dist, via, mult) parent entry per DP edge — distance
    * × branching state, never path count — for the per-level pointer
    * walk. Returns (levels, parents, bound). */
  /** In-memory σ DP over the collected grouped edge frame — the
    * driver fast path of [[kLevelLevels]] (see [[DriverRowsConf]]).
    * Replicates the distributed loop state for state: per-round total
    * accounting against the SAME guard (identical typed errors), the
    * deferred parent-volume guard, the MaxRounds backstop, and the
    * anchored-cone DAG narrowing. Throws [[DriverOverflow]] — caught
    * by the caller, which falls back to the distributed loop — when
    * any tracked row set outgrows `cap`. A σ overflow past Long also
    * falls back (the distributed path owns exact overflow behavior).
    * Results come back as LocalRelation frames: trim/walk/resolution
    * stay ordinary DataFrame code over them. */
  private def driverKLevel(raw: DataFrame, sdOpt: Option[DataFrame],
      withParents: Boolean, dagProven: Boolean, dagWhat: String,
      confBound: Option[Long], cap: Long,
      guardFor: Long => (Long, Long) => Unit)
      : (DataFrame, Option[DataFrame], Long) = {
    val spark = raw.sparkSession
    // RAW (src, dst) rows — the grouped-distinct (__m multiplicity)
    // happens here in memory, replacing the distributed
    // groupBy(src, dst) SHUFFLE + checkpoint that was the family's
    // single most expensive fixed job at bench scale (round 17,
    // guide §2.4: remove shuffles outright)
    val mMap = scala.collection.mutable.LinkedHashMap
      .empty[(Any, Any), Long]
    raw.collect().foreach { r =>
      val k = (r.get(0), r.get(1))
      mMap(k) = mMap.getOrElse(k, 0L) + 1L
    }
    // the closure bound derives from the DISTINCT pair count — exactly
    // the distributed path's eCount
    val bound = confBound.getOrElse(math.max(64L * mMap.size, 1024L))
    val guardCheck = guardFor(bound)
    val seedSet: Option[collection.Set[Any]] =
      sdOpt.map(_.collect().iterator.map(_.get(0)).toSet)
    if (!dagProven)
      driverRequireDag(mMap.keysIterator.toArray,
        seedSet.getOrElse(mMap.keysIterator.map(_._1).toSet), dagWhat)
    val adj = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[(Any, Long)]]
    mMap.foreach { case ((s, d), m) =>
      adj.getOrElseUpdate(s,
        scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]) +=
        ((d, m))
    }
    def overflowSafe[A](body: => A): A =
      try body catch { case _: ArithmeticException =>
        throw new DriverOverflow }
    // round 1: one (src, dst) entry per grouped edge out of the seeds
    var frontier = scala.collection.mutable.HashMap.empty[(Any, Any), Long]
    mMap.foreach { case ((s, d), m) =>
      if (seedSet.forall(_.contains(s))) frontier((s, d)) = m
    }
    val levels = scala.collection.mutable.ArrayBuffer.empty[Row]
    frontier.foreach { case ((s, t), sig) => levels += Row(s, t, sig, 1L) }
    val parents =
      scala.collection.mutable.LinkedHashSet.empty[(Any, Any, Long, Any, Long)]
    if (withParents) frontier.foreach { case ((s, t), sig) =>
      parents += ((s, t, 1L, s, sig)) // round-1 pm = the edge's __m
    }
    var total = frontier.size.toLong
    guardCheck(total, 0)
    var d = 1L
    while (frontier.nonEmpty) {
      d += 1
      if (d > MaxRounds)
        throw new CypherBindingException(
          s"k-level reach did not converge in $MaxRounds rounds")
      val next = scala.collection.mutable.HashMap.empty[(Any, Any), Long]
      frontier.foreach { case ((s, mid), sig) =>
        adj.get(mid).foreach(_.foreach { case (d2, m2) =>
          overflowSafe {
            val add = Math.multiplyExact(sig, m2)
            next((s, d2)) = next.get((s, d2))
              .fold(add)(Math.addExact(_, add))
          }
          if (withParents) parents += ((s, d2, d, mid, m2))
        })
      }
      if (next.nonEmpty) {
        total += next.size
        guardCheck(total, d)
        if (total > cap || parents.size > cap) throw new DriverOverflow
        next.foreach { case ((s, t), sig) => levels += Row(s, t, sig, d) }
      }
      frontier = next
    }
    if (withParents) {
      total += parents.size
      guardCheck(total, d)
    }
    val srcT = raw.schema("__src").dataType
    val dstT = raw.schema("__dst").dataType
    val lvT = StructType(Seq(StructField("__src", srcT),
      StructField("__dst", dstT), StructField("__sig", LongType),
      StructField("__dist", LongType)))
    val paT = StructType(Seq(StructField("__ps", srcT),
      StructField("__pn", dstT), StructField("__pd", LongType),
      StructField("__pp", srcT), StructField("__pm", LongType)))
    (localDf(spark, levels.toSeq, lvT),
      if (withParents)
        Some(localDf(spark, parents.iterator.map(p =>
          Row(p._1, p._2, p._3, p._4, p._5)).toSeq, paT))
      else None,
      bound)
  }

  private[cypher] def kLevelLevels(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: Option[DataFrame], kind: String, k: Int,
      withParents: Boolean, dagProven: Boolean = false)
      : (DataFrame, Option[DataFrame], Long) = {
    val raw = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .where(col("__src").isNotNull && col("__dst").isNotNull)
    val confBound = edges.sparkSession.conf
      .getOption(MaxClosureRowsConf).map(_.toLong)
    val dagWhat =
      if (kind == WalkKind)
        "a plain named path over an unbounded range (per-path rows)"
      else if (k == 1)
        "a [*lo..] lowering with lo > 1 (levels past the minimum)"
      else s"a k > 1 path selector (${kind.toUpperCase} $k)"
    def guardFor(bound: Long)(total: Long, round: Long): Unit =
      if (total > bound)
        throw new GraphContractViolation(
          s"k-level reach hit $total level rows after round $round " +
          s"(bound maxClosureRows=$bound). Narrow the anchor, or " +
          s"raise $MaxClosureRowsConf deliberately.")
    // driver fast path ([[DriverRowsConf]]): edge frame under the
    // bound — collect once, run the DAG check and the whole σ DP in
    // memory (one job replaces O(depth) rounds); identical guards,
    // identical typed errors; an overgrown attempt falls back to the
    // kernel
    driverOr(raw, seeds) { (sdOpt, drvLim) =>
      driverKLevel(raw, sdOpt, withParents, dagProven, dagWhat, confBound,
        drvLim, guardFor)
    } { sd =>
      kernelKLevel(raw, sd, withParents, dagProven, dagWhat, confBound,
        guardFor)
    }
  }

  /** The distributed σ DP of [[kLevelLevels]] on the
    * [[graft.ops.Fixpoint]] kernel: one job per level. */
  private def kernelKLevel(raw: DataFrame, sd: Option[DataFrame],
      withParents: Boolean, dagProven: Boolean, dagWhat: String,
      confBound: Option[Long], guardFor: Long => (Long, Long) => Unit)
      : (DataFrame, Option[DataFrame], Long) = {
    val in = kernelInput(raw, sd)
    // out-edges with their multiplicity: parallel relationships are
    // distinct paths, so σ multiplies by the hop's row count
    val g = Fixpoint.graph("kLevel", in.edges, raw.sparkSession)(
      (ds: Seq[Any]) => ds.groupBy(identity).iterator
        .map { case (d, xs) => (d, xs.size.toLong) }.toArray)()
    val bound = confBound.getOrElse(math.max(64L * g.sum, 1024L))
    val guardCheck: (Long, Long) => Unit = guardFor(bound)
    // dagProven (round 16): a heterogeneous chain whose LABEL graph
    // is acyclic cannot hold an instance cycle (any cycle projects to
    // a label cycle) — the data-level Kahn peel is skipped entirely
    if (!dagProven) {
      val e = raw.distinct().localCheckpoint(false)
      requireDag(e, seedFrame(sd.getOrElse(e)), dagWhat)
    }
    // (src, end) → (σ at this level, the (via, multiplicity) parent
    // entries of this level) — distance × branching state, never path
    // count. Level 1: one entry per grouped edge out of the seeds,
    // the source itself its parent.
    var fresh: RDD[(Any, (Long, Array[(Any, Long)]))] =
      Fixpoint.edgesFrom(g, in.seeds).map { case (s, (d, m)) =>
        ((s, d): Any, (m, Array[(Any, Long)]((s, m))))
      }
    var d = 1L
    var n = Fixpoint.materialize(fresh, "kLevel:1")().rows
    var total = n
    var parentRows = n
    val levels = ArrayBuffer(d -> fresh)
    guardCheck(total, 0)
    while (n > 0) {
      d += 1
      // a DAG's depth bounds the loop; MaxRounds is the backstop
      if (d > MaxRounds)
        throw new CypherBindingException(
          s"k-level reach did not converge in $MaxRounds rounds")
      val front = Fixpoint.frontier(fresh) { case (s, (sig, _)) => (s, sig) }
      fresh = Fixpoint.expand(front, g) {
          (v: (Any, Long), mid: Any, e: (Any, Long)) =>
            val (s, sig) = v
            val (d2, m2) = e
            ((s, d2): Any, (Math.multiplyExact(sig, m2), (mid, m2)))
        }
        .combineByKey(
          (c: (Long, (Any, Long))) => (c._1, ArrayBuffer(c._2)),
          (acc: (Long, ArrayBuffer[(Any, Long)]), c: (Long, (Any, Long))) =>
            (Math.addExact(acc._1, c._1), acc._2 += c._2),
          (a: (Long, ArrayBuffer[(Any, Long)]),
           b: (Long, ArrayBuffer[(Any, Long)])) =>
            (Math.addExact(a._1, b._1), a._2 ++= b._2),
          g.part)
        .mapValues { case (sig, ps) => (sig, ps.toArray) }
      val st = Fixpoint.materialize(fresh, s"kLevel:$d")(
        _._2._2.length.toLong)
      n = st.rows
      if (n > 0) {
        total += n
        // one parent entry per DP edge: a path ending at d2 at
        // distance d steps back to its via at d−1, traversing m2
        // parallel relationships — counted into the deferred
        // parent-volume guard below
        parentRows += st.sum
        guardCheck(total, d)
        levels += d -> fresh
      }
    }
    if (withParents) {
      // deferred parent-volume guard (one check for the whole DP)
      total += parentRows
      guardCheck(total, d)
    }
    val spark = raw.sparkSession
    val t = in.idType
    val all = spark.sparkContext.union(levels.map { case (lvl, r) =>
      r.map { case (k, v) => (k, lvl, v) }
    }.toSeq)
    val levelsDf = spark.createDataFrame(all.map { case (k, lvl, (sig, _)) =>
        val (s, e) = k.asInstanceOf[(Any, Any)]
        Row(s, e, sig, lvl)
      }, StructType(Seq(StructField("__src", t), StructField("__dst", t),
        StructField("__sig", LongType), StructField("__dist", LongType))))
    val parentsDf =
      if (!withParents) None
      else Some(spark.createDataFrame(all.flatMap { case (k, lvl, (_, ps)) =>
          val (s, e) = k.asInstanceOf[(Any, Any)]
          ps.iterator.map { case (via, m) => Row(s, e, lvl, via, m) }
        }, StructType(Seq(StructField("__ps", t), StructField("__pn", t),
          StructField("__pd", LongType), StructField("__pp", t),
          StructField("__pm", LongType)))))
    (levelsDf, parentsDf, bound)
  }

  /** k smallest distinct lengths per pair (one row per (pair, length)
    * by construction), with the per-kind TAKE count: `groups` keeps
    * every path of a kept level (take = σ); `shortest`/`any` cap the
    * cumulative take at k paths across ascending levels. Rows with
    * take = 0 drop — the trim keys on (pair, length) BEFORE any
    * expansion. */
  private[cypher] def kLevelTrim(levels: DataFrame, kind: String, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the walk kind keeps everything — no per-pair window at all
    if (kind == WalkKind)
      return levels.withColumn("__take", col("__sig"))
    val w = Window.partitionBy("__src", "__dst").orderBy("__dist")
    val topk = levels.withColumn("__lrk", row_number().over(w))
      .where(col("__lrk") <= k).drop("__lrk")
    val withTake = kind match {
      case "groups" => topk.withColumn("__take", col("__sig"))
      case _ =>
        // k first PATHS: cap cumulative σ at k across ascending levels
        val cumBefore = sum(col("__sig")).over(
          w.rowsBetween(Window.unboundedPreceding, -1))
        topk.withColumn("__take",
          greatest(lit(0L), least(col("__sig"),
            lit(k.toLong) - coalesce(cumBefore, lit(0L)))))
    }
    withTake.where(col("__take") > 0)
  }

  /** k-level reach (round 15; VERDICT-r14 #2 — `SHORTEST k` /
    * `SHORTEST k GROUPS` / `ANY k`, k > 1, over an UNBOUNDED range):
    * σ DP levels → k-trim → row expansion. Output rows carry GQL row
    * multiplicity: `groups` = every path of the k smallest lengths
    * (σ copies per level); `shortest`/`any` = the k first paths by
    * length (σ copies, cumulative-capped at k). One (__src, __dst,
    * __dist) row per selected path. `seeds = None` (round 16;
    * VERDICT-r15 #3) runs UNANCHORED — every source seeds the DP
    * under the same maxClosureRows guard. */
  private def kLevelReach(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: Option[DataFrame], kind: String, k: Int,
      dagProven: Boolean = false, minLen: Int = 1)
      : DataFrame = {
    val (levels, _, bound) =
      kLevelLevels(edges, srcCol, dstCol, seeds, kind, k,
        withParents = false, dagProven = dagProven)
    // [*lo..] (round 17): levels below the lower bound never reach
    // the trim — the minimal KEPT level is the one the k budget and
    // the shortest forms see
    val eligible =
      if (minLen <= 1) levels
      else levels.where(col("__dist") >= minLen)
    val chosen = kLevelTrim(eligible, kind, k).localCheckpoint(false)
    val expanded = {
      val row = chosen.agg(sum(col("__take"))).head()
      val tot = if (row.isNullAt(0)) 0L else row.getLong(0)
      if (tot > bound)
        throw new GraphContractViolation(
          s"k-level reach would expand to $tot path rows (bound " +
          s"maxClosureRows=$bound). Narrow the anchor, or raise " +
          s"$MaxClosureRowsConf deliberately.")
      chosen.withColumn("__i",
          explode(sequence(lit(1L), col("__take"))))
        .select(col("__src"), col("__dst"), col("__dist"))
    }
    expanded
  }

  /** Witness accessors under `SHORTEST k` / `GROUPS` / `ANY k`, k > 1,
    * over an unbounded range (round 16; VERDICT-r15 #2): the k-level
    * DP keeps per-level parent SETS (distance × branching, never path
    * count), the trim keys on (pair, length) before expansion, and a
    * multi-parent pointer walk enumerates each kept level's paths —
    * σ rows per (pair, length), every row carrying its own __nodes /
    * __rels arrays (the q153/q163 machinery generalized to k kept
    * levels). Parallel relationships multiply rows (identical node
    * arrays, the q158 row-multiplicity contract); non-GROUPS kinds
    * cap at k paths per pair after enumeration (deterministic
    * (length, id-array) order). */
  private def witnessKReach(edf: DataFrame, e: EdgeDef,
      fwdSeeds: () => Option[DataFrame],
      revSeeds: () => Option[DataFrame],
      node: NodeDef, ndf: DataFrame, kind: String, k: Int,
      minLen: Int = 1): DataFrame = {
    val (srcC, dstC) = (e.srcIdColumn, e.sinkIdColumn)
    def run(sc: String, dc: String, sd: Option[DataFrame], rev: Boolean)
        : DataFrame = {
      val (levels, parentsOpt, bound) =
        kLevelLevels(edf, sc, dc, sd, kind, k, withParents = true)
      val eligible =
        if (minLen <= 1) levels
        else levels.where(col("__dist") >= minLen)
      val chosen = kLevelTrim(eligible, kind, k).localCheckpoint(false)
      val ids0 = kLevelWalk(chosen, parentsOpt.get, bound, kind, k)
      val ids =
        if (!rev) ids0
        else ids0.select(col("__dst").as("__src"),
          col("__src").as("__dst"), col("__dist"), col("__pi"),
          reverse(col("__wids")).as("__wids"))
      widsToNodesRels(ids, node, ndf, edf, e, perWitness = true,
          extraKeys = Seq("__pi"))
        .drop("__wids", "__pi")
    }
    fwdSeeds().map(sd => run(srcC, dstC, Some(sd), rev = false))
      .orElse(revSeeds().map(sd => run(dstC, srcC, Some(sd), rev = true)))
      .getOrElse(run(srcC, dstC, None, rev = false))
  }

  /** Multi-parent pointer walk over the k-level parent sets: each
    * chosen (pair, length) row walks back level by level — the lookup
    * keys on (src, cur, REMAINING distance), so a node reached at
    * several distances never mixes levels — multiplying by the
    * branching and the per-hop parallel-edge multiplicity (σ-fold,
    * guarded per step). Emits one row per enumerated path with its
    * full id array and a per-path discriminator __pi (identical
    * arrays from parallel edges stay distinct rows). */
  private[cypher] def kLevelWalk(chosen: DataFrame, parents: DataFrame,
      bound: Long, kind: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // driver fast path ([[DriverRowsConf]]): small chosen + parent
    // frames walk in memory — one LocalRelation build replaces
    // O(max dist) walk steps; same per-step guard messages; an
    // overgrown expansion falls back below
    val drvLim = driverRowsLimit(chosen.sparkSession)
    if (drvLim > 0 && driverAdmits(parents, drvLim) &&
        driverAdmits(chosen, drvLim)) {
      try return driverKLevelWalk(chosen, parents, bound, kind, k, drvLim)
      catch { case _: DriverOverflow => () }
    }
    // kernel walk: finished and parent-less rows pass through
    val start = Fixpoint.values(
        chosen.select(col("__src"), col("__dst"), col("__dist")))
      .map { a =>
        val d = a(2).asInstanceOf[Long]
        Walker(a(0), a(1), d, d, a(1), a(1) :: Nil)
      }
    val par = Fixpoint.values(parents.select(col("__ps"), col("__pn"),
        col("__pd"), col("__pp"), col("__pm")))
      .map(a => ((a(0), a(1), a(2)): Any, (a(3), a(4).asInstanceOf[Long])))
    val walked = Fixpoint.walk("kLevelWalk", start, par,
        Fixpoint.partitioner(chosen.sparkSession), from = 0)(
      w => if (w.rem >= 1) (w.src, w.cur, w.rem) else null,
      _.dist) { (w, ps) =>
        if (ps == null) Iterator.single(w)
        else ps.iterator.flatMap { case (pp, pm) =>
          (0L until pm).iterator.map(_ =>
            w.copy(rem = w.rem - 1, cur = pp, ids = pp :: w.ids))
        }
      } { (n, step) =>
        if (n > bound)
          throw new GraphContractViolation(
            s"k-level witnesses: the path expansion hit $n rows at " +
            s"step $step (bound maxClosureRows=$bound). Narrow the " +
            s"anchor, or raise $MaxClosureRowsConf deliberately.")
      }
    val elemT = chosen.schema("__dst").dataType
    val full = chosen.sparkSession.createDataFrame(
      walked.map(w => Row(w.src, w.dst, w.dist, w.ids)),
      StructType(Seq(
        StructField("__src", chosen.schema("__src").dataType),
        StructField("__dst", elemT),
        StructField("__dist", LongType),
        StructField("__wids", ArrayType(elemT, containsNull = true)))))
    val capped = kind match {
      case "groups" | WalkKind => full
      case _ =>
        // k first paths per pair: ascending (length, id array) — the
        // enumeration equivalent of the trim's cumulative take
        val w = Window.partitionBy("__src", "__dst")
          .orderBy(col("__dist"), col("__wids"))
        full.withColumn("__prk", row_number().over(w))
          .where(col("__prk") <= k).drop("__prk")
    }
    capped.withColumn("__pi", row_number().over(
      Window.partitionBy("__src", "__dst", "__dist")
        .orderBy(col("__wids"))))
  }

  /** In-memory multi-parent pointer walk — the driver fast path of
    * [[kLevelWalk]] over collected chosen/parent frames (see
    * [[DriverRowsConf]]): identical step semantics (finished and
    * parent-less rows pass through unchanged, parallel-edge
    * multiplicity expands copies), identical per-step guard message,
    * the same (length, id-array) cap order and per-path __pi
    * discriminator. Throws [[DriverOverflow]] past `cap` — the caller
    * falls back to the distributed walk. */
  private def driverKLevelWalk(chosen: DataFrame, par: DataFrame,
      bound: Long, kind: String, k: Int, cap: Long): DataFrame = {
    import org.apache.spark.sql.types.IntegerType
    val spark = chosen.sparkSession
    val ch = chosen.select(col("__src"), col("__dst"), col("__dist"))
      .collect()
    val pmap = scala.collection.mutable.HashMap
      .empty[(Any, Any, Long),
        scala.collection.mutable.ArrayBuffer[(Any, Long)]]
    par.select(col("__ps"), col("__pn"), col("__pd"), col("__pp"),
        col("__pm")).collect()
      .foreach { r =>
        pmap.getOrElseUpdate((r.get(0), r.get(1), r.getLong(2)),
          scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]) +=
          ((r.get(3), r.getLong(4)))
      }
    val maxDist =
      if (ch.isEmpty) 0L else ch.iterator.map(_.getLong(2)).max
    case class W(src: Any, dst: Any, dist: Long, rem: Long, cur: Any,
      ids: List[Any])
    var work = scala.collection.mutable.ArrayBuffer.empty[W]
    ch.foreach(r => work += W(r.get(0), r.get(1), r.getLong(2),
      r.getLong(2), r.get(1), r.get(1) :: Nil))
    var step = 0L
    while (step < maxDist) {
      val nw = scala.collection.mutable.ArrayBuffer.empty[W]
      work.foreach { w =>
        val ms =
          if (w.rem >= 1) pmap.get((w.src, w.cur, w.rem)) else None
        ms match {
          case None => nw += w // finished / parent-less: pass through
          case Some(ps) => ps.foreach { case (pp, pm) =>
            var j = 0L
            while (j < pm) {
              nw += W(w.src, w.dst, w.dist, w.rem - 1, pp, pp :: w.ids)
              // cap INSIDE the expansion (ADVICE-r16): a high-branching
              // step must overflow to the distributed loop while the
              // buffer is still cap-sized, not after materializing up
              // to `bound` (64·|E|) growing-List rows in driver memory.
              // The end-of-step `bound` guard below keeps its exact
              // full-step count and message; a step that would pass
              // `bound` but exceeds `cap` mid-build re-runs distributed
              // and hits the same bound guard with its own count.
              if (nw.size > cap) throw new DriverOverflow
              j += 1
            }
          }
        }
      }
      work = nw
      val n = work.size.toLong
      if (n > bound)
        throw new GraphContractViolation(
          s"k-level witnesses: the path expansion hit $n rows at " +
          s"step $step (bound maxClosureRows=$bound). Narrow the " +
          s"anchor, or raise $MaxClosureRowsConf deliberately.")
      if (n > cap) throw new DriverOverflow
      step += 1
    }
    val capped: Iterator[W] = kind match {
      case "groups" | WalkKind => work.iterator
      case _ =>
        work.groupBy(w => (w.src, w.dst)).valuesIterator.flatMap { g =>
          g.sortWith { (a, b) =>
            if (a.dist != b.dist) a.dist < b.dist
            else compareIdSeqs(a.ids, b.ids) < 0
          }.take(k)
        }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    capped.toSeq.groupBy(w => (w.src, w.dst, w.dist)).valuesIterator
      .foreach { g =>
        g.sortWith((a, b) => compareIdSeqs(a.ids, b.ids) < 0).zipWithIndex
          .foreach { case (w, i) =>
            out += Row(w.src, w.dst, w.dist, w.ids, i + 1)
          }
      }
    val elemT = chosen.schema("__dst").dataType
    val schema = StructType(Seq(
      StructField("__src", chosen.schema("__src").dataType),
      StructField("__dst", elemT),
      StructField("__dist", LongType),
      StructField("__wids", ArrayType(elemT, containsNull = true)),
      StructField("__pi", IntegerType)))
    localDf(spark, out.toSeq, schema)
  }

  /** Reverse BFS output → forward orientation: an R-path d→x over
    * reversed edges is an E-path x→d, so swap the output columns back
    * (the hop count — and the witness multiplicity — are
    * direction-agnostic). */
  private def swapPairs(rev: DataFrame, dist: Boolean): DataFrame = {
    val swapped = Seq(col("__dst").as("__s"), col("__src").as("__d")) ++
      (if (dist) Seq(col("__dist")) else Seq.empty)
    rev.select(swapped: _*)
      .withColumnRenamed("__s", "__src")
      .withColumnRenamed("__d", "__dst")
  }

  /** The reach frame for one unbounded rel: forward-anchored BFS when
    * the source end seeds, reversed-and-swapped when only the
    * destination does, full closure otherwise — or the σ-fold witness
    * expansion for allShortestPaths (anchored only). */
  private def computeReach(edf: DataFrame, srcC: String, dstC: String,
      fwdSeeds: () => Option[DataFrame],
      revSeeds: () => Option[DataFrame],
      needDist: Boolean, allShortest: Boolean): DataFrame =
    if (allShortest) {
      // σ-many rows per pair, σ from the same BFS. An anchored
      // endpoint bounds the witness set to its cone; the UNANCHORED
      // form (round 11) seeds from EVERY source node instead and
      // relies on the per-round maxClosureRows guard plus the σ
      // extrema probe inside allShortestWitnesses — a closure-sized
      // or combinatorial blowup fails with the typed
      // GraphContractViolation before materializing, never silently.
      val w = fwdSeeds()
        .map(sd => allShortestWitnesses(edf, srcC, dstC, sd))
        .orElse(revSeeds().map(sd =>
          swapPairs(allShortestWitnesses(edf, dstC, srcC, sd),
            dist = true)))
        .getOrElse(allShortestWitnesses(edf, srcC, dstC,
          edf.select(col(srcC)).distinct()))
      if (needDist) w else w.drop("__dist")
    } else fwdSeeds()
      .map(sd => reachablePairs(edf, srcC, dstC, seeds = Some(sd),
        withDist = needDist))
      .orElse(revSeeds().map(sd =>
        swapPairs(reachablePairs(edf, dstC, srcC, seeds = Some(sd),
          withDist = needDist), dist = needDist)))
      .getOrElse(reachablePairs(edf, srcC, dstC, withDist = needDist))

  // ------------------------------------ witness paths (round 13)

  /** Canonical witness element fields for a node label — the bounded
    * materializeWitnesses shape (all-nullable, declared order). */
  private def witnessFields(node: NodeDef, ndf: DataFrame)
      : Seq[StructField] =
    (node.idColumn +: node.properties).distinct
      .map(c => StructField(c, ndf.schema(c).dataType))

  private def witnessArrayType(node: NodeDef, ndf: DataFrame): ArrayType =
    ArrayType(StructType(witnessFields(node, ndf)), containsNull = true)

  private def witnessElem(node: NodeDef, ndf: DataFrame): Column =
    struct(witnessFields(node, ndf).map(f => col(f.name).as(f.name)): _*)

  /** Witness-bearing reach (round 13): the pair frame plus `__dist`,
    * a `__nodes` array and (when `needRels`) a `__rels` array — ONE
    * shortest path per pair, rebuilt from the BFS's per-pair parent
    * pointers. The driver loop walking the pointers runs
    * max-distance−1 iterations (path LENGTH, never path count); the
    * struct conversions are one posexplode + node/edge join + ordered
    * re-collect each, Σ path-length rows total. Arrays come out in
    * EDGE-path order — the caller reverses for `<-` patterns. */
  private def witnessReach(edf: DataFrame, e: EdgeDef,
      fwdSeeds: () => Option[DataFrame],
      revSeeds: () => Option[DataFrame],
      node: NodeDef, ndf: DataFrame, needRels: Boolean): DataFrame = {
    val (srcC, dstC) = (e.srcIdColumn, e.sinkIdColumn)
    def run(sc: String, dc: String, sd: Option[DataFrame], rev: Boolean)
        : DataFrame = {
      val pairs = reachablePairs(edf, sc, dc, seeds = sd,
        withDist = true, withParent = true)
      val ids0 = reconstructWitnessIds(pairs)
      // reversed BFS: an R-path seed→x over reversed edges is an
      // E-path x→seed — swap the pair AND reverse the node order
      val ids =
        if (!rev) ids0
        else ids0.select(col("__dst").as("__src"),
          col("__src").as("__dst"), col("__dist"),
          reverse(col("__wids")).as("__wids"))
      if (!needRels) widsToNodes(ids, node, ndf)
      else widsToNodesRels(ids, node, ndf, edf, e)
    }
    fwdSeeds().map(sd => run(srcC, dstC, Some(sd), rev = false))
      .orElse(revSeeds().map(sd => run(dstC, srcC, Some(sd), rev = true)))
      .getOrElse(run(srcC, dstC, None, rev = false))
  }

  /** allShortestPaths witnesses over an unbounded range (round 14):
    * the BFS records ALL min-distance parents per pair — bounded by
    * distance × branching at the min layer, never path count — and
    * the pointer walk then enumerates every minimal path (the walk's
    * multi-parent join IS the σ-fold expansion, guarded per step).
    * Each witness row keys on its OWN id array, so σ distinct
    * (nodes, rels) rows come out per pair. */
  private def witnessAllReach(edf: DataFrame, e: EdgeDef,
      fwdSeeds: () => Option[DataFrame],
      revSeeds: () => Option[DataFrame],
      node: NodeDef, ndf: DataFrame): DataFrame = {
    val (srcC, dstC) = (e.srcIdColumn, e.sinkIdColumn)
    def run(sc: String, dc: String, sd: Option[DataFrame], rev: Boolean)
        : DataFrame = {
      val (pairs, parents, bound) = allParentsPairs(edf, sc, dc, sd)
      val ids0 = reconstructAllWitnessIds(pairs, parents, bound)
      val ids =
        if (!rev) ids0
        else ids0.select(col("__dst").as("__src"),
          col("__src").as("__dst"), col("__dist"),
          reverse(col("__wids")).as("__wids"))
      widsToNodesRels(ids, node, ndf, edf, e, perWitness = true)
        .drop("__wids")
    }
    fwdSeeds().map(sd => run(srcC, dstC, Some(sd), rev = false))
      .orElse(revSeeds().map(sd => run(dstC, srcC, Some(sd), rev = true)))
      .getOrElse(run(srcC, dstC, None, rev = false))
  }

  /** In-memory all-parents BFS — the driver fast path of
    * [[allParentsPairs]] (see [[DriverRowsConf]]): same rounds, same
    * per-round total accounting (new pairs + new parent edges) against
    * the caller's guard, same typed errors. Throws [[DriverOverflow]]
    * past `cap`. */
  private def driverAllParents(raw: DataFrame, sdOpt: Option[DataFrame],
      confBound: Option[Long], cap: Long,
      guardFor: Long => (Long, Int) => Unit)
      : (DataFrame, DataFrame, Long) = {
    val spark = raw.sparkSession
    // RAW rows, deduped in memory (round 17) — see [[driverReachable]]
    val pairs = raw.collect().map(r => (r.get(0), r.get(1))).distinct
    val bound = confBound.getOrElse(math.max(64L * pairs.length, 1024L))
    val guard = guardFor(bound)
    val seedSet: Option[collection.Set[Any]] =
      sdOpt.map(_.collect().iterator.map(_.get(0)).toSet)
    val adj = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    pairs.foreach { case (s, d) =>
      adj.getOrElseUpdate(s,
        scala.collection.mutable.ArrayBuffer.empty[Any]) += d
    }
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[(Any, Any), Long]
    val parents =
      scala.collection.mutable.ArrayBuffer.empty[(Any, Any, Any)]
    pairs.foreach { case (s, d) =>
      if (seedSet.forall(_.contains(s))) {
        seen((s, d)) = 1L
        parents += ((s, d, s))
      }
    }
    var frontier: Iterable[(Any, Any)] = seen.keys.toSeq
    var total = frontier.size.toLong
    guard(total, 0)
    if (total > cap) throw new DriverOverflow
    var rounds = 0
    while (frontier.nonEmpty) {
      rounds += 1
      if (rounds > MaxRounds)
        throw new CypherBindingException(
          "allShortestPaths witnesses: BFS did not converge in " +
          s"$MaxRounds rounds — the edge set's diameter exceeds the " +
          "guard")
      // every (src, new node, via) triple of this round, distinct
      val fresh = scala.collection.mutable.LinkedHashMap
        .empty[(Any, Any), scala.collection.mutable.LinkedHashSet[Any]]
      frontier.foreach { case (s, mid) =>
        adj.get(mid).foreach(_.foreach { d2 =>
          if (!seen.contains((s, d2)))
            fresh.getOrElseUpdate((s, d2),
              scala.collection.mutable.LinkedHashSet.empty[Any]) += mid
        })
      }
      if (fresh.nonEmpty) {
        val n = fresh.size.toLong
        val np = fresh.valuesIterator.map(_.size.toLong).sum
        total += n + np
        guard(total, rounds)
        if (total > cap) throw new DriverOverflow
        fresh.foreach { case ((s, d2), vias) =>
          seen((s, d2)) = (rounds + 1).toLong
          vias.foreach(v => parents += ((s, d2, v)))
        }
      }
      frontier = fresh.keys.toSeq
    }
    val srcT = raw.schema("__src").dataType
    val dstT = raw.schema("__dst").dataType
    val pairT = StructType(Seq(StructField("__src", srcT),
      StructField("__dst", dstT), StructField("__dist", LongType)))
    val parT = StructType(Seq(StructField("__ps", srcT),
      StructField("__pd", dstT), StructField("__pp", srcT)))
    (localDf(spark,
        seen.iterator.map { case ((s, d), dist) => Row(s, d, dist) }.toSeq,
        pairT),
      localDf(spark,
        parents.iterator.map(p => Row(p._1, p._2, p._3)).toSeq, parT),
      bound)
  }

  /** BFS recording ALL first-discovery parents per pair: (pairs with
    * __dist, parents (__ps, __pd, __pp), the closure bound). Distance-1
    * parents are the source itself. State per round is the new pairs'
    * parent EDGES — distance × branching, no per-path state. */
  private[cypher] def allParentsPairs(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: Option[DataFrame])
      : (DataFrame, DataFrame, Long) = {
    val raw = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .where(col("__src").isNotNull && col("__dst").isNotNull)
    val confBound = edges.sparkSession.conf
      .getOption(MaxClosureRowsConf).map(_.toLong)
    def guardFor(bound: Long)(total: Long, round: Int): Unit =
      if (total > bound)
        throw new GraphContractViolation(
          s"allShortestPaths witnesses: the parent set hit $total rows " +
          s"after round $round (bound maxClosureRows=$bound). Narrow " +
          s"the anchor, or raise $MaxClosureRowsConf deliberately.")
    // driver fast path ([[DriverRowsConf]]) — same contract as
    // [[driverReachable]]
    driverOr(raw, seeds) { (sdOpt, drvLim) =>
      driverAllParents(raw, sdOpt, confBound, drvLim, guardFor)
    } { sd =>
      val (all, t, bound) = kernelBfs(raw, sd, "allParents",
        allParents = true, confBound, guardFor,
        "allShortestPaths witnesses: BFS did not converge in " +
        s"$MaxRounds rounds — the edge set's diameter exceeds the guard")
      val spark = raw.sparkSession
      (spark.createDataFrame(all.map { case (k, (dist, _)) =>
          val (s, d) = k.asInstanceOf[(Any, Any)]
          Row(s, d, dist)
        }, StructType(Seq(StructField("__src", t), StructField("__dst", t),
          StructField("__dist", LongType)))),
        spark.createDataFrame(all.flatMap { case (k, (_, vias)) =>
          val (s, d) = k.asInstanceOf[(Any, Any)]
          vias.iterator.map(v => Row(s, d, v))
        }, StructType(Seq(StructField("__ps", t), StructField("__pd", t),
          StructField("__pp", t)))),
        bound)
    }
  }

  /** In-memory σ-fold pointer walk — the driver fast path of
    * [[reconstructAllWitnessIds]] (see [[DriverRowsConf]]): identical
    * step semantics (finished rows pass through, branching multiplies
    * rows) and the same per-step guard message. Throws
    * [[DriverOverflow]] past `cap`. */
  private def driverReconstructAll(pairs: DataFrame, parents: DataFrame,
      bound: Long, cap: Long): DataFrame = {
    val spark = pairs.sparkSession
    val pr = pairs.select(col("__src"), col("__dst"), col("__dist"))
      .collect()
    val pmap = scala.collection.mutable.HashMap
      .empty[(Any, Any), scala.collection.mutable.ArrayBuffer[Any]]
    parents.select(col("__ps"), col("__pd"), col("__pp")).collect()
      .foreach { r =>
        pmap.getOrElseUpdate((r.get(0), r.get(1)),
          scala.collection.mutable.ArrayBuffer.empty[Any]) += r.get(2)
      }
    val maxDist =
      if (pr.isEmpty) 0L else pr.iterator.map(_.getLong(2)).max
    case class W(src: Any, dst: Any, dist: Long, cur: Any,
      ids: List[Any])
    var work = scala.collection.mutable.ArrayBuffer.empty[W]
    // initial inner join: one row per (pair, final-node parent)
    pr.foreach { r =>
      pmap.get((r.get(0), r.get(1))).foreach(_.foreach { pp =>
        work += W(r.get(0), r.get(1), r.getLong(2), pp, r.get(1) :: Nil)
      })
    }
    var step = 1L
    while (step < maxDist) {
      val nw = scala.collection.mutable.ArrayBuffer.empty[W]
      work.foreach { w =>
        if (w.cur == w.src) nw += w // finished: pass through
        else {
          val ms =
            if (w.cur == null) None else pmap.get((w.src, w.cur))
          ms match {
            case None =>
              // the distributed left-join miss branch, replicated
              nw += W(w.src, w.dst, w.dist, null, w.cur :: w.ids)
            case Some(ps) => ps.foreach { pp =>
              nw += W(w.src, w.dst, w.dist, pp, w.cur :: w.ids)
              // incremental cap (ADVICE-r16): overflow before the step
              // materializes past the driver band, not after
              if (nw.size > cap) throw new DriverOverflow
            }
          }
        }
      }
      work = nw
      val n = work.size.toLong
      if (n > bound)
        throw new GraphContractViolation(
          s"allShortestPaths witnesses: the path expansion hit $n rows " +
          s"at step $step (bound maxClosureRows=$bound). Narrow the " +
          s"anchor, or raise $MaxClosureRowsConf deliberately.")
      if (n > cap) throw new DriverOverflow
      step += 1
    }
    val dstT = pairs.schema("__dst").dataType
    val schema = StructType(Seq(
      StructField("__src", pairs.schema("__src").dataType),
      StructField("__dst", dstT),
      StructField("__dist", LongType),
      StructField("__wids", ArrayType(dstT, containsNull = true))))
    localDf(spark, work.iterator.map(w =>
      Row(w.src, w.dst, w.dist, w.src :: w.ids)).toSeq, schema)
  }

  /** Multi-parent pointer walk: enumerate EVERY minimal path per pair
    * (the reconstructWitnessIds walk over an all-parents frame — each
    * step multiplies a row by its node's parents, guarded per step). */
  private[cypher] def reconstructAllWitnessIds(pairs: DataFrame,
      parents: DataFrame, bound: Long): DataFrame = {
    // driver fast path ([[DriverRowsConf]]): walk the collected
    // parent sets in memory; same per-step guard; fallback past cap
    val drvLim = driverRowsLimit(pairs.sparkSession)
    if (drvLim > 0 && driverAdmits(parents, drvLim) &&
        driverAdmits(pairs, drvLim)) {
      try return driverReconstructAll(pairs, parents, bound, drvLim)
      catch { case _: DriverOverflow => () }
    }
    // kernel walk: a pair row starts UNSTARTED (no ids yet) and its
    // first step is the inner join onto the pair's own parents; every
    // later step multiplies a row by its current node's parents
    val start = Fixpoint.values(
        pairs.select(col("__src"), col("__dst"), col("__dist")))
      .map(a => Walker(a(0), a(1), a(2).asInstanceOf[Long], 0L, a(1), Nil))
    val par = Fixpoint.values(
        parents.select(col("__ps"), col("__pd"), col("__pp")))
      .map(a => ((a(0), a(1)): Any, a(2)))
    val walked = Fixpoint.walk("allWalk", start, par,
        Fixpoint.partitioner(pairs.sparkSession), from = 0)(
      w => if (w.ids.isEmpty) (w.src, w.dst)
           else if (w.cur == w.src) null
           else (w.src, w.cur),
      _.dist) { (w, ps) =>
        if (w.ids.isEmpty)
          if (ps == null) Iterator.empty
          else ps.iterator.map(pp => w.copy(cur = pp, ids = w.dst :: Nil))
        else if (ps == null) // a parent-less pointer: the left-join miss
          Iterator.single(w.copy(cur = null, ids = w.cur :: w.ids))
        else ps.iterator.map(pp => w.copy(cur = pp, ids = w.cur :: w.ids))
      } { (n, step) =>
        if (step >= 1 && n > bound)
          throw new GraphContractViolation(
            s"allShortestPaths witnesses: the path expansion hit $n rows " +
            s"at step $step (bound maxClosureRows=$bound). Narrow the " +
            s"anchor, or raise $MaxClosureRowsConf deliberately.")
      }
    witnessFrame(pairs, walked)
  }

  /** One row of a kernel pointer walk: the pair and its distance, the
    * remaining distance (k-level walks), the node the walk stands on
    * and the ids walked so far, nearest the source first. */
  private final case class Walker(src: Any, dst: Any, dist: Long,
      rem: Long, cur: Any, ids: List[Any])

  /** A finished single/all-parents walk as (__src, __dst, __dist,
    * __wids) rows, the source prepended to each id array. */
  private def witnessFrame(pairs: DataFrame, walked: RDD[Walker])
      : DataFrame = {
    val dstT = pairs.schema("__dst").dataType
    pairs.sparkSession.createDataFrame(
      walked.map(w => Row(w.src, w.dst, w.dist, w.src :: w.ids)),
      StructType(Seq(
        StructField("__src", pairs.schema("__src").dataType),
        StructField("__dst", dstT),
        StructField("__dist", LongType),
        StructField("__wids", ArrayType(dstT, containsNull = true)))))
  }

  /** In-memory single-parent pointer walk — the driver fast path of
    * [[reconstructWitnessIds]]: one row per pair, the same pass-through
    * and left-join-miss semantics. The output is pair-sized (no
    * expansion), so the input gate alone bounds it — no overflow
    * fallback needed. */
  private def driverReconstructSingle(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val pr = pairs.select(col("__src"), col("__dst"), col("__dist"),
      col("__par")).collect()
    val pmap = scala.collection.mutable.HashMap.empty[(Any, Any), Any]
    pr.foreach(r => pmap((r.get(0), r.get(1))) = r.get(3))
    val maxDist =
      if (pr.isEmpty) 0L else pr.iterator.map(_.getLong(2)).max
    case class W(src: Any, dst: Any, dist: Long, cur: Any,
      ids: List[Any])
    var work = pr.map(r =>
      W(r.get(0), r.get(1), r.getLong(2), r.get(3), r.get(1) :: Nil))
      .toSeq
    var step = 1L
    while (step < maxDist) {
      work = work.map { w =>
        if (w.cur == w.src) w // finished: pass through
        else pmap.get((w.src, w.cur)) match {
          case Some(pp) => W(w.src, w.dst, w.dist, pp, w.cur :: w.ids)
          case None     => // the distributed left-join miss branch
            W(w.src, w.dst, w.dist, null, w.cur :: w.ids)
        }
      }
      step += 1
    }
    val dstT = pairs.schema("__dst").dataType
    val schema = StructType(Seq(
      StructField("__src", pairs.schema("__src").dataType),
      StructField("__dst", dstT),
      StructField("__dist", LongType),
      StructField("__wids", ArrayType(dstT, containsNull = true))))
    localDf(spark, work.iterator.map(w =>
      Row(w.src, w.dst, w.dist, w.src :: w.ids)).toSeq, schema)
  }

  /** Parent-pointer walk: (src, dst, dist, par) pair rows → the full
    * witness id array [src, …, dst] per pair. A pair at distance k
    * resolves after k−1 steps — the walk runs max(dist)−1 steps, each
    * one kernel job over the rows still walking
    * ([[graft.ops.Fixpoint.walk]]). */
  private[cypher] def reconstructWitnessIds(pairs: DataFrame): DataFrame = {
    // driver fast path ([[DriverRowsConf]]): the single-parent walk in
    // memory — one LocalRelation replaces max-dist−1 walk steps. The
    // pair frame IS the parent map here, so the one count gates both
    val drvLim = driverRowsLimit(pairs.sparkSession)
    if (drvLim > 0 && driverAdmits(pairs, drvLim))
      return driverReconstructSingle(pairs)
    val in = Fixpoint.values(pairs.select(col("__src"), col("__dst"),
      col("__dist"), col("__par")))
    val start = in.map(a =>
      Walker(a(0), a(1), a(2).asInstanceOf[Long], 0L, a(3), a(1) :: Nil))
    val walked = Fixpoint.walk("walk", start,
        in.map(a => ((a(0), a(1)): Any, a(3))),
        Fixpoint.partitioner(pairs.sparkSession), from = 1)(
      w => if (w.cur == w.src) null else (w.src, w.cur),
      _.dist) { (w, ps) =>
        if (ps == null) // a parent-less pointer: the left-join miss
          Iterator.single(w.copy(cur = null, ids = w.cur :: w.ids))
        else ps.iterator.map(pp => w.copy(cur = pp, ids = w.cur :: w.ids))
      } { (_, _) => () }
    witnessFrame(pairs, walked)
  }

  /** Witness id array → the canonical node-struct array: posexplode
    * the positions, join the node table ONCE, re-collect in order. */
  private def widsToNodes(ids: DataFrame, node: NodeDef, ndf: DataFrame,
      perWitness: Boolean = false, extraKeys: Seq[String] = Seq.empty)
      : DataFrame = {
    // perWitness (round 14): each enumerated minimal path keys on its
    // own id array, so σ distinct witness rows per pair survive the
    // re-collect instead of collapsing to one. extraKeys (round 16):
    // a per-path discriminator — identical id arrays from
    // parallel-edge multiplicity stay distinct rows.
    val keys = Seq("__src", "__dst", "__dist") ++
      (if (perWitness) Seq("__wids") else Seq.empty) ++ extraKeys
    val cols = (node.idColumn +: node.properties).distinct
    val ex = ids.select(keys.map(col) :+
      posexplode(col("__wids")).as(Seq("__pos", "__wid")): _*)
    val nslim = ndf.select(cols.map(col): _*)
    ex.join(nslim, ex("__wid") === nslim(node.idColumn), "left")
      .select(keys.map(col) :+
        struct(col("__pos"), witnessElem(node, ndf).as("__e"))
          .as("__pe"): _*)
      .groupBy(keys.map(col): _*)
      .agg(transform(sort_array(collect_list(col("__pe"))),
        x => x.getField("__e")).as("__nodes0"))
      .select(keys.map(col) :+
        col("__nodes0").cast(witnessArrayType(node, ndf))
          .as("__nodes"): _*)
  }

  /** One-pass witness resolution (optimization round 16): the nodes
    * AND rels arrays from a SINGLE posexplode + two dimension joins +
    * one grouped re-collect. The previous split shape (widsToNodes ⋈
    * a widsToRels twin) exploded the same ids frame twice,
    * re-aggregated twice and then sort-merge-joined the halves on the
    * ARRAY-typed witness key — two extra exchanges plus two wide
    * array sorts per witness query (guide §2.4: remove shuffles
    * outright). Here each position row left-joins its node; positions
    * with a successor also left-join their hop edge ((cur, next)
    * pair — a hop with no surviving edge row keeps the all-null
    * element, and parallel (src, snk) edges keep the deterministic
    * min-property-struct pick via the per-position pre-aggregation);
    * one final groupBy collects both ordered arrays. Value-identical
    * to the join of the split halves (unit-pinned). Zero-hop identity
    * rows never reach here (spliced separately), so every id array
    * has ≥ 2 elements and the rels array is never empty. */
  private def widsToNodesRels(ids: DataFrame, node: NodeDef,
      ndf: DataFrame, edf: DataFrame, e: EdgeDef,
      perWitness: Boolean = false,
      extraKeys: Seq[String] = Seq.empty): DataFrame = {
    val keys = Seq("__src", "__dst", "__dist") ++
      (if (perWitness) Seq("__wids") else Seq.empty) ++ extraKeys
    val nCols = (node.idColumn +: node.properties).distinct
    val (srcC, dstC) = (e.srcIdColumn, e.sinkIdColumn)
    // the DECLARED column order (entityCols' shape) — struct casts
    // are positional, so the ident branch and bounded witnesses must
    // agree field-for-field
    val eCols = (Seq(srcC, dstC) ++ e.properties).distinct
    val relT = ArrayType(StructType(eCols.map(c =>
      StructField(c, edf.schema(c).dataType))), containsNull = true)
    // one explode: each position carries its node id and (0-based,
    // null past the end — `get`, not ANSI element_at) its successor
    val ex = ids.select(keys.map(col) ++ Seq(col("__wids").as("__w0")) :+
        posexplode(col("__wids")).as(Seq("__pos", "__wid")): _*)
      .select(keys.map(col) ++ Seq(col("__pos"), col("__wid"),
        get(col("__w0"), col("__pos") + lit(1)).as("__nxt")): _*)
    val nslim = ndf.select(nCols.map(col): _*)
    // edge columns renamed so node/edge property names can never
    // collide in the combined row
    val eslim = edf.select(eCols.map(c => col(c).as(s"__er_$c")): _*)
    val estruct = struct(eCols.map(c => col(s"__er_$c").as(c)): _*)
    val perPos = ex
      .join(nslim, ex("__wid") === nslim(node.idColumn), "left")
      .join(eslim, col("__wid") === col(s"__er_$srcC") &&
        col("__nxt") === col(s"__er_$dstC"), "left")
      .groupBy((keys :+ "__pos").map(col): _*)
      .agg(first(struct(col("__pos"),
          witnessElem(node, ndf).as("__e"))).as("__pn"),
        min(when(col("__nxt").isNotNull, estruct)).as("__em"),
        first(col("__nxt").isNotNull).as("__hasHop"))
    perPos.groupBy(keys.map(col): _*)
      .agg(transform(sort_array(collect_list(col("__pn"))),
          x => x.getField("__e")).as("__nodes0"),
        transform(sort_array(collect_list(when(col("__hasHop"),
            struct(col("__pos"), col("__em").as("__e"))))),
          x => x.getField("__e")).as("__rels0"))
      .select(keys.map(col) ++ Seq(
        col("__nodes0").cast(witnessArrayType(node, ndf)).as("__nodes"),
        col("__rels0").cast(relT).as("__rels")): _*)
  }

  /**
   * Heterogeneous unbounded chain (round 10): when a verb's edge
   * definitions span DIFFERENT label pairs (e.g. FEEDS: Customer→Order
   * plus Order→Part), the multi-hop chain walks a label DAG and the
   * endpoint ids live in different namespaces — so the BFS runs over a
   * UNION of all the verb's edge frames with ids tagged as a packed
   * struct `(l: label ordinal, i: id)` (the [[NodeAlt]] tagged-identity
   * trick: colliding raw ids across tables can never conflate), and
   * the result is filtered to the pattern's endpoint label ordinals
   * with the ids unpacked and cast back to their stored types. Both
   * endpoints must carry explicit labels (the rewrite runs before
   * label inference, and the tag filter IS the endpoint typing); a
   * label pair with no chain in the schema's label graph is a typed
   * error, not an empty frame.
   *
   * Scale shape: identical BFS to the homogeneous path — slim
   * (src, dst) rows, per-round lineage cuts, the same maxClosureRows
   * guard — with one map-side struct-pack per edge row for the tag
   * and one map-side unpack/cast at the end. The struct key is
   * (int, long) = 12 B when every id namespace is integral (ids fall
   * back to a shared string member only when a namespace is
   * non-numeric), ~3× narrower on the BFS shuffle than the previous
   * `label:id` string key; the ordinal filter at the end is an int
   * equality, not a prefix match.
   */
  private def stratifiedReach(defs: Seq[EdgeDef], verb: String,
      srcPat: NodePat, dstPat: NodePat, where: Option[Expr],
      catalog: GraphCatalog, outer: Option[Compiler.Ctx],
      needDist: Boolean, allShortest: Boolean,
      wantWitness: Boolean = false,
      allowIdentity: Boolean = false,
      selector: Option[(String, Int)] = None,
      minLen: Int = 1,
      undirected: Boolean = false)
      : (DataFrame, String, String) = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
      ShortType, StringType}
    val shape = defs.map(d => s"${d.fromLabel}→${d.toLabel}")
      .mkString(", ")
    // undirected hetero witnesses (round 17): typed — witness hops
    // cannot resolve a backward traversal to its own definition's
    // frame without a second orientation join per def
    if (undirected && wantWitness)
      throw new CypherNotSupportedException(
        "nodes()/relationships() over an undirected heterogeneous " +
        "unbounded chain — direct the pattern, or bound the range " +
        "[*lo..hi] for per-branch witness rows")
    def lbl(np: NodePat, side: String): String = np.label.getOrElse(
      throw new CypherNotSupportedException(
        s"unbounded variable-length over '$verb' spans multiple edge " +
        s"definitions ($shape) — label-stratified reachability needs " +
        s"explicit labels on both endpoints; annotate the $side node"))
    val srcLabel = lbl(srcPat, "source")
    val dstLabel = lbl(dstPat, "destination")
    // label-graph reachability (schema-sized, in-memory): an endpoint
    // pair no chain can connect is a typed error, not an empty frame
    // undirected (round 17): reachability — and the BFS frame below —
    // run over the SYMMETRIZED graph (each hop traversable either way)
    val lEdges0 = defs.map(e => (e.fromLabel, e.toLabel))
    val lEdges =
      if (!undirected) lEdges0
      else (lEdges0 ++ lEdges0.map(_.swap)).distinct
    var reachable = Set.empty[String]
    var front = Set(srcLabel)
    while (front.nonEmpty) {
      val nxt = lEdges.filter(le => front(le._1)).map(_._2).toSet -- reachable
      reachable ++= nxt
      front = nxt
    }
    // [*0..] (round 15): the IDENTITY row satisfies a same-label
    // endpoint pair even when no edge chain returns to the label —
    // the caller unions the reflexive rows in. The BFS below then
    // runs over a statically-EMPTIED edge frame: the label graph
    // PROVES no chain can connect the endpoints, so the closure is
    // provably empty — Catalyst folds the false filter to an empty
    // local relation and no table is ever scanned (the q164 shape:
    // identity rows only, zero closure cost at any scale).
    val provablyEmpty = !reachable(dstLabel)
    if (provablyEmpty && !(allowIdentity && srcLabel == dstLabel))
      throw new CypherBindingException(
        s"unbounded variable-length over '$verb': no chain of '$verb' " +
        s"edges leads from label '$srcLabel' to '$dstLabel' in the " +
        s"schema ($shape)")
    // ordinal per label, fixed by the schema's sorted label universe of
    // this verb — deterministic across the union branches and the seeds
    val ordinals: Map[String, Int] =
      defs.flatMap(e => Seq(e.fromLabel, e.toLabel)).distinct.sorted
        .zipWithIndex.toMap
    // shared id member type: (int ordinal, long id) when every
    // namespace is integral — 12 B BFS keys; string member otherwise
    val idTypes = defs.flatMap { e =>
      val sch = catalog.edgeDf(e).schema
      Seq(sch(e.srcIdColumn).dataType, sch(e.sinkIdColumn).dataType)
    }
    val allIntegral = idTypes.forall {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    val idT = if (allIntegral) LongType else StringType
    def tag(l: String, c: org.apache.spark.sql.Column) =
      struct(lit(ordinals(l)).as("l"), c.cast(idT).as("i"))
    val union00 = defs.map { e =>
      catalog.edgeDf(e).select(
        tag(e.fromLabel, col(e.srcIdColumn)).as("__src"),
        tag(e.toLabel, col(e.sinkIdColumn)).as("__dst"))
    }.reduce(_ unionByName _)
    // undirected: the tagged frame symmetrizes map-side (no shuffle)
    val union0 =
      if (!undirected) union00
      else union00.unionByName(union00.select(
        col("__dst").as("__src"), col("__src").as("__dst")))
    val union = if (provablyEmpty) union0.where(lit(false)) else union0
    val sNode = catalog.graph.node(srcLabel)
    val dNode = catalog.graph.node(dstLabel)
    def taggedSeeds(alias: Option[String], node: NodeDef,
        label: String): Option[DataFrame] =
      seedFor(where, alias, node, catalog, outer).map(sd =>
        sd.select(tag(label, col(sd.columns.head)).as("__seed")))
    val sT = catalog.nodeDf(srcLabel).schema(sNode.idColumn).dataType
    val dT = catalog.nodeDf(dstLabel).schema(dNode.idColumn).dataType
    // k > 1 selectors over the tagged union (round 16; VERDICT-r15
    // #4): the σ DP runs over packed (ordinal, id) keys unchanged —
    // the DAG guard, the multiplicity seeding and the k-trim never
    // read the id content; the ordinal filter + unpack at the end is
    // the ordinary stratified tail
    if (selector.isDefined) {
      val (kind, k) = selector.get
      // schema-sized Kahn peel over the LABEL graph: acyclic labels
      // prove the instance graph is a DAG, so the k-level DP skips
      // its data-level cycle check (round 16 — the whole-graph peel
      // over the tagged union was the dominant fixed cost here)
      val labelDagProven = {
        var le = lEdges.toSet
        var changed = true
        while (changed && le.nonEmpty) {
          val dsts = le.map(_._2)
          val drop = le.filterNot(x => dsts.contains(x._1))
          changed = drop.nonEmpty
          le --= drop
        }
        le.isEmpty
      }
      if (wantWitness) {
        // hetero k-level WITNESSES (round 16): the kLevelWalk over
        // tagged parent sets — each enumerated path's tagged ids
        // resolve to their OWN tables through the merged-shape
        // converters, exactly the allShortest hetero posture with the
        // per-path __pi discriminator
        def run(sc: String, dc: String, sd: Option[DataFrame],
            rev: Boolean): DataFrame = {
          val (levels, parentsOpt, bound) =
            kLevelLevels(union, sc, dc, sd, kind, k, withParents = true,
              dagProven = labelDagProven)
          val eligible =
            if (minLen <= 1) levels
            else levels.where(col("__dist") >= minLen)
          val chosen = kLevelTrim(eligible, kind, k)
            .localCheckpoint(false)
          val ids0 = kLevelWalk(chosen, parentsOpt.get, bound, kind, k)
          val ids =
            if (!rev) ids0
            else ids0.select(col("__dst").as("__src"),
              col("__src").as("__dst"), col("__dist"), col("__pi"),
              reverse(col("__wids")).as("__wids"))
          heteroWidsToNodesRels(ids, defs, ordinals, idT, catalog,
              perWitness = true, extraKeys = Seq("__pi"))
            .drop("__wids", "__pi")
        }
        val t = taggedSeeds(srcPat.alias, sNode, srcLabel)
          .map(sd => run("__src", "__dst", Some(sd), rev = false))
          .orElse(taggedSeeds(dstPat.alias, dNode, dstLabel)
            .map(sd => run("__dst", "__src", Some(sd), rev = true)))
          .getOrElse(run("__src", "__dst", None, rev = false))
        val out = t
          .where(t("__src")("l") === lit(ordinals(srcLabel)) &&
            t("__dst")("l") === lit(ordinals(dstLabel)))
          .select(t("__src")("i").cast(sT).as("__src"),
            t("__dst")("i").cast(dT).as("__dst"),
            col("__dist"), col("__nodes"), col("__rels"))
        return (out, srcLabel, dstLabel)
      }
      val tagged = taggedSeeds(srcPat.alias, sNode, srcLabel)
        .map(sd => kLevelReach(union, "__src", "__dst", Some(sd),
          kind, k, dagProven = labelDagProven, minLen = minLen))
        .orElse(taggedSeeds(dstPat.alias, dNode, dstLabel)
          .map(sd => swapPairs(kLevelReach(union, "__dst", "__src",
            Some(sd), kind, k, dagProven = labelDagProven,
            minLen = minLen), dist = true)))
        .getOrElse(kLevelReach(union, "__src", "__dst", None, kind, k,
          dagProven = labelDagProven, minLen = minLen))
      val out = tagged
        .where(tagged("__src")("l") === lit(ordinals(srcLabel)) &&
          tagged("__dst")("l") === lit(ordinals(dstLabel)))
        .select(Seq(
          tagged("__src")("i").cast(sT).as("__src"),
          tagged("__dst")("i").cast(dT).as("__dst")) ++
          (if (needDist) Seq(col("__dist")) else Seq.empty): _*)
      return (out, srcLabel, dstLabel)
    }
    if (wantWitness) {
      // heterogeneous unbounded witnesses (round 14): the SAME
      // parent-pointer BFS as the homogeneous path, run over the
      // tagged union frame — the tagged id IS the per-wave label, so
      // each witness element and each traversed hop joins back to its
      // OWN table. Element shapes follow pathShapes' bounded-witness
      // rule: the union of the participating labels'/defs' fields,
      // null-filled where a label/def lacks one. Round 15 (VERDICT-r14
      // #5): allShortestPaths composes — the tagged MULTI-parent BFS
      // (allParentsPairs, the q153 machinery over tagged ids) plus the
      // σ-fold pointer walk, each witness row keyed on its own id
      // array (perWitness grouping) so σ distinct (nodes, rels) rows
      // come out per pair.
      def run(sc: String, dc: String, sd: Option[DataFrame],
          rev: Boolean): DataFrame = {
        val ids0 =
          if (allShortest) {
            val (pairs, parents, bound) = allParentsPairs(union, sc, dc, sd)
            reconstructAllWitnessIds(pairs, parents, bound)
          } else {
            val pairs = reachablePairs(union, sc, dc, seeds = sd,
              withDist = true, withParent = true)
            reconstructWitnessIds(pairs)
          }
        val ids =
          if (!rev) ids0
          else ids0.select(col("__dst").as("__src"),
            col("__src").as("__dst"), col("__dist"),
            reverse(col("__wids")).as("__wids"))
        if (allShortest)
          heteroWidsToNodesRels(ids, defs, ordinals, idT, catalog,
            perWitness = true).drop("__wids")
        else
          heteroWidsToNodesRels(ids, defs, ordinals, idT, catalog)
      }
      val t = taggedSeeds(srcPat.alias, sNode, srcLabel)
        .map(sd => run("__src", "__dst", Some(sd), rev = false))
        .orElse(taggedSeeds(dstPat.alias, dNode, dstLabel)
          .map(sd => run("__dst", "__src", Some(sd), rev = true)))
        .getOrElse(run("__src", "__dst", None, rev = false))
      val out = t
        .where(t("__src")("l") === lit(ordinals(srcLabel)) &&
          t("__dst")("l") === lit(ordinals(dstLabel)))
        .select(t("__src")("i").cast(sT).as("__src"),
          t("__dst")("i").cast(dT).as("__dst"),
          col("__dist"), col("__nodes"), col("__rels"))
      return (out, srcLabel, dstLabel)
    }
    val tagged = computeReach(union, "__src", "__dst",
      () => taggedSeeds(srcPat.alias, sNode, srcLabel),
      () => taggedSeeds(dstPat.alias, dNode, dstLabel),
      needDist, allShortest)
    val outCols = Seq(
      tagged("__src")("i").cast(sT).as("__src"),
      tagged("__dst")("i").cast(dT).as("__dst")) ++
      (if (tagged.columns.contains("__dist")) Seq(col("__dist"))
       else Seq.empty)
    // undirected: (x, x) rows would reuse an edge (the x–y–x return
    // walk) — excluded, the homogeneous contract
    val ordFilter = tagged("__src")("l") === lit(ordinals(srcLabel)) &&
      tagged("__dst")("l") === lit(ordinals(dstLabel))
    val out = tagged
      .where(if (undirected) ordFilter && tagged("__src") =!= tagged("__dst")
             else ordFilter)
      .select(outCols: _*)
    (out, srcLabel, dstLabel)
  }

  /** Merged (name → type) field universe with pathShapes' mixing rule:
    * a field stored as different types in two members is typed. */
  private def mergeFields(fss: Seq[Seq[StructField]], what: String)
      : Seq[StructField] = {
    val out = scala.collection.mutable.LinkedHashMap[String, DataType]()
    fss.flatten.foreach { f =>
      out.get(f.name) match {
        case Some(t) if t != f.dataType =>
          throw new CypherNotSupportedException(
            s"witnesses over this chain mix a $what field " +
            s"'${f.name}' stored as ${t.simpleString} and " +
            s"${f.dataType.simpleString} — one array element type " +
            "cannot cover both")
        case _ => out(f.name) = f.dataType
      }
    }
    out.iterator.map { case (n, t) => StructField(n, t) }.toSeq
  }

  /** Tagged witness id array → node-struct array over the MERGED
    * label namespace: one union of tagged node slims, one join, one
    * ordered re-collect (the widsToNodes shape, heterogeneous). */
  /** One-pass HETEROGENEOUS witness resolution (optimization round
    * 16; the [[widsToNodesRels]] shape over tagged ids): each tagged
    * position row left-joins the union of tagged node slims, the
    * positions with a successor also left-join the union of tagged
    * edge slims (the tag pair identifies the def — an edge key under
    * one verb is unique per label pair; parallel edges keep the
    * min-struct determinism via the per-position pre-aggregation),
    * and one final groupBy collects both ordered merged-shape arrays.
    * Replaces the split nodes ⋈ rels twin that sort-merge-joined the
    * halves on the array-typed witness key. perWitness: each witness
    * row keys on its OWN id array so σ rows per pair stay distinct;
    * extraKeys — the per-path discriminator for identical arrays from
    * parallel-edge multiplicity. */
  private def heteroWidsToNodesRels(ids: DataFrame, defs: Seq[EdgeDef],
      ordinals: Map[String, Int], idT: DataType,
      catalog: GraphCatalog, perWitness: Boolean = false,
      extraKeys: Seq[String] = Seq.empty): DataFrame = {
    val labels = ordinals.keys.toSeq.sorted
    val nFields = mergeFields(labels.map { l =>
      val nd = catalog.graph.node(l)
      val sch = catalog.nodeDf(l).schema
      (nd.idColumn +: nd.properties).distinct.map(c => sch(c))
    }, "node label")
    val nodeT = ArrayType(StructType(nFields), containsNull = true)
    val taggedNodes = labels.map { l =>
      val nd = catalog.graph.node(l)
      val ndf = catalog.nodeDf(l)
      val own = (nd.idColumn +: nd.properties).distinct.toSet
      ndf.select(
        struct(lit(ordinals(l)).as("l"),
          col(nd.idColumn).cast(idT).as("i")).as("__nwid"),
        struct(nFields.map { f =>
          (if (own(f.name)) col(f.name)
           else lit(null).cast(f.dataType)).as(f.name) }: _*).as("__ne"))
    }.reduce(_ unionByName _)
    val rFields = mergeFields(defs.sortBy(_.key).map { e =>
      val sch = catalog.edgeDf(e).schema
      (Seq(e.srcIdColumn, e.sinkIdColumn) ++ e.properties).distinct
        .map(c => sch(c))
    }, "relationship definition")
    val relT = ArrayType(StructType(rFields), containsNull = true)
    val taggedEdges = defs.map { e =>
      val edf = catalog.edgeDf(e)
      val own =
        (Seq(e.srcIdColumn, e.sinkIdColumn) ++ e.properties).distinct.toSet
      edf.select(
        struct(lit(ordinals(e.fromLabel)).as("l"),
          col(e.srcIdColumn).cast(idT).as("i")).as("__hs"),
        struct(lit(ordinals(e.toLabel)).as("l"),
          col(e.sinkIdColumn).cast(idT).as("i")).as("__hd"),
        struct(rFields.map { f =>
          (if (own(f.name)) col(f.name)
           else lit(null).cast(f.dataType)).as(f.name) }: _*).as("__er"))
    }.reduce(_ unionByName _)
    val keys =
      Seq(col("__src"), col("__dst"), col("__dist")) ++
        (if (perWitness) Seq(col("__wids")) else Seq.empty) ++
        extraKeys.map(col)
    val keyNames = (Seq("__src", "__dst", "__dist") ++
      (if (perWitness) Seq("__wids") else Seq.empty) ++ extraKeys)
    val ex = ids.select(keys ++ Seq(col("__wids").as("__w0")) :+
        posexplode(col("__wids")).as(Seq("__pos", "__wid")): _*)
      .select(keys ++ Seq(col("__pos"), col("__wid"),
        get(col("__w0"), col("__pos") + lit(1)).as("__nxt")): _*)
    val perPos = ex
      .join(taggedNodes, col("__wid") === col("__nwid"), "left")
      .join(taggedEdges, col("__wid") === col("__hs") &&
        col("__nxt") === col("__hd"), "left")
      .groupBy((keyNames :+ "__pos").map(col): _*)
      .agg(first(struct(col("__pos"), col("__ne").as("__e"))).as("__pn"),
        min(when(col("__nxt").isNotNull, col("__er"))).as("__em"),
        first(col("__nxt").isNotNull).as("__hasHop"))
    perPos.groupBy(keyNames.map(col): _*)
      .agg(transform(sort_array(collect_list(col("__pn"))),
          x => x.getField("__e")).as("__nodes0"),
        transform(sort_array(collect_list(when(col("__hasHop"),
            struct(col("__pos"), col("__em").as("__e"))))),
          x => x.getField("__e")).as("__rels0"))
      .select(keys ++ Seq(
        col("__nodes0").cast(nodeT).as("__nodes"),
        col("__rels0").cast(relT).as("__rels")): _*)
  }

  /** Top-level AND-conjuncts of a WHERE tree. */
  private def topConjuncts(e: Expr): Seq[Expr] = e match {
    case Bin(BinOp.And, l, r) => topConjuncts(l) ++ topConjuncts(r)
    case other                => Seq(other)
  }

  /** Literal `alias.prop = v` / `alias.prop IN [v…]` / RANGE
    * (`< <= > >=`, round 17) conjuncts on declared properties of
    * `node`, as seed-scan filter columns. Any top-level conjunct that
    * is a pure literal test of ONE declared property is a valid seed
    * filter: the main plan keeps the WHERE, so seeding only needs the
    * seed set to be a SUPERSET of the surviving rows, and a per-alias
    * literal predicate is the exact alias-row set. Ranges matter: an
    * anchored range (q74's `a.c_custkey <= 5`) previously seeded
    * NOTHING, forcing the unseeded full closure over the whole edge
    * frame — the family's most expensive shape at bench scale. */
  private def literalAnchors(where: Option[Expr], alias: String,
      node: NodeDef): Seq[(String, Column)] = {
    def cmp(op: BinOp, p: String, v: Any): Option[Column] = op match {
      case BinOp.Eq => Some(col(p) === lit(v))
      case BinOp.Lt => Some(col(p) < lit(v))
      case BinOp.Le => Some(col(p) <= lit(v))
      case BinOp.Gt => Some(col(p) > lit(v))
      case BinOp.Ge => Some(col(p) >= lit(v))
      case _        => None
    }
    def flip(op: BinOp): BinOp = op match {
      case BinOp.Lt => BinOp.Gt
      case BinOp.Le => BinOp.Ge
      case BinOp.Gt => BinOp.Lt
      case BinOp.Ge => BinOp.Le
      case other    => other
    }
    where.toSeq.flatMap(topConjuncts).flatMap {
      case Bin(op, Ref(a, Some(p)), Lit(v)) if a == alias && v != null =>
        cmp(op, p, v).map(p -> _)
      case Bin(op, Lit(v), Ref(a, Some(p))) if a == alias && v != null =>
        cmp(flip(op), p, v).map(p -> _)
      case Bin(BinOp.In, Ref(a, Some(p)), ListLit(items))
          if a == alias && items.nonEmpty &&
            items.forall { case Lit(v) => v != null; case _ => false } =>
        Some(p -> col(p).isin(items.collect { case Lit(v) => v }: _*))
      case _ => None
    }.filter { case (p, _) =>
      p == node.idColumn || node.properties.contains(p)
    }
  }

  /** Seed id frame for a reach endpoint, if the clause anchors it:
    * literal WHERE anchors filter the node table down to the anchored
    * ids; failing that, an endpoint variable already bound in the
    * incoming frame seeds from that frame's distinct ids. */
  private def seedFor(where: Option[Expr], alias: Option[String],
      node: NodeDef, catalog: GraphCatalog,
      outer: Option[Compiler.Ctx]): Option[DataFrame] =
    alias.flatMap { al =>
      val anchors = literalAnchors(where, al, node)
      if (anchors.nonEmpty) {
        val filtered = anchors.foldLeft(catalog.nodeDf(node.label)) {
          case (d, (_, pred)) => d.where(pred)
        }
        Some(filtered.select(col(node.idColumn).as("__seed")))
      } else outer.flatMap { o =>
        o.scope.get(al) match {
          case Some(Analyzer.NodeBinding(n)) if n.label == node.label &&
              o.df.columns.contains(Compiler.pref(al, n.idColumn)) =>
            Some(o.df.select(col(Compiler.pref(al, n.idColumn)).as("__seed")))
          case _ => None
        }
      }
    }

  /**
   * All (src, dst) pairs connected by a directed path of length ≥ 1 —
   * restricted to `src ∈ seeds` when a seed frame is given.
   *
   * Frontier BFS, not closure doubling: each round extends only the NEW
   * pairs of the previous round along the base edges (slim keys),
   * dedupes, and drops the pairs earlier rounds found — so round work
   * is bounded by the undiscovered pair count and the loop stops the
   * first round nothing new appears (≤ diameter rounds, each ONE job
   * on the [[graft.ops.Fixpoint]] kernel: the edges are grouped by
   * source once, the frontier shuffles to them, and the state of
   * discovered pairs stays co-partitioned with the new ones). The accumulated pair count is
   * guarded by `maxClosureRows` (default `max(64·E, 1024)`; session
   * conf [[MaxClosureRowsConf]] overrides; an explicit argument wins)
   * — the output is closure-sized, and on a well-connected graph that
   * is O(V²) BEFORE any endpoint filter in the surrounding join DAG
   * can apply, which is exactly why anchored endpoints seed the
   * frontier instead (see [[rewrite]]).
   */
  /** In-memory frontier BFS — the driver fast path of
    * [[reachablePairs]] (see [[DriverRowsConf]]): same synchronized
    * multi-source rounds, the same per-round total accounting against
    * the caller's guard, the same min-id first-discovery parent
    * tie-break, MaxRounds backstop and typed errors. Throws
    * [[DriverOverflow]] past `cap` — the caller falls back to the
    * distributed loop. */
  private def driverReachable(raw: DataFrame, sdOpt: Option[DataFrame],
      withDist: Boolean, withParent: Boolean, confBound: Option[Long],
      cap: Long, guardFor: Long => (Long, Int) => Unit)
      : DataFrame = {
    val spark = raw.sparkSession
    // RAW rows, deduped here in memory — the distinct SHUFFLE +
    // checkpoint happens only on the distributed path (round 17); the
    // closure bound derives from the deduped count, exactly the
    // distributed path's eCount
    val pairs = raw.collect().map(r => (r.get(0), r.get(1))).distinct
    val bound = confBound.getOrElse(math.max(64L * pairs.length, 1024L))
    val guard = guardFor(bound)
    val seedSet: Option[collection.Set[Any]] =
      sdOpt.map(_.collect().iterator.map(_.get(0)).toSet)
    val adj = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    pairs.foreach { case (s, d) =>
      adj.getOrElseUpdate(s,
        scala.collection.mutable.ArrayBuffer.empty[Any]) += d
    }
    // (src, dst) -> (first-discovery dist, first-discovery parent)
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[(Any, Any), (Long, Any)]
    pairs.foreach { case (s, d) =>
      if (seedSet.forall(_.contains(s))) seen((s, d)) = (1L, s)
    }
    var frontier: Iterable[(Any, Any)] = seen.keys.toSeq
    var total = frontier.size.toLong
    guard(total, 0)
    if (total > cap) throw new DriverOverflow
    var rounds = 0
    while (frontier.nonEmpty) {
      rounds += 1
      if (rounds > MaxRounds)
        throw new CypherBindingException(
          s"unbounded variable-length: reachability did not converge in " +
          s"$MaxRounds rounds — the edge set's diameter exceeds the guard")
      val fresh = scala.collection.mutable.HashMap.empty[(Any, Any), Any]
      frontier.foreach { case (s, mid) =>
        adj.get(mid).foreach(_.foreach { d2 =>
          if (!seen.contains((s, d2))) {
            // min-id tie-break over this round's discoverers
            fresh.get((s, d2)) match {
              case Some(p) if compareIds(p, mid) <= 0 => ()
              case _ => fresh((s, d2)) = mid
            }
          }
        })
      }
      if (fresh.nonEmpty) {
        total += fresh.size
        guard(total, rounds)
        if (total > cap) throw new DriverOverflow
        fresh.foreach { case ((s, d2), par) =>
          seen((s, d2)) = ((rounds + 1).toLong, par)
        }
      }
      frontier = fresh.keys.toSeq
    }
    val srcT = raw.schema("__src").dataType
    val dstT = raw.schema("__dst").dataType
    val fields = Seq(StructField("__src", srcT),
      StructField("__dst", dstT)) ++
      (if (withDist) Seq(StructField("__dist", LongType)) else Nil) ++
      (if (withParent) Seq(StructField("__par", srcT)) else Nil)
    val rows = seen.iterator.map { case ((s, d), (dist, par)) =>
      Row.fromSeq(Seq(s, d) ++
        (if (withDist) Seq(dist) else Nil) ++
        (if (withParent) Seq(par) else Nil))
    }.toSeq
    localDf(spark, rows, StructType(fields))
  }

  private[cypher] def reachablePairs(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: Option[DataFrame] = None,
      maxClosureRows: Option[Long] = None,
      withDist: Boolean = false,
      withParent: Boolean = false): DataFrame = {
    // self-loop edges stay: (a)→(a) is a legitimate length-1 path, and
    // cycle pairs (a, a) via longer loops arise from the BFS naturally
    val raw = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .where(col("__src").isNotNull && col("__dst").isNotNull)
    val confBound = maxClosureRows
      .orElse(edges.sparkSession.conf.getOption(MaxClosureRowsConf)
        .map(_.toLong))
    def guardFor(bound: Long)(total: Long, round: Int): Unit =
      if (total > bound)
        throw new GraphContractViolation(
          s"unbounded variable-length: reachability closure hit $total " +
          s"rows after round $round (bound maxClosureRows=$bound). The " +
          "graph is too well-connected for an unanchored closure — " +
          "anchor an endpoint (a literal WHERE equality or a piped " +
          s"frame), or raise $MaxClosureRowsConf deliberately.")
    // driver fast path ([[DriverRowsConf]]): collect the slim edge
    // frame once, run the whole BFS in memory — identical guards and
    // typed errors; an overgrown closure falls back to the kernel
    driverOr(raw, seeds) { (sdOpt, drvLim) =>
      driverReachable(raw, sdOpt, withDist, withParent, confBound, drvLim,
        guardFor)
    } { sd =>
      val (all, t, _) = kernelBfs(raw, sd, "reach", allParents = false,
        confBound, guardFor,
        "unbounded variable-length: reachability did not converge in " +
        s"$MaxRounds rounds — the edge set's diameter exceeds the guard")
      raw.sparkSession.createDataFrame(all.map { case (k, (dist, par)) =>
          val (s, d) = k.asInstanceOf[(Any, Any)]
          Row.fromSeq(Seq(s, d) ++ (if (withDist) Seq(dist) else Nil) ++
            (if (withParent) Seq(par(0)) else Nil))
        }, StructType(
          Seq(StructField("__src", t), StructField("__dst", t)) ++
          (if (withDist) Seq(StructField("__dist", LongType)) else Nil) ++
          (if (withParent) Seq(StructField("__par", t)) else Nil)))
    }
  }

  /** Runs `driver` — an in-memory fast path of a reach loop — when the
    * edge frame is admitted ([[DriverRowsConf]]); otherwise, or when the
    * attempt outgrows the bound ([[DriverOverflow]]), runs `kernel`,
    * the distributed loop. UNSEEDED loops grow with the whole graph
    * (every edge seeds the frontier), so they only qualify at 1/16 of
    * the bound — a measured 750k-edge unseeded closure ran 3.5× SLOWER
    * driver-side (q74 quiet A/B 3.4 → 11.8 s) while the seeded cones
    * over the same frame all won. Admission probes the RAW edge count —
    * a scan-only job bounding the distinct count from above — so the
    * distinct SHUFFLE is paid only by frames headed for the distributed
    * loop (round 17, guide §2.4). `driver` gets the deduplicated seed
    * frame and the row bound; `kernel` gets the seeds, deduplicated
    * when the gate ran. */
  private def driverOr[R](raw: DataFrame, seeds: Option[DataFrame])(
      driver: (Option[DataFrame], Long) => R)(
      kernel: Option[DataFrame] => R): R = {
    val drvLim = driverRowsLimit(raw.sparkSession)
    if (drvLim <= 0) return kernel(seeds)
    val sdOpt = seeds.map(seedFrame)
    val sdRows = sdOpt.map(_.count()).getOrElse(-1L)
    val eGate = if (sdOpt.isDefined) drvLim else drvLim / 16
    if (sdRows <= drvLim) {
      val rawCount = raw.count()
      if (rawCount > 0 && rawCount <= eGate &&
          fitsDriverBytes(raw, rawCount)) {
        try return driver(sdOpt, drvLim)
        catch { case _: DriverOverflow => () }
      }
    }
    kernel(sdOpt)
  }

  /** True when a driver fast path may collect `df`: within `lim` rows
    * and the byte budget. A driver-built LocalRelation frame needs no
    * count job (round 17: its row count is already on the driver). */
  private def driverAdmits(df: DataFrame, lim: Long): Boolean = {
    val rows = localLeafRows(df).getOrElse(df.count())
    rows <= lim && fitsDriverBytes(df, rows)
  }

  /** The distributed first-discovery BFS of [[reachablePairs]] and
    * [[allParentsPairs]] on the [[graft.ops.Fixpoint]] kernel: one job
    * per round. The state is one entry per discovered (src, node) pair:
    * its distance and its parents — the frontier nodes it was first
    * reached through, all of them with `allParents`, else only the
    * min-id one (deterministic); a distance-1 pair's parent is its
    * source. The guard counts pairs, plus parent entries with
    * `allParents`. Returns every discovered entry, the id type and the
    * closure bound. */
  private def kernelBfs(raw: DataFrame, seeds: Option[DataFrame],
      loop: String, allParents: Boolean, confBound: Option[Long],
      guardFor: Long => (Long, Int) => Unit, roundsMsg: String)
      : (RDD[(Any, (Long, Array[Any]))], DataType, Long) = {
    val in = kernelInput(raw, seeds)
    val g = Fixpoint.graph(loop, in.edges, raw.sparkSession)(distinctIds)()
    val bound = confBound.getOrElse(math.max(64L * g.sum, 1024L))
    val guard = guardFor(bound)
    // every discovered pair, flagged when the last round found it
    var state: RDD[(Any, ((Long, Array[Any]), Boolean))] =
      Fixpoint.edgesFrom(g, in.seeds)
        .map { case (s, d) => ((s, d): Any, ((1L, Array[Any](s)), true)) }
        .partitionBy(g.part)
    var rows = Fixpoint.materialize(state, s"$loop:0")().rows
    var n = rows
    var total = n
    guard(total, 0)
    var rounds = 0
    while (n > 0) {
      rounds += 1
      if (rounds > MaxRounds) throw new CypherBindingException(roundsMsg)
      val dist = rounds + 1L
      val fresh = state.filter(_._2._2)
      val stepped =
        Fixpoint.expand(Fixpoint.frontier(fresh)((s, _) => s), g) {
          (s: Any, mid: Any, d2: Any) => ((s, d2): Any, mid)
        }
      // a (src, via) frontier entry reaches each distinct out-neighbour
      // once, so grouped vias are distinct
      val cands: RDD[(Any, Array[Any])] =
        if (allParents) stepped.groupByKey(g.part).mapValues(_.toArray)
        else stepped.reduceByKey(g.part,
          (a, b) => if (compareIds(a, b) <= 0) a else b).mapValues(Array(_))
      val next = Fixpoint.settle(cands, state.mapValues(_._1)) {
        (pars, old) => if (old.isEmpty) Some((dist, pars)) else None
      }
      // pairs are never rewritten, so the state grows by the fresh ones
      val st = Fixpoint.materialize(next, s"$loop:$rounds") {
        case (_, ((_, pars), isNew)) => if (isNew) pars.length.toLong else 0L
      }
      n = st.rows - rows
      rows = st.rows
      state = next
      if (n > 0) {
        total += n + (if (allParents) st.sum else 0L)
        guard(total, rounds)
      }
    }
    (state.mapValues(_._1), in.idType, bound)
  }

  /** A seed frame as the driver fast paths read it: its first column
    * as `__src`, nulls dropped, deduplicated and checkpointed. */
  private def seedFrame(s: DataFrame): DataFrame =
    s.select(col(s.columns.head).as("__src"))
      .where(col("__src").isNotNull).distinct().localCheckpoint(false)

  /** A reach loop's kernel entry: the slim edge pairs and the seed ids
    * as plain values of one id type (the wider type of the edge and
    * seed columns, which the DataFrame joins compared in). */
  private final class KernelInput(val edges: RDD[(Any, Any)],
      val seeds: Option[RDD[Any]], val idType: DataType)

  private def kernelInput(raw: DataFrame, seeds: Option[DataFrame])
      : KernelInput = {
    val t = Fixpoint.commonType(Seq(raw.schema("__src").dataType,
      raw.schema("__dst").dataType) ++
      seeds.map(s => s.schema(s.columns.head).dataType): _*)
    val edges = Fixpoint.values(raw.select(
        Fixpoint.castTo(raw, "__src", t), Fixpoint.castTo(raw, "__dst", t)))
      .map(a => (a(0), a(1)))
    val sd = seeds.map { s =>
      Fixpoint.values(s.select(Fixpoint.castTo(s, s.columns.head, t)))
        .map(_(0)).filter(_ != null)
    }
    new KernelInput(edges, sd, t)
  }

  /** A node's distinct out-neighbours. */
  private val distinctIds: Seq[Any] => Array[Any] = _.distinct.toArray

  /**
   * allShortestPaths over an unbounded range, ANCHORED form: one row
   * per shortest-path WITNESS — for each reachable (seed, node) pair,
   * σ rows at distance d_min, where σ is the pair's shortest-path
   * count. σ comes from the same frontier BFS that computes reach
   * (Brandes' forward pass, the [[graft.ops.GraphOps]] betweenness
   * posture): a node first discovered at round k+1 has
   * σ(v) = Σ σ(u) over its round-k predecessors — one groupBy-sum per
   * round on slim (src, dst, σ) rows; every walk of length d_min is
   * necessarily a simple shortest path, so σ counts paths with NO
   * per-path state anywhere. The final σ-fold row multiplication is a
   * map-side `explode(sequence(1, σ))`.
   *
   * Scale posture: requires seeds (the witness set is only bounded on
   * an anchored cone — [[rewrite]] enforces it); the accumulated pair
   * count rides the same `maxClosureRows` guard as [[reachablePairs]],
   * and the summed witness count is guarded against the same bound
   * before the explode, so a combinatorial σ blowup fails fast with a
   * typed error instead of materializing.
   */
  /** In-memory σ BFS — the driver fast path of
    * [[allShortestWitnesses]] (see [[DriverRowsConf]]): BigInt σ
    * mirrors the distributed Decimal sums, the per-round σ cap, the
    * per-round row guard, the final witness-total guard and the σ-fold
    * expansion all replicate with identical typed errors. Throws
    * [[DriverOverflow]] past `cap`. */
  private def driverAllShortestWitnesses(raw: DataFrame, sd: DataFrame,
      confBound: Option[Long], cap: Long,
      guardFor: Long => (Long, Int, String) => Unit): DataFrame = {
    val spark = raw.sparkSession
    // RAW rows, deduped in memory (round 17) — see [[driverReachable]]
    val pairs = raw.collect().map(r => (r.get(0), r.get(1))).distinct
    val bound = confBound.getOrElse(math.max(64L * pairs.length, 1024L))
    val guard = guardFor(bound)
    val seedSet: collection.Set[Any] =
      sd.collect().iterator.map(_.get(0)).toSet
    val adj = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    pairs.foreach { case (s, d) =>
      adj.getOrElseUpdate(s,
        scala.collection.mutable.ArrayBuffer.empty[Any]) += d
    }
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[(Any, Any), (Long, BigInt)]
    pairs.foreach { case (s, d) =>
      if (seedSet.contains(s)) seen((s, d)) = (1L, BigInt(1))
    }
    var frontier: Seq[((Any, Any), BigInt)] = seen.iterator
      .map { case (k, (_, sig)) => (k, sig) }.toSeq
    var total = frontier.size.toLong
    guard(total, 0, "the anchored cone")
    if (total > cap) throw new DriverOverflow
    val sigmaCap = Long.MaxValue >> 20
    var rounds = 0
    while (frontier.nonEmpty) {
      rounds += 1
      if (rounds > MaxRounds)
        throw new CypherBindingException(
          s"allShortestPaths: BFS did not converge in $MaxRounds " +
          "rounds — the edge set's diameter exceeds the guard")
      val next = scala.collection.mutable.LinkedHashMap
        .empty[(Any, Any), BigInt]
      frontier.foreach { case ((s, mid), sig) =>
        adj.get(mid).foreach(_.foreach { d2 =>
          if (!seen.contains((s, d2)))
            next((s, d2)) = next.getOrElse((s, d2), BigInt(0)) + sig
        })
      }
      val n = next.size.toLong
      if (n > 0 && next.valuesIterator.max > sigmaCap)
        throw new GraphContractViolation(
          s"allShortestPaths: shortest-path witness count σ exceeded " +
          s"$sigmaCap per pair after round $rounds (Long overflow " +
          "territory on a diamond-rich DAG). Narrow the anchor — the " +
          "witness expansion would not be materializable anyway.")
      if (n > 0) {
        total += n
        guard(total, rounds, "the anchored cone")
        if (total > cap) throw new DriverOverflow
        next.foreach { case (k, sig) =>
          seen(k) = ((rounds + 1).toLong, sig)
        }
      }
      frontier = next.toSeq
    }
    val witnesses = seen.valuesIterator.map(_._2).sum
    if (witnesses > BigInt(bound))
      throw new GraphContractViolation(
        s"allShortestPaths: the witness expansion hit $witnesses rows " +
        s"after round $rounds (bound maxClosureRows=$bound). Narrow " +
        s"the anchor, or raise $MaxClosureRowsConf deliberately.")
    if (witnesses > BigInt(cap)) throw new DriverOverflow
    val schema = StructType(Seq(
      StructField("__src", raw.schema("__src").dataType),
      StructField("__dst", raw.schema("__dst").dataType),
      StructField("__dist", LongType)))
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    seen.foreach { case ((s, d), (dist, sig)) =>
      var i = BigInt(0)
      while (i < sig) { out += Row(s, d, dist); i += 1 }
    }
    localDf(spark, out.toSeq, schema)
  }

  private[cypher] def allShortestWitnesses(edges: DataFrame,
      srcCol: String, dstCol: String, seeds: DataFrame,
      maxClosureRows: Option[Long] = None): DataFrame = {
    val raw = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .where(col("__src").isNotNull && col("__dst").isNotNull)
    val confBound = maxClosureRows
      .orElse(edges.sparkSession.conf.getOption(MaxClosureRowsConf)
        .map(_.toLong))
    def guardFor(bound: Long)(total: Long, round: Int,
        what: String): Unit =
      if (total > bound)
        throw new GraphContractViolation(
          s"allShortestPaths: $what hit $total rows after round $round " +
          s"(bound maxClosureRows=$bound). Narrow the anchor, or raise " +
          s"$MaxClosureRowsConf deliberately.")
    val sd = seeds.select(col(seeds.columns.head).as("__src"))
      .where(col("__src").isNotNull).distinct().localCheckpoint(false)
    val sdRows = sd.count()
    // driver fast path ([[DriverRowsConf]]): the σ BFS in memory —
    // same guards (row bound, σ cap, round backstop), same typed
    // errors; fallback past the driver cap. Scan-only raw-count
    // admission (round 17) — see [[reachablePairs]].
    val drvLim = driverRowsLimit(edges.sparkSession)
    if (drvLim > 0 && sdRows <= drvLim) {
      val rawCount = raw.count()
      if (rawCount > 0 && rawCount <= drvLim &&
          fitsDriverBytes(raw, rawCount)) {
        try return driverAllShortestWitnesses(raw, sd, confBound,
          drvLim, guardFor)
        catch { case _: DriverOverflow => () }
      }
    }
    val e = raw.distinct().localCheckpoint(false)
    val eCount = e.count()
    val bound = confBound.getOrElse(math.max(64L * eCount, 1024L))
    val guard: (Long, Int, String) => Unit = guardFor(bound)
    var seen = e.join(bcastIf(sd, sdRows), Seq("__src"), "left_semi")
      .withColumn("__dist", lit(1L))
      .withColumn("__sigma", lit(1L))
      .localCheckpoint(false)
    var frontier = seen
    var total = frontier.count()
    var fRows = total
    guard(total, 0, "the anchored cone")
    var rounds = 0
    var go = total > 0
    while (go) {
      rounds += 1
      if (rounds > MaxRounds)
        throw new CypherBindingException(
          s"allShortestPaths: BFS did not converge in $MaxRounds " +
          "rounds — the edge set's diameter exceeds the guard")
      // σ(v at k+1) = Σ σ(u at k): partial-agg groupBy BEFORE the
      // anti-join (the sum only involves frontier rows; nodes already
      // seen are strictly closer and contribute nothing). The per-pair
      // sum runs in DecimalType(38,0) — a Long sum wraps SILENTLY on
      // diamond-rich DAGs (Fibonacci-like growth), and with more than
      // 2^20 contributing predecessors a wrap can land positive and
      // under any cap; decimal cannot wrap (per-round sums stay far
      // below 38 digits), so the cap check below is exact.
      val nextD = bcastIf(frontier, fRows)
        .join(e.select(col("__src").as("__mid"), col("__dst").as("__d2")),
          col("__dst") === col("__mid"))
        .select(col("__src"), col("__d2").as("__dst"), col("__sigma"))
        .groupBy(col("__src"), col("__dst"))
        .agg(sum(col("__sigma")
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("__sigmaD"))
        .join(seen.select(col("__src"), col("__dst")),
          Seq("__src", "__dst"), "left_anti")
        .withColumn("__dist", lit((rounds + 1).toLong))
        .localCheckpoint(false)
      // one probe job per round: row count + max σ. The cap keeps the
      // materialized Long σ (and the explode(sequence(1, σ)) below)
      // in safe territory.
      val probe = nextD.agg(count(lit(1)),
        coalesce(max(col("__sigmaD")),
          lit(1).cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .first()
      val n = probe.getLong(0)
      val sigmaCap = Long.MaxValue >> 20
      if (n > 0 && probe.getDecimal(1).compareTo(
            java.math.BigDecimal.valueOf(sigmaCap)) > 0)
        throw new GraphContractViolation(
          s"allShortestPaths: shortest-path witness count σ exceeded " +
          s"$sigmaCap per pair after round $rounds (Long overflow " +
          "territory on a diamond-rich DAG). Narrow the anchor — the " +
          "witness expansion would not be materializable anyway.")
      // exact: every per-pair σ is ≤ sigmaCap, so the Long cast is
      // value-preserving
      val next = nextD.select(col("__src"), col("__dst"), col("__dist"),
        col("__sigmaD").cast(org.apache.spark.sql.types.LongType)
          .as("__sigma"))
      go = n > 0
      if (go) {
        total += n
        guard(total, rounds, "the anchored cone")
        seen = seen.union(next).localCheckpoint(false)
        frontier = next
        fRows = n
      }
    }
    // decimal sum: the TOTAL across pairs can overflow Long even when
    // every per-pair σ is in range
    val witnesses = seen
      .agg(coalesce(sum(col("__sigma")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))), lit(0)))
      .first().getDecimal(0)
    if (witnesses.compareTo(new java.math.BigDecimal(bound)) > 0)
      throw new GraphContractViolation(
        s"allShortestPaths: the witness expansion hit $witnesses rows " +
        s"after round $rounds (bound maxClosureRows=$bound). Narrow " +
        s"the anchor, or raise $MaxClosureRowsConf deliberately.")
    seen.select(col("__src"), col("__dst"), col("__dist"),
        explode(sequence(lit(1L), col("__sigma"))).as("__w"))
      .drop("__w")
  }
}
