package graft.cypher

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField,
  StructType}

import ast._
import graft.ops.{Fixpoint, GraphContractViolation, GraphOps}
import graft.ops.Fixpoint.{DriverOverflow, Rows, compareIds}

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

  /** Session conf key bounding the DRIVER executor of the iterative
    * reach loops (optimization round 16): an edge frame whose row
    * count sits at or under this bound is collected once and the
    * BFS/σ-DP/DAG-check/pointer-walk loop runs in driver memory — no
    * job replaces the O(diameter) round jobs of the cluster executor,
    * the dominant fixed cost of the family on interactive-scale
    * graphs. Both executors run the same [[graft.ops.Fixpoint]] loop
    * closures, so every maxClosureRows guard, round bound and
    * typed-error message is the same; a driver run whose rows outgrow
    * this same bound abandons the attempt
    * ([[graft.ops.Fixpoint.DriverOverflow]]) and reruns on the cluster
    * — a 100 TB frame never runs driver-side, and a small frame with a
    * huge closure only pays one bounded in-memory attempt.
    * Set 0 to run every loop on the cluster, the DAG check included:
    * nothing is collected to the driver then (the executor-equivalence
    * units do). */
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
    * seeding. `witnessVars` are the path variables the query reads
    * through `nodes()`/`relationships()` or as a whole; `relVars`, those
    * of them whose relationships it reads (`relationships(p)` or `p`):
    * only their reach frames resolve hop rows. No-op (same instances)
    * when nothing is unbounded. */
  def rewrite(matches: Seq[MatchClause], catalog: GraphCatalog,
              outer: Option[Compiler.Ctx] = None,
              witnessVars: Set[String] = Set.empty,
              relVars: Set[String] = Set.empty)
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
          // pointer walk bounded by the maximum DISTANCE — never the
          // path count — walks them back into one witness id array per
          // pair, resolved into node structs on the kernel
          // ([[witnessFrame]]). allShortestPaths (round 14) records ALL
          // min-distance parents instead and the walk enumerates every
          // minimal path — σ distinct witness rows per pair.
          // round 16 (VERDICT-r15 #2): k > 1 selectors now carry
          // witnesses too, via the per-level multi-parent walk
          val wantWitness =
            (pp.shortest || pp.allShortest || selK.isDefined) &&
              pp.pathVar.exists(witnessVars)
          // hop rows resolve only when the query reads them
          val needRels = wantWitness && pp.pathVar.exists(relVars)
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
                    if (wantWitness) {
                      // `<-` patterns: path order runs against the
                      // edge orientation — both arrays come out reversed
                      // so nodes(p)/relationships(p) read pattern order
                      val (paths, t) = witnessPaths(e.srcIdColumn,
                        e.sinkIdColumn,
                        () => seedFor(m.where, srcPat.alias, node,
                          catalog, outer),
                        () => seedFor(m.where, dstPat.alias, node,
                          catalog, outer))(
                        walkWitnesses(edf, _, _, _, effSel,
                          pp.allShortest, minLen, dagProven = false))
                      witnessFrame(paths, t, homoDims(node,
                          catalog.nodeDf(e.fromLabel), edf, e, t, needRels),
                        reversed = r.dir == Direction.In)
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
                  stratifiedReach(defs, verb, srcPat,
                    dstPat, m.where, catalog, outer, needDist,
                    pp.allShortest, wantWitness, needRels,
                    allowIdentity = r.varLength.exists(_._1 == 0),
                    selector = effSel, minLen = minLen,
                    undirected = r.dir == Direction.Both,
                    reversed = r.dir == Direction.In)
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
                      ndf.select(Seq(idc.as("__src"), idc.as("__dst"),
                        array(struct(nFields.map { f =>
                          (if (own(f.name)) col(f.name)
                           else lit(null).cast(f.dataType)).as(f.name)
                        }: _*))
                          .cast(ArrayType(StructType(nFields),
                            containsNull = true)).as("__nodes")) ++
                        (if (!needRels) Nil
                         else Seq(array().cast(ArrayType(StructType(rFields),
                           containsNull = true)).as("__rels"))): _*)
                    } else if (wantWitness) {
                      val e0 = catalog.graph.edgesByVerb(verb).head
                      val edf0 = catalog.edgeDf(e0)
                      val eCols = (Seq(e0.srcIdColumn, e0.sinkIdColumn)
                        ++ e0.properties).distinct
                      val relT = ArrayType(StructType(eCols.map(c2 =>
                        StructField(c2, edf0.schema(c2).dataType))),
                        containsNull = true)
                      ndf.select(Seq(idc.as("__src"), idc.as("__dst"),
                        array(witnessElem(node, ndf))
                          .cast(witnessArrayType(node, ndf))
                          .as("__nodes")) ++
                        (if (!needRels) Nil
                         else Seq(array().cast(relT).as("__rels"))): _*)
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
                  (if (wantWitness) Seq("__nodes") else Seq.empty) ++
                  (if (needRels) Seq("__rels") else Seq.empty),
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

  /** Cycle guard for the k-level σ DP, run where the loop's input is
    * held. The σ DP counts WALKS; beyond the minimal length a walk may
    * revisit an edge, diverging from Cypher's trail contract on cyclic
    * graphs — so the k-level family over unbounded ranges requires a
    * DAG (bound the range [*lo..hi] for exact trail semantics on
    * cyclic graphs). A whole-graph Kahn peel ([[GraphOps.peel]]) passes
    * the common acyclic case; on a cycle, only the seeds' cone — the
    * node set a first-discovery BFS reaches from them ([[GraphOps.hops]])
    * — is peeled again, so a cycle the DP never walks does not reject
    * the query. */
  private def requireDag(in: LoopInput, spark: SparkSession,
      what: String): Unit = {
    def diverged = throw new CypherBindingException(
      s"$what: the DAG check did not converge in $MaxRounds rounds")
    val g = GraphOps.peelGraph("dag", in.edges, spark)
    // Kahn's peel of the edges out of `nodes`: true when every node peels
    def peels(name: String, nodes: Option[Rows[Any]]): Boolean =
      GraphOps.peel(name, g, nodes, 1, Int.MaxValue, MaxRounds)(diverged)._2
    val acyclic = peels("dag", None) || in.seeds.exists { sd =>
      val cone = GraphOps.hops("dagCone", in.edges, sd.map(s => (null, s)),
        Long.MaxValue, MaxRounds, spark)(diverged)
      peels("dagPeel", Some(cone.map(_._1._2)))
    }
    if (!acyclic)
      throw new GraphContractViolation(s"$what over a CYCLIC graph — " +
        "the k-level lowering counts walks, which revisit edges beyond " +
        "the minimal length; bound the range [*lo..hi] for exact trail " +
        "semantics")
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
    * walk. Returns (levels, parents, bound).
    *
    * One [[graft.ops.Fixpoint.loop]] level per round: in driver memory
    * when [[driverOr]] admits the edge frame, one job per level
    * otherwise; the DAG check ([[requireDag]]) runs on the same
    * executor first. */
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
    driverOr(raw, seeds) { (sd, driver) =>
      val spark = raw.sparkSession
      val in = loopInput(raw, sd, driver)
      // out-edges with their multiplicity: parallel relationships are
      // distinct paths, so σ multiplies by the hop's row count
      val g = Fixpoint.graph("kLevel", in.edges, spark) {
        (ds: collection.Seq[Any]) =>
          val m = scala.collection.mutable.HashMap.empty[Any, Long]
          ds.foreach(d => m(d) = m.getOrElse(d, 0L) + 1L)
          m.toArray
      }()
      val bound = confBound.getOrElse(math.max(64L * g.sum, 1024L))
      val guard = guardFor(bound) _
      // dagProven (round 16): a heterogeneous chain whose LABEL graph
      // is acyclic cannot hold an instance cycle (any cycle projects to
      // a label cycle) — the data-level Kahn peel is skipped entirely
      if (!dagProven) requireDag(in, spark, dagWhat)
      // (src, end) at level r + 1 → (σ, its (via, multiplicity) parent
      // entries). The guard numbers a level by its length, round 0 by 0.
      var total = 0L
      var parentRows = 0L
      var level = 0L
      val levels = Fixpoint.loop("kLevel", g, in.seeds, MaxRounds - 1)(
          Fixpoint.Frontier[(Any, Long), (Any, Long),
          (Long, List[(Any, Long)])](
        // level 1: one entry per grouped edge out of the seeds, the
        // source itself its parent
        seed = { case (s, (d, m)) => ((s, d), (m, List((s, m)))) },
        front = { case (s, (sig, _)) => (s, sig) },
        // a path ending at d2 steps back to its via `mid`, traversing
        // m2 parallel relationships
        extend = { case ((s, sig), mid, (d2, m2)) =>
          ((s, d2), (Math.multiplyExact(sig, m2), List((mid, m2))))
        },
        combine = (a, b) => (Math.addExact(a._1, b._1), b._2 ::: a._2),
        sum = _._2.length.toLong)) { (r, st) =>
        level = r + 1L
        total += st.rows
        parentRows += st.sum
        guard(total, if (r == 0) 0L else level)
      }(throw new CypherBindingException(
        s"k-level reach did not converge in $MaxRounds rounds"))
      if (withParents) {
        // deferred parent-volume guard (one check for the whole DP)
        total += parentRows
        guard(total, level)
      }
      val t = in.idType
      val levelsDf = Fixpoint.frame(spark, levels.map {
          case (key, (r, (sig, _))) =>
            val (s, e) = key.asInstanceOf[(Any, Any)]
            Row(s, e, sig, r + 1L)
        }, StructType(Seq(StructField("__src", t), StructField("__dst", t),
          StructField("__sig", LongType), StructField("__dist", LongType))))
      val parentsDf =
        if (!withParents) None
        else Some(Fixpoint.frame(spark, levels.flatMap {
            case (key, (r, (_, ps))) =>
              val (s, e) = key.asInstanceOf[(Any, Any)]
              ps.iterator.map { case (via, m) => Row(s, e, r + 1L, via, m) }
          }, StructType(Seq(StructField("__ps", t), StructField("__pn", t),
            StructField("__pd", LongType), StructField("__pp", t),
            StructField("__pm", LongType)))))
      (levelsDf, parentsDf, bound)
    }
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
      dagProven: Boolean = false, minLen: Int): DataFrame = {
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

  /** Multi-parent pointer walk over the k-level parent sets: each
    * chosen (pair, length) row walks back level by level — the lookup
    * keys on (src, cur, REMAINING distance), so a node reached at
    * several distances never mixes levels — multiplying by the
    * branching and the per-hop parallel-edge multiplicity (σ-fold,
    * guarded per step). One path per enumeration (identical id arrays
    * from parallel edges stay separate paths); non-GROUPS kinds keep
    * the k first paths per pair in (length, id array) order. */
  private[cypher] def kLevelWalk(chosen: DataFrame, parents: DataFrame,
      bound: Long, kind: String, k: Int): Rows[WitnessPath] = {
    val spark = chosen.sparkSession
    val full = driverOrWalk(parents, chosen) { driver =>
      // finished and parent-less rows pass through
      val start = Fixpoint.rows(
          chosen.select(col("__src"), col("__dst"), col("__dist")), driver)
        .map { a =>
          val d = a(2).asInstanceOf[Long]
          Walker(a(0), a(1), d, d, a(1), a(1) :: Nil)
        }
      val par = Fixpoint.rows(parents.select(col("__ps"), col("__pn"),
          col("__pd"), col("__pp"), col("__pm")), driver)
        .map(a => ((a(0), a(1), a(2)): Any, (a(3), a(4).asInstanceOf[Long])))
      Fixpoint.walk("kLevelWalk", start, par, spark, from = 0)(
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
        }.map(w => WitnessPath(w.src, w.dst, w.dist, w.ids))
    }
    kind match {
      case "groups" | WalkKind => full
      case _ =>
        // k first paths per pair: ascending (length, id array) — the
        // enumeration equivalent of the trim's cumulative take
        Fixpoint.regroup(full.map(p => ((p.src, p.dst): Any, p)), spark) {
          (_, ps) => ps.sortWith((a, b) => a.dist < b.dist ||
            a.dist == b.dist && Fixpoint.compareIdSeqs(a.ids, b.ids) < 0)
            .take(k)
        }
    }
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

  private[cypher] def witnessArrayType(node: NodeDef, ndf: DataFrame): ArrayType =
    ArrayType(StructType(witnessFields(node, ndf)), containsNull = true)

  private[cypher] def witnessElem(node: NodeDef, ndf: DataFrame): Column =
    struct(witnessFields(node, ndf).map(f => col(f.name).as(f.name)): _*)

  /** One walked witness path: its pair, its length and its ids, the
    * source first. */
  private[cypher] final case class WitnessPath(src: Any, dst: Any,
      dist: Long, ids: List[Any])

  /** The witness paths of one unbounded rel and their id type: walked
    * from the source anchor, else from the destination anchor over
    * reversed edges (each path then turned back into edge order: an
    * R-path seed→x is an E-path x→seed), else from every source.
    * `walk(srcCol, dstCol, seeds)` walks one orientation. */
  private def witnessPaths(srcC: String, dstC: String,
      fwdSeeds: () => Option[DataFrame], revSeeds: () => Option[DataFrame])(
      walk: (String, String, Option[DataFrame]) =>
        (Rows[WitnessPath], DataType)): (Rows[WitnessPath], DataType) =
    fwdSeeds().map(sd => walk(srcC, dstC, Some(sd)))
      .orElse(revSeeds().map { sd =>
        val (ps, t) = walk(dstC, srcC, Some(sd))
        (ps.map(p => WitnessPath(p.dst, p.src, p.dist, p.ids.reverse)), t)
      })
      .getOrElse(walk(srcC, dstC, None))

  /** The witness walk of one path form over `edges` from `seeds`, and
    * its id type:
    *  - a k-level selector (round 16; VERDICT-r15 #2): the σ DP keeps
    *    per-level parent SETS (distance × branching, never path count),
    *    the trim keys on (pair, length), and [[kLevelWalk]] enumerates
    *    each kept level's paths — σ rows per (pair, length);
    *  - allShortestPaths (round 14): the BFS records ALL min-distance
    *    parents and [[reconstructAllWitnessIds]] enumerates every
    *    minimal path;
    *  - shortestPath (round 13): ONE shortest path per pair, rebuilt
    *    from the BFS's per-pair parent pointers
    *    ([[reconstructWitnessIds]]). */
  private def walkWitnesses(edges: DataFrame, sc: String, dc: String,
      seeds: Option[DataFrame], selector: Option[(String, Int)],
      allShortest: Boolean, minLen: Int, dagProven: Boolean)
      : (Rows[WitnessPath], DataType) = selector match {
    case Some((kind, k)) =>
      val (levels, parents, bound) = kLevelLevels(edges, sc, dc, seeds,
        kind, k, withParents = true, dagProven = dagProven)
      val eligible =
        if (minLen <= 1) levels
        else levels.where(col("__dist") >= minLen)
      val chosen = kLevelTrim(eligible, kind, k).localCheckpoint(false)
      (kLevelWalk(chosen, parents.get, bound, kind, k),
        chosen.schema("__src").dataType)
    case None if allShortest =>
      val (pairs, parents, bound) = allParentsPairs(edges, sc, dc, seeds)
      (reconstructAllWitnessIds(pairs, parents, bound),
        pairs.schema("__src").dataType)
    case None =>
      val pairs = reachablePairs(edges, sc, dc, seeds = seeds,
        withDist = true, withParent = true)
      (reconstructWitnessIds(pairs), pairs.schema("__src").dataType)
  }

  /** The dimension rows witness ids resolve against, shaped once by
    * Catalyst: (key, element) node rows and, when relationships are
    * read, (source key, destination key, element) hop rows — each with
    * its element array type. */
  private[cypher] final case class WitnessDims(nodes: DataFrame, nodeT: ArrayType,
      hops: Option[(DataFrame, ArrayType)])

  /** `c` as a key of the walk's id type `t`: an id that `t` cannot hold
    * becomes null, which matches no walk id. */
  private def idKey(df: DataFrame, c: String, t: DataType): Column =
    if (df.schema(c).dataType == t) col(c) else col(c).try_cast(t)

  /** A homogeneous chain's witness dimensions: the node table in the
    * canonical element shape, the edge table in its DECLARED column
    * order (entityCols' shape) — struct casts are positional, so the
    * identity branch and bounded witnesses must agree field for
    * field. */
  private[cypher] def homoDims(node: NodeDef, ndf: DataFrame, edf: DataFrame,
      e: EdgeDef, t: DataType, needRels: Boolean): WitnessDims = {
    val eCols = (Seq(e.srcIdColumn, e.sinkIdColumn) ++ e.properties).distinct
    WitnessDims(
      ndf.select(idKey(ndf, node.idColumn, t).as("__k"),
        witnessElem(node, ndf).as("__e")),
      witnessArrayType(node, ndf),
      if (!needRels) None
      else Some((edf.select(idKey(edf, e.srcIdColumn, t).as("__hs"),
          idKey(edf, e.sinkIdColumn, t).as("__hd"),
          struct(eCols.map(col): _*).as("__e")),
        ArrayType(StructType(eCols.map(c =>
          StructField(c, edf.schema(c).dataType))), containsNull = true))))
  }

  /** Witness paths as reach rows (__src, __dst, __dist, __nodes[,
    * __rels]), each path its own row: its ids resolve on the kernel
    * ([[graft.ops.Fixpoint.resolve]]) — an id without a node row gives
    * an element of null fields, parallel edges the least hop struct, and
    * a hop whose successor id is null no element. `reversed` (a `<-`
    * pattern, whose path runs against the edge orientation) reverses
    * both arrays, so nodes(p)/relationships(p) read pattern order. */
  private[cypher] def witnessFrame(paths: Rows[WitnessPath], t: DataType,
      dims: WitnessDims, reversed: Boolean): DataFrame = {
    val rels = dims.hops.isDefined
    def order(es: Seq[Row]) = if (reversed) es.reverse else es
    Fixpoint.resolve(paths, dims.nodes.sparkSession)(_.ids)(dims.nodes,
      dims.hops.map(_._1))(StructType(Seq(StructField("__src", t),
        StructField("__dst", t), StructField("__dist", LongType),
        StructField("__nodes", dims.nodeT, nullable = false)) ++
        dims.hops.map(h => StructField("__rels", h._2, nullable = false)))) {
      (p, ns, hs) => Row.fromSeq(Seq(p.src, p.dst, p.dist, order(ns)) ++
        (if (rels) Seq(order(hs)) else Nil))
    }
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
    driverOr(raw, seeds) { (sd, driver) =>
      val (all, t, bound) = bfs(raw, sd, driver, "allParents",
        allParents = true, confBound, guardFor,
        "allShortestPaths witnesses: BFS did not converge in " +
        s"$MaxRounds rounds — the edge set's diameter exceeds the guard")
      val spark = raw.sparkSession
      (Fixpoint.frame(spark, all.map { case (key, (r, _)) =>
          val (s, d) = key.asInstanceOf[(Any, Any)]
          Row(s, d, r + 1L)
        }, StructType(Seq(StructField("__src", t), StructField("__dst", t),
          StructField("__dist", LongType)))),
        Fixpoint.frame(spark, all.flatMap { case (key, (_, vias)) =>
          val (s, d) = key.asInstanceOf[(Any, Any)]
          vias.iterator.map(v => Row(s, d, v))
        }, StructType(Seq(StructField("__ps", t), StructField("__pd", t),
          StructField("__pp", t)))),
        bound)
    }
  }

  /** Multi-parent pointer walk: enumerate EVERY minimal path per pair
    * (the reconstructWitnessIds walk over an all-parents frame — each
    * step multiplies a row by its node's parents, guarded per step). */
  private[cypher] def reconstructAllWitnessIds(pairs: DataFrame,
      parents: DataFrame, bound: Long): Rows[WitnessPath] =
    driverOrWalk(parents, pairs) { driver =>
      // a pair row starts UNSTARTED (no ids yet) and its first step is
      // the inner join onto the pair's own parents; every later step
      // multiplies a row by its current node's parents
      val start = Fixpoint.rows(
          pairs.select(col("__src"), col("__dst"), col("__dist")), driver)
        .map(a => Walker(a(0), a(1), a(2).asInstanceOf[Long], 0L, a(1), Nil))
      val par = Fixpoint.rows(
          parents.select(col("__ps"), col("__pd"), col("__pp")), driver)
        .map(a => ((a(0), a(1)): Any, a(2)))
      Fixpoint.walk("allWalk", start, par,
          pairs.sparkSession, from = 0)(
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
        }.map(walked)
    }

  /** One row of a pointer walk: the pair and its distance, the
    * remaining distance (k-level walks), the node the walk stands on
    * and the ids walked so far, nearest the source first. */
  private final case class Walker(src: Any, dst: Any, dist: Long,
      rem: Long, cur: Any, ids: List[Any])

  /** A finished single/all-parents walk as a path, the source
    * prepended to its ids. */
  private def walked(w: Walker): WitnessPath =
    WitnessPath(w.src, w.dst, w.dist, w.src :: w.ids)

  /** Parent-pointer walk: (src, dst, dist, par) pair rows → the full
    * witness id array [src, …, dst] per pair. A pair at distance k
    * resolves after k−1 steps — the walk runs max(dist)−1 steps
    * ([[graft.ops.Fixpoint.walk]]: one job per step on the cluster;
    * in driver memory when the pair frame, which is also the parent
    * map, is admitted). */
  private[cypher] def reconstructWitnessIds(pairs: DataFrame)
      : Rows[WitnessPath] =
    driverOrWalk(pairs) { driver =>
      val in = Fixpoint.rows(pairs.select(col("__src"), col("__dst"),
        col("__dist"), col("__par")), driver)
      val start = in.map(a =>
        Walker(a(0), a(1), a(2).asInstanceOf[Long], 0L, a(3), a(1) :: Nil))
      Fixpoint.walk("walk", start,
          in.map(a => ((a(0), a(1)): Any, a(3))), pairs.sparkSession,
          from = 1)(
        w => if (w.cur == w.src) null else (w.src, w.cur),
        _.dist) { (w, ps) =>
          if (ps == null) // a parent-less pointer: the left-join miss
            Iterator.single(w.copy(cur = null, ids = w.cur :: w.ids))
          else ps.iterator.map(pp => w.copy(cur = pp, ids = w.cur :: w.ids))
        } { (_, _) => () }.map(walked)
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
      needDist: Boolean, allShortest: Boolean, wantWitness: Boolean,
      needRels: Boolean, allowIdentity: Boolean,
      selector: Option[(String, Int)], minLen: Int, undirected: Boolean,
      reversed: Boolean): (DataFrame, String, String) = {
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
    // schema-sized Kahn peel over the LABEL graph: acyclic labels
    // prove the instance graph is a DAG, so the k-level DP skips its
    // data-level cycle check (round 16 — the whole-graph peel over the
    // tagged union was the dominant fixed cost here)
    lazy val labelDagProven = {
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
    val (sOrd, dOrd) = (ordinals(srcLabel), ordinals(dstLabel))
    if (wantWitness) {
      // heterogeneous unbounded witnesses (round 14): the SAME walks as
      // the homogeneous path, run over the tagged union frame — the
      // tagged id IS the per-wave label, so each witness element and
      // each traversed hop resolves against its OWN table. Element
      // shapes follow pathShapes' bounded-witness rule: the union of
      // the participating labels'/defs' fields, null-filled where a
      // label/def lacks one. allShortestPaths (round 15) and k > 1
      // selectors (round 16) walk every enumerated path.
      val (paths, t) = witnessPaths("__src", "__dst",
        () => taggedSeeds(srcPat.alias, sNode, srcLabel),
        () => taggedSeeds(dstPat.alias, dNode, dstLabel))(
        walkWitnesses(union, _, _, _, selector, allShortest, minLen,
          labelDagProven))
      // only paths between the pattern's endpoint labels resolve
      def label(id: Any) = id.asInstanceOf[Row].getInt(0)
      val ends = paths.flatMap(p =>
        if (label(p.src) == sOrd && label(p.dst) == dOrd) Some(p) else None)
      val w = witnessFrame(ends, t,
        heteroDims(defs, ordinals, idT, catalog, needRels), reversed)
      val out = w.select(Seq(w("__src")("i").cast(sT).as("__src"),
          w("__dst")("i").cast(dT).as("__dst"), col("__dist"),
          col("__nodes")) ++
        (if (needRels) Seq(col("__rels")) else Nil): _*)
      return (out, srcLabel, dstLabel)
    }
    // k > 1 selectors over the tagged union (round 16; VERDICT-r15
    // #4): the σ DP runs over packed (ordinal, id) keys unchanged —
    // the DAG guard, the multiplicity seeding and the k-trim never
    // read the id content; the ordinal filter + unpack at the end is
    // the ordinary stratified tail
    if (selector.isDefined) {
      val (kind, k) = selector.get
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
        .where(tagged("__src")("l") === lit(sOrd) &&
          tagged("__dst")("l") === lit(dOrd))
        .select(Seq(
          tagged("__src")("i").cast(sT).as("__src"),
          tagged("__dst")("i").cast(dT).as("__dst")) ++
          (if (needDist) Seq(col("__dist")) else Seq.empty): _*)
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
  private[cypher] def mergeFields(fss: Seq[Seq[StructField]], what: String)
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

  /** A heterogeneous chain's witness dimensions over the MERGED label
    * namespace: the union of tagged node rows and, when relationships
    * are read, of tagged edge rows (the tag pair identifies the def — an
    * edge key under one verb is unique per label pair), each element
    * null-filled where its label or def lacks a field. */
  private[cypher] def heteroDims(defs: Seq[EdgeDef], ordinals: Map[String, Int],
      idT: DataType, catalog: GraphCatalog, needRels: Boolean)
      : WitnessDims = {
    def tag(l: String, c: String) =
      struct(lit(ordinals(l)).as("l"), col(c).cast(idT).as("i"))
    def elem(fs: Seq[StructField], own: Set[String]) =
      struct(fs.map { f =>
        (if (own(f.name)) col(f.name)
         else lit(null).cast(f.dataType)).as(f.name) }: _*)
    val labels = ordinals.keys.toSeq.sorted
    val nFields = mergeFields(labels.map { l =>
      val nd = catalog.graph.node(l)
      val sch = catalog.nodeDf(l).schema
      (nd.idColumn +: nd.properties).distinct.map(c => sch(c))
    }, "node label")
    val nodes = labels.map { l =>
      val nd = catalog.graph.node(l)
      catalog.nodeDf(l).select(tag(l, nd.idColumn).as("__k"),
        elem(nFields, (nd.idColumn +: nd.properties).toSet).as("__e"))
    }.reduce(_ unionByName _)
    val hops =
      if (!needRels) None
      else {
        val rFields = mergeFields(defs.sortBy(_.key).map { e =>
          val sch = catalog.edgeDf(e).schema
          (Seq(e.srcIdColumn, e.sinkIdColumn) ++ e.properties).distinct
            .map(c => sch(c))
        }, "relationship definition")
        Some((defs.map { e =>
          catalog.edgeDf(e).select(tag(e.fromLabel, e.srcIdColumn).as("__hs"),
            tag(e.toLabel, e.sinkIdColumn).as("__hd"),
            elem(rFields, (Seq(e.srcIdColumn, e.sinkIdColumn) ++
              e.properties).toSet).as("__e"))
        }.reduce(_ unionByName _),
          ArrayType(StructType(rFields), containsNull = true)))
      }
    WitnessDims(nodes, ArrayType(StructType(nFields), containsNull = true),
      hops)
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
   * discovered pairs stays co-partitioned with the new ones; no job
   * at all when [[driverOr]] admits the edge frame to driver memory).
   * The accumulated pair count is guarded by `maxClosureRows` (default
   * `max(64·E, 1024)`; session conf [[MaxClosureRowsConf]] overrides)
   * — the output is closure-sized, and on a well-connected graph that
   * is O(V²) BEFORE any endpoint filter in the surrounding join DAG
   * can apply, which is exactly why anchored endpoints seed the
   * frontier instead (see [[rewrite]]).
   */
  private[cypher] def reachablePairs(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: Option[DataFrame] = None,
      withDist: Boolean = false,
      withParent: Boolean = false): DataFrame = {
    // self-loop edges stay: (a)→(a) is a legitimate length-1 path, and
    // cycle pairs (a, a) via longer loops arise from the BFS naturally
    val raw = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .where(col("__src").isNotNull && col("__dst").isNotNull)
    val confBound = edges.sparkSession.conf.getOption(MaxClosureRowsConf)
      .map(_.toLong)
    def guardFor(bound: Long)(total: Long, round: Int): Unit =
      if (total > bound)
        throw new GraphContractViolation(
          s"unbounded variable-length: reachability closure hit $total " +
          s"rows after round $round (bound maxClosureRows=$bound). The " +
          "graph is too well-connected for an unanchored closure — " +
          "anchor an endpoint (a literal WHERE equality or a piped " +
          s"frame), or raise $MaxClosureRowsConf deliberately.")
    driverOr(raw, seeds) { (sd, driver) =>
      val (all, t, _) = bfs(raw, sd, driver, "reach", allParents = false,
        confBound, guardFor,
        "unbounded variable-length: reachability did not converge in " +
        s"$MaxRounds rounds — the edge set's diameter exceeds the guard")
      Fixpoint.frame(raw.sparkSession, all.map { case (key, (r, pars)) =>
          val (s, d) = key.asInstanceOf[(Any, Any)]
          Row.fromSeq(Seq(s, d) ++ (if (withDist) Seq(r + 1L) else Nil) ++
            (if (withParent) Seq(pars.head) else Nil))
        }, StructType(
          Seq(StructField("__src", t), StructField("__dst", t)) ++
          (if (withDist) Seq(StructField("__dist", LongType)) else Nil) ++
          (if (withParent) Seq(StructField("__par", t)) else Nil)))
    }
  }

  /** Runs a reach loop `run(seeds, driver)` in driver memory (`driver`
    * = the row cap) when the edge frame is admitted
    * ([[DriverRowsConf]]); otherwise, or when that attempt outgrows the
    * cap ([[graft.ops.Fixpoint.DriverOverflow]]), on the cluster
    * (`driver` = None). UNSEEDED loops grow with the whole graph
    * (every edge seeds the frontier), so they only qualify at 1/16 of
    * the bound — a measured 750k-edge unseeded closure ran 3.5× SLOWER
    * driver-side (q74 quiet A/B 3.4 → 11.8 s) while the seeded cones
    * over the same frame all won. Admission probes the RAW edge count —
    * a scan-only job bounding the distinct count from above — so the
    * distinct SHUFFLE is paid only by frames headed for the cluster
    * (round 17, guide §2.4). `run` gets the seeds deduplicated when
    * the gate ran. */
  private def driverOr[R](raw: DataFrame, seeds: Option[DataFrame])(
      run: (Option[DataFrame], Option[Long]) => R): R = {
    val drvLim = driverRowsLimit(raw.sparkSession)
    if (drvLim <= 0) return run(seeds, None)
    val sdOpt = seeds.map(seedFrame)
    val sdRows = sdOpt.map(_.count()).getOrElse(-1L)
    val eGate = if (sdOpt.isDefined) drvLim else drvLim / 16
    if (sdRows <= drvLim) {
      val rawCount = raw.count()
      if (rawCount > 0 && rawCount <= eGate &&
          fitsDriverBytes(raw, rawCount)) {
        try return run(sdOpt, Some(drvLim))
        catch { case _: DriverOverflow => () }
      }
    }
    run(sdOpt, None)
  }

  /** [[driverOr]] for a pointer walk over `inputs`: in driver memory
    * when each input is admitted, in order ([[driverAdmits]]). */
  private def driverOrWalk[R](inputs: DataFrame*)(run: Option[Long] => R)
      : R = {
    val drvLim = driverRowsLimit(inputs.head.sparkSession)
    if (drvLim > 0 && inputs.forall(driverAdmits(_, drvLim))) {
      try return run(Some(drvLim))
      catch { case _: DriverOverflow => () }
    }
    run(None)
  }

  /** True when a driver fast path may collect `df`: within `lim` rows
    * and the byte budget. A driver-built LocalRelation frame needs no
    * count job (round 17: its row count is already on the driver). */
  private def driverAdmits(df: DataFrame, lim: Long): Boolean = {
    val rows = localLeafRows(df).getOrElse(df.count())
    rows <= lim && fitsDriverBytes(df, rows)
  }

  /** The first-discovery BFS of [[reachablePairs]] and
    * [[allParentsPairs]] on [[graft.ops.Fixpoint.loop]]: one entry per
    * discovered (src, node) pair at distance round + 1, valued by its
    * parents — the frontier nodes it was first reached through, all of
    * them with `allParents`, else only the min-id one (deterministic);
    * a distance-1 pair's parent is its source. The guard counts pairs,
    * plus the parent entries of rounds ≥ 1 with `allParents`. Returns
    * every entry, the id type and the closure bound. */
  private def bfs(raw: DataFrame, seeds: Option[DataFrame],
      driver: Option[Long], loop: String, allParents: Boolean,
      confBound: Option[Long], guardFor: Long => (Long, Int) => Unit,
      roundsMsg: String): (Rows[(Any, (Int, List[Any]))], DataType, Long) = {
    val in = loopInput(raw, seeds, driver)
    val g = Fixpoint.graph(loop, in.edges, raw.sparkSession)(distinctIds)()
    val bound = confBound.getOrElse(math.max(64L * g.sum, 1024L))
    val guard = guardFor(bound)
    var total = 0L
    val all = Fixpoint.loop(loop, g, in.seeds, MaxRounds)(
      Fixpoint.Frontier[Any, Any, List[Any]](
        seed = (s, d) => ((s, d), List(s)),
        front = (s, _) => s,
        extend = (s, mid, d2) => ((s, d2), List(mid)),
        // a (src, via) entry reaches each distinct out-neighbour once,
        // so the gathered vias are distinct
        combine =
          if (allParents) (a, b) => b ::: a
          else (a, b) => if (compareIds(a.head, b.head) <= 0) a else b,
        merge = Fixpoint.firstDiscovery,
        sum = if (allParents) _.length.toLong else _ => 0L)) { (r, st) =>
      total += st.rows + (if (r > 0) st.sum else 0L)
      guard(total, r)
    }(throw new CypherBindingException(roundsMsg))
    (all, in.idType, bound)
  }

  /** A seed frame as the driver fast paths read it: its first column
    * as `__src`, nulls dropped, deduplicated and checkpointed. */
  private def seedFrame(s: DataFrame): DataFrame =
    s.select(col(s.columns.head).as("__src"))
      .where(col("__src").isNotNull).distinct().localCheckpoint(false)

  /** A reach loop's input: the slim edge pairs and the seed ids as
    * plain values of one id type (the wider type of the edge and seed
    * columns, which the DataFrame joins compared in), collected into
    * driver memory when `driver` holds the cap. */
  private final class LoopInput(val edges: Rows[(Any, Any)],
      val seeds: Option[Rows[Any]], val idType: DataType)

  private def loopInput(raw: DataFrame, seeds: Option[DataFrame],
      driver: Option[Long]): LoopInput = {
    val t = Fixpoint.commonType(Seq(raw.schema("__src").dataType,
      raw.schema("__dst").dataType) ++
      seeds.map(s => s.schema(s.columns.head).dataType): _*)
    val edges = Fixpoint.rows(raw.select(Fixpoint.castTo(raw, "__src", t),
        Fixpoint.castTo(raw, "__dst", t)), driver)
      .map(a => (a(0), a(1)))
    val sd = seeds.map { s =>
      Fixpoint.rows(s.select(Fixpoint.castTo(s, s.columns.head, t)), driver)
        .flatMap(a => Option(a(0)))
    }
    new LoopInput(edges, sd, t)
  }

  /** A node's distinct out-neighbours. */
  private val distinctIds: collection.Seq[Any] => Array[Any] =
    _.distinct.toArray

  /**
   * allShortestPaths over an unbounded range, ANCHORED form: one row
   * per shortest-path WITNESS — for each reachable (seed, node) pair,
   * σ rows at distance d_min, where σ is the pair's shortest-path
   * count. σ comes from the same frontier BFS that computes reach
   * (Brandes' forward pass, the [[graft.ops.GraphOps]] betweenness
   * posture): a node first discovered at round k+1 has
   * σ(v) = Σ σ(u) over its round-k predecessors — one sum per key per
   * round of the [[graft.ops.Fixpoint.loop]]; every walk of length
   * d_min is necessarily a simple shortest path, so σ counts paths
   * with NO per-path state anywhere. The final σ-fold row
   * multiplication is a flat map over the pairs.
   *
   * Scale posture: requires seeds (the witness set is only bounded on
   * an anchored cone — [[rewrite]] enforces it); the accumulated pair
   * count rides the same `maxClosureRows` guard as [[reachablePairs]],
   * and the summed witness count is guarded against the same bound
   * before the expansion, so a combinatorial σ blowup fails fast with a
   * typed error instead of materializing.
   */
  private[cypher] def allShortestWitnesses(edges: DataFrame,
      srcCol: String, dstCol: String, seeds: DataFrame): DataFrame = {
    val raw = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .where(col("__src").isNotNull && col("__dst").isNotNull)
    val confBound = edges.sparkSession.conf.getOption(MaxClosureRowsConf)
      .map(_.toLong)
    def guardFor(bound: Long)(total: Long, round: Int,
        what: String): Unit =
      if (total > bound)
        throw new GraphContractViolation(
          s"allShortestPaths: $what hit $total rows after round $round " +
          s"(bound maxClosureRows=$bound). Narrow the anchor, or raise " +
          s"$MaxClosureRowsConf deliberately.")
    driverOr(raw, Some(seeds)) { (sd, driver) =>
      val spark = raw.sparkSession
      val in = loopInput(raw, sd, driver)
      val g = Fixpoint.graph("allShortest", in.edges, spark)(distinctIds)()
      val bound = confBound.getOrElse(math.max(64L * g.sum, 1024L))
      val guard = guardFor(bound) _
      // The cap keeps σ — and the σ-fold expansion below — in safe
      // territory. σ sums per key saturate at Long.MaxValue, past the
      // cap, so an overflowing sum trips the cap instead of wrapping.
      val sigmaCap = Long.MaxValue >> 20
      var total = 0L
      var witnesses = BigInt(0)
      var rounds = 0
      val seen = Fixpoint.loop("allShortest", g, in.seeds, MaxRounds)(
          Fixpoint.Frontier[Any, (Any, Long), Long](
        seed = (s, d) => ((s, d), 1L),
        front = (s, sig) => (s, sig),
        extend = { case ((s, sig), _, d2) => ((s, d2), sig) },
        combine = Fixpoint.addSat,
        merge = Fixpoint.firstDiscovery,
        sum = sig => sig, max = sig => sig)) { (r, st) =>
        rounds = r
        if (st.rows > 0 && st.max > sigmaCap)
          throw new GraphContractViolation(
            s"allShortestPaths: shortest-path witness count σ exceeded " +
            s"$sigmaCap per pair after round $r (Long overflow " +
            "territory on a diamond-rich DAG). Narrow the anchor — the " +
            "witness expansion would not be materializable anyway.")
        total += st.rows
        witnesses += st.sum
        guard(total, r, "the anchored cone")
      }(throw new CypherBindingException(
        s"allShortestPaths: BFS did not converge in $MaxRounds " +
        "rounds — the edge set's diameter exceeds the guard"))
      if (witnesses > bound)
        throw new GraphContractViolation(
          s"allShortestPaths: the witness expansion hit $witnesses rows " +
          s"after round $rounds (bound maxClosureRows=$bound). Narrow " +
          s"the anchor, or raise $MaxClosureRowsConf deliberately.")
      Fixpoint.frame(spark, seen.flatMap { case (key, (r, sig)) =>
          val (s, d) = key.asInstanceOf[(Any, Any)]
          (0L until sig).iterator.map(_ => Row(s, d, r + 1L))
        }, StructType(Seq(StructField("__src", in.idType),
          StructField("__dst", in.idType), StructField("__dist", LongType))))
    }
  }
}
