package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import ast._
import Analyzer._

/**
 * Lowers a resolved query to DataFrame operations. This replaces the
 * reference's SQLRenderer (reference: src/SQLRenderer/SQLRenderer.cs) —
 * instead of emitting nested T-SQL text we declare the logical plan with
 * the DataFrame API and let Catalyst do predicate pushdown, column
 * pruning, join strategy selection and codegen (the reference offloads
 * all of that to the target RDBMS, README.md:63).
 *
 * Entity columns are flattened with the reference's own naming scheme
 * `__{alias}_{property}` (reference: SQLRenderer.cs:284-288), so an
 * entity variable is a column-name namespace over the joined DataFrame.
 */
object Compiler {

  final case class Ctx(df: DataFrame, scope: Map[String, Binding])

  // ----- entity column helpers -----------------------------------------

  def entityCols(b: Binding): Seq[String] = b match {
    case NodeBinding(n) => (n.idColumn +: n.properties).distinct
    case EdgeBinding(e) =>
      (Seq(e.srcIdColumn, e.sinkIdColumn) ++ e.properties ++
        e.hopKeys.flatMap(h => Seq(h._2, h._3)) ++
        e.hopLists.map(_._2) ++ e.rowKeyColumn.toSeq).distinct
    case ValueBinding => Seq.empty
    case PathBinding  => Seq.empty
  }

  def pref(alias: String, c: String): String = s"__${alias}_$c"

  def nodeKey(alias: String, n: NodeDef): Column = col(pref(alias, n.idColumn))
  def edgeSrc(alias: String, e: EdgeDef): Column = col(pref(alias, e.srcIdColumn))
  def edgeSnk(alias: String, e: EdgeDef): Column = col(pref(alias, e.sinkIdColumn))

  /** One physical scan producing one or more entity namespaces. A group
   *  with several members is a *merged* scan: a relationship plus the
   *  endpoint nodes that live in the same table joined on the node's
   *  unique id (see [[mergeMap]]) — one parquet read instead of a
   *  self-join per hop. */
  private final case class ScanGroup(members: Seq[(String, Binding)]) {
    def aliases: Set[String] = members.map(_._1).toSet
  }

  /** Leaf scan — entity columns renamed into each member's alias
   *  namespace (reference: DataSourceOperator.cs:19-122, flattening
   *  scheme SQLRenderer.cs:284-288). Catalyst prunes the scan down to
   *  the referenced columns. */
  private def scanGroup(catalog: GraphCatalog, g: ScanGroup): DataFrame = {
    val base = g.members.head._2 match {
      case NodeBinding(n) => catalog.nodeDf(n.label)
      case EdgeBinding(e) => catalog.edgeDf(e)
      case ValueBinding | PathBinding =>
        throw new IllegalStateException("scan of non-entity binding")
    }
    val cols = g.members.flatMap { case (a, b) =>
      entityCols(b).map(c => col(c).as(pref(a, c)))
    }
    base.select(cols: _*)
  }

  /**
   * Self-join elimination: a pattern node whose backing table IS its
   * adjacent relationship's table, joined on the node's unique id column
   * (edge src/sink column == node id column), binds the same physical
   * row as the edge — the join is an identity and both namespaces read
   * from ONE scan. Node ids are unique by the graph model's contract
   * (reference: NodeSchema.cs:9-19 — one NodeIdProperty per node).
   * Returns nodeAlias → owning relAlias.
   */
  private def mergeMap(m: ResolvedMatch, newNodeAliases: Set[String],
                       schema: GraphSchema): Map[String, String] = {
    val merged = scala.collection.mutable.LinkedHashMap[String, String]()
    m.rels.foreach { r =>
      val srcDef = schema.node(m.nodeLabels(r.srcNode))
      if (newNodeAliases(r.srcNode) && !merged.contains(r.srcNode) &&
          srcDef.table == r.edge.table && r.edge.srcIdColumn == srcDef.idColumn)
        merged(r.srcNode) = r.alias
      val snkDef = schema.node(m.nodeLabels(r.snkNode))
      if (newNodeAliases(r.snkNode) && !merged.contains(r.snkNode) &&
          snkDef.table == r.edge.table && r.edge.sinkIdColumn == snkDef.idColumn)
        merged(r.snkNode) = r.alias
    }
    merged.toMap
  }

  // ----- MATCH → joins --------------------------------------------------

  /** One join condition between a node alias and a rel alias; applied when
   *  both entities are present in the joined set. */
  private final case class JoinCond(a: String, b: String, cond: Column) {
    var applied = false
  }

  /** Join conditions for a relationship's two endpoints; pairs merged
   *  into the rel's own scan (identity self-joins) are dropped. */
  private def relConds(r: ResolvedRel, labels: Map[String, String],
                       schema: GraphSchema,
                       merged: Map[String, String]): Seq[JoinCond] = {
    val srcNode = schema.node(labels(r.srcNode))
    val snkNode = schema.node(labels(r.snkNode))
    val src =
      if (merged.get(r.srcNode).contains(r.alias)) None
      else Some(JoinCond(r.alias, r.srcNode,
        nodeKey(r.srcNode, srcNode) === edgeSrc(r.alias, r.edge)))
    val snk =
      if (merged.get(r.snkNode).contains(r.alias)) None
      else Some(JoinCond(r.alias, r.snkNode,
        nodeKey(r.snkNode, snkNode) === edgeSnk(r.alias, r.edge)))
    Seq(src, snk).flatten
  }

  /** Greedy connected-join emission: join each new entity on all
   *  conditions linking it to already-placed entities; disconnected
   *  components fall back to cross joins. Semantics mirror the
   *  reference's Inner→Left→Cross three-pass emission over its
   *  transitive-closure matrix (reference: LogicalPlan.cs:880-967) —
   *  one join per connected pair, cross joins only between disjoint
   *  components. Catalyst picks broadcast vs sort-merge physically. */
  private def joinEntities(
      start: Option[DataFrame],
      placedAliases: Set[String],
      groups: Seq[ScanGroup],
      conds: Seq[JoinCond],
      catalog: GraphCatalog): DataFrame = {
    var df = start.orNull
    val placed = scala.collection.mutable.Set[String](placedAliases.toSeq: _*)
    val pending = scala.collection.mutable.ArrayBuffer[ScanGroup](groups: _*)

    def condsFor(g: ScanGroup): Seq[JoinCond] =
      conds.filter(c => !c.applied &&
        ((g.aliases(c.a) && placed(c.b)) || (g.aliases(c.b) && placed(c.a))))

    while (pending.nonEmpty) {
      val idx = pending.indexWhere(g => condsFor(g).nonEmpty) match {
        case -1 => 0
        case i  => i
      }
      val g = pending.remove(idx)
      val rhs = scanGroup(catalog, g)
      if (df == null) df = rhs
      else {
        val cs = condsFor(g)
        if (cs.isEmpty) df = df.crossJoin(rhs)
        else {
          cs.foreach(_.applied = true)
          df = df.join(rhs, cs.map(_.cond).reduce(_ && _), "inner")
        }
      }
      placed ++= g.aliases
      // conditions whose endpoints are now both placed but were skipped
      // (can't happen for node-rel conds, but keep the invariant tight)
      conds.filter(c => !c.applied && placed(c.a) && placed(c.b))
        .foreach { c => df = df.filter(c.cond); c.applied = true }
    }
    df
  }

  /** ORDER BY sort column with Cypher 2025 NULLS FIRST/LAST
   *  (round 14): None keeps Spark's default (nulls first ASC, nulls
   *  last DESC — also Neo4j's default placement is nulls last ASC,
   *  so callers wanting Neo4j parity spell it explicitly). */
  private def sortCol(c: Column, s: ast.SortItem): Column =
    (s.desc, s.nullsFirst) match {
      case (false, None)        => c.asc
      case (true,  None)        => c.desc
      case (false, Some(true))  => c.asc_nulls_first
      case (false, Some(false)) => c.asc_nulls_last
      case (true,  Some(true))  => c.desc_nulls_first
      case (true,  Some(false)) => c.desc_nulls_last
    }

  /** Cypher relationship-uniqueness: two same-typed relationship
   *  variables in one MATCH may not bind the same edge row
   *  (reference: LogicalPlan.cs:969-1017, SelectionOperator.cs:88-139).
   *
   *  Composite QPP chains (round 14): a synthetic edge composed from a
   *  multi-relationship quantified group carries its underlying
   *  per-hop edge keys (`EdgeDef.hopKeys`); uniqueness then applies
   *  PER UNDERLYING EDGE — for every hop pair (i of r1, j of r2)
   *  sharing an edge definition, the two hops may not bind the same
   *  row. This is Cypher 5's contract (a walk may not reuse a
   *  relationship), strictly stronger than per-composite-row
   *  inequality: identical composite rows trivially violate the
   *  (i, i) conjunct. */
  private def inequalityCond(p: (ResolvedRel, ResolvedRel)): Column = {
    val (r1, r2) = p
    if (r1.edge.hopKeys.nonEmpty || r2.edge.hopKeys.nonEmpty) {
      // per-underlying-edge slots: each hop of a composite, or the
      // one (src, snk) slot of a plain rel — conjuncts over every
      // slot pair sharing an edge definition (composite × composite,
      // composite × plain rel, both directions)
      def slots(r: ResolvedRel)
          : Seq[((String, String, String), Column, Column)] =
        if (r.edge.hopKeys.nonEmpty)
          r.edge.hopKeys.map(h => (h._1, col(pref(r.alias, h._2)),
            col(pref(r.alias, h._3))))
        else Seq((r.edge.key, edgeSrc(r.alias, r.edge),
          edgeSnk(r.alias, r.edge)))
      val conjs = for {
        (k1, s1, n1) <- slots(r1)
        (k2, s2, n2) <- slots(r2)
        if k1 == k2
      } yield (s1 =!= s2) || (n1 =!= n2)
      conjs.reduceOption(_ && _).getOrElse(lit(true))
    } else
      (edgeSrc(r1.alias, r1.edge) =!= edgeSrc(r2.alias, r2.edge)) ||
        (edgeSnk(r1.alias, r1.edge) =!= edgeSnk(r2.alias, r2.edge))
  }

  /** Path aliases the query reads through nodes()/relationships() —
   *  witness arrays widen every row by full-entity structs per hop, so
   *  they are materialized only for these (a generic product walk over
   *  the whole AST, so WHERE / projections / lambdas / CALL bodies all
   *  count). With `rels`, only those whose relationships it reads:
   *  through relationships(), or carried whole. */
  private def witnessNeeds(x: Any, rels: Boolean = false): Set[String] = {
    val out = scala.collection.mutable.Set[String]()
    def walk(v: Any): Unit = v match {
      case Func(n, args) =>
        if (n == "relationships" || n == "nodes" && !rels)
          args match { case Seq(Ref(a, None)) => out += a; case _ => }
        args.foreach(walk)
      // a bare variable carried through a projection (`WITH p`): if it
      // is a path, its witnesses ARE its identity for the downstream
      // grouping/DISTINCT — collect the name; non-path names filter
      // out later (only pathWitness entries ever materialize)
      case RetItem(Ref(a, None), _) => out += a
      case s: Iterable[_] => s.foreach(walk)
      case p: Product     => p.productIterator.foreach(walk)
      case _ =>
    }
    walk(x)
    out.toSet
  }

  /** Canonical array-element shapes for nodes(p)/relationships(p): per
   *  path var, the union of the witness nodes' (id + property) fields
   *  and the witness rels' entity fields across every resolved branch,
   *  typed from the catalog's backing tables (labels iterated sorted —
   *  deterministic field order). Var-length branches of different
   *  lengths/labels union into ONE element type; a cross-label field
   *  name stored with diverging types cannot, and is rejected. */
  private def pathShapes(resolved: Seq[ResolvedMatch],
      catalog: GraphCatalog, need0: Set[String],
      exclude: Set[String] = Set.empty)
      : Map[String, (Seq[StructField], Seq[StructField])] = {
    // rel-LIST variables (round 15) always need their shape — the
    // array IS the binding, not an accessor read face. `exclude` =
    // vars an enclosing branch union already shaped over ALL branches
    // (a single branch re-deriving one here could see only the
    // zero-length slice).
    val need = (need0 ++ resolved.flatMap(_.relLists) ++
      resolved.flatMap(_.nodeLists)) -- exclude
    if (need.isEmpty) return Map.empty
    val labelsByVar = scala.collection.mutable.Map[String, Set[String]]()
    val edgesByVar  = scala.collection.mutable.Map[String, Set[EdgeDef]]()
    resolved.foreach { m =>
      m.pathWitness.foreach {
        case (a, (wn, wr)) if need(a) =>
          labelsByVar(a) = labelsByVar.getOrElse(a, Set.empty) ++
            wn.map(m.nodeLabels)
          edgesByVar(a) = edgesByVar.getOrElse(a, Set.empty) ++
            wr.map(ra => m.rels.find(_.alias == ra).get.edge)
        case _ =>
      }
    }
    def merge(fss: Seq[Seq[StructField]], what: String): Seq[StructField] = {
      val out = scala.collection.mutable.LinkedHashMap[String, DataType]()
      fss.flatten.foreach { f =>
        out.get(f.name) match {
          case Some(t) if t != f.dataType =>
            throw new CypherNotSupportedException(
              s"nodes()/relationships() over this path mix a $what " +
              s"field '${f.name}' stored as ${t.simpleString} in one " +
              s"$what and ${f.dataType.simpleString} in another — one " +
              "array element type cannot cover both")
          case _ => out(f.name) = f.dataType
        }
      }
      out.iterator.map { case (n, t) => StructField(n, t) }.toSeq
    }
    (labelsByVar.keySet ++ edgesByVar.keySet).iterator.map { a =>
      val nf = merge(labelsByVar.getOrElse(a, Set.empty)
        .toSeq.sorted.map { l =>
          val nd = catalog.graph.node(l)
          val sch = catalog.nodeDf(l).schema
          entityCols(NodeBinding(nd)).map(c => sch(c))
        }, "node label")
      // chain-QPP group variables (round 15): the element is the
      // composite's per-hop STRUCT column, not the composite's own
      // entity columns
      val chainStruct = edgesByVar.getOrElse(a, Set.empty).toSeq
        .sortBy(_.key).iterator
        .flatMap(e => e.hopLists.find(_._1 == a).map { case (_, sc) =>
          catalog.edgeDf(e).schema(sc).dataType })
        .toSeq.headOption
      val rf = chainStruct match {
        case Some(StructType(fs)) => fs.toSeq
        case _ => merge(edgesByVar.getOrElse(a, Set.empty)
          .toSeq.sortBy(_.key).map { e =>
            val sch = catalog.edgeDf(e).schema
            entityCols(EdgeBinding(e)).map(c => sch(c))
          }, "relationship type")
      }
      if (rf.isEmpty && labelsByVar.get(a).forall(_.isEmpty))
        throw new CypherNotSupportedException(
          s"list variable '$a' over a zero-length-only range " +
          "([*0..0]) — the empty list has no element type; widen the " +
          "range or drop the variable")
      a -> (nf, rf)
    }.toMap
  }

  /** Materialize the witness arrays behind nodes(p)/relationships(p)
    * for every path of `m` that has a canonical shape: one
    * array<struct> per accessor, built from the already-joined entity
    * columns — a pure projection. One canonical all-nullable element
    * type so every branch of a union (including zero-length empty
    * arrays) agrees exactly, nullability flags included. */
  private def materializeWitnesses(df0: DataFrame, m: ResolvedMatch,
      shapes: Map[String, (Seq[StructField], Seq[StructField])],
      schema: GraphSchema,
      colName: (String, String) => String = pref): DataFrame = {
    var df = df0
    m.pathWitness.foreach { case (a, (wNodes, wRels)) =>
      shapes.get(a).foreach { case (nf, rf) =>
        def entStruct(fields: Seq[StructField], alias: String,
            have: Set[String]): Column =
          struct(fields.map { f =>
            (if (have(f.name)) col(colName(alias, f.name))
             else lit(null).cast(f.dataType)).as(f.name)
          }: _*)
        def canon(fs: Seq[StructField]): DataType = ArrayType(
          StructType(fs.map(f => StructField(f.name, f.dataType))),
          containsNull = true)
        val relArr =
          (if (wRels.isEmpty) array() // zero-length branch
           else array(wRels.map { ra =>
             val e = m.rels.find(_.alias == ra).get.edge
             // chain-QPP group variables (round 15): the element is
             // the exported per-hop struct column itself
             e.hopLists.find(_._1 == a) match {
               case Some((_, sc)) => col(colName(ra, sc))
               case None =>
                 entStruct(rf, ra, entityCols(EdgeBinding(e)).toSet)
             }
           }: _*)).cast(canon(rf))
        if (m.nodeLists.contains(a)) {
          // group NODE variable (round 15, late): array of the
          // repetitions' endpoint node structs, under the variable's
          // own column name
          val nodeArr =
            (if (wNodes.isEmpty) array() // zero-repetition branch
             else array(wNodes.map { na =>
               val nd = schema.node(m.nodeLabels(na))
               entStruct(nf, na, entityCols(NodeBinding(nd)).toSet)
             }: _*)).cast(canon(nf))
          df = df.withColumn(a, nodeArr)
        } else if (wNodes.isEmpty) {
          // rel-LIST variable (round 15): the array IS the binding —
          // materialize it under the variable's own column name (the
          // value convention), no node face
          df = df.withColumn(a, relArr)
        } else {
          val nodeArr = array(wNodes.map { na =>
            val nd = schema.node(m.nodeLabels(na))
            entStruct(nf, na, entityCols(NodeBinding(nd)).toSet)
          }: _*).cast(canon(nf))
          df = df.withColumn(pref(a, "__nodes"), nodeArr)
            .withColumn(pref(a, "__rels"), relArr)
        }
      }
    }
    df
  }

  /** OPTIONAL-side witness support: a named path's witness node that is
    * an OUTER-bound endpoint has no property columns on the branch
    * frame — but the branch edge carries its id, and node ids are
    * unique, so one inner join of the node table on the edge key
    * reproduces exactly the outer row's values (the boundary condition
    * equates the same ids at the left join). */
  private def joinOuterWitnessFaces(df0: DataFrame, m: ResolvedMatch,
      have: Set[String],
      shapes: Map[String, (Seq[StructField], Seq[StructField])],
      catalog: GraphCatalog): (DataFrame, Set[String]) = {
    val need = m.pathWitness
      .filter { case (a, _) => shapes.contains(a) }
      .values.flatMap(_._1).filterNot(have).toSeq.distinct
    // INTERNAL face-column names: the branch frame later left-joins
    // back to the outer frame, which carries the alias's real
    // `pref(alias, c)` columns — reusing them here would collide
    val joined = need.foldLeft(df0) { (d, oa) =>
      val nd = catalog.graph.node(m.nodeLabels(oa))
      val keyCol = m.rels.collectFirst {
        case r if r.srcNode == oa => pref(r.alias, r.edge.srcIdColumn)
        case r if r.snkNode == oa => pref(r.alias, r.edge.sinkIdColumn)
      }.getOrElse(throw new CypherNotSupportedException(
        s"named-path witness '$oa' in OPTIONAL MATCH is not adjacent " +
        "to any of the clause's relationships"))
      val face = catalog.nodeDf(nd.label).select(
        entityCols(NodeBinding(nd)).map(c2 =>
          col(c2).as(s"__wf_${oa}_$c2")): _*)
      d.join(face, col(s"__wf_${oa}_${nd.idColumn}") === col(keyCol))
    }
    (joined, need.toSet)
  }

  /** Column resolver for [[materializeWitnesses]] over a frame where
    * outer-bound witness aliases carry [[joinOuterWitnessFaces]]'
    * internal names. */
  private def witnessColName(outer: Set[String])
      : (String, String) => String =
    (a, c2) => if (outer(a)) s"__wf_${a}_$c2" else pref(a, c2)

  def compileMatches(
      start: Option[Ctx],
      resolved: Seq[ResolvedMatch],
      catalog: GraphCatalog,
      witnessVars: Set[String] = Set.empty,
      witnessShape: Map[String, (Seq[StructField], Seq[StructField])] =
        Map.empty): Ctx = {
    val schema = catalog.graph
    var df: DataFrame = start.map(_.df).orNull
    var scope: Map[String, Binding] = start.map(_.scope).getOrElse(Map.empty)
    // canonical element shapes for nodes(p)/relationships(p) arrays —
    // supplied by the var-length branch union (one shape across ALL
    // branches), else computed from this clause set alone
    val shapes = witnessShape ++
      pathShapes(resolved, catalog, witnessVars -- witnessShape.keySet,
        exclude = witnessShape.keySet)

    resolved.foreach { m =>
      val newNodes: Seq[(String, Binding)] = m.nodeOrder
        .filterNot(scope.contains)
        .map(a => a -> NodeBinding(schema.node(m.nodeLabels(a))))
      val newRels: Seq[(String, Binding)] =
        m.rels.map(r => r.alias -> EdgeBinding(r.edge))
      val newEntities = newNodes ++ newRels
      val merged = mergeMap(m, newNodes.map(_._1).toSet, schema)
      val conds = m.rels.flatMap(relConds(_, m.nodeLabels, schema, merged))

      if (!m.optional) {
        df = joinEntities(Option(df), scope.keySet,
          groupsByPattern(m, newEntities, merged), conds, catalog)
        scope = scope ++ newEntities
        // named paths (extension): the alias column IS the pattern's
        // relationship count — a literal here, so each var-length
        // branch carries its own length through the union; a
        // shortestPath over an unbounded range reads the Reach rel's
        // min-distance column instead (Analyzer.ResolvedMatch.pathVars)
        m.pathVars.foreach { case (a, len) =>
          df = df.withColumn(a, len match {
            case Left(n)     => lit(n.toLong)
            case Right(dcol) => col(dcol)
          })
          // unbounded-shortestPath witnesses (round 13): the reach
          // edge carries per-pair `__nodes`/`__rels` arrays when the
          // query reads the accessors — expose them under the PATH
          // variable, the accessors' read face
          len match {
            case Right(dcol) =>
              val base = dcol.stripSuffix("__dist")
              Seq("__nodes", "__rels").foreach { w =>
                if (df.columns.contains(base + w))
                  df = df.withColumn(pref(a, w), col(base + w))
              }
            case _ =>
          }
          scope = scope + (a -> PathBinding)
        }
        // nodes(p)/relationships(p) witness arrays (extension; the
        // reference has no paths at all — CypherVisitor.cs:998-1002):
        // one array<struct> per accessor, built from the branch's
        // already-joined entity columns — a pure projection, no extra
        // scan or shuffle. Materialized ONLY for paths the query reads
        // through the accessors (witnessVars), so length-only paths
        // stay one BIGINT column.
        df = materializeWitnesses(df, m, shapes, schema)
        // rel-LIST / group-node variables (round 15): the materialized
        // array column carries the variable's own name — bind as VALUE
        (m.relLists ++ m.nodeLists).foreach(lv =>
          scope = scope + (lv -> ValueBinding))
        m.inequalityPairs.foreach(p => df = df.filter(inequalityCond(p)))
        m.where.foreach { w =>
          val (existsConjs, residual) = splitExistsConjuncts(w)
          existsConjs.foreach { case (part, negated) =>
            df = existsJoin(df, scope, part, negated, catalog)
          }
          residual.foreach { r =>
            if (containsLowerable(r)) {
              // EXISTS / pattern comprehension in a VALUE position
              // (under OR / CASE / size() / …, round 11): lower
              // through the projection-expression machinery — each
              // becomes a correlated comprehension column joined back
              // per outer key — then filter and drop the helper
              // columns; scope unchanged
              val (ctx2, items2) = rewritePatternComps(Ctx(df, scope),
                Seq(RetItem(r, Some("__exw"))), catalog)
              val added = (ctx2.scope.keySet -- scope.keySet).toSeq
              df = ctx2.df
                .filter(new ExprCompiler(ctx2.scope, ctx2.df)
                  .compile(items2.head.expr))
                .drop(added: _*)
            } else
              df = df.filter(new ExprCompiler(scope, df).compile(r))
          }
        }
      } else {
        // OPTIONAL MATCH: build the optional side from the clause's new
        // entities, then LEFT join back with (shared-key conds AND the
        // clause WHERE) as the join condition — the WHERE filters the
        // optional side *before* the left join, which is exactly Cypher's
        // semantics and the reference's plan fork
        // (reference: LogicalPlan.cs:370-408).
        val newSet = newEntities.map(_._1).toSet
        val (innerConds, boundary) =
          conds.partition(c => newSet(c.a) && newSet(c.b))
        val optDf = joinEntities(None, Set.empty,
          groupsByPattern(m, newEntities, merged), innerConds, catalog)
        var optFiltered = m.inequalityPairs
          .filter(p => newSet(p._1.alias) && newSet(p._2.alias))
          .foldLeft(optDf)((d, p) => d.filter(inequalityCond(p)))
        // named paths in OPTIONAL MATCH (round 12 — bounded paths join
        // the unbounded-shortestPath lowering): the alias column (and
        // any witness arrays) ride the OPTIONAL side — so the clause
        // WHERE can read length(p) — and null-fill through the left
        // join, Cypher's null-on-unmatched contract for free
        m.pathVars.foreach { case (a, len) =>
          optFiltered = optFiltered.withColumn(a, len match {
            case Right(dcol) => col(dcol)
            case Left(n)     => lit(n.toLong)
          })
          // unbounded-shortestPath witnesses (round 13): same
          // read-face copy as the non-optional branch — the arrays
          // null-fill through the left join like every optional column
          len match {
            case Right(dcol) =>
              val base = dcol.stripSuffix("__dist")
              Seq("__nodes", "__rels").foreach { w =>
                if (optFiltered.columns.contains(base + w))
                  optFiltered = optFiltered
                    .withColumn(pref(a, w), col(base + w))
              }
            case _ =>
          }
        }
        locally {
          val (withFaces, outerFaces) =
            joinOuterWitnessFaces(optFiltered, m, newSet, shapes, catalog)
          optFiltered = materializeWitnesses(withFaces, m, shapes,
              schema, witnessColName(outerFaces))
            .drop(withFaces.columns.filter(_.startsWith("__wf_")): _*)
        }
        val combinedScope = scope ++ newEntities ++
          m.pathVars.map { case (a, _) => a -> (PathBinding: Binding) } ++
          (m.relLists ++ m.nodeLists).map(lv =>
            lv -> (ValueBinding: Binding))
        // [NOT] EXISTS conjuncts in an OPTIONAL MATCH WHERE (round
        // 11): Cypher's WHERE applies BEFORE the left join. An
        // existential correlating only through the clause's OWN
        // variables lowers as the ordinary semi-/anti-join on the
        // optional frame; one correlating only through OUTER
        // variables is a per-OUTER-row boolean — it value-lowers on
        // the outer frame and rides the join's ON condition (a false
        // row null-fills, never drops the outer row); one straddling
        // both sides has no decomposition and stays typed
        val (optExists, residualW) = m.where.map(splitExistsConjuncts)
          .getOrElse((Seq.empty, None))
        val outerExistsCols = Vector.newBuilder[String]
        var exN = 0
        optExists.foreach { case (ep, negated) =>
          val pa = ep.parts.flatMap(_.nodes.flatMap(_.alias)).toSet
          val ownRefs = pa.filter(newSet)
          val outerRefs = pa.filter(a => scope.contains(a) && !newSet(a))
          if (ownRefs.nonEmpty && outerRefs.nonEmpty)
            throw new CypherNotSupportedException(
              "EXISTS in an OPTIONAL MATCH WHERE correlating with both " +
              s"an outer variable ('${outerRefs.head}') and a clause " +
              s"variable ('${ownRefs.head}') — split it, or make the " +
              "pattern part of the OPTIONAL MATCH itself")
          if (outerRefs.nonEmpty && df != null) {
            // outer-only: boolean column per outer row via the value
            // lowering, consumed by the ON condition, dropped after
            val raw: Expr = if (negated) Not(ep) else ep
            val (ctx2, items2) = rewritePatternComps(Ctx(df, scope),
              Seq(RetItem(raw, Some(s"__oex_$exN"))), catalog)
            val cn = s"__oex_$exN"; exN += 1
            val cmp = new ExprCompiler(ctx2.scope, ctx2.df)
              .compile(items2.head.expr)
            df = ctx2.df.withColumn(cn, cmp)
              .drop((ctx2.scope.keySet -- scope.keySet).toSeq: _*)
            outerExistsCols += cn
          } else {
            val optScope: Map[String, Binding] =
              newEntities.toMap ++
                m.pathVars.map { case (a, _) =>
                  a -> (PathBinding: Binding) } ++
                (m.relLists ++ m.nodeLists).map(lv =>
                  lv -> (ValueBinding: Binding))
            optFiltered = existsJoin(optFiltered, optScope, ep, negated,
              catalog)
          }
        }
        if (df == null)
          // first-clause OPTIONAL MATCH (extension; parity rejects at
          // parse): seed with ONE literal row — the left join then
          // leaves exactly one all-null row when nothing matches,
          // Neo4j's zero-match contract, and the plain rows otherwise
          df = optFiltered.sparkSession.range(1).toDF("__row")
        val probe = df.crossJoin(optFiltered)
        val whereCond = residualW.map(
          new ExprCompiler(combinedScope, probe).compile(_))
        val onCond = (boundary.map(_.cond) ++ whereCond ++
          outerExistsCols.result().map(col))
          .reduceOption(_ && _).getOrElse(lit(true))
        df = df.join(optFiltered, onCond, "left")
          .drop(outerExistsCols.result(): _*)
        scope = combinedScope
      }
    }
    Ctx(df, scope)
  }

  // ----- EXISTS pattern predicates (extension) --------------------------

  /** Does `e` contain a node the projection-expression machinery can
    * lower (an existential or a pattern comprehension)? Round 11: a
    * MATCH WHERE residual containing one routes through
    * [[rewritePatternComps]] instead of rejecting. */
  private def containsLowerable(e: Expr): Boolean =
    containsExistsPat(e) || containsPatternComp(e)

  private def containsPatternComp(e: Expr): Boolean = e match {
    case _: PatternComp => true
    case Bin(_, l, r) =>
      containsPatternComp(l) || containsPatternComp(r)
    case Not(x) => containsPatternComp(x)
    case Neg(x) => containsPatternComp(x)
    case IsNull(x, _) => containsPatternComp(x)
    case Func(_, args) => args.exists(containsPatternComp)
    case Agg(_, _, arg, _) => arg.exists(containsPatternComp)
    case CaseExpr(ws, o) =>
      ws.exists { case (c, v) =>
        containsPatternComp(c) || containsPatternComp(v) } ||
        o.exists(containsPatternComp)
    case ListLit(xs) => xs.exists(containsPatternComp)
    case DotAccess(x, _) => containsPatternComp(x)
    case MapLit(fs) => fs.exists(f => containsPatternComp(f._2))
    case MapProjection(_, fs, _) =>
      fs.exists(f => containsPatternComp(f._2))
    case TypeIs(x, _, _) => containsPatternComp(x)
    case ListComp(_, l, w, m) =>
      containsPatternComp(l) || w.exists(containsPatternComp) ||
        m.exists(containsPatternComp)
    case QuantPred(_, _, l, pr) =>
      containsPatternComp(l) || containsPatternComp(pr)
    case ReduceExpr(_, i, _, l, s) =>
      containsPatternComp(i) || containsPatternComp(l) ||
        containsPatternComp(s)
    case ListIndex(l, f, t, _) =>
      containsPatternComp(l) || f.exists(containsPatternComp) ||
        t.exists(containsPatternComp)
    case _ => false
  }

  private def containsExistsPat(e: Expr): Boolean = e match {
    case _: ExistsPat => true
    case Bin(_, l, r) => containsExistsPat(l) || containsExistsPat(r)
    case Not(x) => containsExistsPat(x)
    case Neg(x) => containsExistsPat(x)
    case IsNull(x, _) => containsExistsPat(x)
    case Func(_, args) => args.exists(containsExistsPat)
    case Agg(_, _, arg, _) => arg.exists(containsExistsPat)
    case CaseExpr(ws, o) =>
      ws.exists { case (c, v) =>
        containsExistsPat(c) || containsExistsPat(v) } ||
        o.exists(containsExistsPat)
    case ListLit(xs) => xs.exists(containsExistsPat)
    case DotAccess(x, _) => containsExistsPat(x)
    case MapLit(fs) => fs.exists(f => containsExistsPat(f._2))
    case MapProjection(_, fs, _) =>
      fs.exists(f => containsExistsPat(f._2))
    case TypeIs(x, _, _) => containsExistsPat(x)
    case ListComp(_, l, w, m) =>
      containsExistsPat(l) || w.exists(containsExistsPat) ||
        m.exists(containsExistsPat)
    case QuantPred(_, _, l, pr) =>
      containsExistsPat(l) || containsExistsPat(pr)
    case ReduceExpr(_, i, _, l, s) =>
      containsExistsPat(i) || containsExistsPat(l) || containsExistsPat(s)
    case ListIndex(l, f, t, _) =>
      containsExistsPat(l) || f.exists(containsExistsPat) ||
        t.exists(containsExistsPat)
    case _ => false
  }

  /** Splits a MATCH WHERE into `[NOT] EXISTS(pattern)` top-level
   *  AND-conjuncts (with their negation parity) and the residual
   *  predicate. EXISTS anywhere deeper — under OR, CASE, a lambda —
   *  stays in the residual: the caller lowers it as a per-row VALUE
   *  through the projection-expression machinery (round 11; the
   *  top-level conjuncts keep the cheaper semi-join form). */
  private def splitExistsConjuncts(w: Expr)
      : (Seq[(ExistsPat, Boolean)], Option[Expr]) = {
    val pats = Vector.newBuilder[(ExistsPat, Boolean)]
    val rest = Vector.newBuilder[Expr]
    def strip(e: Expr, neg: Boolean): Option[(ExistsPat, Boolean)] =
      e match {
        case ep: ExistsPat => Some((ep, neg))
        case Not(inner)    => strip(inner, !neg)
        case _             => None
      }
    def walk(e: Expr): Unit = e match {
      case Bin(BinOp.And, l, r) if containsExistsPat(e) => walk(l); walk(r)
      case other => strip(other, neg = false) match {
        case Some(pe) => pats += pe
        case None     => rest += other
      }
    }
    walk(w)
    (pats.result(), rest.result().reduceOption(Bin(BinOp.And, _, _)))
  }

  /**
   * Lowers `[NOT] EXISTS(pattern)` to a left-semi / left-anti join
   * (extension; the reference rejects EXISTS, §2.6). The pattern
   * compiles as a standalone subplan through the ordinary
   * resolve/scan-merge/join machinery — label inference sees the outer
   * bindings, so `(c)-[:PLACED]->(o)` resolves `o` from c's outer
   * label. Correlation keys are the unique node ids of the aliases
   * shared with the outer scope; the probe side carries ONLY those id
   * columns, so at scale the semi-join shuffles slim keys (or
   * broadcasts) and never widens the outer row. With no shared alias
   * the predicate is the global "any such pattern exists" — a
   * broadcast 1-row probe.
   */
  private def existsJoin(df: DataFrame, scope: Map[String, Binding],
      ex: ExistsPat, negated: Boolean,
      catalog: GraphCatalog): DataFrame = {
    // outer anonymous aliases (`__unnamed_N`) are unreachable from the
    // sub-pattern's surface syntax but would collide with the fresh
    // generator's names — keep them out of inference and correlation
    val outerNamed = scope.filter { case (a, _) => !a.startsWith("__unnamed_") }
    // var-length inside EXISTS (round 7): unbounded rels rewrite to
    // synthetic reach edges first, bounded ones expand into the
    // ordinary branch union — the probe is then the UNION of the
    // branches' key columns, existence being length-agnostic (no
    // per-branch schema agreement needed beyond the shared aliases).
    val clause = Seq(MatchClause(ex.parts, optional = false, where = ex.where))
    // the outer frame's bound aliases can anchor-seed an unbounded
    // reach inside the EXISTS pattern (semi-/anti-join correlation only
    // ever observes pairs whose endpoint ids exist in the outer frame)
    val (clauseH, catH) = HopPred.rewrite(clause, catalog)
    val (msR, catR) =
      Reach.rewrite(clauseH, catH, Some(Ctx(df, outerNamed)))
    // the inner WHERE (and any nested EXISTS in it) rides the ordinary
    // compileMatches path inside the subplan
    def one(ms: Seq[MatchClause], cat: GraphCatalog): (Ctx, Seq[String]) = {
      val resolved = Analyzer.resolvePart(cat.graph, outerNamed, ms)
      val sub = compileMatches(None, resolved, cat)
      val shared =
        resolved.flatMap(_.nodeOrder).distinct.filter(outerNamed.contains)
      (sub, shared)
    }
    val subs: Seq[(Ctx, Seq[String])] =
      if (!VarLength.hasVarLength(msR)) Seq(one(msR, catR))
      else {
        var firstErr: Option[CypherException] = None
        val (expandedB, zeroEdges) = VarLength.expand(msR, catR.graph)
        val catZ = withZeroEdges(catR, zeroEdges)
        val bs = expandedB.flatMap { ms =>
          try Some(one(ms, catZ))
          catch { case e: CypherBindingException =>
            if (firstErr.isEmpty) firstErr = Some(e); None }
        }
        if (bs.isEmpty) throw firstErr.get
        bs
      }
    val joinType = if (negated) "left_anti" else "left_semi"
    if (subs.map(_._2.toSet).distinct.size > 1)
      throw new CypherBindingException(
        "EXISTS variable-length branches disagree on the variables shared " +
        "with the outer scope — annotate the endpoint nodes")
    val shared = subs.head._2
    if (shared.isEmpty) {
      val probe = subs.map(_._1.df.limit(1)
          .select(lit(1).as("__exists_probe")))
        .reduce(_ union _).limit(1)
      df.join(broadcast(probe), lit(true), joinType)
    } else {
      // outer-side key columns are branch-independent; each branch must
      // bind the shared alias to the SAME label as the outer scope
      val outerKeys = shared.map { a =>
        outerNamed(a) match {
          case NodeBinding(n) => pref(a, n.idColumn)
          case _ => throw new CypherBindingException(
            s"EXISTS shares alias '$a' which is not a node variable")
        }
      }
      val probes = subs.map { case (sub, _) =>
        val keys = shared.map { a =>
          (outerNamed(a), sub.scope(a)) match {
            case (NodeBinding(n1), NodeBinding(n2)) if n1.label == n2.label =>
              pref(a, n1.idColumn)
            case (NodeBinding(n1), NodeBinding(n2)) =>
              throw new CypherBindingException(
                s"EXISTS alias '$a' resolves to label ${n2.label} but is " +
                s"bound to ${n1.label} outside")
            case _ => throw new CypherBindingException(
              s"EXISTS shares alias '$a' which is not a node variable")
          }
        }
        sub.df.select(keys.zipWithIndex.map {
          case (k, i) => col(k).as(s"__exists_k$i") }: _*)
      }
      val probe = probes.reduce(_ union _)
      val cond = outerKeys.zipWithIndex.map { case (k, i) =>
        col(k) === col(s"__exists_k$i") }.reduce(_ && _)
      df.join(probe, cond, joinType)
    }
  }

  /** New entities in pattern order grouped into scans: nodes and rels
   *  interleaved as they appear (the greedy join walks each chain
   *  linearly), with same-table endpoint nodes folded into their
   *  relationship's scan group (rel listed first — it owns the table). */
  private def groupsByPattern(m: ResolvedMatch,
      newEntities: Seq[(String, Binding)],
      merged: Map[String, String]): Seq[ScanGroup] = {
    val byAlias = newEntities.toMap
    // interleave: after each rel's src node, place the rel itself
    val order = scala.collection.mutable.LinkedHashSet[String]()
    m.nodeOrder.foreach { n =>
      order += n
      m.rels.filter(r => r.srcNode == n || r.snkNode == n)
        .foreach(r => order += r.alias)
    }
    m.rels.foreach(r => order += r.alias)
    val present = order.toSeq.filter(byAlias.contains)
    // owner of an alias: its rel for merged nodes, itself otherwise
    def owner(a: String): String = merged.getOrElse(a, a)
    val ownersInOrder = scala.collection.mutable.LinkedHashSet[String]()
    present.foreach(a => ownersInOrder += owner(a))
    ownersInOrder.toSeq.map { o =>
      val members = (o +: present.filter(a => a != o && owner(a) == o))
        .map(a => a -> byAlias(a))
      ScanGroup(members)
    }
  }

  // ----- projection / WITH / RETURN -------------------------------------

  private[cypher] def containsAgg(e: Expr): Boolean = e match {
    case _: Agg => true
    case Bin(_, l, r) => containsAgg(l) || containsAgg(r)
    case Not(x) => containsAgg(x)
    case Neg(x) => containsAgg(x)
    case IsNull(x, _) => containsAgg(x)
    case Func(_, args) => args.exists(containsAgg)
    case CaseExpr(ws, o) =>
      ws.exists { case (c, v) => containsAgg(c) || containsAgg(v) } ||
        o.exists(containsAgg)
    case ListLit(items) => items.exists(containsAgg)
    case DotAccess(x, _) => containsAgg(x)
    case MapLit(fs) => fs.exists(f => containsAgg(f._2))
    case MapProjection(_, fs, _) => fs.exists(f => containsAgg(f._2))
    case TypeIs(x, _, _) => containsAgg(x)
    // lambda BODIES can't aggregate (no rows in scope there — the parser
    // rejects nested aggregates anyway), but the list operand can be an
    // aggregate: `[y IN collect(x) | …]` must be seen as an agg item
    case ListComp(_, l, w, m) =>
      containsAgg(l) || w.exists(containsAgg) || m.exists(containsAgg)
    case QuantPred(_, _, l, pr) => containsAgg(l) || containsAgg(pr)
    case ReduceExpr(_, i, _, l, s) =>
      containsAgg(i) || containsAgg(l) || containsAgg(s)
    case ListIndex(l, f, t, _) =>
      containsAgg(l) || f.exists(containsAgg) || t.exists(containsAgg)
    case _ => false
  }

  private def outName(it: RetItem): String = {
    val n = it.alias.getOrElse(it.expr match {
      case Ref(a, None) => a
      case Ref(_, Some(p)) => p
      case _ => throw new CypherSyntaxException(
        "computed projection item requires an AS alias")
    })
    // the `__` prefix is the engine's internal column namespace
    // (`__{alias}_{prop}`, `__item_N`, `__key_N` …) — an explicit AS
    // alias there would collide with generated columns mid-pipeline
    // (pattern aliases are checked at binding, Analyzer.checkUserAlias)
    if (it.alias.isDefined && n.startsWith("__"))
      throw new CypherNotSupportedException(
        s"alias '$n' — names starting with __ are reserved")
    n
  }

  /** `WITH *` / `RETURN *` (extension): expand the star to every named
   *  in-scope variable, alphabetically, ahead of the explicit items;
   *  an explicit item with the same output name shadows its expansion
   *  (`WITH *, n AS n2` keeps both, `WITH *, x + 1 AS x` replaces x).
   *  Entities expand as entity refs — legal in WITH, and RETURN keeps
   *  the ordinary whole-entity rejection. */
  private def expandStar(ctx: Ctx, proj: Projection): Projection = {
    if (!proj.star) proj
    else {
      val explicitNames = proj.items.flatMap(it =>
        it.alias.orElse(it.expr match {
          case Ref(a, None)    => Some(a)
          case Ref(_, Some(p)) => Some(p)
          case _               => None
        })).toSet
      val starItems = ctx.scope.keys.toSeq
        .filterNot(_.startsWith("__"))
        .filterNot(explicitNames.contains)
        .filterNot(a => ctx.scope(a) == PathBinding) // not projectable
        .sorted
        .map(a => RetItem(Ref(a, None), None))
      if (starItems.isEmpty && proj.items.isEmpty)
        throw new CypherBindingException(
          "RETURN/WITH * with no named variables in scope")
      proj.copy(items = starItems ++ proj.items, star = false)
    }
  }

  /**
   * Pattern comprehensions in projection items (extension): each
   * `[pattern [WHERE w] | proj]` compiles to its own subplan, grouped
   * on the correlation keys (the node ids shared with the outer scope)
   * with `collect_list(proj)`, then LEFT-joined back — one aggregated
   * slim row per outer key, so the outer row count is preserved and
   * the join input is (keys, list) only. No match ⇒ empty list (the
   * coalesce), matching Cypher. The comprehension node is then
   * replaced by a `Ref` to the joined column, so everything downstream
   * (size(), indexing, aggregates over it, the implicit GROUP BY) sees
   * an ordinary list-typed column with a real schema type.
   */
  private def rewritePatternComps(ctx: Ctx, items: Seq[RetItem],
      catalog: GraphCatalog): (Ctx, Seq[RetItem]) = {
    var df = ctx.df
    var scope = ctx.scope
    var n = 0
    def lower(pc: PatternComp): Expr = {
      // bounded var-length inside a comprehension / COUNT{} /
      // COLLECT{} (round 13): the pattern expands into one fixed
      // chain per length (the ordinary VarLength branch union, with
      // hop predicates / QPP groups pre-lowered to filtered synthetic
      // verbs), each branch compiles to a slim (keys, value) frame,
      // and the branches UNION ALL before the one collect aggregation
      // — the same plan shape a top-level bounded var-length gets
      pc.parts.flatMap(_.rels).foreach(_.varLength.foreach { case (lo, hi) =>
        // round 17: UNBOUNDED ranges are lifted — Reach.rewrite below
        // lowers them to synthetic reach edges (the documented
        // reachable-pair contract, the EXISTS posture), [*0..]
        // included (identity rows ride the reach frame). Bounded
        // zero-length keeps its rejection: [*0..hi]'s identity-branch
        // unrolling has no per-branch lowering here.
        if (lo == 0 && hi != Parser.Unbounded)
          throw new CypherNotSupportedException(
            "zero-length variable-length inside a pattern " +
            "comprehension — [*0..hi] has no per-branch lowering " +
            "here; use [*1..hi]")
      })
      val outerNamed = ctx.scope.filter {
        case (a, _) => !a.startsWith("__unnamed_") }
      val clause0 =
        MatchClause(pc.parts, optional = false, where = pc.where)
      // unbounded rels lower to reach edges FIRST (round 17) — the
      // outer frame can anchor-seed a reach endpoint it binds
      val (clausesH, cat2a) = HopPred.rewrite(Seq(clause0), catalog)
      val (clausesR, cat2) = Reach.rewrite(clausesH, cat2a,
        Some(Ctx(ctx.df, outerNamed)))
      val (branches, _) = VarLength.expand(clausesR, cat2.graph)
      val resolvedAll = branches.map(b =>
        Analyzer.resolvePart(cat2.graph, outerNamed, b))
      val shared = resolvedAll.head.flatMap(_.nodeOrder).distinct
        .filter(outerNamed.contains)
      val tmp = s"__pc_$n"; n += 1
      if (shared.isEmpty)
        throw new CypherNotSupportedException(
          "pattern comprehension must share at least one node variable " +
          "with the outer scope (an uncorrelated one collects the " +
          "whole match set per row)")
      // a shared alias in nodeOrder is a node in the branch; the
      // OUTER binding must be a node too
      val keys = shared.map { a =>
        outerNamed(a) match {
          case NodeBinding(n1) => pref(a, n1.idColumn)
          case _ => throw new CypherBindingException(
            s"pattern comprehension shares alias '$a' which is not a " +
            "node variable")
        }
      }
      // one slim frame per branch: correlation keys (+ sort columns
      // when ordering) + the projected value, then UNION ALL
      def branchFrame(rs: Seq[Analyzer.ResolvedMatch]): DataFrame = {
        val sub = compileMatches(None, rs, cat2)
        val ec2 = new ExprCompiler(sub.scope, sub.df)
        val sortTmp =
          if (pc.distinct) Seq.empty
          else pc.ordering.zipWithIndex.map { case (s, si) =>
            ec2.compile(s.expr).as(s"__pcs_$si") }
        sub.df.select((keys.map(col) ++ sortTmp) :+
          ec2.compile(pc.proj).as("__pcv"): _*)
      }
      val unioned = resolvedAll.map(branchFrame).reduce(_ unionByName _)
      // COLLECT { … RETURN [DISTINCT] x [ORDER BY …] [SKIP/LIMIT] }
      // (round 13): DISTINCT dedups (key, value) rows BEFORE ordering
      // (the parser pins ORDER BY to the RETURN expression there);
      // ordering/paging lower to a row_number over the correlation
      // keys plus a rank filter — Spark plans the filter as
      // WindowGroupLimit, so each key keeps only its top rows BEFORE
      // the shuffle — then the collect carries (rank, value) pairs and
      // an in-row sort_array puts the list in rank order (collect_list
      // order is not deterministic on its own).
      val grouped =
        if (pc.ordering.isEmpty && !pc.distinct)
          unioned
            .groupBy(keys.map(k => col(k).as(s"__pck_$k")): _*)
            .agg(collect_list(col("__pcv")).as(tmp))
        else {
          var s2 =
            if (pc.distinct)
              // dedup on (keys, value); ordering re-reads the value
              unioned.distinct()
            else unioned
          if (pc.ordering.nonEmpty) {
            val sortCols = pc.ordering.zipWithIndex.map { case (s, i) =>
              val c0 = if (pc.distinct) col("__pcv") else col(s"__pcs_$i")
              if (s.desc) c0.desc else c0.asc
            }
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(keys.map(col): _*).orderBy(sortCols: _*)
            s2 = s2.withColumn("__pcrk", row_number().over(w))
            val lo = pc.skip.getOrElse(0L)
            pc.limit.foreach(k2 =>
              s2 = s2.where(col("__pcrk") <= lit(lo + k2)))
            if (lo > 0) s2 = s2.where(col("__pcrk") > lit(lo))
            s2.groupBy(keys.map(k => col(k).as(s"__pck_$k")): _*)
              .agg(transform(
                sort_array(collect_list(struct(col("__pcrk"),
                  col("__pcv")))),
                x => x.getField("__pcv")).as(tmp))
          } else // DISTINCT, unordered: in-row dedup after the collect
            s2.groupBy(keys.map(k => col(k).as(s"__pck_$k")): _*)
              .agg(array_distinct(collect_list(col("__pcv"))).as(tmp))
        }
      val elemT = grouped.schema(tmp).dataType
      val cond = keys.map(k => col(k) === col(s"__pck_$k")).reduce(_ && _)
      df = df.join(grouped, cond, "left")
        .withColumn(tmp, coalesce(col(tmp), array().cast(elemT)))
        .drop(keys.map(k => s"__pck_$k"): _*)
      scope = scope + (tmp -> ValueBinding)
      Ref(tmp, None)
    }
    def rewrite(e: Expr): Expr = e match {
      case pc: PatternComp => lower(pc)
      // EXISTS { pattern } as a projection-item EXPRESSION (openCypher
      // allows boolean-valued existential subqueries anywhere):
      // desugared to size(1-per-match comprehension) > 0 — the WHERE
      // position keeps its semi-join lowering, this covers RETURN/WITH
      case ExistsPat(parts2, w) =>
        // multi-pattern form included (round 13): the comprehension
        // machinery takes the conjunction like a multi-pattern MATCH
        Bin(BinOp.Gt,
          Func("size", Seq(lower(PatternComp(parts2, w, Lit(1L))))), Lit(0L))
      case Bin(op, l, r) => Bin(op, rewrite(l), rewrite(r))
      case Not(x) => Not(rewrite(x))
      case Neg(x) => Neg(rewrite(x))
      case IsNull(x, nn) => IsNull(rewrite(x), nn)
      case Func(nm, args) => Func(nm, args.map(rewrite))
      case a: Agg => a.copy(arg = a.arg.map(rewrite))
      case CaseExpr(ws, o) =>
        CaseExpr(ws.map { case (c, v) => (rewrite(c), rewrite(v)) },
          o.map(rewrite))
      case ListLit(xs) => ListLit(xs.map(rewrite))
      case DotAccess(x, k) => DotAccess(rewrite(x), k)
      case MapLit(fs) => MapLit(fs.map { case (k, v) => (k, rewrite(v)) })
      case MapProjection(a, fs, st) =>
        MapProjection(a, fs.map { case (k, v) => (k, rewrite(v)) }, st)
      case TypeIs(x, ng, tn) => TypeIs(rewrite(x), ng, tn)
      case ListComp(v, l, w, m) =>
        ListComp(v, rewrite(l), w.map(rewrite), m.map(rewrite))
      case QuantPred(k, v, l, pr) => QuantPred(k, v, rewrite(l), rewrite(pr))
      case ReduceExpr(a, i, v, l, s) =>
        ReduceExpr(a, rewrite(i), v, rewrite(l), rewrite(s))
      case ListIndex(l, f, t, s) =>
        ListIndex(rewrite(l), f.map(rewrite), t.map(rewrite), s)
      case other => other
    }
    val out = items.map(it => it.copy(expr = rewrite(it.expr)))
    (Ctx(df, scope), out)
  }

  /** Compile one WITH/RETURN projection. Aggregation is implicit grouping
   *  by all non-aggregate output items, including every column of a
   *  projected entity (the entity id functionally determines them; the
   *  reference groups by the surrogate keys — SQLRenderer.cs:956-965). */
  def compileProjection(ctx: Ctx, projIn: Projection, isReturn: Boolean,
      catalog: GraphCatalog): Ctx = {
    val proj0 = expandStar(ctx, projIn)
    val (ctx1, items1) = rewritePatternComps(ctx, proj0.items, catalog)
    val proj = proj0.copy(items = items1)
    compileProjectionResolved(ctx1, proj, isReturn)
  }

  private def compileProjectionResolved(
      ctx: Ctx, proj: Projection, isReturn: Boolean): Ctx = {
    // LET binds NEW names (round 14; Cypher 2025) — redefining an
    // in-scope variable is a typed rejection, not WITH's masking
    if (proj.fromLet) proj.items.foreach(_.alias.foreach { a =>
      if (ctx.scope.contains(a))
        throw new CypherBindingException(
          s"LET may not redefine '$a' — LET binds new variables; " +
          "use WITH to shadow")
    })
    // `last(xs)` is ambiguous: the reference's last() AGGREGATE (→ max,
    // SQLRenderer.cs:98-99) vs openCypher's last-element list accessor.
    // Resolve by static type BEFORE aggregate detection — a list-typed
    // argument makes it the accessor (extension), anything else keeps
    // aggregate parity. Must happen here: if the Agg node survived,
    // the projection would wrongly become an implicit GROUP BY.
    val typeEc = new ExprCompiler(ctx.scope, ctx.df)
    def delist(e: Expr): Expr = e match {
      case a: Agg if a.name == "last" && !a.distinct && a.arg.exists(x =>
          typeEc.staticType(delist(x)).exists(_.isInstanceOf[ArrayType])) =>
        Func("last", Seq(delist(a.arg.get)))
      case a: Agg => a.copy(arg = a.arg.map(delist))
      case Bin(op, l, r) => Bin(op, delist(l), delist(r))
      case Not(x) => Not(delist(x))
      case Neg(x) => Neg(delist(x))
      case IsNull(x, n) => IsNull(delist(x), n)
      case Func(n, args) => Func(n, args.map(delist))
      case CaseExpr(ws, o) =>
        CaseExpr(ws.map { case (c, v) => (delist(c), delist(v)) }, o.map(delist))
      case ListLit(xs) => ListLit(xs.map(delist))
      case DotAccess(x, k) => DotAccess(delist(x), k)
      case MapLit(fs) => MapLit(fs.map { case (k, v) => (k, delist(v)) })
      case MapProjection(a, fs, st) =>
        MapProjection(a, fs.map { case (k, v) => (k, delist(v)) }, st)
      case TypeIs(x, ng, tn) => TypeIs(delist(x), ng, tn)
      case ListComp(v, l, w, m) =>
        ListComp(v, delist(l), w.map(delist), m.map(delist))
      case QuantPred(k, v, l, pr) => QuantPred(k, v, delist(l), delist(pr))
      case ReduceExpr(a, i, v, l, s) =>
        ReduceExpr(a, delist(i), v, delist(l), delist(s))
      case ListIndex(l, f, t, s) =>
        ListIndex(delist(l), f.map(delist), t.map(delist), s)
      case other => other
    }
    val items = proj.items.map(it => it.copy(expr = delist(it.expr)))
    val names = items.map(outName)

    sealed trait ItemKind
    final case class EntityItem(srcAlias: String, b: Binding) extends ItemKind
    final case class PathItem(alias: String) extends ItemKind
    final case class ValueItem(expr: Expr, agg: Boolean) extends ItemKind

    val kinds: Seq[ItemKind] = items.map { it =>
      it.expr match {
        case Ref(a, None) => ctx.scope.get(a) match {
          case Some(b @ (NodeBinding(_) | EdgeBinding(_))) =>
            if (isReturn) throw new CypherNotSupportedException(
              "returning a whole node/relationship — project its properties")
            EntityItem(a, b)
          case Some(ValueBinding) => ValueItem(it.expr, agg = false)
          case Some(PathBinding) =>
            // WITH p (round 12): the path's length column and witness
            // arrays thread through the projection under the SAME name
            // (renames would desync the alias-IS-the-length-column
            // convention — typed); RETURN p keeps the entity-style
            // rejection
            if (isReturn) throw new CypherNotSupportedException(
              "returning a whole path — project length(" + a +
              "), nodes(" + a + ") or relationships(" + a + ")")
            if (it.alias.exists(_ != a))
              throw new CypherNotSupportedException(
                s"renaming a path variable (WITH $a AS …) — carry it " +
                "under its own name")
            PathItem(a)
          case None => throw new CypherBindingException(s"unknown variable '$a'")
        }
        case e => ValueItem(e, containsAgg(e))
      }
    }
    /** Physical columns a carried path owns: the alias (its length)
      * plus any materialized witness arrays. */
    def pathCols(a: String): Seq[String] =
      a +: Seq(pref(a, "__nodes"), pref(a, "__rels"))
        .filter(ctx.df.columns.contains)
    val hasAgg = kinds.exists { case ValueItem(_, true) => true; case _ => false }

    val ec = new ExprCompiler(ctx.scope, ctx.df)

    // ORDER BY over an aggregating/DISTINCT projection (extension;
    // Neo4j semantics): a sort expression STRUCTURALLY EQUAL to a
    // projected item sorts by that output column (so `ORDER BY
    // count(*)` works when count(*) is projected under an alias); an
    // aggregate NOT in the projection becomes a hidden aggregate
    // column computed in the SAME aggregation pass and dropped after
    // the sort — no second shuffle.
    def substProjected(e: Expr): Expr = {
      val i = items.indexWhere(_.expr == e)
      if (i >= 0 && (kinds(i) match {
            case _: ValueItem => true; case _ => false }))
        Ref(names(i), None)
      else e match {
        case Bin(op, l, r) => Bin(op, substProjected(l), substProjected(r))
        case Not(x) => Not(substProjected(x))
        case Neg(x) => Neg(substProjected(x))
        case IsNull(x, n) => IsNull(substProjected(x), n)
        case Func(n, args) => Func(n, args.map(substProjected))
        case CaseExpr(ws, o) => CaseExpr(ws.map { case (c, v) =>
          (substProjected(c), substProjected(v)) }, o.map(substProjected))
        case other => other
      }
    }

    def newScope: Map[String, Binding] =
      kinds.zip(names).map {
        case (EntityItem(_, b), n) => n -> b
        case (_: PathItem, n)      => n -> PathBinding
        case (_: ValueItem, n)     => n -> ValueBinding
      }.toMap

    def entitySelect(srcAlias: String, outAlias: String, b: Binding): Seq[Column] =
      entityCols(b).map(c => col(pref(srcAlias, c)).as(pref(outAlias, c)))

    if (!hasAgg && !proj.distinct) {
      // an aggregate in the sort/filter has no aggregation pass to
      // ride when the projection itself does not aggregate — typed
      // here instead of Spark's late analysis error
      if (proj.orderBy.exists(s => containsAgg(s.expr)) ||
          proj.where.exists(containsAgg))
        throw new CypherNotSupportedException(
          "ORDER BY/WHERE with an aggregate needs an aggregating " +
          "projection — project an aggregate alongside it")
      // Non-distinct, non-aggregating: ORDER BY / LIMIT / WHERE ride before
      // the final trim so they may reference unprojected fields of
      // still-visible entities (reference: LogicalPlan.cs:216-288).
      val tmpNames = items.indices.map(i => s"__item_$i")
      val valueCols = kinds.zipWithIndex.collect {
        case (ValueItem(e, _), i) => ec.compile(e).as(tmpNames(i))
      }
      var aug = ctx.df.select((ctx.df.columns.map(col) ++ valueCols).toIndexedSeq: _*)
      // ORDER BY/LIMIT/WHERE here see the NEW aliases (incl. renamed
      // entities, `WITH n AS m`) while reading the OLD physical columns
      // (reference: LogicalPlan.cs:216-288).
      val entityRenames = kinds.zipWithIndex.collect {
        case (EntityItem(a, b), i) if names(i) != a => (names(i), a, b)
      }
      // value items enter the scope as ValueBindings so ORDER BY/WHERE
      // can dot-access struct-typed outputs (`WITH n {.p} AS m WHERE
      // m.p …`, map literals, properties()) — aliasToTmp points them at
      // the widened tmp columns (round 13; was: unknown-variable)
      val sortScope = ctx.scope ++
        entityRenames.map { case (n, _, b) => n -> (b: Binding) } ++
        kinds.zipWithIndex.collect {
          case (_: ValueItem, i) => names(i) -> (ValueBinding: Binding) }
      val entitySrc = entityRenames.map { case (n, a, _) => n -> a }.toMap
      val aliasToTmp = kinds.zipWithIndex.collect {
        case (_: ValueItem, i) => names(i) -> tmpNames(i)
      }.toMap
      val sortEc = new ExprCompiler(sortScope, aug, aliasToTmp, entitySrc)
      if (proj.orderBy.nonEmpty)
        aug = aug.orderBy(proj.orderBy.map(s =>
          sortCol(sortEc.compile(s.expr), s)): _*)
      // SKIP (extension) rides between ORDER BY and LIMIT — Spark's
      // Limit(n, Offset(s, Sort(...))) plan pages without a global
      // re-sort per page
      proj.skip.foreach(n => aug = aug.offset(n.toInt))
      proj.limit.foreach(n => aug = aug.limit(n.toInt))
      proj.where.foreach(w => aug = aug.filter(
        new ExprCompiler(sortScope, aug, aliasToTmp, entitySrc).compile(w)))
      val outCols = kinds.zipWithIndex.flatMap {
        case (EntityItem(a, b), i) => entitySelect(a, names(i), b)
        case (PathItem(a), _) => pathCols(a).map(col)
        case (_: ValueItem, i) => Seq(col(tmpNames(i)).as(names(i)))
      }
      Ctx(aug.select(outCols: _*), newScope)
    } else {
      // ORDER BY / WHERE rewrite over the aggregated/DISTINCT output:
      // substProjected first (structural hits read the output column),
      // then any aggregate STILL present becomes a hidden aggregate
      // column computed in the SAME aggregation pass and dropped after
      // the sort/filter — `ORDER BY count(*)` works spelled out,
      // projected or not, with no second shuffle.
      val hidden =
        scala.collection.mutable.LinkedHashMap.empty[Expr, String]
      def hide(e: Expr): Expr = e match {
        case a: Agg =>
          Ref(hidden.getOrElseUpdate(a, s"__hidagg_${hidden.size}"), None)
        case Bin(op, l, r) => Bin(op, hide(l), hide(r))
        case Not(x) => Not(hide(x))
        case Neg(x) => Neg(hide(x))
        case IsNull(x, nn) => IsNull(hide(x), nn)
        case Func(n2, args) => Func(n2, args.map(hide))
        case CaseExpr(ws, o) => CaseExpr(ws.map { case (c, v) =>
          (hide(c), hide(v)) }, o.map(hide))
        case DotAccess(x, k) => DotAccess(hide(x), k)
        case other => other
      }
      val sortSubbed = proj.orderBy.map(s =>
        s.copy(expr = hide(substProjected(s.expr))))
      val whereSubbed = proj.where.map(w => hide(substProjected(w)))
      if (hidden.nonEmpty && !hasAgg)
        throw new CypherNotSupportedException(
          "ORDER BY/WHERE with an aggregate over a DISTINCT " +
          "projection — project the aggregate first")
      var out: DataFrame =
        if (hasAgg) {
          // group by all non-aggregate items (entity items contribute all
          // their columns); aggregate items may mix scalars around the
          // aggregate calls — Spark resolves them against the grouping.
          val keyTmp = kinds.zipWithIndex.collect {
            case (ValueItem(e, false), i) => ec.compile(e).as(s"__key_$i")
          }
          val aug = ctx.df.select((ctx.df.columns.map(col) ++ keyTmp).toIndexedSeq: _*)
          val keyNames: Seq[String] = kinds.zipWithIndex.flatMap {
            case (EntityItem(a, b), _) => entityCols(b).map(pref(a, _))
            case (PathItem(a), _) => pathCols(a)
            case (ValueItem(_, false), i) => Seq(s"__key_$i")
            case _ => Seq.empty
          }
          val aggCols = kinds.zipWithIndex.collect {
            case (ValueItem(e, true), i) => ec.compile(e).as(s"__agg_$i")
          } ++ hidden.map { case (e, n2) => ec.compile(e).as(n2) }
          val grouped =
            if (keyNames.isEmpty) ctx.df.agg(aggCols.head, aggCols.tail: _*)
            else aug.groupBy(keyNames.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
          val outCols = kinds.zipWithIndex.flatMap {
            case (EntityItem(a, b), i) => entitySelect(a, names(i), b)
            case (PathItem(a), _) => pathCols(a).map(col)
            case (ValueItem(_, false), i) => Seq(col(s"__key_$i").as(names(i)))
            case (ValueItem(_, true), i) => Seq(col(s"__agg_$i").as(names(i)))
          } ++ hidden.values.map(col)
          grouped.select(outCols: _*)
        } else {
          val outCols = kinds.zipWithIndex.flatMap {
            case (EntityItem(a, b), i) => entitySelect(a, names(i), b)
            case (PathItem(a), _) => pathCols(a).map(col)
            case (ValueItem(e, _), i) => Seq(ec.compile(e).as(names(i)))
          }
          ctx.df.select(outCols: _*)
        }
      if (proj.distinct) out = out.distinct()
      // with DISTINCT or aggregation only explicit projections are
      // referencable afterwards (reference: LogicalPlan.cs:216-235) —
      // plus the hidden aggregate columns, visible to the sort only
      val ns = newScope
      val sortNs = ns ++ hidden.values.map(_ -> (ValueBinding: Binding))
      val postEc = new ExprCompiler(sortNs, out)
      if (sortSubbed.nonEmpty)
        out = out.orderBy(sortSubbed.map(s =>
          sortCol(postEc.compile(s.expr), s)): _*)
      proj.skip.foreach(n => out = out.offset(n.toInt))
      proj.limit.foreach(n => out = out.limit(n.toInt))
      whereSubbed.foreach(w =>
        out = out.filter(new ExprCompiler(sortNs, out).compile(w)))
      if (hidden.nonEmpty) out = out.drop(hidden.values.toSeq: _*)
      Ctx(out, ns)
    }
  }

  // ----- whole query -----------------------------------------------------

  def compile(q: Query, catalog: GraphCatalog): DataFrame = q match {
    case UnionQuery(l, r, all) =>
      val lf = compile(l, catalog)
      val rf = compile(r, catalog)
      if (lf.columns.toSeq != rf.columns.toSeq)
        throw new CypherBindingException(
          s"UNION column mismatch: ${lf.columns.mkString(",")} vs " +
          rf.columns.mkString(","))
      checkUnionTypes(lf, rf)
      val u = lf.union(rf)
      if (all) u else u.distinct()
    case sq: SingleQuery =>
      compileSingle(sq, Map.empty, terminalIsReturn = true, catalog).df
    case updating => compileUpdating(updating, catalog, None, Set.empty)
  }

  /** UNION branch type compatibility: name parity alone would let
   *  Spark's positional coercion silently unify e.g. a string branch
   *  with a numeric branch — require compatible types like the
   *  reference's type system would. A NullType branch (RETURN null)
   *  unifies with anything, and temporals unify among themselves
   *  (date widens to timestamp). */
  private def checkUnionTypes(lf: DataFrame, rf: DataFrame): Unit =
    lf.schema.fields.zip(rf.schema.fields).foreach { case (a, b) =>
      def temporal(t: DataType): Boolean = t match {
        case DateType | TimestampType | TimestampNTZType => true
        case _ => false
      }
      val ok = a.dataType == b.dataType ||
        a.dataType == NullType || b.dataType == NullType ||
        (a.dataType.isInstanceOf[NumericType] &&
          b.dataType.isInstanceOf[NumericType]) ||
        (temporal(a.dataType) && temporal(b.dataType))
      if (!ok) throw new CypherBindingException(
        s"UNION column '${a.name}' type mismatch: " +
        s"${a.dataType.simpleString} vs ${b.dataType.simpleString}")
    }

  /** Updating-query dispatch. `initial` seeds the clause's parts with
    * the previous updating clause's read-back frame (multi-updating
    * chains, round 12); `updated` carries the backing tables earlier
    * clauses in this query already target — one snapshot per entity,
    * re-targeting is a typed rejection. */
  private def compileUpdating(q: Query, catalog: GraphCatalog,
      initial: Option[Ctx], updated: Set[String]): DataFrame = q match {
    case MergeQuery(parts, m) =>
      compileMerge(parts, m, catalog, initial = initial, updated = updated)
    case MergeReturnQuery(parts, m, ret) =>
      compileMerge(parts, m, catalog, Some(ret), initial = initial,
        updated = updated)
    case MergeChainQuery(parts, m, rest) =>
      compileMerge(parts, m, catalog, chain = Some(rest),
        initial = initial, updated = updated)
    case MergeRelChainQuery(parts, mr, rest) =>
      compileMergeRel(parts, mr, catalog, None, chain = Some(rest),
        initial = initial, updated = updated)
    case CreateChainQuery(parts, c, rest) =>
      compileCreate(parts, c, catalog, None, chain = Some(rest),
        initial = initial, updated = updated)
    case CreateRelChainQuery(parts, cr, rest) =>
      compileCreateRel(parts, cr, catalog, None, chain = Some(rest),
        initial = initial, updated = updated)
    case DeleteChainQuery(parts, d, rest) =>
      compileDelete(parts, d, catalog, None, chain = Some(rest),
        initial = initial, updated = updated)
    case SetQuery(parts, s) =>
      compileSet(parts, s, catalog, initial, updated)
    case SetReturnQuery(parts, s, ret) =>
      compileSetReturn(parts, s, ret, catalog, initial, updated)
    case SetChainQuery(parts, s, rest) =>
      compileSetChain(parts, s, rest, catalog, initial, updated)
    case DeleteQuery(parts, d) =>
      compileDelete(parts, d, catalog, initial = initial,
        updated = updated)
    case DeleteReturnQuery(parts, d, ret) =>
      compileDelete(parts, d, catalog, Some(ret), initial = initial,
        updated = updated)
    case CreateQuery(parts, cr) =>
      compileCreate(parts, cr, catalog, initial = initial,
        updated = updated)
    case CreateReturnQuery(parts, cr, ret) =>
      compileCreate(parts, cr, catalog, Some(ret), initial = initial,
        updated = updated)
    case CreateRelQuery(parts, cr, ret) =>
      compileCreateRel(parts, cr, catalog, ret, initial = initial,
        updated = updated)
    case MergeRelQuery(parts, mr, ret) =>
      compileMergeRel(parts, mr, catalog, ret, initial = initial,
        updated = updated)
    case other => throw new IllegalStateException(
      s"internal: non-updating query in compileUpdating: $other")
  }

  /** One snapshot per entity: a later updating clause may not target a
    * backing table an earlier clause in the same query already did —
    * the earlier clause's effect lives only in the carried read-back
    * frame, so a second snapshot of the same table would silently read
    * the ORIGINAL store. */
  private def guardTarget(table: String, updated: Set[String],
      kind: String): Unit =
    if (updated(table))
      throw new CypherNotSupportedException(
        s"$kind targets '$table', which an earlier updating clause in " +
        "this query already targets — one snapshot per entity; split " +
        "the pipeline into two queries")

  /** Compiles one SingleQuery. `inherited` seeds the first part's scope
   *  (CALL subqueries inherit their imported node bindings — fresh
   *  scans bind the aliases, correlation happens at the join-back);
   *  `terminalIsReturn = false` compiles the last projection like a
   *  WITH, keeping entity namespaces visible for the CALL join-back. */
  /**
   * Terminal `MERGE` (extension; the reference is read-only —
   * CypherVisitor.cs:486-489 — and parity mode keeps the rejection):
   * produce a NEW SNAPSHOT of the target node's table from the
   * incoming frame, [[graft.ops.ChangeData.applyChangeFeed]]'s shape
   * in three relational branches:
   *
   *  1. the feed — the preceding parts' rows with the compiled id-key
   *     expression — reduces to ONE deterministic winner per key (a
   *     single partial-aggregated `max(struct(row))`, the
   *     applyChangeFeed tie rule; null keys drop — no identity, no
   *     merge); requires orderable feed columns, the same contract;
   *  2. matched keys inner-join the snapshot (namespaced, so ON MATCH
   *     rhs can read the OLD `n` values alongside the feed row) and
   *     apply the assignments, cast to the column's stored type;
   *  3. absent keys build fresh rows from ON CREATE SET (rhs sees the
   *     feed row only — reading the merge alias is a typed error);
   *     unassigned properties are null.
   *
   * Untouched snapshot rows anti-join past the key set. Scale shape =
   * applyChangeFeed's: the snapshot is never shuffled beyond one
   * anti-join hash exchange (broadcast when the feed is small); the
   * quadratic risk lives in the feed, which is winner-deduped FIRST.
   */
  /** Does `e` reference variable `a` anywhere? (update-clause guard:
   *  ON CREATE SET / CREATE maps cannot read a row that does not
   *  exist yet.) */
  private[cypher] def refersTo(e: Expr, a: String): Boolean = e match {
    case Ref(x, _) => x == a
    case Bin(_, l, r) => refersTo(l, a) || refersTo(r, a)
    case Not(x) => refersTo(x, a)
    case Neg(x) => refersTo(x, a)
    case IsNull(x, _) => refersTo(x, a)
    case ListLit(xs) => xs.exists(refersTo(_, a))
    case Func(_, args) => args.exists(refersTo(_, a))
    case Agg(_, _, arg, _) => arg.exists(refersTo(_, a))
    case CaseExpr(ws, o) =>
      ws.exists { case (c, v) => refersTo(c, a) || refersTo(v, a) } ||
        o.exists(refersTo(_, a))
    case ListComp(_, l, w, pj) => refersTo(l, a) ||
      w.exists(refersTo(_, a)) || pj.exists(refersTo(_, a))
    case QuantPred(_, _, l, pr) => refersTo(l, a) || refersTo(pr, a)
    case ReduceExpr(_, i, _, l, st) =>
      refersTo(i, a) || refersTo(l, a) || refersTo(st, a)
    case ListIndex(l, f, t, _) => refersTo(l, a) ||
      f.exists(refersTo(_, a)) || t.exists(refersTo(_, a))
    case DotAccess(x, _) => refersTo(x, a)
    case MapLit(fs) => fs.exists { case (_, v) => refersTo(v, a) }
    case MapProjection(al, fs, _) =>
      al == a || fs.exists { case (_, v) => refersTo(v, a) }
    case HasLabel(al, _) => al == a
    case TypeIs(x, _, _) => refersTo(x, a)
    case _ => false
  }

  /** Finish an updating clause's read-back frame: project a directly-
    * following RETURN, or continue an update chain (round 11) over it
    * — the chain's parts compile exactly like a match pipeline, so
    * downstream WITH/MATCH/RETURN read the clause's effect per row.
    * Round 12: the chain may itself be ANOTHER updating query — it
    * folds over this clause's read-back frame, with `updated` carrying
    * the one-snapshot-per-entity guard. */
  private def finishReadBack(frame: Ctx, ret: Option[Projection],
      chain: Option[Query], catalog: GraphCatalog,
      updated: Set[String] = Set.empty): DataFrame =
    (ret, chain) match {
      case (Some(r), _) =>
        compileProjection(frame, r, isReturn = true, catalog).df
      case (_, Some(sq: SingleQuery)) =>
        compileSingle(sq, Map.empty, terminalIsReturn = true, catalog,
          initial = Some(frame)).df
      case (_, Some(uq)) =>
        compileUpdating(uq, catalog, Some(frame), updated)
      case _ => throw new IllegalStateException(
        "internal: read-back without a RETURN or a chain")
    }

  private def compileMerge(parts: Seq[QueryPart], m: MergeClause,
      catalog: GraphCatalog, ret: Option[Projection] = None,
      chain: Option[Query] = None, initial: Option[Ctx] = None,
      updated: Set[String] = Set.empty): DataFrame = {
    val node = catalog.graph.node(m.label)
    guardTarget(node.table, updated, s"MERGE (:${m.label})")
    // property-map match key (round 13, the node twin of the rel-MERGE
    // map lift): the whole map is the merge key — one entry MUST bind
    // the id property; the others join the match condition and stamp
    // created rows (Neo4j's match-on-map semantics). DOWNSTREAM
    // CONTRACT (duplicate-id-lite, mirroring the rel multigraph-lite
    // note): a map-keyed MERGE whose id exists with a DIFFERENT map
    // value creates a second row under the same id, exactly like
    // Neo4j; later id-keyed ops on such a snapshot see both rows —
    // address one with the discriminating property, or key by map.
    val mapEntries: Seq[(String, Expr)] = {
      val entries = (m.keyProp -> m.keyExpr) +: m.keyProps
      entries.groupBy(_._1).collectFirst { case (p, vs) if vs.size > 1
        => p }.foreach(p => throw new CypherBindingException(
        s"MERGE node map binds '$p' twice"))
      if (!entries.exists(_._1 == node.idColumn))
        throw new CypherBindingException(
          s"MERGE (${m.alias}:${m.label} {…}): the property map must " +
          s"bind the node's id property '${node.idColumn}' — merge " +
          "identity starts at the unique node id")
      entries.filterNot(_._1 == node.idColumn)
    }
    val idKeyExpr: Expr =
      (((m.keyProp -> m.keyExpr) +: m.keyProps)
        .find(_._1 == node.idColumn).get)._2
    val ctx: Option[Ctx] =
      if (parts.isEmpty) initial
      else Some(compileSingle(SingleQuery(parts), Map.empty,
        terminalIsReturn = false, catalog, initial = initial))
    ctx.foreach { c =>
      if (c.scope.contains(m.alias))
        throw new CypherBindingException(
          s"MERGE alias '${m.alias}' collides with a variable in scope")
    }
    val props = node.properties.filterNot(_ == node.idColumn)
    def checkAssigns(kind: String, as: Seq[(String, Expr)],
        allowSelf: Boolean): Unit = {
      as.groupBy(_._1).collectFirst { case (p, vs) if vs.size > 1 => p }
        .foreach(p => throw new CypherBindingException(
          s"$kind SET assigns '$p' twice"))
      as.foreach { case (p, e) =>
        if (p == node.idColumn) throw new CypherBindingException(
          s"$kind SET may not reassign the id property '${node.idColumn}'")
        if (!props.contains(p)) throw new CypherBindingException(
          s"$kind SET: node '${m.label}' has no declared property '$p'")
        if (containsAgg(e)) throw new CypherNotSupportedException(
          s"$kind SET with an aggregate — aggregate in a WITH before " +
          "the MERGE")
        if (!allowSelf && refersTo(e, m.alias))
          throw new CypherBindingException(
            s"ON CREATE SET may not read '${m.alias}' — the row does " +
            "not exist at create time")
      }
    }
    checkAssigns("ON MATCH", m.onMatch, allowSelf = true)
    checkAssigns("ON CREATE", m.onCreate, allowSelf = false)
    mapEntries.foreach { case (p, e) =>
      if (!props.contains(p)) throw new CypherBindingException(
        s"MERGE: node '${m.label}' has no declared property '$p'")
      if (containsAgg(e)) throw new CypherNotSupportedException(
        "MERGE node map with an aggregate — aggregate in a WITH " +
        "before the MERGE")
      if (refersTo(e, m.alias)) throw new CypherBindingException(
        s"MERGE node map may not read '${m.alias}' — the map IS the " +
        "match key")
      if (m.onCreate.exists(_._1 == p)) throw new CypherBindingException(
        s"ON CREATE SET reassigns map-keyed property '$p' — the " +
        "created row is stamped with the map value; drop one")
    }

    val snapshot = catalog.nodeDf(node.label)
    val outCols: Seq[String] = node.idColumn +: props
    val idDt = snapshot.schema(node.idColumn).dataType
    def dt(c: String) = snapshot.schema(c).dataType
    val snapN = snapshot.select(
      outCols.map(c => col(c).as(pref(m.alias, c))): _*)

    val mpCol: Map[String, String] =
      mapEntries.map { case (p, _) => p -> s"__mp_$p" }.toMap
    val (feed0, feedScope) = ctx match {
      case Some(c) =>
        val ec = new ExprCompiler(c.scope, c.df)
        (mapEntries.foldLeft(
          c.df.withColumn("__mkey", ec.compile(idKeyExpr).cast(idDt))) {
            case (d, (p, e)) =>
              d.withColumn(mpCol(p), ec.compile(e).cast(dt(p))) },
          c.scope)
      case None =>
        // standalone MERGE: the feed is one literal row; the key exprs
        // compile against an empty scope (unknown variables are the
        // ordinary binding error)
        val one = snapshot.sparkSession.range(1).toDF("__row")
        val ec = new ExprCompiler(Map.empty, one)
        (one.select(ec.compile(idKeyExpr).cast(idDt).as("__mkey") +:
          mapEntries.map { case (p, e) =>
            ec.compile(e).cast(dt(p)).as(mpCol(p)) }: _*),
          Map.empty[String, Binding])
    }
    // null map values drop like null id keys (no identity)
    val keyColNames = "__mkey" +: mapEntries.map { case (p, _) => mpCol(p) }
    val feed = feed0.where(keyColNames.map(col(_).isNotNull).reduce(_ && _))
    val others = feed.columns.filterNot(keyColNames.toSet).toSeq
    // lazy localCheckpoint: the deduped feed has THREE consumers
    // (matched join, created anti-join, untouched anti-join) whose
    // different column pruning defeats ReuseExchange — materialize the
    // feed once at first action instead of re-running its whole
    // pipeline per consumer (no job fires at compile time)
    val feedW =
      (if (others.isEmpty) feed.distinct()
      else feed.groupBy(keyColNames.map(col): _*)
        .agg(max(struct(others.map(col): _*)).as("__w"))
        .select(keyColNames.map(col) ++
          others.map(c => col("__w").getField(c).as(c)): _*))
        .localCheckpoint(false)

    def fullKeyCond(idRhs: Column, mapRhs: String => Column): Column =
      (Seq(col("__mkey") === idRhs) ++ mapEntries.map { case (p, _) =>
        col(mpCol(p)) === mapRhs(p) }).reduce(_ && _)
    val joinedM = feedW.join(snapN,
      fullKeyCond(col(pref(m.alias, node.idColumn)),
        p => col(pref(m.alias, p))), "inner")
    val scopeM: Map[String, Binding] =
      feedScope + (m.alias -> NodeBinding(node))
    val ecM = new ExprCompiler(scopeM, joinedM)
    val mAssign: Map[String, Column] =
      m.onMatch.map { case (p, e) => p -> ecM.compile(e).cast(dt(p)) }.toMap

    val joinedC = feedW.join(
      snapN.select(col(pref(m.alias, node.idColumn)).as("__sid") +:
        mapEntries.map { case (p, _) =>
          col(pref(m.alias, p)).as(s"__sp_$p") }: _*),
      fullKeyCond(col("__sid"), p => col(s"__sp_$p")), "left_anti")
    val ecC = new ExprCompiler(feedScope, joinedC)
    val cAssign: Map[String, Column] =
      m.onCreate.map { case (p, e) => p -> ecC.compile(e).cast(dt(p)) }.toMap
    // created rows stamp the map values; ON CREATE SET fills the rest
    def createdVal(p: String): Column =
      mpCol.get(p).map(col).orElse(cAssign.get(p))
        .getOrElse(lit(null).cast(dt(p)))

    if (ret.isEmpty && chain.isEmpty) {
      val matchedOut = joinedM.select(outCols.map { c =>
        mAssign.getOrElse(c, col(pref(m.alias, c))).as(c) }: _*)
      val createdOut = joinedC.select(
        col("__mkey").as(node.idColumn) +:
          props.map(p => createdVal(p).as(p)): _*)
      // untouched = snapshot minus the matched (id [+ map]) keys —
      // with a map key, same-id rows with a DIFFERENT map value stay
      // untouched (Neo4j's match-on-map semantics)
      val untouched = snapshot.select(outCols.map(col): _*)
        .join(feedW.select(col("__mkey").as(node.idColumn) +:
          mapEntries.map { case (p, _) => col(mpCol(p)).as(p) }: _*),
          node.idColumn +: mapEntries.map(_._1), "left_anti")
        .select(outCols.map(col): _*) // using-cols joins reorder keys first
      untouched.unionByName(matchedOut).unionByName(createdOut)
    } else {
      // MERGE … RETURN (round 10) / … WITH chain (round 11): one
      // read-back row per winner-deduped feed row, the alias bound to
      // the RESULTING entity — matched keys see the ON MATCH-updated
      // values, absent keys see the ON CREATE row (Neo4j's post-merge
      // read). The continuation compiles over matched ∪ created; the
      // untouched snapshot rows never enter, so the read-back adds
      // nothing over the merge's own matched/created joins.
      val matchedR = joinedM.select(others.map(col) ++
        outCols.map(c => mAssign.getOrElse(c, col(pref(m.alias, c)))
          .as(pref(m.alias, c))): _*)
      val createdR = joinedC.select(others.map(col) ++
        (col("__mkey").as(pref(m.alias, node.idColumn)) +:
          props.map(p => createdVal(p).as(pref(m.alias, p)))): _*)
      finishReadBack(Ctx(matchedR.unionByName(createdR), scopeM),
        ret, chain, catalog, updated + node.table)
    }
  }

  /**
   * Terminal `CREATE` (extension; completes the update triad over the
   * reference's read-only boundary, CypherVisitor.cs:486-489; parity
   * keeps the rejection): produce a NEW SNAPSHOT of the target node's
   * table = the untouched snapshot UNION ALL one fresh row per feed
   * row (one literal row for a standalone CREATE). The property map
   * must bind the node's id property — identity in a table-backed
   * graph — and may bind any other declared properties; unassigned
   * properties are null; null ids drop (OPTIONAL MATCH misses create
   * nothing). Unlike MERGE there is NO match branch, NO per-key
   * winner dedup and NO anti-join: CREATE is unconditional, so id
   * uniqueness against the existing snapshot is the caller's
   * contract, exactly as with SQL INSERT.
   *
   * Scale shape: append-only — the created rows are a map-only
   * projection of the feed and the snapshot is untouched (zero joins,
   * zero shuffles, zero snapshot re-reads); at 100 TB this is the
   * cheapest possible update-clause plan.
   */
  private def compileCreate(parts: Seq[QueryPart], cr: CreateClause,
      catalog: GraphCatalog, ret: Option[Projection] = None,
      chain: Option[Query] = None, initial: Option[Ctx] = None,
      updated: Set[String] = Set.empty): DataFrame = {
    val node = catalog.graph.node(cr.label)
    guardTarget(node.table, updated, s"CREATE (:${cr.label})")
    val props = node.properties.filterNot(_ == node.idColumn)
    cr.assigns.groupBy(_._1).collectFirst { case (p2, vs) if vs.size > 1 =>
      p2 }.foreach(p2 => throw new CypherBindingException(
      s"CREATE map assigns '$p2' twice"))
    if (!cr.assigns.exists(_._1 == node.idColumn))
      throw new CypherBindingException(
        s"CREATE (${cr.alias}:${cr.label} {…}): the property map must " +
        s"bind the node's id property '${node.idColumn}' — a created " +
        "row needs an identity in a table-backed graph")
    cr.assigns.foreach { case (p2, e) =>
      if (p2 != node.idColumn && !props.contains(p2))
        throw new CypherBindingException(
          s"CREATE: node '${cr.label}' has no declared property '$p2'")
      if (containsAgg(e)) throw new CypherNotSupportedException(
        "CREATE with an aggregate — aggregate in a WITH before the CREATE")
      if (refersTo(e, cr.alias)) throw new CypherBindingException(
        s"CREATE map may not read '${cr.alias}' — the row does not " +
        "exist at create time")
    }
    val ctx: Option[Ctx] =
      if (parts.isEmpty) initial
      else Some(compileSingle(SingleQuery(parts), Map.empty,
        terminalIsReturn = false, catalog, initial = initial))
    ctx.foreach { c =>
      if (c.scope.contains(cr.alias))
        throw new CypherBindingException(
          s"CREATE alias '${cr.alias}' collides with a variable in scope")
    }
    val snapshot = catalog.nodeDf(node.label)
    val outCols: Seq[String] = node.idColumn +: props
    def dt(cn: String) = snapshot.schema(cn).dataType
    val (feed, scope) = ctx match {
      case Some(c) => (c.df, c.scope)
      case None =>
        (snapshot.sparkSession.range(1).toDF("__row"),
          Map.empty[String, Binding])
    }
    val ec = new ExprCompiler(scope, feed)
    val aMap: Map[String, Column] =
      cr.assigns.map { case (p2, e) => p2 -> ec.compile(e).cast(dt(p2)) }
        .toMap
    if (ret.isEmpty && chain.isEmpty) {
      val created = feed
        .select(outCols.map { cn =>
          aMap.getOrElse(cn, lit(null).cast(dt(cn))).as(cn) }: _*)
        .where(col(node.idColumn).isNotNull)
      snapshot.select(outCols.map(col): _*).unionByName(created)
    } else {
      // CREATE … RETURN (round 10) / … WITH chain (round 11): one
      // read-back row per CREATED row — the alias binds the new
      // entity's values alongside the feed scope, and the
      // continuation compiles over that frame. The snapshot is never
      // read at all (the created rows are a map-only projection of
      // the feed), so the read-back costs nothing over the create.
      val feedCols = feed.columns.toSeq
      val createdRows = feed.select(feedCols.map(col) ++
          outCols.map(cn => aMap.getOrElse(cn, lit(null).cast(dt(cn)))
            .as(pref(cr.alias, cn))): _*)
        .where(col(pref(cr.alias, node.idColumn)).isNotNull)
      finishReadBack(Ctx(createdRows,
        scope + (cr.alias -> NodeBinding(node))), ret, chain, catalog,
        updated + node.table)
    }
  }

  /**
   * Terminal `CREATE (a)-[r:T {…}]->(b)` (extension, round 10): the
   * edge twin of node CREATE — append one edge row per feed row to
   * the verb's EDGE snapshot. Endpoint key columns take the bound
   * nodes' ids (cast to the edge's stored key types); map-assigned
   * properties must be declared edge properties (endpoint columns are
   * not assignable — they ARE the keys); rows with a null endpoint
   * drop. Unconditional like node CREATE: no match branch, no
   * winner-dedup, no anti-join — (src, snk) uniqueness is the
   * caller's contract, and the plan stays append-only (the snapshot
   * is never joined or shuffled). With `ret`, the RETURN reads the
   * created edge rows per feed row (alias optional — the endpoints
   * stay in scope either way), and the snapshot is never read at all.
   */
  private def compileCreateRel(parts: Seq[QueryPart], cr: CreateRelClause,
      catalog: GraphCatalog, ret: Option[Projection],
      chain: Option[Query] = None, initial: Option[Ctx] = None,
      updated: Set[String] = Set.empty): DataFrame = {
    if (parts.isEmpty && initial.isEmpty &&
        (cr.srcSpec.isEmpty || cr.dstSpec.isEmpty))
      throw new CypherBindingException(
        "CREATE of a relationship needs both endpoints bound by a " +
        "preceding MATCH or carrying an id map — " +
        "CREATE (a:L1 {id: …})-[:T]->(b:L2 {id: …})")
    if (cr.srcSpec.nonEmpty && cr.dstSpec.nonEmpty &&
        cr.srcAlias == cr.dstAlias)
      throw new CypherBindingException(
        s"CREATE relationship endpoints both declare '${cr.srcAlias}' — " +
        "two id-map endpoints need distinct variables")
    val c =
      if (parts.isEmpty && initial.isDefined) initial.get
      else if (parts.isEmpty)
        // standalone ingest CREATE: one literal feed row (the
        // node-CREATE shape); key exprs compile against an empty scope
        Ctx(catalog.nodeDf(cr.srcSpec.get.label).sparkSession
          .range(1).toDF("__row"), Map.empty)
      else compileSingle(SingleQuery(parts), Map.empty,
        terminalIsReturn = false, catalog, initial = initial)
    def endpointNode(alias: String, spec: Option[MergeEndpoint])
        : NodeDef = spec match {
      case Some(ep) =>
        val n = catalog.graph.node(ep.label)
        if (ep.keyProp != n.idColumn) throw new CypherBindingException(
          s"CREATE ($alias:${ep.label} {${ep.keyProp}: …}): a " +
          s"relationship endpoint map must bind the node's id " +
          s"property '${n.idColumn}' — the node row is not created here")
        if (c.scope.contains(alias)) throw new CypherBindingException(
          s"CREATE endpoint alias '$alias' collides with a variable " +
          "in scope — an id-map endpoint declares a NEW variable; " +
          "drop the map to reference the bound node")
        if (containsAgg(ep.keyExpr))
          throw new CypherNotSupportedException(
            "CREATE endpoint id with an aggregate — aggregate in a " +
            "WITH before the CREATE")
        n
      case None => c.scope.get(alias) match {
        case Some(NodeBinding(n)) => n
        case Some(_) => throw new CypherBindingException(
          s"CREATE relationship endpoint '$alias' must be a node variable")
        case None => throw new CypherBindingException(
          s"CREATE relationship endpoint '$alias' is not a bound " +
          "variable — bind both endpoints with a preceding MATCH, or " +
          "give each an id map: (a:Label {id: …})")
      }
    }
    val sn = endpointNode(cr.srcAlias, cr.srcSpec)
    val dn = endpointNode(cr.dstAlias, cr.dstSpec)
    val e = catalog.graph.edge(sn.label, cr.verb, dn.label).getOrElse(
      throw new CypherBindingException(
        s"no relationship '${cr.verb}' from '${sn.label}' to " +
        s"'${dn.label}' in the schema"))
    guardTarget(e.table, updated, s"CREATE [:${cr.verb}]")
    cr.relAlias.foreach { r =>
      if (c.scope.contains(r)) throw new CypherBindingException(
        s"CREATE relationship alias '$r' collides with a variable in " +
        "scope")
      if (r == cr.srcAlias || r == cr.dstAlias)
        throw new CypherBindingException(
          s"CREATE relationship alias '$r' collides with an endpoint " +
          "variable")
    }
    val snapshot = catalog.edgeDf(e)
    val outCols =
      (Seq(e.srcIdColumn, e.sinkIdColumn) ++ e.properties).distinct
    def dt(cn: String) = snapshot.schema(cn).dataType
    cr.assigns.groupBy(_._1).collectFirst { case (p2, vs) if vs.size > 1 =>
      p2 }.foreach(p2 => throw new CypherBindingException(
      s"CREATE map assigns '$p2' twice"))
    cr.assigns.foreach { case (p2, ex) =>
      if (p2 == e.srcIdColumn || p2 == e.sinkIdColumn)
        throw new CypherBindingException(
          s"CREATE relationship map may not assign endpoint column " +
          s"'$p2' — the endpoints come from the bound nodes")
      if (!e.properties.contains(p2)) throw new CypherBindingException(
        s"CREATE: relationship '${e.verb}' has no declared property '$p2'")
      if (containsAgg(ex)) throw new CypherNotSupportedException(
        "CREATE with an aggregate — aggregate in a WITH before the CREATE")
      if (cr.relAlias.exists(refersTo(ex, _)))
        throw new CypherBindingException(
          s"CREATE map may not read '${cr.relAlias.get}' — the edge " +
          "does not exist at create time")
    }
    val ec = new ExprCompiler(c.scope, c.df)
    val propAssign: Map[String, Column] =
      cr.assigns.map { case (p2, ex) => p2 -> ec.compile(ex).cast(dt(p2)) }
        .toMap
    def endpointKey(alias: String, spec: Option[MergeEndpoint],
        node: NodeDef, target: org.apache.spark.sql.types.DataType)
        : Column = spec match {
      case Some(ep) => ec.compile(ep.keyExpr).cast(target)
      case None     => col(pref(alias, node.idColumn)).cast(target)
    }
    val keyAssign: Map[String, Column] = Map(
      e.srcIdColumn ->
        endpointKey(cr.srcAlias, cr.srcSpec, sn, dt(e.srcIdColumn)),
      e.sinkIdColumn ->
        endpointKey(cr.dstAlias, cr.dstSpec, dn, dt(e.sinkIdColumn)))
    def valueOf(cn: String): Column =
      keyAssign.getOrElse(cn,
        propAssign.getOrElse(cn, lit(null).cast(dt(cn))))
    if (ret.isEmpty && chain.isEmpty) {
      val created = c.df
        .select(outCols.map(cn => valueOf(cn).as(cn)): _*)
        .where(col(e.srcIdColumn).isNotNull &&
          col(e.sinkIdColumn).isNotNull)
      snapshot.select(outCols.map(col): _*).unionByName(created)
    } else {
      // read-back: the created edge rides a (possibly synthetic)
      // prefix; id-map endpoints additionally bind their alias to the
      // node's stored face via one left join (absent ids id-only),
      // exactly relationship MERGE's read-back shape
      val rA = cr.relAlias.getOrElse("__cr")
      val feedCols =
        if (parts.isEmpty && initial.isEmpty) Seq.empty
        else c.df.columns.toSeq
      val withRel = c.df.select(feedCols.map(col) ++
        outCols.map(cn => valueOf(cn).as(pref(rA, cn))): _*)
      val keyNonNull =
        col(pref(rA, e.srcIdColumn)).isNotNull &&
        col(pref(rA, e.sinkIdColumn)).isNotNull
      var frame = withRel.where(keyNonNull)
      var scopeR = cr.relAlias match {
        case Some(a) => c.scope + (a -> EdgeBinding(e))
        case None    => c.scope
      }
      def readBack(alias: String, spec: Option[MergeEndpoint],
          node: NodeDef, relKeyCol: String): Unit = spec.foreach { _ =>
        val snapN = catalog.nodeDf(node.label)
        val nprops = node.properties.filterNot(_ == node.idColumn)
        val bkKey = s"__bk_$alias"
        val bk = snapN.select(
          col(node.idColumn).as(bkKey) +:
            nprops.map(p2 => col(p2).as(pref(alias, p2))): _*)
        frame = frame
          .join(bk, frame(relKeyCol) === bk(bkKey), "left")
          .drop(bkKey)
          .withColumn(pref(alias, node.idColumn),
            col(relKeyCol).cast(snapN.schema(node.idColumn).dataType))
        scopeR = scopeR + (alias -> NodeBinding(node))
      }
      readBack(cr.srcAlias, cr.srcSpec, sn, pref(rA, e.srcIdColumn))
      readBack(cr.dstAlias, cr.dstSpec, dn, pref(rA, e.sinkIdColumn))
      finishReadBack(Ctx(frame, scopeR), ret, chain, catalog,
        updated + e.table)
    }
  }

  /**
   * Terminal `MERGE (a)-[r:T]->(b) [ON MATCH SET …] [ON CREATE SET …]`
   * (extension, round 10): edge upsert keyed by the (src, snk)
   * endpoint pair — the relationship twin of node MERGE, same
   * applyChangeFeed shape with a two-column key: null-endpoint rows
   * drop, the feed winner-dedups per pair (struct-max rule), matched
   * pairs take ON MATCH assignments (rhs reads the OLD edge), absent
   * pairs insert a fresh edge row from ON CREATE SET, untouched edge
   * rows anti-join through. Edge identity is the (src, snk) pair —
   * the engine-wide relationship contract (SET/DELETE on rels key the
   * same way) — so duplicate snapshot rows on a matched pair collapse
   * to the one updated row. With `ret`, the RETURN reads the
   * post-merge edge per feed pair (matched ∪ created branches only).
   *
   * Scale shape: identical to node MERGE — the feed dedups FIRST (one
   * partial-agg shuffle on the slim pair key), the snapshot joins
   * once per branch and is never widened.
   *
   * MATCH-less endpoints (round 11): an endpoint may carry an inline
   * id map — `MERGE (a:L1 {id: e1})-[r:T]->(b:L2 {id: e2})`, the
   * standard Neo4j ingest idiom — instead of a bound variable. The
   * key expression evaluates per feed row (one literal row when the
   * whole query is the MERGE) and keys the edge directly; whether a
   * node row with that id exists does not gate the edge upsert (in
   * the decomposed idiom the node MERGEs run first and always
   * succeed). The result is still ONE snapshot — the edge's; upsert
   * the node tables with their own `MERGE (n:L {id: …})` queries
   * (the engine-wide one-query-one-snapshot contract, same as DETACH
   * DELETE's companion edge snapshots). A RETURN reads each id-map
   * endpoint's post-merge face via one left join per endpoint:
   * matched ids see the stored node row, absent ids see id-only.
   */
  private def compileMergeRel(parts: Seq[QueryPart], mr: MergeRelClause,
      catalog: GraphCatalog, ret: Option[Projection],
      chain: Option[Query] = None, initial: Option[Ctx] = None,
      updated: Set[String] = Set.empty): DataFrame = {
    if (parts.isEmpty && initial.isEmpty &&
        (mr.srcSpec.isEmpty || mr.dstSpec.isEmpty))
      throw new CypherBindingException(
        "MERGE of a relationship needs both endpoints bound by a " +
        "preceding MATCH or carrying an id map — " +
        "MERGE (a:L1 {id: …})-[r:T]->(b:L2 {id: …})")
    if (mr.srcSpec.nonEmpty && mr.dstSpec.nonEmpty &&
        mr.srcAlias == mr.dstAlias)
      throw new CypherBindingException(
        s"MERGE relationship endpoints both declare '${mr.srcAlias}' — " +
        "two id-map endpoints need distinct variables")
    val c =
      if (parts.isEmpty && initial.isDefined) initial.get
      else if (parts.isEmpty)
        // standalone ingest MERGE: the feed is one literal row (the
        // node-MERGE shape); key exprs compile against an empty scope
        Ctx(catalog.nodeDf(mr.srcSpec.get.label).sparkSession
          .range(1).toDF("__row"), Map.empty)
      else compileSingle(SingleQuery(parts), Map.empty,
        terminalIsReturn = false, catalog, initial = initial)
    def endpointNode(alias: String, spec: Option[MergeEndpoint])
        : NodeDef = spec match {
      case Some(ep) =>
        val n = catalog.graph.node(ep.label)
        if (ep.keyProp != n.idColumn) throw new CypherBindingException(
          s"MERGE ($alias:${ep.label} {${ep.keyProp}: …}): the property " +
          s"map must bind the node's id property '${n.idColumn}' — " +
          "merge identity is the unique node id")
        if (c.scope.contains(alias)) throw new CypherBindingException(
          s"MERGE endpoint alias '$alias' collides with a variable in " +
          "scope — an id-map endpoint declares a NEW variable; drop " +
          "the map to reference the bound node")
        n
      case None => c.scope.get(alias) match {
        case Some(NodeBinding(n)) => n
        case Some(_) => throw new CypherBindingException(
          s"MERGE relationship endpoint '$alias' must be a node variable")
        case None => throw new CypherBindingException(
          s"MERGE relationship endpoint '$alias' is not a bound " +
          "variable — bind both endpoints with a preceding MATCH, or " +
          "give each an id map: (a:Label {id: …})")
      }
    }
    val sn = endpointNode(mr.srcAlias, mr.srcSpec)
    val dn = endpointNode(mr.dstAlias, mr.dstSpec)
    val e = catalog.graph.edge(sn.label, mr.verb, dn.label).getOrElse(
      throw new CypherBindingException(
        s"no relationship '${mr.verb}' from '${sn.label}' to " +
        s"'${dn.label}' in the schema"))
    guardTarget(e.table, updated, s"MERGE [:${mr.verb}]")
    mr.relAlias.foreach { r =>
      if (c.scope.contains(r)) throw new CypherBindingException(
        s"MERGE relationship alias '$r' collides with a variable in " +
        "scope")
      if (r == mr.srcAlias || r == mr.dstAlias)
        throw new CypherBindingException(
          s"MERGE relationship alias '$r' collides with an endpoint " +
          "variable")
    }
    Seq(mr.srcSpec, mr.dstSpec).flatten.foreach { ep =>
      if (containsAgg(ep.keyExpr)) throw new CypherNotSupportedException(
        "MERGE endpoint id with an aggregate — aggregate in a WITH " +
        "before the MERGE")
    }
    val snapshot = catalog.edgeDf(e)
    val outCols =
      (Seq(e.srcIdColumn, e.sinkIdColumn) ++ e.properties).distinct
    val keyCols = Seq(e.srcIdColumn, e.sinkIdColumn)
    val props = outCols.filterNot(keyCols.contains)
    def dt(cn: String) = snapshot.schema(cn).dataType
    def checkAssigns(kind: String, as: Seq[(String, Expr)],
        allowSelf: Boolean): Unit = {
      as.groupBy(_._1).collectFirst { case (p2, vs) if vs.size > 1 => p2 }
        .foreach(p2 => throw new CypherBindingException(
          s"$kind SET assigns '$p2' twice"))
      as.foreach { case (p2, ex) =>
        if (keyCols.contains(p2)) throw new CypherBindingException(
          s"$kind SET may not reassign endpoint column '$p2' — " +
          "relationship identity is the (src, snk) pair")
        if (!props.contains(p2)) throw new CypherBindingException(
          s"$kind SET: relationship '${e.verb}' has no declared " +
          s"property '$p2'")
        if (containsAgg(ex)) throw new CypherNotSupportedException(
          s"$kind SET with an aggregate — aggregate in a WITH before " +
          "the MERGE")
        if (!allowSelf && mr.relAlias.exists(refersTo(ex, _)))
          throw new CypherBindingException(
            s"ON CREATE SET may not read '${mr.relAlias.get}' — the " +
            "edge does not exist at create time")
      }
    }
    checkAssigns("ON MATCH", mr.onMatch, allowSelf = true)
    checkAssigns("ON CREATE", mr.onCreate, allowSelf = false)
    // property-map match key (round 12): each map entry JOINS the
    // merge key — matched edges satisfy pair AND map equality; created
    // edges are stamped with the map values.
    //
    // DOWNSTREAM CONTRACT (multigraph-lite; round-13 advice, tightened
    // round 14): a map-keyed MERGE can create a SECOND edge row on an
    // existing (src, snk) pair (same endpoints, different map value).
    // Every OTHER edge-updating op keys on the pair alone — a later
    // plain MERGE treats the pair as matched (its anti-join finds a
    // row, so it never creates a third), and a pair-keyed SET/DELETE
    // that MATCHES a duplicated pair fails with a typed error when the
    // query is BUILT (pairDupCheck evaluates pairDupVerdict once, at
    // build time; the emitted plan carries no check, so a duplicate
    // that reaches the snapshot after the build is not caught) instead
    // of silently rewriting/removing the sibling row the match did not
    // address. Callers who need to
    // address ONE parallel row must carry the discriminating property
    // (map-keyed MERGE). The guard's cost is one partial agg over the
    // snapshot semi-filtered to the matched keys — not a
    // full-snapshot aggregation, so pair-keyed ops stay scale-sane.
    mr.keyProps.groupBy(_._1).collectFirst { case (p2, vs) if vs.size > 1
      => p2 }.foreach(p2 => throw new CypherBindingException(
      s"MERGE relationship map binds '$p2' twice"))
    mr.keyProps.foreach { case (p2, ex) =>
      if (keyCols.contains(p2)) throw new CypherBindingException(
        s"MERGE relationship map may not bind endpoint column '$p2' — " +
        "the endpoints come from the pattern")
      if (!props.contains(p2)) throw new CypherBindingException(
        s"MERGE: relationship '${e.verb}' has no declared property '$p2'")
      if (containsAgg(ex)) throw new CypherNotSupportedException(
        "MERGE relationship map with an aggregate — aggregate in a " +
        "WITH before the MERGE")
      if (mr.relAlias.exists(refersTo(ex, _)))
        throw new CypherBindingException(
          s"MERGE relationship map may not read '${mr.relAlias.get}' — " +
          "the map IS the match key")
      if (mr.onCreate.exists(_._1 == p2))
        throw new CypherBindingException(
          s"ON CREATE SET reassigns map-keyed property '$p2' — the " +
          "created row is stamped with the map value; drop one")
    }
    val mpCol: Map[String, String] =
      mr.keyProps.map { case (p2, _) => p2 -> s"__mp_$p2" }.toMap
    // the prefix alias: the user's rel variable, or a reserved synth
    // when anonymous (never visible — scope only gains a binding for a
    // user-written alias)
    val rA = mr.relAlias.getOrElse("__mr")
    val snapE = snapshot.select(
      outCols.map(cn => col(cn).as(pref(rA, cn))): _*)
    val ecKey = new ExprCompiler(c.scope, c.df)
    def endpointKey(alias: String, spec: Option[MergeEndpoint],
        node: NodeDef, target: org.apache.spark.sql.types.DataType)
        : Column = spec match {
      case Some(ep) => ecKey.compile(ep.keyExpr).cast(target)
      case None     => col(pref(alias, node.idColumn)).cast(target)
    }
    val feed0a = mr.keyProps.foldLeft(c.df
      .withColumn("__msrc",
        endpointKey(mr.srcAlias, mr.srcSpec, sn, dt(e.srcIdColumn)))
      .withColumn("__msnk",
        endpointKey(mr.dstAlias, mr.dstSpec, dn, dt(e.sinkIdColumn)))) {
      case (df0, (p2, ex)) =>
        df0.withColumn(mpCol(p2), ecKey.compile(ex).cast(dt(p2)))
    }
    // standalone form: keep only the pair key (the literal seed row's
    // scaffolding column never reaches the winner struct or a RETURN)
    val keyColNames = Seq("__msrc", "__msnk") ++
      mr.keyProps.map { case (p2, _) => mpCol(p2) }
    val feed0 =
      if (parts.isEmpty && initial.isEmpty)
        feed0a.select(keyColNames.map(col): _*)
      else feed0a
    // null map values drop like null endpoint keys (no identity)
    val feed =
      feed0.where(keyColNames.map(col(_).isNotNull).reduce(_ && _))
    val others =
      feed.columns.filterNot(keyColNames.toSet).toSeq
    // winner-dedup per (src, snk [, map values]) key + lazy
    // localCheckpoint — the deduped feed has three consumers
    // (node-MERGE's reasoning)
    val feedW =
      (if (others.isEmpty) feed.distinct()
      else feed.groupBy(keyColNames.map(col): _*)
        .agg(max(struct(others.map(col): _*)).as("__w"))
        .select(keyColNames.map(col) ++
          others.map(cn => col("__w").getField(cn).as(cn)): _*))
        .localCheckpoint(false)

    val mapMatch: Seq[Column] = mr.keyProps.map { case (p2, _) =>
      col(mpCol(p2)) === col(pref(rA, p2)) }
    val joinedM = feedW.join(snapE,
      (Seq(col("__msrc") === col(pref(rA, e.srcIdColumn)),
        col("__msnk") === col(pref(rA, e.sinkIdColumn))) ++ mapMatch)
        .reduce(_ && _), "inner")
    val scopeM: Map[String, Binding] = mr.relAlias match {
      case Some(a) => c.scope + (a -> EdgeBinding(e))
      case None    => c.scope
    }
    val ecM = new ExprCompiler(scopeM, joinedM)
    val mAssign: Map[String, Column] =
      mr.onMatch.map { case (p2, ex) =>
        p2 -> ecM.compile(ex).cast(dt(p2)) }.toMap

    val joinedC = feedW.join(
      snapE.select(col(pref(rA, e.srcIdColumn)).as("__ssrc") +:
        col(pref(rA, e.sinkIdColumn)).as("__ssnk") +:
        mr.keyProps.map { case (p2, _) =>
          col(pref(rA, p2)).as(s"__sp_$p2") }: _*),
      (Seq(col("__msrc") === col("__ssrc"),
        col("__msnk") === col("__ssnk")) ++
        mr.keyProps.map { case (p2, _) =>
          col(mpCol(p2)) === col(s"__sp_$p2") }).reduce(_ && _),
      "left_anti")
    val ecC = new ExprCompiler(c.scope, joinedC)
    val cAssign: Map[String, Column] =
      mr.onCreate.map { case (p2, ex) =>
        p2 -> ecC.compile(ex).cast(dt(p2)) }.toMap

    // created rows stamp the map values; ON CREATE SET fills the rest
    def createdVal(p2: String): Column =
      mpCol.get(p2).map(col).orElse(cAssign.get(p2))
        .getOrElse(lit(null).cast(dt(p2)))
    if (ret.isEmpty && chain.isEmpty) {
        val matchedOut = joinedM.select(outCols.map { cn =>
          mAssign.getOrElse(cn, col(pref(rA, cn))).as(cn) }: _*)
        val createdOut = joinedC.select(
          col("__msrc").as(e.srcIdColumn) +:
            col("__msnk").as(e.sinkIdColumn) +:
            props.map(p2 => createdVal(p2).as(p2)): _*)
        // untouched = snapshot minus the matched (pair [+ map]) keys —
        // with a map key, same-pair edges with a DIFFERENT map value
        // stay untouched (Neo4j's match-on-pair-and-map semantics)
        val untouched = snapshot.select(outCols.map(col): _*)
          .join(feedW.select(col("__msrc").as(e.srcIdColumn) +:
            col("__msnk").as(e.sinkIdColumn) +:
            mr.keyProps.map { case (p2, _) => col(mpCol(p2)).as(p2) }: _*),
            keyCols ++ mr.keyProps.map(_._1), "left_anti")
          .select(outCols.map(col): _*) // using-cols joins reorder keys first
        untouched.unionByName(matchedOut).unionByName(createdOut)
    } else {
        val matchedR = joinedM.select(others.map(col) ++
          outCols.map(cn => mAssign.getOrElse(cn, col(pref(rA, cn)))
            .as(pref(rA, cn))): _*)
        val createdR = joinedC.select(others.map(col) ++
          (col("__msrc").as(pref(rA, e.srcIdColumn)) +:
            col("__msnk").as(pref(rA, e.sinkIdColumn)) +:
            props.map(p2 => createdVal(p2).as(pref(rA, p2)))): _*)
        var frame = matchedR.unionByName(createdR)
        var scopeR = scopeM
        // id-map endpoints (round 11): the RETURN sees each as a node
        // variable over its POST-MERGE face — one left join per
        // endpoint on the node's id (matched ids read the stored row,
        // absent ids read id-only with null properties)
        def readBack(alias: String, spec: Option[MergeEndpoint],
            node: NodeDef, relKeyCol: String): Unit = spec.foreach { _ =>
          val snapN = catalog.nodeDf(node.label)
          val nprops = node.properties.filterNot(_ == node.idColumn)
          val bkKey = s"__bk_$alias"
          val bk = snapN.select(
            col(node.idColumn).as(bkKey) +:
              nprops.map(p2 => col(p2).as(pref(alias, p2))): _*)
          frame = frame
            .join(bk, frame(relKeyCol) === bk(bkKey), "left")
            .drop(bkKey)
            .withColumn(pref(alias, node.idColumn),
              col(relKeyCol).cast(snapN.schema(node.idColumn).dataType))
          scopeR = scopeR + (alias -> NodeBinding(node))
        }
        readBack(mr.srcAlias, mr.srcSpec, sn, pref(rA, e.srcIdColumn))
        readBack(mr.dstAlias, mr.dstSpec, dn, pref(rA, e.sinkIdColumn))
        finishReadBack(Ctx(frame, scopeR), ret, chain, catalog,
          updated + e.table)
    }
  }

  /**
   * Terminal `SET` (extension; the reference is read-only —
   * CypherVisitor.cs:486-489 — and parity mode keeps the rejection):
   * produce a NEW SNAPSHOT of the bound entity's backing table. The
   * preceding parts' rows are the update feed:
   *
   *  1. rows whose entity key is null drop (OPTIONAL MATCH misses have
   *     no identity to update); the feed then reduces to ONE
   *     deterministic winner per key — `max(struct(row))`, the
   *     [[compileMerge]] / applyChangeFeed tie rule (orderable feed
   *     columns required, the same contract);
   *  2. matched rows take the assignments cast to the column's stored
   *     type; the rhs reads the OLD entity (its columns ride the feed)
   *     plus everything else in scope — `SET n.p = null` is property
   *     removal;
   *  3. untouched snapshot rows anti-join past the key set.
   *
   * Scale shape: the feed winner-dedups FIRST; the snapshot is never
   * shuffled beyond the one anti-join hash exchange (broadcast when the
   * deduped feed is small). Node keys are the id column; relationship
   * keys are the (src, snk) pair.
   */
  /** Shared SET validation + target resolution: checks the alias
   *  binds a node/relationship, the assignments are unique,
   *  aggregate-free, on declared non-key properties — and returns
   *  (key columns, backing snapshot, output columns, EFFECTIVE
   *  assignments). A full-replacement SET (`SET a = {…}`, round 11)
   *  expands here against the schema: listed keys assign, every
   *  other declared non-key property nulls — the explicit contract
   *  behind Neo4j's map replacement. */
  private def setTarget(scope: Map[String, Binding], s0: SetClause,
      catalog: GraphCatalog)
      : (Seq[String], DataFrame, Seq[String], Seq[(String, Expr)]) = {
    val b = scope.getOrElse(s0.alias, throw new CypherBindingException(
      s"SET target '${s0.alias}' is not a bound variable"))
    // SET/REMOVE :Label (round 12): resolved against the node's
    // schema-declared sub-labels — SET writes the discriminator value,
    // REMOVE nulls it only where the row currently carries it (a
    // MACHINERY row is untouched by REMOVE :BuildingCustomer); both
    // desugar to ordinary assignments, sharing the dedup/validation/
    // snapshot machinery below
    val s: SetClause =
      if (s0.setLabels.isEmpty && s0.removeLabels.isEmpty) s0
      else b match {
        case NodeBinding(n) =>
          def disc(sl: String): (String, Any) =
            n.subLabels.getOrElse(sl, throw new CypherNotSupportedException(
              s"SET/REMOVE :$sl — '$sl' is not a declared sub-label of " +
              s"'${n.label}' (primary labels are table-backed; only " +
              "schema-declared sub-labels with a discriminator " +
              "property are writable)"))
          val setA = s0.setLabels.map { sl =>
            val (prop, v) = disc(sl); prop -> (Lit(v): Expr)
          }
          val remA = s0.removeLabels.map { sl =>
            val (prop, v) = disc(sl)
            prop -> (CaseExpr(
              Seq((Bin(BinOp.Eq, Ref(s0.alias, Some(prop)), Lit(v)),
                Lit(null))),
              Some(Ref(s0.alias, Some(prop)))): Expr)
          }
          s0.copy(assigns = setA ++ remA ++ s0.assigns,
            setLabels = Seq.empty, removeLabels = Seq.empty)
        case _ => throw new CypherNotSupportedException(
          s"SET/REMOVE :Label on '${s0.alias}' — labels are node-level")
      }
    s.assigns.groupBy(_._1).collectFirst { case (p2, vs) if vs.size > 1 => p2 }
      .foreach(p2 => throw new CypherBindingException(
        s"SET assigns '$p2' twice"))
    s.assigns.foreach { case (_, e) =>
      if (containsAgg(e)) throw new CypherNotSupportedException(
        "SET with an aggregate — aggregate in a WITH before the SET")
    }
    def expand(props: Seq[String]): Seq[(String, Expr)] =
      if (!s.fullReplace) s.assigns
      else s.assigns ++ props.filterNot(s.assigns.map(_._1).contains)
        .map(_ -> (Lit(null): Expr))
    b match {
      case NodeBinding(n) =>
        val props = n.properties.filterNot(_ == n.idColumn)
        s.assigns.foreach { case (p2, _) =>
          if (p2 == n.idColumn) throw new CypherBindingException(
            s"SET may not reassign the id property '${n.idColumn}' — " +
            "node identity is immutable (re-keying is MERGE + DELETE)")
          if (!props.contains(p2)) throw new CypherBindingException(
            s"SET: node '${n.label}' has no declared property '$p2'")
        }
        (Seq(n.idColumn), catalog.nodeDf(n.label), entityCols(b),
          expand(props))
      case EdgeBinding(e) =>
        s.assigns.foreach { case (p2, _) =>
          if (p2 == e.srcIdColumn || p2 == e.sinkIdColumn)
            throw new CypherBindingException(
              s"SET may not reassign endpoint column '$p2' — " +
              "relationship identity is the (src, snk) pair")
          if (e.rowKeyColumn.contains(p2))
            throw new CypherBindingException(
              s"SET may not reassign row-key column '$p2' — it " +
              "discriminates parallel rows (per-row relationship " +
              "identity)")
          if (!e.properties.contains(p2)) throw new CypherBindingException(
            s"SET: relationship '${e.verb}' has no declared property '$p2'")
        }
        // a declared rowKeyColumn joins the op key (round 16; ADVICE
        // r15 #1): each parallel sibling is then individually
        // addressable, so SET over one WHERE-matched sibling touches
        // exactly that row — no duplicate guard needed
        (Seq(e.srcIdColumn, e.sinkIdColumn) ++ e.rowKeyColumn,
          catalog.edgeDf(e),
          entityCols(b),
          expand(e.properties.filterNot(p2 =>
            p2 == e.srcIdColumn || p2 == e.sinkIdColumn ||
              e.rowKeyColumn.contains(p2))))
      case _ => throw new CypherBindingException(
        s"SET target '${s.alias}' must be a node or relationship variable")
    }
  }

  private def compileSet(parts: Seq[QueryPart], s: SetClause,
      catalog: GraphCatalog, initial: Option[Ctx] = None,
      updated: Set[String] = Set.empty): DataFrame = {
    val c =
      if (parts.isEmpty && initial.isDefined) initial.get
      else compileSingle(SingleQuery(parts), Map.empty,
        terminalIsReturn = false, catalog, initial = initial)
    guardTarget(setTable(c.scope, s), updated, s"SET ${s.alias}")
    val (keyCols, snapshot, outCols, assigns) =
      setTarget(c.scope, s, catalog)
    setSnapshot(c, s.alias, assigns, keyCols, snapshot, outCols)
  }

  /** Backing table of a SET clause's target (one-snapshot guard). */
  private def setTable(scope: Map[String, Binding], s: SetClause): String =
    scope.get(s.alias) match {
      case Some(NodeBinding(n)) => n.table
      case Some(EdgeBinding(e)) => e.table
      case _                    => ""
    }

  /**
   * Mid-query `SET … RETURN items` (extension, round 10): the RETURN
   * reads the UPDATED entity. Per-ROW view — the entity's assigned
   * columns are replaced in the match frame itself (one simultaneous
   * `select`, so every rhs reads the OLD entity even when assignments
   * cross-reference) and the ordinary RETURN projection compiles over
   * the updated frame. This is the read-back twin of terminal SET:
   * the result is the projection, NOT the snapshot union — and the
   * plan is map-only on top of the match (no winner-dedup, no
   * anti-join, the snapshot is never touched beyond the match scan).
   */
  private def compileSetReturn(parts: Seq[QueryPart], s: SetClause,
      ret: Projection, catalog: GraphCatalog,
      initial: Option[Ctx] = None,
      updated: Set[String] = Set.empty): DataFrame =
    compileProjection(setUpdatedFrame(parts, s, catalog, initial, updated),
      ret, isReturn = true, catalog).df

  /** The per-row UPDATED frame behind SET read-backs: the preceding
    * parts' match frame with the target's assigned columns replaced in
    * one simultaneous `select` (every rhs reads the OLD entity even
    * when assignments cross-reference). Map-only on the match; the
    * snapshot is never touched beyond the match scan. */
  private def setUpdatedFrame(parts: Seq[QueryPart], s: SetClause,
      catalog: GraphCatalog, initial: Option[Ctx] = None,
      updatedTables: Set[String] = Set.empty): Ctx = {
    val c =
      if (parts.isEmpty && initial.isDefined) initial.get
      else compileSingle(SingleQuery(parts), Map.empty,
        terminalIsReturn = false, catalog, initial = initial)
    guardTarget(setTable(c.scope, s), updatedTables, s"SET ${s.alias}")
    val (_, snapshot, _, assigns) = setTarget(c.scope, s, catalog)
    def dt(cn: String) = snapshot.schema(cn).dataType
    val ec = new ExprCompiler(c.scope, c.df)
    val aMap: Map[String, Column] = assigns.map { case (p2, e) =>
      pref(s.alias, p2) -> ec.compile(e).cast(dt(p2)) }.toMap
    val updated = c.df.select(c.df.columns.toSeq.map(cn =>
      aMap.getOrElse(cn, col(cn)).as(cn)): _*)
    Ctx(updated, c.scope)
  }

  /**
   * Update chaining `SET … WITH … [MATCH …] RETURN …` (extension,
   * round 11): the continuation compiles over [[setUpdatedFrame]] —
   * downstream clauses read the query's own writes per row. The
   * backing snapshot is untouched; a downstream MATCH over the SAME
   * table re-reads the ORIGINAL store (reads-own-writes flows only
   * through the carried frame — the documented contract). The result
   * is the chain's terminal RETURN.
   */
  private def compileSetChain(parts: Seq[QueryPart], s: SetClause,
      rest: Query, catalog: GraphCatalog, initial: Option[Ctx] = None,
      updated: Set[String] = Set.empty): DataFrame = {
    val frame = setUpdatedFrame(parts, s, catalog, initial, updated)
    finishReadBack(frame, None, Some(rest), catalog,
      updated + setTable(frame.scope, s))
  }

  private def setSnapshot(c: Ctx, alias: String,
      assigns: Seq[(String, Expr)], keyCols: Seq[String],
      snapshot: DataFrame, outCols: Seq[String]): DataFrame = {
    def dt(cn: String) = snapshot.schema(cn).dataType
    val keyPrefs = keyCols.map(k => pref(alias, k))
    val feed = c.df.where(keyPrefs.map(col(_).isNotNull).reduce(_ && _))
    val others = feed.columns.filterNot(keyPrefs.contains).toSeq
    // lazy localCheckpoint: the deduped feed feeds both the updated
    // branch and the untouched anti-join; their different column
    // pruning defeats ReuseExchange, so materialize once at first
    // action (no compile-time job)
    // pair-duplicate guard (round 14, snapshot-side check restored
    // round 16 per ADVICE-r15 #1): a map-keyed MERGE can leave
    // PARALLEL rows on one (src, snk) pair; a pair-keyed SET would
    // winner-dedup the match and silently DROP the sibling from the
    // new snapshot — fail at execution instead, telling the caller to
    // address one row via its discriminating property. The round-15
    // feed-only fold missed the core case (a WHERE matching ONE of
    // two siblings leaves a single-tuple feed, yet the pair-keyed
    // anti-join still drops BOTH snapshot rows), so the detector
    // inspects the SNAPSHOT semi-filtered to the matched keys — one
    // partial min≠max agg over a report-sized slice, byte-identical
    // siblings still pass (they winner-dedup to an identical row).
    // An edge with a declared rowKeyColumn skips the guard entirely:
    // the row key is part of keyCols, so every sibling is its own
    // key group and one matched sibling updates exactly one row.
    val snapProps = outCols.filterNot(keyCols.contains)
    val needGuard = keyCols.size == 2 && snapProps.nonEmpty
    // ONE lazy checkpoint of the deduped feed (it feeds the updated
    // branch, the anti-join key set and — when guarded — the verdict
    // semi-join; their different column pruning defeats ReuseExchange)
    val feedW = {
      val w =
        if (others.isEmpty) feed.distinct()
        else
          feed.groupBy(keyPrefs.map(col): _*)
            .agg(max(struct(others.map(col): _*)).as("__w"))
            .select(keyPrefs.map(col) ++
              others.map(cn => col("__w").getField(cn).as(cn)): _*)
      w.localCheckpoint(false)
    }
    val ec = new ExprCompiler(c.scope, feedW)
    val aMap: Map[String, Column] =
      assigns.map { case (p2, e) => p2 -> ec.compile(e).cast(dt(p2)) }.toMap
    val updated = feedW.select(outCols.map { cn =>
      aMap.getOrElse(cn, col(pref(alias, cn))).as(cn) }: _*)
    val feedKeys = feedW.select(keyPrefs.zip(keyCols).map {
      case (kp, k) => col(kp).as(k) }: _*)
    val snapBase = snapshot.select(outCols.map(col): _*)
    val untouched =
      if (!needGuard) snapBase.join(feedKeys, keyCols, "left_anti")
      else {
        // exact key count → broadcast-hinted verdict semi-join and
        // anti-join; the verdict runs once, when the query is built
        // (see [[pairDupCheck]] — the r16 feed-side wrapper forced both
        // joins to full sort-merge)
        val kRows = feedW.count()
        val hinted = graft.ops.GraphOps.bcastIf(feedKeys, kRows)
        pairDupCheck(hinted, keyCols, snapshot, snapProps, "SET")
        snapBase.join(hinted, keyCols, "left_anti")
      }
    untouched.unionByName(updated)
  }

  /**
   * Terminal `[DETACH] DELETE` (extension; parity keeps the rejection):
   * produce a NEW SNAPSHOT of the bound entity's backing table minus
   * the matched rows. `DELETE r` over a relationship removes every edge
   * row keyed by a matched (src, snk) pair (`DETACH` is accepted and a
   * no-op, Neo4j's behavior); `DETACH DELETE n` over a node removes the
   * matched ids — companion edge snapshots are separate frames, produce
   * them with explicit relationship DELETE queries. Plain node DELETE
   * is a typed rejection: Neo4j's dangling-relationship check is
   * data-dependent and this engine plans lazily. Null keys drop
   * (OPTIONAL MATCH misses delete nothing). Scale shape: one distinct
   * on the matched keys, one anti-join (broadcast when the key set is
   * small); the snapshot is never widened or re-shuffled.
   */
  private def compileDelete(parts: Seq[QueryPart], d: DeleteClause,
      catalog: GraphCatalog, ret: Option[Projection] = None,
      chain: Option[Query] = None, initial: Option[Ctx] = None,
      updated: Set[String] = Set.empty): DataFrame = {
    val c =
      if (parts.isEmpty && initial.isDefined) initial.get
      else compileSingle(SingleQuery(parts), Map.empty,
        terminalIsReturn = false, catalog, initial = initial)
    val b = c.scope.getOrElse(d.alias, throw new CypherBindingException(
      s"DELETE target '${d.alias}' is not a bound variable"))
    val (keyCols, snapshot) = b match {
      case NodeBinding(n) =>
        if (!d.detach) throw new CypherNotSupportedException(
          s"DELETE on node '${d.alias}' — the dangling-relationship " +
          "check is data-dependent and this engine plans lazily; use " +
          "DETACH DELETE and rebuild edge snapshots with relationship " +
          "DELETE queries")
        (Seq(n.idColumn), catalog.nodeDf(n.label))
      case EdgeBinding(e) =>
        // the declared rowKeyColumn joins the delete key (round 16):
        // one matched sibling deletes exactly one snapshot row
        (Seq(e.srcIdColumn, e.sinkIdColumn) ++ e.rowKeyColumn,
          catalog.edgeDf(e))
      case _ => throw new CypherBindingException(
        s"DELETE target '${d.alias}' must be a node or relationship " +
        "variable")
    }
    val deleteTable = b match {
      case NodeBinding(n) => n.table
      case EdgeBinding(e) => e.table
      case _              => ""
    }
    guardTarget(deleteTable, updated, s"DELETE ${d.alias}")
    if (ret.isEmpty && chain.isEmpty)
      deleteSnapshot(c, d.alias, keyCols, snapshot, entityCols(b))
    else {
      // DELETE … RETURN (round 10) / … WITH chain (round 11): the
      // continuation reads the DELETED rows' PRE-delete values — the
      // match frame filtered to non-null entity keys (exactly the
      // delete's key set; OPTIONAL MATCH misses delete nothing and do
      // not appear). Map-only on the match; the snapshot is never
      // anti-joined.
      val keyPrefs = keyCols.map(k => pref(d.alias, k))
      val deleted =
        c.df.where(keyPrefs.map(col(_).isNotNull).reduce(_ && _))
      finishReadBack(Ctx(deleted, c.scope), ret, chain, catalog,
        updated + deleteTable)
    }
  }

  private def deleteSnapshot(c: Ctx, alias: String, keyCols: Seq[String],
      snapshot: DataFrame, outCols: Seq[String]): DataFrame = {
    val keyPrefs = keyCols.map(k => pref(alias, k))
    val nn = c.df.where(keyPrefs.map(col(_).isNotNull).reduce(_ && _))
    // pair-duplicate guard (round 14, snapshot-side check restored
    // round 16 per ADVICE-r15 #1): a pair-keyed DELETE over a pair
    // the map-keyed MERGE duplicated would remove BOTH parallel rows
    // even when the match addressed one — fail at execution instead
    // (setSnapshot's reasoning: the detector must read the SNAPSHOT,
    // not the feed, or a WHERE matching one sibling slips through).
    // A declared rowKeyColumn is part of keyCols, making every
    // sibling its own key group — no guard needed, one matched
    // sibling deletes exactly one row. A propertyless no-rowkey edge
    // also skips (identical siblings delete together, Neo4j's own
    // both-bound behavior).
    val snapProps = outCols.filterNot(keyCols.contains)
    val needGuard = keyCols.size == 2 && snapProps.nonEmpty
    val keys = {
      val k0 = nn.select(keyPrefs.zip(keyCols).map {
        case (kp, k) => col(kp).as(k) }: _*).distinct()
      // materialize BEFORE the guard (its semi-join reads the key set
      // twice — re-running the whole match otherwise)
      if (needGuard) k0.localCheckpoint(false) else k0
    }
    val snapBase = snapshot.select(outCols.map(col): _*)
    if (!needGuard) snapBase.join(keys, keyCols, "left_anti")
    else {
      // count once (materializes the lazy checkpoint): the EXACT key
      // count lets both the verdict semi-join and the anti-join
      // broadcast the key set under the bcastIf band — the
      // checkpointed frame carries no size estimate, so without the
      // hint both joins full-sort the SNAPSHOT (round 17; the
      // measured 3× q64 regression)
      val kRows = keys.count()
      val hinted = graft.ops.GraphOps.bcastIf(keys, kRows)
      pairDupCheck(hinted, keyCols, snapshot, snapProps, "DELETE")
      snapBase.join(hinted, keyCols, "left_anti")
    }
  }

  /** Execution-time guard for pair-keyed edge SET/DELETE over a
   *  multigraph-lite snapshot (round 14 check, restored round 16):
   *  any MATCHED (src, snk) pair whose SNAPSHOT slice holds more than
   *  one DISTINCT row (parallel siblings a map-keyed MERGE created)
   *  raises, instead of the op silently rewriting/removing a sibling
   *  the match did not address — including the sibling a WHERE
   *  filtered OUT of the match (the round-15 feed-only fold's blind
   *  spot). Byte-identical siblings pass (min(tuple) = max(tuple) —
   *  they winner-dedup/delete to an indistinguishable outcome). Cost:
   *  one partial min≠max agg over the snapshot SEMI-FILTERED to the
   *  matched keys (report-sized slice), no distinct-agg Expand, no
   *  full-snapshot aggregation — pair-keyed ops stay scale-sane. */
  private def pairDupVerdict(mk: DataFrame, keyCols: Seq[String],
      snapshot: DataFrame, propCols: Seq[String]): DataFrame =
    // one 8-byte hash per row instead of a wide property struct in
    // the min/max state: ≥ 2 distinct tuples ⇔ hash min ≠ max (a
    // 2⁻⁶⁴ collision could only MISS a duplicate, never false-raise).
    // The verdict folds to ONE row (dupe count + a sample pair).
    snapshot.join(mk, keyCols, "left_semi")
      .groupBy(keyCols.map(col): _*)
      .agg((min(xxhash64(propCols.map(col): _*)) =!=
        max(xxhash64(propCols.map(col): _*))).as("__sib"))
      .where(col("__sib"))
      .agg(count(lit(1)).as("__ndup"),
        min(concat_ws(", ", keyCols.map(col): _*)).as("__pair"))

  /** EAGER verdict evaluation at compile time (optimization round
    * 17): one small job (the matched keys are already counted and
    * broadcast-hinted by the caller) replaces the r16 shape that
    * wrapped the matched-key frame in a crossJoin+assert — which
    * destroyed the keys' size estimate and forced the anti-join AND
    * the verdict semi-join to full sort-merge the SNAPSHOT on every
    * run (the measured 3× q64 / 1.6× q66 cost). The emitted plan is
    * back to the pre-guard clean anti-join; the typed error (same
    * message) now surfaces when the query is BUILT — the engine
    * compiles update snapshots eagerly anyway (reach loops, MERGE
    * probes), and the in-repo tests intercept around build+collect. */
  private def pairDupCheck(mk: DataFrame, keyCols: Seq[String],
      snapshot: DataFrame, propCols: Seq[String], op: String): Unit = {
    val d = pairDupVerdict(mk, keyCols, snapshot, propCols).head()
    if (d.getLong(0) > 0)
      throw new graft.ops.GraphContractViolation(
        s"pair-keyed $op on a duplicated (src, snk) pair — parallel " +
        "rows created by a map-keyed MERGE; address one row via its " +
        "discriminating property (map-keyed MERGE) or declare a " +
        s"rowKeyColumn. pair: (${d.getString(1)})")
  }

  private def compileSingle(sq: SingleQuery,
      inherited: Map[String, Binding], terminalIsReturn: Boolean,
      catalog: GraphCatalog,
      afterPart: (Int, Ctx) => Ctx = (_, c) => c,
      initial: Option[Ctx] = None): Ctx = {
    var ctx: Option[Ctx] = initial
    // paths read through nodes()/relationships() anywhere in the query
    // get witness arrays materialized at MATCH time
    val witnessVars = witnessNeeds(sq)
    val relVars = witnessNeeds(sq, rels = true)
    sq.parts.zipWithIndex.foreach { case (part, i) =>
      val isLast = i == sq.parts.size - 1
      val scope = ctx.map(_.scope).getOrElse(inherited)
      // per-hop predicates rewrite FIRST to filtered-frame synthetic
      // verbs (HopPred.rewrite), then unbounded [*]/[*1..] rels to
      // synthetic reach edges (Reach.rewrite; both no-ops without
      // one) — bounded var-length in the same part then goes through
      // the ordinary branch union; the incoming frame (if any) can
      // anchor-seed a reach endpoint whose variable it already binds
      val (msH, catH) = HopPred.rewrite(part.matches, catalog)
      val (ms, cat) = Reach.rewrite(msH, catH, ctx, witnessVars, relVars)
      val afterMatch0: Option[Ctx] =
        if (ms.isEmpty) ctx
        else if (!VarLength.hasVarLength(ms) &&
                 !NodeAlt.hasCross(cat.graph, ms))
          Some(compileMatches(ctx,
            Analyzer.resolvePart(cat.graph, scope, ms),
            cat, witnessVars))
        else Some(compileVarLength(ctx, scope, ms, cat, witnessVars))
      val afterCalls = part.calls.foldLeft(afterMatch0)(
        (c, cs) => Some(applyCall(c, cs, catalog)))
      // standalone RETURN / WITH / UNWIND (extension; parity rejects
      // at parse): one literal row with an empty scope — `RETURN 1+1`
      // runs like SQL's SELECT-without-FROM, `UNWIND [..] AS x`
      // generates rows from a literal list
      val afterMatch = afterCalls.getOrElse(Ctx(
        catalog.nodeDf(catalog.graph.nodes.head.label)
          .sparkSession.range(1).toDF("__row"),
        Map.empty))
      val afterUnwind = part.unwinds.foldLeft(afterMatch) {
        case (c, (ProcRows(proc), al)) => applyProcRows(c, proc, al, catalog)
        case (c, uw2) => applyUnwind(c, uw2)
      }
      ctx = Some(afterPart(i, compileProjection(afterUnwind, part.proj,
        isReturn = isLast && terminalIsReturn, catalog)))
    }
    ctx.get
  }

  /**
   * `CALL { [WITH imports] subquery }` (extension).
   *
   * Uncorrelated (no imports): the subquery runs ONCE; its value rows
   * cross-join the incoming rows — with a small subquery result this
   * is a broadcast nested loop over slim columns, Neo4j's semantics
   * exactly.
   *
   * Correlated: Neo4j executes the subquery per incoming row. The flat
   * equivalent: thread the imported node variables through every
   * subquery projection (they become implicit grouping keys, so
   * aggregation happens PER IMPORTED KEY = per invocation), compile
   * the subquery standalone with fresh scans binding the imports
   * (unique node ids make the re-scan equivalent), and join back on
   * the ids. An aggregating subquery left-joins (an invocation over
   * zero rows still returns its aggregate row) with Neo4j's fill-ins —
   * count/sum → 0, collect → [], everything else null; a
   * non-aggregating subquery inner-joins (zero rows eliminate the
   * outer row). SKIP/LIMIT inside a correlated subquery would be
   * per-invocation — not expressible flat — and are rejected.
   */
  private def applyCall(start: Option[Ctx], call: CallSub,
      catalog: GraphCatalog): Ctx = {
    if (call.imports.isEmpty) {
      val subDf = compile(call.sub, catalog)
      val newScope: Map[String, Binding] =
        subDf.columns.map(_ -> (ValueBinding: Binding)).toMap
      start match {
        case None =>
          if (!call.optional) Ctx(subDf, newScope)
          else {
            // OPTIONAL CALL as the first clause: an empty subquery
            // still yields ONE null row (Neo4j 5.24) — a TRUE-cond
            // left join from a literal row, no count() probe
            val seed = subDf.sparkSession.range(1).toDF("__optc")
            Ctx(seed.join(subDf, lit(true), "left").drop("__optc"),
              newScope)
          }
        case Some(c) =>
          val clash = subDf.columns.filter(c.scope.contains)
          if (clash.nonEmpty) throw new CypherBindingException(
            s"CALL output '${clash.head}' collides with an outer variable")
          if (!call.optional) Ctx(c.df.crossJoin(subDf), c.scope ++ newScope)
          else Ctx(c.df.join(subDf, lit(true), "left"),
            c.scope ++ newScope)
      }
    } else {
      val c = start.getOrElse(throw new CypherBindingException(
        "CALL imports variables but there is no outer scope"))
      val impDefs: Seq[(String, NodeDef)] = call.imports.map { a =>
        c.scope.get(a) match {
          case Some(NodeBinding(n)) => a -> n
          case Some(EdgeBinding(_)) => throw new CypherNotSupportedException(
            s"CALL import '$a' is a relationship — import its endpoint nodes")
          case Some(ValueBinding) => throw new CypherNotSupportedException(
            s"CALL import '$a' is a value — correlated CALL imports node " +
            "variables")
          case Some(PathBinding) => throw new CypherNotSupportedException(
            s"CALL import '$a' is a path — correlated CALL imports node " +
            "variables")
          case None =>
            throw new CypherBindingException(s"unknown variable '$a'")
        }
      }
      val inherited: Map[String, Binding] =
        impDefs.map { case (a, n) => a -> (NodeBinding(n): Binding) }.toMap
      val keys = impDefs.map { case (a, n) => pref(a, n.idColumn) }
      // one correlated branch → its keyed output frame: imports
      // threaded through every projection, per-invocation
      // ORDER BY/SKIP/LIMIT as a WindowGroupLimit rank filter over the
      // import keys (partial per-partition top-k before the shuffle)
      def compileBranch(subSingle: SingleQuery)
          : (DataFrame, Seq[String], Seq[RetItem]) = {
        val lastProj = subSingle.parts.last.proj
        if (lastProj.star) throw new CypherNotSupportedException(
          "RETURN * inside a correlated CALL subquery")
        val outNames = lastProj.items.map(outName)
        outNames.find(call.imports.contains).foreach(nm =>
          throw new CypherBindingException(
            s"CALL subquery returns '$nm', which is an imported variable"))
        outNames.find(c.scope.contains).foreach(nm =>
          throw new CypherBindingException(
            s"CALL output '$nm' collides with an outer variable"))
        val (threaded, pages) = threadImports(subSingle, call.imports)
        val sub = compileSingle(threaded, inherited,
          terminalIsReturn = false, catalog,
          afterPart = (i, cc) =>
            pages.get(i).map(applyCallPage(cc, _, keys)).getOrElse(cc))
        impDefs.foreach { case (a, n) =>
          sub.scope.get(a) match {
            case Some(NodeBinding(n2)) if n2.label == n.label =>
            case _ => throw new CypherBindingException(
              s"CALL import '$a' was lost or re-bound inside the subquery")
          }
        }
        outNames.foreach { nm =>
          sub.scope.get(nm) match {
            case Some(NodeBinding(_) | EdgeBinding(_)) =>
              throw new CypherNotSupportedException(
                s"CALL subquery returns whole entity '$nm' — project " +
                "its properties")
            case _ =>
          }
        }
        (sub.df.select(
          keys.zipWithIndex.map { case (k, i) =>
            col(k).as(s"__call_k$i") } ++ outNames.map(col): _*),
          outNames, lastProj.items)
      }
      // correlated CALL { … UNION … } (round 14; aggregating branches
      // round 15, VERDICT-r14 #6; grouped-aggregate + null-key fixes
      // round 16, ADVICE-r15 #2/#4): imports thread through EACH
      // branch; the keyed branch outputs union — UNION (non-ALL)
      // dedupes over (keys, outputs), i.e. per invocation — before
      // the ONE join back to the outer rows. A branch whose EVERY
      // RETURN item is an aggregate zero-fills PER BRANCH before the
      // union (the q41 zero-match machinery, keyed on the outer key
      // universe): Neo4j's contract gives one row per invocation from
      // such a branch even on zero matches (count/sum → 0, collect →
      // []), and the fill must precede the union because a column
      // aggregate in one branch may be plain in another. A branch
      // with GROUPING keys alongside the aggregate yields NO rows on
      // zero matches (Neo4j's grouped aggregation) — it passes
      // through unfilled, like a plain branch. The outer key universe
      // keeps its NULL-key bucket (an OPTIONAL-miss import still runs
      // the invocation in Neo4j — its all-aggregate branches return
      // count = 0 / collect = []), matched back via a null-safe join.
      call.sub match {
        case uq: UnionQuery =>
          lazy val outerKeys = c.df.select(keys.zipWithIndex.map {
              case (k, i) => col(k).as(s"__call_k$i") }: _*)
            .distinct().localCheckpoint(false)
          var anyAgg = false
          def go(q: Query): (DataFrame, Seq[String]) = q match {
            case sq: SingleQuery =>
              val (df2, names, items) = compileBranch(sq)
              if (items.isEmpty ||
                  !items.forall(it => containsAgg(it.expr))) (df2, names)
              else {
                anyAgg = true
                val kc = keys.indices.map(i => s"__call_k$i")
                var filled = outerKeys.join(df2, kc, "left")
                val types = filled.schema.fields
                  .map(f => f.name -> f.dataType).toMap
                items.zip(names).foreach { case (it, nm) =>
                  it.expr match {
                    case Agg("count", _, _, _) =>
                      filled = filled.withColumn(nm,
                        coalesce(col(nm), lit(0L).cast(types(nm))))
                    case Agg("sum", _, _, _) =>
                      filled = filled.withColumn(nm,
                        coalesce(col(nm), lit(0).cast(types(nm))))
                    case Agg("collect", _, _, _) =>
                      filled = filled.withColumn(nm,
                        coalesce(col(nm), array().cast(types(nm))))
                    case _ => // min/max/avg/stdev/… stay null (Neo4j)
                  }
                }
                (filled.select((kc.map(col) ++ names.map(col)): _*),
                  names)
              }
            case UnionQuery(l2, r2, all2) =>
              val (lf, ln) = go(l2); val (rf, rn) = go(r2)
              if (ln != rn) throw new CypherBindingException(
                s"UNION column mismatch: ${ln.mkString(",")} vs " +
                rn.mkString(","))
              checkUnionTypes(lf, rf)
              val u = lf.union(rf)
              (if (all2) u else u.distinct(), ln)
            case _ => throw new CypherNotSupportedException(
              "this CALL subquery form inside a correlated CALL")
          }
          val (subOut, outNames) = go(uq)
          // null-safe join-back when a fill ran: the filled null-key
          // bucket must reach the null-key outer rows
          val cond = keys.zipWithIndex.map { case (k, i) =>
            if (anyAgg) col(k) <=> col(s"__call_k$i")
            else col(k) === col(s"__call_k$i") }.reduce(_ && _)
          val joined = c.df.join(subOut, cond,
            if (call.optional || anyAgg) "left" else "inner")
            .drop(keys.indices.map(i => s"__call_k$i"): _*)
          return Ctx(joined,
            c.scope ++ outNames.map(_ -> (ValueBinding: Binding)))
        case _ =>
      }
      val subSingle: SingleQuery = call.sub match {
        case sq: SingleQuery => sq
        case _ => throw new CypherNotSupportedException(
          "this CALL subquery form inside a correlated CALL")
      }
      val (subOut, outNames, lastItems) = compileBranch(subSingle)
      // per-item Neo4j fill-in for aggregate rows over zero matches —
      // only when EVERY item is an aggregate (round 16, ADVICE-r15
      // #2): grouping keys alongside the aggregate mean Neo4j's
      // grouped aggregation yields no rows on zero matches, so the
      // invocation's outer row drops through the inner join like any
      // zero-row subquery
      val hasAgg = lastItems.nonEmpty &&
        lastItems.forall(it => containsAgg(it.expr))
      val cond = keys.zipWithIndex.map { case (k, i) =>
        col(k) === col(s"__call_k$i") }.reduce(_ && _)
      var joined = c.df.join(subOut, cond,
        if (hasAgg || call.optional) "left" else "inner")
        .drop(keys.indices.map(i => s"__call_k$i"): _*)
      if (hasAgg) {
        val types = joined.schema.fields.map(f => f.name -> f.dataType).toMap
        lastItems.zip(outNames).foreach { case (it, nm) =>
          it.expr match {
            case Agg("count", _, _, _) =>
              joined = joined.withColumn(nm,
                coalesce(col(nm), lit(0L).cast(types(nm))))
            case Agg("sum", _, _, _) =>
              joined = joined.withColumn(nm,
                coalesce(col(nm), lit(0).cast(types(nm))))
            case Agg("collect", _, _, _) =>
              joined = joined.withColumn(nm,
                coalesce(col(nm), array().cast(types(nm))))
            case _ => // min/max/avg/stdev/… stay null, like Neo4j
          }
        }
      }
      Ctx(joined, c.scope ++ outNames.map(_ -> (ValueBinding: Binding)))
    }
  }

  /** Threads the imported aliases through every projection of a
   *  correlated CALL subquery: each WITH/RETURN gets the missing
   *  imports appended as bare entity items, so they survive masking
   *  and join every implicit GROUP BY (per-invocation aggregation).
   *  DISTINCT is safe (keys included ⇒ per-invocation distinct);
   *  SKIP/LIMIT are per-invocation in Neo4j — rejected here. */
  /** Per-invocation SKIP/LIMIT stripped off a correlated CALL
   *  projection (the RETURN, or — round 8 — any intermediate WITH) —
   *  re-applied as a window rank filter partitioned by the import
   *  keys (Spark's WindowGroupLimit). `sortBy` names hidden sort
   *  columns threaded through the projection (so ORDER BY may
   *  reference unprojected fields, like any projection's ORDER BY);
   *  `hidden` lists those columns for the post-filter drop; `where`
   *  is the WITH's post-paging predicate (Neo4j applies WHERE after
   *  LIMIT on a WITH). */
  private final case class CallPage(sortBy: Seq[(String, Boolean)],
      skip: Option[Long], limit: Option[Long],
      hidden: Seq[String] = Seq.empty, where: Option[Expr] = None)

  private def threadImports(sq: SingleQuery,
      imports: Seq[String]): (SingleQuery, Map[Int, CallPage]) = {
    val pages = scala.collection.mutable.Map.empty[Int, CallPage]
    val last = sq.parts.size - 1
    val parts2 = sq.parts.zipWithIndex.map { case (part, i) =>
      val proj = part.proj
      val obItems = Vector.newBuilder[RetItem]
      val proj1 =
        if (proj.skip.isDefined || proj.limit.isDefined) {
          // per-invocation paging: ORDER BY is required ("top k per
          // invocation" has no defined order without it); the RETURN
          // of an aggregating subquery already yields one row per
          // invocation, so paging there stays an informative rejection
          if (proj.orderBy.isEmpty)
            throw new CypherNotSupportedException(
              "SKIP/LIMIT inside a correlated CALL subquery requires " +
              "ORDER BY (per-invocation paging)")
          if (i == last && proj.items.exists(it => containsAgg(it.expr)))
            throw new CypherNotSupportedException(
              "SKIP/LIMIT with aggregation on a correlated CALL " +
              "subquery's RETURN (the aggregate already returns one " +
              "row per invocation; page an intermediate WITH instead)")
          val taken = proj.items.map(outName).toSet ++ imports
          val sortBy = proj.orderBy.zipWithIndex.map { case (s, j) =>
            // sort keys that are already projected items reuse them;
            // anything else threads through as a hidden item — except
            // under DISTINCT, where a hidden item would change the
            // distinct row set (Cypher's own rule: ORDER BY after
            // DISTINCT may only sort by projected items)
            s.expr match {
              case Ref(a, None) if taken(a) => (a, s.desc)
              case _ if proj.distinct =>
                throw new CypherNotSupportedException(
                  "ORDER BY under DISTINCT inside a correlated CALL " +
                  "subquery must sort by projected items")
              case _ =>
                var nm = s"callob_$j"
                while (taken(nm)) nm = nm + "_"
                obItems += RetItem(s.expr, Some(nm))
                (nm, s.desc)
            }
          }
          pages(i) = CallPage(sortBy, proj.skip, proj.limit,
            hidden = obItems.result().flatMap(_.alias),
            where = proj.where)
          proj.copy(orderBy = Seq.empty, skip = None, limit = None,
            where = None)
        } else if (i == last) {
          // bare ORDER BY on the subquery RETURN: row order is
          // unobservable after the join-back — drop it
          proj.copy(orderBy = Seq.empty)
        } else proj
      if (proj1.star) part.copy(proj = proj1)
      else {
        val present = proj1.items.map(outName).toSet
        val missing = imports.filterNot(present)
          .map(a => RetItem(Ref(a, None), None))
        part.copy(proj =
          proj1.copy(items = proj1.items ++ obItems.result() ++ missing))
      }
    }
    (SingleQuery(parts2), pages.toMap)
  }

  /** Applies one [[CallPage]] to a compiled part frame: window rank
   *  over the import keys, the skip/limit band, the post-paging WHERE
   *  (Neo4j order: WITH … ORDER BY … LIMIT … WHERE), then drops the
   *  hidden sort columns. */
  private def applyCallPage(c: Ctx, pg: CallPage,
      keys: Seq[String]): Ctx = {
    val sortCols = pg.sortBy.map { case (nm, desc) =>
      // hidden sort items are plain value columns by construction;
      // an entity-named sort key sorts by its unique id
      val c0 = c.scope.get(nm) match {
        case Some(NodeBinding(n)) => col(pref(nm, n.idColumn))
        case _ => col(nm)
      }
      if (desc) c0.desc else c0.asc
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(sortCols: _*)
    val lo = pg.skip.getOrElse(0L)
    val hi = pg.limit.map(lo + _).getOrElse(Long.MaxValue)
    var df = c.df.withColumn("__call_rn", row_number().over(w))
      .where(col("__call_rn") > lo && col("__call_rn") <= hi)
      .drop("__call_rn")
    pg.where.foreach(wx =>
      df = df.filter(new ExprCompiler(c.scope, df).compile(wx)))
    Ctx(df.drop(pg.hidden: _*), c.scope -- pg.hidden)
  }

  /** UNWIND (extension): `explode` the list column into one row per
   *  element (empty / NULL lists yield no rows — Cypher's semantics and
   *  `explode`'s). The alias joins the scope as a plain value. */
  /** Schema procedures (round 13, extension): `CALL db.labels()` etc.
    * The graph schema is static configuration, so the procedure's rows
    * are LITERALS at compile time — one in-row explode of a literal
    * array of structs per incoming row (Neo4j's per-row CALL
    * multiplicity): no scan, no shuffle, schema-sized. Type names for
    * the `propertyTypes` columns come from the backing tables' Spark
    * schemas (lazy logical plans — reading a parquet footer at most);
    * `mandatory` is true for id columns and non-nullable backing
    * fields (parquet-backed fields are nullable, so typically only
    * ids), a documented approximation of Neo4j's per-instance scan. */
  private def applyProcRows(c: Ctx, proc: String, alias: String,
      catalog: GraphCatalog): Ctx = {
    val g = catalog.graph
    def typeName(dt: org.apache.spark.sql.types.DataType): String = {
      import org.apache.spark.sql.types._
      dt match {
        case StringType => "String"
        case LongType | IntegerType | ShortType | ByteType => "Long"
        case DoubleType | FloatType | (_: DecimalType) => "Double"
        case BooleanType => "Boolean"
        case DateType => "Date"
        case TimestampType | TimestampNTZType => "DateTime"
        case other => other.simpleString
      }
    }
    val rows: Seq[Column] = proc match {
      case "db.labels" =>
        (g.nodes.map(_.label) ++ g.nodes.flatMap(_.subLabels.keys))
          .distinct.sorted.map(l => struct(lit(l).as("label")))
      case "db.relationshiptypes" =>
        g.edges.map(_.verb).distinct.sorted
          .map(v => struct(lit(v).as("relationshipType")))
      case "db.propertykeys" =>
        (g.nodes.flatMap(n => n.idColumn +: n.properties) ++
         g.edges.flatMap(e => Seq(e.srcIdColumn, e.sinkIdColumn) ++
           e.properties))
          .distinct.sorted.map(k => struct(lit(k).as("propertyKey")))
      case "db.schema.nodetypeproperties" =>
        g.nodes.sortBy(_.label).flatMap { n =>
          val sch = catalog.nodeDf(n.label).schema
          (n.idColumn +: n.properties).distinct.sorted.map { pr =>
            val f = sch.fields.find(_.name == pr)
            struct(
              lit(n.label).as("nodeType"),
              lit(pr).as("propertyName"),
              array(lit(f.map(x => typeName(x.dataType))
                .getOrElse("Any"))).as("propertyTypes"),
              lit(pr == n.idColumn || f.exists(!_.nullable))
                .as("mandatory"))
          }
        }
      case "db.schema.reltypeproperties" =>
        // one row per (verb, property); a verb declared over several
        // endpoint triples unions its property sets. Property-less
        // verbs emit one null-property row (Neo4j's shape).
        g.edges.groupBy(_.verb).toSeq.sortBy(_._1).flatMap {
          case (verb, defs) =>
            val props = defs.flatMap(e =>
              e.properties.map(pr => (pr, e))).distinct
            if (props.isEmpty)
              Seq(struct(lit(verb).as("relType"),
                lit(null).cast("string").as("propertyName"),
                lit(null).cast("array<string>").as("propertyTypes"),
                lit(false).as("mandatory")))
            else props.map(_._1).distinct.sorted.map { pr =>
              val types = defs.filter(_.properties.contains(pr)).map(e =>
                catalog.edgeDf(e).schema.fields.find(_.name == pr)
                  .map(x => typeName(x.dataType)).getOrElse("Any"))
                .distinct.sorted
              struct(lit(verb).as("relType"), lit(pr).as("propertyName"),
                array(types.map(lit): _*).as("propertyTypes"),
                lit(false).as("mandatory"))
            }
        }
      case other => throw new CypherNotSupportedException(
        s"procedure $other(...)")
    }
    Ctx(c.df.withColumn(alias, explode(array(rows: _*))),
      c.scope + (alias -> ValueBinding))
  }

  private def applyUnwind(c: Ctx, uw: (Expr, String)): Ctx = {
    val (ex, alias) = uw
    if (alias.startsWith("__"))
      throw new CypherNotSupportedException(
        s"alias '$alias' — names starting with __ are reserved")
    if (c.scope.contains(alias))
      throw new CypherBindingException(
        s"UNWIND alias '$alias' is already bound")
    val ec = new ExprCompiler(c.scope, c.df)
    ec.staticType(ex) match {
      case Some(_: ArrayType) | None => // unknown = permissive, like Refs
      case Some(t) => throw new CypherTypeException(
        s"UNWIND requires a list, got ${t.simpleString}")
    }
    Ctx(c.df.withColumn(alias, explode(ec.compile(ex))),
      c.scope + (alias -> ValueBinding))
  }

  /** Register the identity edge frames zero-length branches need: one
    * (id, id) row per node of the label, behind the branch's unique
    * marker verb — [[VarLength.expand]] hands back the (verb, label)
    * pairs. Map-only over the node scan; never shuffled. */
  private def withZeroEdges(catalog: GraphCatalog,
      zeros: Seq[(String, String)]): GraphCatalog =
    if (zeros.isEmpty) catalog
    else catalog.withExtraEdges(zeros.map { case (verb, l) =>
      val n = catalog.graph.node(l)
      val df = catalog.nodeDf(l).select(col(n.idColumn).as("__src"),
        col(n.idColumn).as("__dst"))
      (EdgeDef(verb, l, l, "__src", "__dst", Seq.empty,
        s"__zero_$verb"), df)
    })

  /**
   * Bounded variable-length relationships (extension): the match set is
   * the UNION ALL over path lengths lo..hi, each length unrolled into a
   * fixed chain of single-hop relationships through the ordinary join
   * builder — so each branch gets scan-merge, label inference and the
   * per-path relationship-uniqueness inequalities (same-type unrolled
   * hops pair up in [[Analyzer.resolvePart]]) for free. Lengths with no
   * schema-consistent resolution contribute zero rows (dropped at
   * compile time); if NO length resolves, the first binding error is
   * the query's error. Anonymous interior nodes are pruned before the
   * union so all branches share one schema; aggregation and
   * ORDER BY/SKIP/LIMIT in the projection then run over the UNIONED
   * match set (not per branch).
   */
  private def compileVarLength(
      start: Option[Ctx], scope: Map[String, Binding],
      matches: Seq[MatchClause], catalog: GraphCatalog,
      witnessVars: Set[String] = Set.empty): Ctx = {
    // shortestPath() (extension): reduce the branch union to the MIN
    // relationship count per distinct binding of everything else —
    // restricted to a clause's sole, non-optional pattern so "everything
    // else" is exactly the endpoints plus the inherited scope.
    // allShortestPaths() keeps EVERY row achieving that minimum instead
    // (one row per minimal path), same restrictions.
    val shortestOne = matches.exists(_.parts.exists(_.shortest))
    val shortestAll = matches.exists(_.parts.exists(_.allShortest))
    val shortest = shortestOne || shortestAll
    // GQL path selectors with k > 1 (round 14): rank the bounded
    // branch union per binding — SHORTEST k / ANY k = the k first
    // rows by (length, witnesses), SHORTEST k GROUPS = the k first
    // length groups (dense rank). k = 1 forms arrive as the booleans.
    val selector: Option[PathSelector] =
      matches.flatMap(_.parts.flatMap(_.selector)).headOption
    if (shortest || selector.isDefined) {
      val fn =
        if (selector.isDefined) "a path selector"
        else if (shortestAll) "allShortestPaths()" else "shortestPath()"
      if (matches.size != 1 || matches.head.parts.size != 1)
        throw new CypherNotSupportedException(
          s"$fn must be its MATCH clause's only pattern")
      if (matches.head.optional)
        throw new CypherNotSupportedException(s"$fn in OPTIONAL MATCH")
    }
    val shortestVar: Option[String] =
      if (shortest || selector.isDefined) matches.head.parts.head.pathVar
      else None
    // --- OPTIONAL clauses that THEMSELVES need expansion: Cypher is
    // left ⟕ (B1 ∪ … ∪ Bk) — the left row gets its null row only when
    // NO branch matches. The joint per-branch path would union
    // per-branch LEFT JOINS instead, emitting a spurious null row for
    // every branch that fails to match a left row some other branch
    // matched. (A left join DOES distribute over a union-all of its
    // LEFT side, so expansion confined to non-optional clauses keeps
    // the joint path.) Chunked processing: consecutive safe clauses
    // compile jointly; each expansion-bearing OPTIONAL clause compiles
    // standalone-union-then-one-left-join.
    def needsExp(m: MatchClause): Boolean =
      VarLength.hasVarLength(Seq(m)) ||
        NodeAlt.hasCross(catalog.graph, Seq(m))
    if (!shortest && matches.exists(m => m.optional && needsExp(m))) {
      var ctx: Option[Ctx] = start
      val buf = scala.collection.mutable.ArrayBuffer[MatchClause]()
      def flush(): Unit = if (buf.nonEmpty) {
        val chunk = buf.toVector; buf.clear()
        val sc = ctx.map(_.scope).getOrElse(scope)
        ctx = Some(
          if (chunk.exists(needsExp))
            compileVarLength(ctx, sc, chunk, catalog, witnessVars)
          else compileMatches(ctx,
            Analyzer.resolvePart(catalog.graph, sc, chunk), catalog,
            witnessVars))
      }
      matches.foreach { m =>
        if (m.optional && needsExp(m)) {
          flush()
          // first-clause OPTIONAL MATCH over an expansion (same
          // literal-row seed as the plain-clause path)
          val c = ctx.getOrElse(Ctx(
            catalog.nodeDf(catalog.graph.nodes.head.label)
              .sparkSession.range(1).toDF("__row"), Map.empty))
          ctx = Some(optionalBranchUnion(c, m, catalog, witnessVars))
        } else buf += m
      }
      flush()
      return ctx.get
    }
    // a rel-LIST alias (round 15) may name only ONE var-length rel —
    // check PRE-expansion (after expansion one alias's hops are
    // indistinguishable from a second rel's)
    locally {
      val las = matches.flatMap(_.parts.flatMap(_.rels.flatMap(
        _.listAlias)))
      las.diff(las.distinct).distinct.foreach(lv =>
        throw new CypherBindingException(
          s"rel-list alias '$lv' is bound by two variable-length " +
          "relationships"))
    }
    val (expanded0, zeroEdges) = VarLength.expand(matches, catalog.graph)
    val cat2 = withZeroEdges(catalog, zeroEdges)
    val (branches, crossAlt) = NodeAlt.expand(cat2.graph, expanded0)
    val compiled = Vector.newBuilder[Ctx]
    var firstErr: Option[CypherException] = None
    // two-pass so nodes(p)/relationships(p) arrays get ONE element
    // shape across every surviving branch (lengths differ per branch;
    // the union needs identical array types)
    val resolvedBranches = branches.flatMap { ms =>
      try Some(ms -> Analyzer.resolvePart(cat2.graph, scope, ms))
      catch {
        case e: CypherBindingException =>
          if (firstErr.isEmpty) firstErr = Some(e)
          None
      }
    }
    val shapes =
      pathShapes(resolvedBranches.flatMap(_._2), cat2, witnessVars)
    // missing-property-is-null across alternation branches (round 14):
    // openCypher reads an absent property as null, so a WHERE over a
    // property only SOME branches carry must see the null-filled union
    // namespace — not drop the lacking branch at its per-branch
    // unknown-property rejection (`WHERE r.x IS NULL` keeps the branch
    // lacking x). Mixed-presence conjuncts are stripped from each
    // non-optional clause's per-branch WHERE and conjoined ONCE over
    // the unioned frame below; branch-local conjuncts (sub-label
    // discriminators, uniformly-present predicates) keep their
    // per-branch placement. Catalyst re-pushes eligible deferred
    // conjuncts through the union, so plans don't regress. OPTIONAL
    // clauses (round 15, ADVICE-r14) can't defer — their WHERE is the
    // left-join condition — so their mixed-presence conjuncts are
    // instead NULL-FILLED per branch (absent property ref → NULL
    // literal) and stay in the filter-before-left-join placement.
    val propPresence: Seq[Map[String, Set[String]]] =
      resolvedBranches.map { case (_, rss) =>
        val m = scala.collection.mutable.Map.empty[String, Set[String]]
        rss.foreach { rm =>
          rm.rels.foreach { r =>
            m(r.alias) = m.getOrElse(r.alias, Set.empty) ++
              r.edge.properties + r.edge.srcIdColumn + r.edge.sinkIdColumn
          }
          rm.nodeLabels.foreach { case (a, l) =>
            val nd = cat2.graph.node(l)
            m(a) = m.getOrElse(a, Set.empty) ++ nd.properties + nd.idColumn
          }
        }
        m.toMap
      }
    def propRefs(x: Any): Set[(String, String)] = x match {
      case Ref(a, Some(p)) => Set((a, p))
      case s: Iterable[_]  => s.flatMap(propRefs).toSet
      case p: Product      => p.productIterator.flatMap(propRefs).toSet
      case _               => Set.empty
    }
    def mixedPresence(e: Expr): Boolean = propRefs(e).exists {
      case (a, p) =>
        val knowing = propPresence.filter(_.contains(a))
        knowing.exists(m => !m(a)(p)) && knowing.exists(m => m(a)(p))
    }
    def conjunctsOf(e: Expr): Seq[Expr] = e match {
      case Bin(BinOp.And, l, r) => conjunctsOf(l) ++ conjunctsOf(r)
      case x                    => Seq(x)
    }
    // only USER-written conjuncts may defer: resolution-added sub-label
    // discriminator conjuncts are branch-SPECIFIC (disjunctive across
    // the union — deferring one would filter every OTHER branch's
    // rows), while a user conjunct applies to every match row whatever
    // its branch. A user conjunct structurally equal to a discriminator
    // strips both copies — the deferred global application is exactly
    // the user's demand.
    val deferredWhere = scala.collection.mutable.LinkedHashSet.empty[Expr]
    val strippedBranches = resolvedBranches.zipWithIndex.map {
      case ((ms, rss), bi) =>
      (ms, ms.zip(rss).map { case (mc, rm) =>
        val deferable: Set[Expr] = mc.where.map(conjunctsOf)
          .getOrElse(Seq.empty).filter(mixedPresence).toSet
        rm.where match {
          case Some(w) if !rm.optional && deferable.nonEmpty =>
            val (defer, keep) = conjunctsOf(w).partition(deferable)
            if (defer.isEmpty) rm
            else {
              deferredWhere ++= defer
              rm.copy(where = keep.reduceOption(Bin(BinOp.And, _, _)))
            }
          case Some(w) if rm.optional && deferable.nonEmpty =>
            // OPTIONAL clauses can't defer (the WHERE is part of the
            // left-join condition — a post-union filter would DROP the
            // pattern-misses instead of nulling them). Round 15
            // (ADVICE-r14): null-fill instead — rewrite each mixed-
            // presence conjunct per branch, replacing a property ref
            // this branch's namespace lacks with the NULL literal
            // (openCypher's absent-property value), and keep it in
            // the branch's own filter-before-left-join placement.
            val here = propPresence(bi)
            val rw = conjunctsOf(w).map { c =>
              if (!deferable(c)) c
              else ast.transformUp(c) {
                case r @ Ref(a, Some(p))
                    if here.get(a).exists(!_(p)) => Lit(null)
                case x => x
              }
            }
            rm.copy(where = rw.reduceOption(Bin(BinOp.And, _, _)))
          case _ => rm
        }
      })
    }
    strippedBranches.foreach { case (ms, rs) =>
      try {
        var c = compileMatches(start, rs, cat2, witnessVars, shapes)
        // unnamed shortestPath still needs the branch length to reduce
        // on — ride it in an internal column, dropped after the min
        // (zero-hop identity markers count as 0, the length(p) rule)
        if ((shortest || selector.isDefined) && shortestVar.isEmpty)
          c = c.copy(df = c.df.withColumn("__shortest_len",
            lit(ms.map(_.parts.map(VarLength.hopCount).sum).sum.toLong)))
        compiled += c
      } catch {
        case e: CypherBindingException =>
          if (firstErr.isEmpty) firstErr = Some(e)
      }
    }
    val ctxs = compiled.result()
    if (ctxs.isEmpty) throw firstErr.get
    val (unioned0, vis, cols) = unionBranchCtxs(ctxs, crossAlt)
    // rel-LIST variable columns (round 15): per-path hop data like the
    // witness arrays — never part of the binding key for shortest /
    // selector reductions; they ride (and order ties) exactly as
    // witnesses do
    val relListCols: Seq[String] = resolvedBranches.flatMap(_._2)
      .flatMap(rm => rm.relLists ++ rm.nodeLists).distinct
      .filter(cols.contains)
    // deferred mixed-presence WHERE conjuncts: compiled over the merged
    // scope's null-filled union namespace (IS NULL keeps the branch
    // lacking the property; ordinary comparisons null-filter it —
    // 3-valued, same as any null property)
    val unioned = deferredWhere.foldLeft(unioned0)((d, e) =>
      d.where(new ExprCompiler(vis, d).compile(e)))
    if (!shortest && selector.isDefined) {
      // selector ranking: window over the binding key (nodes reduce
      // to their id columns; witness arrays and dependent property
      // columns ride, ordering the ties deterministically). Lowered
      // to row_number/dense_rank -> Spark's WindowGroupLimit prunes
      // per-partition before the shuffle for the row_number forms.
      val sel = selector.get
      val lenCol = shortestVar.getOrElse("__shortest_len")
      val others = cols.filterNot(_ == lenCol)
      val depCols: Set[String] = vis.collect {
        case (a, NodeBinding(n)) =>
          n.properties.filterNot(_ == n.idColumn).map(p => pref(a, p))
      }.flatten.toSet
      val witCols: Seq[String] = shortestVar.toSeq.flatMap(pv =>
        Seq(pref(pv, "__nodes"), pref(pv, "__rels")))
        .filter(cols.contains) ++ relListCols
      val keyCols = others.filterNot(c => depCols(c) || witCols.contains(c))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
      val ranked = sel.kind match {
        case "groups" =>
          unioned.withColumn("__sel_rk",
            dense_rank().over(w.orderBy(col(lenCol))))
        case _ =>
          unioned.withColumn("__sel_rk", row_number().over(w.orderBy(
            (lenCol +: witCols).map(col): _*)))
      }
      val kept = ranked.where(col("__sel_rk") <= sel.k).drop("__sel_rk")
      Ctx(if (shortestVar.isDefined) kept
          else kept.drop("__shortest_len"), vis)
    }
    else if (!shortest) Ctx(unioned, vis)
    else {
      val lenCol = shortestVar.getOrElse("__shortest_len")
      val others = cols.filterNot(_ == lenCol)
      // Slim binding key: a node's property columns are functionally
      // dependent on its id column, so the reduction groups on the id
      // columns (plus any non-node columns — WITH values, edge fields)
      // and carries the dependent properties through first() — exact,
      // because every row of a group holds identical values. Grouping
      // on all visible columns instead hashes/shuffles wide string
      // keys and was the whole cost of q44 (8-column key vs 2 ids).
      val depCols: Set[String] = vis.collect {
        case (a, NodeBinding(n)) =>
          n.properties.filterNot(_ == n.idColumn).map(p => pref(a, p))
      }.flatten.toSet
      // nodes(p)/relationships(p) witness arrays (round 12): per-path
      // hop data, NOT part of the binding identity — excluded from the
      // binding key. allShortestPaths rows keep their OWN witnesses;
      // shortestPath picks the reduced row's witnesses through the
      // struct-min below (minimal length first, then the smallest
      // (nodes, rels) arrays — a total, deterministic order).
      val witCols: Seq[String] = shortestVar.toSeq.flatMap(pv =>
        Seq(pref(pv, "__nodes"), pref(pv, "__rels")))
        .filter(cols.contains) ++ relListCols
      val keyCols =
        others.filterNot(c => depCols(c) || witCols.contains(c))
      val carried = others.filter(depCols)
      val reduced =
        if (shortestOne) {
          // min length per binding; also collapses same-length paths
          // through different interior nodes (Cypher: ONE shortest path
          // per binding). One partially-aggregated shuffle on the slim
          // binding key — no per-path state. With witnesses, the min
          // rides a (len, nodes, rels) struct so the kept arrays come
          // from THE reduced row, never mixed across branches.
          if (witCols.isEmpty)
            unioned.groupBy(keyCols.map(col): _*)
              .agg(min(col(lenCol)).as(lenCol),
                carried.map(c => first(col(c)).as(c)): _*)
              .select(cols.map(col): _*)
          else
            unioned.groupBy(keyCols.map(col): _*)
              .agg(min(struct((lenCol +: witCols).map(col): _*)).as("__w"),
                carried.map(c => first(col(c)).as(c)): _*)
              .select(cols.map(c =>
                if (c == lenCol || witCols.contains(c))
                  col("__w").getField(c).as(c)
                else col(c)): _*)
        } else {
          // allShortestPaths: keep every row at the per-binding minimum
          // (same-length paths through different interiors stay distinct
          // rows). One window shuffle on the slim binding key; no dedup.
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keyCols.map(col): _*)
          unioned.withColumn("__min_len", min(col(lenCol)).over(w))
            .where(col(lenCol) === col("__min_len"))
            .select(cols.map(col): _*)
        }
      Ctx(if (shortestVar.isDefined) reduced
          else reduced.drop("__shortest_len"), vis)
    }
  }

  /**
   * Branch agreement + merged entity namespaces + null-filled UNION ALL
   * over compiled pattern branches (var-length lengths, [:A|B] verb
   * alternatives, cross-table label alternatives).
   *
   * Drops the anonymous interior aliases; the named surface must agree
   * across branches (labeled endpoints guarantee it; an endpoint whose
   * inferred label varies by length has no single property namespace).
   * A BOUND rel alias may differ across branches — a type alternation
   * `[r:A|B]` — as long as every branch's edge shares the endpoint
   * labels and the src/sink id column names: the union widens `r`'s
   * namespace to the UNION of the alternatives' properties,
   * null-filling what a branch's type lacks (openCypher's
   * missing-property-is-null rule). A node alias in `crossAlt` — a
   * cross-table label alternation `(n:A|B)` — likewise merges over the
   * union property namespace, with a synthesized tagged identity
   * column [[NodeAlt.MergedIdColumn]] ("label:id") added per branch so
   * DISTINCT / implicit grouping / count(DISTINCT n) never conflate id
   * values from different tables' namespaces. A WHERE referencing a
   * property only some branches carry is DEFERRED by the caller
   * (compileVarLength's mixed-presence conjunct stripping, round 14)
   * and applied over this union's null-filled columns — so `IS NULL`
   * over the absent property keeps the lacking branch's rows
   * (openCypher's missing-property-is-null rule), and ordinary
   * comparisons null-filter it.
   *
   * Returns (unioned frame, merged visible scope, canonical columns).
   * Non-reserved engine columns already on a branch frame (e.g. the
   * `__bnd_*` boundary keys of [[optionalBranchUnion]]) ride through:
   * canonical columns are the HEAD branch's columns minus the anonymous
   * `__unnamed_*` namespaces.
   */
  private def unionBranchCtxs(ctxs: Seq[Ctx], crossAlt: Set[String])
      : (DataFrame, Map[String, Binding], Seq[String]) = {
    // cross-table alternation aliases whose surviving branches resolved
    // to DIFFERENT tables: synthesize the tagged identity column
    val altDefs: Map[String, Seq[NodeDef]] = crossAlt.iterator.map { a =>
      a -> ctxs.flatMap(_.scope.get(a)).collect {
        case NodeBinding(n) => n }.distinct
    }.filter(_._2.size > 1).toMap
    val ctxs2 = ctxs.map { c =>
      altDefs.keys.foldLeft(c) { (cc, a) =>
        cc.scope(a) match {
          case NodeBinding(d) =>
            cc.copy(df = cc.df.withColumn(pref(a, NodeAlt.MergedIdColumn),
              concat(lit(d.label + ":"),
                col(pref(a, d.idColumn)).cast(StringType))))
          case _ => cc
        }
      }
    }
    def visibleScope(c: Ctx) = c.scope.filterNot(_._1.startsWith("__unnamed_"))
    val vis0 = visibleScope(ctxs2.head)
    def nonEdgeSig(s: Map[String, Binding]): Map[String, String] = s.map {
      case (a, NodeBinding(_)) if altDefs.contains(a) => a -> "altnode"
      case (a, EdgeBinding(e)) =>
        a -> s"edge:${e.fromLabel}->${e.toLabel}:${e.srcIdColumn}/${e.sinkIdColumn}"
      case (a, b) => a -> bindingKey(b)
    }
    val sig = nonEdgeSig(vis0)
    ctxs2.tail.foreach { c =>
      if (nonEdgeSig(visibleScope(c)) != sig)
        throw new CypherNotSupportedException(
          "pattern-branch endpoints must resolve to the same label in " +
          "every branch (var-length lengths / [:A|B] alternatives) — " +
          "annotate the endpoint nodes")
    }
    // merged scope: union entity namespaces across branches per alias
    val vis: Map[String, Binding] = vis0.map {
      case (a, NodeBinding(_)) if altDefs.contains(a) =>
        val defs = altDefs(a)
        val props = defs.flatMap(d => d.idColumn +: d.properties).distinct
        a -> NodeBinding(NodeDef(defs.map(_.label).mkString("|"),
          NodeAlt.MergedIdColumn, props,
          s"__alt_${defs.map(_.label).mkString("_")}"))
      case (a, EdgeBinding(e0)) =>
        val defs = ctxs2.flatMap(_.scope.get(a)).collect {
          case EdgeBinding(e) => e }.distinct
        if (defs.size == 1) a -> EdgeBinding(e0)
        else {
          val props = defs.flatMap(_.properties).distinct
          val verbs = defs.map(_.verb).distinct
          a -> EdgeBinding(EdgeDef(verbs.mkString("|"), e0.fromLabel,
            e0.toLabel, e0.srcIdColumn, e0.sinkIdColumn, props,
            s"__alt_${verbs.mkString("_")}"))
        }
      case kv => kv
    }
    // canonical columns = head's, plus any merged-entity property
    // columns a branch lacks (null-filled, typed from the first
    // branch that carries the column)
    val headCols = ctxs2.head.df.columns.filterNot(
      _.startsWith("____unnamed_")).toSeq
    val mergedEntityCols: Seq[String] = vis.toSeq.collect {
      case (a, EdgeBinding(e)) => entityCols(EdgeBinding(e)).map(pref(a, _))
      case (a, b @ NodeBinding(_)) if altDefs.contains(a) =>
        entityCols(b).map(pref(a, _))
    }.flatten
    val cols =
      (headCols ++ mergedEntityCols.filterNot(headCols.contains)).distinct
    val colType: Map[String, DataType] = cols.map { c =>
      val ts = ctxs2.flatMap(x => x.df.schema.fields.find(_.name == c))
        .map(_.dataType).distinct
      if (ts.size > 1) throw new CypherBindingException(
        s"pattern-branch column '$c' has diverging types across " +
        s"branches (${ts.map(_.simpleString).mkString(" vs ")}) — the " +
        "alternatives' shared properties must store one type")
      c -> ts.headOption.getOrElse(NullType)
    }.toMap
    val unioned = ctxs2.map { c =>
      val have = c.df.columns.toSet
      c.df.select(cols.map(n =>
        if (have(n)) col(n) else lit(null).cast(colType(n)).as(n)): _*)
    }.reduce(_ union _)
    (unioned, vis, cols)
  }

  /**
   * OPTIONAL MATCH whose clause needs branch expansion (var-length
   * unrolling, relationship-type alternation, cross-table label
   * alternation). Cypher's semantics are left ⟕ (B1 ∪ … ∪ Bk): a left
   * row gets its single null row only when NO branch matches. The
   * optional side compiles standalone per branch — exactly the
   * single-branch optional fork in [[compileMatches]] — the branches
   * union with null-filled namespaces, and ONE left join applies the
   * boundary conditions plus the clause WHERE, which filters the
   * optional side before the join (Cypher's rule, same as the
   * reference's plan fork — reference: LogicalPlan.cs:370-408).
   *
   * Boundary keys: a branch's join-back columns live on its OWN edges
   * (often anonymous `__unnamed_*` hops that the union strips), so each
   * branch aliases its j-th boundary key to a uniform `__bnd_j` column
   * before the union. The boundary SHAPE — which outer alias anchors
   * position j — must agree across branches (first/last hops of every
   * unrolling touch the same outer endpoints); then one condition
   * `∧ⱼ outerⱼ = __bnd_j` serves every branch's rows.
   */
  private def optionalBranchUnion(c: Ctx, m: MatchClause,
      catalog0: GraphCatalog,
      witnessVars: Set[String] = Set.empty): Ctx = {
    val (expanded0, zeroEdges) =
      VarLength.expand(Seq(m.copy(optional = false)), catalog0.graph)
    val catalog = withZeroEdges(catalog0, zeroEdges)
    val schema = catalog.graph
    val (branches, crossAlt) = NodeAlt.expand(schema, expanded0)
    final case class Br(ctx: Ctx, outer: Seq[Column], sig: Seq[String])
    val compiled = Vector.newBuilder[Br]
    var firstErr: Option[CypherException] = None
    // two-pass so nodes(p)/relationships(p) arrays get ONE element
    // shape across every surviving branch (the compileVarLength rule)
    val resolvedBrs = branches.flatMap { ms =>
      try Some(Analyzer.resolvePart(schema, c.scope, ms).head)
      catch {
        case e: CypherBindingException =>
          if (firstErr.isEmpty) firstErr = Some(e)
          None
      }
    }
    val shapes = pathShapes(resolvedBrs, catalog, witnessVars)
    resolvedBrs.foreach { rm =>
      try {
        val newNodes: Seq[(String, Binding)] = rm.nodeOrder
          .filterNot(c.scope.contains)
          .map(a => a -> (NodeBinding(schema.node(rm.nodeLabels(a))): Binding))
        val newRels: Seq[(String, Binding)] =
          rm.rels.map(r => r.alias -> (EdgeBinding(r.edge): Binding))
        val newEntities = newNodes ++ newRels
        val newSet = newEntities.map(_._1).toSet
        val merged = mergeMap(rm, newNodes.map(_._1).toSet, schema)
        val innerConds = rm.rels
          .flatMap(relConds(_, rm.nodeLabels, schema, merged))
          .filter(cd => newSet(cd.a) && newSet(cd.b))
        val optDf0 = joinEntities(None, Set.empty,
          groupsByPattern(rm, newEntities, merged), innerConds, catalog)
        val optDf1 = rm.inequalityPairs
          .filter(p => newSet(p._1.alias) && newSet(p._2.alias))
          .foldLeft(optDf0)((d, p) => d.filter(inequalityCond(p)))
        // named paths (round 12): per-branch length literal + witness
        // arrays ride the branch frame, null-filling through the one
        // left join below
        val optDf = {
          val withLens =
            rm.pathVars.foldLeft(optDf1) { case (d, (a, len)) =>
              d.withColumn(a, len match {
                case Left(nn)    => lit(nn.toLong)
                case Right(dcol) => col(dcol)
              })
            }
          val (withFaces, outerFaces) =
            joinOuterWitnessFaces(withLens, rm, newSet, shapes, catalog)
          materializeWitnesses(withFaces, rm, shapes, schema,
              witnessColName(outerFaces))
            .drop(withFaces.columns.filter(_.startsWith("__wf_")): _*)
        }
        // boundary: (outer node key, this branch's edge key column),
        // in pattern order — src before snk per rel
        val boundary: Seq[(String, Column, String)] = rm.rels.flatMap { r =>
          val src =
            if (newSet(r.srcNode)) None
            else Some((s"${r.srcNode}/src",
              nodeKey(r.srcNode, schema.node(rm.nodeLabels(r.srcNode))),
              pref(r.alias, r.edge.srcIdColumn)))
          val snk =
            if (newSet(r.snkNode)) None
            else Some((s"${r.snkNode}/snk",
              nodeKey(r.snkNode, schema.node(rm.nodeLabels(r.snkNode))),
              pref(r.alias, r.edge.sinkIdColumn)))
          Seq(src, snk).flatten
        }
        val withKeys = boundary.zipWithIndex.foldLeft(optDf) {
          case (d, ((_, _, branchCol), j)) =>
            d.withColumn(s"__bnd_$j", col(branchCol))
        }
        compiled += Br(Ctx(withKeys, newEntities.toMap ++
          rm.pathVars.map { case (a, _) => a -> (PathBinding: Binding) } ++
          (rm.relLists ++ rm.nodeLists).map(lv =>
            lv -> (ValueBinding: Binding))),
          boundary.map(_._2), boundary.map(_._1))
      } catch {
        case e: CypherBindingException =>
          if (firstErr.isEmpty) firstErr = Some(e)
      }
    }
    val brs = compiled.result()
    if (brs.isEmpty) throw firstErr.get
    if (brs.map(_.sig).distinct.size > 1)
      throw new CypherNotSupportedException(
        "OPTIONAL MATCH branches disagree on which bound variables the " +
        "pattern joins back to — annotate the endpoints so every " +
        "alternative anchors the same outer variables")
    val (unionDf, vis, _) = unionBranchCtxs(brs.map(_.ctx), crossAlt)
    val combinedScope = c.scope ++ vis
    val probe = c.df.crossJoin(unionDf)
    val whereCond = m.where.map(
      new ExprCompiler(combinedScope, probe).compile(_))
    val boundaryCond = brs.head.outer.zipWithIndex.map {
      case (o, j) => o === col(s"__bnd_$j")
    }
    val onCond = (boundaryCond ++ whereCond)
      .reduceOption(_ && _).getOrElse(lit(true))
    val dropKeys = brs.head.outer.indices.map(j => s"__bnd_$j")
    Ctx(dropKeys.foldLeft(c.df.join(unionDf, onCond, "left"))(_.drop(_)),
      combinedScope)
  }

  private def bindingKey(b: Binding): String = b match {
    case NodeBinding(n) => s"node:${n.label}"
    case EdgeBinding(e) => s"edge:${e.key}"
    case ValueBinding   => "value"
    case PathBinding    => "path"
  }
}
