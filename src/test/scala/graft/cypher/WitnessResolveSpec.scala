package graft.cypher

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Fixpoint

/**
 * Witness resolution on the kernel ([[Reach.witnessFrame]] over
 * [[graft.ops.Fixpoint.resolve]]) against the DataFrame assembly it
 * replaced — posexplode, dimension joins and an ordered re-collect —
 * copied below verbatim as the reference. Both executors, on random
 * graphs with duplicate node ids, parallel edges with differing
 * properties, null properties, missing node rows, null ids inside a
 * path, tagged heterogeneous ids and a `<-` pattern; rows, schemas and
 * nullability must be equal.
 */
class WitnessResolveSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  // ------------------------- the reference: the DataFrame assembly
  private object Ref {
    /** Witness id array → the canonical node-struct array: posexplode
      * the positions, join the node table ONCE, re-collect in order. */
    def widsToNodes(ids: DataFrame, node: NodeDef, ndf: DataFrame,
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
          struct(col("__pos"), Reach.witnessElem(node, ndf).as("__e"))
            .as("__pe"): _*)
        .groupBy(keys.map(col): _*)
        .agg(transform(sort_array(collect_list(col("__pe"))),
          x => x.getField("__e")).as("__nodes0"))
        .select(keys.map(col) :+
          col("__nodes0").cast(Reach.witnessArrayType(node, ndf))
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
    def widsToNodesRels(ids: DataFrame, node: NodeDef,
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
            Reach.witnessElem(node, ndf).as("__e"))).as("__pn"),
          min(when(col("__nxt").isNotNull, estruct)).as("__em"),
          first(col("__nxt").isNotNull).as("__hasHop"))
      perPos.groupBy(keys.map(col): _*)
        .agg(transform(sort_array(collect_list(col("__pn"))),
            x => x.getField("__e")).as("__nodes0"),
          transform(sort_array(collect_list(when(col("__hasHop"),
              struct(col("__pos"), col("__em").as("__e"))))),
            x => x.getField("__e")).as("__rels0"))
        .select(keys.map(col) ++ Seq(
          col("__nodes0").cast(Reach.witnessArrayType(node, ndf)).as("__nodes"),
          col("__rels0").cast(relT).as("__rels")): _*)
    }

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
    def heteroWidsToNodesRels(ids: DataFrame, defs: Seq[EdgeDef],
        ordinals: Map[String, Int], idT: DataType,
        catalog: GraphCatalog, perWitness: Boolean = false,
        extraKeys: Seq[String] = Seq.empty): DataFrame = {
      val labels = ordinals.keys.toSeq.sorted
      val nFields = Reach.mergeFields(labels.map { l =>
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
      val rFields = Reach.mergeFields(defs.sortBy(_.key).map { e =>
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

  }

  // ------------------------------------------------------- helpers

  private final class Lcg(var s: Long) {
    def next(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % bound + bound) % bound).toInt
    }
  }

  /** Sorted row renderings: a multiset comparison of two frames. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The paths as the reference's id frame: (__src, __dst, __dist,
    * __wids, __pi), `__pi` numbering each path so identical arrays stay
    * distinct. */
  private def idFrame(paths: Seq[Reach.WitnessPath], t: DataType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
        paths.zipWithIndex.map { case (p, i) =>
          Row(p.src, p.dst, p.dist, p.ids, i.toLong)
        }, 3),
      StructType(Seq(StructField("__src", t), StructField("__dst", t),
        StructField("__dist", LongType),
        StructField("__wids", ArrayType(t)), StructField("__pi", LongType))))

  /** `paths` resolved on the kernel in driver memory and on the
    * cluster, which must agree; returns the driver frame. */
  private def kernel(paths: Seq[Reach.WitnessPath], t: DataType,
      dims: Reach.WitnessDims, reversed: Boolean = false): DataFrame = {
    val local = Reach.witnessFrame(Fixpoint.Local(paths, Long.MaxValue), t,
      dims, reversed)
    val onCluster = Reach.witnessFrame(
      Fixpoint.Dist(spark.sparkContext.parallelize(paths, 3)), t, dims,
      reversed)
    assert(onCluster.schema == local.schema)
    assert(rowsOf(onCluster) == rowsOf(local), "in-memory ≠ RDD executor")
    local
  }

  private def same(what: String)(ref: DataFrame, ker: DataFrame): Unit = {
    assert(ker.schema == ref.schema, s"$what: schema")
    assert(rowsOf(ker) == rowsOf(ref), s"$what: rows")
  }

  /** Random walks over `out` from `starts`, 1–4 hops each: a hop is
    * sometimes to a random id (no edge row), an interior id sometimes
    * null, and every third path is repeated (parallel-edge copies). */
  private def walks(rnd: Lcg, starts: IndexedSeq[Any],
      out: Map[Any, Seq[Any]], any: () => Any): Seq[Reach.WitnessPath] =
    (1 to 24).flatMap { i =>
      var ids = List(starts(rnd.next(starts.size)))
      for (_ <- 0 to rnd.next(4)) {
        val nexts = out.getOrElse(ids.head, Nil)
        ids = (if (nexts.isEmpty || rnd.next(5) == 0) any()
               else nexts(rnd.next(nexts.size))) :: ids
      }
      val path = ids.reverse.toIndexedSeq
      val withNull =
        if (path.size > 2 && rnd.next(4) == 0) path.updated(1, null)
        else path
      val p = Reach.WitnessPath(withNull.head, withNull.last,
        withNull.size - 1L, withNull.toList)
      if (i % 3 == 0) Seq(p, p) else Seq(p)
    }

  // ----------------------------------------------------------- units

  private val node = NodeDef("P", "id", Seq("name", "score"), "p")
  private val edge = EdgeDef("R", "P", "P", "s", "d", Seq("w", "tag"), "r")

  test("kernel witness resolution ≡ the DataFrame assembly over a " +
      "homogeneous chain, both executors") {
    import spark.implicits._
    val rnd = new Lcg(17L)
    for (trial <- 1 to 2) {
      val n = 8 + rnd.next(5)
      // ids 0 until n + 2: two ids beyond the node table, one in it
      // dropped, one stored twice (identical rows)
      val missing = rnd.next(n).toLong
      val twice = (missing + 1) % n
      val nodeRows = (0L until n).filter(_ != missing).flatMap { k =>
        val r = (k, if (k % 3 == 0) null else s"n$k",
          if (k % 4 == 0) None else Some(k * 0.5))
        if (k == twice) Seq(r, r) else Seq(r)
      }
      val ndf = nodeRows.toDF("id", "name", "score")
      val es = (1 to 3 * n).map { _ =>
        val s = rnd.next(n + 2).toLong
        val d = rnd.next(n + 2).toLong
        (s, d, if (rnd.next(4) == 0) None else Some(rnd.next(3) * 1.5),
          if (rnd.next(5) == 0) null else s"t${rnd.next(3)}")
      }
      // parallel copies of the first edges, with other properties
      val edf = (es ++ es.take(4).map { case (s, d, _, _) =>
        (s, d, Some(9.0), "zz") }).toDF("s", "d", "w", "tag")
      val out = es.groupMap(_._1: Any)(_._2: Any)
      val paths = walks(rnd, (0L until n + 2).toIndexedSeq,
        out, () => rnd.next(n + 2).toLong)
      val ids = idFrame(paths, LongType)
      def dims(rels: Boolean) =
        Reach.homoDims(node, ndf, edf, edge, LongType, needRels = rels)
      same(s"trial $trial per path")(
        Ref.widsToNodesRels(ids, node, ndf, edf, edge, perWitness = true,
          extraKeys = Seq("__pi")).drop("__wids", "__pi"),
        kernel(paths, LongType, dims(true)))
      // `<-`: both arrays reversed after the assembly
      same(s"trial $trial reversed")(
        Ref.widsToNodesRels(ids, node, ndf, edf, edge, perWitness = true,
          extraKeys = Seq("__pi")).drop("__wids", "__pi")
          .withColumn("__nodes", reverse(col("__nodes")))
          .withColumn("__rels", reverse(col("__rels"))),
        kernel(paths, LongType, dims(true), reversed = true))
      // one path per pair (the shortestPath shape)
      val perPair = paths.groupBy(p => (p.src, p.dst, p.dist))
        .values.map(_.head).toSeq
      same(s"trial $trial per pair")(
        Ref.widsToNodesRels(idFrame(perPair, LongType).drop("__pi"), node,
          ndf, edf, edge),
        kernel(perPair, LongType, dims(true)))
      // nodes only: the edge table is not read. The reference repeats
      // the element of a node id stored twice, so it reads the node
      // table without the copy
      val unique = ndf.dropDuplicates()
      same(s"trial $trial nodes only")(
        Ref.widsToNodes(ids, node, unique, perWitness = true,
          extraKeys = Seq("__pi")).drop("__wids", "__pi"),
        kernel(paths, LongType,
          Reach.homoDims(node, unique, edf, edge, LongType, needRels = false)))
    }
  }

  test("a node id stored with differing rows resolves to its least row") {
    import spark.implicits._
    val ndf = Seq((1L, "b", Some(2.0)), (1L, "a", None), (2L, "c", None))
      .toDF("id", "name", "score")
    val edf = Seq((1L, 2L, Some(1.0), "x")).toDF("s", "d", "w", "tag")
    val p = Reach.WitnessPath(1L, 2L, 1L, List(1L, 2L))
    val got = kernel(Seq(p), LongType,
      Reach.homoDims(node, ndf, edf, edge, LongType, needRels = true))
      .collect().toSeq
    assert(got.map(_.getSeq[Row](3)) ==
      Seq(Seq(Row(1L, "a", null), Row(2L, "c", null))))
    assert(got.map(_.getSeq[Row](4)) == Seq(Seq(Row(1L, 2L, 1.0, "x"))))
  }

  test("kernel witness resolution ≡ the DataFrame assembly over tagged " +
      "heterogeneous ids, both executors") {
    import spark.implicits._
    // A -F-> B -F-> C: a shared `name` field, per-label and per-def
    // fields null-filled in the merged elements
    val tables = Map(
      "a" -> Seq((0L, "a0"), (1L, null), (2L, "a2")).toDF("a_id", "name"),
      "b" -> Seq((0L, Some(1.5)), (1L, None), (1L, None), (3L, Some(2.5)))
        .toDF("b_id", "b_val"),
      "c" -> Seq((0L, "c0"), (1L, "c1"), (2L, null)).toDF("c_id", "name"),
      "ab" -> Seq((0L, 0L, Some(1.0)), (0L, 0L, Some(0.5)), (1L, 1L, None),
        (2L, 2L, Some(3.0)), (2L, 3L, None)).toDF("src", "dst", "fw"),
      "bc" -> Seq((0L, 0L, "x"), (0L, 0L, null), (1L, 1L, "y"),
        (3L, 2L, "z"), (1L, 3L, "w")).toDF("src", "dst", "ft"))
    val defs = Seq(
      EdgeDef("F", "A", "B", "src", "dst", Seq("fw"), "ab"),
      EdgeDef("F", "B", "C", "src", "dst", Seq("ft"), "bc"))
    val schema = GraphSchema(Seq(
      NodeDef("A", "a_id", Seq("name"), "a"),
      NodeDef("B", "b_id", Seq("b_val"), "b"),
      NodeDef("C", "c_id", Seq("name"), "c")), defs)
    val catalog = new GraphCatalog(schema, tables)
    val ordinals = Map("A" -> 0, "B" -> 1, "C" -> 2)
    val t = StructType(Seq(StructField("l", IntegerType, nullable = false),
      StructField("i", LongType)))
    def tag(l: Int, i: Long): Any = Row(l, i)
    val rnd = new Lcg(5L)
    // A → B → C chains over ids 0..3, some hops and rows missing
    val paths = walks(rnd, (0 to 3).map(i => tag(0, i.toLong)),
      Map.empty, () => null).map { p =>
      val a = p.ids.head
      val b = tag(1, rnd.next(4).toLong)
      val c = tag(2, rnd.next(4).toLong)
      val ids = if (rnd.next(3) == 0) List(a, b) else List(a, b, c)
      Reach.WitnessPath(a, ids.last, ids.size - 1L, ids)
    }
    val ids = idFrame(paths, t)
    // the reference resolves a missing row to a NULL element; the kernel
    // resolves it to an element of null fields, as the homogeneous chain
    // always did
    def filled(df: DataFrame): DataFrame = {
      def fill(c: String) = {
        val n = df.schema(c).dataType.asInstanceOf[ArrayType]
          .elementType.asInstanceOf[StructType]
        transform(col(c), x => when(x.isNull, struct(n.fields.map(f =>
          lit(null).cast(f.dataType).as(f.name)): _*)).otherwise(x))
          .cast(df.schema(c).dataType).as(c)
      }
      df.select(df.columns.toSeq.map(c =>
        if (c == "__nodes" || c == "__rels") fill(c) else col(c)): _*)
    }
    val ref = Ref.heteroWidsToNodesRels(ids, defs, ordinals, LongType,
      catalog, perWitness = true, extraKeys = Seq("__pi"))
      .drop("__wids", "__pi")
    same("tagged per path")(filled(ref), kernel(paths, t,
      Reach.heteroDims(defs, ordinals, LongType, catalog, needRels = true)))
    same("tagged nodes only")(filled(ref.drop("__rels")), kernel(paths, t,
      Reach.heteroDims(defs, ordinals, LongType, catalog, needRels = false)))
  }
}
