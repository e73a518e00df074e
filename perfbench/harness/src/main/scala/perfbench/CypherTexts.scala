package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** A Cypher text copied verbatim from `graft.SparkEntry`, with what its
 *  entry adds around `CypherSession.run`: the extended surface, `$param`
 *  bindings, a trailing `orderBy`, or (for the distributed twins) a
 *  session conf set while the query is compiled. */
final case class CypherText(text: String, extended: Boolean = false,
                            params: Map[String, Any] = Map.empty,
                            orderBy: Seq[String] = Seq.empty,
                            conf: Map[String, String] = Map.empty) {
  def post(df: DataFrame): DataFrame =
    if (orderBy.isEmpty) df else df.orderBy(orderBy.map(col): _*)

  /** Runs `f` with `conf` set, restoring the previous values after. */
  def withConf[T](spark: SparkSession)(f: => T): T = {
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** The Cypher texts the benchmark parses and compiles itself, so parse
 *  and compile time are measured apart. The parity self-test checks each
 *  against `SparkEntry.queries(name)`. */
object CypherTexts {
  private val base: Map[String, CypherText] = Map(
    "q01_node_scan" -> CypherText(
      """MATCH (p:Part) WHERE p.p_size > 40
        |RETURN p.p_partkey AS partkey, p.p_name AS name,
        |       p.p_retailprice AS price
        |ORDER BY partkey""".stripMargin),
    "q02_join_filter" -> CypherText(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |WHERE o.o_totalprice > 300000.0
        |RETURN c.c_name AS cname, o.o_orderkey AS okey,
        |       o.o_totalprice AS price
        |ORDER BY okey""".stripMargin),
    "q03_multihop_agg" -> CypherText(
      """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region)
        |WHERE r.r_name = 'ASIA'
        |RETURN n.n_name AS nation, count(c) AS n_customers
        |ORDER BY nation""".stripMargin),
    "q04_optional_match" -> CypherText(
      """MATCH (n:Nation)
        |OPTIONAL MATCH (c:Customer)-[:FROM_NATION]->(n)
        |WHERE c.c_acctbal > 9000.0
        |RETURN n.n_name AS nation, count(c) AS n_rich
        |ORDER BY nation""".stripMargin),
    "q05_lineitem_agg" -> CypherText(
      """MATCH (o:Order)-[l:CONTAINS]->(p:Part)
        |RETURN l.l_returnflag AS rf, l.l_linestatus AS ls,
        |       sum(l.l_quantity) AS sum_qty,
        |       round(sum(l.l_extendedprice), 2) AS sum_price,
        |       round(avg(l.l_discount), 6) AS avg_disc,
        |       count(l) AS n_items
        |ORDER BY rf, ls""".stripMargin),
    "q08_topk" -> CypherText(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |RETURN c.c_name AS cname, o.o_totalprice AS price
        |ORDER BY price DESC, cname LIMIT 10""".stripMargin),
    "q12_with_having" -> CypherText(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |WITH c, count(o) AS n_orders
        |WHERE n_orders >= 15
        |RETURN c.c_name AS cname, n_orders
        |ORDER BY n_orders DESC, cname""".stripMargin),
    "q18_count_distinct" -> CypherText(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)-[l:CONTAINS]->(p:Part)
        |WHERE p.p_size <= 5
        |RETURN c.c_mktsegment AS segment, count(DISTINCT c) AS n_cust,
        |       count(l) AS n_items
        |ORDER BY segment""".stripMargin),
    "q22_dates" -> CypherText(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |WHERE o.o_orderdate >= '1997-01-01' AND o.o_orderdate < '1998-01-01'
        |RETURN toLong(year(o.o_orderdate)) AS yr,
        |       toLong(month(o.o_orderdate)) AS mo, count(o) AS n
        |ORDER BY yr, mo""".stripMargin),
    "q28_params" -> CypherText(
      """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)
        |WHERE c.c_acctbal > $minbal AND c.c_mktsegment = $seg
        |RETURN n.n_name AS nation, count(c.c_custkey) AS cnt
        |ORDER BY nation""".stripMargin,
      extended = true,
      params = Map("minbal" -> 5000.0, "seg" -> "BUILDING")),
    "q30_varlen_hops" -> CypherText(
      """MATCH (c:Customer)-[*1..2]->(r:Region)
        |RETURN r.r_name AS region, count(c.c_custkey) AS customers
        |ORDER BY region""".stripMargin,
      extended = true),
    "q34_exists_semi" -> CypherText(
      """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)
        |WHERE EXISTS((c)-[:PLACED]->(:Order)) AND c.c_mktsegment = 'BUILDING'
        |RETURN n.n_name AS nation, count(c) AS n_buyers
        |ORDER BY nation""".stripMargin,
      extended = true),
    "q41_call_subquery" -> CypherText(
      """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)
        |WHERE c.c_acctbal > 9980
        |CALL { WITH c MATCH (c)-[:PLACED]->(o:Order)
        |       RETURN count(o) AS n_orders, sum(o.o_totalprice) AS spend }
        |CALL { MATCH (r:Region) RETURN count(r) AS n_regions }
        |RETURN n.n_name AS nation, c.c_name AS name, n_orders,
        |       round(spend, 2) AS spend, n_regions
        |ORDER BY nation, name""".stripMargin,
      extended = true),
    "q48_count_subquery" -> CypherText(
      """MATCH (s:Supplier)
        |RETURN s.s_name AS sname,
        |       COUNT { (o:Order)-[:SUPPLIED_BY]->(s) } AS n_supply
        |ORDER BY sname""".stripMargin,
      extended = true),
    "q63_set_snapshot" -> CypherText(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
          |WHERE o.o_totalprice > 150000.0
          |WITH c, count(o) AS big
          |SET c.c_name = c.c_name + '_' + toString(big),
          |    c.c_acctbal = c.c_acctbal + 100.0""".stripMargin,
      extended = true,
      orderBy = Seq("c_custkey")),
    "q69_create_snapshot" -> CypherText(
      """MATCH (sup:Supplier) WHERE sup.s_acctbal > 9000.0
          |WITH sup.s_suppkey AS sk, sup.s_acctbal AS ab
          |CREATE (c:Customer {c_custkey: sk + 1000000,
          |                    c_name: 'NEW_' + toString(sk),
          |                    c_acctbal: ab})""".stripMargin,
      extended = true,
      orderBy = Seq("c_custkey")),
    "q124_unbounded_witness" -> CypherText(
      """MATCH p = shortestPath(
        |  (a:Nation {n_nationkey: 0})-[:NEXT_IN_REGION*]->(b:Nation))
        |RETURN b.n_name AS dst, length(p) AS hops,
        |       reduce(s = '', n IN nodes(p) | s + '|' + n.n_name)
        |         AS names
        |ORDER BY dst""".stripMargin,
      extended = true),
    "q173_hetero_klevel_witness" -> CypherText(
      """MATCH p = SHORTEST 2 GROUPS
        |  (a:Customer)-[:FEEDS*]->(b:Part)
        |WHERE a.c_custkey = 1
        |RETURN b.p_partkey AS pk, length(p) AS hops,
        |       reduce(s = '', n IN nodes(p) | s + '|' + toString(
        |         coalesce(n.c_custkey, n.o_orderkey, n.p_partkey)))
        |         AS ids
        |ORDER BY pk, ids""".stripMargin,
      extended = true),
    "q163_hetero_allshortest_witness" -> CypherText(
      """MATCH p = allShortestPaths((a:Customer)-[:FEEDS*1..]->(b:Part))
        |WHERE a.c_custkey = 0
        |RETURN b.p_partkey AS pk, length(p) AS hops,
        |       reduce(s = '', n IN nodes(p) | s + '|' + toString(
        |         coalesce(n.c_custkey, n.o_orderkey, n.p_partkey)))
        |         AS ids
        |ORDER BY pk, ids""".stripMargin,
      extended = true),
    "q10_union" -> CypherText(
      """MATCH (c:Customer) WHERE c.c_mktsegment = 'BUILDING'
          |RETURN c.c_name AS name
          |UNION
          |MATCH (s:Supplier) RETURN s.s_name AS name""".stripMargin,
      orderBy = Seq("name"))
  )

  /** The distributed-loop twins: their source text with the reach
   *  driver fast path turned off while compiling. */
  private val twins: Map[String, CypherText] = Map(
    "q187_dist_unbounded_witness" -> "q124_unbounded_witness",
    "q188_dist_hetero_klevel_witness" -> "q173_hetero_klevel_witness",
    "q189_dist_allshortest_witness" -> "q163_hetero_allshortest_witness"
  ).map { case (twin, src) =>
    twin -> base(src).copy(conf = Map("spark.graft.reach.driverRows" -> "0"))
  }

  val all: Map[String, CypherText] = base ++ twins
}
