package graft.cypher

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/**
 * The flagged extension surface — SKIP, `$param` parameters,
 * UNWIND + collect(), bounded variable-length `[*lo..hi]` — none of
 * which the reference supports (no oC_Skip visitor,
 * CypherVisitor.cs:2076-2086; UNWIND/collect on its roadmap
 * README.md:57; var-length rejected CypherVisitor.cs:2035-2039).
 * Parity mode (the default session) must keep rejecting all of them —
 * covered by CypherEngineSpec's rejection test; here the EXTENDED
 * session accepts and computes them.
 */
class CypherExtensionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  lazy val session = new CypherSession(spark, MovieFixture.catalog(spark)).extended

  private def rows(q: String): Seq[Row] = session.run(q).collect().toSeq
  private def rows(q: String, params: Map[String, Any]): Seq[Row] =
    session.run(q, params).collect().toSeq

  // ----------------------------------------------------------- SKIP

  test("SKIP pages after ORDER BY, composes with LIMIT") {
    val all = rows(
      "MATCH (p:Person) RETURN p.Name AS N ORDER BY N")
      .map(_.getString(0))
    val page = rows(
      "MATCH (p:Person) RETURN p.Name AS N ORDER BY N SKIP 2 LIMIT 2")
      .map(_.getString(0))
    assert(page == all.slice(2, 4))
    // SKIP past the end → empty, not an error
    assert(rows("MATCH (p:Person) RETURN p.Name AS N ORDER BY N SKIP 99")
      .isEmpty)
  }

  test("SKIP without ORDER BY drops some rows (Cypher: unspecified which)") {
    val r = rows("MATCH (p:Person) RETURN p.Name AS N SKIP 3")
    assert(r.size == 2) // 5 people - 3
  }

  test("SKIP on an aggregating projection") {
    val r = rows(
      """MATCH (p:Person)-[a:ACTED_IN]->(m:Movie)
        |RETURN m.Title AS T, count(p.id) AS C
        |ORDER BY C DESC, T SKIP 1 LIMIT 1""".stripMargin)
    // every movie has 2 actors; total order is alphabetical
    assert(r.map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("Sleepless in Seattle", 2L)))
  }

  test("SKIP literal contract matches LIMIT's (int32, non-negative)") {
    intercept[CypherSyntaxException](rows(
      "MATCH (p:Person) RETURN p.Name AS N SKIP -1"))
    intercept[CypherSyntaxException](rows(
      "MATCH (p:Person) RETURN p.Name AS N SKIP 4294967296"))
    intercept[CypherSyntaxException](rows(
      "MATCH (p:Person) RETURN p.Name AS N SKIP x"))
  }

  // ----------------------------------------------------- parameters

  test("$param binds typed literals: string, int, double, boolean, list") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = $who RETURN p.Born AS B""",
      Map("who" -> "Tom Hanks"))
    assert(r.map(_.getInt(0)) == Seq(1956))
    val r2 = rows(
      """MATCH (p:Person) WHERE p.Born > $year RETURN p.Name AS N ORDER BY N""",
      Map("year" -> 1957))
    assert(r2.map(_.getString(0)) == Seq("Kevin Bacon", "Meg Ryan"))
    val r3 = rows(
      """MATCH (p:Person) WHERE p.Name IN $names RETURN p.Born AS B ORDER BY B""",
      Map("names" -> Seq("Tom Hanks", "Meg Ryan")))
    assert(r3.map(_.getInt(0)) == Seq(1956, 1961))
  }

  test("$param participates in static typing and expressions") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Born IS NOT NULL
        |RETURN p.Name AS N, p.Born + $off AS B ORDER BY N LIMIT 1""".stripMargin,
      Map("off" -> 10))
    assert(r.head.getInt(1) == 1968) // Kevin Bacon, 1958 + 10
  }

  test("unknown $param is a binding error naming the parameter") {
    val e = intercept[CypherBindingException](rows(
      "MATCH (p:Person) WHERE p.Name = $nope RETURN p.Name AS N"))
    assert(e.getMessage.contains("$nope"))
  }

  test("parity session still rejects $param even when params are passed") {
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](
      parity.run("MATCH (p:Person) WHERE p.Name = $who RETURN p.Name AS N",
        Map("who" -> "Tom Hanks")))
  }

  // ------------------------------------------------ UNWIND + collect

  test("collect() then UNWIND round-trips the rows") {
    val direct = rows(
      """MATCH (p:Person)-[a:ACTED_IN]->(m:Movie)
        |RETURN m.Title AS T, p.Name AS N ORDER BY T, N""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    val roundTrip = rows(
      """MATCH (p:Person)-[a:ACTED_IN]->(m:Movie)
        |WITH m.Title AS T, collect(p.Name) AS names
        |UNWIND names AS N
        |RETURN T, N ORDER BY T, N""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(roundTrip == direct)
  }

  test("collect(DISTINCT x) dedups within the group") {
    val r = rows(
      """MATCH (p:Person)-[a:ACTED_IN]->(m:Movie)
        |WITH p.Name AS N, collect(DISTINCT m.Released) AS ys
        |WHERE N = 'Tom Hanks'
        |UNWIND ys AS y
        |RETURN y ORDER BY y""".stripMargin)
    assert(r.map(_.getInt(0)) == Seq(1993, 1995, 1998))
  }

  test("UNWIND a list literal multiplies rows") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |UNWIND [1, 2, 3] AS k
        |RETURN p.Name AS N, k ORDER BY k""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getInt(1))) ==
      Seq(("Tom Hanks", 1), ("Tom Hanks", 2), ("Tom Hanks", 3)))
  }

  test("UNWIND of an empty collect yields no rows (not nulls)") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'NoSuch'
        |WITH collect(p.Name) AS names
        |UNWIND names AS n RETURN n""".stripMargin)
    assert(r.isEmpty)
  }

  test("UNWIND rejections: non-list input, rebound alias") {
    intercept[CypherTypeException](rows(
      "MATCH (p:Person) UNWIND p.Name AS x RETURN x"))
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) UNWIND [1,2] AS p RETURN p"))
  }

  test("MATCH after UNWIND/CALL splices an implicit WITH * (round 10)") {
    val r = rows(
      """UNWIND ['p1', 'p5'] AS pid
        |MATCH (p:Person) WHERE p.id = pid
        |RETURN pid, p.Name AS nm ORDER BY pid""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("p1", "Tom Hanks"), ("p5", "Jessica Thompson")))
    // per-row join semantics: the generated rows multiply the match
    val m = rows(
      """MATCH (m:Movie) WHERE m.id = 'm1'
        |UNWIND [1, 2] AS k
        |MATCH (q:Person)-[:DIRECTED]->(d:Movie)
        |RETURN m.id AS i, k, q.id AS qi ORDER BY k""".stripMargin)
    assert(m.map(x => (x.getString(0), x.getInt(1), x.getString(2))) ==
      Seq(("m1", 1, "p4"), ("m1", 2, "p4")))
    val c = rows(
      """CALL { MATCH (mm:Movie) RETURN count(mm.id) AS nMovies }
        |MATCH (p:Person) WHERE p.id = 'p1'
        |RETURN nMovies, p.Name AS nm""".stripMargin)
    assert(c.map(x => (x.getLong(0), x.getString(1))) ==
      Seq((3L, "Tom Hanks")))
  }

  // ------------------- standalone RETURN / WITH / UNWIND (round 10)

  test("standalone RETURN/WITH/UNWIND run over one literal row") {
    val r = rows("RETURN 1 + 1 AS x, toUpper('ab') AS s")
    assert(r.map(x => (x.getInt(0), x.getString(1))) == Seq((2, "AB")))
    val w = rows("WITH 3 AS a WITH a * 2 AS b RETURN b + 1 AS c")
    assert(w.map(_.getInt(0)) == Seq(7))
    val u = rows("UNWIND [3, 1, 2] AS x RETURN x ORDER BY x")
    assert(u.map(_.getInt(0)) == Seq(1, 2, 3))
    val d = rows("RETURN DISTINCT 1 AS one")
    assert(d.size == 1)
  }

  test("count(DISTINCT ...) parity intact; collect forbids nesting") {
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) RETURN collect(count(p.id)) AS xs"))
  }

  // --------------------------------------------- variable-length paths

  test("[*1..2] unions both path lengths (FOLLOWS chain)") {
    // follows: p5->p1, p5->p2, p1->p2. From Jessica (p5):
    // length 1 → Tom Hanks, Meg Ryan; length 2 → p5->p1->p2 = Meg Ryan.
    val r = rows(
      """MATCH (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |WHERE a.Name = 'Jessica Thompson'
        |RETURN b.Name AS N ORDER BY N""".stripMargin)
    assert(r.map(_.getString(0)) ==
      Seq("Meg Ryan", "Meg Ryan", "Tom Hanks"))
  }

  test("[*2] is exactly two hops") {
    val r = rows(
      """MATCH (a:Person)-[:FOLLOWS*2]->(b:Person)
        |RETURN a.Name AS A, b.Name AS B""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Jessica Thompson", "Meg Ryan")))
  }

  test("aggregation runs over the unioned match set, not per length") {
    val r = rows(
      """MATCH (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |RETURN b.Name AS N, count(a.id) AS C ORDER BY N""".stripMargin)
    // targets: p1 (from p5), p2 (from p5, p1, and p5 via p1)
    assert(r.map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("Meg Ryan", 3L), ("Tom Hanks", 1L)))
  }

  test("lengths that cannot resolve against the schema contribute nothing") {
    // Person-[*1..2]->Movie: length 1 can be ACTED_IN/REVIEWED/DIRECTED
    // (ambiguous without a verb → that branch is a binding error and is
    // dropped); with the verb given, length 2 has no Movie->Movie edge
    // so only length 1 survives.
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN*1..2]->(m:Movie)
        |WHERE p.Name = 'Tom Hanks' RETURN m.Title AS T ORDER BY T""".stripMargin)
    assert(r.map(_.getString(0)) ==
      Seq("Apollo 13", "Sleepless in Seattle", "You've Got Mail"))
  }

  test("no length resolves → the binding error surfaces") {
    intercept[CypherBindingException](rows(
      "MATCH (m:Movie)-[:FOLLOWS*1..2]->(p:Person) RETURN p.Name AS N"))
  }

  test("per-path relationship uniqueness holds within an unrolled length") {
    // p5->p1->p2 is fine (distinct edges); no path may reuse one edge —
    // with only 3 edges, [*3] must produce nothing (no 3-edge trail)
    val r = rows(
      """MATCH (a:Person)-[:FOLLOWS*3]->(b:Person)
        |RETURN a.Name AS A, b.Name AS B""".stripMargin)
    assert(r.isEmpty)
  }

  test("var-length: named rel binds the list (round 15), over-cap " +
      "rejected (zero lowers round 11)") {
    // a NAMED bounded var-length rel binds the rel LIST since round 15
    // (the round-10 rejection is lifted — Neo4j's everyday spelling)
    val named = rows(
      """MATCH (a:Person)-[f:FOLLOWS*1..2]->(b:Person)
        |RETURN a.Name AS N, size(f) AS n ORDER BY N, n""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    assert(named.size == 4 && named.count(_._2 == 2) == 1)
    // [*0..2] composes since round 11 (identity branch) — the FOLLOWS
    // tree gains one zero-hop row per person alongside the 1-2 hops
    val z = rows(
      "MATCH (a:Person)-[:FOLLOWS*0..2]->(b:Person) RETURN count(*) AS n")
    assert(z.head.getLong(0) == 9L) // 5 identity + 3 one-hop + 1 two-hop
    intercept[CypherNotSupportedException](rows(
      "MATCH (a:Person)-[:FOLLOWS*1..9]->(b:Person) RETURN a.Name AS N"))
  }

  test("unlabeled endpoint whose label varies by length is rejected") {
    // (p5)-[*1..2]-> x : length 1 x could be Person (FOLLOWS); length 2
    // interior Person then x Person or Movie — if any branch disagrees
    // on x's label the union is refused with a clear message
    val e = intercept[CypherException](rows(
      """MATCH (a:Person)-[*1..2]->(x)
        |WHERE a.Name = 'Jessica Thompson'
        |RETURN x.Name AS N""".stripMargin))
    assert(e.getMessage.toLowerCase.contains("label") ||
      e.getMessage.toLowerCase.contains("ambiguous"))
  }

  // --------------------------------------- standard-library functions

  test("coalesce() fills OPTIONAL MATCH nulls; type-unifies like CASE") {
    val r = rows(
      """MATCH (p:Person) OPTIONAL MATCH (p)-[d:DIRECTED]->(m:Movie)
        |RETURN p.Name AS N, coalesce(m.Title, 'none') AS T ORDER BY N""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r.contains(("Rob Reiner", "Sleepless in Seattle")))
    assert(r.contains(("Tom Hanks", "none")))
    // string + numeric unifies to string (the CASE Plus-row rule)…
    val s = rows(
      """MATCH (p:Person) WHERE p.Name = 'Rob Reiner'
        |RETURN coalesce(p.Born, 0) AS B""".stripMargin)
    assert(s.head.getInt(0) == 0)
    // …while boolean + numeric is an illegal mix, caught statically
    intercept[CypherTypeException](rows(
      "MATCH (p:Person) RETURN coalesce(p.Born = 1956, p.Born) AS X"))
  }

  test("substring/replace/split/reverse and list head/last/size") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN substring(p.Name, 0, 3) AS S3,
        |       substring(p.Name, 4) AS S4,
        |       replace(p.Name, ' ', '_') AS R,
        |       reverse(p.Name) AS V,
        |       split(p.Name, ' ') AS P""".stripMargin).head
    assert(r.getString(0) == "Tom")
    assert(r.getString(1) == "Hanks")
    assert(r.getString(2) == "Tom_Hanks")
    assert(r.getString(3) == "sknaH moT")
    assert(r.getSeq[String](4) == Seq("Tom", "Hanks"))
    val l = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |WITH split(p.Name, ' ') AS parts
        |RETURN head(parts) AS H, last(parts) AS L, size(parts) AS S""".stripMargin).head
    assert((l.getString(0), l.getString(1), l.getInt(2)) == (("Tom", "Hanks", 2)))
    // split needs a literal delimiter (Spark's split is regex-based;
    // silently regexing a column would corrupt results)
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) RETURN split(p.Name, p.Name) AS X"))
  }

  test("head/last of an empty list are null, not errors") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'NoSuch'
        |WITH collect(p.Name) AS xs
        |RETURN head(xs) AS H, last(xs) AS L, size(xs) AS S""".stripMargin).head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getInt(2) == 0)
  }

  test("range() is end-inclusive and UNWINDs like Cypher's") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |UNWIND range(1, 7, 2) AS k RETURN k""".stripMargin)
    assert(r.map(_.getLong(0)) == Seq(1L, 3L, 5L, 7L))
    val r2 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |UNWIND range(1, 3) AS k RETURN k""".stripMargin)
    assert(r2.map(_.getLong(0)) == Seq(1L, 2L, 3L))
  }

  test("math functions: sign, exp, log, log10, e, pi") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN sign(1900 - p.Born) AS SG, exp(0) AS E0,
        |       log(e()) AS LE, log10(100) AS L10, pi() AS PI""".stripMargin).head
    assert(r.getInt(0) == -1)
    assert(r.getDouble(1) == 1.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getDouble(3) == 2.0)
    assert(math.abs(r.getDouble(4) - math.Pi) < 1e-15)
  }

  // ----------------------------------------------------- simple CASE

  test("simple CASE desugars to searched CASE with equality semantics") {
    val r = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS N,
        |       CASE p.Born WHEN 1956 THEN 'boomer-56'
        |                   WHEN 1961 THEN 'boomer-61'
        |                   ELSE 'other' END AS C
        |ORDER BY N""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r.contains(("Tom Hanks", "boomer-56")))
    assert(r.contains(("Meg Ryan", "boomer-61")))
    // null operand matches NO branch (null = v is null, not true) and
    // falls to ELSE — the Cypher simple-CASE contract
    assert(r.contains(("Rob Reiner", "other")))
    assert(r.contains(("Jessica Thompson", "other")))
  }

  test("simple CASE without ELSE yields null on no match") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Rob Reiner'
        |RETURN CASE p.Born WHEN 1956 THEN 'x' END AS C""".stripMargin)
    assert(r.head.isNullAt(0))
  }

  // ------------------------------------------------------ list surface

  test("list comprehension: filter, transform, and both") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN [k IN range(1, 6) WHERE k % 2 = 0] AS evens,
        |       [k IN range(1, 3) | k * 10] AS tens,
        |       [w IN split(p.Name, ' ') WHERE size(w) > 3 | toUpper(w)] AS caps
        |""".stripMargin).head
    assert(r.getSeq[Long](0) == Seq(2L, 4L, 6L))
    assert(r.getSeq[Long](1) == Seq(10L, 20L, 30L))
    assert(r.getSeq[String](2) == Seq("HANKS"))
  }

  test("comprehension over collect(): aggregate list operand") {
    val r = rows(
      """MATCH (p:Person)-[a:ACTED_IN]->(m:Movie)
        |WITH m.Title AS T, collect(p.Name) AS names
        |RETURN T, size([n IN names WHERE n CONTAINS 'Tom']) AS toms
        |ORDER BY T""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    assert(r.forall(_._2 >= 0) && r.nonEmpty)
  }

  test("quantifiers any/all/none/single") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |WITH split(p.Name, ' ') AS ws
        |RETURN any(w IN ws WHERE w = 'Tom') AS a,
        |       all(w IN ws WHERE size(w) >= 3) AS al,
        |       none(w IN ws WHERE w = 'Meg') AS n,
        |       single(w IN ws WHERE w STARTS WITH 'H') AS s""".stripMargin).head
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3))
    val f = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN single(k IN range(1, 4) WHERE k > 2) AS s2,
        |       any(k IN range(1, 3) WHERE k > 9) AS a2""".stripMargin).head
    assert(!f.getBoolean(0) && !f.getBoolean(1))
  }

  test("reduce() folds with the accumulator's type") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN reduce(s = 0, k IN range(1, 10) | s + k) AS sum,
        |       reduce(acc = '', w IN split(p.Name, ' ') | acc + w) AS cat
        |""".stripMargin).head
    assert(r.getInt(0) == 55)
    assert(r.getString(1) == "TomHanks")
  }

  test("list index: 0-based, negative from end, out of range is null") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |WITH split(p.Name, ' ') AS ws
        |RETURN ws[0] AS first, ws[1] AS second, ws[-1] AS neg,
        |       ws[9] AS oob, ws[-9] AS noob""".stripMargin).head
    assert(r.getString(0) == "Tom" && r.getString(1) == "Hanks")
    assert(r.getString(2) == "Hanks")
    assert(r.isNullAt(3) && r.isNullAt(4))
  }

  test("list slice: end-exclusive, open ends, negatives, clamping") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |WITH range(0, 4) AS xs
        |RETURN xs[1..3] AS mid, xs[..2] AS head2, xs[3..] AS tail2,
        |       xs[-2..] AS lastTwo, xs[2..99] AS clamped,
        |       xs[3..1] AS empty""".stripMargin).head
    assert(r.getSeq[Long](0) == Seq(1L, 2L))
    assert(r.getSeq[Long](1) == Seq(0L, 1L))
    assert(r.getSeq[Long](2) == Seq(3L, 4L))
    assert(r.getSeq[Long](3) == Seq(3L, 4L))
    assert(r.getSeq[Long](4) == Seq(2L, 3L, 4L))
    assert(r.getSeq[Long](5).isEmpty)
  }

  test("comprehension body sees outer scope AND the lambda variable") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Born IS NOT NULL
        |RETURN p.Name AS N,
        |       [k IN range(0, 1) | p.Born + k] AS seq
        |ORDER BY N LIMIT 1""".stripMargin).head
    val born = r.getSeq[Long](1)
    assert(born(1) == born(0) + 1)
  }

  test("list-surface type errors are static") {
    intercept[CypherTypeException](rows(
      "MATCH (p:Person) RETURN [k IN p.Name | k] AS X"))
    intercept[CypherTypeException](rows(
      "MATCH (p:Person) RETURN any(k IN p.Born WHERE k > 0) AS X"))
    intercept[CypherTypeException](rows(
      "MATCH (p:Person) RETURN split(p.Name, ' ')[p.Name] AS X"))
  }

  // ------------------------------------------- EXISTS pattern predicates

  test("EXISTS pattern predicate lowers to a left-semi join") {
    val df = session.run(
      """MATCH (p:Person) WHERE EXISTS((p)-[:ACTED_IN]->(:Movie))
        |RETURN p.Name AS N ORDER BY N""".stripMargin)
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("Kevin Bacon", "Meg Ryan", "Tom Hanks"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi join:\n$plan")
  }

  test("NOT EXISTS lowers to a left-anti join") {
    val df = session.run(
      """MATCH (p:Person) WHERE NOT EXISTS((p)-[:ACTED_IN]->(:Movie))
        |RETURN p.Name AS N ORDER BY N""".stripMargin)
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("Jessica Thompson", "Rob Reiner"))
    assert(df.queryExecution.executedPlan.toString.contains("LeftAnti"))
    // double negation flips back to semi
    assert(rows(
      """MATCH (p:Person) WHERE NOT (NOT EXISTS((p)-[:ACTED_IN]->(:Movie)))
        |RETURN p.Name AS N ORDER BY N""".stripMargin)
      .map(_.getString(0)) == Seq("Kevin Bacon", "Meg Ryan", "Tom Hanks"))
  }

  test("EXISTS correlates on a mid-pattern alias and mixes with residual") {
    // reviewed movies that somebody directed
    val r = rows(
      """MATCH (p:Person)-[:REVIEWED]->(m:Movie)
        |WHERE EXISTS((:Person)-[:DIRECTED]->(m)) AND p.Born IS NULL
        |RETURN p.Name AS N, m.Title AS T""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Jessica Thompson", "Sleepless in Seattle")))
  }

  test("EXISTS with no shared alias is a global existence probe") {
    assert(rows(
      """MATCH (p:Person) WHERE EXISTS((:Person)-[:DIRECTED]->(:Movie))
        |RETURN count(p.id) AS c""".stripMargin).head.getLong(0) == 5L)
    assert(rows(
      """MATCH (p:Person) WHERE NOT EXISTS((:Person)-[:DIRECTED]->(:Movie))
        |RETURN p.Name AS N""".stripMargin).isEmpty)
  }

  test("EXISTS survives a WITH entity rename") {
    val r = rows(
      """MATCH (p:Person) WITH p AS q
        |MATCH (q)-[:REVIEWED]->(m:Movie)
        |WHERE EXISTS((q)-[:FOLLOWS]->(:Person))
        |RETURN q.Name AS N, m.Title AS T ORDER BY T""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Jessica Thompson", "Sleepless in Seattle"),
          ("Jessica Thompson", "You've Got Mail")))
  }

  test("EXISTS { … WHERE … } subquery form filters the probe side") {
    // people who acted in a movie released after 1995 (Apollo 13 is
    // out; only You've Got Mail, 1998, qualifies → its two actors)
    assert(rows(
      """MATCH (p:Person)
        |WHERE EXISTS { (p)-[:ACTED_IN]->(m:Movie) WHERE m.Released > 1995 }
        |RETURN p.Name AS N ORDER BY N""".stripMargin)
      .map(_.getString(0)) == Seq("Meg Ryan", "Tom Hanks"))
    // inner WHERE on the shared alias's own properties reads the
    // subquery's copy — equivalent under unique-id correlation
    assert(rows(
      """MATCH (p:Person)
        |WHERE NOT EXISTS { MATCH (p)-[:ACTED_IN]->(m:Movie)
        |                   WHERE p.Born >= 1958 }
        |RETURN p.Name AS N ORDER BY N""".stripMargin)
      .map(_.getString(0)) ==
        Seq("Jessica Thompson", "Rob Reiner", "Tom Hanks"))
  }

  test("EXISTS subquery: comma patterns and nested EXISTS conjuncts") {
    // two comma patterns correlate independently on p
    assert(rows(
      """MATCH (p:Person)
        |WHERE EXISTS { (p)-[:ACTED_IN]->(:Movie), (p)-[:FOLLOWS]->(:Person) }
        |RETURN p.Name AS N""".stripMargin)
      .map(_.getString(0)) == Seq("Tom Hanks"))
    // nested EXISTS inside the inner WHERE rides the recursive path:
    // reviewers of movies someone directed
    assert(rows(
      """MATCH (p:Person)
        |WHERE EXISTS { (p)-[:REVIEWED]->(m:Movie)
        |               WHERE EXISTS((:Person)-[:DIRECTED]->(m)) }
        |RETURN p.Name AS N""".stripMargin)
      .map(_.getString(0)) == Seq("Jessica Thompson"))
  }

  test("EXISTS(expr) property form is IS NOT NULL") {
    assert(rows(
      """MATCH (p:Person) WHERE EXISTS(p.Born)
        |RETURN p.Name AS N ORDER BY N""".stripMargin)
      .map(_.getString(0)) == Seq("Kevin Bacon", "Meg Ryan", "Tom Hanks"))
  }

  test("EXISTS placement: OR position lowers as a value; projection " +
      "position is a boolean") {
    // EXISTS under OR (round 11): no semi-join form exists, so it
    // lowers as a per-row VALUE through the comprehension machinery —
    // the disjunction filters correctly and no helper columns leak
    val orRows = rows(
      """MATCH (p:Person)
        |WHERE p.Born = 1961 OR EXISTS((p)-[:DIRECTED]->(:Movie))
        |RETURN p.Name AS N ORDER BY N""".stripMargin)
    assert(orRows.map(_.getString(0)) == Seq("Meg Ryan", "Rob Reiner"))
    assert(orRows.head.schema.fieldNames.toSeq == Seq("N"))
    // NOT EXISTS under OR flips through the same value lowering
    val notOr = rows(
      """MATCH (p:Person)
        |WHERE p.Born = 1961 OR NOT EXISTS((p)-[:ACTED_IN]->(:Movie))
        |RETURN p.Name AS N ORDER BY N""".stripMargin)
      .map(_.getString(0))
    assert(notOr == Seq("Jessica Thompson", "Meg Ryan", "Rob Reiner"))
    // projection position (round 6): boolean-valued existential via the
    // comprehension desugar — must agree with the WHERE semi-join form
    val e = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS N, EXISTS((p)-[:ACTED_IN]->(:Movie)) AS e
        |ORDER BY N""".stripMargin)
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val viaWhere = rows(
      """MATCH (p:Person) WHERE EXISTS((p)-[:ACTED_IN]->(:Movie))
        |RETURN p.Name AS N""".stripMargin).map(_.getString(0)).toSet
    assert(e.filter(_._2).keySet == viaWhere)
    assert(e.exists(!_._2)) // non-actors present with false
  }

  test("EXISTS inside OPTIONAL MATCH WHERE: outer correlation rides " +
      "the ON condition, own correlation filters the optional side") {
    // OUTER-correlated (through p): a per-outer-row boolean in the ON
    // condition — failing rows NULL-fill, they never drop the person.
    // p5 reviews twice but never acts → null row (count 0); everyone
    // keeps exactly their row
    val r = rows(
      """MATCH (p:Person)
        |OPTIONAL MATCH (p)-[r:REVIEWED]->(m:Movie)
        |WHERE EXISTS((p)-[:ACTED_IN]->(:Movie))
        |RETURN p.id AS i, count(m.id) AS n ORDER BY i""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r.toSeq == Seq(("p1", 0L), ("p2", 0L), ("p3", 0L),
      ("p4", 0L), ("p5", 0L)))
    // NOT EXISTS flips it: only the non-actor p5 keeps its reviews
    val r2 = rows(
      """MATCH (p:Person)
        |OPTIONAL MATCH (p)-[r:REVIEWED]->(m:Movie)
        |WHERE NOT EXISTS((p)-[:ACTED_IN]->(:Movie))
        |RETURN p.id AS i, count(m.id) AS n ORDER BY i""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r2.toSeq == Seq(("p1", 0L), ("p2", 0L), ("p3", 0L),
      ("p4", 0L), ("p5", 2L)))
    // CLAUSE-correlated (through m): semi-join filters the optional
    // side BEFORE the join — only reviews of a DIRECTED movie (m1)
    // survive, so p5 keeps one of its two reviews
    val r3 = rows(
      """MATCH (p:Person)
        |OPTIONAL MATCH (p)-[r:REVIEWED]->(m:Movie)
        |WHERE EXISTS((m)<-[:DIRECTED]-(:Person))
        |RETURN p.id AS i, count(m.id) AS n ORDER BY i""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r3.toSeq == Seq(("p1", 0L), ("p2", 0L), ("p3", 0L),
      ("p4", 0L), ("p5", 1L)))
    // an existential STRADDLING outer and clause variables has no
    // decomposition — typed
    intercept[CypherNotSupportedException](rows(
      """MATCH (q:Person) WHERE q.id = 'p5'
        |OPTIONAL MATCH (p2:Person)-[r:REVIEWED]->(m:Movie)
        |WHERE EXISTS((q)-[:FOLLOWS]->(p2))
        |RETURN q.id AS i, count(m.id) AS n""".stripMargin))
  }

  test("parity session rejects EXISTS") {
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      """MATCH (p:Person) WHERE EXISTS((p)-[:ACTED_IN]->(:Movie))
        |RETURN p.Name AS N""".stripMargin))
  }

  // ------------------------------------- count(*) + entity introspection

  test("count(*) aggregates rows; parity keeps rejecting it") {
    assert(rows("MATCH (p:Person) RETURN count(*) AS c").head.getLong(0) == 5L)
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |RETURN m.Title AS T, count(*) AS C ORDER BY T""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("Apollo 13", 2L), ("Sleepless in Seattle", 2L),
          ("You've Got Mail", 2L)))
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person) RETURN count(*) AS c"))
  }

  test("entity introspection: id, labels, type, keys, properties") {
    val r = rows(
      """MATCH (p:Person)-[a:ACTED_IN]->(m:Movie)
        |WHERE p.Name = 'Tom Hanks' AND m.Title = 'Apollo 13'
        |RETURN id(p) AS pid, labels(p) AS pl, type(a) AS t,
        |       keys(m) AS mk, properties(m) AS props""".stripMargin).head
    assert(r.getString(0) == "p1")
    // round 12: matched sub-labels join the primary — Tom Hanks is
    // Born 1956, the Boomer discriminator
    assert(r.getSeq[String](1) == Seq("Person", "Boomer"))
    assert(r.getString(2) == "ACTED_IN")
    assert(r.getSeq[String](3) == Seq("id", "Title", "Tagline", "Released"))
    val props = r.getStruct(4)
    assert(props.getAs[String]("Title") == "Apollo 13")
    assert(props.getAs[Int]("Released") == 1995)
  }

  test("labels(n): matched sub-labels join the primary per row") {
    val r = rows(
      """MATCH (p:Person) RETURN p.Name AS N, labels(p) AS L
        |ORDER BY N""".stripMargin)
      .map(x => (x.getString(0), x.getSeq[String](1)))
    assert(r == Seq(
      ("Jessica Thompson", Seq("Person")),          // Born null
      ("Kevin Bacon", Seq("Person")),               // 1958 — no sub
      ("Meg Ryan", Seq("Person", "Sixties")),       // 1961
      ("Rob Reiner", Seq("Person")),                // Born null
      ("Tom Hanks", Seq("Person", "Boomer"))))      // 1956
  }

  test("entity introspection misuse is a typed error") {
    // id() on a relationship: edges are keyed (src, sink) in this model
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person)-[a:ACTED_IN]->(m:Movie) RETURN id(a) AS x"))
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) RETURN type(p) AS x"))
    intercept[CypherBindingException](rows(
      "MATCH (p:Person)-[a:ACTED_IN]->(m:Movie) RETURN labels(a) AS x"))
    intercept[CypherSyntaxException](rows(
      "MATCH (p:Person) RETURN id(p.Name) AS x"))
  }

  // --------------------------------------------------- star projections

  test("WITH * carries the whole scope; explicit items extend it") {
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |WITH * WHERE m.Released < 1994
        |WITH *, p.Born AS b
        |RETURN p.Name AS N, m.Title AS T, b ORDER BY N""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Meg Ryan", "Sleepless in Seattle"),
          ("Tom Hanks", "Sleepless in Seattle")))
  }

  test("RETURN * over a value-only scope, alphabetical columns") {
    val df = session.run(
      """MATCH (p:Person) WHERE p.Born IS NOT NULL
        |WITH p.Name AS name, p.Born AS born
        |RETURN * ORDER BY name""".stripMargin)
    assert(df.columns.toSeq == Seq("born", "name"))
    assert(df.collect().map(_.getString(1)).toSeq ==
      Seq("Kevin Bacon", "Meg Ryan", "Tom Hanks"))
  }

  test("star shadowing and error surface") {
    // an explicit item with an in-scope name replaces the expansion
    val df = session.run(
      """MATCH (p:Person) WITH p.Name AS name, p.Born AS born
        |WITH *, born + 1 AS born
        |RETURN * ORDER BY name LIMIT 1""".stripMargin)
    assert(df.columns.sorted.toSeq == Seq("born", "name"))
    // RETURN * with an entity in scope keeps the whole-entity rejection
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) RETURN *"))
    // parity keeps rejecting the star
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person) WITH * RETURN p.Name AS N"))
  }

  // ------------------------------------------------- duration arithmetic

  test("duration(): day-time arithmetic on dates promotes to timestamp") {
    import org.apache.spark.sql.types._
    val df = session.run(
      """MATCH (m:Movie) WHERE m.Title = 'Apollo 13'
        |WITH date(toString(m.Released) + '-01-01') AS d
        |RETURN d + duration('P30D') AS plus30,
        |       d - duration('PT12H') AS minus12h,
        |       d + duration('P1Y') AS plus1y,
        |       d - duration('P2M') AS minus2m""".stripMargin)
    val f = df.schema.fields.map(x => x.name -> x.dataType).toMap
    assert(f("plus30") == TimestampType)   // day-time ⇒ timestamp
    assert(f("minus12h") == TimestampType)
    assert(f("plus1y") == DateType)        // year-month keeps date
    assert(f("minus2m") == DateType)
    val r = df.collect().head
    assert(r.getTimestamp(0).toString.startsWith("1995-01-31"))
    assert(r.getTimestamp(1).toString.startsWith("1994-12-31 12:00:00"))
    assert(r.getDate(2).toString == "1996-01-01")
    assert(r.getDate(3).toString == "1994-11-01")
  }

  test("duration(): interval combination, comparison, misuse errors") {
    val r = rows(
      """MATCH (m:Movie) WHERE m.Title = 'Apollo 13'
        |WITH date(toString(m.Released) + '-01-01') AS d
        |RETURN d + (duration('P1D') + duration('PT6H')) AS combo,
        |       d + duration('P1W') < d + duration('P8D') AS lt""".stripMargin)
      .head
    assert(r.getTimestamp(0).toString.startsWith("1995-01-02 06:00:00"))
    assert(r.getBoolean(1))
    // mixing year-month with day-time in ONE literal is rejected
    intercept[CypherNotSupportedException](rows(
      "MATCH (m:Movie) RETURN m.Released + 0 AS x, duration('P1Y2D') AS d"))
    // malformed literal and non-literal argument are static errors
    intercept[CypherSyntaxException](rows(
      "MATCH (m:Movie) RETURN duration('30 days') AS d"))
    intercept[CypherTypeException](rows(
      "MATCH (m:Movie) RETURN m.Released + duration('P1D') AS d"))
  }

  // ---------------------------------------------- pattern comprehensions

  test("pattern comprehension collects correlated matches per outer row") {
    val r = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS N,
        |       [(p)-[:ACTED_IN]->(m:Movie) | m.Title] AS titles
        |ORDER BY N""".stripMargin)
    assert(r.size == 5) // outer cardinality preserved
    val m = r.map(x => x.getString(0) -> x.getSeq[String](1).sorted).toMap
    assert(m("Tom Hanks") ==
      Seq("Apollo 13", "Sleepless in Seattle", "You've Got Mail"))
    assert(m("Kevin Bacon") == Seq("Apollo 13"))
    assert(m("Rob Reiner") == Seq.empty)      // no match ⇒ empty list
    assert(m("Jessica Thompson") == Seq.empty)
  }

  test("pattern comprehension: inner WHERE, size(), incoming direction") {
    val r = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS N,
        |       size([(p)-[:ACTED_IN]->(m:Movie) WHERE m.Released > 1994
        |              | m.Title]) AS c
        |ORDER BY N""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getInt(1))) == Seq(
      ("Jessica Thompson", 0), ("Kevin Bacon", 1), ("Meg Ryan", 1),
      ("Rob Reiner", 0), ("Tom Hanks", 2)))
    // correlate on the sink side of an incoming edge
    val rev = rows(
      """MATCH (m:Movie)
        |RETURN m.Title AS T,
        |       [(x:Person)-[:REVIEWED]->(m) | x.Name] AS reviewers
        |ORDER BY T""".stripMargin)
    assert(rev.map(x => (x.getString(0), x.getSeq[String](1).sorted)) == Seq(
      ("Apollo 13", Seq.empty),
      ("Sleepless in Seattle", Seq("Jessica Thompson")),
      ("You've Got Mail", Seq("Jessica Thompson"))))
  }

  test("pattern comprehension placement and ambiguity") {
    // `[(expr), …]` stays an ordinary list literal (backtracked)
    val lit = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN [(p.Born), 7] AS xs""".stripMargin).head
    assert(lit.getSeq[Int](0) == Seq(1956, 7))
    // MATCH WHERE position lowers like a projection item (round 11) —
    // the classic degree predicate, alone and under OR
    val deg = rows(
      """MATCH (p:Person)
        |WHERE size([(p)-[:ACTED_IN]->(m:Movie) | m.id]) >= 2
        |RETURN p.id AS i ORDER BY i""".stripMargin).map(_.getString(0))
    assert(deg == Seq("p1", "p2"))
    val degOr = rows(
      """MATCH (p:Person)
        |WHERE p.id = 'p4' OR
        |      size([(p)-[:ACTED_IN]->(m:Movie) | m.id]) >= 3
        |RETURN p.id AS i ORDER BY i""".stripMargin)
    assert(degOr.map(_.getString(0)) == Seq("p1", "p4"))
    assert(degOr.head.schema.fieldNames.toSeq == Seq("i")) // no leaks
    // parity mode has no pattern comprehension surface at all
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherException](parity.run(
      """MATCH (p:Person)
        |RETURN [(p)-[:ACTED_IN]->(m:Movie) | m.Title] AS t""".stripMargin))
  }

  test("var-length inside comprehensions / COUNT{} / COLLECT{} (round 13)") {
    // pattern comprehension over a bounded range: one value per PATH
    // (multiset semantics — the 2-hop chain re-reaches p3's targets)
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN [(p)-[:KNOWS*1..2]->(q:Person) | q.Name] AS ns"""
        .stripMargin).head.getSeq[String](0).sorted
    assert(r == Seq("Kevin Bacon", "Meg Ryan", "Rob Reiner"))
    // COUNT{} counts paths, not endpoints
    val r2 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN COUNT { (p)-[:KNOWS*1..3]->(q:Person) } AS c""".stripMargin)
    assert(r2.head.getInt(0) == 4) // p2, p4(shortcut), p2→p3, p2→p3→p4
    // per-hop predicates compose (the 1999 shortcut drops out)
    val r3 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN COUNT { (p)-[k:KNOWS*1..3 WHERE k.Since >= 2010]
        |               ->(q:Person) } AS c""".stripMargin)
    assert(r3.head.getInt(0) == 3)
    // COLLECT{} ordering/paging runs over the branch union
    val r4 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN COLLECT { (p)-[:KNOWS*1..3]->(q:Person)
        |                 RETURN q.Name ORDER BY q.Name LIMIT 2 } AS ns"""
        .stripMargin).head.getSeq[String](0)
    assert(r4 == Seq("Kevin Bacon", "Meg Ryan"))
    // EXISTS as a projection expression
    val r5 = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS nm,
        |       EXISTS { (p)-[:KNOWS*2..2]->(q:Person) } AS two
        |ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), x.getBoolean(1)))
    assert(r5.toMap == Map("Tom Hanks" -> true, "Meg Ryan" -> true,
      "Kevin Bacon" -> false, "Rob Reiner" -> false,
      "Jessica Thompson" -> false))
    // UNBOUNDED ranges inside comps (round 17): the reach lowering —
    // one value per reachable PAIR (the documented recursive-CTE
    // contract, the EXISTS posture); Tom reaches all three
    val r6 = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS nm,
        |       COUNT { (p)-[:KNOWS*1..]->(q:Person) } AS c
        |ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    assert(r6 == Seq(("Jessica Thompson", 0), ("Kevin Bacon", 1),
      ("Meg Ryan", 2), ("Rob Reiner", 0), ("Tom Hanks", 3)))
    val r7 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN [(p)-[:KNOWS*]->(q:Person) | q.Name] AS ns"""
        .stripMargin).head.getSeq[String](0).sorted
    assert(r7 == Seq("Kevin Bacon", "Meg Ryan", "Rob Reiner"))
    // [*0..] inside a comp: the identity row joins the pair frame
    val r8 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Rob Reiner'
        |RETURN [(p)-[:KNOWS*0..]->(q:Person) | q.Name] AS ns"""
        .stripMargin).head.getSeq[String](0)
    assert(r8 == Seq("Rob Reiner"))
    // bounded zero-length keeps the typed rejection
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)
        |RETURN [(p)-[:KNOWS*0..2]->(q:Person) | q.Name] AS ns"""
        .stripMargin))
  }

  test("label predicate n:Label as a boolean expression (round 13)") {
    // declared sub-label -> discriminator equality
    val r = rows(
      """MATCH (p:Person) WHERE p:Boomer
        |RETURN p.Name AS nm""".stripMargin).map(_.getString(0))
    assert(r == Seq("Tom Hanks"))
    // own label folds true, a foreign label folds false; conjunction
    val r2 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Meg Ryan'
        |RETURN p:Person AS a, p:Movie AS b, p:Sixties AS c,
        |       p:Person:Sixties AS d, NOT p:Boomer AS e""".stripMargin)
      .head
    assert(r2.getBoolean(0) && !r2.getBoolean(1) && r2.getBoolean(2) &&
      r2.getBoolean(3) && r2.getBoolean(4))
    // composes under OR / CASE like any boolean
    val r3 = rows(
      """MATCH (p:Person)
        |WHERE p:Boomer OR p:Sixties
        |RETURN p.Name AS nm ORDER BY nm""".stripMargin).map(_.getString(0))
    assert(r3 == Seq("Meg Ryan", "Tom Hanks"))
    // typed rejections: relationship, value, unknown variable; parity
    intercept[CypherBindingException](rows(
      """MATCH (a:Person)-[k:KNOWS]->(b:Person)
        |WHERE k:KNOWS RETURN a.Name AS nm""".stripMargin))
    intercept[CypherBindingException](rows(
      "WITH 1 AS v RETURN v:Person AS x"))
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) WHERE q:Boomer RETURN p.Name AS nm"))
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person) WHERE p:Boomer RETURN p.Name AS nm"))
  }

  test("bare pattern predicate, multi-value WHEN, keys(map) (round 13)") {
    // EXISTS-less existential: Neo4j's everyday WHERE idiom
    val r = rows(
      """MATCH (p:Person) WHERE (p)-[:DIRECTED]->(:Movie)
        |RETURN p.Name AS nm""".stripMargin).map(_.getString(0))
    assert(r == Seq("Rob Reiner"))
    // NOT form + inline property map on the pattern
    val r2 = rows(
      """MATCH (p:Person)
        |WHERE NOT (p)-[:ACTED_IN]->(:Movie) AND
        |      NOT (p)-[:DIRECTED]->(:Movie)
        |RETURN p.Name AS nm ORDER BY nm""".stripMargin).map(_.getString(0))
    assert(r2 == Seq("Jessica Thompson"))
    val r3 = rows(
      """MATCH (p:Person)
        |WHERE (p)-[:ACTED_IN]->(:Movie {Title: 'Apollo 13'})
        |RETURN p.Name AS nm ORDER BY nm""".stripMargin).map(_.getString(0))
    assert(r3 == Seq("Kevin Bacon", "Tom Hanks"))
    // plain parenthesized arithmetic still backtracks cleanly
    val r4 = rows("RETURN (1)-(2) AS d, ((3)) * 2 AS m").head
    assert(r4.getInt(0) == -1 && r4.getInt(1) == 6)
    // simple CASE with multi-value WHEN
    val r5 = rows(
      """MATCH (p:Person)
        |RETURN CASE p.Name WHEN 'Tom Hanks', 'Meg Ryan' THEN 'star'
        |       ELSE 'other' END AS k, count(*) AS n ORDER BY k"""
        .stripMargin).map(x => (x.getString(0), x.getLong(1)))
    assert(r5 == Seq(("other", 3L), ("star", 2L)))
    // keys() over map values and map projections
    val r6 = rows(
      """MATCH (m:Movie) WHERE m.Title = 'Apollo 13'
        |WITH m {.Title, .Released} AS mp, {x: 1, y: 2} AS lit
        |RETURN keys(mp) AS a, keys(lit) AS b""".stripMargin).head
    assert(r6.getSeq[String](0) == Seq("Title", "Released"))
    assert(r6.getSeq[String](1) == Seq("x", "y"))
    // map subscript by literal string key (round 13)
    val r7 = rows(
      """MATCH (m:Movie) WHERE m.Title = 'Apollo 13'
        |WITH m {.Title, .Released} AS mp
        |RETURN mp['Title'] AS t, mp['Released'] + 1 AS y""".stripMargin)
      .head
    assert(r7.getString(0) == "Apollo 13" && r7.getInt(1) == 1996)
    // unknown literal key / slice stay typed; a dynamic key resolves
    // at runtime since round 14
    intercept[CypherBindingException](rows(
      "WITH {a: 1} AS m RETURN m['nope'] AS x"))
    assert(rows("WITH {a: 1} AS m, 'a' AS k RETURN m[k] AS x")
      .head.getInt(0) == 1)
    intercept[CypherTypeException](rows(
      "WITH {a: 1} AS m RETURN m[0..1] AS x"))
  }

  test("multi-relationship quantified path pattern group (round 13)") {
    // KNOWS chain: p1→p2→p3→p4 plus the p1→p4 shortcut. A 2-hop
    // composite at {1,1} = paths of length exactly 2
    val r = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)-[:KNOWS]->(z)){1,1}
        |(b:Person)
        |RETURN a.Name AS an, b.Name AS bn ORDER BY an, bn""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r == Seq(("Meg Ryan", "Rob Reiner"),
      ("Tom Hanks", "Kevin Bacon")))
    // interior node predicate filters the repetition
    val r2 = rows(
      """MATCH (a:Person)
        |((x)-[:KNOWS]->(y)-[:KNOWS]->(z) WHERE y.Born = 1961){1,1}
        |(b:Person)
        |RETURN a.Name AS an, b.Name AS bn""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r2 == Seq(("Tom Hanks", "Kevin Bacon")))
    // {1,2}: length-2 plus length-4 paths (none at 4 here)
    val r3 = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)-[:KNOWS]->(z)){1,2}
        |(b:Person) RETURN count(*) AS n""".stripMargin).head.getLong(0)
    assert(r3 == r.size.toLong)
    // cycle inside the group: repeated alias pins the same node
    val r4 = rows(
      """MATCH (a:Person) ((x)-[:FOLLOWS]->(y)-[:FOLLOWS]->(x)){1,1}
        |(b:Person) RETURN count(*) AS n""".stripMargin).head.getLong(0)
    assert(r4 == 0L) // FOLLOWS has no 2-cycle
    // unbounded quantifier over a composite: the reach BFS iterates
    // the composed frame (pairs at even KNOWS-distance here)
    val r5 = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)-[:KNOWS]->(z)){1,}
        |(b:Person)
        |RETURN a.Name AS an, b.Name AS bn ORDER BY an, bn""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r5 == r) // no 4-hop KNOWS paths: {1,} = the length-2 set
    // juncture label mismatch is a typed rejection
    intercept[CypherBindingException](rows(
      """MATCH (a:Person) ((x)-[:ACTED_IN]->(m)-[:KNOWS]->(z)){1,1}
        |(b:Person) RETURN count(*) AS n""".stripMargin))
    // every hop needs a direction
    intercept[CypherNotSupportedException](rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)-[:KNOWS]-(z)){1,1}
        |(b:Person) RETURN count(*) AS n""".stripMargin))
  }

  test("lpad/rpad/btrim, list casts, vector similarity (round 14)") {
    val r = rows(
      """RETURN lpad('7', 3, '0') AS a, rpad('ab', 5) AS b,
        |       btrim('xxabxx', 'x') AS c, btrim('  ab  ') AS d,
        |       toIntegerList(['1', '2', 'z']) AS e,
        |       toFloatList(['1.5', 'z']) AS f,
        |       toStringList([1, 2]) AS g,
        |       toBooleanList(['true', 'zz']) AS h""".stripMargin).head
    assert(r.getString(0) == "007" && r.getString(1) == "ab   " &&
      r.getString(2) == "ab" && r.getString(3) == "ab")
    assert(r.getSeq[Any](4) == Seq(1L, 2L, null))
    assert(r.getSeq[Any](5) == Seq(1.5, null))
    assert(r.getSeq[Any](6) == Seq("1", "2"))
    assert(r.getSeq[Any](7) == Seq(true, null))
    // vector similarity: the index scoring formulas — cosine →
    // (1+cos)/2, euclidean → 1/(1+d²); zero-norm / length-mismatch
    // yield null
    val v = rows(
      """RETURN vector.similarity.cosine([1.0, 0.0], [1.0, 0.0]) AS s1,
        |       vector.similarity.cosine([1.0, 0.0], [0.0, 1.0]) AS s2,
        |       vector.similarity.cosine([1.0, 0.0], [-1.0, 0.0]) AS s3,
        |       vector.similarity.euclidean([1.0, 2.0], [1.0, 2.0])
        |         AS e1,
        |       vector.similarity.euclidean([0.0, 0.0], [3.0, 4.0])
        |         AS e2,
        |       vector.similarity.cosine([0.0, 0.0], [1.0, 0.0])
        |         IS NULL AS z,
        |       vector.similarity.cosine([1.0], [1.0, 0.0])
        |         IS NULL AS m""".stripMargin).head
    assert(v.getDouble(0) == 1.0 && v.getDouble(1) == 0.5 &&
      v.getDouble(2) == 0.0)
    assert(v.getDouble(3) == 1.0 && v.getDouble(4) == 1.0 / 26.0)
    assert(v.getBoolean(5) && v.getBoolean(6))
    // split on a delimiter LIST (Neo4j 5): any of them splits
    assert(rows("RETURN split('a,b;c', [',', ';']) AS x")
      .head.getSeq[String](0) == Seq("a", "b", "c"))
    intercept[CypherNotSupportedException](rows(
      "WITH ';' AS d RETURN split('a;b', [d]) AS x"))
    // rejections: non-list cast, non-numeric vectors, parity gate
    intercept[CypherTypeException](rows("RETURN toIntegerList('x') AS a"))
    intercept[CypherTypeException](rows(
      "RETURN vector.similarity.cosine(['a'], ['b']) AS a"))
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person) RETURN " +
        "vector.similarity.cosine([1.0], [1.0]) AS a"))
  }

  test("Cypher 2025 clause sugar: LET, FILTER, OFFSET, NULLS " +
      "ordering (round 14)") {
    // LET ≡ WITH *, expr AS v; FILTER ≡ WITH * WHERE
    val r = rows(
      """MATCH (p:Person)
        |LET era = CASE WHEN p.Born < 1960 THEN 'old' ELSE 'new' END,
        |    ln = size(p.Name)
        |FILTER p.Born IS NOT NULL
        |RETURN p.Name AS nm, era, ln ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getInt(2)))
    assert(r == Seq(("Kevin Bacon", "old", 11), ("Meg Ryan", "new", 8),
      ("Tom Hanks", "old", 9)))
    // OFFSET ≡ SKIP
    val o = rows(
      """MATCH (p:Person) RETURN p.Name AS nm
        |ORDER BY nm OFFSET 2 LIMIT 2""".stripMargin).map(_.getString(0))
    assert(o == Seq("Meg Ryan", "Rob Reiner"))
    // NULLS FIRST/LAST (Born is null for Rob and Jessica)
    val nf = rows(
      """MATCH (p:Person) RETURN p.Name AS nm, p.Born AS b
        |ORDER BY b ASC NULLS FIRST, nm""".stripMargin)
      .map(_.getString(0))
    assert(nf == Seq("Jessica Thompson", "Rob Reiner", "Tom Hanks",
      "Kevin Bacon", "Meg Ryan"))
    val nl = rows(
      """MATCH (p:Person) RETURN p.Name AS nm, p.Born AS b
        |ORDER BY b ASC NULLS LAST, nm""".stripMargin)
      .map(_.getString(0))
    assert(nl == Seq("Tom Hanks", "Kevin Bacon", "Meg Ryan",
      "Jessica Thompson", "Rob Reiner"))
    // LET binds NEW names: redefining an in-scope variable is typed
    // (Cypher 2025's contract, unlike WITH's masking)
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) LET p = 1 RETURN p"))
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) LET x = 1 LET x = 2 RETURN x"))
    // round 15 (ADVICE-r14): items bind SEQUENTIALLY — later items of
    // the same LET read earlier ones — and a duplicate alias within
    // one LET is a parse error
    val seqR = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |LET a = p.Born + 1, b = a * 2, c = b - a
        |RETURN a, b, c""".stripMargin).head
    assert((seqR.getInt(0), seqR.getInt(1), seqR.getInt(2)) ==
      (1957, 3914, 1957))
    intercept[CypherSyntaxException](rows(
      "MATCH (p:Person) LET x = 1, x = 2 RETURN x"))
    // parity keeps the rejections
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person) LET x = 1 RETURN x"))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person) RETURN p.Name AS nm ORDER BY nm NULLS LAST"))
  }

  test("GQL path selectors SHORTEST k / ANY k / k GROUPS (round 14)") {
    // two p1→p4 paths: the length-1 shortcut and the length-3 chain
    val r = rows(
      """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*1..3]->(b:Person)
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
        |RETURN length(p) AS l ORDER BY l""".stripMargin)
      .map(_.getLong(0))
    assert(r == Seq(1L, 3L))
    // SHORTEST 1 ≡ shortestPath(): one row per binding pair
    val r1 = rows(
      """MATCH p = SHORTEST 1 (a:Person)-[:KNOWS*1..3]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn, length(p) AS l ORDER BY bn""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r1 == Seq(("Kevin Bacon", 2L), ("Meg Ryan", 1L),
      ("Rob Reiner", 1L)))
    // GROUPS: the k first length groups, every path in each
    val rg = rows(
      """MATCH p = SHORTEST 2 GROUPS (a:Person)-[:KNOWS*1..3]->
        |(b:Person)
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
        |RETURN length(p) AS l ORDER BY l""".stripMargin)
      .map(_.getLong(0))
    assert(rg == Seq(1L, 3L))
    // ALL SHORTEST keyword form ≡ allShortestPaths()
    val ra = rows(
      """MATCH p = ALL SHORTEST (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |WHERE a.Name = 'Jessica Thompson' AND b.Name = 'Meg Ryan'
        |RETURN length(p) AS l""".stripMargin).map(_.getLong(0))
    assert(ra == Seq(1L))
    // ANY 2 with witnesses: two distinct node arrays survive
    val rw = rows(
      """MATCH p = ANY 2 (a:Person)-[:KNOWS*1..3]->(b:Person)
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
        |RETURN [n IN nodes(p) | n.Name] AS ns
        |ORDER BY size(ns)""".stripMargin).map(_.getSeq[String](0))
    assert(rw == Seq(Seq("Tom Hanks", "Rob Reiner"),
      Seq("Tom Hanks", "Meg Ryan", "Kevin Bacon", "Rob Reiner")))
    // ANY 1 folds to the k = 1 lowering, so unbounded ranges work
    assert(rows(
      """MATCH p = ANY 1 (a:Person)-[:KNOWS*]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN count(*) AS n""".stripMargin).head.getLong(0) == 3L)
    // plan shape: the k-ranking's row_number filter lowers to
    // WindowGroupLimit (partial per-partition top-k pre-shuffle)
    val selPlan = session.run(
      """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*1..3]->(b:Person)
        |RETURN b.Name AS bn, length(p) AS l""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(selPlan.contains("WindowGroupLimit"), selPlan)
    // k > 1 over an unbounded range runs UNANCHORED since round 16
    // (VERDICT-r15 #3): the full pair table, k smallest levels each
    assert(rows(
      """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*]->(b:Person)
        |RETURN length(p) AS l""".stripMargin).size == 7)
    // out-of-range k and LET aggregates are typed (round-14 fixes)
    intercept[CypherSyntaxException](rows(
      "MATCH p = SHORTEST 99999999999999999999 " +
        "(a:Person)-[:KNOWS*1..2]->(b:Person) RETURN length(p) AS l"))
    intercept[CypherTypeException](rows(
      "RETURN vector.similarity.cosine([1.0]) AS x"))
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) LET c = count(p) RETURN c"))
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*1..2]->(b:Person) " +
        "RETURN length(p) AS l"))
  }

  test("SHORTEST k / ANY k / k GROUPS over UNBOUNDED ranges " +
      "(round 15)") {
    // anchored k-level DP over the KNOWS DAG: Tom→Rob has paths of
    // length 1 (the 1999 shortcut) and 3 (the chain) — SHORTEST 2
    // keeps both levels; single-path pairs keep their one row
    val r = rows(
      """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn, length(p) AS l ORDER BY bn, l""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r == Seq(("Kevin Bacon", 2L), ("Meg Ryan", 1L),
      ("Rob Reiner", 1L), ("Rob Reiner", 3L)))
    // GROUPS: same two levels here (σ = 1 per level on this chain)
    val g = rows(
      """MATCH p = SHORTEST 2 GROUPS (a:Person)-[:KNOWS*]->(b:Person)
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
        |RETURN length(p) AS l ORDER BY l""".stripMargin)
      .map(_.getLong(0))
    assert(g == Seq(1L, 3L))
    // ANY 2 = two rows by length here; a REVERSE anchor seeds too
    val rev = rows(
      """MATCH p = ANY 2 (a:Person)-[:KNOWS*]->(b:Person)
        |WHERE b.Name = 'Rob Reiner' AND a.Name = 'Tom Hanks'
        |RETURN length(p) AS l ORDER BY l""".stripMargin)
      .map(_.getLong(0))
    assert(rev == Seq(1L, 3L))
    // UNANCHORED (round 16; VERDICT-r15 #3): every source seeds the
    // DP — the full pair table with the k smallest levels per pair
    val un = rows(
      """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*]->(b:Person)
        |RETURN a.Name AS an, b.Name AS bn, length(p) AS l
        |ORDER BY an, bn, l""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    assert(un == Seq(
      ("Kevin Bacon", "Rob Reiner", 1L),
      ("Meg Ryan", "Kevin Bacon", 1L), ("Meg Ryan", "Rob Reiner", 2L),
      ("Tom Hanks", "Kevin Bacon", 2L), ("Tom Hanks", "Meg Ryan", 1L),
      ("Tom Hanks", "Rob Reiner", 1L), ("Tom Hanks", "Rob Reiner", 3L)))
    // a CYCLIC anchored cone stays typed (walk vs trail divergence);
    // a cycle OUTSIDE the anchor's reachable cone must NOT reject
    // (the DP never walks it)
    locally {
      import spark.implicits._
      val base = MovieFixture.catalog(spark)
      // Tom's cone: p1→p2→p3 (acyclic); p4⇄p5 is a detached cycle
      val cyc = Seq(("p1", "p2", 2010), ("p2", "p3", 2015),
        ("p4", "p5", 2020), ("p5", "p4", 2021))
        .toDF("_vertexId", "_sink", "Since")
      val cat = new GraphCatalog(MovieFixture.schema, {
        case "knows"  => cyc
        case "person" => base.nodeDf("Person")
        case other    => throw new IllegalArgumentException(other)
      })
      val s = new CypherSession(spark, cat).extended
      val ok = s.run(
        """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*]->(b:Person)
          |WHERE a.Name = 'Tom Hanks'
          |RETURN b.Name AS bn, length(p) AS l ORDER BY bn"""
          .stripMargin).collect()
        .map(x => (x.getString(0), x.getLong(1)))
      assert(ok.toSeq == Seq(("Kevin Bacon", 2L), ("Meg Ryan", 1L)))
      // anchoring INSIDE the cycle rejects
      val e = intercept[Exception](s.run(
        """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*]->(b:Person)
          |WHERE a.Name = 'Rob Reiner'
          |RETURN length(p) AS l""".stripMargin).collect())
      assert(e.getMessage.contains("CYCLIC"))
    }
  }

  test("SHORTEST k witnesses over UNBOUNDED ranges (round 16)") {
    // nodes(p)/relationships(p) under a k > 1 selector: the k-level
    // DP keeps per-level parent sets; the σ-fold walk enumerates the
    // kept levels' paths. Tom→Rob: L1 (the 1999 shortcut) + L3.
    val r = rows(
      """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*]->(b:Person)
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
        |RETURN [n IN nodes(p) | n.Name] AS ns,
        |       [e IN relationships(p) | e.Since] AS ss,
        |       length(p) AS l ORDER BY l""".stripMargin)
      .map(x => (x.getSeq[String](0), x.getSeq[Int](1), x.getLong(2)))
    assert(r == Seq(
      (Seq("Tom Hanks", "Rob Reiner"), Seq(1999), 1L),
      (Seq("Tom Hanks", "Meg Ryan", "Kevin Bacon", "Rob Reiner"),
        Seq(2010, 2015, 2020), 3L)))
    // agreement with the bounded-range branch lowering (the q156/q158
    // machinery): same selector, [*1..3] vs [*] — identical witnesses
    val bounded = rows(
      """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*1..3]->(b:Person)
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
        |RETURN [n IN nodes(p) | n.Name] AS ns, length(p) AS l
        |ORDER BY l""".stripMargin)
      .map(x => (x.getSeq[String](0), x.getLong(1)))
    assert(bounded == r.map(x => (x._1, x._3)))
    // GROUPS over a σ = 2 diamond: BOTH minimal paths come out as
    // distinct witness rows; the reverse anchor seeds too
    locally {
      import spark.implicits._
      val base = MovieFixture.catalog(spark)
      val diamond = Seq(
        ("p1", "p2", 1), ("p1", "p3", 2),
        ("p2", "p4", 3), ("p3", "p4", 4), ("p4", "p5", 5))
        .toDF("_vertexId", "_sink", "Since")
      val cat = new GraphCatalog(MovieFixture.schema, {
        case "knows"  => diamond
        case "person" => base.nodeDf("Person")
        case other    => throw new IllegalArgumentException(other)
      })
      val s = new CypherSession(spark, cat).extended
      val g = s.run(
        """MATCH p = SHORTEST 1 GROUPS (a:Person)-[:KNOWS*]->(b:Person)
          |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Jessica Thompson'
          |RETURN [n IN nodes(p) | n.id] AS ns ORDER BY ns"""
          .stripMargin).collect().map(_.getSeq[String](0))
      assert(g.toSeq == Seq(Seq("p1", "p2", "p4", "p5"),
        Seq("p1", "p3", "p4", "p5")))
      // ANY 2 caps at two paths (deterministic length-then-array
      // order); the reverse-anchored spelling agrees
      val a2 = s.run(
        """MATCH p = ANY 2 (a:Person)-[:KNOWS*]->(b:Person)
          |WHERE b.Name = 'Jessica Thompson' AND a.Name = 'Tom Hanks'
          |RETURN [n IN nodes(p) | n.id] AS ns ORDER BY ns"""
          .stripMargin).collect().map(_.getSeq[String](0))
      assert(a2.toSeq == Seq(Seq("p1", "p2", "p4", "p5"),
        Seq("p1", "p3", "p4", "p5")))
    }
    // UNANCHORED witnesses: no anchor seeds every source — the full
    // pair table, each row carrying its own node array
    val unw = rows(
      """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*]->(b:Person)
        |WHERE size(nodes(p)) > 3
        |RETURN [n IN nodes(p) | n.id] AS ns""".stripMargin)
      .map(_.getSeq[String](0))
    assert(unw == Seq(Seq("p1", "p2", "p3", "p4")))
    // PARALLEL edges: σ multiplies (ADVICE-r15 #3) — two identical
    // node arrays, one per underlying relationship (q158's row
    // multiplicity), for witness and plain spellings alike
    locally {
      import spark.implicits._
      val base = MovieFixture.catalog(spark)
      val par = Seq(("p1", "p2", 2001), ("p1", "p2", 2002),
        ("p2", "p3", 2003)).toDF("_vertexId", "_sink", "Since")
      val cat = new GraphCatalog(MovieFixture.schema, {
        case "knows"  => par
        case "person" => base.nodeDf("Person")
        case other    => throw new IllegalArgumentException(other)
      })
      val s = new CypherSession(spark, cat).extended
      val rr = s.run(
        """MATCH p = SHORTEST 2 GROUPS (a:Person)-[:KNOWS*]->(b:Person)
          |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Kevin Bacon'
          |RETURN [n IN nodes(p) | n.id] AS ns, length(p) AS l"""
          .stripMargin).collect()
        .map(x => (x.getSeq[String](0), x.getLong(1)))
      assert(rr.toSeq == Seq((Seq("p1", "p2", "p3"), 2L),
        (Seq("p1", "p2", "p3"), 2L)))
      val plain = s.run(
        """MATCH p = SHORTEST 2 GROUPS (a:Person)-[:KNOWS*]->(b:Person)
          |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Kevin Bacon'
          |RETURN length(p) AS l""".stripMargin).collect()
        .map(_.getLong(0))
      assert(plain.toSeq == Seq(2L, 2L))
      // fused one-pass witness resolution (optimization round 16):
      // the rel ARRAYS of both σ rows pick the deterministic
      // min-property edge per hop (the old split-join contract,
      // value-pinned through widsToNodesRels) while the node arrays
      // stay aligned in the same output row
      val both = s.run(
        """MATCH p = SHORTEST 2 GROUPS (a:Person)-[:KNOWS*]->(b:Person)
          |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Kevin Bacon'
          |RETURN [n IN nodes(p) | n.id] AS ns,
          |       [e IN relationships(p) | e.Since] AS ss"""
          .stripMargin).collect()
        .map(x => (x.getSeq[String](0), x.getSeq[Int](1)))
      assert(both.toSeq == Seq(
        (Seq("p1", "p2", "p3"), Seq(2001, 2003)),
        (Seq("p1", "p2", "p3"), Seq(2001, 2003))))
    }
    // driver fast path ≡ distributed loop (optimization round 16):
    // the SAME witness query with spark.graft.reach.driverRows = 0
    // (forces the distributed σ DP + walk) must produce identical
    // rows — guards, multiplicity and ordering all agree
    locally {
      val q =
        """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*]->(b:Person)
          |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
          |RETURN [n IN nodes(p) | n.Name] AS ns,
          |       [e IN relationships(p) | e.Since] AS ss,
          |       length(p) AS l ORDER BY l, ns""".stripMargin
      def run(): Seq[(Seq[String], Seq[Int], Long)] = rows(q)
        .map(x => (x.getSeq[String](0), x.getSeq[Int](1), x.getLong(2)))
      val viaDriver = run()
      spark.conf.set(graft.cypher.Reach.DriverRowsConf, "0")
      try assert(run() == viaDriver)
      finally spark.conf.unset(graft.cypher.Reach.DriverRowsConf)
    }
  }

  test("k > 1 selectors over heterogeneous chains and [*0..] " +
      "(round 16)") {
    import spark.implicits._
    // FEEDS spans A→B and B→A: the σ DP runs over the tagged union
    // frame (packed (ordinal, id) keys compose)
    val schemaH = GraphSchema(
      nodes = Seq(NodeDef("A", "id", Seq.empty, "a_tbl"),
        NodeDef("B", "id", Seq.empty, "b_tbl")),
      edges = Seq(
        EdgeDef("FEEDS", "A", "B", "src", "dst", Seq.empty, "ab"),
        EdgeDef("FEEDS", "B", "A", "src", "dst", Seq.empty, "ba")))
    val aTbl = Seq(1L, 2L).toDF("id")
    val bTbl = Seq(10L, 20L, 30L).toDF("id")
    val ab = Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("src", "dst")
    val ba = Seq((10L, 2L), (20L, 2L)).toDF("src", "dst")
    val s = new CypherSession(spark, new GraphCatalog(schemaH, {
      case "a_tbl" => aTbl; case "b_tbl" => bTbl
      case "ab" => ab; case "ba" => ba
      case other => throw new IllegalArgumentException(other)
    })).extended
    // A1→B3: two L3 chains (via B10 and via B20) — GROUPS keeps both
    // σ rows of the single kept level; SHORTEST 2 likewise
    val g = s.run(
      """MATCH p = SHORTEST 2 GROUPS (a:A)-[:FEEDS*]->(b:B)
        |WHERE a.id = 1
        |RETURN b.id AS bid, length(p) AS l ORDER BY bid, l"""
        .stripMargin).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(g.toSeq == Seq((10L, 1L), (20L, 1L), (30L, 3L), (30L, 3L)))
    // unanchored hetero k > 1: the full (A, B) pair table
    val un = s.run(
      """MATCH p = SHORTEST 2 (a:A)-[:FEEDS*]->(b:B)
        |RETURN a.id AS aid, b.id AS bid, length(p) AS l
        |ORDER BY aid, bid, l""".stripMargin).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(un.toSeq == Seq((1L, 10L, 1L), (1L, 20L, 1L), (1L, 30L, 3L),
      (1L, 30L, 3L), (2L, 30L, 1L)))
    // [*0..]: the zero-hop identity row enters as level 0 with σ = 1
    // (same-label endpoints; A1 reaches A2 two ways at L2)
    val z = s.run(
      """MATCH p = SHORTEST 2 GROUPS (a:A)-[:FEEDS*0..]->(b:A)
        |WHERE a.id = 1
        |RETURN b.id AS bid, length(p) AS l ORDER BY bid, l"""
        .stripMargin).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(z.toSeq == Seq((1L, 0L), (2L, 2L), (2L, 2L)))
    // hetero witnesses under k > 1 (round 16): each enumerated path's
    // tagged ids resolve to their own tables; the σ = 2 level yields
    // both L3 chains as distinct witness rows
    val hw = s.run(
      """MATCH p = SHORTEST 2 (a:A)-[:FEEDS*]->(b:B) WHERE a.id = 1
        |RETURN b.id AS bid, [n IN nodes(p) | n.id] AS ns
        |ORDER BY bid, ns""".stripMargin).collect()
      .map(x => (x.getLong(0), x.getSeq[Long](1)))
    assert(hw.toSeq == Seq(
      (10L, Seq(1L, 10L)), (20L, Seq(1L, 20L)),
      (30L, Seq(1L, 10L, 2L, 30L)), (30L, Seq(1L, 20L, 2L, 30L))))
    // homogeneous [*0..] + k with the MovieFixture chain: identity
    // level counts toward the k levels
    val z2 = rows(
      """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*0..]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn, length(p) AS l ORDER BY bn, l"""
        .stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(z2 == Seq(("Kevin Bacon", 2L), ("Meg Ryan", 1L),
      ("Rob Reiner", 1L), ("Rob Reiner", 3L), ("Tom Hanks", 0L)))
    // guard trip: a well-connected graph under a tiny closure bound
    spark.conf.set("spark.graft.reach.maxClosureRows", "3")
    try {
      val e = intercept[Exception](rows(
        """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*]->(b:Person)
          |RETURN length(p) AS l""".stripMargin))
      assert(e.getMessage.contains("maxClosureRows"))
    } finally spark.conf.unset("spark.graft.reach.maxClosureRows")
  }

  test("bounded-range selectors agree with the k-level form on a DAG " +
      "(round 16; the cyclic-graph recipe's other half)") {
    // on a CYCLIC graph the k-level lowering raises a typed error and
    // the documented recipe is to bound the range — [*1..h] + selector
    // gives exact trail semantics there. This pins the recipe's other
    // half: on a DAG the two lowerings agree exactly, so bounding is
    // never a behavior change, only a cycle-safety one.
    for (kw <- Seq("SHORTEST 2", "ANY 2", "SHORTEST 2 GROUPS")) {
      def run(range: String) = rows(
        s"""MATCH p = $kw (a:Person)-[:KNOWS$range]->(b:Person)
           |RETURN a.Name AS an, b.Name AS bn, length(p) AS l
           |ORDER BY an, bn, l""".stripMargin)
        .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
      val bounded = run("*1..3")
      assert(run("*") == bounded, s"selector $kw diverged")
      // the distributed kernel loop (driver fast path off) agrees too
      spark.conf.set(Reach.DriverRowsConf, "0")
      try assert(run("*") == bounded, s"selector $kw diverged on the kernel")
      finally spark.conf.unset(Reach.DriverRowsConf)
    }
  }

  test("plain named paths over unbounded ranges ENUMERATE all paths " +
      "(round 17; exact trails on a DAG)") {
    // [*] without shortestPath/selector: one row PER PATH — the
    // untrimmed k-level walk. Agreement with the bounded branch-union
    // enumeration (exact trail semantics by construction) over the
    // whole KNOWS DAG, witnesses included.
    def run(range: String) = rows(
      s"""MATCH p = (a:Person)-[:KNOWS$range]->(b:Person)
         |RETURN a.Name AS an, b.Name AS bn, length(p) AS l,
         |       reduce(s = '', n IN nodes(p) | s + '|' + n.Name) AS ns,
         |       size(relationships(p)) AS nr
         |ORDER BY an, bn, l, ns""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getString(3), x.getInt(4)))
    val bounded = run("*1..4")
    assert(run("*") == bounded && bounded.nonEmpty)
    // the distributed kernel loop (driver fast path off) agrees too
    spark.conf.set(Reach.DriverRowsConf, "0")
    try assert(run("*") == bounded)
    finally spark.conf.unset(Reach.DriverRowsConf)
    // [*0..]: the zero-hop identity row joins the enumeration — one
    // node, zero relationships, length 0
    val z = rows(
      """MATCH p = (a:Person)-[:KNOWS*0..]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn, length(p) AS l, size(nodes(p)) AS nn
        |ORDER BY bn, l""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1), x.getInt(2)))
    assert(z == Seq(("Kevin Bacon", 2L, 3), ("Meg Ryan", 1L, 2),
      ("Rob Reiner", 1L, 2), ("Rob Reiner", 3L, 4),
      ("Tom Hanks", 0L, 1)))
    // `<-` pattern: witness arrays read PATTERN order (left endpoint
    // first), the edge-orientation reversal
    val rev = rows(
      """MATCH p = (b:Person)<-[:KNOWS*]-(a:Person)
        |WHERE b.Name = 'Rob Reiner'
        |RETURN a.Name AS an, length(p) AS l,
        |       reduce(s = '', n IN nodes(p) | s + '|' + n.Name) AS ns
        |ORDER BY an, l""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1), x.getString(2)))
    assert(rev == Seq(
      ("Kevin Bacon", 1L, "|Rob Reiner|Kevin Bacon"),
      ("Meg Ryan", 2L, "|Rob Reiner|Kevin Bacon|Meg Ryan"),
      ("Tom Hanks", 1L, "|Rob Reiner|Tom Hanks"),
      ("Tom Hanks", 3L,
        "|Rob Reiner|Kevin Bacon|Meg Ryan|Tom Hanks")))
    // σ = 2 diamond: both equal-length paths are DISTINCT rows with
    // their own witness arrays
    locally {
      import spark.implicits._
      val base = MovieFixture.catalog(spark)
      val dia = Seq(("p1", "p2", 1), ("p1", "p3", 2),
        ("p2", "p4", 3), ("p3", "p4", 4))
        .toDF("_vertexId", "_sink", "Since")
      val cat = new GraphCatalog(MovieFixture.schema, {
        case "knows"  => dia
        case "person" => base.nodeDf("Person")
        case other    => throw new IllegalArgumentException(other)
      })
      val s = new CypherSession(spark, cat).extended
      val d = s.run(
        """MATCH p = (a:Person)-[:KNOWS*]->(b:Person)
          |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
          |RETURN reduce(s = '', e IN relationships(p) |
          |         s + '|' + toString(e.Since)) AS rs
          |ORDER BY rs""".stripMargin).collect().map(_.getString(0))
      assert(d.toSeq == Seq("|1|3", "|2|4"))
    }
    // heterogeneous chain: the walk runs over the tagged union frame;
    // both L3 chains and both L1 hops come out (A1→{B10,B20}→A2→B30)
    locally {
      import spark.implicits._
      val schemaH = GraphSchema(
        nodes = Seq(NodeDef("A", "id", Seq.empty, "a_tbl"),
          NodeDef("B", "id", Seq.empty, "b_tbl")),
        edges = Seq(
          EdgeDef("FEEDS", "A", "B", "src", "dst", Seq.empty, "ab"),
          EdgeDef("FEEDS", "B", "A", "src", "dst", Seq.empty, "ba")))
      val s = new CypherSession(spark, new GraphCatalog(schemaH, {
        case "a_tbl" => Seq(1L, 2L).toDF("id")
        case "b_tbl" => Seq(10L, 20L, 30L).toDF("id")
        case "ab" => Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("src", "dst")
        case "ba" => Seq((10L, 2L), (20L, 2L)).toDF("src", "dst")
        case other => throw new IllegalArgumentException(other)
      })).extended
      val h = s.run(
        """MATCH p = (a:A)-[:FEEDS*]->(b:B) WHERE a.id = 1
          |RETURN b.id AS bid, length(p) AS l,
          |       [n IN nodes(p) | n.id] AS ns
          |ORDER BY bid, l, ns""".stripMargin).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getSeq[Long](2)))
      assert(h.toSeq == Seq(
        (10L, 1L, Seq(1L, 10L)), (20L, 1L, Seq(1L, 20L)),
        (30L, 3L, Seq(1L, 10L, 2L, 30L)),
        (30L, 3L, Seq(1L, 20L, 2L, 30L))))
    }
    // a cyclic anchored cone keeps the typed bound-the-range contract
    locally {
      import spark.implicits._
      val base = MovieFixture.catalog(spark)
      val cyc = Seq(("p1", "p2", 2010), ("p2", "p1", 2011))
        .toDF("_vertexId", "_sink", "Since")
      val cat = new GraphCatalog(MovieFixture.schema, {
        case "knows"  => cyc
        case "person" => base.nodeDf("Person")
        case other    => throw new IllegalArgumentException(other)
      })
      val s = new CypherSession(spark, cat).extended
      val e = intercept[Exception](s.run(
        """MATCH p = (a:Person)-[:KNOWS*]->(b:Person)
          |WHERE a.Name = 'Tom Hanks'
          |RETURN length(p) AS l""".stripMargin).collect())
      assert(e.getMessage.contains("CYCLIC") &&
        e.getMessage.contains("plain named path"), e.getMessage)
    }
    // OPTIONAL MATCH: a source with no outgoing chain null-fills the
    // length column (Rob Reiner is the KNOWS sink)
    val opt = rows(
      """MATCH (a:Person) WHERE a.Name = 'Rob Reiner'
        |OPTIONAL MATCH p = (a)-[:KNOWS*]->(b:Person)
        |RETURN a.Name AS an, length(p) AS l""".stripMargin)
    assert(opt.size == 1 && opt.head.isNullAt(1))
    // multi-relationship patterns keep the sole-relationship contract
    val e2 = intercept[CypherNotSupportedException](rows(
      """MATCH p = (a:Person)-[:KNOWS*]->(b:Person)-[:FOLLOWS]->(c)
        |RETURN length(p) AS l""".stripMargin))
    assert(e2.getMessage.contains("sole relationship"))
  }

  test("var-length type alternation mixes verbs per hop (round 17)") {
    // bounded: a FOLLOWS-then-KNOWS chain now matches (the old
    // expansion kept single-verb chains only); hop structs read the
    // merged null-filled namespace (FOLLOWS rows carry Since = null)
    val b2 = rows(
      """MATCH (a:Person)-[rs:FOLLOWS|KNOWS*2..2]->(b:Person)
        |WHERE a.Name = 'Jessica Thompson'
        |RETURN b.Name AS bn,
        |       reduce(s = '', r IN rs | s + '|' + toString(
        |         coalesce(r.Since, 0))) AS ss
        |ORDER BY bn, ss""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(b2 == Seq(
      ("Kevin Bacon", "|0|2015"),
      ("Meg Ryan", "|0|0"), ("Meg Ryan", "|0|2010"),
      ("Rob Reiner", "|0|1999")))
    // unbounded shortestPath: p5→p4 exists ONLY as a mixed chain
    // (FOLLOWS alone never reaches p4; KNOWS alone never leaves p5)
    val sp = rows(
      """MATCH p = shortestPath(
        |    (a:Person)-[:FOLLOWS|KNOWS*1..]->(b:Person))
        |WHERE a.Name = 'Jessica Thompson' AND b.Name = 'Rob Reiner'
        |RETURN length(p) AS l,
        |       [r IN relationships(p) | r.Since] AS ss""".stripMargin)
    assert(sp.size == 1 && sp.head.getLong(0) == 2L &&
      sp.head.getSeq[Any](1) == Seq(null, 1999))
    // plain enumeration over the union DAG (the round-17 walk kind
    // composes): 11 walks from p5; Rob at L2/L3/L4×2 — the parallel
    // FOLLOWS+KNOWS p1→p2 edges are two distinct paths
    val en = rows(
      """MATCH p = (a:Person)-[:FOLLOWS|KNOWS*]->(b:Person)
        |WHERE a.Name = 'Jessica Thompson'
        |RETURN b.Name AS bn, length(p) AS l
        |ORDER BY bn, l""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(en.size == 11, en.toString)
    assert(en.filter(_._1 == "Rob Reiner").map(_._2) ==
      Seq(2L, 3L, 4L, 4L))
    // typed contracts: disagreeing src/sink id column names; a
    // property stored under two types across alternatives
    locally {
      import spark.implicits._
      val sch = GraphSchema(
        nodes = Seq(NodeDef("N", "id", Seq.empty, "n_tbl")),
        edges = Seq(
          EdgeDef("A1", "N", "N", "sa", "da", Seq.empty, "t1"),
          EdgeDef("A2", "N", "N", "sb", "db", Seq.empty, "t2"),
          EdgeDef("B1", "N", "N", "s", "d", Seq("w"), "u1"),
          EdgeDef("B2", "N", "N", "s", "d", Seq("w"), "u2")))
      val s = new CypherSession(spark, new GraphCatalog(sch, {
        case "n_tbl" => Seq(1L, 2L).toDF("id")
        case "t1" => Seq((1L, 2L)).toDF("sa", "da")
        case "t2" => Seq((1L, 2L)).toDF("sb", "db")
        case "u1" => Seq((1L, 2L, 7)).toDF("s", "d", "w")
        case "u2" => Seq((1L, 2L, "x")).toDF("s", "d", "w")
        case other => throw new IllegalArgumentException(other)
      })).extended
      val e1 = intercept[CypherNotSupportedException](s.run(
        "MATCH (a:N)-[:A1|A2*1..2]->(b:N) RETURN a.id AS x").collect())
      assert(e1.getMessage.contains("src/sink id columns"))
      val e2 = intercept[CypherNotSupportedException](s.run(
        "MATCH (a:N)-[:B1|B2*1..2]->(b:N) RETURN a.id AS x").collect())
      assert(e2.getMessage.contains("cannot cover both"))
    }
  }

  test("[*lo..] with lo > 1 over unbounded ranges (round 17)") {
    // bare pairs: SOME path of length >= 2, one row per pair (the
    // take-1 trim over the filtered level frame)
    val bare = rows(
      """MATCH (a:Person)-[:KNOWS*2..]->(b:Person)
        |RETURN a.Name AS an, b.Name AS bn ORDER BY an, bn"""
        .stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(bare == Seq(("Meg Ryan", "Rob Reiner"),
      ("Tom Hanks", "Kevin Bacon"), ("Tom Hanks", "Rob Reiner")))
    // shortestPath: the minimal length >= lo — the 1999 one-hop
    // shortcut sits below the bound, so length(p) reads 3 and the
    // witnesses walk the chain
    val sp = rows(
      """MATCH p = shortestPath((a:Person)-[:KNOWS*2..]->(b:Person))
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
        |RETURN length(p) AS l, [n IN nodes(p) | n.Name] AS ns"""
        .stripMargin)
    assert(sp.size == 1 && sp.head.getLong(0) == 3L &&
      sp.head.getSeq[String](1) == Seq("Tom Hanks", "Meg Ryan",
        "Kevin Bacon", "Rob Reiner"))
    // agreement with the bounded branch reduction on a DAG
    val spB = rows(
      """MATCH p = shortestPath((a:Person)-[:KNOWS*2..3]->(b:Person))
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
        |RETURN length(p) AS l, [n IN nodes(p) | n.Name] AS ns"""
        .stripMargin)
    assert(spB.map(r => (r.getLong(0), r.getSeq[String](1))) ==
      sp.map(r => (r.getLong(0), r.getSeq[String](1))))
    // plain enumeration respects the bound: one row per walk >= 2
    val en = rows(
      """MATCH p = (a:Person)-[:KNOWS*2..]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn, length(p) AS l ORDER BY bn"""
        .stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(en == Seq(("Kevin Bacon", 2L), ("Rob Reiner", 3L)))
    // allShortestPaths over a σ = 2 diamond: BOTH minimal >= 2 paths
    // come out as distinct witness rows
    locally {
      import spark.implicits._
      val base = MovieFixture.catalog(spark)
      val dia = Seq(("p1", "p2", 1), ("p1", "p3", 2),
        ("p2", "p4", 3), ("p3", "p4", 4))
        .toDF("_vertexId", "_sink", "Since")
      val cat = new GraphCatalog(MovieFixture.schema, {
        case "knows"  => dia
        case "person" => base.nodeDf("Person")
        case other    => throw new IllegalArgumentException(other)
      })
      val s = new CypherSession(spark, cat).extended
      val asp = s.run(
        """MATCH p = allShortestPaths(
          |    (a:Person)-[:KNOWS*2..]->(b:Person))
          |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
          |RETURN length(p) AS l,
          |       reduce(s = '', e IN relationships(p) |
          |         s + '|' + toString(e.Since)) AS rs
          |ORDER BY rs""".stripMargin).collect()
        .map(x => (x.getLong(0), x.getString(1)))
      assert(asp.toSeq == Seq((2L, "|1|3"), (2L, "|2|4")))
    }
    // a cyclic anchored cone keeps the typed bound-the-range contract
    locally {
      import spark.implicits._
      val base = MovieFixture.catalog(spark)
      val cyc = Seq(("p1", "p2", 2010), ("p2", "p1", 2011))
        .toDF("_vertexId", "_sink", "Since")
      val cat = new GraphCatalog(MovieFixture.schema, {
        case "knows"  => cyc
        case "person" => base.nodeDf("Person")
        case other    => throw new IllegalArgumentException(other)
      })
      val s = new CypherSession(spark, cat).extended
      val e = intercept[Exception](s.run(
        """MATCH (a:Person)-[:KNOWS*2..]->(b:Person)
          |WHERE a.Name = 'Tom Hanks'
          |RETURN b.Name AS bn""".stripMargin).collect())
      assert(e.getMessage.contains("CYCLIC"), e.getMessage)
    }
  }

  test("undirected unbounded var-length (round 17): symmetrized " +
      "reach, shortestPath, allShortest") {
    // KNOWS undirected connects {p1..p4}; p5 has no KNOWS edge.
    // 4 × 3 ordered pairs — and NO (x, x) rows (the return walk
    // would reuse its edge)
    assert(rows(
      """MATCH (a:Person)-[:KNOWS*]-(b:Person)
        |RETURN a.Name AS an, b.Name AS bn""".stripMargin).size == 12)
    // a sink becomes reachable against storage order: Rob→Tom is one
    // undirected hop (the 1999 edge walked backwards)
    val rt = rows(
      """MATCH p = shortestPath((a:Person)-[:KNOWS*]-(b:Person))
        |WHERE a.Name = 'Rob Reiner' AND b.Name = 'Tom Hanks'
        |RETURN length(p) AS l""".stripMargin)
    assert(rt.size == 1 && rt.head.getLong(0) == 1L)
    // anchored bare pairs from the sink
    assert(rows(
      """MATCH (a:Person)-[:KNOWS*]-(b:Person)
        |WHERE a.Name = 'Rob Reiner'
        |RETURN b.Name AS bn""".stripMargin).size == 3)
    // allShortestPaths: Rob→Meg has two minimal undirected routes;
    // each hop's rel struct reads the STORED edge row
    val am = rows(
      """MATCH p = allShortestPaths((a:Person)-[:KNOWS*]-(b:Person))
        |WHERE a.Name = 'Rob Reiner' AND b.Name = 'Meg Ryan'
        |RETURN reduce(s = '', e IN relationships(p) |
        |         s + '|' + toString(e.Since)) AS rs
        |ORDER BY rs""".stripMargin).map(_.getString(0))
    assert(am == Seq("|1999|2010", "|2020|2015"))
    // [*0..]: identity rows join (even the KNOWS-isolated p5)
    assert(rows(
      """MATCH (a:Person)-[:KNOWS*0..]-(b:Person)
        |RETURN a.Name AS an, b.Name AS bn""".stripMargin).size == 17)
    // per-path forms stay typed (the symmetrized frame is cyclic by
    // construction)
    val e1 = intercept[CypherNotSupportedException](rows(
      """MATCH p = (a:Person)-[:KNOWS*]-(b:Person)
        |RETURN length(p) AS l""".stripMargin))
    assert(e1.getMessage.contains("symmetrized"))
    intercept[CypherNotSupportedException](rows(
      """MATCH p = SHORTEST 2 (a:Person)-[:KNOWS*]-(b:Person)
        |RETURN length(p) AS l""".stripMargin))
    intercept[CypherNotSupportedException](rows(
      """MATCH (a:Person)-[:KNOWS*2..]-(b:Person)
        |RETURN a.Name AS an""".stripMargin))
    // heterogeneous undirected (round 17, late): the stratified frame
    // symmetrizes too — the actor–movie component pairs every actor
    // with every movie, and the CO-ACTOR closure pairs the three
    // actors through shared movies
    assert(rows(
      """MATCH (a:Person)-[:ACTED_IN*]-(m:Movie)
        |RETURN a.Name AS an""".stripMargin).size == 9)
    assert(rows(
      """MATCH (a:Person)-[:ACTED_IN*]-(b:Person)
        |RETURN a.Name AS an, b.Name AS bn""".stripMargin).size == 6)
    val cs = rows(
      """MATCH p = shortestPath((a:Person)-[:ACTED_IN*]-(b:Person))
        |WHERE a.Name = 'Meg Ryan' AND b.Name = 'Kevin Bacon'
        |RETURN length(p) AS l""".stripMargin)
    assert(cs.size == 1 && cs.head.getLong(0) == 4L)
    // witnesses over undirected hetero stay typed (backward hops
    // cannot resolve to their definition's frame)
    val e2 = intercept[CypherNotSupportedException](rows(
      """MATCH p = shortestPath((a:Person)-[:ACTED_IN*]-(b:Person))
        |WHERE a.Name = 'Meg Ryan'
        |RETURN [n IN nodes(p) | n.Name] AS ns""".stripMargin))
    assert(e2.getMessage.contains("undirected heterogeneous"))
  }

  test("normalize() and round(x, d, mode) (round 14)") {
    // NFC composes e + combining acute into é; NFD decomposes it;
    // NFKC folds the ﬁ ligature
    val r = rows(
      """RETURN normalize('é') AS nfc,
        |       normalize('é', NFD) AS nfd,
        |       normalize('ﬁ', NFKC) AS nfkc,
        |       normalize('é') = 'é' AS eq""".stripMargin).head
    assert(r.getString(0) == "é")
    assert(r.getString(1) == "é")
    assert(r.getString(2) == "fi")
    assert(r.getBoolean(3))
    // rounding modes at scale 1 (java.math semantics)
    val m = rows(
      """RETURN round(2.45, 1, 'UP') AS up, round(2.45, 1, 'DOWN') AS dn,
        |       round(-2.45, 1, 'UP') AS nup,
        |       round(-2.45, 1, 'DOWN') AS ndn,
        |       round(2.45, 1, 'CEILING') AS ce,
        |       round(-2.45, 1, 'CEILING') AS nce,
        |       round(2.45, 1, 'FLOOR') AS fl,
        |       round(2.25, 1, 'HALF_UP') AS hu,
        |       round(2.25, 1, 'HALF_DOWN') AS hd,
        |       round(2.25, 1, 'HALF_EVEN') AS he,
        |       round(2.35, 1, 'HALF_EVEN') AS he2""".stripMargin).head
    assert(r != null)
    assert(m.getDouble(0) == 2.5 && m.getDouble(1) == 2.4)
    assert(m.getDouble(2) == -2.5 && m.getDouble(3) == -2.4)
    assert(m.getDouble(4) == 2.5 && m.getDouble(5) == -2.4)
    assert(m.getDouble(6) == 2.4)
    assert(m.getDouble(7) == 2.3 && m.getDouble(8) == 2.2 &&
      m.getDouble(9) == 2.2 && m.getDouble(10) == 2.4)
    // unknown mode / unknown form stay typed
    intercept[CypherSyntaxException](rows(
      "RETURN round(1.5, 0, 'SIDEWAYS') AS x"))
    intercept[CypherSyntaxException](rows(
      "RETURN normalize('a', XYZ) AS x"))
    // IS [NOT] NORMALIZED: the normalize() companion predicate —
    // decomposed text built via normalize(…, NFD) so the source file
    // stays encoding-unambiguous
    val p2 = rows(
      """RETURN 'é' IS NORMALIZED AS a,
        |       normalize('é', NFD) IS NORMALIZED AS b,
        |       normalize('é', NFD) IS NORMALIZED NFD AS c,
        |       normalize('é', NFD) IS NOT NORMALIZED AS e2,
        |       null IS NORMALIZED IS NULL AS d""".stripMargin).head
    assert(p2.getBoolean(0) && !p2.getBoolean(1) && p2.getBoolean(2) &&
      p2.getBoolean(3) && p2.getBoolean(4))
  }

  test("correlated CALL { … UNION … } (round 14)") {
    // imports thread through each branch; branch outputs union before
    // the one join-back
    val r = rows(
      """MATCH (p:Person) CALL (p) {
        |  MATCH (p)-[:ACTED_IN]->(m:Movie) RETURN m.Title AS t
        |  UNION
        |  MATCH (p)-[:DIRECTED]->(m:Movie) RETURN m.Title AS t }
        |RETURN p.Name AS nm, t ORDER BY nm, t""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r.size == 7)
    assert(r.filter(_._1 == "Rob Reiner") ==
      Seq(("Rob Reiner", "Sleepless in Seattle")))
    assert(r.count(_._1 == "Tom Hanks") == 3)
    // UNION dedupes per invocation; UNION ALL keeps branch duplicates
    val dd = rows(
      """MATCH (p:Person) CALL (p) {
        |  MATCH (p)-[:ACTED_IN]->(m:Movie) RETURN m.Title AS t
        |  UNION
        |  MATCH (p)-[:ACTED_IN]->(m:Movie) WHERE m.Released < 1996
        |  RETURN m.Title AS t }
        |RETURN count(*) AS n""".stripMargin).head.getLong(0)
    assert(dd == 6L)
    val da = rows(
      """MATCH (p:Person) CALL (p) {
        |  MATCH (p)-[:ACTED_IN]->(m:Movie) RETURN m.Title AS t
        |  UNION ALL
        |  MATCH (p)-[:ACTED_IN]->(m:Movie) WHERE m.Released < 1996
        |  RETURN m.Title AS t }
        |RETURN count(*) AS n""".stripMargin).head.getLong(0)
    assert(da == 10L)
    // OPTIONAL keeps zero-match outer rows with null outputs
    val opt = rows(
      """MATCH (p:Person) OPTIONAL CALL (p) {
        |  MATCH (p)-[:ACTED_IN]->(m:Movie) RETURN m.Title AS t
        |  UNION
        |  MATCH (p)-[:DIRECTED]->(m:Movie) RETURN m.Title AS t }
        |RETURN count(*) AS n, count(t) AS nt""".stripMargin).head
    assert(opt.getLong(0) == 8L && opt.getLong(1) == 7L)
    // aggregating branches (round 15, VERDICT-r14 #6): each branch
    // zero-fills PER INVOCATION before the union — every person gets
    // a count row from EACH branch (0 on zero matches), deduped per
    // invocation by UNION
    val ag = rows(
      """MATCH (p:Person) CALL (p) {
        |  MATCH (p)-[:ACTED_IN]->(m:Movie) RETURN count(m) AS n
        |  UNION
        |  MATCH (p)-[:DIRECTED]->(m:Movie) RETURN count(m) AS n }
        |RETURN p.Name AS nm, n ORDER BY nm, n""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(ag == Seq(("Jessica Thompson", 0L), ("Kevin Bacon", 0L),
      ("Kevin Bacon", 1L), ("Meg Ryan", 0L), ("Meg Ryan", 2L),
      ("Rob Reiner", 0L), ("Rob Reiner", 1L), ("Tom Hanks", 0L),
      ("Tom Hanks", 3L)))
    // mixed aggregating + plain branches: the zero-fill is strictly
    // per-branch (the column is an aggregate in one branch only)
    val mx = rows(
      """MATCH (p:Person) CALL (p) {
        |  MATCH (p)-[:ACTED_IN]->(m:Movie) RETURN count(m) AS v
        |  UNION ALL
        |  MATCH (p)-[:DIRECTED]->(m:Movie) RETURN 100 + m.Released
        |    AS v }
        |RETURN p.Name AS nm, v ORDER BY nm, v""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(mx == Seq(("Jessica Thompson", 0L), ("Kevin Bacon", 1L),
      ("Meg Ryan", 2L), ("Rob Reiner", 0L), ("Rob Reiner", 2093L),
      ("Tom Hanks", 3L)))
    // collect() zero-fills to the empty list
    val cl = rows(
      """MATCH (p:Person) WHERE p.Name IN ['Rob Reiner', 'Tom Hanks']
        |CALL (p) {
        |  MATCH (p)-[:ACTED_IN]->(m:Movie) RETURN collect(m.Title) AS ts
        |  UNION ALL
        |  MATCH (p)-[:DIRECTED]->(m:Movie) RETURN collect(m.Title) AS ts }
        |RETURN p.Name AS nm, size(ts) AS n ORDER BY nm, n""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    assert(cl == Seq(("Rob Reiner", 0), ("Rob Reiner", 1),
      ("Tom Hanks", 0), ("Tom Hanks", 3)))
  }

  test("CALL-UNION grouped-aggregate branches yield no rows on zero " +
      "matches; null import keys still zero-fill (round 16)") {
    // ADVICE-r15 #2: a branch with GROUPING keys alongside the
    // aggregate follows Neo4j's grouped aggregation — zero matches
    // produce NO rows, never a spurious (null, 0) row. Jessica
    // Thompson (no ACTED_IN, no DIRECTED) disappears entirely.
    val g = rows(
      """MATCH (p:Person) CALL (p) {
        |  MATCH (p)-[:ACTED_IN]->(m:Movie)
        |  RETURN m.Released AS y, count(m) AS c
        |  UNION ALL
        |  MATCH (p)-[:DIRECTED]->(m:Movie)
        |  RETURN m.Released AS y, count(m) AS c }
        |RETURN p.Name AS nm, y, c ORDER BY nm, y""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1), x.getLong(2)))
    assert(!g.exists(_._1 == "Jessica Thompson"))
    assert(g.count(_._1 == "Tom Hanks") == 3)
    assert(g.forall(_._2 > 1900) && g.forall(_._3 == 1L))
    // mixed: an ALL-aggregate sibling branch still zero-fills, the
    // grouped branch stays naturally empty
    val mx = rows(
      """MATCH (p:Person) WHERE p.Name = 'Jessica Thompson'
        |CALL (p) {
        |  MATCH (p)-[:ACTED_IN]->(m:Movie)
        |  RETURN m.Released AS y, count(m) AS c
        |  UNION ALL
        |  MATCH (p)-[:DIRECTED]->(m:Movie)
        |  RETURN count(m) AS y, count(m) AS c }
        |RETURN y, c""".stripMargin)
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(mx == Seq((0L, 0L)))
    // ADVICE-r15 #4: a NULL import key (OPTIONAL miss) still runs the
    // invocation — all-aggregate branches return count = 0 for it,
    // not NULL
    val nk = rows(
      """MATCH (p:Person) WHERE p.Name IN ['Rob Reiner', 'Tom Hanks']
        |OPTIONAL MATCH (p)-[:DIRECTED]->(d:Movie)
        |CALL (d) {
        |  MATCH (a:Person)-[:ACTED_IN]->(d) RETURN count(a) AS c
        |  UNION
        |  MATCH (v:Person)-[:REVIEWED]->(d) RETURN count(v) AS c }
        |RETURN p.Name AS nm, c ORDER BY nm, c""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    // Rob directed m1 (2 actors, 1 reviewer); Tom directed nothing —
    // the null-key invocation still yields count = 0, deduped to one
    assert(nk == Seq(("Rob Reiner", 1L), ("Rob Reiner", 2L),
      ("Tom Hanks", 0L)))
  }

  test("named-timezone temporals (round 14)") {
    // DST began 2024-03-10 02:00 in New York: 06:30 EDT = 10:30 UTC,
    // the day before 06:30 EST = 11:30 UTC
    val r = rows(
      """RETURN datetime('2024-03-10T06:30:00[America/New_York]') AS a,
        |       datetime('2024-03-09T06:30:00[America/New_York]') AS b,
        |       datetime('2024-03-10T06:30:00-04:00[America/New_York]')
        |         AS c,
        |       datetime('2024-06-01T12:00:00Z') AS z,
        |       datetime('2024-06-01T14:00:00+02:00') AS o""".stripMargin)
      .head
    assert(r.getTimestamp(0).toInstant.toString == "2024-03-10T10:30:00Z")
    assert(r.getTimestamp(1).toInstant.toString == "2024-03-09T11:30:00Z")
    assert(r.getTimestamp(2).toInstant.toString == "2024-03-10T10:30:00Z")
    assert(r.getTimestamp(3).toInstant.toString == "2024-06-01T12:00:00Z")
    assert(r.getTimestamp(4).toInstant.toString == "2024-06-01T12:00:00Z")
    // map form: components are the WALL TIME in the named zone; the
    // DST boundary rides a component expression
    val r2 = rows(
      """UNWIND [9, 10] AS d
        |RETURN d, datetime({year: 2024, month: 3, day: d, hour: 6,
        |                    minute: 30, timezone: 'America/New_York'})
        |          AS t ORDER BY d""".stripMargin)
    assert(r2.map(_.getTimestamp(1).toInstant.toString) ==
      Seq("2024-03-09T11:30:00Z", "2024-03-10T10:30:00Z"))
    // localdatetime has no zone; unknown zones are typed
    intercept[CypherSyntaxException](rows(
      "RETURN localdatetime('2024-03-10T06:30:00Z') AS x"))
    intercept[CypherSyntaxException](rows(
      "RETURN localdatetime({year: 2024, timezone: 'UTC'}) AS x"))
    intercept[CypherSyntaxException](rows(
      "RETURN datetime('2024-03-10T06:30:00[No/Zone]') AS x"))
  }

  test("datetime literals are JVM-default-zone independent (round 15)") {
    // ADVICE-r14 medium: the literal is built from the INSTANT
    // (Timestamp.from), never by re-interpreting a wall time in the
    // JVM default zone — so compiling on a non-UTC JVM must store the
    // same instant. Flip the default zone around compile+collect.
    val saved = java.util.TimeZone.getDefault
    val got =
      try {
        java.util.TimeZone.setDefault(
          java.util.TimeZone.getTimeZone("Asia/Tokyo"))
        rows(
          """RETURN datetime('2024-06-01T12:00:00Z') AS z,
            |       datetime('2024-03-10T06:30:00[America/New_York]')
            |         AS ny,
            |       datetime('2024-01-15T08:00:00') AS plain"""
            .stripMargin).head
      } finally java.util.TimeZone.setDefault(saved)
    assert(got.getTimestamp(0).toInstant.toString == "2024-06-01T12:00:00Z")
    assert(got.getTimestamp(1).toInstant.toString == "2024-03-10T10:30:00Z")
    // the unzoned form is the UTC wall time by storage convention
    assert(got.getTimestamp(2).toInstant.toString == "2024-01-15T08:00:00Z")
  }

  test("dynamic property / map subscript n[expr] (round 14)") {
    // entity dispatch: FOLLOWS' columns are all strings — the runtime
    // key resolves through a bounded CASE chain over declared columns
    val r = rows(
      """MATCH (a:Person)-[f:FOLLOWS]->(b:Person)
        |WHERE a.Name = 'Jessica Thompson'
        |RETURN b.Name AS bn,
        |       f[CASE WHEN b.Born = 1961 THEN '_sink'
        |              ELSE '_vertexId' END] AS v
        |ORDER BY bn""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r == Seq(("Meg Ryan", "p2"), ("Tom Hanks", "p5")))
    // map dispatch + unknown key → null; integral mixes widen
    val r2 = rows(
      """MATCH (p:Person) WITH p, {lo: 1, hi: 200000000000} AS m
        |RETURN p.Name AS nm,
        |       m[CASE WHEN p.Born = 1961 THEN 'hi'
        |              WHEN p.Born = 1956 THEN 'lo'
        |              ELSE 'nope' END] AS v
        |ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
    assert(r2 == Seq(("Jessica Thompson", -1L), ("Kevin Bacon", -1L),
      ("Meg Ryan", 200000000000L), ("Rob Reiner", -1L),
      ("Tom Hanks", 1L)))
    // heterogeneous PROPERTIES (Person: Name string + Born int) stay
    // typed
    intercept[CypherTypeException](rows(
      """MATCH (p:Person)
        |RETURN p[CASE WHEN p.Born = 1956 THEN 'Name' ELSE 'id' END]
        |       AS v""".stripMargin))
    // round 15 (ADVICE-r14): the common type is the PROPERTY columns'
    // — KNOWS' string keys no longer poison its all-int property set
    // (the keys just drop out of the dispatch chain: '_sink' → null)
    val r3 = rows(
      """MATCH (x:Person)-[k:KNOWS]->(y:Person)
        |WHERE x.Name = 'Tom Hanks'
        |RETURN y.Name AS yn,
        |       k[CASE WHEN y.Born = 1961 THEN 'Since'
        |              ELSE '_sink' END] AS v
        |ORDER BY yn""".stripMargin)
      .map(x => (x.getString(0), if (x.isNullAt(1)) -1 else x.getInt(1)))
    assert(r3 == Seq(("Meg Ryan", 2010), ("Rob Reiner", -1)))
    // non-string dynamic key stays typed
    intercept[CypherTypeException](rows(
      "MATCH (p:Person) RETURN {a: 1}[p.Born] AS v"))
  }

  test("per-edge relationship uniqueness in QPP chains (round 14)") {
    // WITHIN one repetition: the out-in group shares one edge def —
    // the same KNOWS row may not bind both hops, so the four spurious
    // x=z self-pairs (each edge paired with itself at its head) are
    // excluded; only the genuine p3→p4←p1 meet survives
    val r = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)<-[:KNOWS]-(z)){1,1}
        |(b:Person)
        |RETURN a.Name AS an, b.Name AS bn ORDER BY an, bn""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r == Seq(("Kevin Bacon", "Tom Hanks"),
      ("Tom Hanks", "Kevin Bacon")))
    // ACROSS repetitions: chaining the two surviving composites
    // ((p3,p1)+(p1,p3) and the reverse) would walk the SAME two
    // underlying edges again — Cypher's walk contract excludes it,
    // though the composite (src, dst) rows differ
    val r2 = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)<-[:KNOWS]-(z)){2,2}
        |(b:Person) RETURN count(*) AS n""".stripMargin).head.getLong(0)
    assert(r2 == 0L)
    // different edge DEFINITIONS never pair: KNOWS p1→p2 and FOLLOWS
    // p1→p2 are distinct relationships, so the x=z row is legitimate
    val r3 = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)<-[:FOLLOWS]-(z)){1,1}
        |(b:Person)
        |RETURN a.Name AS an, b.Name AS bn ORDER BY an, bn""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r3 == Seq(("Tom Hanks", "Jessica Thompson"),
      ("Tom Hanks", "Tom Hanks")))
    // a composite chain also pairs with a PLAIN rel of an underlying
    // def (round-14 review fix): m may not reuse either chain edge —
    // 2 surviving chain rows × the 2 KNOWS edges outside each
    val rx = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)<-[:KNOWS]-(z)){1,1}
        |(b:Person), (c:Person)-[m:KNOWS]->(d:Person)
        |RETURN count(*) AS n""".stripMargin).head.getLong(0)
    assert(rx == 4L)
  }

  test("valueType() and char_length aliases (round 13)") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Rob Reiner'
        |RETURN valueType(p.Born) AS tb, valueType(p.Name) AS tn,
        |       valueType([1, 2]) AS tl, valueType({a: 1}) AS tm,
        |       valueType(date('2024-01-01')) AS td,
        |       valueType(null) AS tz,
        |       char_length(p.Name) AS n1,
        |       character_length(p.Name) AS n2""".stripMargin).head
    // Rob's Born is NULL → value-level "NULL" despite the INTEGER column
    assert(r.getString(0) == "NULL" && r.getString(1) == "STRING" &&
      r.getString(2) == "LIST" && r.getString(3) == "MAP" &&
      r.getString(4) == "DATE" && r.getString(5) == "NULL" &&
      r.getInt(6) == 10 && r.getInt(7) == 10)
    intercept[CypherTypeException](rows(
      "MATCH (p:Person) RETURN char_length(p.Born) AS x"))
  }

  test("OPTIONAL CALL subqueries (round 13)") {
    // correlated: people with no DIRECTED edge keep their row, null n
    val r = rows(
      """MATCH (p:Person) OPTIONAL CALL (p) {
        |  MATCH (p)-[:DIRECTED]->(m:Movie) RETURN m.Title AS t }
        |RETURN p.Name AS nm, t ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), if (x.isNullAt(1)) null else x.getString(1)))
    assert(r.size == 5 &&
      r.toMap.apply("Rob Reiner") == "Sleepless in Seattle" &&
      r.toMap.apply("Tom Hanks") == null)
    // plain CALL drops those rows
    val r2 = rows(
      """MATCH (p:Person) CALL (p) {
        |  MATCH (p)-[:DIRECTED]->(m:Movie) RETURN m.Title AS t }
        |RETURN p.Name AS nm, t""".stripMargin)
    assert(r2.size == 1)
    // uncorrelated empty subquery: rows survive with nulls
    val r3 = rows(
      """MATCH (p:Person) OPTIONAL CALL () {
        |  MATCH (m:Movie) WHERE m.Released > 3000 RETURN m.Title AS t }
        |RETURN count(*) AS n, count(t) AS nt""".stripMargin).head
    assert(r3.getLong(0) == 5L && r3.getLong(1) == 0L)
    // procedures stay non-optional (never empty), typed
    intercept[CypherNotSupportedException](rows(
      "OPTIONAL CALL db.labels() YIELD label RETURN label"))
  }

  test("CALL (vars) scope clause and :% wildcard (round 13)") {
    // modern scope-clause spelling ≡ the importing WITH
    val r = rows(
      """MATCH (p:Person) CALL (p) {
        |  MATCH (p)-[:ACTED_IN]->(m:Movie) RETURN count(*) AS n }
        |RETURN p.Name AS nm, n ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    val r2 = rows(
      """MATCH (p:Person) CALL { WITH p
        |  MATCH (p)-[:ACTED_IN]->(m:Movie) RETURN count(*) AS n }
        |RETURN p.Name AS nm, n ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r == r2 && r.toMap.apply("Tom Hanks") == 3L)
    // CALL () {} — explicit uncorrelated form
    val r3 = rows(
      """MATCH (p:Person) CALL () {
        |  MATCH (m:Movie) RETURN count(*) AS cnt }
        |RETURN DISTINCT cnt""".stripMargin).head.getLong(0)
    assert(r3 == 3L)
    // :% any-label wildcard = unlabeled (inference decides)
    val r4 = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(x:%)
        |RETURN count(*) AS n""".stripMargin).head.getLong(0)
    assert(r4 == 6L)
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) CALL (*) { MATCH (m:Movie) RETURN count(*) " +
      "AS c } RETURN c"))
    intercept[CypherNotSupportedException](rows(
      "MATCH (x:%&!Boomer) RETURN count(*) AS n"))
  }

  test("extended simple CASE and isNaN (round 13)") {
    // operand-applied predicates: IS NULL, comparisons, string tests,
    // IN — comma alternatives OR-join
    val r = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS nm,
        |       CASE p.Born WHEN IS NULL THEN 'unknown'
        |                   WHEN < 1957, = 1961 THEN 'old-or-61'
        |                   ELSE 'other' END AS era,
        |       CASE p.Name WHEN STARTS WITH 'Tom', CONTAINS 'essi'
        |                   THEN 1 ELSE 0 END AS m
        |ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getInt(2)))
    assert(r == Seq(
      ("Jessica Thompson", "unknown", 1),
      ("Kevin Bacon", "other", 0),
      ("Meg Ryan", "old-or-61", 0),
      ("Rob Reiner", "unknown", 0),
      ("Tom Hanks", "old-or-61", 1)))
    // plain value alternatives unchanged; IN list form
    val r2 = rows(
      """RETURN CASE 3 WHEN IN [1, 3, 5] THEN 'odd' ELSE 'no' END AS a,
        |       CASE 'x' WHEN 'x' THEN 1 ELSE 0 END AS b,
        |       isNaN(sqrt(-1.0)) AS n1, isNaN(1.5) AS n2,
        |       isNaN(null) IS NULL AS n3""".stripMargin).head
    assert(r2.getString(0) == "odd" && r2.getInt(1) == 1 &&
      r2.getBoolean(2) && !r2.getBoolean(3) && r2.getBoolean(4))
    // round 14: bare-value alternatives are FULL expressions (Neo4j's
    // fallback grammar) — boolean/comparison operators parse to THEN
    val r3 = rows(
      """RETURN CASE true WHEN 1 > 2 OR 3 > 2 THEN 'yes' ELSE 'no'
        |END AS a,
        |CASE 5 WHEN 2 + 3 THEN 'sum' ELSE 'no' END AS b""".stripMargin)
      .head
    assert(r3.getString(0) == "yes" && r3.getString(1) == "sum")
  }

  test("entity subscript n['key'] and trim specifiers (round 13)") {
    val r = rows(
      """MATCH (p:Person) WHERE p['Name'] = 'Tom Hanks'
        |RETURN p['Born'] AS b""".stripMargin).head
    assert(r.getInt(0) == 1956)
    // a dynamic key over Person's HETEROGENEOUS namespace (string +
    // int) stays typed since round 14 (homogeneous ones resolve)
    intercept[CypherTypeException](rows(
      "MATCH (p:Person) WITH p, 'Name' AS k RETURN p[k] AS x"))
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) RETURN p['Nope'] AS x"))
    // trim(BOTH/LEADING/TRAILING [ch] FROM input)
    val r2 = rows(
      """RETURN trim(BOTH 'x' FROM 'xxabxx') AS b,
        |       trim(LEADING 'x' FROM 'xxabxx') AS l,
        |       trim(TRAILING 'x' FROM 'xxabxx') AS t,
        |       trim(BOTH FROM '  ab  ') AS s,
        |       trim('x' FROM 'xaxbx') AS d""".stripMargin).head
    assert(r2.getString(0) == "ab" && r2.getString(1) == "abxx" &&
      r2.getString(2) == "xxab" && r2.getString(3) == "ab" &&
      r2.getString(4) == "axb")
    // a column named `both` still parses as a plain argument
    val r3 = rows(
      "WITH '  y  ' AS both RETURN trim(both) AS y").head
    assert(r3.getString(0) == "y")
    intercept[CypherNotSupportedException](rows(
      "WITH 'x' AS c RETURN trim(c FROM 'xax') AS x"))
  }

  test("Cypher 5 label expressions & ! and != (round 13)") {
    // & is the intersection separator
    val r = rows("MATCH (p:Person&Boomer) RETURN p.Name AS nm")
      .map(_.getString(0))
    assert(r == Seq("Tom Hanks"))
    // negation: an ABSENT discriminator property = not labeled
    val r2 = rows(
      "MATCH (p:Person&!Boomer) RETURN p.Name AS nm ORDER BY nm")
      .map(_.getString(0))
    assert(r2 == Seq("Jessica Thompson", "Kevin Bacon", "Meg Ryan",
      "Rob Reiner"))
    // own-label negation is the empty set; a foreign label drops
    assert(rows("MATCH (p:Person&!Person) RETURN p.Name AS nm").isEmpty)
    assert(rows("MATCH (p:Person&!Movie) RETURN count(*) AS n")
      .head.getLong(0) == 5L)
    // != is <> (null-propagating, unlike !Boomer's absent-is-true)
    val r3 = rows(
      "MATCH (p:Person) WHERE p.Born != 1956 RETURN p.Name AS nm " +
      "ORDER BY nm").map(_.getString(0))
    assert(r3 == Seq("Kevin Bacon", "Meg Ryan"))
    // rejections: negation-only pattern; parity mode
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:!Boomer) RETURN p.Name AS nm"))
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person&!Boomer) RETURN p.Name AS nm"))
    // round 14: parity keeps the reference grammar's '<>'-only accept
    // surface — '!=' is a typed rejection without extensions
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person) WHERE p.Born != 1956 RETURN p.Name AS nm"))
    assert(parity.run(
      "MATCH (p:Person) WHERE p.Born <> 1956 RETURN p.Name AS nm")
      .collect().length == 2)
  }

  test("QPP group-node label alternation / intersection (round 13)") {
    // alternation: y is a Boomer or Sixties person (sub-label
    // discriminators OR'd) — only p1→p2 lands on one
    val r = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y:Boomer|Sixties)){1,1}
        |(b:Person) RETURN a.Name AS an, b.Name AS bn""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r == Seq(("Tom Hanks", "Meg Ryan")))
    // a foreign label inside an alternation folds false, not an error
    val r2 = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y:Movie|Sixties)){1,1}
        |(b:Person) RETURN a.Name AS an, b.Name AS bn""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r2 == r)
    // intersection: own label AND'd with a sub-label discriminator
    val r3 = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y:Person:Sixties)){1,1}
        |(b:Person) RETURN b.Name AS bn""".stripMargin)
      .map(_.getString(0))
    assert(r3 == Seq("Meg Ryan"))
    // interior node of a chain group takes the same forms
    val r4 = rows(
      """MATCH (a:Person)
        |((x)-[:KNOWS]->(y:Sixties)-[:KNOWS]->(z)){1,1} (b:Person)
        |RETURN a.Name AS an, b.Name AS bn""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r4 == Seq(("Tom Hanks", "Kevin Bacon")))
    // a bare foreign label stays the typed mismatch
    intercept[CypherBindingException](rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y:Movie)){1,1} (b:Person)
        |RETURN b.Name AS bn""".stripMargin))
  }

  test("multi-pattern COUNT{} / COLLECT{} / EXISTS-expr (round 13)") {
    // shared binding across parts: p's movies that Jessica reviewed —
    // the second part conjoins on the shared `m`
    val r = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS nm,
        |       COUNT { (p)-[:ACTED_IN]->(m:Movie),
        |               (j:Person {Name: 'Jessica Thompson'})
        |                 -[:REVIEWED]->(m) } AS both
        |ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    // cross-check: equals the single-pattern chain through both verbs
    val chain = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS nm,
        |       COUNT { (p)-[:ACTED_IN]->(m:Movie)<-[:REVIEWED]-
        |               (:Person {Name: 'Jessica Thompson'}) }
        |         AS both ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    assert(r == chain && r.exists(_._2 > 0))
    assert(r.toMap.apply("Tom Hanks") == 2)   // m1, m3 of his 3
    assert(r.toMap.apply("Kevin Bacon") == 0) // m2 unreviewed
    // disjoint parts cross within the correlated row: acted × follows
    val r2 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN COUNT { (p)-[:ACTED_IN]->(m:Movie),
        |               (p)-[:FOLLOWS]->(q:Person) } AS x
        |""".stripMargin).head.getInt(0)
    assert(r2 == 3 * 1)
    // COLLECT{} multi-pattern with ordering tail
    val r3 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN COLLECT { (p)-[:ACTED_IN]->(m:Movie),
        |                 (:Person {Name: 'Jessica Thompson'})
        |                   -[:REVIEWED]->(m)
        |                 RETURN m.Title ORDER BY m.Title } AS ts"""
        .stripMargin).head.getSeq[String](0)
    assert(r3 == Seq("Sleepless in Seattle", "You've Got Mail"))
    // EXISTS { a, b } as a projection expression (previously rejected)
    val r4 = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS nm,
        |       EXISTS { (p)-[:ACTED_IN]->(m:Movie),
        |                (:Person {Name: 'Jessica Thompson'})
        |                  -[:REVIEWED]->(m) } AS b
        |ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), x.getBoolean(1)))
    assert(r4.map(x => (x._1, x._2 : Any)) ==
      r.map(x => (x._1, (x._2 > 0) : Any)))
  }

  test("CALL schema procedures (round 13)") {
    // standalone CALL, implicit yield-all: primary + sub labels
    val r = rows("CALL db.labels()").map(_.getString(0))
    assert(r == Seq("Boomer", "Movie", "NinetiesClassic", "Person",
      "Sixties"))
    // YIELD with alias + WHERE + RETURN composition
    val r2 = rows(
      """CALL db.relationshipTypes() YIELD relationshipType AS t
        |WHERE t STARTS WITH 'F' OR t = 'KNOWS'
        |RETURN t ORDER BY t""".stripMargin).map(_.getString(0))
    assert(r2 == Seq("FOLLOWS", "KNOWS"))
    // propertyKeys: node ids + props + edge endpoint cols + edge props
    val r3 = rows("CALL db.propertyKeys() YIELD propertyKey RETURN " +
      "propertyKey AS k ORDER BY k").map(_.getString(0))
    assert(r3.contains("Name") && r3.contains("Roles") &&
      r3.contains("id") && r3.contains("_vertexId") && r3 == r3.sorted)
    // nodeTypeProperties: per-property rows, id mandatory, typed
    val r4 = rows(
      """CALL db.schema.nodeTypeProperties()
        |YIELD nodeType, propertyName, propertyTypes, mandatory
        |WHERE nodeType = 'Movie' AND propertyName = 'Title'
        |RETURN nodeType, propertyName, propertyTypes, mandatory"""
        .stripMargin).head
    assert(r4.getString(0) == "Movie" && r4.getString(1) == "Title")
    assert(r4.getSeq[String](2) == Seq("String") && !r4.getBoolean(3))
    // relTypeProperties: property-less verbs emit one null row
    val r5 = rows(
      """CALL db.schema.relTypeProperties()
        |YIELD relType, propertyName
        |RETURN relType, propertyName ORDER BY relType""".stripMargin)
    val byType = r5.map(x => x.getString(0) ->
      (if (x.isNullAt(1)) null else x.getString(1))).toMap
    assert(byType("ACTED_IN") == "Roles" && byType("DIRECTED") == null)
    // per-row multiplicity: CALL after MATCH multiplies like Neo4j
    val r6 = rows(
      """MATCH (m:Movie) CALL db.labels() YIELD label
        |RETURN count(*) AS n""".stripMargin).head
    assert(r6.getLong(0) == 3 * 5)
    // outer variables stay in scope through the CALL (Neo4j contract)
    val r7 = rows(
      """MATCH (m:Movie) CALL db.labels() YIELD label
        |WHERE label = 'NinetiesClassic'
        |RETURN m.Title AS t, label ORDER BY t""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r7.size == 3 && r7.forall(_._2 == "NinetiesClassic") &&
      r7.map(_._1) == r7.map(_._1).sorted)
    // rejections: unknown procedure, arguments, unknown yield column,
    // parity mode
    intercept[CypherNotSupportedException](rows("CALL db.nope()"))
    intercept[CypherNotSupportedException](rows("CALL db.labels(1)"))
    intercept[CypherSyntaxException](rows(
      "CALL db.labels() YIELD wrong RETURN wrong"))
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run("CALL db.labels()"))
  }

  test("generic dot access expr.key (round 13)") {
    // nested map fields
    val r = rows(
      "WITH {a: {b: 7}, c: 'x'} AS m RETURN m.a.b AS v, m.c AS c").head
    assert(r.getInt(0) == 7 && r.getString(1) == "x")
    // dot access on computed values: properties(), subscripted lists,
    // map projections
    val r2 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN properties(p).Name AS nm""".stripMargin).head
    assert(r2.getString(0) == "Tom Hanks")
    val r3 = rows(
      "WITH [{a: 1}, {a: 2}] AS xs RETURN xs[1].a AS v").head
    assert(r3.getInt(0) == 2)
    val r4 = rows(
      """MATCH (m:Movie) WHERE m.Title = 'Apollo 13'
        |RETURN m {.Title, .Released}.Released + 1 AS y""".stripMargin).head
    assert(r4.getInt(0) == 1996)
    // temporal components on computed temporal values (previously only
    // alias-rooted `d.year` worked)
    val r5 = rows(
      """RETURN date('2024-03-05').year AS y,
        |       {when: date('2024-03-05')}.when.month AS mo,
        |       time('10:30:00').hour AS h""".stripMargin).head
    assert(r5.getInt(0) == 2024 && r5.getInt(1) == 3 && r5.getInt(2) == 10)
    // elementId(): label-qualified STRING identity (Neo4j 5); edges
    // stringify (verb, src, snk)
    val r6 = rows(
      """MATCH (p:Person)-[a:ACTED_IN]->(m:Movie)
        |WHERE p.Name = 'Kevin Bacon'
        |RETURN elementId(p) AS np, elementId(a) AS ea""".stripMargin).head
    assert(r6.getString(0) == "Person:p3" &&
      r6.getString(1) == "ACTED_IN:p3:m2")
    // typed rejections: missing key, non-map operand, parity mode
    intercept[CypherBindingException](rows(
      "WITH {a: {b: 1}} AS m RETURN m.a.z AS x"))
    intercept[CypherTypeException](rows(
      "WITH {a: 1} AS m RETURN m.a.b AS x"))
    intercept[CypherTypeException](rows(
      "RETURN (1 + 2).f AS x"))
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person) RETURN p.Name.x AS x"))
  }

  test("|| concatenation and …OrNull casts (round 13)") {
    val r = rows(
      """RETURN 'a' || 'b' || 'c' AS s, [1, 2] || [3] AS l,
        |       size([1] || [2, 3]) AS n, 'x' || 1 AS m,
        |       null || 'y' AS np,
        |       toIntegerOrNull('zz') AS i0, toIntegerOrNull('7') AS i7,
        |       toFloatOrNull('1.5') AS f, toBooleanOrNull('true') AS b,
        |       toStringOrNull(42) AS t""".stripMargin).head
    assert(r.getString(0) == "abc")
    assert(r.getSeq[Int](1) == Seq(1, 2, 3))
    assert(r.getInt(2) == 3)
    assert(r.getString(3) == "x1")
    assert(r.isNullAt(4)) // null-propagating
    assert(r.isNullAt(5) && r.getLong(6) == 7L)
    assert(r.getDouble(7) == 1.5 && r.getBoolean(8))
    assert(r.getString(9) == "42")
    // the single '|' stays the comprehension separator
    val r2 = rows(
      "RETURN [x IN [1, 2, 3] WHERE x > 1 | x * 10] AS xs").head
    assert(r2.getSeq[Int](0) == Seq(20, 30))
    // two known non-string scalars are a typed error
    intercept[CypherTypeException](rows("RETURN 1 || 2 AS x"))
  }

  test("datetime epoch-map constructors (round 13)") {
    val r = rows(
      """WITH datetime({epochSeconds: 1710513045}) AS t
        |RETURN t.epochSeconds AS rt,
        |       datetime({epochMillis: 1710513045250}) AS tm"""
        .stripMargin).head
    assert(r.getLong(0) == 1710513045L)
    assert(r.getTimestamp(1).toString == "2024-03-15 14:30:45.25")
    // an instant cannot mix with calendar components
    intercept[CypherSyntaxException](rows(
      "RETURN datetime({epochSeconds: 1, hour: 3}) AS x"))
  }

  test("IN over arbitrary list expressions (round 13)") {
    val r = rows(
      """UNWIND range(1, 6) AS x
        |WITH x WHERE x IN range(2, 4)
        |RETURN sum(x) AS s""".stripMargin).head
    assert(r.getLong(0) == 9L)
    // collected lists, split lists, piped lists
    val r2 = rows(
      """MATCH (p:Person) WITH collect(p.Name) AS names
        |RETURN 'Tom Hanks' IN names AS a, 'Nobody' IN names AS b,
        |       'x' IN split('x,y', ',') AS c""".stripMargin).head
    assert(r2.getBoolean(0) && !r2.getBoolean(1) && r2.getBoolean(2))
    // Cypher 3-valued IN over expression lists
    val r3 = rows(
      """WITH [1, null] AS xs
        |RETURN 1 IN xs AS t, 3 IN xs AS n, null IN xs AS nn"""
        .stripMargin).head
    assert(r3.getBoolean(0) && r3.isNullAt(1) && r3.isNullAt(2))
    // known non-list right side stays typed
    intercept[CypherTypeException](rows("RETURN 1 IN 'abc' AS x"))
  }

  test("IS :: type predicate and interval scaling (round 13)") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN p.Name IS :: STRING AS a, p.Born IS :: INTEGER AS b,
        |       p.Name IS :: INTEGER AS c, p.Born IS NOT :: STRING AS d,
        |       null IS :: FLOAT AS n1, null IS NOT :: FLOAT AS n2,
        |       [1, 2] IS :: LIST AS l, {a: 1} IS :: MAP AS m,
        |       date('2024-01-01') IS :: DATE AS dt,
        |       p.Name IS :: ANY AS anyv""".stripMargin).head
    assert((0 until 10).map(r.getBoolean) ==
      Seq(true, true, false, true, true, true, true, true, true, true))
    // a NULL VALUE (not just the literal) conforms to every type
    val r2 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Rob Reiner'
        |RETURN p.Born IS :: STRING AS s""".stripMargin).head
    assert(r2.getBoolean(0)) // Born is null for Rob Reiner
    // interval scaling composes with temporal arithmetic
    val r3 = rows(
      """WITH datetime('2024-01-01T00:00:00') AS t
        |RETURN t + duration('PT2H') * 3 AS a,
        |       t + duration('PT3H') / 2 AS b,
        |       time('01:00:00') * 4 AS c""".stripMargin).head
    assert(r3.getTimestamp(0).toString == "2024-01-01 06:00:00.0")
    assert(r3.getTimestamp(1).toString == "2024-01-01 01:30:00.0")
    assert(r3.get(2) == java.time.Duration.parse("PT4H"))
    // typed rejections: unknown type name; parity mode
    intercept[CypherSyntaxException](rows("RETURN 1 IS :: NOPE AS x"))
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person) RETURN p.Born IS :: INTEGER AS x"))
  }

  // --------------------------------------------------------- map literals

  test("map literals build structs; dot access reads fields back") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Born IS NOT NULL
        |WITH {name: p.Name, born: p.Born, tag: 'x'} AS m
        |RETURN m.name AS n, m.born + 1 AS b1, m.tag AS t
        |ORDER BY n LIMIT 1""".stripMargin).head
    assert(r.getString(0) == "Kevin Bacon")
    assert(r.getInt(1) == 1959)
    assert(r.getString(2) == "x")
  }

  test("map literal misuse is a static error; parity rejects the surface") {
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) WITH {a: 1} AS m RETURN m.b AS x"))
    intercept[CypherSyntaxException](rows(
      "MATCH (p:Person) RETURN {a: 1, a: 2} AS m"))
    intercept[CypherSyntaxException](rows(
      "MATCH (p:Person) RETURN {} AS m"))
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person) RETURN {a: 1} AS m"))
  }

  // ----------------------------------------------------- CALL subqueries

  test("uncorrelated CALL runs once and cross-joins the outer rows") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Born IS NOT NULL
        |CALL { MATCH (m:Movie) RETURN max(m.Released) AS latest }
        |RETURN p.Name AS N, latest ORDER BY N""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getInt(1))) == Seq(
      ("Kevin Bacon", 1998), ("Meg Ryan", 1998), ("Tom Hanks", 1998)))
    // CALL as the first clause
    assert(rows(
      """CALL { MATCH (m:Movie) RETURN count(m.id) AS nm }
        |RETURN nm""".stripMargin).head.getLong(0) == 3L)
  }

  test("correlated CALL aggregates per invocation, zero-match fills") {
    val r = rows(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:ACTED_IN]->(m:Movie)
        |       RETURN count(m.id) AS roles, min(m.Released) AS first }
        |RETURN p.Name AS N, roles, first ORDER BY N""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getLong(1),
        if (x.isNullAt(2)) -1 else x.getInt(2))) == Seq(
      ("Jessica Thompson", 0L, -1),  // count fills 0, min stays null
      ("Kevin Bacon", 1L, 1995),
      ("Meg Ryan", 2L, 1993),
      ("Rob Reiner", 0L, -1),
      ("Tom Hanks", 3L, 1993)))
  }

  test("correlated CALL without aggregation expands and drops non-matches") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Jessica Thompson'
        |CALL { WITH p MATCH (p)-[r:REVIEWED]->(m:Movie)
        |       RETURN m.Title AS t, r.Rating AS rating }
        |RETURN p.Name AS N, t, rating ORDER BY t""".stripMargin)
    assert(r.map(x => (x.getString(1), x.getInt(2))) ==
      Seq(("Sleepless in Seattle", 95), ("You've Got Mail", 85)))
    // a person with no REVIEWED edges disappears (inner join semantics)
    assert(rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |CALL { WITH p MATCH (p)-[r:REVIEWED]->(m:Movie)
        |       RETURN m.Title AS t }
        |RETURN p.Name AS N, t""".stripMargin).isEmpty)
  }

  test("correlated CALL with an intermediate WITH keeps the correlation") {
    val r = rows(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:ACTED_IN]->(m:Movie)
        |       WITH m.Released AS y
        |       RETURN sum(y) AS ysum }
        |RETURN p.Name AS N, ysum ORDER BY N""".stripMargin)
    val m = r.map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(m("Tom Hanks") == 1993L + 1995L + 1998L)
    assert(m("Meg Ryan") == 1993L + 1998L)
    assert(m("Rob Reiner") == 0L) // sum over empty fills 0
  }

  test("correlated CALL per-invocation ORDER BY + LIMIT = top-k per key") {
    val df = session.run(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:ACTED_IN]->(m:Movie)
        |       RETURN m.Title AS t ORDER BY m.Released DESC LIMIT 1 }
        |RETURN p.Name AS N, t ORDER BY N""".stripMargin)
    assert(df.collect().map(x => (x.getString(0), x.getString(1))).toSeq ==
      Seq(("Kevin Bacon", "Apollo 13"), ("Meg Ryan", "You've Got Mail"),
          ("Tom Hanks", "You've Got Mail")))
    // the rank filter lowers to Spark's group-limit optimization
    assert(df.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"))
    // SKIP pages within the invocation
    assert(rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |CALL { WITH p MATCH (p)-[:ACTED_IN]->(m:Movie)
        |       RETURN m.Title AS t ORDER BY m.Released DESC SKIP 1 LIMIT 1 }
        |RETURN t""".stripMargin).map(_.getString(0)) == Seq("Apollo 13"))
  }

  test("correlated CALL pages an intermediate WITH per invocation (round 8)") {
    // top-2 newest movies per person, then count them downstream —
    // the paging happens INSIDE the subquery pipeline
    val r = rows(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:ACTED_IN]->(m:Movie)
        |       WITH m ORDER BY m.Released DESC LIMIT 2
        |       RETURN count(m.id) AS c, min(m.Released) AS oldest }
        |RETURN p.Name AS N, c, oldest ORDER BY N""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getLong(1),
        if (x.isNullAt(2)) -1 else x.getInt(2))) == Seq(
      ("Jessica Thompson", 0L, -1), ("Kevin Bacon", 1L, 1995),
      ("Meg Ryan", 2L, 1993), ("Rob Reiner", 0L, -1),
      // Tom: 3 movies, top-2 newest = 1998 + 1995
      ("Tom Hanks", 2L, 1995)))
    // WHERE after the paged WITH applies post-LIMIT (Neo4j's order)
    val w = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |CALL { WITH p MATCH (p)-[:ACTED_IN]->(m:Movie)
        |       WITH m.Title AS t, m.Released AS y
        |       ORDER BY y DESC LIMIT 2 WHERE y < 1998
        |       RETURN t }
        |RETURN t""".stripMargin)
    // top-2 newest = 1998, 1995; WHERE keeps only 1995 (not 1993!)
    assert(w.map(_.getString(0)) == Seq("Apollo 13"))
  }

  test("correlated CALL DISTINCT + LIMIT pages the distinct set (round 8)") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |CALL { WITH p MATCH (p)-[:ACTED_IN]->(m:Movie)
        |       RETURN DISTINCT m.Released AS y ORDER BY y DESC LIMIT 2 }
        |RETURN y ORDER BY y""".stripMargin)
    assert(r.map(_.getInt(0)) == Seq(1995, 1998))
  }

  test("CALL rejection surface") {
    // per-invocation LIMIT without ORDER BY has no defined order
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:ACTED_IN]->(m:Movie)
        |       RETURN m.Title AS t LIMIT 1 }
        |RETURN p.Name AS N, t""".stripMargin))
    // LIMIT with aggregation on the subquery RETURN stays rejected
    // (one row per invocation already — page a WITH instead)
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:ACTED_IN]->(m:Movie)
        |       RETURN count(m.id) AS c ORDER BY c LIMIT 1 }
        |RETURN p.Name AS N, c""".stripMargin))
    // ORDER BY under DISTINCT must sort by projected items
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:ACTED_IN]->(m:Movie)
        |       RETURN DISTINCT m.Title AS t
        |       ORDER BY m.Released DESC LIMIT 1 }
        |RETURN p.Name AS N, t""".stripMargin))
    // returning a whole entity from the subquery
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:ACTED_IN]->(m:Movie) RETURN m }
        |RETURN p.Name AS N""".stripMargin))
    // output name colliding with an outer variable
    intercept[CypherBindingException](rows(
      """MATCH (p:Person) WITH p, 1 AS x
        |CALL { MATCH (m:Movie) RETURN count(m.id) AS x }
        |RETURN p.Name AS N, x""".stripMargin))
    // parity session rejects the construct
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      """MATCH (p:Person)
        |CALL { MATCH (m:Movie) RETURN count(m.id) AS c }
        |RETURN p.Name AS N, c""".stripMargin))
  }

  // ---------------------------------------------- rel-type alternation

  test("[:A|B] unions the per-verb branches") {
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN|REVIEWED]->(m:Movie)
        |RETURN p.Name AS N, count(m) AS c ORDER BY N""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getLong(1))) == Seq(
      ("Jessica Thompson", 2L), // reviews only
      ("Kevin Bacon", 1L), ("Meg Ryan", 2L), ("Tom Hanks", 3L)))
    // three-way alternation, incoming direction
    assert(rows(
      """MATCH (m:Movie)<-[:ACTED_IN|REVIEWED|DIRECTED]-(p:Person)
        |WHERE m.Title = 'Sleepless in Seattle'
        |RETURN count(p.id) AS c""".stripMargin).head.getLong(0) == 4L)
  }

  test("alternation composes with var-length and keeps rejections") {
    // [:FOLLOWS|ACTED_IN*1..2]: per-branch verb carried into each hop
    val r = rows(
      """MATCH (p:Person)-[:FOLLOWS*1..2]->(q:Person)
        |WHERE p.Name = 'Jessica Thompson'
        |RETURN count(q.id) AS c""".stripMargin).head.getLong(0)
    assert(r == 3L) // p5→p1, p5→p2, p5→p1→p2
    // binding a variable to an alternation is SUPPORTED since round 8
    // (null-filled union namespace — see the dedicated test)
    assert(rows(
      "MATCH (p:Person)-[r:ACTED_IN|REVIEWED]->(m:Movie) RETURN p.Name AS N")
      .size == 8)
    // parity rejects the surface
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person)-[:ACTED_IN|REVIEWED]->(m:Movie) RETURN p.Name AS N"))
  }

  test("missing-property-is-null over alternation branches (round 14)") {
    // ACTED_IN has Roles, REVIEWED has Summary/Rating: a WHERE over a
    // property only ONE branch carries compiles over the null-filled
    // union — IS NULL keeps the LACKING branch (6 ACTED_IN rows)
    val r = rows(
      """MATCH (p:Person)-[r:ACTED_IN|REVIEWED]->(m:Movie)
        |WHERE r.Rating IS NULL
        |RETURN p.Name AS N, count(m) AS c ORDER BY N""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r == Seq(("Kevin Bacon", 1L), ("Meg Ryan", 2L),
      ("Tom Hanks", 3L)))
    // IS NOT NULL keeps only the carrying branch's rows
    assert(rows(
      """MATCH (p:Person)-[r:ACTED_IN|REVIEWED]->(m:Movie)
        |WHERE r.Rating IS NOT NULL
        |RETURN count(m) AS c""".stripMargin).head.getLong(0) == 2L)
    // ordinary comparisons 3-valued-null-filter the lacking branch
    assert(rows(
      """MATCH (p:Person)-[r:ACTED_IN|REVIEWED]->(m:Movie)
        |WHERE r.Rating >= 90
        |RETURN count(m) AS c""".stripMargin).head.getLong(0) == 1L)
    // mixed conjunction: the uniform conjunct still prunes, the
    // mixed-presence one defers past the union
    assert(rows(
      """MATCH (p:Person)-[r:ACTED_IN|REVIEWED]->(m:Movie)
        |WHERE m.Released >= 1995 AND r.Rating IS NULL
        |RETURN count(m) AS c""".stripMargin).head.getLong(0) == 4L)
    // a property NO branch carries stays the typed rejection
    intercept[CypherBindingException](rows(
      """MATCH (p:Person)-[r:ACTED_IN|REVIEWED]->(m:Movie)
        |WHERE r.Nope IS NULL RETURN count(m) AS c""".stripMargin))
    // round 15 (ADVICE-r14): OPTIONAL MATCH too — the mixed-presence
    // conjunct is NULL-FILLED per branch (it can't defer past the
    // union: the WHERE is part of the left join, so predicate misses
    // must NULL the bindings, not drop the row). Jessica's REVIEWED
    // rows carry ratings → her optional misses → count 0, not absent.
    val opt = rows(
      """MATCH (p:Person)
        |OPTIONAL MATCH (p)-[r:ACTED_IN|REVIEWED]->(m:Movie)
        |WHERE r.Rating IS NULL
        |RETURN p.Name AS N, count(m) AS c ORDER BY N""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(opt == Seq(("Jessica Thompson", 0L), ("Kevin Bacon", 1L),
      ("Meg Ryan", 2L), ("Rob Reiner", 0L), ("Tom Hanks", 3L)))
    // IS NOT NULL flips: only Jessica's rated REVIEWED rows match
    val opt2 = rows(
      """MATCH (p:Person)
        |OPTIONAL MATCH (p)-[r:ACTED_IN|REVIEWED]->(m:Movie)
        |WHERE r.Rating IS NOT NULL
        |RETURN p.Name AS N, count(m) AS c ORDER BY N""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(opt2 == Seq(("Jessica Thompson", 2L), ("Kevin Bacon", 0L),
      ("Meg Ryan", 0L), ("Rob Reiner", 0L), ("Tom Hanks", 0L)))
  }

  // ----------------------------------------------------- named paths

  test("named path: length(p) on a fixed pattern is the rel count") {
    val r = rows(
      """MATCH p = (a:Person)-[:ACTED_IN]->(m:Movie)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN m.Title AS T, length(p) AS L ORDER BY T""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getLong(1))) == Seq(
      ("Apollo 13", 1L), ("Sleepless in Seattle", 1L),
      ("You've Got Mail", 1L)))
  }

  test("path variables obey the reserved __ namespace (no __pm collision)") {
    // a user path var may not enter the engine's reserved namespace —
    // `__pm0` would collide with a parser-synthesized property-map alias
    intercept[CypherNotSupportedException](rows(
      """MATCH __pm0 = (a:Person)-[:FOLLOWS*1..2]->(b:Person),
        |      ({Name: 'Tom Hanks'})-[:FOLLOWS]->(c:Person)
        |RETURN a.Name AS N""".stripMargin))
    intercept[CypherNotSupportedException](rows(
      "MATCH __p = (a:Person)-[:FOLLOWS*1..2]->(b) RETURN a.Name AS N"))
  }

  test("rel-list variable [rs:R*lo..hi] binds the relationship list " +
      "(round 15)") {
    // Neo4j's everyday var-length spelling: rs is the LIST of
    // traversed relationship rows, one element per hop, in traversal
    // order (KNOWS: p1→p2 2010, p2→p3 2015, p3→p4 2020, p1→p4 1999)
    val r = rows(
      """MATCH (a:Person)-[rs:KNOWS*1..2]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn, size(rs) AS n,
        |       [r IN rs | r.Since] AS ys
        |ORDER BY bn, n""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1), x.getSeq[Int](2)))
    assert(r == Seq(("Kevin Bacon", 2, Seq(2010, 2015)),
      ("Meg Ryan", 1, Seq(2010)), ("Rob Reiner", 1, Seq(1999))))
    // lambda-filtering across branch lengths: ALL drops the 1999
    // shortcut; element subscript + dot access read hop properties
    val r2 = rows(
      """MATCH (a:Person)-[rs:KNOWS*1..3]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |  AND ALL(r IN rs WHERE r.Since >= 2010)
        |RETURN b.Name AS bn, rs[0].Since AS first_y, size(rs) AS n
        |ORDER BY bn""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1), x.getInt(2)))
    assert(r2 == Seq(("Kevin Bacon", 2010, 2), ("Meg Ryan", 2010, 1),
      ("Rob Reiner", 2010, 3)))
    // the zero-length branch binds the EMPTY list
    val r0 = rows(
      """MATCH (a:Person)-[rs:KNOWS*0..1]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn, size(rs) AS n ORDER BY bn, n""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    assert(r0 == Seq(("Meg Ryan", 1), ("Rob Reiner", 1),
      ("Tom Hanks", 0)))
    // map-propertied form: the map stays the per-hop predicate, rs
    // still binds the list (Neo4j's [rs:R* {k: v}] reading)
    val rm = rows(
      """MATCH (a:Person)-[rs:KNOWS*1..2 {Since: 2010}]->(b:Person)
        |RETURN a.Name AS an, b.Name AS bn, size(rs) AS n
        |ORDER BY an, bn""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getInt(2)))
    assert(rm == Seq(("Tom Hanks", "Meg Ryan", 1)))
    // OPTIONAL MATCH: rs null-fills on a miss
    val ro = rows(
      """MATCH (a:Person) WHERE a.Name IN ['Tom Hanks', 'Rob Reiner']
        |OPTIONAL MATCH (a)-[rs:KNOWS*1..1]->(b:Person)
        |RETURN a.Name AS an, b.Name AS bn, rs IS NULL AS miss
        |ORDER BY an, bn""".stripMargin)
      .map(x => (x.getString(0),
        if (x.isNullAt(1)) "-" else x.getString(1), x.getBoolean(2)))
    assert(ro == Seq(("Rob Reiner", "-", true),
      ("Tom Hanks", "Meg Ryan", false), ("Tom Hanks", "Rob Reiner", false)))
    // UNWIND round-trips the elements
    val ru = rows(
      """MATCH (a:Person)-[rs:KNOWS*2..2]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |UNWIND rs AS r RETURN r.Since AS y ORDER BY y""".stripMargin)
      .map(_.getInt(0))
    assert(ru == Seq(2010, 2015))
    // rejections: unbounded bind, duplicate list alias, collisions
    intercept[CypherNotSupportedException](rows(
      "MATCH (a:Person)-[rs:KNOWS*1..]->(b:Person) RETURN size(rs) AS n"))
    intercept[CypherBindingException](rows(
      """MATCH (a)-[rs:KNOWS*1..2]->(b)-[rs:KNOWS*1..2]->(c)
        |RETURN size(rs) AS n""".stripMargin))
    intercept[CypherBindingException](rows(
      "MATCH (rs:Person)-[rs:KNOWS*1..2]->(b) RETURN size(rs) AS n"))
  }

  test("GQL group variable: ((a)-[r:R]->(b)){m,n} binds r as a " +
      "per-path list (round 15)") {
    // single-relationship group: the USER-NAMED rel is the group
    // variable — outside the group it reads as the per-path list of
    // repetition relationships (task-1 machinery over the hop frame)
    val r = rows(
      """MATCH (a:Person) ((x)-[r:KNOWS]->(y)){1,2} (b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn, size(r) AS n,
        |       [h IN r | h.Since] AS ys ORDER BY bn, n""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1), x.getSeq[Int](2)))
    assert(r == Seq(("Kevin Bacon", 2, Seq(2010, 2015)),
      ("Meg Ryan", 1, Seq(2010)), ("Rob Reiner", 1, Seq(1999))))
    // the group PREDICATE reads the same name per repetition (GQL's
    // two-level contract); the list carries the filtered hops
    val rp = rows(
      """MATCH (a:Person) ((x)-[r:KNOWS]->(y) WHERE r.Since >= 2010){1,2}
        |(b:Person) WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn, [h IN r | h.Since] AS ys
        |ORDER BY bn""".stripMargin)
      .map(x => (x.getString(0), x.getSeq[Int](1)))
    assert(rp == Seq(("Kevin Bacon", Seq(2010, 2015)),
      ("Meg Ryan", Seq(2010))))
    // {0,n}: the zero-repetition row binds the EMPTY list
    val r0 = rows(
      """MATCH (a:Person) ((x)-[r:KNOWS]->(y)){0,1} (b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn, size(r) AS n ORDER BY bn, n""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    assert(r0 == Seq(("Meg Ryan", 1), ("Rob Reiner", 1),
      ("Tom Hanks", 0)))
    // group NODE variables (round 15, late): x / y bind the
    // per-repetition LEFT / RIGHT node lists — GQL's full
    // group-variable surface; x(i+1) = y(i) (the juncture)
    val nv = rows(
      """MATCH (a:Person) ((x)-[r:KNOWS]->(y)){1,2} (b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn, [n IN x | n.Name] AS xs,
        |       [n IN y | n.Name] AS ys ORDER BY bn, xs""".stripMargin)
      .map(q => (q.getString(0), q.getSeq[String](1), q.getSeq[String](2)))
    assert(nv == Seq(
      ("Kevin Bacon", Seq("Tom Hanks", "Meg Ryan"),
        Seq("Meg Ryan", "Kevin Bacon")),
      ("Meg Ryan", Seq("Tom Hanks"), Seq("Meg Ryan")),
      ("Rob Reiner", Seq("Tom Hanks"), Seq("Rob Reiner"))))
    // zero branch: empty node lists alongside the empty rel list
    val nv0 = rows(
      """MATCH (a:Person) ((x)-[r:KNOWS]->(y)){0,1} (b:Person)
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Tom Hanks'
        |RETURN size(x) AS nx, size(y) AS ny, size(r) AS nr"""
        .stripMargin).head
    assert((nv0.getInt(0), nv0.getInt(1), nv0.getInt(2)) == (0, 0, 0))
    // UNBOUNDED quantifiers keep group names PREDICATE-LOCAL: the
    // per-repetition predicate still reads them, binding one outside
    // is the ordinary unknown-variable error (no per-hop rows exist)
    val ub = rows(
      """MATCH (a:Person) ((x)-[r:KNOWS]->(y) WHERE r.Since >= 2010)+
        |(b:Person) WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn ORDER BY bn""".stripMargin)
      .map(_.getString(0))
    assert(ub == Seq("Kevin Bacon", "Meg Ryan", "Rob Reiner"))
    intercept[CypherBindingException](rows(
      "MATCH (a:Person) ((x)-[r:KNOWS]->(y))+ (b:Person) " +
      "RETURN size(r) AS n"))
    // MULTI-relationship chains bind EACH user-named hop as its own
    // group variable (round 15, late): the composite frame exports a
    // per-hop struct column, the unroll collects it per repetition —
    // here the out-in meet's two survivors carry one element each
    val ch = rows(
      """MATCH (a:Person) ((x)-[r:KNOWS]->(y)<-[s:KNOWS]-(z)){1,1}
        |(b:Person) RETURN a.Name AS an, [h IN r | h.Since] AS rs,
        |       [h IN s | h.Since] AS ss ORDER BY an""".stripMargin)
      .map(x => (x.getString(0), x.getSeq[Int](1), x.getSeq[Int](2)))
    assert(ch == Seq(("Kevin Bacon", Seq(2020), Seq(1999)),
      ("Tom Hanks", Seq(1999), Seq(2020))))
    // chain group variables bind only under a BOUNDED 1+ quantifier
    // (the zero branch / reach lowering keep no hop rows) — names
    // stay predicate-local otherwise, so reading one outside is the
    // ordinary unknown-variable error
    intercept[CypherBindingException](rows(
      """MATCH (a:Person) ((x)-[r:KNOWS]->(y)<-[s:KNOWS]-(z)){0,1}
        |(b:Person) RETURN size(r) AS n""".stripMargin))
    intercept[CypherBindingException](rows(
      """MATCH (a:Person) ((x)-[r:KNOWS]->(y)<-[s:KNOWS]-(z))+
        |(b:Person) RETURN size(r) AS n""".stripMargin))
  }

  test("rel-list variables compose: shortest forms, DISTINCT, " +
      "comprehensions, EXISTS (round 15)") {
    // shortestPath carries THE REDUCED ROW's list (the min-struct
    // rides (len, witnesses, rs)): Tom→Rob minimal is the 1999
    // shortcut, so rs = [1999], never the 3-hop chain's list
    val sp = rows(
      """MATCH p = shortestPath((a:Person)-[rs:KNOWS*1..3]->(b:Person))
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
        |RETURN length(p) AS l, [r IN rs | r.Since] AS ys""".stripMargin)
      .map(x => (x.getLong(0), x.getSeq[Int](1)))
    assert(sp == Seq((1L, Seq(1999))))
    // SHORTEST 2 keeps each kept row's OWN list
    val s2 = rows(
      """MATCH p = SHORTEST 2 (a:Person)-[rs:KNOWS*1..3]->(b:Person)
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Rob Reiner'
        |RETURN length(p) AS l, [r IN rs | r.Since] AS ys
        |ORDER BY l""".stripMargin)
      .map(x => (x.getLong(0), x.getSeq[Int](1)))
    assert(s2 == Seq((1L, Seq(1999)), (3L, Seq(2010, 2015, 2020))))
    // WITH DISTINCT dedupes whole LISTS (all 6 branch lists distinct)
    val du = rows(
      """MATCH (a:Person)-[rs:KNOWS*1..2]->(b:Person)
        |WITH DISTINCT rs
        |UNWIND rs AS r RETURN r.Since AS y ORDER BY y""".stripMargin)
      .map(_.getInt(0))
    assert(du == Seq(1999, 2010, 2010, 2015, 2015, 2015, 2020, 2020))
    // implicit grouping BY the list's size; pattern-comp interior
    val gp = rows(
      """MATCH (a:Person)-[rs:KNOWS*1..2]->(b:Person)
        |RETURN size(rs) AS n, count(*) AS c ORDER BY n""".stripMargin)
      .map(x => (x.getInt(0), x.getLong(1)))
    assert(gp == Seq((1, 4L), (2, 2L)))
    val pc = rows(
      """MATCH (a:Person) WHERE a.Name = 'Tom Hanks'
        |RETURN [(a)-[rs:KNOWS*1..2]->(b:Person) | size(rs)] AS ls"""
        .stripMargin).head.getSeq[Int](0).sorted
    assert(pc == Seq(1, 1, 2))
    // EXISTS interior binds (and discards) the list
    val ex = rows(
      """MATCH (a:Person)
        |WHERE EXISTS { (a)-[rs:KNOWS*2..2]->(b:Person) }
        |RETURN a.Name AS nm ORDER BY nm""".stripMargin)
      .map(_.getString(0))
    assert(ex == Seq("Meg Ryan", "Tom Hanks"))
    // size(rs) always agrees with size(relationships(p))
    val ag = rows(
      """MATCH p = (a:Person)-[rs:KNOWS*1..2]->(b:Person)
        |RETURN size(rs) = size(relationships(p)) AS agree"""
        .stripMargin).map(_.getBoolean(0))
    assert(ag.size == 6 && ag.forall(identity))
  }

  test("named path over [*1..2]: per-branch lengths survive the union") {
    val r = rows(
      """MATCH p = (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |RETURN a.Name AS A, b.Name AS B, length(p) AS L
        |ORDER BY A, B, L""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    assert(r == Seq(
      ("Jessica Thompson", "Meg Ryan", 1L),
      ("Jessica Thompson", "Meg Ryan", 2L),
      ("Jessica Thompson", "Tom Hanks", 1L),
      ("Tom Hanks", "Meg Ryan", 1L)))
  }

  test("named path: WHERE length(p) filters branches; size() synonym") {
    val r = rows(
      """MATCH p = (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |WHERE length(p) = 2
        |RETURN a.Name AS A, b.Name AS B, size(p) AS L""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    assert(r == Seq(("Jessica Thompson", "Meg Ryan", 2L)))
  }

  test("named path: every other use of the variable is rejected") {
    // projecting the path
    intercept[CypherNotSupportedException](rows(
      "MATCH p = (a:Person)-[:FOLLOWS]->(b:Person) RETURN p"))
    // value use
    intercept[CypherNotSupportedException](rows(
      "MATCH p = (a:Person)-[:FOLLOWS]->(b:Person) RETURN p + 1 AS X"))
    // property access
    intercept[CypherException](rows(
      "MATCH p = (a:Person)-[:FOLLOWS]->(b:Person) RETURN p.x AS X"))
    // alias collision with a node variable
    intercept[CypherBindingException](rows(
      "MATCH p = (p:Person)-[:FOLLOWS]->(b:Person) RETURN length(p) AS L"))
    // parity session rejects the surface entirely
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH p = (a:Person)-[:FOLLOWS]->(b:Person) RETURN length(p) AS L"))
  }

  test("named path in OPTIONAL MATCH: length and witnesses null-fill") {
    // fixed pattern: only p4 directed a movie; everyone else reads a
    // null length
    val r = rows(
      """MATCH (a:Person)
        |OPTIONAL MATCH q = (a)-[:DIRECTED]->(m:Movie)
        |RETURN a.Name AS N, length(q) AS L ORDER BY N""".stripMargin)
      .map(x => (x.getString(0),
        if (x.isNullAt(1)) -1L else x.getLong(1)))
    assert(r == Seq(("Jessica Thompson", -1L), ("Kevin Bacon", -1L),
      ("Meg Ryan", -1L), ("Rob Reiner", 1L), ("Tom Hanks", -1L)))
    // var-length branches: per-branch lengths through the branch
    // union, nulls on unmatched; witness arrays null-fill too
    val r2 = rows(
      """MATCH (a:Person) WHERE a.Name IN ['Jessica Thompson', 'Rob Reiner']
        |OPTIONAL MATCH q = (a)-[:FOLLOWS*1..2]->(b:Person)
        |RETURN a.Name AS N, length(q) AS L,
        |       [n IN nodes(q) | n.Name] AS NS
        |ORDER BY N, L""".stripMargin)
      .map(x => (x.getString(0),
        if (x.isNullAt(1)) -1L else x.getLong(1),
        if (x.isNullAt(2)) null else x.getSeq[String](2)))
    assert(r2 == Seq(
      ("Jessica Thompson", 1L, Seq("Jessica Thompson", "Meg Ryan")),
      ("Jessica Thompson", 1L, Seq("Jessica Thompson", "Tom Hanks")),
      ("Jessica Thompson", 2L,
        Seq("Jessica Thompson", "Tom Hanks", "Meg Ryan")),
      ("Rob Reiner", -1L, null)))
    // the clause WHERE reads length(q) BEFORE the left join
    val r3 = rows(
      """MATCH (a:Person) WHERE a.Name = 'Jessica Thompson'
        |OPTIONAL MATCH q = (a)-[:FOLLOWS*1..2]->(b:Person)
        |WHERE length(q) = 2
        |RETURN b.Name AS B, length(q) AS L""".stripMargin)
      .map(x => (if (x.isNullAt(0)) null else x.getString(0),
        if (x.isNullAt(1)) -1L else x.getLong(1)))
    assert(r3 == Seq(("Meg Ryan", 2L)))
  }

  test("collect(entity): array of property structs, UNWIND round-trips") {
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |WITH p, collect(m) AS ms
        |UNWIND ms AS m2
        |RETURN p.Name AS N, m2.Title AS T ORDER BY N, T""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r == Seq(
      ("Kevin Bacon", "Apollo 13"),
      ("Meg Ryan", "Sleepless in Seattle"),
      ("Meg Ryan", "You've Got Mail"),
      ("Tom Hanks", "Apollo 13"),
      ("Tom Hanks", "Sleepless in Seattle"),
      ("Tom Hanks", "You've Got Mail")))
    // size + lambda dot access compose on the struct array
    val r2 = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |WITH p.Name AS N, collect(m) AS ms
        |RETURN N, size(ms) AS n,
        |       size([x IN ms WHERE x.Released >= 1995 | x.id]) AS late
        |ORDER BY N""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1), x.getInt(2)))
    assert(r2 == Seq(("Kevin Bacon", 1, 1), ("Meg Ryan", 2, 1),
      ("Tom Hanks", 3, 2)))
    // collect(DISTINCT edge) dedups whole structs
    val r3 = rows(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |RETURN size(collect(DISTINCT r)) AS n""".stripMargin).head
    assert(r3.getInt(0) == 2)
    // other aggregates over whole entities stay typed
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) RETURN max(p) AS x"))
  }

  test("WITH p carries the path (length + witnesses) through projections") {
    val r = rows(
      """MATCH p = (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |WITH p, a, b WHERE length(p) = 2
        |RETURN a.Name AS A, b.Name AS B,
        |       [n IN nodes(p) | n.Name] AS NS""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getSeq[String](2)))
    assert(r == Seq(("Jessica Thompson", "Meg Ryan",
      Seq("Jessica Thompson", "Tom Hanks", "Meg Ryan"))))
    // aggregation groups PER PATH (length + witness arrays key)
    val r2 = rows(
      """MATCH p = (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |WITH p, count(*) AS cnt
        |RETURN length(p) AS L, cnt ORDER BY L, cnt""".stripMargin)
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r2 == Seq((1L, 1L), (1L, 1L), (1L, 1L), (2L, 1L)))
    // DISTINCT over paths; ORDER BY length(p) + LIMIT composes
    val r3 = rows(
      """MATCH p = (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |WITH DISTINCT p
        |WITH p ORDER BY length(p) DESC LIMIT 1
        |RETURN length(p) AS L, [r IN relationships(p) | r._sink] AS SN"""
        .stripMargin).head
    assert(r3.getLong(0) == 2L && r3.getSeq[String](1) == Seq("p1", "p2"))
    // renames stay typed; RETURN p keeps the rejection
    intercept[CypherNotSupportedException](rows(
      """MATCH p = (a:Person)-[:FOLLOWS]->(b:Person)
        |WITH p AS q RETURN length(q) AS L""".stripMargin))
    intercept[CypherNotSupportedException](rows(
      """MATCH p = (a:Person)-[:FOLLOWS]->(b:Person)
        |WITH p RETURN p""".stripMargin))
  }

  test("named path: WITH * skips the path; explicit length(p) flows") {
    val r = rows(
      """MATCH p = (a:Person)-[:FOLLOWS]->(b:Person)
        |WITH *, length(p) AS L
        |RETURN a.Name AS A, L ORDER BY A, L""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r == Seq(("Jessica Thompson", 1L), ("Jessica Thompson", 1L),
      ("Tom Hanks", 1L)))
  }

  test("nodes(p): per-branch node lists over [*1..2], lambda dot access") {
    val r = rows(
      """MATCH p = (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |RETURN a.Name AS A, b.Name AS B, [n IN nodes(p) | n.Name] AS NS
        |ORDER BY A, B, size(NS)""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getSeq[String](2)))
    assert(r == Seq(
      ("Jessica Thompson", "Meg Ryan", Seq("Jessica Thompson", "Meg Ryan")),
      ("Jessica Thompson", "Meg Ryan",
        Seq("Jessica Thompson", "Tom Hanks", "Meg Ryan")),
      ("Jessica Thompson", "Tom Hanks", Seq("Jessica Thompson", "Tom Hanks")),
      ("Tom Hanks", "Meg Ryan", Seq("Tom Hanks", "Meg Ryan"))))
  }

  test("relationships(p): rel property lists ride each branch") {
    val r = rows(
      """MATCH p = (a:Person)-[:KNOWS*1..2]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS B, [r IN relationships(p) | r.Since] AS S
        |ORDER BY B""".stripMargin)
      .map(x => (x.getString(0), x.getSeq[Int](1)))
    assert(r == Seq(
      ("Kevin Bacon", Seq(2010, 2015)),
      ("Meg Ryan", Seq(2010)),
      ("Rob Reiner", Seq(1999))))
  }

  test("nodes(p) over mixed labels: union struct, missing props null") {
    val r = rows(
      """MATCH p = (a:Person)-[:ACTED_IN]->(m:Movie)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN [n IN nodes(p) | coalesce(n.Title, n.Name)] AS NS
        |ORDER BY NS[1]""".stripMargin)
      .map(_.getSeq[String](0))
    assert(r == Seq(
      Seq("Tom Hanks", "Apollo 13"),
      Seq("Tom Hanks", "Sleepless in Seattle"),
      Seq("Tom Hanks", "You've Got Mail")))
  }

  test("nodes/relationships over [*0..1]: zero branch is one node, no rels") {
    val r = rows(
      """MATCH p = (a:Person)-[:FOLLOWS*0..1]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN size(nodes(p)) AS N, size(relationships(p)) AS R
        |ORDER BY N""".stripMargin)
      .map(x => (x.getInt(0), x.getInt(1)))
    assert(r == Seq((1, 0), (2, 1)))
  }

  test("nodes(p) composes with quantifiers and indexing") {
    val r = rows(
      """MATCH p = (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |WHERE all(n IN nodes(p) WHERE n.Name CONTAINS ' ')
        |  AND size(nodes(p)) = 3
        |RETURN [n IN nodes(p) | n.Name][1] AS MID""".stripMargin)
    // the only 2-hop branch is p5→p1→p2
    assert(r.map(_.getString(0)) == Seq("Tom Hanks"))
  }

  test("nodes(p) on shortestPath: the reduced row's witnesses survive") {
    // FOLLOWS: p5→p1, p5→p2, p1→p2 — (p5, p2) reachable at 1 AND 2
    // hops; shortestPath keeps length 1 and ITS witnesses, never the
    // two-hop branch's
    val r = rows(
      """MATCH p = shortestPath((a:Person)-[:FOLLOWS*1..2]->(b:Person))
        |RETURN a.Name AS A, b.Name AS B, [n IN nodes(p) | n.Name] AS NS
        |ORDER BY A, B""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getSeq[String](2)))
    assert(r == Seq(
      ("Jessica Thompson", "Meg Ryan", Seq("Jessica Thompson", "Meg Ryan")),
      ("Jessica Thompson", "Tom Hanks", Seq("Jessica Thompson", "Tom Hanks")),
      ("Tom Hanks", "Meg Ryan", Seq("Tom Hanks", "Meg Ryan"))))
    // equal-length tie (FOLLOWS and KNOWS both link p1→p2 at 1 hop):
    // the struct-min tie-break picks the smallest rels array — the
    // null-Since FOLLOWS edge sorts before KNOWS's Since=2010
    val r2 = rows(
      """MATCH p = shortestPath(
        |    (a:Person)-[:FOLLOWS|KNOWS*1..2]->(b:Person))
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Meg Ryan'
        |RETURN [r IN relationships(p) | r.Since] AS S""".stripMargin)
    assert(r2.size == 1 && r2.head.getSeq[Any](0) == Seq(null))
    // allShortestPaths keeps BOTH minimal rows, each with its OWN
    // witnesses
    val r3 = rows(
      """MATCH p = allShortestPaths(
        |    (a:Person)-[:FOLLOWS|KNOWS*1..2]->(b:Person))
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Meg Ryan'
        |RETURN [r IN relationships(p) | r.Since] AS S
        |ORDER BY S""".stripMargin)
      .map(_.getSeq[Any](0))
    assert(r3 == Seq(Seq(null), Seq(2010)))
  }

  test("path accessors stay rejected where witnesses cannot exist") {
    // round 13 lifted BOTH accessors on unbounded shortestPath (even
    // unanchored — the closure guard bounds it): n nodes ⇔ n-1 rels
    val un = rows(
      """MATCH p = shortestPath((a:Person)-[:KNOWS*]->(b:Person))
        |RETURN size([n IN nodes(p) | n.Name]) AS ns, length(p) AS h,
        |       size(relationships(p)) AS rs
        |ORDER BY h, ns""".stripMargin)
    assert(un.nonEmpty && un.forall(x =>
      x.getInt(0) == x.getLong(1) + 1 && x.getInt(2) == x.getLong(1)))
    // non-path argument
    intercept[CypherException](rows(
      "MATCH (a:Person) RETURN nodes(a) AS NS"))
    // unknown struct field inside the lambda fails typed
    intercept[CypherException](rows(
      """MATCH p = (a:Person)-[:FOLLOWS*1..1]->(b:Person)
        |RETURN [n IN nodes(p) | n.Nope] AS NS""".stripMargin))
  }

  // ---------------------------------------------------- shortestPath

  test("shortestPath: min hops per endpoint pair over [*1..2]") {
    // FOLLOWS: p5→p1, p5→p2, p1→p2. (p5,p2) is reachable at 1 AND 2
    // hops — shortestPath keeps 1
    val r = rows(
      """MATCH p = shortestPath((a:Person)-[:FOLLOWS*1..2]->(b:Person))
        |RETURN a.Name AS A, b.Name AS B, length(p) AS L
        |ORDER BY A, B""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    assert(r == Seq(
      ("Jessica Thompson", "Meg Ryan", 1L),
      ("Jessica Thompson", "Tom Hanks", 1L),
      ("Tom Hanks", "Meg Ryan", 1L)))
  }

  test("shortestPath: WHERE on length finds shortest among qualifying") {
    val r = rows(
      """MATCH p = shortestPath((a:Person)-[:FOLLOWS*1..2]->(b:Person))
        |WHERE length(p) >= 2
        |RETURN a.Name AS A, b.Name AS B, length(p) AS L""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    assert(r == Seq(("Jessica Thompson", "Meg Ryan", 2L)))
  }

  test("shortestPath: unnamed form dedups same-length interior variants") {
    // ACTED_IN at exactly 1 hop: plain MATCH and shortest MATCH agree
    // when paths are unique...
    val n = rows(
      """MATCH shortestPath((a:Person)-[:FOLLOWS*1..2]->(b:Person))
        |RETURN count(a.id) AS n""".stripMargin).head.getLong(0)
    assert(n == 3L) // one row per (a, b) pair — the len-2 duplicate gone
  }

  test("shortestPath: rejections") {
    // no var-length inside
    intercept[CypherNotSupportedException](rows(
      "MATCH p = shortestPath((a:Person)-[:FOLLOWS]->(b:Person)) " +
      "RETURN length(p) AS L"))
    // not the sole pattern
    intercept[CypherNotSupportedException](rows(
      """MATCH p = shortestPath((a:Person)-[:FOLLOWS*1..2]->(b:Person)),
        |      (c:Person)-[:FOLLOWS]->(d:Person)
        |RETURN length(p) AS L""".stripMargin))
    // allShortestPaths needs a var-length rel too
    intercept[CypherNotSupportedException](rows(
      "MATCH p = allShortestPaths((a:Person)-[:FOLLOWS]->(b:Person)) " +
      "RETURN length(p) AS L"))
    // parity session rejects the surface
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH p = shortestPath((a:Person)-[:FOLLOWS*1..2]->(b:Person)) " +
      "RETURN length(p) AS L"))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH p = allShortestPaths((a:Person)-[:FOLLOWS*1..2]->(b:Person)) " +
      "RETURN length(p) AS L"))
  }

  test("allShortestPaths: one row per minimal path") {
    // (p5,p2) is reachable at 1 AND 2 hops — only the 1-hop row
    // survives; with unique minimal paths the result matches
    // shortestPath exactly
    val r = rows(
      """MATCH p = allShortestPaths((a:Person)-[:FOLLOWS*1..2]->(b:Person))
        |RETURN a.Name AS A, b.Name AS B, length(p) AS L
        |ORDER BY A, B""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    assert(r == Seq(
      ("Jessica Thompson", "Meg Ryan", 1L),
      ("Jessica Thompson", "Tom Hanks", 1L),
      ("Tom Hanks", "Meg Ryan", 1L)))
    // Tom Hanks and Meg Ryan share TWO movies → two minimal undirected
    // 2-hop ACTED_IN paths: shortestPath collapses to one row,
    // allShortestPaths keeps both
    def q(fn: String) =
      s"""MATCH p = $fn((a:Person)-[:ACTED_IN*2..2]-(b:Person))
         |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Meg Ryan'
         |RETURN length(p) AS L""".stripMargin
    assert(rows(q("allShortestPaths")).size == 2)
    assert(rows(q("shortestPath")).size == 1)
  }

  test("parity session rejects simple CASE and keeps searched CASE") {
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person) RETURN CASE p.Born WHEN 1956 THEN 'x' ELSE 'y' END AS C"))
    // searched CASE still fine in parity mode
    assert(parity.run(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN CASE WHEN p.Born = 1956 THEN 'x' ELSE 'y' END AS C""".stripMargin)
      .collect().head.getString(0) == "x")
  }

  // ------------------------------------------------- COUNT { } subquery

  test("COUNT { pattern } counts matches per binding; zero-match rows report 0") {
    val r = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS N, COUNT { (p)-[:ACTED_IN]->(m:Movie) } AS C
        |ORDER BY N""".stripMargin)
    assert(r.nonEmpty)
    val byName = r.map(x => x.getString(0) -> x.getInt(1)).toMap
    // cross-check every count against the plain aggregation
    val agg = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |RETURN p.Name AS N, count(m) AS C ORDER BY N""".stripMargin)
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    byName.foreach { case (n, c) =>
      assert(agg.getOrElse(n, 0L) == c.toLong, s"$n: $c vs ${agg.get(n)}")
    }
    // at least one person with no roles must appear with 0
    assert(byName.size > agg.size || byName.values.forall(_ > 0))
  }

  test("COUNT { } with inner WHERE filters before counting") {
    val all = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS N, COUNT { (p)-[:ACTED_IN]->(m:Movie) } AS C
        |ORDER BY N""".stripMargin).map(r => r.getString(0) -> r.getInt(1))
    val filt = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS N,
        |       COUNT { (p)-[:ACTED_IN]->(m:Movie) WHERE m.Released > 2000 } AS C
        |ORDER BY N""".stripMargin).map(r => r.getString(0) -> r.getInt(1))
    assert(filt.map(_._2).zip(all.map(_._2)).forall { case (f, a) => f <= a })
    assert(filt.map(_._2).sum < all.map(_._2).sum)
  }

  test("COUNT { } rejections: parity mode") {
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException] {
      parity.run("MATCH (p:Person) RETURN COUNT { (p)-[:ACTED_IN]->(m:Movie) } AS C")
    }
    // multiple pattern parts are SUPPORTED since round 13 (conjoined
    // like a multi-pattern MATCH) — no one acts in AND directs the
    // same-row cross here, so the disjoint product is 3×0/…; just
    // check it compiles and counts the cross for the acted×directed
    // pair on Rob Reiner (0 acted → 0)
    val r = session.run(
      "MATCH (p:Person {Name: 'Rob Reiner'}) RETURN COUNT { " +
      "(p)-[:ACTED_IN]->(m:Movie), (p)-[:DIRECTED]->(x:Movie) } AS C")
      .collect()
    assert(r.head.getInt(0) == 0)
  }

  // ------------------------------------------- inline property maps

  test("node property map filters, aliased and anonymous") {
    val r = rows("MATCH (p:Person {Name: 'Tom Hanks'}) RETURN p.Born AS B")
    assert(r.map(_.getInt(0)) == Seq(1956))
    // anonymous map-bearing node; multiple keys with an expression value
    val r2 = rows(
      """MATCH (p:Person)-[:ACTED_IN]->({Title: 'Apollo 13',
        |  Released: 1990 + 5}) RETURN p.Name AS N ORDER BY N""".stripMargin)
    assert(r2.map(_.getString(0)) == Seq("Kevin Bacon", "Tom Hanks"))
    // empty map is legal and a no-op
    assert(rows("MATCH (p:Person {}) RETURN count(p.id) AS n")
      .head.getLong(0) == 5L)
  }

  test("relationship property map filters on edge properties") {
    val r = rows(
      """MATCH (p:Person)-[a:ACTED_IN {Roles: 'Jack Swigert'}]->(m:Movie)
        |RETURN p.Name AS N, m.Title AS T""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Kevin Bacon", "Apollo 13")))
    // anonymous rel with a map
    val r2 = rows(
      """MATCH (p:Person)-[:ACTED_IN {Roles: 'Annie Reed'}]->(m:Movie)
        |RETURN p.Name AS N, m.Title AS T""".stripMargin)
    assert(r2.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Meg Ryan", "Sleepless in Seattle")))
  }

  test("property map composes with an explicit WHERE (conjunction)") {
    val r = rows(
      """MATCH (p:Person {Name: 'Tom Hanks'})-[a:ACTED_IN]->(m:Movie)
        |WHERE m.Released > 1994
        |RETURN m.Title AS T ORDER BY T""".stripMargin)
    assert(r.map(_.getString(0)) == Seq("Apollo 13", "You've Got Mail"))
  }

  test("property map inside OPTIONAL MATCH keeps left rows (pattern-time filter)") {
    val r = rows(
      """MATCH (p:Person)
        |OPTIONAL MATCH (p)-[:ACTED_IN {Roles: 'Jim Lovell'}]->(m:Movie)
        |RETURN p.Name AS N, m.Title AS T ORDER BY N""".stripMargin)
    val got = r.map(x => (x.getString(0), Option(x.getString(1))))
    assert(got.toMap == Map(
      "Tom Hanks" -> Some("Apollo 13"),
      "Meg Ryan" -> None, "Kevin Bacon" -> None,
      "Rob Reiner" -> None, "Jessica Thompson" -> None))
  }

  test("property map scopes inside EXISTS and pattern comprehensions") {
    val r = rows(
      """MATCH (p:Person)
        |WHERE EXISTS { (p)-[:ACTED_IN {Roles: 'Joe Fox'}]->(:Movie) }
        |RETURN p.Name AS N""".stripMargin)
    assert(r.map(_.getString(0)) == Seq("Tom Hanks"))
    val r2 = rows(
      """MATCH (p:Person {Name: 'Tom Hanks'})
        |RETURN [(p)-[:ACTED_IN {Roles: 'Jim Lovell'}]->(x:Movie) |
        |  x.Title] AS TS""".stripMargin)
    assert(r2.map(_.getSeq[String](0)) == Seq(Seq("Apollo 13")))
  }

  test("property map against a null property matches nothing (Cypher 3VL)") {
    // p4/p5 have Born = null; equality with null is null, never true
    val r = rows(
      "MATCH (p:Person {Born: 1956}) RETURN p.Name AS N")
    assert(r.map(_.getString(0)) == Seq("Tom Hanks"))
  }

  test("property map typed rejections: duplicates, var-length, alternation, reserved alias") {
    intercept[CypherSyntaxException](rows(
      "MATCH (p:Person {Name: 'a', Name: 'b'}) RETURN p.Name AS N"))
    // a var-length map is now a PER-HOP predicate (round 10) — an
    // unknown property is the ordinary binding error
    intercept[CypherBindingException](rows(
      """MATCH (p:Person)-[:FOLLOWS*1..2 {x: 1}]->(q:Person)
        |RETURN q.Name AS N""".stripMargin))
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)-[:ACTED_IN|REVIEWED {Rating: 95}]->(m:Movie)
        |RETURN m.Title AS T""".stripMargin))
    intercept[CypherNotSupportedException](rows(
      "MATCH (__pm0:Person) RETURN __pm0.Name AS N"))
    intercept[CypherNotSupportedException](rows(
      "MATCH (__x:Person) RETURN __x.Name AS N"))
  }

  // ---------------------------------------------------- multi-label

  test("multi-label resolves via schema sub-labels, order-independent") {
    val r = rows("MATCH (p:Person:Boomer) RETURN p.Name AS N")
    assert(r.map(_.getString(0)) == Seq("Tom Hanks"))
    // sub-label first: the set resolves the same way
    val r2 = rows("MATCH (p:Boomer:Person) RETURN p.Name AS N")
    assert(r2.map(_.getString(0)) == Seq("Tom Hanks"))
    // in a traversal, composed with a property map on the other end
    val r3 = rows(
      """MATCH (p:Person:Boomer)-[:ACTED_IN]->(m:Movie:NinetiesClassic)
        |RETURN m.Title AS T""".stripMargin)
    assert(r3.map(_.getString(0)) == Seq("Sleepless in Seattle"))
  }

  test("multi-label in OPTIONAL MATCH keeps left rows (pattern-time filter)") {
    val r = rows(
      """MATCH (m:Movie)
        |OPTIONAL MATCH (p:Person:Boomer)-[:ACTED_IN]->(m)
        |RETURN m.Title AS T, p.Name AS N ORDER BY T""".stripMargin)
    val got = r.map(x => (x.getString(0), Option(x.getString(1))))
    assert(got == Seq(
      ("Apollo 13", Some("Tom Hanks")),
      ("Sleepless in Seattle", Some("Tom Hanks")),
      ("You've Got Mail", Some("Tom Hanks"))))
  }

  test("multi-label typed rejections name the unsupported schema shape") {
    val e1 = intercept[CypherBindingException](rows(
      "MATCH (x:Person:Movie) RETURN x.Name AS N"))
    assert(e1.getMessage.contains("no schema backing"))
    val e2 = intercept[CypherBindingException](rows(
      "MATCH (x:Person:Nope) RETURN x.Name AS N"))
    assert(e2.getMessage.contains("no schema backing"))
    // a lone sub-label is NOT a primary label (the set form is required)
    intercept[CypherBindingException](rows(
      "MATCH (x:Boomer) RETURN x.Name AS N"))
  }

  // ------------------------------------ unbounded var-length (reach)

  test("[*] / [*1..] reachable-pair semantics over a self-type edge") {
    // FOLLOWS: p5->p1, p5->p2, p1->p2; the 2-hop p5->p1->p2 dedupes
    // into the existing (p5, p2) pair — one row per reachable pair
    val r = rows(
      """MATCH (a:Person)-[:FOLLOWS*]->(b:Person)
        |RETURN a.Name AS A, b.Name AS B ORDER BY A, B""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getString(1))) == Seq(
      ("Jessica Thompson", "Meg Ryan"),
      ("Jessica Thompson", "Tom Hanks"),
      ("Tom Hanks", "Meg Ryan")))
    // [*1..] is the same form; reversed arrow swaps roles
    val r2 = rows(
      """MATCH (b:Person)<-[:FOLLOWS*1..]-(a:Person)
        |RETURN a.Name AS A, b.Name AS B ORDER BY A, B""".stripMargin)
    assert(r2.map(x => (x.getString(0), x.getString(1))) == r.map(x =>
      (x.getString(0), x.getString(1))))
  }

  test("unbounded reach composes with fixed hops, WHERE and aggregation") {
    val r = rows(
      """MATCH (a:Person)-[:FOLLOWS*]->(b:Person)-[:ACTED_IN]->(m:Movie)
        |WHERE a.Name = 'Jessica Thompson'
        |RETURN m.Title AS T, count(b) AS n ORDER BY T""".stripMargin)
    // reachable from Jessica: Tom (3 movies), Meg (2 movies)
    assert(r.map(x => (x.getString(0), x.getLong(1))) == Seq(
      ("Apollo 13", 1L), ("Sleepless in Seattle", 2L),
      ("You've Got Mail", 2L)))
  }

  // ------------------------------------ alternation on bound variables

  test("label alternation (n:A|B) unions sub-labels of one owning node") {
    val r = rows(
      "MATCH (p:Boomer|Sixties) RETURN p.Name AS N ORDER BY N")
    assert(r.map(_.getString(0)) == Seq("Meg Ryan", "Tom Hanks"))
    // an alternative that IS the primary covers the whole table
    val all = rows(
      "MATCH (p:Boomer|Person) RETURN p.Name AS N ORDER BY N")
    assert(all.size == 5)
    // unknown alternative → typed rejection
    intercept[CypherBindingException](rows(
      "MATCH (x:Boomer|Nope) RETURN x.Name AS N"))
    // mixing intersection and alternation is a parse rejection
    intercept[CypherNotSupportedException](rows(
      "MATCH (x:Person:Boomer|Sixties) RETURN x.Name AS N"))
  }

  test("cross-table label alternation (n:A|B) branches and unions") {
    // union property namespace, null-filled per branch
    val r = rows(
      """MATCH (x:Person|Movie)
        |RETURN x.Name AS N, x.Title AS T ORDER BY N, T""".stripMargin)
    assert(r.size == 8) // 5 people + 3 movies
    assert(r.count(x => !x.isNullAt(0) && x.isNullAt(1)) == 5)
    assert(r.count(x => x.isNullAt(0) && !x.isNullAt(1)) == 3)
    // sub-label alternatives across tables keep their discriminators
    val subs = rows(
      """MATCH (x:Boomer|NinetiesClassic)
        |RETURN x.Name AS N, x.Title AS T ORDER BY N""".stripMargin)
    assert(subs.map(x => (Option(x.getString(0)), Option(x.getString(1))))
      == Seq((None, Some("Sleepless in Seattle")),
             (Some("Tom Hanks"), None)))
    // a traversal prunes the branches that cannot resolve the edge
    val acted = rows(
      """MATCH (x:Person|Movie)-[:ACTED_IN]->(m:Movie)
        |RETURN count(*) AS n""".stripMargin)
    assert(acted.head.getLong(0) == 6L) // Person branch only
    val directedIn = rows(
      """MATCH (d:Person)-[:DIRECTED]->(x:Person|Movie)
        |RETURN d.Name AS N, x.Title AS T""".stripMargin)
    assert(directedIn.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Rob Reiner", "Sleepless in Seattle")))
    // re-matching the merged binding in a later pattern is a typed
    // rejection (no single backing table to join back to)
    intercept[CypherNotSupportedException](rows(
      """MATCH (x:Person|Movie) WITH x
        |MATCH (x)-[:ACTED_IN]->(m:Movie) RETURN m.Title AS T""".stripMargin))
  }

  test("cross-table alternation identity: colliding ids never conflate") {
    import spark.implicits._
    val cat = new GraphCatalog(
      GraphSchema(
        nodes = Seq(NodeDef("A", "id", Seq("v"), "ta"),
                    NodeDef("B", "id", Seq("w"), "tb")),
        edges = Seq.empty),
      Map(
        "ta" -> Seq((1, "a1"), (2, "a2")).toDF("id", "v"),
        "tb" -> Seq((2, "b2"), (3, "b3")).toDF("id", "w"))(_))
    val s = new CypherSession(spark, cat).extended
    // ids 2 collide across tables: tagged identity keeps them distinct
    val r = s.run(
      """MATCH (x:A|B)
        |RETURN count(*) AS n, count(DISTINCT x) AS nd""".stripMargin)
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    // DISTINCT over the entity keeps all four as well
    assert(s.run("MATCH (x:A|B) WITH DISTINCT x RETURN count(*) AS n")
      .collect().head.getLong(0) == 4L)
    // implicit grouping by the entity: one group per tagged id
    assert(s.run(
      """MATCH (x:A|B) RETURN count(*) AS n, x.id AS i, x.v AS v
        |ORDER BY n""".stripMargin).collect().length == 4)
  }

  // --------------------- OPTIONAL MATCH over branch-unioned patterns

  test("OPTIONAL MATCH joins the UNION of branches (no spurious nulls)") {
    // p1 acts in 3 movies but reviewed none: the REVIEWED branch must
    // NOT contribute a null row (the pattern as a whole matched)
    val r = rows(
      """MATCH (p:Person)
        |OPTIONAL MATCH (p)-[r:ACTED_IN|REVIEWED]->(m:Movie)
        |RETURN p.Name AS N, count(*) AS rows_, count(m.id) AS matched
        |ORDER BY N""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r == Seq(
      ("Jessica Thompson", 2L, 2L), // 2 reviews, 0 actings
      ("Kevin Bacon", 1L, 1L),
      ("Meg Ryan", 2L, 2L),
      ("Rob Reiner", 1L, 0L),       // matched NOTHING → exactly one null row
      ("Tom Hanks", 3L, 3L)))       // 3 actings, 0 reviews — no null row
    // optional var-length: p1 reaches p2 at length 1 only; the empty
    // length-2 branch must not add a null row
    val vl = rows(
      """MATCH (p:Person) WHERE p.id = 'p1'
        |OPTIONAL MATCH (p)-[:FOLLOWS*1..2]->(q:Person)
        |RETURN count(*) AS rows_, count(q.id) AS matched""".stripMargin).head
    assert(vl.getLong(0) == 1L && vl.getLong(1) == 1L)
    // and a left row matching at BOTH lengths keeps both rows
    val vl2 = rows(
      """MATCH (p:Person) WHERE p.id = 'p5'
        |OPTIONAL MATCH (p)-[:FOLLOWS*1..2]->(q:Person)
        |RETURN count(*) AS rows_""".stripMargin).head
    assert(vl2.getLong(0) == 3L) // p5→p1, p5→p2, p5→p1→p2
  }

  test("OPTIONAL branch-union WHERE filters the optional side pre-join") {
    val r = rows(
      """MATCH (p:Person)
        |OPTIONAL MATCH (p)-[r:ACTED_IN|REVIEWED]->(m:Movie)
        |WHERE r.Rating >= 90
        |RETURN p.Name AS N, count(*) AS rows_, count(m.id) AS matched
        |ORDER BY N""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    // only Jessica's 95-rated review survives; everyone else keeps
    // exactly one null row (WHERE belongs to the join, not the left)
    assert(r == Seq(
      ("Jessica Thompson", 1L, 1L),
      ("Kevin Bacon", 1L, 0L),
      ("Meg Ryan", 1L, 0L),
      ("Rob Reiner", 1L, 0L),
      ("Tom Hanks", 1L, 0L)))
    // cross-table alternation inside OPTIONAL MATCH
    val x = rows(
      """MATCH (m:Movie)
        |OPTIONAL MATCH (y:Person|Movie)-[:REVIEWED]->(m)
        |RETURN m.Title AS T, count(*) AS rows_, count(y.id) AS matched
        |ORDER BY T""".stripMargin)
      .map(r2 => (r2.getString(0), r2.getLong(1), r2.getLong(2)))
    assert(x == Seq(
      ("Apollo 13", 1L, 0L),
      ("Sleepless in Seattle", 1L, 1L),
      ("You've Got Mail", 1L, 1L)))
  }

  test("bound rel alternation [r:A|B] unions null-filled property namespaces") {
    val r = rows(
      """MATCH (p:Person)-[r:ACTED_IN|REVIEWED]->(m:Movie)
        |RETURN p.Name AS N, m.Title AS T, r.Roles AS RO, r.Rating AS RA
        |ORDER BY N, T""".stripMargin)
    assert(r.size == 8) // 6 actings + 2 reviews
    val jess = r.filter(_.getString(0) == "Jessica Thompson")
    assert(jess.forall(x => x.isNullAt(2) && !x.isNullAt(3))) // Roles null
    val toms = r.filter(_.getString(0) == "Tom Hanks")
    assert(toms.forall(x => !x.isNullAt(2) && x.isNullAt(3))) // Rating null
    // WHERE over an alternation-only property: the branch whose type
    // lacks it contributes no rows (≡ null-comparison filtering)
    val hi = rows(
      """MATCH (p:Person)-[r:ACTED_IN|REVIEWED]->(m:Movie)
        |WHERE r.Rating >= 90
        |RETURN p.Name AS N, m.Title AS T""".stripMargin)
    assert(hi.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Jessica Thompson", "Sleepless in Seattle")))
    // three-way with a property-less alternative
    val three = rows(
      """MATCH (p:Person)-[r:ACTED_IN|REVIEWED|DIRECTED]->(m:Movie)
        |RETURN count(r) AS n""".stripMargin)
    assert(three.head.getLong(0) == 9L)
    // branch endpoints must still agree on labels
    intercept[CypherException](rows(
      "MATCH (p:Person)-[r:ACTED_IN|FOLLOWS]->(x) RETURN p.Name AS N"))
  }

  // ------------------------------------ terminal MERGE (extension)

  test("MERGE: matched keys update reading OLD values, rest pass through") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Born >= 1958
        |WITH p.id AS pid
        |MERGE (n:Person {id: pid})
        |ON MATCH SET n.Name = n.Name + '!', n.Born = n.Born + 1
        |ON CREATE SET n.Name = 'never'""".stripMargin)
      .map(x => (x.getString(0), x.getString(1),
        if (x.isNullAt(2)) None else Some(x.getInt(2)))).sortBy(_._1)
    assert(r.size == 5) // snapshot size unchanged: no absent keys
    val byId = r.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId("p3") == (("Kevin Bacon!", Some(1959)))) // matched
    assert(byId("p2") == (("Meg Ryan!", Some(1962))))    // matched
    assert(byId("p1") == (("Tom Hanks", Some(1956))))    // untouched
  }

  test("MERGE: absent keys insert via ON CREATE SET; standalone feed") {
    val r = rows(
      "MERGE (n:Person {id: 'p9'}) ON CREATE SET n.Name = 'Nine'")
      .map(x => (x.getString(0), x.getString(1),
        if (x.isNullAt(2)) None else Some(x.getInt(2)))).sortBy(_._1)
    assert(r.size == 6)
    assert(r.last == (("p9", "Nine", None))) // unassigned Born -> null
  }

  test("MERGE node {map}: the map joins the match key (Neo4j id+map)") {
    // id + matching map value -> ON MATCH fires on that row only
    val r = rows(
      """MERGE (n:Person {id: 'p1', Name: 'Tom Hanks'})
        |ON MATCH SET n.Born = 2000""".stripMargin)
      .map(x => (x.getString(0), x.getString(1),
        if (x.isNullAt(2)) None else Some(x.getInt(2)))).sortBy(_._1)
    assert(r.size == 5)
    assert(r.head == (("p1", "Tom Hanks", Some(2000))))
    assert(r(1) == (("p2", "Meg Ryan", Some(1961)))) // untouched
    // id exists but the map value differs -> no match, a SECOND row
    // under the same id is created with the map stamped (Neo4j's
    // match-on-map semantics; duplicate-id-lite contract), and the
    // original row passes through untouched
    val r2 = rows(
      """MERGE (n:Person {id: 'p2', Name: 'Not Meg'})
        |ON CREATE SET n.Born = 1999""".stripMargin)
      .filter(_.getString(0) == "p2")
      .map(x => (x.getString(1), x.getInt(2))).sortBy(_._1)
    assert(r2 == Seq(("Meg Ryan", 1961), ("Not Meg", 1999)))
    // read-back binds the post-merge face: created rows carry the map
    val r3 = rows(
      """MERGE (n:Person {id: 'p9', Name: 'Nine', Born: 1990})
        |RETURN n.id AS i, n.Name AS nm, n.Born AS b""".stripMargin)
    assert(r3.map(x => (x.getString(0), x.getString(1), x.getInt(2))) ==
      Seq(("p9", "Nine", 1990)))
  }

  test("MERGE: duplicate feed keys reduce to one deterministic winner") {
    val r = rows(
      """MATCH (p:Person) WITH 'px' AS k, p.Name AS nm
        |MERGE (n:Person {id: k})
        |ON CREATE SET n.Name = nm""".stripMargin)
      .filter(_.getString(0) == "px")
    // struct-max winner over (k, nm): lexicographically greatest Name
    assert(r.map(_.getString(1)) == Seq("Tom Hanks"))
  }

  test("MERGE typed rejections pin the contract") {
    // the map must bind the id property somewhere (round 13: extra
    // entries are legal, but identity still starts at the id)
    intercept[CypherBindingException](rows(
      "MERGE (n:Person {Name: 'x'})"))
    // map-key hygiene (round 13): duplicate key, unknown property,
    // aggregate, self-read, ON CREATE reassigning a map-keyed prop
    intercept[CypherBindingException](rows(
      "MERGE (n:Person {id: 'p1', id: 'p2'})"))
    intercept[CypherBindingException](rows(
      "MERGE (n:Person {id: 'p1', Nope: 1})"))
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)
        |MERGE (n:Person {id: 'p1', Born: count(p)})""".stripMargin))
    intercept[CypherBindingException](rows(
      "MERGE (n:Person {id: 'p1', Name: n.Name})"))
    intercept[CypherBindingException](rows(
      """MERGE (n:Person {id: 'p1', Name: 'x'})
        |ON CREATE SET n.Name = 'y'""".stripMargin))
    // id is not reassignable
    intercept[CypherBindingException](rows(
      "MERGE (n:Person {id: 'p1'}) ON MATCH SET n.id = 'z'"))
    // unknown property
    intercept[CypherBindingException](rows(
      "MERGE (n:Person {id: 'p1'}) ON MATCH SET n.Nope = 1"))
    // ON CREATE SET cannot read the merge alias
    intercept[CypherBindingException](rows(
      "MERGE (n:Person {id: 'p1'}) ON CREATE SET n.Name = n.Name"))
    // a MERGE chains through a WITH (round 11) but never a bare
    // MATCH; no UNION around it; not inside CALL; one update per query
    intercept[CypherNotSupportedException](rows(
      "MERGE (n:Person {id: 'p1'}) MATCH (m:Movie) RETURN m.id AS i"))
    intercept[CypherNotSupportedException](rows(
      """MERGE (n:Person {id: 'p1'}) WITH n.id AS x
        |MATCH (p:Person) SET p.Born = 1 RETURN x""".stripMargin))
    intercept[CypherNotSupportedException](rows(
      "MERGE (n:Person {id: 'x'}) UNION MERGE (n:Person {id: 'y'})"))
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person) CALL { MERGE (z:Person {id: 'x'}) }
        |RETURN p.Name AS N""".stripMargin))
    // merge alias may not collide with the scope
    intercept[CypherBindingException](rows(
      "MATCH (n:Person) MERGE (n:Person {id: 'p1'})"))
    // no aggregates in SET — aggregate in a WITH first
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person) WITH p.id AS pid
        |MERGE (n:Person {id: pid})
        |ON MATCH SET n.Born = count(pid)""".stripMargin))
  }

  // ------------------------------------ terminal CREATE (extension)

  test("CREATE: appends one row per feed row; unassigned props null") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Born >= 1958
        |WITH p.id AS pid, p.Name AS nm
        |CREATE (n:Person {id: 'new_' + pid, Name: nm + ' Jr.'})""".stripMargin)
      .map(x => (x.getString(0), x.getString(1),
        if (x.isNullAt(2)) None else Some(x.getInt(2)))).sortBy(_._1)
    assert(r.size == 7) // 5 snapshot + 2 created (p2 1961, p3 1958)
    val byId = r.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId("new_p2") == (("Meg Ryan Jr.", None)))
    assert(byId("new_p3") == (("Kevin Bacon Jr.", None)))
    assert(byId("p1") == (("Tom Hanks", Some(1956)))) // untouched
  }

  test("CREATE: standalone literal row; multi-property map; null id drops") {
    val r = rows(
      "CREATE (n:Person {id: 'p9', Name: 'Nine', Born: 1999})")
      .map(x => (x.getString(0), x.getString(1),
        if (x.isNullAt(2)) None else Some(x.getInt(2)))).sortBy(_._1)
    assert(r.size == 6)
    assert(r.last == (("p9", "Nine", Some(1999))))
    // a null id has no identity: the row drops, snapshot unchanged
    val n = rows(
      """MATCH (p:Person) OPTIONAL MATCH (p)-[f:FOLLOWS]->(q:Person)
        |WITH q.id AS qid
        |CREATE (n:Person {id: qid})""".stripMargin)
    // follows rows: p1→p2, p5→p1, p5→p2 (3 created); p2/p3/p4 carry a
    // null qid and create nothing
    assert(n.size == 5 + 3)
  }

  test("CREATE is unconditional: duplicate feed rows each append") {
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |WITH p.id AS pid, m.Title AS t
        |CREATE (n:Person {id: 'dup', Name: t})""".stripMargin)
      .filter(_.getString(0) == "dup")
    // p1 acts in 3 movies, p2 in 2, p3 in 1 → six 'dup' rows (INSERT
    // semantics: uniqueness is the caller's contract)
    assert(r.size == 6)
  }

  test("CREATE typed rejections pin the contract") {
    // map must bind the id property
    intercept[CypherBindingException](rows(
      "CREATE (n:Person {Name: 'x'})"))
    // unknown property
    intercept[CypherBindingException](rows(
      "CREATE (n:Person {id: 'z', Nope: 1})"))
    // duplicate assignment
    intercept[CypherBindingException](rows(
      "CREATE (n:Person {id: 'z', Name: 'a', Name: 'b'})"))
    // the map cannot read the created alias
    intercept[CypherBindingException](rows(
      "CREATE (n:Person {id: 'z', Name: n.Name})"))
    // no aggregates in the map
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person) WITH p.id AS pid
        |CREATE (n:Person {id: count(pid)})""".stripMargin))
    // alias collision with scope
    intercept[CypherBindingException](rows(
      "MATCH (n:Person) CREATE (n:Person {id: 'z'})"))
    // a CREATE chains through a WITH (round 11) but never a bare
    // MATCH; no UNION around; not inside CALL
    intercept[CypherNotSupportedException](rows(
      "CREATE (n:Person {id: 'z'}) MATCH (m:Movie) RETURN m.id AS i"))
    intercept[CypherNotSupportedException](rows(
      "CREATE (n:Person {id: 'x'}) UNION CREATE (n:Person {id: 'y'})"))
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person) CALL { CREATE (z:Person {id: 'x'}) }
        |RETURN p.Name AS N""".stripMargin))
    // multi-pattern CREATE (rel CREATE with id maps lifts round 11)
    intercept[CypherNotSupportedException](rows(
      "CREATE (a:Person {id: 'x'}), (b:Person {id: 'y'})"))
  }

  test("CREATE rel with id-map endpoints: edge appended, node faces " +
      "read back") {
    // MATCH-less: one literal feed row; the edge keys by the id maps,
    // the node tables are untouched (one query, one snapshot)
    val r = rows(
      "CREATE (a:Person {id: 'px'})-[:FOLLOWS]->(b:Person {id: 'p1'})")
      .map(x => (x.getString(0), x.getString(1))).sortBy(identity)
    assert(r == Seq(("p1", "p2"), ("p5", "p1"), ("p5", "p2"),
      ("px", "p1")))
    // mixed form + RETURN: the id-map endpoint's face is id-only when
    // no node row carries the id; the rel map still assigns
    val r2 = rows(
      """MATCH (m:Movie) WHERE m.id = 'm2'
        |CREATE (p:Person {id: 'p9'})-[r:REVIEWED {Rating: 42}]->(m)
        |RETURN p.id AS pi, p.Name AS nm, r.Rating AS rt""".stripMargin)
      .head
    assert(r2.getString(0) == "p9" && r2.isNullAt(1) && r2.getInt(2) == 42)
    // ... and a stored face when the id exists; chains compose too
    val r3 = rows(
      """CREATE (a:Person {id: 'px'})-[:FOLLOWS]->(b:Person {id: 'p1'})
        |WITH b
        |MATCH (b)-[:ACTED_IN]->(m:Movie)
        |RETURN b.Name AS nm, count(m) AS n""".stripMargin).head
    assert(r3.getString(0) == "Tom Hanks" && r3.getLong(1) == 3L)
    // the endpoint map binds exactly the id — more is a typed parse
    // rejection (the node row is NOT created; no silent prop drop),
    // a non-id key a typed binding rejection
    intercept[CypherNotSupportedException](rows(
      """CREATE (a:Person {id: 'x', Name: 'n'})
        |-[:FOLLOWS]->(b:Person {id: 'y'})""".stripMargin))
    intercept[CypherBindingException](rows(
      "CREATE (a:Person {Name: 'x'})-[:FOLLOWS]->(b:Person {id: 'y'})"))
  }

  // -------------------------- CREATE/MERGE … RETURN (read-back)

  test("CREATE ... RETURN reads the created rows, not the snapshot") {
    val r = rows(
      """MATCH (p:Person) WHERE p.Born >= 1958
        |WITH p.id AS pid, p.Name AS nm
        |CREATE (n:Person {id: 'new_' + pid, Name: nm + ' Jr.'})
        |RETURN n.id AS i, n.Name AS s, n.Born AS b, nm AS src
        |ORDER BY i""".stripMargin)
    assert(r.size == 2) // ONLY the created rows — never the snapshot
    assert(r.map(_.getString(0)) == Seq("new_p2", "new_p3"))
    assert(r.map(_.getString(1)) == Seq("Meg Ryan Jr.", "Kevin Bacon Jr."))
    assert(r.forall(_.isNullAt(2)))       // unassigned prop reads null
    assert(r.map(_.getString(3)) == Seq("Meg Ryan", "Kevin Bacon"))
  }

  test("CREATE ... RETURN: null ids drop; aggregates compose") {
    val r = rows(
      """MATCH (p:Person) OPTIONAL MATCH (p)-[f:FOLLOWS]->(q:Person)
        |WITH q.id AS qid
        |CREATE (n:Person {id: qid})
        |RETURN count(n.id) AS c""".stripMargin)
    assert(r.map(_.getLong(0)) == Seq(3)) // null-qid rows created nothing
  }

  test("MERGE ... RETURN reads the post-merge entity per feed row") {
    val r = rows(
      """MATCH (p:Person) WHERE p.id IN ['p1', 'zz']
        |WITH 'p1' AS k, 1900 AS yr
        |MERGE (n:Person {id: k})
        |ON MATCH SET n.Born = n.Born + 1
        |ON CREATE SET n.Born = yr
        |RETURN n.id AS i, n.Name AS s, n.Born AS b""".stripMargin)
    // matched key p1: the RETURN sees the UPDATED entity (1956 + 1)
    assert(r.size == 1)
    assert(r.head.getString(0) == "p1")
    assert(r.head.getString(1) == "Tom Hanks")
    assert(r.head.getInt(2) == 1957)
    val c = rows(
      """MATCH (p:Person) WHERE p.id = 'p1'
        |WITH 'p9' AS k
        |MERGE (n:Person {id: k}) ON CREATE SET n.Name = 'Nine'
        |RETURN n.id AS i, n.Name AS s, n.Born AS b""".stripMargin)
    // absent key p9: the RETURN sees the ON CREATE row
    assert(c.size == 1)
    assert(c.head.getString(0) == "p9")
    assert(c.head.getString(1) == "Nine")
    assert(c.head.isNullAt(2))
  }

  test("MERGE ... RETURN: one row per winner-deduped key; agg read-back") {
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |WITH p.id AS k
        |MERGE (n:Person {id: k}) ON MATCH SET n.Name = 'seen'
        |RETURN count(n.id) AS c, min(n.Name) AS s""".stripMargin)
    // 6 acted-in rows over 3 distinct persons → 3 winner rows
    assert(r.head.getLong(0) == 3)
    assert(r.head.getString(1) == "seen")
  }

  // ----------------- relationship CREATE / MERGE (edge snapshots)

  test("CREATE (a)-[:T {…}]->(b): appends edge rows to the snapshot") {
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |WHERE m.Title = 'Apollo 13'
        |CREATE (p)-[:REVIEWED {Summary: 'Cast', Rating: 70}]->(m)"""
        .stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getString(2),
        x.getInt(3))).sortBy(t => (t._1, t._2))
    // snapshot (p5,m1),(p5,m3) + created (p1,m2),(p3,m2)
    assert(r.size == 4)
    assert(r.contains(("p1", "m2", "Cast", 70)))
    assert(r.contains(("p3", "m2", "Cast", 70)))
    assert(r.contains(("p5", "m1", "Loved it", 95))) // untouched
  }

  test("CREATE rel: incoming arrow swaps endpoints; null endpoint " +
      "drops; RETURN reads the created edge") {
    val r = rows(
      """MATCH (p:Person) OPTIONAL MATCH (p)-[:DIRECTED]->(m:Movie)
        |WITH p, m
        |CREATE (m)<-[r:REVIEWED {Rating: 50}]-(p)
        |RETURN p.id AS i, m.id AS mi, r.Rating AS rt,
        |       r.Summary AS s""".stripMargin)
    // only p4 directed a movie; the other 4 rows carry a null m → drop
    assert(r.size == 1)
    assert(r.head.getString(0) == "p4")
    assert(r.head.getString(1) == "m1")
    assert(r.head.getInt(2) == 50)
    assert(r.head.isNullAt(3)) // unassigned edge prop reads null
  }

  test("MERGE (a)-[r:T]->(b): matched pairs update, absent insert, " +
      "untouched pass") {
    val r = rows(
      """MATCH (p:Person) WHERE p.id IN ['p5', 'p3']
        |MATCH (m:Movie) WHERE m.id = 'm1'
        |MERGE (p)-[r:REVIEWED]->(m)
        |ON MATCH SET r.Rating = r.Rating + 1
        |ON CREATE SET r.Summary = 'new', r.Rating = 10""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getString(2),
        x.getInt(3))).sortBy(t => (t._1, t._2))
    assert(r == Seq(
      ("p3", "m1", "new", 10),        // created pair
      ("p5", "m1", "Loved it", 96),   // matched: ON MATCH reads OLD
      ("p5", "m3", "Fun", 85)))       // untouched
  }

  test("MERGE rel ... RETURN reads the post-merge edge per feed pair") {
    val r = rows(
      """MATCH (p:Person) WHERE p.id IN ['p5', 'p3']
        |MATCH (m:Movie) WHERE m.id = 'm1'
        |MERGE (p)-[r:REVIEWED]->(m)
        |ON MATCH SET r.Rating = r.Rating + 1
        |ON CREATE SET r.Summary = 'new', r.Rating = 10
        |RETURN p.id AS i, r.Summary AS s, r.Rating AS rt
        |ORDER BY i""".stripMargin)
    assert(r.size == 2) // never the untouched snapshot rows
    assert(r.map(x => (x.getString(0), x.getString(1), x.getInt(2))) ==
      Seq(("p3", "new", 10), ("p5", "Loved it", 96)))
  }

  test("MERGE rel {map}: the map joins the match key (Neo4j pair+map)") {
    // (p5,m1,Rating=95) exists → matched; (p3,m1,95) absent → created
    // with the map value stamped; (p5,m3,85) untouched
    val r = rows(
      """MATCH (p:Person) WHERE p.id IN ['p5', 'p3']
        |MATCH (m:Movie) WHERE m.id = 'm1'
        |MERGE (p)-[r:REVIEWED {Rating: 95}]->(m)
        |ON MATCH SET r.Summary = 'bumped'
        |ON CREATE SET r.Summary = 'fresh'""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getString(2),
        x.getInt(3))).sortBy(t => (t._1, t._2))
    assert(r == Seq(
      ("p3", "m1", "fresh", 95),
      ("p5", "m1", "bumped", 95),
      ("p5", "m3", "Fun", 85)))
    // same pair, DIFFERENT map value → a SECOND edge row is created;
    // the existing (p5,m1,95) edge stays untouched
    val r2 = rows(
      """MATCH (p:Person) WHERE p.id = 'p5'
        |MATCH (m:Movie) WHERE m.id = 'm1'
        |MERGE (p)-[r:REVIEWED {Rating: 50}]->(m)
        |ON CREATE SET r.Summary = 'second edge'""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getInt(3)))
      .sortBy(identity)
    assert(r2 == Seq(("p5", "m1", 50), ("p5", "m1", 95), ("p5", "m3", 85)))
    // read-back: RETURN sees the post-merge edge, map value included
    val r3 = rows(
      """MATCH (p:Person) WHERE p.id IN ['p5', 'p3']
        |MATCH (m:Movie) WHERE m.id = 'm1'
        |MERGE (p)-[r:REVIEWED {Rating: 95}]->(m)
        |ON CREATE SET r.Summary = 'fresh'
        |RETURN p.id AS i, r.Rating AS rt, r.Summary AS s
        |ORDER BY i""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1), x.getString(2)))
    assert(r3 == Seq(("p3", 95, "fresh"), ("p5", 95, "Loved it")))
    // a NULL map value drops the feed row (no identity) — nothing
    // matches, nothing creates, snapshot passes through
    val r4 = rows(
      """MATCH (p:Person) WHERE p.id = 'p5'
        |MATCH (m:Movie) WHERE m.id = 'm1'
        |MERGE (p)-[r:REVIEWED {Rating: p.Born}]->(m)""".stripMargin)
    assert(r4.size == 2) // p5.Born is null → the 2 original edges only
  }

  test("pair-keyed SET/DELETE fail typed on duplicated (src, snk) " +
      "pairs (round 14)") {
    import spark.implicits._
    // reviewed with a PARALLEL (p5, m1) pair — the state a map-keyed
    // MERGE with a second Rating leaves behind (multigraph-lite)
    val base = MovieFixture.catalog(spark)
    val dupReviewed = Seq(
      ("p5", "m1", "Loved it", 95),
      ("p5", "m1", "Second look", 50),
      ("p5", "m3", "Fun", 85)
    ).toDF("_vertexId", "_sink", "Summary", "Rating")
    val cat = new GraphCatalog(MovieFixture.schema, {
      case "reviewed" => dupReviewed
      case "person"   => base.nodeDf("Person")
      case "movie"    => base.nodeDf("Movie")
      case other => throw new IllegalArgumentException(other)
    })
    val s = new CypherSession(spark, cat).extended
    def dupMsg(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .exists(x => Option(x.getMessage)
          .exists(_.contains("duplicated (src, snk)")))
    // SET matching the duplicated pair raises at execution — the
    // winner-dedup would silently drop the sibling row otherwise
    val ex1 = intercept[Exception](s.run(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie) WHERE m.id = 'm1'
        |SET r.Rating = 0""".stripMargin).collect())
    assert(dupMsg(ex1))
    // DELETE likewise (it would remove BOTH parallel rows)
    val ex2 = intercept[Exception](s.run(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie) WHERE m.id = 'm1'
        |DELETE r""".stripMargin).collect())
    assert(dupMsg(ex2))
    // ops whose MATCH avoids the duplicated pair run clean
    val okSet = s.run(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie) WHERE m.id = 'm3'
        |SET r.Rating = 0""".stripMargin).collect()
    assert(okSet.length == 3 &&
      okSet.count(x => x.getString(1) == "m3" && x.getInt(3) == 0) == 1)
    val okDel = s.run(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie) WHERE m.id = 'm3'
        |DELETE r""".stripMargin).collect()
    assert(okDel.length == 2 && okDel.forall(_.getString(1) == "m1"))
  }

  test("pair-keyed SET/DELETE raise when the WHERE matches ONE of two " +
      "siblings (round 16; ADVICE-r15 #1)") {
    import spark.implicits._
    // the round-15 feed-only fold's blind spot: the match binds a
    // single distinct tuple per pair, yet the pair-keyed anti-join
    // would touch BOTH snapshot rows — must raise, not silently
    // drop/delete the unmatched sibling
    val base = MovieFixture.catalog(spark)
    val dupReviewed = Seq(
      ("p5", "m1", "Loved it", 95),
      ("p5", "m1", "Second look", 50),
      ("p5", "m3", "Fun", 85)
    ).toDF("_vertexId", "_sink", "Summary", "Rating")
    val cat = new GraphCatalog(MovieFixture.schema, {
      case "reviewed" => dupReviewed
      case "person"   => base.nodeDf("Person")
      case "movie"    => base.nodeDf("Movie")
      case other      => throw new IllegalArgumentException(other)
    })
    val s = new CypherSession(spark, cat).extended
    def dupMsg(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .exists(x => Option(x.getMessage)
          .exists(_.contains("duplicated (src, snk)")))
    // WHERE addresses exactly one sibling — feed has ONE distinct
    // tuple for the pair, but the snapshot holds two
    val ex1 = intercept[Exception](s.run(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |WHERE m.id = 'm1' AND r.Rating = 95
        |DELETE r""".stripMargin).collect())
    assert(dupMsg(ex1))
    val ex2 = intercept[Exception](s.run(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |WHERE m.id = 'm1' AND r.Rating = 95
        |SET r.Summary = 'only this one'""".stripMargin).collect())
    assert(dupMsg(ex2))
    // the non-duplicated pair stays addressable through the same WHERE
    val ok = s.run(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |WHERE m.id = 'm3' AND r.Rating = 85
        |DELETE r""".stripMargin).collect()
    assert(ok.length == 2 && ok.forall(_.getString(1) == "m1"))
  }

  test("a declared rowKeyColumn makes one sibling addressable by " +
      "SET/DELETE (round 16)") {
    import spark.implicits._
    val base = MovieFixture.catalog(spark)
    val dupReviewed = Seq(
      (101L, "p5", "m1", "Loved it", 95),
      (102L, "p5", "m1", "Second look", 50),
      (103L, "p5", "m3", "Fun", 85)
    ).toDF("rid", "_vertexId", "_sink", "Summary", "Rating")
    val schema2 = MovieFixture.schema.copy(edges =
      MovieFixture.schema.edges.map(e =>
        if (e.verb == "REVIEWED") e.copy(rowKeyColumn = Some("rid"))
        else e))
    def mk() = new CypherSession(spark, new GraphCatalog(schema2, {
      case "reviewed" => dupReviewed
      case "person"   => base.nodeDf("Person")
      case "movie"    => base.nodeDf("Movie")
      case other      => throw new IllegalArgumentException(other)
    })).extended
    // output column order: the rowKey joins the op KEY, and the
    // anti-join puts join keys first — (_vertexId, _sink, rid,
    // Summary, Rating)
    // DELETE one sibling via its row key: exactly that row goes, the
    // parallel sibling stays — no guard, no raise
    val afterDel = mk().run(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie) WHERE r.rid = 101
        |DELETE r""".stripMargin).collect()
      .map(x => (x.getLong(2), x.getInt(4))).sortBy(_._1)
    assert(afterDel.toSeq == Seq((102L, 50), (103L, 85)))
    // SET one sibling: the sibling's property survives untouched
    val afterSet = mk().run(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie) WHERE r.rid = 102
        |SET r.Rating = 0""".stripMargin).collect()
      .map(x => (x.getLong(2), x.getInt(4))).sortBy(_._1)
    assert(afterSet.toSeq == Seq((101L, 95), (102L, 0), (103L, 85)))
    // matching BOTH siblings updates both (each is its own key group)
    val both = mk().run(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie) WHERE m.id = 'm1'
        |SET r.Summary = 'x'""".stripMargin).collect()
      .map(x => (x.getLong(2), x.getString(3))).sortBy(_._1)
    assert(both.toSeq ==
      Seq((101L, "x"), (102L, "x"), (103L, "Fun")))
    // the row key itself is identity — reassigning it is typed
    val ex = intercept[CypherBindingException](mk().run(
      """MATCH ()-[r:REVIEWED]->() SET r.rid = 9""".stripMargin))
    assert(ex.getMessage.contains("row-key"))
  }

  test("elementId() raises on a null row key instead of aliasing a " +
      "sibling (round 16; ADVICE-r15 #5)") {
    import spark.implicits._
    val base = MovieFixture.catalog(spark)
    val dupReviewed = Seq(
      (Some(101L), "p5", "m1", "Loved it", 95),
      (None, "p5", "m1", "Second look", 50)
    ).toDF("rid", "_vertexId", "_sink", "Summary", "Rating")
    val schema2 = MovieFixture.schema.copy(edges =
      MovieFixture.schema.edges.map(e =>
        if (e.verb == "REVIEWED") e.copy(rowKeyColumn = Some("rid"))
        else e))
    val s = new CypherSession(spark, new GraphCatalog(schema2, {
      case "reviewed" => dupReviewed
      case "person"   => base.nodeDf("Person")
      case "movie"    => base.nodeDf("Movie")
      case other      => throw new IllegalArgumentException(other)
    })).extended
    val ex = intercept[Exception](s.run(
      """MATCH ()-[r:REVIEWED]->() RETURN elementId(r) AS e"""
    ).collect())
    assert(Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8)
      .exists(x => Option(x.getMessage)
        .exists(_.contains("null row-key"))))
    // an OPTIONAL-miss row (all columns null) does NOT trip the
    // assert — the guard keys on a present endpoint
    val opt = s.run(
      """MATCH (p:Person) WHERE p.id = 'p1'
        |OPTIONAL MATCH (p)-[r:REVIEWED]->(m:Movie)
        |RETURN p.id AS i, elementId(r) AS e""".stripMargin).collect()
    assert(opt.length == 1)
  }

  test("elementId() row-key column discriminates parallel edges " +
      "(round 15)") {
    import spark.implicits._
    // VERDICT-r14 #4: an edge may declare an optional per-ROW key
    // column; elementId appends it, restoring Neo4j's uniqueness on
    // parallel same-verb rows. Without one, the documented
    // (verb, src, snk) collision stands.
    val base = MovieFixture.catalog(spark)
    val dupReviewed = Seq(
      (101L, "p5", "m1", "Loved it", 95),
      (102L, "p5", "m1", "Second look", 50)
    ).toDF("rid", "_vertexId", "_sink", "Summary", "Rating")
    val schema2 = MovieFixture.schema.copy(edges =
      MovieFixture.schema.edges.map(e =>
        if (e.verb == "REVIEWED") e.copy(rowKeyColumn = Some("rid"))
        else e))
    val cat = new GraphCatalog(schema2, {
      case "reviewed" => dupReviewed
      case "person"   => base.nodeDf("Person")
      case "movie"    => base.nodeDf("Movie")
      case other      => throw new IllegalArgumentException(other)
    })
    val s = new CypherSession(spark, cat).extended
    val eids = s.run(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |RETURN elementId(r) AS eid, r.rid AS k ORDER BY k""".stripMargin)
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(eids.toSeq == Seq(("REVIEWED:p5:m1:101", 101L),
      ("REVIEWED:p5:m1:102", 102L)))
    // the row key reads like any declared column (keys/properties)
    val ks = s.run(
      """MATCH ()-[r:REVIEWED]->() RETURN keys(r) AS ks LIMIT 1"""
    ).collect().head.getSeq[String](0)
    assert(ks.contains("rid"))
    // without a declared row key the collision is the documented shape
    val collide = rows(
      """MATCH (p:Person)-[a:ACTED_IN]->(m:Movie) WHERE m.id = 'm2'
        |RETURN elementId(a) AS e ORDER BY e LIMIT 1""".stripMargin)
      .head.getString(0)
    assert(collide == "ACTED_IN:p1:m2")
  }

  test("MERGE rel: duplicate feed pairs winner-dedup to one row") {
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(mm:Movie)
        |MATCH (m:Movie) WHERE m.id = 'm2'
        |MERGE (p)-[r:REVIEWED]->(m)
        |ON CREATE SET r.Rating = 1""".stripMargin)
      .map(x => (x.getString(0), x.getString(1))).sortBy(identity)
    // p1 acts 3×, p2 2×, p3 1× — one merged edge per distinct pair
    assert(r == Seq(("p1", "m2"), ("p2", "m2"), ("p3", "m2"),
      ("p5", "m1"), ("p5", "m3")))
  }

  test("MERGE rel with id-map endpoints: edge keys per feed row, " +
      "RETURN reads post-merge node faces") {
    val r = rows(
      """MATCH (m:Movie) WHERE m.id IN ['m1', 'm2']
        |MERGE (p:Person {id:
        |    CASE WHEN m.id = 'm1' THEN 'p5' ELSE 'p9' END})
        |  -[r:REVIEWED]->(mm:Movie {id: m.id})
        |ON MATCH SET r.Rating = r.Rating + 1
        |ON CREATE SET r.Summary = 'new', r.Rating = 10
        |RETURN p.id AS pi, p.Name AS nm, mm.Title AS t, r.Rating AS rt
        |ORDER BY pi""".stripMargin)
      .map(x => (x.getString(0),
        if (x.isNullAt(1)) None else Some(x.getString(1)),
        x.getString(2), x.getInt(3)))
    assert(r == Seq(
      // (p5, m1) exists in REVIEWED → ON MATCH; p5 is a stored node
      ("p5", Some("Jessica Thompson"), "Sleepless in Seattle", 96),
      // (p9, m2) absent → ON CREATE; p9 has no node row → id-only face
      ("p9", None, "Apollo 13", 10)))
  }

  test("MATCH-less MERGE rel: both endpoints id-mapped, one literal row") {
    val r = rows(
      "MERGE (a:Person {id: 'p9'})-[r:FOLLOWS]->(b:Person {id: 'p1'})")
      .map(x => (x.getString(0), x.getString(1))).sortBy(identity)
    assert(r == Seq(("p1", "p2"), ("p5", "p1"), ("p5", "p2"),
      ("p9", "p1")))
  }

  test("MERGE rel mixed endpoints: one bound, one id-mapped") {
    val r = rows(
      """MATCH (p:Person) WHERE p.id = 'p3'
        |MERGE (p)-[r:REVIEWED]->(m:Movie {id: 'm9'})
        |ON CREATE SET r.Rating = 7""".stripMargin)
      .map(x => (x.getString(0), x.getString(1),
        if (x.isNullAt(3)) None else Some(x.getInt(3))))
      .sortBy(t => (t._1, t._2))
    assert(r == Seq(("p3", "m9", Some(7)),
      ("p5", "m1", Some(95)), ("p5", "m3", Some(85))))
  }

  test("MERGE rel id-map endpoint typed rejections") {
    // the endpoint map must bind the node's id property
    intercept[CypherBindingException](rows(
      "MERGE (a:Person {Name: 'x'})-[r:FOLLOWS]->(b:Person {id: 'p1'})"))
    // an id-map endpoint declares a NEW variable — no shadowing
    intercept[CypherBindingException](rows(
      """MATCH (p:Person)
        |MERGE (p:Person {id: 'p1'})-[r:FOLLOWS]->(b:Person {id: 'p2'})"""
        .stripMargin))
    // two id-map endpoints need distinct variables
    intercept[CypherBindingException](rows(
      "MERGE (a:Person {id: 'p1'})-[r:FOLLOWS]->(a:Person {id: 'p2'})"))
    // the rel alias may not reuse an endpoint variable
    intercept[CypherBindingException](rows(
      "MERGE (a:Person {id: 'p1'})-[a:FOLLOWS]->(b:Person {id: 'p2'})"))
    // endpoint map beyond the id property
    intercept[CypherNotSupportedException](rows(
      """MERGE (a:Person {id: 'p1', Name: 'x'})
        |-[r:FOLLOWS]->(b:Person {id: 'p2'})""".stripMargin))
    // MATCH-less form needs an id map on BOTH endpoints
    intercept[CypherBindingException](rows(
      "MERGE (a)-[r:FOLLOWS]->(b:Person {id: 'p2'})"))
    // no aggregate in an endpoint id
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)
        |MERGE (a:Person {id: count(p)})-[r:FOLLOWS]->(b:Person {id: 'p2'})"""
        .stripMargin))
  }

  test("relationship CREATE/MERGE typed rejections pin the contract") {
    // endpoints must be bound node variables
    intercept[CypherBindingException](rows(
      "MERGE (x)-[r:REVIEWED]->(y)"))
    intercept[CypherBindingException](rows(
      """MATCH (p:Person)-[a:ACTED_IN]->(m:Movie)
        |CREATE (a)-[:REVIEWED]->(m)""".stripMargin))
    // no edge of that verb between the endpoint labels
    intercept[CypherBindingException](rows(
      """MATCH (p:Person), (m:Movie)
        |MERGE (p)-[r:FOLLOWS]->(m)""".stripMargin))
    // MERGE rel map (round 12): the map joins the KEY — binding an
    // endpoint column, an unknown property, a duplicate, an aggregate,
    // or re-assigning a map prop in ON CREATE all stay typed
    intercept[CypherBindingException](rows(
      """MATCH (p:Person), (m:Movie)
        |MERGE (p)-[r:REVIEWED {_vertexId: 'x'}]->(m)""".stripMargin))
    intercept[CypherBindingException](rows(
      """MATCH (p:Person), (m:Movie)
        |MERGE (p)-[r:REVIEWED {Nope: 5}]->(m)""".stripMargin))
    intercept[CypherException](rows( // duplicate key trips at parse
      """MATCH (p:Person), (m:Movie)
        |MERGE (p)-[r:REVIEWED {Rating: 5, Rating: 6}]->(m)""".stripMargin))
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person), (m:Movie)
        |MERGE (p)-[r:REVIEWED {Rating: count(p)}]->(m)""".stripMargin))
    intercept[CypherBindingException](rows(
      """MATCH (p:Person), (m:Movie)
        |MERGE (p)-[r:REVIEWED {Rating: 5}]->(m)
        |ON CREATE SET r.Rating = 6""".stripMargin))
    // undirected is ambiguous
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person), (m:Movie)
        |CREATE (p)-[:REVIEWED]-(m)""".stripMargin))
    // ON clauses need a named rel
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person), (m:Movie)
        |MERGE (p)-[:REVIEWED]->(m) ON CREATE SET r.Rating = 1"""
        .stripMargin))
    // ON CREATE cannot read the edge; endpoint columns not assignable
    intercept[CypherBindingException](rows(
      """MATCH (p:Person), (m:Movie)
        |MERGE (p)-[r:REVIEWED]->(m)
        |ON CREATE SET r.Rating = r.Rating""".stripMargin))
    intercept[CypherBindingException](rows(
      """MATCH (p:Person), (m:Movie)
        |MERGE (p)-[r:REVIEWED]->(m)
        |ON MATCH SET r._vertexId = 'x'""".stripMargin))
    // CREATE map: declared properties only, never endpoints
    intercept[CypherBindingException](rows(
      """MATCH (p:Person), (m:Movie)
        |CREATE (p)-[:REVIEWED {Nope: 1}]->(m)""".stripMargin))
    intercept[CypherBindingException](rows(
      """MATCH (p:Person), (m:Movie)
        |CREATE (p)-[:REVIEWED {_vertexId: 'x'}]->(m)""".stripMargin))
    // var-length / alternation have no single edge row
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person), (q:Person)
        |CREATE (p)-[:FOLLOWS*2]->(q)""".stripMargin))
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person), (m:Movie)
        |MERGE (p)-[r:REVIEWED|ACTED_IN]->(m)""".stripMargin))
  }

  // --------------------- per-hop predicates on var-length rels

  test("ORDER BY a spelled-out aggregate over an aggregating projection") {
    // projected under an alias: structural substitution reads the column
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |RETURN p.Name AS nm, count(m) AS n
        |ORDER BY count(m) DESC, nm""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r.toSeq == Seq(("Tom Hanks", 3L), ("Meg Ryan", 2L),
      ("Kevin Bacon", 1L)))
    // NOT projected: a hidden aggregate column rides the SAME
    // aggregation pass, sorts, and is dropped from the output schema
    val r2 = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |RETURN p.Name AS nm, count(m) AS n
        |ORDER BY min(m.Released) DESC, nm""".stripMargin)
    assert(r2.map(_.getString(0)).toSeq ==
      Seq("Kevin Bacon", "Meg Ryan", "Tom Hanks"))
    assert(r2.head.schema.fieldNames.toSeq == Seq("nm", "n"))
    // an aggregate in the sort with a NON-aggregating projection has
    // no pass to hide in — typed, not Spark's late analysis error
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |RETURN p.Name AS nm ORDER BY count(m)""".stripMargin))
    // a post-WITH WHERE may spell the aggregate out too
    val r3 = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |WITH p.Name AS nm, count(m) AS n
        |WHERE count(m) >= 2
        |RETURN nm, n ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r3.toSeq == Seq(("Meg Ryan", 2L), ("Tom Hanks", 3L)))
    // DISTINCT projections have no aggregation pass to hide it in
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) RETURN DISTINCT p.Name AS nm ORDER BY count(p)"))
  }

  test("bounded zero-length [*0..k]: identity branch joins the union") {
    // KNOWS: p1→p2 (2010), p2→p3 (2015), p3→p4 (2020), p1→p4 (1999)
    val r = rows(
      """MATCH p = (a:Person {id: 'p1'})-[:KNOWS*0..2]->(b:Person)
        |RETURN b.id AS i, length(p) AS l ORDER BY i, l""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    // len 0: p1 itself; len 1: p2, p4; len 2: p1→p2→p3 and p1→p4→(none)
    assert(r.toSeq == Seq(("p1", 0L), ("p2", 1L), ("p3", 2L), ("p4", 1L)))
    // [*0..0] is the pure identity; both endpoint variables bind
    val r2 = rows(
      """MATCH (a:Person)-[:KNOWS*0..0]->(b:Person)
        |RETURN count(*) AS n, count(DISTINCT b) AS d""".stripMargin).head
    assert(r2.getLong(0) == 5L && r2.getLong(1) == 5L)
    // shortestPath over [*0..k]: the zero-hop branch wins at distance 0
    val r3 = rows(
      """MATCH p = shortestPath(
        |  (a:Person {id: 'p1'})-[:KNOWS*0..3]->(b:Person))
        |RETURN b.id AS i, length(p) AS l ORDER BY i""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r3.toSeq == Seq(("p1", 0L), ("p2", 1L), ("p3", 2L), ("p4", 1L)))
    // a per-hop predicate never filters the zero-hop branch (no edge
    // is traversed), but prunes the longer branches
    val r4 = rows(
      """MATCH (a:Person {id: 'p1'})-[:KNOWS*0..2 {Since: 2015}]->(b:Person)
        |RETURN b.id AS i ORDER BY i""".stripMargin)
      .map(_.getString(0))
    assert(r4.toSeq == Seq("p1"))
    // conflicting explicit endpoint labels: the zero branch matches
    // nothing but longer lengths survive ([0..1] over ACTED_IN)
    val r5 = rows(
      """MATCH (a:Person {id: 'p3'})-[:ACTED_IN*0..1]->(b:Movie)
        |RETURN b.id AS i ORDER BY i""".stripMargin)
      .map(_.getString(0))
    assert(r5.toSeq == Seq("m2"))
    // ... and when NO length is in range, the conflict is typed
    intercept[CypherBindingException](rows(
      "MATCH (a:Person)-[:ACTED_IN*0..0]->(b:Movie) RETURN b.id AS i"))
  }

  test("zero-length [*0..k] composes: OPTIONAL MATCH, EXISTS, piped anchor") {
    // inside OPTIONAL MATCH the identity branch rides the branch-union
    // left join: every person reaches at least itself, so no null rows
    val r = rows(
      """MATCH (a:Person)
        |OPTIONAL MATCH (a)-[:KNOWS*0..1]->(b:Person)
        |RETURN a.id AS s, count(b.id) AS n ORDER BY s""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    // KNOWS out-edges: p1→{p2,p4}, p2→{p3}, p3→{p4} — plus self each
    assert(r.toSeq == Seq(("p1", 3L), ("p2", 2L), ("p3", 2L),
      ("p4", 1L), ("p5", 1L)))
    // EXISTS over a zero-length range is vacuously true per node
    val e = rows(
      """MATCH (a:Person)
        |WHERE EXISTS { MATCH (a)-[:KNOWS*0..1]->(b:Person) }
        |RETURN count(*) AS n""".stripMargin)
    assert(e.head.getLong(0) == 5L)
    // a piped entity anchors the zero branch like any other
    val p = rows(
      """MATCH (a:Person) WHERE a.id = 'p3' WITH a
        |MATCH (a)-[:KNOWS*0..1]->(b:Person)
        |RETURN b.id AS i ORDER BY i""".stripMargin)
      .map(_.getString(0))
    assert(p.toSeq == Seq("p3", "p4"))
  }

  test("per-hop map on an unbounded rel filters every traversed edge") {
    // KNOWS: p1→p2 (2010), p2→p3 (2015), p3→p4 (2020), p1→p4 (1999)
    val r = rows(
      """MATCH (a:Person {id: 'p2'})-[:KNOWS* {Since: 2015}]->(b:Person)
        |RETURN b.id AS i ORDER BY i""".stripMargin)
    assert(r.map(_.getString(0)) == Seq("p3")) // only the 2015 edge
    val unfiltered = rows(
      """MATCH (a:Person {id: 'p2'})-[:KNOWS*]->(b:Person)
        |RETURN b.id AS i ORDER BY i""".stripMargin)
    assert(unfiltered.map(_.getString(0)) == Seq("p3", "p4"))
  }

  test("per-hop WHERE flips the shortest distance when it cuts a " +
      "shortcut") {
    val direct = rows(
      """MATCH p = shortestPath(
        |  (a:Person {id: 'p1'})-[:KNOWS*]->(b:Person {id: 'p4'}))
        |RETURN length(p) AS d""".stripMargin)
    assert(direct.map(_.getLong(0)) == Seq(1)) // the 1999 shortcut
    val filtered = rows(
      """MATCH p = shortestPath(
        |  (a:Person {id: 'p1'})-[k:KNOWS* WHERE k.Since >= 2010]->
        |  (b:Person {id: 'p4'}))
        |RETURN length(p) AS d""".stripMargin)
    assert(filtered.map(_.getLong(0)) == Seq(3)) // chain via p2, p3
  }

  test("per-hop WHERE on a bounded range filters each unrolled hop") {
    val r = rows(
      """MATCH (a:Person)-[k:KNOWS*1..2 WHERE k.Since >= 2015]->
        |      (b:Person)
        |WHERE a.id = 'p2'
        |RETURN b.id AS i ORDER BY i""".stripMargin)
    assert(r.map(_.getString(0)) == Seq("p3", "p4"))
    val none = rows(
      """MATCH (a:Person)-[k:KNOWS*1..2 WHERE k.Since >= 2016]->
        |      (b:Person)
        |WHERE a.id = 'p2'
        |RETURN b.id AS i""".stripMargin)
    assert(none.isEmpty) // first hop (2015) already fails
  }

  test("per-hop predicate typed rejections") {
    // the predicate reads ONLY the hop relationship
    intercept[CypherBindingException](rows(
      """MATCH (a:Person)-[k:KNOWS* WHERE k.Since > a.Born]->(b:Person)
        |RETURN b.id AS i""".stripMargin))
    // the hop alias is consumed — not bound downstream
    intercept[CypherBindingException](rows(
      """MATCH (a:Person)-[k:KNOWS* WHERE k.Since > 0]->(b:Person)
        |RETURN k.Since AS s""".stripMargin))
    // unknown property
    intercept[CypherBindingException](rows(
      """MATCH (a:Person)-[:KNOWS* {Nope: 1}]->(b:Person)
        |RETURN b.id AS i""".stripMargin))
    // no aggregates in a per-hop predicate
    intercept[CypherNotSupportedException](rows(
      """MATCH (a:Person)-[k:KNOWS* WHERE k.Since > count(k)]->(b:Person)
        |RETURN b.id AS i""".stripMargin))
    // a LEFTOVER alias (no predicate consuming it) keeps the rejection
    intercept[CypherNotSupportedException](rows(
      """MATCH (a:Person)-[k:KNOWS*]->(b:Person)
        |RETURN b.id AS i""".stripMargin))
  }

  // ------------------------------ zero-length paths [*0..]

  test("[*0..] is the reflexive closure: identity rows at distance 0") {
    val r = rows(
      """MATCH (a:Person {id: 'p5'})-[:FOLLOWS*0..]->(b:Person)
        |RETURN b.id AS i ORDER BY i""".stripMargin)
    // p5 reaches p1, p2 — and itself by the empty path
    assert(r.map(_.getString(0)) == Seq("p1", "p2", "p5"))
    val all = rows(
      """MATCH (a:Person)-[:FOLLOWS*0..]->(b:Person)
        |RETURN count(b) AS c""".stripMargin)
    // closure pairs (p5→p1, p5→p2, p1→p2) + 5 identity rows
    assert(all.head.getLong(0) == 8)
  }

  test("shortestPath over [*0..]: the empty path is distance 0") {
    val r = rows(
      """MATCH p = shortestPath(
        |  (a:Person {id: 'p5'})-[:FOLLOWS*0..]->(b:Person))
        |RETURN b.id AS i, length(p) AS d ORDER BY i""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("p1", 1L), ("p2", 1L), ("p5", 0L)))
  }

  test("[*0..] identity rows bypass a per-hop predicate") {
    val r = rows(
      """MATCH (a:Person {id: 'p1'})
        |      -[k:KNOWS*0.. WHERE k.Since >= 2016]->(b:Person)
        |RETURN b.id AS i ORDER BY i""".stripMargin)
    // no 2016+ edge leaves p1 — only the empty path survives
    assert(r.map(_.getString(0)) == Seq("p1"))
  }

  test("[*0..] rejections: differing endpoint labels stay typed") {
    // the unbounded reflexive closure needs ONE label for the
    // zero-hop row; bounded [*0..k] composes since round 11 (the
    // identity-branch spec covers it)
    intercept[CypherNotSupportedException](rows(
      """MATCH (a:Person)-[:ACTED_IN*0..]->(m:Movie)
        |RETURN m.id AS i""".stripMargin))
    val r = rows(
      """MATCH (a:Person)-[:FOLLOWS*0..2]->(b:Person)
        |WHERE a.id = 'p5'
        |RETURN b.id AS i ORDER BY i""".stripMargin)
    // 0 hops: p5; 1 hop: p1, p2; 2 hops: p5→p1→p2
    assert(r.map(_.getString(0)) == Seq("p1", "p2", "p2", "p5"))
  }

  // ------------------------------- DISTINCT aggregates (extension)

  test("sum/avg/stdev(DISTINCT) dedup the value per group") {
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |RETURN sum(m.Released) AS sb, sum(DISTINCT m.Released) AS sd,
        |       avg(DISTINCT m.Released) AS ad,
        |       count(DISTINCT m.Released) AS cd,
        |       min(DISTINCT m.Released) AS mn,
        |       max(DISTINCT m.Released) AS mx,
        |       stdev(DISTINCT m.Released) AS sv""".stripMargin)
    val x = r.head
    // each movie appears once per actor (m1×2, m2×2, m3×2)
    assert(x.getLong(0) == 2 * (1993 + 1995 + 1998)) // plain sum: bag
    assert(x.getLong(1) == 1993 + 1995 + 1998)       // distinct: set
    assert(math.abs(x.getDouble(2) - 5986.0 / 3) < 1e-9)
    assert(x.getLong(3) == 3)
    assert(x.getInt(4) == 1993 && x.getInt(5) == 1998)
    // sample stddev of {1993, 1995, 1998}
    assert(math.abs(x.getDouble(6) - 2.5166114784) < 1e-6)
  }

  test("DISTINCT aggregate rejections: percentile keeps the rejection") {
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |RETURN percentileCont(DISTINCT m.Released, 0.5) AS x"""
        .stripMargin))
  }

  // ------------------------- first-clause OPTIONAL MATCH (round 10)

  test("first-clause OPTIONAL MATCH: one null row on zero matches") {
    val r = rows(
      """OPTIONAL MATCH (p:Person) WHERE p.id = 'zz'
        |RETURN p.id AS i, p.Name AS s""".stripMargin)
    assert(r.size == 1)
    assert(r.head.isNullAt(0) && r.head.isNullAt(1))
    val m = rows(
      """OPTIONAL MATCH (p:Person) WHERE p.Born >= 1958
        |RETURN p.id AS i ORDER BY i""".stripMargin)
    assert(m.map(_.getString(0)) == Seq("p2", "p3"))
    // var-length expansion path seeds the same way
    val v = rows(
      """OPTIONAL MATCH (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |WHERE a.id = 'zz'
        |RETURN b.id AS i""".stripMargin)
    assert(v.size == 1 && v.head.isNullAt(0))
  }

  test("MATCH directly after OPTIONAL MATCH drops null bindings per row") {
    // follows: p5->p1, p5->p2, p1->p2. Rows where b is null (p2, p3,
    // p4 follow nobody) must drop at the following MATCH — the
    // implicit `WITH *` splice inner-joins on b's (null) key.
    val r = rows(
      """MATCH (a:Person)
        |OPTIONAL MATCH (a)-[:FOLLOWS]->(b:Person)
        |MATCH (b)-[:ACTED_IN]->(m:Movie)
        |RETURN a.id AS ai, b.id AS bi, m.id AS mi
        |ORDER BY ai, bi, mi""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getString(1), x.getString(2))) ==
      Seq(("p1", "p2", "m1"), ("p1", "p2", "m3"),
          ("p5", "p1", "m1"), ("p5", "p1", "m2"), ("p5", "p1", "m3"),
          ("p5", "p2", "m1"), ("p5", "p2", "m3")))
  }

  test("startNode/endNode read the edge row's endpoint keys") {
    val r = rows(
      """MATCH (a:Person)-[f:FOLLOWS]->(b:Person)
        |RETURN startNode(f) AS s, endNode(f) AS e, a.id AS ai, b.id AS bi
        |ORDER BY s, e""".stripMargin)
    assert(r.forall(x => x.getString(0) == x.getString(2) &&
      x.getString(1) == x.getString(3)))
    assert(r.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("p1", "p2"), ("p5", "p1"), ("p5", "p2")))
    // node argument → typed binding error
    intercept[CypherBindingException](rows(
      "MATCH (a:Person) RETURN startNode(a) AS s"))
  }

  // ------------------------------ DELETE … RETURN (read-back)

  test("DELETE ... RETURN reads the deleted rows' pre-delete values") {
    val r = rows(
      """MATCH (p:Person)-[a:ACTED_IN]->(m:Movie) WHERE m.id = 'm2'
        |DELETE a
        |RETURN p.Name AS nm, a.Roles AS ro ORDER BY nm""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Kevin Bacon", "Jack Swigert"), ("Tom Hanks", "Jim Lovell")))
  }

  test("DELETE ... RETURN: OPTIONAL MATCH misses drop; aggregates") {
    val r = rows(
      """MATCH (p:Person) OPTIONAL MATCH (p)-[f:FOLLOWS]->(q:Person)
        |DETACH DELETE q
        |RETURN count(q.id) AS c""".stripMargin)
    // follows targets: p2, p1, p2 — the null-q rows delete nothing
    assert(r.head.getLong(0) == 3)
    // a DELETE chains through a WITH (round 11) but never a bare MATCH
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)-[f:FOLLOWS]->(q:Person)
        |DELETE f MATCH (m:Movie) RETURN m.id AS i""".stripMargin))
  }

  // ----------------------------- terminal SET / DELETE (extension)

  test("SET: matched node rows update reading OLD values + scope, rest pass") {
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie) WHERE m.Title = 'Apollo 13'
        |WITH p, count(m) AS cnt
        |SET p.Name = p.Name + '*', p.Born = p.Born + cnt""".stripMargin)
      .map(x => (x.getString(0), x.getString(1),
        if (x.isNullAt(2)) None else Some(x.getInt(2)))).sortBy(_._1)
    assert(r.size == 5) // snapshot size unchanged
    val byId = r.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId("p1") == (("Tom Hanks*", Some(1957))))  // matched
    assert(byId("p3") == (("Kevin Bacon*", Some(1959)))) // matched
    assert(byId("p2") == (("Meg Ryan", Some(1961))))    // untouched
    assert(byId("p4") == (("Rob Reiner", None)))        // untouched
  }

  test("SET: null assignment is property removal; implicit WITH * on bare MATCH") {
    val r = rows(
      "MATCH (m:Movie) WHERE m.id = 'm1' SET m.Tagline = null")
      .map(x => (x.getString(0),
        if (x.isNullAt(2)) None else Some(x.getString(2)))).sortBy(_._1)
    assert(r.size == 3)
    assert(r.toMap.apply("m1").isEmpty)                       // removed
    assert(r.toMap.apply("m2") == Some("Houston, we have a problem."))
  }

  test("SET: duplicate feed keys reduce to one deterministic winner") {
    val r = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |WITH p, m.Title AS t
        |SET p.Name = t""".stripMargin)
      .map(x => (x.getString(0), x.getString(1))).toMap
    // p1 acts in m1/m2/m3: p's own columns tie, so the struct-max winner
    // is the greatest varying value
    assert(r("p1") == "You've Got Mail")
    assert(r("p3") == "Apollo 13")   // single row, trivially the winner
    assert(r("p4") == "Rob Reiner")  // untouched
  }

  test("SET on a relationship keys by the (src, snk) pair") {
    val r = rows(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie) WHERE m.id = 'm1'
        |SET r.Rating = r.Rating - 10, r.Summary = 'edited'""".stripMargin)
      .map(x => ((x.getString(0), x.getString(1)),
        (x.getString(2), x.getInt(3)))).toMap
    assert(r.size == 2)
    assert(r(("p5", "m1")) == (("edited", 85)))   // matched
    assert(r(("p5", "m3")) == (("Fun", 85)))      // untouched
  }

  test("DELETE on a relationship removes matched (src, snk) pairs") {
    val r = rows(
      """MATCH (p:Person)-[r:ACTED_IN]->(m:Movie) WHERE p.id = 'p1'
        |DELETE r""".stripMargin)
      .map(x => (x.getString(0), x.getString(1))).sorted
    assert(r == Seq(("p2", "m1"), ("p2", "m3"), ("p3", "m2")))
  }

  test("DETACH DELETE on a node removes matched ids; null keys drop") {
    val r = rows(
      "MATCH (p:Person) WHERE p.Born IS NULL DETACH DELETE p")
      .map(_.getString(0)).sorted
    assert(r == Seq("p1", "p2", "p3"))
    // OPTIONAL MATCH misses bind a null entity — they delete nothing
    val r2 = rows(
      """MATCH (m:Movie) OPTIONAL MATCH (p:Person)-[:DIRECTED]->(m)
        |DETACH DELETE p""".stripMargin)
      .map(_.getString(0)).sorted
    assert(r2 == Seq("p1", "p2", "p3", "p5")) // only the director p4 goes
  }

  test("SET/DELETE typed rejections pin the contract") {
    // unknown property / id reassign / endpoint reassign
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) SET p.Nope = 1"))
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) SET p.id = 'z'"))
    intercept[CypherBindingException](rows(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |SET r._vertexId = 'z'""".stripMargin))
    // one SNAPSHOT per backing table (multi-variable SET desugars to
    // one clause per variable since round 16 — two variables on the
    // SAME table still conflict)
    intercept[CypherNotSupportedException](rows(
      """MATCH (a:Person)-[:FOLLOWS]->(b:Person)
        |SET a.Name = 'x', b.Name = 'y'""".stripMargin))
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person)-[r:ACTED_IN]->(m:Movie) DELETE r, p"))
    // label assignment; a non-map rhs on a whole-entity SET (the
    // full-replacement form takes a map literal only — round 11)
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) SET p:Actor"))
    intercept[CypherSyntaxException](rows(
      "MATCH (p:Person) SET p = 1"))
    // needs a bound target; a value variable is not an entity
    intercept[CypherNotSupportedException](rows("SET p.Name = 'x'"))
    intercept[CypherNotSupportedException](rows("DETACH DELETE p"))
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) SET q.Name = 'x'"))
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) WITH p.Name AS n DELETE n"))
    // plain node DELETE: dangling-edge semantics are data-dependent
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) DELETE p"))
    // every updating clause chains through a WITH (round 11) but
    // never a bare MATCH
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) SET p.Name = 'x' MATCH (m:Movie) RETURN m.id AS i"))
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person) DETACH DELETE p
        |MATCH (m:Movie) RETURN m.id AS i""".stripMargin))
    // multi-updating chains (round 12) keep ONE SNAPSHOT PER ENTITY:
    // a second clause targeting the SAME backing table is rejected —
    // the first clause's effect lives only in the carried frame, so a
    // second person snapshot would silently read the original store
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person) SET p.Name = 'x' WITH p
        |MATCH (q:Person) SET q.Born = 1 RETURN 1 AS x""".stripMargin))
    intercept[CypherNotSupportedException](rows(
      """MATCH (m:Movie) CALL { MATCH (p:Person) SET p.Name = 'x' }
        |RETURN m.Title AS T""".stripMargin))
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person) SET p.Name = 'x'
        |UNION MATCH (p:Person) SET p.Name = 'y'""".stripMargin))
    // aggregates belong in a WITH before the SET
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) SET p.Born = count(p)"))
  }

  test("SET n:SubLabel / REMOVE n:SubLabel write the discriminator") {
    // SET: the discriminator takes the sub-label's declared value
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Kevin Bacon'
        |SET p:Boomer""".stripMargin)
      .map(x => (x.getString(1),
        if (x.isNullAt(2)) -1 else x.getInt(2))).toMap
    assert(r("Kevin Bacon") == 1956 && r("Meg Ryan") == 1961)
    // REMOVE is CONDITIONAL: only rows carrying the value null out —
    // Meg (Sixties, 1961) is untouched by REMOVE :Boomer
    val r2 = rows(
      "MATCH (p:Person) REMOVE p:Boomer")
      .map(x => (x.getString(1),
        if (x.isNullAt(2)) -1 else x.getInt(2))).toMap
    assert(r2("Tom Hanks") == -1 && r2("Meg Ryan") == 1961)
    // mixes with ordinary assignments in one SET
    val r3 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Rob Reiner'
        |SET p:Sixties, p.Name = 'Rob R.'""".stripMargin)
      .map(x => (x.getString(0), x.getString(1),
        if (x.isNullAt(2)) -1 else x.getInt(2)))
    assert(r3.exists(t => t._2 == "Rob R." && t._3 == 1961))
    // labels(n) reads the write back through the same model
    val r4 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Kevin Bacon'
        |SET p:Boomer
        |WITH p RETURN labels(p) AS L""".stripMargin).head
    assert(r4.getSeq[String](0) == Seq("Person", "Boomer"))
    // non-declared labels stay typed; edges have no labels
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) SET p:Actor"))
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person)-[r:REVIEWED]->(m:Movie) SET r:Hot"))
  }

  test("multi-updating pipeline: SET ... MERGE ... RETURN folds frames") {
    // the MERGE's feed is the SET's read-back frame — ON CREATE SET
    // reads the UPDATED movie values; explicit WITH form
    val r = rows(
      """MATCH (m:Movie) WHERE m.id = 'm1'
        |SET m.Released = 2000
        |WITH m
        |MERGE (p:Person {id: 'p9'})
        |ON CREATE SET p.Name = m.Title
        |RETURN p.Name AS nm, m.Released AS rel""".stripMargin).head
    assert(r.getString(0) == "Sleepless in Seattle" && r.getInt(1) == 2000)
    // implicit WITH * form (Neo4j's everyday ingest shape)
    val r2 = rows(
      """MATCH (m:Movie) WHERE m.id = 'm1'
        |SET m.Released = 2000
        |MERGE (p:Person {id: 'p9'})
        |ON CREATE SET p.Name = m.Title
        |RETURN p.Name AS nm, m.Released AS rel""".stripMargin).head
    assert(r2.getString(0) == "Sleepless in Seattle" &&
      r2.getInt(1) == 2000)
    // SET → SET across DIFFERENT tables: the second rhs reads the
    // first clause's write through the carried frame
    val r3 = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |WHERE p.id = 'p1' AND m.id = 'm1'
        |SET m.Released = 1999
        |WITH p, m
        |SET p.Born = m.Released
        |RETURN p.Name AS nm, p.Born AS b""".stripMargin).head
    assert(r3.getString(0) == "Tom Hanks" && r3.getInt(1) == 1999)
    // a chain ending in a TERMINAL clause produces that clause's
    // snapshot (person table + the created p9 row)
    val snap = rows(
      """MATCH (m:Movie) WHERE m.id = 'm1'
        |SET m.Released = 2000
        |WITH m
        |MERGE (p:Person {id: 'p9'}) ON CREATE SET p.Name = m.Title"""
        .stripMargin)
    assert(snap.size == 6 &&
      snap.map(_.getString(0)).toSet == Set("p1", "p2", "p3", "p4",
        "p5", "p9"))
    // SET then MERGE of a RELATIONSHIP: edge read-back over the
    // updated frame, rel property from the SET value
    val r4 = rows(
      """MATCH (p:Person)-[:REVIEWED]->(m:Movie) WHERE m.id = 'm1'
        |SET p.Born = 1970
        |WITH p, m
        |MERGE (p)-[k:FOLLOWS]->(q:Person {id: 'p1'})
        |RETURN p.Name AS nm, p.Born AS b""".stripMargin).head
    assert(r4.getString(0) == "Jessica Thompson" && r4.getInt(1) == 1970)
    // three updating clauses, three distinct tables
    val r5 = rows(
      """MATCH (m:Movie) WHERE m.id = 'm2'
        |SET m.Released = 1996
        |MERGE (p:Person {id: 'p8'}) ON CREATE SET p.Name = 'New Actor'
        |MERGE (p)-[a:ACTED_IN]->(q:Movie {id: 'm2'})
        |ON CREATE SET a.Roles = p.Name
        |RETURN p.Name AS nm, a.Roles AS ro, m.Released AS rel"""
        .stripMargin).head
    assert(r5.getString(0) == "New Actor" && r5.getString(1) == "New Actor"
      && r5.getInt(2) == 1996)
  }

  test("FOREACH desugars to UNWIND + the terminal updating clause") {
    // MERGE per element: winner-dedup keeps one row per key
    val r = rows(
      """MATCH (m:Movie) WHERE m.id = 'm1'
        |FOREACH (x IN [1, 2] |
        |  MERGE (p:Person {id: 'fp' + toString(x)})
        |  ON CREATE SET p.Born = x)""".stripMargin)
      .map(x => (x.getString(0), if (x.isNullAt(2)) -1 else x.getInt(2)))
      .toMap
    assert(r.size == 7 && r("fp1") == 1 && r("fp2") == 2 &&
      r("p1") == 1956)
    // SET through FOREACH reads outer scope per element
    val r2 = rows(
      """MATCH (p:Person) WHERE p.id = 'p1'
        |FOREACH (x IN [100] | SET p.Born = p.Born + x)""".stripMargin)
      .map(x => (x.getString(0),
        if (x.isNullAt(2)) -1 else x.getInt(2))).toMap
    assert(r2("p1") == 2056 && r2("p2") == 1961)
    // empty list: zero feed rows — the snapshot passes unchanged
    val r3 = rows(
      """MATCH (p:Person) WHERE p.id = 'p1'
        |FOREACH (x IN [] | SET p.Born = 1)""".stripMargin)
      .map(x => (x.getString(0),
        if (x.isNullAt(2)) -1 else x.getInt(2))).toMap
    assert(r3("p1") == 1956)
    // nested FOREACH composes (one UNWIND level each)
    val r4 = rows(
      """MATCH (m:Movie) WHERE m.id = 'm1'
        |FOREACH (x IN [1] | FOREACH (y IN [2] |
        |  CREATE (p:Person {id: 'n' + toString(x) + toString(y)})))"""
        .stripMargin).map(_.getString(0))
    assert(r4.size == 6 && r4.contains("n12"))
    // rejections: non-updating body, trailing clauses, RETURN inside,
    // no preceding MATCH
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) FOREACH (x IN [1] | RETURN x)"))
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person) FOREACH (x IN [1] | SET p.Born = x)
        |RETURN p.Name AS N""".stripMargin))
    intercept[CypherException](rows(
      "MATCH (p:Person) FOREACH (x IN [1] | SET p.Born = x RETURN x)"))
    intercept[CypherNotSupportedException](rows(
      "FOREACH (x IN [1] | SET p.Born = x)"))
    // parity keeps the rejection
    val parity = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](parity.run(
      "MATCH (p:Person) FOREACH (x IN [1] | SET p.Born = x)"))
  }

  test("SET ... RETURN reads the updated entity per row") {
    // per-row read-back: rhs reads the OLD value, RETURN the new one
    val r = rows(
      """MATCH (p:Person) WHERE p.Born >= 1958
        |SET p.Born = p.Born + 100
        |RETURN p.Name AS nm, p.Born AS b ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    assert(r.toSeq == Seq(("Kevin Bacon", 2058), ("Meg Ryan", 2061)))
    // simultaneous-assignment: both rhs read OLD values even when the
    // assignments cross-reference
    val r2 = rows(
      """MATCH (m:Movie) WHERE m.id = 'm1'
        |SET m.Title = m.Tagline, m.Tagline = m.Title
        |RETURN m.Title AS t, m.Tagline AS g""".stripMargin).head
    assert(r2.getString(0) == "What if someone you never met..."
      && r2.getString(1) == "Sleepless in Seattle")
    // aggregation over the updated frame composes
    val r3 = rows(
      """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
        |SET p.Born = 2000
        |RETURN p.Born AS b, count(m) AS n""".stripMargin)
      .map(x => (x.getInt(0), x.getLong(1)))
    assert(r3.toSeq == Seq((2000, 6L)))
    // REMOVE composes with RETURN too (null read-back)
    val r4 = rows(
      """MATCH (m:Movie) WHERE m.id = 'm2'
        |REMOVE m.Tagline
        |RETURN m.Title AS t, m.Tagline AS g""".stripMargin).head
    assert(r4.getString(0) == "Apollo 13" && r4.isNullAt(1))
    // rejections: unknown property; UNION placement
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) SET p.Nope = 1 RETURN p.Name AS N"))
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person) SET p.Born = 1 RETURN p.Name AS N
        |UNION MATCH (p:Person) RETURN p.Name AS N""".stripMargin))
  }

  test("SET ... RETURN: an entity matched by N rows reads +once per row, " +
      "never cumulatively") {
    // p1 acts in 3 movies → 3 match rows hit the same entity. Each
    // row's read-back applies the assignment ONCE over the OLD value
    // (simultaneous-read semantics: 1956+100 on every row) — Neo4j
    // would accumulate sequentially (the Nth row reads N-1 prior
    // writes: 2056/2156/2256), and terminal SET's snapshot dedups to
    // one winner. The divergence is the documented contract; this
    // spec locks it in.
    val r = rows(
      """MATCH (p:Person {id: 'p1'})-[:ACTED_IN]->(m:Movie)
        |SET p.Born = p.Born + 100
        |RETURN m.Title AS t, p.Born AS b ORDER BY t""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    assert(r.toSeq == Seq(("Apollo 13", 2056),
      ("Sleepless in Seattle", 2056), ("You've Got Mail", 2056)))
  }

  test("SET ... WITH chains: downstream clauses read the query's writes") {
    // WITH masks and a post-WITH WHERE filter over the UPDATED frame
    val r = rows(
      """MATCH (p:Person) WHERE p.Born >= 1958
        |SET p.Born = p.Born + 100
        |WITH p.Name AS nm, p.Born AS b
        |WHERE b > 2060
        |RETURN nm, b ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    assert(r.toSeq == Seq(("Meg Ryan", 2061)))
    // a piped entity joins a downstream MATCH with its updated values
    val r2 = rows(
      """MATCH (p:Person) WHERE p.id = 'p1'
        |SET p.Born = 3000
        |WITH p
        |MATCH (p)-[:ACTED_IN]->(m:Movie)
        |RETURN p.Born AS b, count(m) AS n""".stripMargin)
      .map(x => (x.getInt(0), x.getLong(1)))
    assert(r2.toSeq == Seq((3000, 3L)))
    // the snapshot is untouched: a FRESH match over the same table
    // reads the ORIGINAL store (reads-own-writes flows only through
    // the carried frame — the documented contract)
    val r3 = rows(
      """MATCH (p:Person) WHERE p.id = 'p1'
        |SET p.Born = 3000
        |WITH count(p) AS cnt
        |MATCH (q:Person) WHERE q.id = 'p1'
        |RETURN cnt, q.Born AS b""".stripMargin).head
    assert(r3.getLong(0) == 1L && r3.getInt(1) == 1956)
    // REMOVE chains the same way (null visible downstream)
    val r4 = rows(
      """MATCH (m:Movie) WHERE m.id = 'm2'
        |REMOVE m.Tagline
        |WITH m.Title AS t, m.Tagline AS g
        |RETURN t, g""".stripMargin).head
    assert(r4.getString(0) == "Apollo 13" && r4.isNullAt(1))
  }

  test("parameterized batch ingest: UNWIND $batch + id-map rel MERGE") {
    // the full Neo4j ingest idiom in one query: a parameter list feeds
    // UNWIND, each row keys both endpoints by id map, the edge upserts
    // per pair, and the RETURN reads the post-merge faces
    val r = rows(
      """UNWIND $batch AS pid
        |MERGE (p:Person {id: pid})-[r:REVIEWED]->(m:Movie {id: 'm1'})
        |ON MATCH SET r.Rating = r.Rating + 1
        |ON CREATE SET r.Rating = 50
        |RETURN p.id AS i, p.Name AS nm, r.Rating AS rt ORDER BY i""".stripMargin,
      Map("batch" -> Seq("p5", "p9")))
      .map(x => (x.getString(0),
        if (x.isNullAt(1)) None else Some(x.getString(1)), x.getInt(2)))
    assert(r.toSeq == Seq(
      ("p5", Some("Jessica Thompson"), 96), // (p5, m1) matched
      ("p9", None, 50)))                    // ghost person, created pair
  }

  test("MERGE/CREATE/DELETE ... WITH chains over their read-back frames") {
    // MERGE chain: the post-merge entity flows downstream; a fresh
    // MATCH of the same table still reads the ORIGINAL store
    val m = rows(
      """MATCH (p:Person) WHERE p.Born >= 1958
        |WITH p.id AS pid
        |MERGE (n:Person {id: pid})
        |ON MATCH SET n.Born = n.Born + 1
        |WITH n.id AS i, n.Born AS b
        |MATCH (q:Person) WHERE q.id = i
        |RETURN i, b, q.Born AS old ORDER BY i""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1), x.getInt(2)))
    assert(m.toSeq == Seq(("p2", 1962, 1961), ("p3", 1959, 1958)))
    // CREATE chain: the created rows aggregate downstream
    val c = rows(
      """MATCH (p:Person) WHERE p.Born >= 1958
        |WITH p.id AS pid
        |CREATE (n:Person {id: 'new_' + pid, Born: 2000})
        |WITH n.Born AS b
        |RETURN b, count(*) AS cnt""".stripMargin).head
    assert(c.getInt(0) == 2000 && c.getLong(1) == 2L)
    // DELETE chain: the deleted rows' PRE-delete values join a
    // downstream MATCH through the piped entity
    val d = rows(
      """MATCH (p:Person) WHERE p.Born >= 1958
        |DETACH DELETE p
        |WITH p
        |MATCH (p)-[:ACTED_IN]->(m:Movie)
        |RETURN p.Name AS nm, m.Title AS t ORDER BY nm, t""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(d.toSeq == Seq(("Kevin Bacon", "Apollo 13"),
      ("Meg Ryan", "Sleepless in Seattle"),
      ("Meg Ryan", "You've Got Mail")))
    // rel-MERGE chain: the post-merge edge flows through a WITH WHERE
    val rm = rows(
      """MATCH (p:Person) WHERE p.id IN ['p5', 'p3']
        |MATCH (m:Movie) WHERE m.id = 'm1'
        |MERGE (p)-[r:REVIEWED]->(m)
        |ON MATCH SET r.Rating = r.Rating + 1
        |ON CREATE SET r.Rating = 10
        |WITH p.id AS i, r.Rating AS rt
        |WHERE rt >= 10
        |RETURN i, rt ORDER BY i""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    assert(rm.toSeq == Seq(("p3", 10), ("p5", 96)))
  }

  test("SET a = {map}: full replacement nulls every unlisted property") {
    // listed keys assign, every other declared non-id property nulls —
    // Neo4j's map replacement, expanded against the schema (explicit
    // contract, not silence)
    val r = rows(
      """MATCH (p:Person) WHERE p.id = 'p1'
        |SET p = {Name: 'TH'}""".stripMargin)
      .map(x => (x.getString(0),
        if (x.isNullAt(1)) None else Some(x.getString(1)),
        if (x.isNullAt(2)) None else Some(x.getInt(2))))
    val byId = r.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId("p1") == ((Some("TH"), None)))           // Born nulled
    assert(byId("p2") == ((Some("Meg Ryan"), Some(1961)))) // untouched
    // an empty map nulls everything but the id
    val r2 = rows("MATCH (p:Person) WHERE p.id = 'p2' SET p = {}")
      .map(x => x.getString(0) -> ((x.isNullAt(1), x.isNullAt(2)))).toMap
    assert(r2.contains("p2") && r2("p2") == ((true, true)))
    // read-back composes (the expansion rides the same SET path)
    val r3 = rows(
      """MATCH (p:Person) WHERE p.id = 'p3'
        |SET p = {Born: 1}
        |RETURN p.Name AS nm, p.Born AS b""".stripMargin).head
    assert(r3.isNullAt(0) && r3.getInt(1) == 1)
    // id not assignable; unknown key; no mixing with other items
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) SET p = {id: 'z'}"))
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) SET p = {Nope: 1}"))
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) SET p = {Name: 'a'}, p.Born = 1"))
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) SET p.Born = 1, p = {Name: 'a'}"))
  }

  test("SET += map sugar desugars to per-key assignments") {
    val r = rows(
      """MATCH (p:Person) WHERE p.id = 'p1'
        |SET p += {Name: p.Name + '!', Born: p.Born + 1}""".stripMargin)
      .map(x => (x.getString(0), x.getString(1),
        if (x.isNullAt(2)) None else Some(x.getInt(2)))).sortBy(_._1)
    assert(r.size == 5)
    val byId = r.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId("p1") == (("Tom Hanks!", Some(1957))))
    assert(byId("p2") == (("Meg Ryan", Some(1961)))) // untouched
    // mixes with spelled-out assignments in one SET
    val r2 = rows(
      """MATCH (p:Person) WHERE p.id = 'p2'
        |SET p += {Born: 2000}, p.Name = 'MR'""".stripMargin)
      .map(x => (x.getString(0), x.getString(1))).toMap
    assert(r2("p2") == "MR")
    // unknown keys in the map are the ordinary declared-property error
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) SET p += {Nope: 1}"))
    // duplicate key across map + spelled-out form
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) SET p += {Name: 'a'}, p.Name = 'b'"))
    // id stays unassignable through the sugar
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) SET p += {id: 'z'}"))
    // empty/ill-formed map is a syntax error
    intercept[CypherException](rows("MATCH (p:Person) SET p += 1"))
  }

  test("REMOVE a.p is SET a.p = null: property removal") {
    val r = rows(
      "MATCH (m:Movie) WHERE m.id = 'm1' REMOVE m.Tagline")
      .map(x => (x.getString(0),
        if (x.isNullAt(2)) None else Some(x.getString(2)))).sortBy(_._1)
    assert(r.size == 3)
    assert(r.toMap.apply("m1").isEmpty)                       // removed
    assert(r.toMap.apply("m2") == Some("Houston, we have a problem."))
    // multiple properties, one entity
    val r2 = rows(
      "MATCH (p:Person) WHERE p.id = 'p1' REMOVE p.Name, p.Born")
      .map(x => (x.getString(0),
        if (x.isNullAt(1)) None else Some(x.getString(1)))).toMap
    assert(r2("p1").isEmpty)
    // typed rejections: label removal, unknown property, id removal,
    // parity mode (multi-variable REMOVE desugars since round 16 —
    // positive case below)
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) REMOVE p:Actor"))
    locally {
      // round 16: one clause per variable; the RETURN reads both
      val mv = rows(
        """MATCH (p:Person)-[:ACTED_IN]->(m:Movie)
          |WHERE p.id = 'p1' AND m.id = 'm2'
          |REMOVE p.Name, m.Tagline
          |RETURN p.Name AS n, m.Tagline AS t""".stripMargin).head
      assert(mv.isNullAt(0) && mv.isNullAt(1))
    }
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) REMOVE p.Nope"))
    intercept[CypherBindingException](rows(
      "MATCH (p:Person) REMOVE p.id"))
    // REMOVE … WITH chains since round 11 (the SET read-back frame);
    // a bare MATCH directly after it stays rejected
    intercept[CypherNotSupportedException](rows(
      "MATCH (p:Person) REMOVE p.Name MATCH (m:Movie) RETURN m.id AS i"))
    intercept[CypherNotSupportedException](rows("REMOVE p.Name"))
  }

  test("shortestPath over an unbounded range lowers to BFS min-distance") {
    // FOLLOWS: p5->p1, p5->p2, p1->p2 — p5 reaches p2 both directly and
    // via p1; shortestPath keeps ONE row per pair at the minimum
    val r = rows(
      """MATCH p = shortestPath((a:Person)-[:FOLLOWS*1..]->(b:Person))
        |RETURN a.id AS A, b.id AS B, length(p) AS L
        |ORDER BY A, B""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    assert(r == Seq(("p1", "p2", 1L), ("p5", "p1", 1L), ("p5", "p2", 1L)))
    // WHERE over the min-distance compiles in the same clause
    val r2 = rows(
      """MATCH p = shortestPath((a:Person)-[:FOLLOWS*]->(b:Person))
        |WHERE length(p) >= 1 AND a.id = 'p5'
        |RETURN b.id AS B ORDER BY B""".stripMargin)
      .map(_.getString(0))
    assert(r2 == Seq("p1", "p2"))
    // unnamed form: the pair collapse without observing the length
    val r3 = rows(
      """MATCH shortestPath((a:Person)-[:FOLLOWS*]->(b:Person))
        |RETURN count(a) AS n""".stripMargin)
    assert(r3.head.getLong(0) == 3L)
  }

  test("unbounded var-length typed rejections keep the bounded contract") {
    // round 17: a PLAIN named path over an unbounded range ENUMERATES
    // all paths (exact trail semantics on a DAG — the untrimmed
    // k-level walk); FOLLOWS edges p1→p2, p5→p1, p5→p2 hold four
    // walks including the length-2 p5→p1→p2
    val walks = rows(
      """MATCH p = (a:Person)-[:FOLLOWS*]->(b:Person)
        |RETURN a.id AS s, b.id AS d, length(p) AS L,
        |       reduce(n = '', x IN nodes(p) | n + '|' + x.id) AS ns,
        |       size(relationships(p)) AS nr
        |ORDER BY s, d, L""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getString(3), x.getInt(4)))
    assert(walks.toSeq == Seq(
      ("p1", "p2", 1L, "|p1|p2", 1),
      ("p5", "p1", 1L, "|p5|p1", 1),
      ("p5", "p2", 1L, "|p5|p2", 1),
      ("p5", "p2", 2L, "|p5|p1|p2", 2)))
    // allShortestPaths DOES observe length (min-distance IS the BFS
    // round) — and since round 11 the unanchored form runs under the
    // closure guard instead of rejecting: every pair once (σ=1 on the
    // FOLLOWS tree: p5→p1, p5→p2, p1→p2)
    val asp = rows(
      """MATCH p = allShortestPaths((a:Person)-[:FOLLOWS*]->(b:Person))
        |RETURN a.id AS s, b.id AS d, length(p) AS L
        |ORDER BY s, d""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    assert(asp.toSeq == Seq(("p1", "p2", 1L), ("p5", "p1", 1L),
      ("p5", "p2", 1L)))
    // lower bound > 1 (round 17): routed through the k-level DP —
    // bare pairs with SOME path of length ≥ 2 (FOLLOWS: only
    // p5→p1→p2), one row per pair
    assert(rows(
      """MATCH (a:Person)-[:FOLLOWS*2..]->(b:Person)
        |RETURN a.Name AS N""".stripMargin)
      .map(_.getString(0)) == Seq("Jessica Thompson"))
    // undirected reach (round 17): the symmetrized FOLLOWS component
    // {p5, p1, p2} pairs every ordered (x, y), x ≠ y — 6 rows
    assert(rows(
      """MATCH (a:Person)-[:FOLLOWS*]-(b:Person)
        |RETURN a.Name AS N""".stripMargin).size == 6)
    // verb-less stays typed
    intercept[CypherNotSupportedException](rows(
      "MATCH (a:Person)-[*]->(b:Person) RETURN a.Name AS N"))
    // a NON-self-type verb routes through the round-10 stratified
    // lowering instead of rejecting: ACTED_IN chains max out at one
    // hop (Movie has no outgoing edge), so [*] ≡ the single hop
    assert(rows(
      """MATCH (a:Person)-[:ACTED_IN*]->(m:Movie)
        |RETURN a.Name AS N""".stripMargin).size == 6)
    // a relationship VARIABLE on a var-length rel is a typed PARSE
    // rejection (never a silent drop): a later `RETURN r` can't hit a
    // misleading not-a-bound-variable error because the query never
    // parses; Reach.rewrite carries a second typed guard for
    // programmatically built ASTs
    val e = intercept[CypherNotSupportedException](rows(
      """MATCH (a:Person)-[r:FOLLOWS*]->(b:Person)
        |RETURN a.Name AS N""".stripMargin))
    assert(e.getMessage.contains("variable"))
    intercept[CypherNotSupportedException](rows(
      """MATCH p = shortestPath((a:Person)-[r:FOLLOWS*1..]->(b:Person))
        |RETURN length(p) AS L""".stripMargin))
  }

  test("unbounded shortestPath witnesses over a heterogeneous chain " +
      "(round 14)") {
    import spark.implicits._
    // X→Y→Z chain under ONE verb, two equal-length routes via y10/y11
    val cat = new GraphCatalog(
      GraphSchema(
        nodes = Seq(NodeDef("X", "xid", Seq("xn"), "tx"),
          NodeDef("Y", "yid", Seq("yn"), "ty"),
          NodeDef("Z", "zid", Seq("zn"), "tz")),
        edges = Seq(
          EdgeDef("F", "X", "Y", "fx", "fy", Seq("w1"), "txy"),
          EdgeDef("F", "Y", "Z", "gy", "gz", Seq.empty, "tyz"))),
      Map(
        "tx" -> Seq((1, "x1")).toDF("xid", "xn"),
        "ty" -> Seq((10, "y10"), (11, "y11")).toDF("yid", "yn"),
        "tz" -> Seq((100, "z100")).toDF("zid", "zn"),
        "txy" -> Seq((1, 10, 5), (1, 11, 7)).toDF("fx", "fy", "w1"),
        "tyz" -> Seq((10, 100), (11, 100)).toDF("gy", "gz"))(_))
    val s = new CypherSession(spark, cat).extended
    // source anchor: nodes(p) elements span the MERGED label
    // namespace; the parent pointer's min-tagged-id tie-break picks
    // y10 of the two equal routes; relationships(p) hops join back to
    // their own def's columns (w1 from X→Y, gz from Y→Z)
    val r = s.run(
      """MATCH p = shortestPath((a:X)-[:F*1..]->(b:Z))
        |WHERE a.xid = 1
        |RETURN b.zid AS zk, length(p) AS hops,
        |       reduce(s = '', n IN nodes(p) |
        |         s + '|' + coalesce(n.xn, n.yn, n.zn)) AS names,
        |       reduce(s = '', r IN relationships(p) |
        |         s + '|' + toString(coalesce(r.w1, r.gz))) AS rs
        |ORDER BY zk""".stripMargin).collect()
    assert(r.map(x => (x.getInt(0), x.getLong(1), x.getString(2),
      x.getString(3))).toSeq == Seq((100, 2L, "|x1|y10|z100", "|5|100")))
    // interior label as the destination: distance-1 witnesses
    val ry = s.run(
      """MATCH p = shortestPath((a:X)-[:F*1..]->(b:Y))
        |WHERE a.xid = 1
        |RETURN b.yid AS yk, length(p) AS hops,
        |       reduce(s = '', n IN nodes(p) |
        |         s + '|' + coalesce(n.xn, n.yn)) AS names
        |ORDER BY yk""".stripMargin).collect()
    assert(ry.map(x => (x.getInt(0), x.getLong(1), x.getString(2)))
      .toSeq == Seq((10, 1L, "|x1|y10"), (11, 1L, "|x1|y11")))
    // destination anchor: reversed BFS, arrays swapped back to
    // pattern order
    val rd = s.run(
      """MATCH p = shortestPath((a:X)-[:F*1..]->(b:Z))
        |WHERE b.zid = 100
        |RETURN a.xid AS xk, length(p) AS hops,
        |       reduce(s = '', n IN nodes(p) |
        |         s + '|' + coalesce(n.xn, n.yn, n.zn)) AS names"""
        .stripMargin).collect()
    assert(rd.map(x => (x.getInt(0), x.getLong(1), x.getString(2)))
      .toSeq == Seq((1, 2L, "|x1|y10|z100")))
  }

  test("allShortestPaths witnesses over a heterogeneous chain + " +
      "[*0..] hetero witnesses (round 15)") {
    import spark.implicits._
    // the round-14 X→Y→Z fixture: two equal-length routes via y10/y11
    val cat = new GraphCatalog(
      GraphSchema(
        nodes = Seq(NodeDef("X", "xid", Seq("xn"), "tx"),
          NodeDef("Y", "yid", Seq("yn"), "ty"),
          NodeDef("Z", "zid", Seq("zn"), "tz")),
        edges = Seq(
          EdgeDef("F", "X", "Y", "fx", "fy", Seq("w1"), "txy"),
          EdgeDef("F", "Y", "Z", "gy", "gz", Seq.empty, "tyz"))),
      Map(
        "tx" -> Seq((1, "x1")).toDF("xid", "xn"),
        "ty" -> Seq((10, "y10"), (11, "y11")).toDF("yid", "yn"),
        "tz" -> Seq((100, "z100")).toDF("zid", "zn"),
        "txy" -> Seq((1, 10, 5), (1, 11, 7)).toDF("fx", "fy", "w1"),
        "tyz" -> Seq((10, 100), (11, 100)).toDF("gy", "gz"))(_))
    val s = new CypherSession(spark, cat).extended
    // VERDICT-r14 #5: the tagged multi-parent BFS + σ-fold pointer
    // walk — BOTH minimal witnesses come out, each resolving its
    // elements/hops to its OWN table (w1 on the X→Y hop)
    val r = s.run(
      """MATCH p = allShortestPaths((a:X)-[:F*1..]->(b:Z))
        |WHERE a.xid = 1
        |RETURN b.zid AS zk, length(p) AS hops,
        |       reduce(s = '', n IN nodes(p) |
        |         s + '|' + coalesce(n.xn, n.yn, n.zn)) AS names,
        |       reduce(s = '', r IN relationships(p) |
        |         s + '|' + toString(coalesce(r.w1, r.gz))) AS rs
        |ORDER BY zk, names""".stripMargin).collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getString(2),
        x.getString(3))).toSeq
    assert(r == Seq((100, 2L, "|x1|y10|z100", "|5|100"),
      (100, 2L, "|x1|y11|z100", "|7|100")))
    // destination anchor: reversed multi-parent BFS, arrays swapped
    val rd = s.run(
      """MATCH p = allShortestPaths((a:X)-[:F*1..]->(b:Z))
        |WHERE b.zid = 100
        |RETURN length(p) AS hops,
        |       reduce(s = '', n IN nodes(p) |
        |         s + '|' + coalesce(n.xn, n.yn, n.zn)) AS names
        |ORDER BY names""".stripMargin).collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(rd == Seq((2L, "|x1|y10|z100"), (2L, "|x1|y11|z100")))
    // [*0..] heterogeneous witnesses: same-label endpoints bind the
    // IDENTITY row — one element (the endpoint, null-filled to the
    // merged shape), zero hops, empty rel array
    val z = s.run(
      """MATCH p = shortestPath((a:X)-[:F*0..]->(b:X))
        |WHERE a.xid = 1
        |RETURN length(p) AS hops, size(relationships(p)) AS nr,
        |       reduce(s = '', n IN nodes(p) |
        |         s + '|' + coalesce(n.xn, n.yn, n.zn)) AS names"""
        .stripMargin).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getString(2))).toSeq
    assert(z == Seq((0L, 0, "|x1")))
  }

  test("allShortestPaths over an unbounded range: one row per witness") {
    import spark.implicits._
    // diamond + tail: s→a, s→b, a→c, b→c, c→t — two shortest s→c
    // paths (σ=2) and two s→t paths (σ=2, d=3); s→a/b direct (σ=1)
    val cat = new GraphCatalog(
      GraphSchema(
        nodes = Seq(NodeDef("V", "id", Seq("nm"), "tv")),
        edges = Seq(EdgeDef("E", "V", "V", "src", "dst", Seq.empty, "te"))),
      Map(
        "tv" -> Seq((0, "s"), (1, "a"), (2, "b"), (3, "c"), (4, "t"))
          .toDF("id", "nm"),
        "te" -> Seq((0, 1), (0, 2), (1, 3), (2, 3), (3, 4))
          .toDF("src", "dst"))(_))
    val s = new CypherSession(spark, cat).extended
    val r = s.run(
      """MATCH p = allShortestPaths((x:V {id: 0})-[:E*1..]->(y:V))
        |RETURN y.nm AS dst, length(p) AS hops
        |ORDER BY dst, hops""".stripMargin)
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(r == Seq(("a", 1L), ("b", 1L), ("c", 2L), ("c", 2L),
      ("t", 3L), ("t", 3L)))
    // count-per-pair view: σ via implicit grouping
    val c = s.run(
      """MATCH p = allShortestPaths((x:V {id: 0})-[:E*1..]->(y:V))
        |RETURN y.nm AS dst, count(*) AS sigma, min(length(p)) AS hops
        |ORDER BY dst""".stripMargin)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(c.toSeq == Seq(("a", 1L, 1L), ("b", 1L, 1L), ("c", 2L, 2L),
      ("t", 2L, 3L)))
    // destination anchor runs the reversed BFS and swaps back
    val d = s.run(
      """MATCH p = allShortestPaths((x:V)-[:E*1..]->(y:V {id: 4}))
        |RETURN x.nm AS src, count(*) AS sigma, min(length(p)) AS hops
        |ORDER BY src""".stripMargin)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(d.toSeq == Seq(("a", 1L, 2L), ("b", 1L, 2L), ("c", 1L, 1L),
      ("s", 2L, 3L)))
    // unnamed form works too (no length observation, σ-fold rows)
    val u = s.run(
      """MATCH allShortestPaths((x:V {id: 0})-[:E*1..]->(y:V))
        |RETURN count(*) AS n""".stripMargin).collect().head.getLong(0)
    assert(u == 6L)
    // UNANCHORED (round 11): seeded from EVERY source under the
    // maxClosureRows guard — the full witness table
    val all = s.run(
      """MATCH p = allShortestPaths((x:V)-[:E*1..]->(y:V))
        |RETURN x.nm AS src, y.nm AS dst, count(*) AS sigma,
        |       min(length(p)) AS hops
        |ORDER BY src, dst""".stripMargin)
      .collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getLong(3))).toSeq
    assert(all == Seq(
      ("a", "c", 1L, 1L), ("a", "t", 1L, 2L),
      ("b", "c", 1L, 1L), ("b", "t", 1L, 2L),
      ("c", "t", 1L, 1L),
      ("s", "a", 1L, 1L), ("s", "b", 1L, 1L),
      ("s", "c", 2L, 2L), ("s", "t", 2L, 3L)))
    // witnesses (round 14): BOTH diamond arms materialize as distinct
    // (nodes, rels) rows — all min-distance parents, paths enumerated
    val w = s.run(
      """MATCH p = allShortestPaths((x:V {id: 0})-[:E*1..]->(y:V))
        |WHERE y.nm = 'c'
        |RETURN reduce(s = '', n IN nodes(p) | s + '|' + n.nm) AS ns
        |ORDER BY ns""".stripMargin).collect().map(_.getString(0))
    assert(w.toSeq == Seq("|s|a|c", "|s|b|c"))
    val w2 = s.run(
      """MATCH p = allShortestPaths((x:V {id: 0})-[:E*1..]->(y:V))
        |WHERE y.nm = 't'
        |RETURN reduce(s = '', n IN nodes(p) | s + '|' + n.nm) AS ns,
        |       size(relationships(p)) AS nr
        |ORDER BY ns""".stripMargin).collect()
      .map(x => (x.getString(0), x.getInt(1)))
    assert(w2.toSeq == Seq(("|s|a|c|t", 3), ("|s|b|c|t", 3)))
    // ... and the closure guard still fails an over-budget unanchored
    // run with the typed contract violation instead of materializing
    spark.conf.set(Reach.MaxClosureRowsConf, "2")
    try intercept[graft.ops.GraphContractViolation](s.run(
      """MATCH p = allShortestPaths((x:V)-[:E*1..]->(y:V))
        |RETURN count(*) AS n""".stripMargin).collect())
    finally spark.conf.unset(Reach.MaxClosureRowsConf)
  }

  test("shortestPath/[*] inside OPTIONAL MATCH: null-on-miss left join") {
    // FOLLOWS: p5→p1, p5→p2, p1→p2 — p2/p3/p4 reach nobody
    val r = rows(
      """MATCH (a:Person)
        |OPTIONAL MATCH p = shortestPath((a)-[:FOLLOWS*1..]->(b:Person))
        |RETURN a.Name AS src, b.Name AS dst, length(p) AS hops
        |ORDER BY src, dst""".stripMargin)
      .map(x => (x.getString(0),
        if (x.isNullAt(1)) null else x.getString(1),
        if (x.isNullAt(2)) -1L else x.getLong(2)))
    assert(r.toSeq == Seq(
      ("Jessica Thompson", "Meg Ryan", 1L),
      ("Jessica Thompson", "Tom Hanks", 1L),
      ("Kevin Bacon", null, -1L),
      ("Meg Ryan", null, -1L),
      ("Rob Reiner", null, -1L),
      ("Tom Hanks", "Meg Ryan", 1L)))
    // WHERE over length(p) filters the optional side BEFORE the left
    // join (Cypher's pre-join contract): 2-hop-only keeps p5→p2 via
    // p1 out (dist 1 direct), so p5 drops to a null row too
    val r2 = rows(
      """MATCH (a:Person)
        |OPTIONAL MATCH p = shortestPath((a)-[:FOLLOWS*1..]->(b:Person))
        |WHERE length(p) >= 2
        |RETURN a.Name AS src, b.Name AS dst
        |ORDER BY src, dst""".stripMargin)
      .map(x => (x.getString(0), if (x.isNullAt(1)) null else x.getString(1)))
    assert(r2.toSeq == Seq(
      ("Jessica Thompson", null), ("Kevin Bacon", null),
      ("Meg Ryan", null), ("Rob Reiner", null), ("Tom Hanks", null)))
    // plain [*] in OPTIONAL MATCH (no path var) — same discipline
    val r3 = rows(
      """MATCH (a:Person)
        |OPTIONAL MATCH (a)-[:FOLLOWS*1..]->(b:Person)
        |RETURN a.Name AS src, count(b) AS n
        |ORDER BY src""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r3.toSeq == Seq(("Jessica Thompson", 2L), ("Kevin Bacon", 0L),
      ("Meg Ryan", 0L), ("Rob Reiner", 0L), ("Tom Hanks", 1L)))
    // a named path over a LITERAL length in OPTIONAL MATCH (round 12):
    // the literal rides the optional side, so it null-fills through
    // the left join like any other optional column
    val r4 = rows(
      """MATCH (a:Person)
        |OPTIONAL MATCH p = (a)-[:FOLLOWS]->(b:Person)
        |RETURN DISTINCT a.Name AS src, length(p) AS L
        |ORDER BY src""".stripMargin)
      .map(x => (x.getString(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
    assert(r4.toSeq == Seq(("Jessica Thompson", 1L), ("Kevin Bacon", -1L),
      ("Meg Ryan", -1L), ("Rob Reiner", -1L), ("Tom Hanks", 1L)))
  }

  test("heterogeneous unbounded chains: label-stratified tagged BFS") {
    import spark.implicits._
    // verb E spans X→Y and Y→Z; ids COLLIDE across namespaces (X has
    // id 1 and Y has id 1) — tagging must keep them distinct
    val cat = new GraphCatalog(
      GraphSchema(
        nodes = Seq(NodeDef("X", "id", Seq.empty, "tx"),
          NodeDef("Y", "id", Seq.empty, "ty"),
          NodeDef("Z", "id", Seq.empty, "tz")),
        edges = Seq(
          EdgeDef("E", "X", "Y", "sid", "did", Seq.empty, "xy"),
          EdgeDef("E", "Y", "Z", "sid", "did", Seq.empty, "yz"))),
      Map(
        "tx" -> Seq(1, 2).toDF("id"),
        "ty" -> Seq(1, 3).toDF("id"),
        "tz" -> Seq(7).toDF("id"),
        "xy" -> Seq((1, 1), (2, 3)).toDF("sid", "did"),
        "yz" -> Seq((1, 7)).toDF("sid", "did"))(_))
    val s = new CypherSession(spark, cat).extended
    // two-hop X→Z: only X:1 → Y:1 → Z:7 (X:2's chain dead-ends at Y:3;
    // an untagged BFS would conflate X:1 with Y:1)
    val xz = s.run(
      """MATCH (x:X)-[:E*1..]->(z:Z)
        |RETURN x.id AS xid, z.id AS zid ORDER BY xid""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(xz.toSeq == Seq((1, 7)))
    // one-hop stratum X→Y through the same lowering
    val xy = s.run(
      """MATCH (x:X)-[:E*1..]->(y:Y)
        |RETURN x.id AS xid, y.id AS yid ORDER BY xid""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(xy.toSeq == Seq((1, 1), (2, 3)))
    // shortestPath + length composes (dist rides the tagged BFS)
    val sp = s.run(
      """MATCH p = shortestPath((x:X {id: 1})-[:E*1..]->(z:Z))
        |RETURN z.id AS zid, length(p) AS hops""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(sp.toSeq == Seq((7, 2L)))
    // typed rejections: missing endpoint labels; label pair with no
    // chain in the schema's label graph
    val e1 = intercept[CypherNotSupportedException](s.run(
      "MATCH (x:X)-[:E*1..]->(b) RETURN x.id AS xid"))
    assert(e1.getMessage.contains("label"))
    val e2 = intercept[CypherBindingException](s.run(
      "MATCH (z:Z)-[:E*1..]->(x:X) RETURN z.id AS zid"))
    assert(e2.getMessage.contains("no chain"))
  }

  test("property: reachablePairs matches brute transitive closure on random graphs") {
    import spark.implicits._
    var seed = 0x9E3779B97F4A7C15L
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound + bound) % bound).toInt
    }
    for (trial <- 1 to 5) {
      val n = 6 + nextInt(8)
      val m = 8 + nextInt(24)
      val pairs = (1 to m).map(_ => (nextInt(n).toLong, nextInt(n).toLong))
      val dedup = pairs.distinct.toSet
      var closure = dedup
      var grew = true
      while (grew) {
        val more = for { (a, b) <- closure; (c, d) <- dedup if b == c }
          yield (a, d)
        val next = closure ++ more
        grew = next.size > closure.size
        closure = next
      }
      val seeds = (0 until n).map(_.toLong).filter(_ => nextInt(3) == 0)
      // withDist ≡ brute BFS layering: min hop count per pair
      val brute = scala.collection.mutable.Map.empty[(Long, Long), Long]
      var layer = dedup
      var d = 1L
      while (layer.nonEmpty) {
        layer.foreach(p => if (!brute.contains(p)) brute(p) = d)
        layer = (for { (a, b) <- layer; (c, e2) <- dedup if b == c }
          yield (a, e2)).filterNot(brute.contains)
        d += 1
      }
      // both paths: the driver fast path and, with driverRows = 0, the
      // distributed kernel loop
      for (driverRows <- Seq(None, Some("0"))) {
        val path = driverRows.fold("driver")(_ => "kernel")
        driverRows.foreach(spark.conf.set(Reach.DriverRowsConf, _))
        try {
          val got = Reach.reachablePairs(pairs.toDF("s", "d"), "s", "d")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(got == closure, s"trial $trial $path: reach mismatch")
          // seeded run ≡ full closure restricted to the seed sources
          val seeded = Reach.reachablePairs(pairs.toDF("s", "d"), "s", "d",
              seeds = Some(seeds.toDF("id")))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(seeded == closure.filter(p => seeds.contains(p._1)),
            s"trial $trial $path: seeded reach mismatch")
          val gotDist = Reach.reachablePairs(pairs.toDF("s", "d"), "s", "d",
              withDist = true)
            .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
            .toMap
          assert(gotDist == brute.toMap, s"trial $trial $path: dist mismatch")
        } finally spark.conf.unset(Reach.DriverRowsConf)
      }
    }
  }

  test("reach closure guard trips on volume; anchoring stays under it") {
    import spark.implicits._
    // 100-node chain: full closure = 4950 pairs; the cone from node 5
    // is 94 pairs — a bound between the two PROVES the anchored run
    // never materializes the full closure
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("s", "d")
    spark.conf.set(Reach.MaxClosureRowsConf, "500")
    try {
      val full = intercept[graft.ops.GraphContractViolation] {
        Reach.reachablePairs(chain, "s", "d")
      }
      assert(full.getMessage.contains("maxClosureRows=500"))
      val cone = Reach.reachablePairs(chain, "s", "d",
        seeds = Some(Seq(5L).toDF("id")))
      assert(cone.count() == 94L)
    } finally spark.conf.unset(Reach.MaxClosureRowsConf)
  }

  test("literal WHERE anchors seed the reach frontier (src and dst side)") {
    val key = Reach.MaxClosureRowsConf
    spark.conf.set(key, "2")
    try {
      // unanchored: the 3-pair FOLLOWS closure exceeds the bound of 2
      val e = intercept[graft.ops.GraphContractViolation](rows(
        """MATCH (a:Person)-[:FOLLOWS*]->(b:Person)
          |RETURN a.Name AS A, b.Name AS B""".stripMargin))
      assert(e.getMessage.contains("anchor an endpoint"))
      // source anchored: Jessica's cone is 2 pairs — fits
      val src = rows(
        """MATCH (a:Person)-[:FOLLOWS*]->(b:Person)
          |WHERE a.Name = 'Jessica Thompson'
          |RETURN b.Name AS B ORDER BY B""".stripMargin)
      assert(src.map(_.getString(0)) == Seq("Meg Ryan", "Tom Hanks"))
      // destination anchored: reverse BFS from Meg — 2 pairs
      val dst = rows(
        """MATCH (a:Person)-[:FOLLOWS*]->(b:Person)
          |WHERE b.Name = 'Meg Ryan'
          |RETURN a.Name AS A ORDER BY A""".stripMargin)
      assert(dst.map(_.getString(0)) == Seq("Jessica Thompson", "Tom Hanks"))
      // inline property map desugars to the same anchored conjunct
      val pm = rows(
        """MATCH (a:Person {Name: 'Jessica Thompson'})-[:FOLLOWS*]->(b:Person)
          |RETURN b.Name AS B ORDER BY B""".stripMargin)
      assert(pm.map(_.getString(0)) == Seq("Meg Ryan", "Tom Hanks"))
      // IN-list anchor
      val in = rows(
        """MATCH (a:Person)-[:FOLLOWS*]->(b:Person)
          |WHERE a.Name IN ['Jessica Thompson'] RETURN b.Name AS B
          |ORDER BY B""".stripMargin)
      assert(in.map(_.getString(0)) == Seq("Meg Ryan", "Tom Hanks"))
    } finally spark.conf.unset(key)
  }

  test("a piped WITH frame anchors the reach frontier") {
    val key = Reach.MaxClosureRowsConf
    spark.conf.set(key, "2")
    try {
      val r = rows(
        """MATCH (a:Person) WHERE a.Name = 'Jessica Thompson'
          |WITH a MATCH (a)-[:FOLLOWS*]->(b:Person)
          |RETURN b.Name AS B ORDER BY B""".stripMargin)
      assert(r.map(_.getString(0)) == Seq("Meg Ryan", "Tom Hanks"))
      // piped frame anchors inside EXISTS too
      val ex = rows(
        """MATCH (a:Person) WHERE a.Name = 'Jessica Thompson'
          |WITH a MATCH (a)
          |WHERE EXISTS((a)-[:FOLLOWS*]->(:Person))
          |RETURN a.Name AS N""".stripMargin)
      assert(ex.map(_.getString(0)) == Seq("Jessica Thompson"))
    } finally spark.conf.unset(key)
  }

  // ------------------------------------ pattern-level WHERE (Cypher 5)

  test("pattern WHERE on nodes and relationships desugars to the MATCH WHERE") {
    val r = rows(
      "MATCH (p:Person WHERE p.Born >= 1958) RETURN p.Name AS N ORDER BY N")
    assert(r.map(_.getString(0)) == Seq("Kevin Bacon", "Meg Ryan"))
    val r2 = rows(
      """MATCH (p:Person)-[a:ACTED_IN WHERE a.Roles CONTAINS 'Jack']->(m:Movie)
        |RETURN p.Name AS N, m.Title AS T""".stripMargin)
    assert(r2.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Kevin Bacon", "Apollo 13")))
    // composes with a property map AND an explicit WHERE (conjunction)
    val r3 = rows(
      """MATCH (p:Person {Name: 'Tom Hanks'})-[a:ACTED_IN]->
        |      (m:Movie WHERE m.Released > 1994)
        |WHERE m.Title CONTAINS 'o'
        |RETURN m.Title AS T ORDER BY T""".stripMargin)
    assert(r3.map(_.getString(0)) == Seq("Apollo 13", "You've Got Mail"))
    // OPTIONAL MATCH: pattern-time, keeps left rows
    val r4 = rows(
      """MATCH (m:Movie)
        |OPTIONAL MATCH (p:Person WHERE p.Born = 1961)-[:ACTED_IN]->(m)
        |RETURN m.Title AS T, p.Name AS N ORDER BY T""".stripMargin)
    assert(r4.map(x => (x.getString(0), Option(x.getString(1)))) == Seq(
      ("Apollo 13", None),
      ("Sleepless in Seattle", Some("Meg Ryan")),
      ("You've Got Mail", Some("Meg Ryan"))))
  }

  test("pattern WHERE on a var-length hop is the per-hop predicate") {
    // round 10: no longer a rejection — a trivially-true predicate
    // matches exactly the unfiltered pattern
    val filtered = rows(
      """MATCH (a:Person)-[:FOLLOWS*1..2 WHERE 1 = 1]->(b:Person)
        |RETURN a.id AS i, b.id AS j ORDER BY i, j""".stripMargin)
    val plain = rows(
      """MATCH (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |RETURN a.id AS i, b.id AS j ORDER BY i, j""".stripMargin)
    assert(filtered.map(x => (x.getString(0), x.getString(1))) ==
      plain.map(x => (x.getString(0), x.getString(1))))
    // cross-variable references stay rejected (hop-only scope)
    intercept[CypherBindingException](rows(
      """MATCH (a:Person)-[k:FOLLOWS*1..2 WHERE a.Born > 0]->(b:Person)
        |RETURN b.Name AS N""".stripMargin))
  }

  // --------------------------------------- var-length inside EXISTS

  test("EXISTS with bounded and unbounded var-length patterns (semi-join union)") {
    // who can reach someone within 1..2 FOLLOWS hops: Jessica, Tom
    val r = rows(
      """MATCH (p:Person)
        |WHERE EXISTS((p)-[:FOLLOWS*1..2]->(q:Person))
        |RETURN p.Name AS N ORDER BY N""".stripMargin)
    assert(r.map(_.getString(0)) == Seq("Jessica Thompson", "Tom Hanks"))
    // unbounded reach inside EXISTS; NOT EXISTS = nobody reachable
    val r2 = rows(
      """MATCH (p:Person)
        |WHERE NOT EXISTS((p)-[:FOLLOWS*]->(q:Person))
        |RETURN p.Name AS N ORDER BY N""".stripMargin)
    assert(r2.map(_.getString(0)) ==
      Seq("Kevin Bacon", "Meg Ryan", "Rob Reiner"))
    // inner WHERE over the var-length endpoint still applies
    val r3 = rows(
      """MATCH (p:Person)
        |WHERE EXISTS { (p)-[:FOLLOWS*1..2]->(q:Person)
        |  WHERE q.Name = 'Meg Ryan' }
        |RETURN p.Name AS N ORDER BY N""".stripMargin)
    assert(r3.map(_.getString(0)) == Seq("Jessica Thompson", "Tom Hanks"))
  }

  test("property maps / pattern WHERE / multi-label are plan-invisible (identical optimized plans)") {
    def planOf(q: String) =
      session.run(q).queryExecution.optimizedPlan.canonicalized
    assert(
      planOf("MATCH (p:Person {Name: 'Tom Hanks'}) RETURN p.Born AS B") ==
      planOf("MATCH (p:Person) WHERE p.Name = 'Tom Hanks' RETURN p.Born AS B"))
    assert(
      planOf("""MATCH (p:Person)-[a:ACTED_IN {Roles: 'Jack Swigert'}]->(m:Movie)
               |RETURN m.Title AS T""".stripMargin) ==
      planOf("""MATCH (p:Person)-[a:ACTED_IN]->(m:Movie)
               |WHERE a.Roles = 'Jack Swigert'
               |RETURN m.Title AS T""".stripMargin))
    assert(
      planOf("MATCH (p:Person WHERE p.Born >= 1958) RETURN p.Name AS N") ==
      planOf("MATCH (p:Person) WHERE p.Born >= 1958 RETURN p.Name AS N"))
    assert(
      planOf("MATCH (p:Person:Boomer) RETURN p.Name AS N") ==
      planOf("MATCH (p:Person) WHERE p.Born = 1956 RETURN p.Name AS N"))
  }

  // ---------------------------------------- temporal dot accessors

  test("temporal component accessors x.prop.year etc (ISO dayOfWeek)") {
    // Released is an int, so accessors run on the date() constructor via
    // WITH; fixture has no date columns — the TPC-H oracle (q55) covers
    // the column path
    val r = rows(
      """MATCH (m:Movie) WITH m, date('1995-06-30') AS d
        |WHERE m.Title = 'Apollo 13'
        |RETURN d.year AS y, d.quarter AS q, d.month AS mo, d.week AS w,
        |       d.day AS dd, d.dayOfWeek AS dow""".stripMargin)
    assert(r.map(x => (x.getInt(0), x.getInt(1), x.getInt(2), x.getInt(3),
      x.getInt(4), x.getInt(5))) == Seq((1995, 2, 6, 26, 30, 5))) // Friday
    // unknown component / over-deep chains stay typed rejections
    // (round 13: generic dot access refines the classes — dot on a
    // string is a TYPE error, an unknown temporal component a BINDING
    // error — previously both were blanket NotSupported)
    intercept[CypherTypeException](rows(
      "MATCH (m:Movie) RETURN m.Title.length AS x"))
    intercept[CypherTypeException](rows(
      "MATCH (m:Movie) WITH date('2020-01-01') AS d RETURN d.x.year.day AS x"))
  }

  test("duration.inSeconds / inDays / inMonths (round 13)") {
    val r = rows(
      """WITH date('2024-01-31') AS a, date('2024-03-01') AS b
        |RETURN duration.inSeconds(a, b) = duration.between(a, b) AS sx,
        |       a + duration.inDays(a, b) =
        |         datetime('2024-03-01T00:00:00') AS dx,
        |       a + duration.inMonths(a, b) = date('2024-02-29') AS mx
        |""".stripMargin).head
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2))
    // whole-unit truncation: 30 days and 1 month between those dates;
    // a sub-day gap truncates to zero days
    val r2 = rows(
      """WITH datetime('2024-01-01T10:00:00') AS a,
        |     datetime('2024-01-01T23:30:00') AS b
        |RETURN a + duration.inDays(a, b) = a AS zd""".stripMargin).head
    assert(r2.getBoolean(0))
    intercept[CypherTypeException](rows(
      "RETURN duration.inDays(1, 2) AS x"))
  }

  test("date.truncate / datetime.truncate / duration.between / epoch") {
    val r = rows(
      """WITH datetime('2024-03-15T14:30:45') AS ts, date('2024-03-15') AS d
        |RETURN date.truncate('month', d) AS m,
        |       date.truncate('week', d) AS wk,
        |       datetime.truncate('hour', ts) AS h,
        |       datetime.truncate('quarter', ts) AS q,
        |       ts.epochSeconds AS es, ts.epochMillis AS em""".stripMargin)
      .head
    assert(r.getDate(0).toString == "2024-03-01")
    assert(r.getDate(1).toString == "2024-03-11") // ISO Monday
    assert(r.getTimestamp(2).toString == "2024-03-15 14:00:00.0")
    assert(r.getTimestamp(3).toString == "2024-01-01 00:00:00.0")
    assert(r.getLong(4) * 1000L == r.getLong(5))
    assert(r.getLong(4) == 1710513045L) // UTC session timezone
    // duration.between: exact day-time interval; composes with
    // temporal arithmetic (+30h onto a date-midnight timestamp)
    val r2 = rows(
      """WITH datetime('2024-01-01T00:00:00') AS a,
        |     datetime('2024-01-02T06:00:00') AS b
        |RETURN datetime('2024-06-01T00:00:00') +
        |       duration.between(a, b) AS shifted""".stripMargin).head
    assert(r2.getTimestamp(0).toString == "2024-06-02 06:00:00.0")
    val r3 = rows(
      """WITH date('2024-01-01') AS a, date('2024-03-01') AS b
        |RETURN duration.between(a, b) AS dur""".stripMargin).head
    assert(r3.get(0) == java.time.Duration.ofDays(60)) // leap year
    // typed rejections: unknown namespace/unit, non-literal unit,
    // non-temporal operands
    intercept[CypherNotSupportedException](rows(
      "RETURN date.nope(1) AS x"))
    intercept[CypherSyntaxException](rows(
      "WITH date('2024-01-01') AS d RETURN date.truncate('hour', d) AS x"))
    intercept[CypherSyntaxException](rows(
      """WITH date('2024-01-01') AS d, 'month' AS u
        |RETURN date.truncate(u, d) AS x""".stripMargin))
    intercept[CypherTypeException](rows(
      "RETURN duration.between(1, 2) AS x"))
  }

  test("CALL { ... UNION ... }: uncorrelated subquery unions compose") {
    val r = rows(
      """MATCH (m:Movie) WHERE m.id = 'm1'
        |CALL {
        |  MATCH (p:Person) WHERE p.Born = 1956 RETURN p.Name AS who
        |  UNION
        |  MATCH (p:Person) WHERE p.Born = 1961 RETURN p.Name AS who
        |}
        |RETURN m.Title AS T, who ORDER BY who""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(r == Seq(("Sleepless in Seattle", "Meg Ryan"),
      ("Sleepless in Seattle", "Tom Hanks")))
    // UNION ALL keeps duplicates across branches
    val r2 = rows(
      """CALL {
        |  MATCH (p:Person) WHERE p.Born = 1956 RETURN p.Name AS who
        |  UNION ALL
        |  MATCH (p:Person) WHERE p.Born >= 1956 RETURN p.Name AS who
        |}
        |RETURN count(*) AS n""".stripMargin).head
    assert(r2.getLong(0) == 4L) // Tom + (Tom, Meg, Kevin)
    // correlated union with aggregating branches (round 15,
    // VERDICT-r14 #6 — the round-14 rejection is lifted): each branch
    // zero-fills per invocation before the union; m2 has no reviews,
    // so its review branch contributes 0
    val r3 = rows(
      """MATCH (m:Movie)
        |CALL { WITH m
        |  MATCH (p:Person)-[:ACTED_IN]->(m) RETURN count(*) AS c
        |  UNION
        |  MATCH (p:Person)-[:REVIEWED]->(m) RETURN count(*) AS c }
        |RETURN m.Title AS T, c ORDER BY T, c""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r3 == Seq(("Apollo 13", 0L), ("Apollo 13", 2L),
      ("Sleepless in Seattle", 1L), ("Sleepless in Seattle", 2L),
      ("You've Got Mail", 1L), ("You've Got Mail", 2L)))
  }

  test("COLLECT { ... RETURN expr } subquery desugars to a comprehension") {
    val r = rows(
      """MATCH (p:Person)
        |RETURN p.Name AS N,
        |       size(COLLECT { (p)-[:ACTED_IN]->(m:Movie)
        |                      WHERE m.Released >= 1995
        |                      RETURN m.Title }) AS late
        |ORDER BY N""".stripMargin)
      .map(x => (x.getString(0), x.getInt(1)))
    assert(r == Seq(("Jessica Thompson", 0), ("Kevin Bacon", 1),
      ("Meg Ryan", 1), ("Rob Reiner", 0), ("Tom Hanks", 2)))
    // list contents via a quantifier (order-insensitive)
    val r2 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN any(t IN COLLECT { (p)-[:ACTED_IN]->(m:Movie)
        |                          RETURN m.Title }
        |           WHERE t = 'Apollo 13') AS hit""".stripMargin).head
    assert(r2.getBoolean(0))
  }

  test("COLLECT { }: ORDER BY / SKIP / LIMIT / DISTINCT (round 13)") {
    // ordered capped list — ORDER BY a non-projected expression
    val r = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN COLLECT { (p)-[:ACTED_IN]->(m:Movie)
        |                 RETURN m.Title
        |                 ORDER BY m.Released DESC LIMIT 2 } AS ts"""
        .stripMargin).head.getSeq[String](0)
    assert(r == Seq("You've Got Mail", "Apollo 13"))
    // SKIP pages past the head of the ordered list
    val r2 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN COLLECT { (p)-[:ACTED_IN]->(m:Movie)
        |                 RETURN m.Title
        |                 ORDER BY m.Released SKIP 1 LIMIT 1 } AS ts"""
        .stripMargin).head.getSeq[String](0)
    assert(r2 == Seq("Apollo 13"))
    // DISTINCT dedups values; with ORDER BY it orders the dedup'd set
    val r3 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Tom Hanks'
        |RETURN COLLECT { (p)-[:ACTED_IN]->(m:Movie)
        |                 RETURN DISTINCT m.Released / 100 } AS c,
        |       COLLECT { (p)-[:ACTED_IN]->(m:Movie)
        |                 RETURN DISTINCT m.Released
        |                 ORDER BY m.Released DESC LIMIT 2 } AS top"""
        .stripMargin).head
    assert(r3.getSeq[Int](0) == Seq(19))
    assert(r3.getSeq[Int](1) == Seq(1998, 1995))
    // empty match still yields an empty list under paging
    val r4 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Jessica Thompson'
        |RETURN COLLECT { (p)-[:ACTED_IN]->(m:Movie)
        |                 RETURN m.Title ORDER BY m.Title LIMIT 3 } AS ts"""
        .stripMargin).head.getSeq[String](0)
    assert(r4.isEmpty)
    // typed: LIMIT without ORDER BY; DISTINCT ordered by another expr
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)
        |RETURN COLLECT { (p)-[:ACTED_IN]->(m:Movie)
        |                 RETURN m.Title LIMIT 2 } AS ts""".stripMargin))
    intercept[CypherNotSupportedException](rows(
      """MATCH (p:Person)
        |RETURN COLLECT { (p)-[:ACTED_IN]->(m:Movie)
        |                 RETURN DISTINCT m.Title
        |                 ORDER BY m.Released } AS ts""".stripMargin))
  }

  test("date({...}) / datetime({...}) map constructors") {
    val r = rows(
      """WITH 2024 AS y
        |RETURN date({year: y, month: 3, day: 15}) AS d,
        |       date({year: y}) AS d0,
        |       datetime({year: y, month: 2, day: 29, hour: 13,
        |                 minute: 45, second: 6}) AS ts,
        |       datetime({year: y, month: 7}) AS ts0""".stripMargin).head
    assert(r.getDate(0).toString == "2024-03-15")
    assert(r.getDate(1).toString == "2024-01-01")
    assert(r.getTimestamp(2).toString == "2024-02-29 13:45:06.0")
    assert(r.getTimestamp(3).toString == "2024-07-01 00:00:00.0")
    // components compose with column expressions and accessors
    val r2 = rows(
      """WITH date('2021-08-09') AS src
        |RETURN date({year: src.year + 1, month: src.month,
        |             day: src.day}) AS d""".stripMargin).head
    assert(r2.getDate(0).toString == "2022-08-09")
    // typed: unknown component, missing year, duplicate key,
    // time-of-day on date()
    intercept[CypherSyntaxException](rows(
      "RETURN date({year: 2024, nope: 1}) AS d"))
    intercept[CypherSyntaxException](rows(
      "RETURN date({month: 3}) AS d"))
    intercept[CypherSyntaxException](rows(
      "RETURN date({year: 2024, year: 2025}) AS d"))
    intercept[CypherSyntaxException](rows(
      "RETURN date({year: 2024, hour: 3}) AS d"))
  }

  test("round(x), isEmpty, tail: everyday stdlib fills") {
    val r = rows(
      """RETURN round(2.5) AS a, round(-2.5) AS b, round(2.4) AS c,
        |       isEmpty('') AS e1, isEmpty('x') AS e2,
        |       isEmpty([]) AS e3, isEmpty([1]) AS e4,
        |       tail([1, 2, 3]) AS t1, tail([7]) AS t2""".stripMargin).head
    assert(r.getDouble(0) == 3.0 && r.getDouble(1) == -3.0 &&
      r.getDouble(2) == 2.0)
    assert(r.getBoolean(3) && !r.getBoolean(4) &&
      r.getBoolean(5) && !r.getBoolean(6))
    assert(r.getSeq[Int](7) == Seq(2, 3) && r.getSeq[Int](8).isEmpty)
    // null propagation; typed on non-list tail / numeric isEmpty
    val r2 = rows(
      "WITH null AS x RETURN isEmpty(x) AS e, tail(x) AS t").head
    assert(r2.isNullAt(0) && r2.isNullAt(1))
    intercept[CypherTypeException](rows("RETURN tail('abc') AS t"))
    intercept[CypherTypeException](rows("RETURN isEmpty(1) AS e"))
    // un-inferable argument type: typed rejection, never Spark's
    // implicit numeric→string cast (round-13 advice)
    intercept[CypherTypeException](rows(
      "WITH null AS x RETURN isEmpty(tail(x)) AS e"))
  }

  test("date epoch accessors are session-timezone independent") {
    // date('2024-03-15').epochSeconds must be midnight UTC (day
    // arithmetic), not midnight-in-session-tz (round-13 advice: a
    // TIMESTAMP cast shifts the value by the tz offset)
    val utcMidnight = 1710460800L
    def check(): Unit = {
      val r = rows(
        """WITH date('2024-03-15') AS d
          |RETURN d.epochSeconds AS es, d.epochMillis AS em,
          |       epochSeconds(d) AS fs""".stripMargin).head
      assert(r.getLong(0) == utcMidnight)
      assert(r.getLong(1) == utcMidnight * 1000L)
      assert(r.getLong(2) == utcMidnight)
    }
    check()
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      check()
      spark.conf.set(tzKey, "Asia/Tokyo")
      check()
    } finally spark.conf.set(tzKey, saved)
  }

  test("reachablePairs: empty edge set converges immediately to empty") {
    import spark.implicits._
    val got = Reach.reachablePairs(
      Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d").count()
    assert(got == 0L)
  }

  // ------------------------- unbounded shortestPath witnesses

  test("nodes(p) on an unbounded shortestPath (parent-pointer witnesses)") {
    // source-anchored: the BFS records one parent pointer per pair;
    // the walk back rebuilds the witness (the p1→p4 1999 shortcut
    // beats the 3-hop chain)
    val r = rows(
      """MATCH p = shortestPath((a:Person)-[:KNOWS*]->(b:Person))
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS dst, length(p) AS hops,
        |       [n IN nodes(p) | n.Name] AS names
        |ORDER BY dst""".stripMargin)
      .map(x => (x.getString(0), x.getLong(1), x.getSeq[String](2)))
    assert(r == Seq(
      ("Kevin Bacon", 2L, Seq("Tom Hanks", "Meg Ryan", "Kevin Bacon")),
      ("Meg Ryan", 1L, Seq("Tom Hanks", "Meg Ryan")),
      ("Rob Reiner", 1L, Seq("Tom Hanks", "Rob Reiner"))))
    // destination-anchored: reversed BFS, node order restored
    val r2 = rows(
      """MATCH p = shortestPath((a:Person)-[:KNOWS*]->(b:Person))
        |WHERE b.Name = 'Rob Reiner'
        |RETURN a.Name AS src, [n IN nodes(p) | n.Name] AS names
        |ORDER BY src""".stripMargin)
      .map(x => (x.getString(0), x.getSeq[String](1)))
    assert(r2 == Seq(
      ("Kevin Bacon", Seq("Kevin Bacon", "Rob Reiner")),
      ("Meg Ryan", Seq("Meg Ryan", "Kevin Bacon", "Rob Reiner")),
      ("Tom Hanks", Seq("Tom Hanks", "Rob Reiner"))))
    // zero-hop identity rows witness the single endpoint
    val r0 = rows(
      """MATCH p = shortestPath((a:Person)-[:KNOWS*0..]->(b:Person))
        |WHERE a.Name = 'Kevin Bacon' AND a.id = b.id
        |RETURN length(p) AS hops, [n IN nodes(p) | n.Name] AS names"""
        .stripMargin)
    assert(r0.map(x => (x.getLong(0), x.getSeq[String](1))) ==
      Seq((0L, Seq("Kevin Bacon"))))
    // witness elements are full entity structs (UNWIND + properties)
    val r3 = rows(
      """MATCH p = shortestPath((a:Person)-[:KNOWS*]->(b:Person))
        |WHERE a.Name = 'Meg Ryan' AND b.Name = 'Rob Reiner'
        |UNWIND nodes(p) AS n
        |RETURN n.Name AS nm, n.Born AS born ORDER BY nm""".stripMargin)
      .map(x => (x.getString(0),
        if (x.isNullAt(1)) None else Some(x.getInt(1))))
    assert(r3 == Seq(("Kevin Bacon", Some(1958)),
      ("Meg Ryan", Some(1961)), ("Rob Reiner", None)))
    // relationships(p) rides the same witness machinery: one edge
    // struct per hop, in path order, pattern-direction aware
    val r4 = rows(
      """MATCH p = shortestPath((a:Person)-[:KNOWS*]->(b:Person))
        |WHERE a.Name = 'Tom Hanks' AND b.Name = 'Kevin Bacon'
        |RETURN [r IN relationships(p) | r.Since] AS sinces""".stripMargin)
    assert(r4.map(_.getSeq[Int](0)) == Seq(Seq(2010, 2015)))
    // `<-` pattern: arrays read in PATTERN order (anti-edge)
    val r5 = rows(
      """MATCH p = shortestPath((a:Person)<-[:KNOWS*]-(b:Person))
        |WHERE a.Name = 'Kevin Bacon' AND b.Name = 'Tom Hanks'
        |RETURN [n IN nodes(p) | n.Name] AS names,
        |       [r IN relationships(p) | r.Since] AS sinces""".stripMargin)
    assert(r5.map(x => (x.getSeq[String](0), x.getSeq[Int](1))) ==
      Seq((Seq("Kevin Bacon", "Meg Ryan", "Tom Hanks"),
        Seq(2015, 2010))))
    // allShortestPaths witnesses materialize since round 14 (σ=1 on
    // this graph: the p1→p4 shortcut beats the 3-hop chain)
    val rall = rows(
      """MATCH p = allShortestPaths((a:Person)-[:KNOWS*]->(b:Person))
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS bn,
        |       reduce(s = '', n IN nodes(p) | s + '|' + n.Name) AS ns
        |ORDER BY bn""".stripMargin)
      .map(x => (x.getString(0), x.getString(1)))
    assert(rall == Seq(
      ("Kevin Bacon", "|Tom Hanks|Meg Ryan|Kevin Bacon"),
      ("Meg Ryan", "|Tom Hanks|Meg Ryan"),
      ("Rob Reiner", "|Tom Hanks|Rob Reiner")))
    // OPTIONAL MATCH: witness arrays null-fill on the miss
    val r6 = rows(
      """MATCH (a:Person) WHERE a.Name IN ['Tom Hanks', 'Rob Reiner']
        |OPTIONAL MATCH p = shortestPath((a)-[:KNOWS*]->(b:Person))
        |RETURN a.Name AS nm, length(p) AS h,
        |       [n IN nodes(p) | n.Name] AS ns
        |ORDER BY nm, h""".stripMargin)
    val rob = r6.filter(_.getString(0) == "Rob Reiner")
    assert(rob.size == 1 && rob.head.isNullAt(1) && rob.head.isNullAt(2))
    assert(r6.count(_.getString(0) == "Tom Hanks") == 3)
  }

  // ------------------------------------------- time-of-day types

  test("time()/localtime(): literals, maps, components, comparisons") {
    val r = rows(
      """WITH time('13:45:06') AS t, localtime('06:30:00') AS lt,
        |     time({hour: 13, minute: 45, second: 6}) AS tm,
        |     time('13:45:06.250') AS tms
        |RETURN t.hour AS h, t.minute AS m, t.second AS s,
        |       t = tm AS eq, t > lt AS gt, hour(lt) AS lh,
        |       tms.millisecond AS ms""".stripMargin).head
    assert(r.getInt(0) == 13 && r.getInt(1) == 45 && r.getInt(2) == 6)
    assert(r.getBoolean(3) && r.getBoolean(4))
    assert(r.getInt(5) == 6)
    assert(r.getInt(6) == 250)
    // a zone offset on time() normalizes to the UTC time of day,
    // wrapping across midnight
    val r2 = rows(
      """RETURN time('13:45:06+02:00') AS a, time('01:00:00+03:00') AS b,
        |       time('23:00:00-02:00') AS c""".stripMargin).head
    assert(r2.get(0) == java.time.Duration.parse("PT11H45M6S"))
    assert(r2.get(1) == java.time.Duration.parse("PT22H"))  // wraps back
    assert(r2.get(2) == java.time.Duration.parse("PT1H"))   // wraps fwd
    // duration arithmetic composes natively
    val r3 = rows(
      """WITH time('10:00:00') AS t
        |RETURN t + duration('PT90M') AS shifted""".stripMargin).head
    assert(r3.get(0) == java.time.Duration.parse("PT11H30M"))
    // typed rejections: offset on localtime, malformed literal,
    // non-time component access, non-time millisecond()
    intercept[CypherSyntaxException](rows(
      "RETURN localtime('13:00:00+01:00') AS x"))
    intercept[CypherSyntaxException](rows("RETURN time('25:99') AS x"))
    intercept[CypherBindingException](rows(
      "WITH time('10:00:00') AS t RETURN t.year AS x"))
    intercept[CypherTypeException](rows(
      "WITH date('2024-01-01') AS d RETURN millisecond(d) AS x"))
    intercept[CypherSyntaxException](rows(
      "RETURN time({minute: 5}) AS x"))
  }

  // ------------------------------------------ quantified path patterns

  test("QPP: ((a)-[:R]->(b)){m,n} ≡ [*m..n]; rel predicate per hop") {
    // bare quantifier is pure var-length sugar
    val qpp = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)){1,3} (b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS n ORDER BY n""".stripMargin).map(_.getString(0))
    val classic = rows(
      """MATCH (a:Person)-[:KNOWS*1..3]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS n ORDER BY n""".stripMargin).map(_.getString(0))
    assert(qpp == classic && qpp.nonEmpty)
    // per-repetition REL predicate ≡ the [*… WHERE …] spelling: the
    // 1999 p1→p4 shortcut disappears under Since >= 2010
    val qpp2 = rows(
      """MATCH (a:Person) ((x)-[k:KNOWS]->(y) WHERE k.Since >= 2010){1,3}
        |(b:Person) WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS n ORDER BY n""".stripMargin).map(_.getString(0))
    val classic2 = rows(
      """MATCH (a:Person)-[k:KNOWS*1..3 WHERE k.Since >= 2010]->(b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS n ORDER BY n""".stripMargin).map(_.getString(0))
    assert(qpp2 == classic2)
    assert(qpp2.sorted == Seq("Kevin Bacon", "Meg Ryan", "Rob Reiner"))
    // exact {2} and unbounded + quantifiers
    val exact2 = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)){2} (b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS n ORDER BY n""".stripMargin).map(_.getString(0))
    assert(exact2 == Seq("Kevin Bacon"))
    val plus = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y))+ (b:Person)
        |WHERE a.Name = 'Kevin Bacon'
        |RETURN b.Name AS n ORDER BY n""".stripMargin).map(_.getString(0))
    assert(plus == Seq("Rob Reiner"))
  }

  test("QPP: interior NODE predicates apply per repetition (GQL)") {
    // dst-node predicate: every repetition's target must satisfy it —
    // interior nodes are dst of one repetition and src of the next,
    // so both group predicates apply to them (GQL's semantics)
    val got = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y) WHERE y.Born >= 1958){1,3}
        |(b:Person) WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS n ORDER BY n""".stripMargin).map(_.getString(0))
    // edges kept by dst.Born >= 1958: p1->p2 (1961), p2->p3 (1958);
    // p3->p4 and p1->p4 drop (p4 Born null). Reachable from p1 in
    // 1..3 hops: p2, p3
    assert(got == Seq("Kevin Bacon", "Meg Ryan"))
    // src+dst predicates combine on the same hop row
    val got2 = rows(
      """MATCH (a:Person)
        |((x)-[:KNOWS]->(y) WHERE x.Born <= 1958 AND y.Born >= 1958)
        |{1,2} (b:Person) WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS n ORDER BY n""".stripMargin).map(_.getString(0))
    // src.Born <= 1958 keeps hops from p1 (1956) and p3 (1958); dst
    // filter as above -> kept edges: p1->p2 only (p3->p4 dst null).
    assert(got2 == Seq("Meg Ryan"))
    // group-node LABELS validate; a declared sub-label becomes its
    // discriminator conjunct (Sixties = Born 1961 keeps only dst p2)
    val got3 = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y:Sixties)){1,3} (b:Person)
        |WHERE a.Name = 'Tom Hanks'
        |RETURN b.Name AS n ORDER BY n""".stripMargin).map(_.getString(0))
    assert(got3 == Seq("Meg Ryan"))
    intercept[CypherBindingException](rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y:Movie)){1,3} (b:Person)
        |RETURN b.Name AS n""".stripMargin))
  }

  test("QPP: quantifier bounds and typed rejections") {
    // {0,k} unrolls the zero-hop identity branch
    val r0 = rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)){0,1} (b:Person)
        |WHERE a.Name = 'Kevin Bacon'
        |RETURN b.Name AS n ORDER BY n""".stripMargin).map(_.getString(0))
    assert(r0 == Seq("Kevin Bacon", "Rob Reiner"))
    // unbounded {2,} lowers like [*2..] (round 17): pairs with some
    // chain of length >= 2 — the KNOWS DAG's three such pairs
    assert(rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)){2,} (b:Person)
        |RETURN a.Name AS an, b.Name AS n ORDER BY an, n"""
        .stripMargin)
      .map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Meg Ryan", "Rob Reiner"), ("Tom Hanks", "Kevin Bacon"),
        ("Tom Hanks", "Rob Reiner")))
    // predicated group + {2,}: the HopPred-filtered frame feeds the
    // same [*2..] lowering (Since >= 2010 drops the 1999 shortcut;
    // the surviving unit chain holds the same three >= 2 pairs)
    assert(rows(
      """MATCH (a:Person)
        |  ((x)-[k:KNOWS]->(y) WHERE k.Since >= 2010){2,} (b:Person)
        |RETURN a.Name AS an, b.Name AS n ORDER BY an, n"""
        .stripMargin)
      .map(x => (x.getString(0), x.getString(1))) ==
      Seq(("Meg Ryan", "Rob Reiner"), ("Tom Hanks", "Kevin Bacon"),
        ("Tom Hanks", "Rob Reiner")))
    // upper bound beyond MaxVarHops rejected like [*1..99]
    intercept[CypherNotSupportedException](rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y)){1,99} (b:Person)
        |RETURN b.Name AS n""".stripMargin))
    // multi-rel groups are SUPPORTED since round 13 (composite edge
    // frame) — covered by the dedicated test above; the lowering
    // contract check here: a var-length INSIDE a group stays typed
    intercept[CypherNotSupportedException](rows(
      """MATCH (a:Person) ((x)-[:KNOWS*1..2]->(y)-[:KNOWS]->(z)){1,2}
        |(b:Person) RETURN b.Name AS n""".stripMargin))
    // a predicate referencing an OUTER variable is the ordinary
    // unknown-variable error (group predicates see one hop only)
    intercept[CypherBindingException](rows(
      """MATCH (a:Person) ((x)-[:KNOWS]->(y) WHERE y.Born > a.Born)
        |{1,2} (b:Person) RETURN b.Name AS n""".stripMargin))
  }

  // ------------------------- multi-pattern / path CREATE, multi DELETE

  test("path CREATE: one clause per edge, chained read-backs") {
    // a 2-edge path in ONE clause; RETURN sees every binding of the
    // whole path (the innermost clause's accumulated read-back)
    val r = rows(
      """MATCH (a:Person) WHERE a.Name = 'Tom Hanks'
        |MATCH (b:Person) WHERE b.Name = 'Meg Ryan'
        |MATCH (c:Person) WHERE c.Name = 'Kevin Bacon'
        |CREATE (a)-[f:FOLLOWS]->(b)-[k:KNOWS {Since: 2031}]->(c)
        |RETURN a.Name AS an, b.Name AS bn, c.Name AS cn,
        |       k.Since AS s""".stripMargin)
    assert(r.map(x => (x.getString(0), x.getString(1), x.getString(2),
      x.getInt(3))) == Seq(("Tom Hanks", "Meg Ryan", "Kevin Bacon", 2031)))
    // without RETURN the result is the INNERMOST clause's snapshot —
    // here the knows table with the appended row
    val snap = rows(
      """MATCH (a:Person) WHERE a.Name = 'Tom Hanks'
        |MATCH (b:Person) WHERE b.Name = 'Meg Ryan'
        |MATCH (c:Person) WHERE c.Name = 'Kevin Bacon'
        |CREATE (a)-[f:FOLLOWS]->(b)-[k:KNOWS {Since: 2031}]->(c)"""
        .stripMargin)
    assert(snap.exists(x => x.getString(0) == "p2" &&
      x.getString(1) == "p3" && x.getInt(2) == 2031))
    // an interior id-map endpoint binds on its FIRST edge; the next
    // edge reads the binding (a standalone full-path ingest)
    val r2 = rows(
      """CREATE (x:Person {id: 'p1'})-[f:FOLLOWS]->
        |(y:Person {id: 'p2'})-[k:KNOWS {Since: 7}]->(z:Person {id: 'p3'})
        |RETURN x.Name AS xn, y.Name AS yn, z.Name AS zn""".stripMargin)
    assert(r2.map(x => (x.getString(0), x.getString(1), x.getString(2))) ==
      Seq(("Tom Hanks", "Meg Ryan", "Kevin Bacon")))
    // multiple comma patterns chain the same way
    val r3 = rows(
      """MATCH (a:Person) WHERE a.Name = 'Tom Hanks'
        |MATCH (b:Person) WHERE b.Name = 'Meg Ryan'
        |CREATE (a)-[f:FOLLOWS]->(b), (b)-[k:KNOWS {Since: 5}]->(a)
        |RETURN k.Since AS s""".stripMargin)
    assert(r3.size == 1 && r3.head.getInt(0) == 5)
    // two creates into the SAME backing table keep the one-snapshot
    // guard
    intercept[CypherNotSupportedException](rows(
      """MATCH (a:Person) WHERE a.Name = 'Tom Hanks'
        |MATCH (b:Person) WHERE b.Name = 'Meg Ryan'
        |MATCH (c:Person) WHERE c.Name = 'Kevin Bacon'
        |CREATE (a)-[f:FOLLOWS]->(b)-[g:FOLLOWS]->(c)""".stripMargin))
  }

  test("SET a.p, r.q: multi-variable SET in one clause (round 16)") {
    // node + relationship in one SET — one clause per variable
    // (first-appearance order), terminal result = INNERMOST
    // (relationship) snapshot
    val r = rows(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |WHERE m.Title = 'Sleepless in Seattle'
        |SET p.Born = 2000, r.Rating = 1""".stripMargin)
      .map(x => (x.getString(0), x.getString(1), x.getInt(3)))
      .sortBy(t => (t._1, t._2))
    assert(r == Seq(("p5", "m1", 1), ("p5", "m3", 85)))
    // RETURN reads the UPDATED values of every variable
    val r2 = rows(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |WHERE m.Title = 'Sleepless in Seattle'
        |SET p.Born = 2000, r.Rating = 1
        |RETURN p.Born AS b, r.Rating AS rt""".stripMargin)
    assert(r2.map(x => (x.getInt(0), x.getInt(1))) == Seq((2000, 1)))
    // chain contract: a later variable's rhs reads the earlier
    // variable's UPDATE (documented divergence from Neo4j's
    // clause-entry snapshot reads)
    val r3 = rows(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |WHERE m.Title = 'Sleepless in Seattle'
        |SET p.Born = 2000, r.Rating = p.Born - 1999
        |RETURN r.Rating AS rt""".stripMargin)
    assert(r3.map(_.getInt(0)) == Seq(1))
    // non-contiguous items of one variable fold into its clause
    val r4 = rows(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |WHERE m.Title = 'Sleepless in Seattle'
        |SET p.Born = 1999, r.Rating = 3, p.Name = 'J2'
        |RETURN p.Born AS b, p.Name AS n, r.Rating AS rt""".stripMargin)
    assert(r4.map(x => (x.getInt(0), x.getString(1), x.getInt(2))) ==
      Seq((1999, "J2", 3)))
    // multi-variable REMOVE: null writes per variable
    val rm = rows(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |WHERE m.Title = 'Sleepless in Seattle'
        |REMOVE p.Born, r.Summary
        |RETURN p.Born AS b, r.Summary AS s""".stripMargin).head
    assert(rm.isNullAt(0) && rm.isNullAt(1))
    // mixed SET then REMOVE on distinct tables composes as a chain
    val mix = rows(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |WHERE m.Title = 'Sleepless in Seattle'
        |SET p.Born = 1988
        |REMOVE r.Summary
        |RETURN p.Born AS b, r.Summary AS s""".stripMargin).head
    assert(mix.getInt(0) == 1988 && mix.isNullAt(1))
    // duplicate property within one variable's group stays typed
    val dup = intercept[CypherBindingException](rows(
      """MATCH (p:Person)-[r:REVIEWED]->(m:Movie)
        |SET p.Born = 1, r.Rating = 2, p.Born = 3""".stripMargin))
    assert(dup.getMessage.contains("twice"))
  }

  test("DELETE n, r: one clause per variable over pre-delete frames") {
    // delete a review edge and its reviewer together (distinct
    // backing tables); the result is the INNERMOST snapshot (person)
    val r = rows(
      """MATCH (p:Person)-[rv:REVIEWED]->(m:Movie)
        |WHERE m.Title = 'Sleepless in Seattle'
        |DETACH DELETE rv, p""".stripMargin)
      .map(_.getString(1)).sorted
    assert(r == Seq("Kevin Bacon", "Meg Ryan", "Rob Reiner", "Tom Hanks"))
    // RETURN reads the PRE-delete values of every variable
    val r2 = rows(
      """MATCH (p:Person)-[rv:REVIEWED]->(m:Movie)
        |WHERE m.Title = 'Sleepless in Seattle'
        |DETACH DELETE rv, p
        |RETURN p.Name AS nm, rv.Rating AS rt""".stripMargin)
    assert(r2.map(x => (x.getString(0), x.getInt(1))) ==
      Seq(("Jessica Thompson", 95)))
    // two deletes on the SAME backing table keep the guard
    intercept[CypherNotSupportedException](rows(
      """MATCH (a:Person)-[:FOLLOWS]->(b:Person)
        |DETACH DELETE a, b""".stripMargin))
  }

  // ------------------------------------------------- map projections

  test("map projection: .prop, computed key, variable selector, .*") {
    val r = rows(
      """MATCH (m:Movie) WHERE m.Title = 'Apollo 13'
        |WITH 7 AS bonus, m
        |RETURN m {.Title, score: m.Released + bonus, bonus} AS mp
        |""".stripMargin).head.getStruct(0)
    assert(r.getString(0) == "Apollo 13")  // .Title
    assert(r.getInt(1) == 2002)            // score: Released + bonus
    assert(r.getInt(2) == 7)               // variable selector
    // .* expands all declared properties (id first, declared order);
    // explicit keys override the star's copy and keep written position
    val r2 = rows(
      """MATCH (m:Movie) WHERE m.Title = 'Apollo 13'
        |RETURN m {.*, Title: 'override'} AS mp""".stripMargin)
      .head.getStruct(0)
    assert(r2.schema.fieldNames.toSeq ==
      Seq("id", "Tagline", "Released", "Title"))
    assert(r2.getString(3) == "override")
    assert(r2.getInt(2) == 1995)
  }

  test("map projection: dot access back, maps, null entity -> NULL") {
    // the projected struct round-trips through WITH dot access
    val r = rows(
      """MATCH (m:Movie) WITH m {.Title, .Released} AS mp
        |WHERE mp.Released >= 1995
        |RETURN mp.Title AS t ORDER BY t""".stripMargin)
      .map(_.getString(0))
    assert(r == Seq("Apollo 13", "You've Got Mail"))
    // map-valued variables project too, star included
    val r2 = rows(
      "WITH {a: 1, b: 'x'} AS m RETURN m {.*, c: 2} AS r").head.getStruct(0)
    assert(r2.schema.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(r2.getInt(0) == 1 && r2.getString(1) == "x" &&
      r2.getInt(2) == 2)
    // an OPTIONAL MATCH miss projects NULL, not a struct of nulls
    val r3 = rows(
      """MATCH (p:Person) WHERE p.Name = 'Rob Reiner'
        |OPTIONAL MATCH (p)-[:ACTED_IN]->(m:Movie)
        |RETURN m {.Title, .Released} AS mp""".stripMargin)
    assert(r3.size == 1 && r3.head.isNullAt(0))
  }

  test("map projection: typed rejections and parity-mode rejection") {
    // duplicate key
    intercept[CypherSyntaxException](rows(
      "MATCH (m:Movie) RETURN m {.Title, Title: 'x'} AS r"))
    // empty projection
    intercept[CypherSyntaxException](rows(
      "MATCH (m:Movie) RETURN m { } AS r"))
    // non-map value
    intercept[CypherTypeException](rows(
      "WITH 1 AS v RETURN v {.a} AS r"))
    // path variable
    intercept[CypherBindingException](rows(
      """MATCH p = (a:Person)-[:FOLLOWS*1..2]->(b:Person)
        |RETURN p {.x} AS r""".stripMargin))
    // parity mode keeps the reference's no-map surface
    val paritySession = new CypherSession(spark, MovieFixture.catalog(spark))
    intercept[CypherNotSupportedException](
      paritySession.run("MATCH (m:Movie) RETURN m {.Title} AS r"))
  }
}
