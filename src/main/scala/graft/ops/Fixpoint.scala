package graft.ops

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftSqlBridge,
  Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.functions.{col, lit, struct}
import org.apache.spark.sql.types.{DataType, NullType, StructType}

/**
 * Spark-core kernel for frontier loops and parent-pointer walks — the
 * split Shark (SIGMOD 2013) runs SQL and iterative analytics on:
 * DataFrames at the loop boundary, pair RDDs inside. A loop enters from
 * a DataFrame once ([[rows]]), runs every round as ONE job and leaves
 * through `createDataFrame` ([[frame]]), so a round pays no Catalyst
 * analysis, planning, AQE stage jobs or whole-stage codegen.
 *
 * Every iterative loop is one [[loop]] of [[Frontier]] closures. Its
 * state rule (`Frontier.merge`) meets a round's combined candidate with
 * its key's entry: written only when absent (first discovery: the reach
 * BFS, allShortestPaths σ, `GraphOps.hops` for `bfsDistances`, harmonic
 * centrality and the DAG check's cone), replaced when better
 * (`weightedSssp`), accumulated (`GraphOps.peel`: k-cores, the DAG
 * check's Kahn peel), or no merge, a level per round (the k-level σ DP,
 * `ssspRoutes`). A loop whose starts are entries themselves runs from a
 * [[Root]] ([[rooted]]).
 *
 * Anatomy of a round:
 *  - the edge set is grouped per source node ONCE into one hash map
 *    per partition, hash-partitioned by node ([[graph]]), at a width
 *    sized from its measured edge count;
 *  - the frontier is extended by map lookups on its nodes' edge
 *    partitions ([[expand]]) — a round reads the frontier's own edges,
 *    and the edge set never moves again;
 *  - candidates combine per key (`reduceByKey`/`groupByKey` onto the
 *    loop's [[NodePartitioner]], the round's one shuffle: it places a
 *    (src, node) pair by its node, so the new pairs land where the
 *    next round extends them);
 *  - [[settle]] merges them into the loop's co-partitioned state, one
 *    entry per key (a narrow dependency: the state never shuffles);
 *  - the round's job local-checkpoints the new state and takes its
 *    written and growing entry counts, plus one summed and one maxed
 *    per-entry measure.
 *
 * A dense loop, writing every node every round, is a [[power]]
 * iteration (PageRank plain, personalized and weighted, HITS, the
 * Markov stationary distribution): the same grouped adjacency, a vector
 * RDD co-partitioned with it, one push-and-combine job per round.
 *
 * Loops without a graph use the tagged job alone: the model loops of
 * [[Similarity]] (k-means, power iteration, farthest-point picks)
 * local-checkpoint their corpus in a first [[run]], then [[job]] once
 * per round against a driver-held iterate.
 *
 * Walks ([[walk]]) follow the same shape: parent entries are indexed
 * once per partition, each step shuffles only the rows still walking to
 * the index, and finished rows leave the loop. On the cluster a walk's
 * paths resolve into element structs ([[resolve]]) the same way: the
 * dimension rows are indexed once per partition and the paths'
 * positions shuffle to them.
 *
 * Executors: [[loop]] and [[walk]] run the same closures either on the
 * cluster or in driver memory, by where their input [[Rows]] are held
 * ([[Dist]] or [[Local]]). In driver memory a loop runs no job at all:
 * the collected edges group into one map, the state updates in place,
 * and a round costs its frontier plus its new entries.
 *
 * Ids are plain JVM values compared by `equals`/`hashCode`: longs,
 * strings, and struct ids as schema-free [[Row]]s. Callers cast the id
 * columns of one loop to a single type first ([[commonType]]), because
 * an `Int` 5 and a `Long` 5 are different keys.
 *
 * Memory: the working state lives in JVM hash maps, which do not spill
 * to disk the way the DataFrame joins' sort-merge does. A task holds
 * one partition of the edge maps (about the session's advisory shuffle
 * partition size once [[graph]] has sized the loop), one partition of a
 * round's combined candidates ([[settle]]; the state itself streams),
 * or one partition of a walk's parent index ([[walk]], at the
 * session's shuffle width). A hub whose candidates or parents outgrow
 * task memory fails with an out-of-memory error. Loop state between
 * rounds sits in local checkpoints, which may spill; a superseded
 * round's checkpoint is freed by Spark's context cleaner once the
 * loop drops it (an explicit unpersist would log a warning per round).
 */
object Fixpoint {

  /** Local job property a kernel job carries: `<loop>:<round>` (or
    * `<loop>:edges`, `<loop>:start`). Within one loop run every value
    * names exactly one job, so a listener can tell kernel rounds from
    * any other job. */
  val RoundProperty = "graft.fixpoint.round"

  /** The entries a loop round wrote: their count plus the sum and the
    * max of two non-negative per-entry measures. The sum saturates at
    * `Long.MaxValue`. */
  final case class Stats(rows: Long, sum: Long, max: Long)

  /** `a + b` for non-negative longs, saturating at `Long.MaxValue`. */
  def addSat(a: Long, b: Long): Long = {
    val s = a + b
    if (s < 0) Long.MaxValue else s
  }

  /** A loop's out-edges grouped per source node, held where the loop
    * runs. `sum` is the build's summed measure (the edge count unless
    * the caller measured something else). */
  sealed trait Edges[E] { def sum: Long }

  /** Adjacency of a cluster loop: one `node → out-edges` map per
    * partition of `part`. */
  final class Graph[E](val adj: RDD[mutable.HashMap[Any, Array[E]]],
      val part: Partitioner, val sum: Long) extends Edges[E]

  /** Adjacency of a driver loop: one map, and the cap of its rows. */
  final class LocalGraph[E](val adj: collection.Map[Any, Array[E]],
      val sum: Long, val cap: Long) extends Edges[E]

  /** Heap bytes one grouped out-edge is budgeted at: a reference plus a
    * boxed id. [[graph]] sizes edge partitions by it. */
  private val EdgeBytes = 64L

  /** The base loop partitioner, as wide as the session's shuffle
    * partition count (the width of the DataFrame plans it replaces). */
  def partitioner(spark: SparkSession): Partitioner =
    new NodePartitioner(math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions").toInt))

  /** Hash partitioner that places a (src, node) pair key by its NODE
    * and any other key by its own hash. A loop's pair state then sits
    * on the edge partitions of the nodes it extends from, so turning it
    * into the next round's frontier, keyed by node, needs no shuffle. */
  final class NodePartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key match {
      case (_, node) => place(node)
      case k         => place(k)
    }
    private def place(k: Any): Int =
      if (k == null) 0
      else {
        val m = k.hashCode % numPartitions
        if (m < 0) m + numPartitions else m
      }
    override def equals(o: Any): Boolean = o match {
      case p: NodePartitioner => p.numPartitions == numPartitions
      case _                  => false
    }
    override def hashCode: Int = numPartitions
  }

  /** The type every id column of one loop is cast to: Spark's wider
    * common type of `types` (the type a join between them compares
    * in). */
  def commonType(types: DataType*): DataType =
    TypeCoercion.findWiderCommonType(types.distinct).getOrElse(
      throw new IllegalArgumentException(
        s"no common type for loop ids: ${types.mkString(", ")}"))

  /** `c` cast to `t` unless it already has that type. */
  def castTo(df: DataFrame, c: String, t: DataType): Column =
    if (df.schema(c).dataType == t) col(c) else col(c).cast(t)

  /** The loop's entry: `df`'s rows as arrays of plain values (nested
    * struct values become schema-free rows, so shuffles do not carry a
    * schema per id). */
  private[ops] def values(df: DataFrame): RDD[Array[Any]] =
    df.rdd.map(r => Array.tabulate[Any](r.length)(i => plain(r.get(i))))

  private def plain(v: Any): Any = v match {
    case r: Row => Row.fromSeq(r.toSeq.map(plain))
    case x      => x
  }

  /** Thrown when a [[Local]] loop, walk or expansion outgrows its cap,
    * or when one of its closures overflows a long: the caller reruns it
    * on the cluster, which owns that error. Never user-visible. */
  final class DriverOverflow extends RuntimeException(null, null, false, false)

  /** A loop's rows, held where the loop runs: [[Dist]] on the cluster,
    * [[Local]] in driver memory. */
  sealed trait Rows[T] {
    def map[U: ClassTag](f: T => U): Rows[U]
    def flatMap[U: ClassTag](f: T => IterableOnce[U]): Rows[U]
  }

  final case class Dist[T](rdd: RDD[T]) extends Rows[T] {
    def map[U: ClassTag](f: T => U): Rows[U] = Dist(rdd.map(f))
    def flatMap[U: ClassTag](f: T => IterableOnce[U]): Rows[U] =
      Dist(rdd.flatMap(f))
  }

  /** Rows in driver memory, at most `cap` of them: an expansion past
    * `cap` throws [[DriverOverflow]]. */
  final case class Local[T](rows: collection.Seq[T], cap: Long)
      extends Rows[T] {
    def map[U: ClassTag](f: T => U): Rows[U] = Local(rows.map(f), cap)
    def flatMap[U: ClassTag](f: T => IterableOnce[U]): Rows[U] = {
      val out = mutable.ArrayBuffer.empty[U]
      rows.foreach(t => f(t).iterator.foreach { u =>
        out += u
        if (out.size > cap) throw new DriverOverflow
      })
      Local(out, cap)
    }
  }

  /** `df`'s rows as arrays of values: collected into driver memory
    * under cap `c` when `driver` is `Some(c)` (a LocalRelation collects
    * without a job; struct values stay as collected, since nothing
    * shuffles them), else distributed ([[values]]). */
  def rows(df: DataFrame, driver: Option[Long]): Rows[Array[Any]] =
    driver match {
      case Some(cap) => Local(mutable.ArraySeq.make(df.collect()
        .map(r => Array.tabulate[Any](r.length)(r.get))), cap)
      case None => Dist(values(df))
    }

  /** The loop's exit: `rows` as a DataFrame of `schema` — a
    * LocalRelation for driver rows (no job, and a later admission reads
    * its size from the plan), else a scan of the RDD. */
  def frame(spark: SparkSession, rows: Rows[Row], schema: StructType)
      : DataFrame = rows match {
    case Dist(rdd)    =>
      spark.createDataFrame(rdd, schema)
    case Local(rs, _) =>
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rs.asJava, schema)
  }

  /** `a` and `b`, held where both are. */
  def union[T: ClassTag](a: Rows[T], b: Rows[T]): Rows[T] = a match {
    case Dist(x)       => Dist(x.union(rdd(b)))
    case Local(x, cap) => Local(x ++ seq(b), cap)
  }

  /** `rows` grouped by key where they are held, each key `k` with its
    * values `as` turned into `f(k, as)`: one shuffle onto the loop width
    * ([[partitioner]]) on the cluster, run by the job that reads the
    * result; one map in driver memory. */
  def regroup[A: ClassTag, B: ClassTag](rows: Rows[(Any, A)],
      spark: SparkSession)(
      f: (Any, collection.Seq[A]) => IterableOnce[B]): Rows[B] = rows match {
    case Dist(rdd) =>
      Dist(rdd.groupByKey(partitioner(spark))
        .flatMap { case (k, as) => f(k, as.toSeq) })
    case Local(rs, cap) =>
      Local(grouped(rs.iterator)((as: collection.Seq[A]) => as).toSeq, cap)
        .flatMap { case (k, as) => f(k, as) }
  }

  /** The key of a rooted loop's root ([[rooted]]); no id equals it. */
  case object Root

  /** `edges` plus one out-edge [[Root]] → `start(s)` per start `s`, and
    * the seeds of a loop from the root (the root once per start, which
    * the loop counts once): seeded there, a loop's round 0 writes the
    * starts' own entries. */
  def rooted[S, A: ClassTag](edges: Rows[(Any, A)], starts: Rows[S])(
      start: S => A): (Rows[(Any, A)], Rows[Any]) =
    (union(edges, starts.map(s => (Root: Any, start(s)))),
      starts.map(_ => Root))

  private def rdd[T](r: Rows[T]): RDD[T] = r match {
    case Dist(rdd) => rdd
    case _         => throw new IllegalArgumentException(
      "a loop mixes driver and cluster rows")
  }

  private def seq[T](r: Rows[T]): collection.Seq[T] = r match {
    case Local(rs, _) => rs
    case _            => throw new IllegalArgumentException(
      "a loop mixes driver and cluster rows")
  }

  /** Local-checkpoints `rdd` and materializes it in ONE job tagged
    * `tag` ([[job]]), returning `f` of each partition's rows. */
  private[ops] def run[T, A: ClassTag](rdd: RDD[T], tag: String)(
      f: Iterator[T] => A): Array[A] = {
    rdd.localCheckpoint()
    job(rdd, tag)(f)
  }

  /** ONE job over `rdd` carrying [[RoundProperty]] `tag`, returning `f`
    * of each partition's rows. */
  private[ops] def job[T, A: ClassTag](rdd: RDD[T], tag: String)(
      f: Iterator[T] => A): Array[A] = {
    val sc = rdd.sparkContext
    val prev = sc.getLocalProperty(RoundProperty)
    sc.setLocalProperty(RoundProperty, tag)
    try sc.runJob(rdd, f) finally sc.setLocalProperty(RoundProperty, prev)
  }

  /** [[run]] returning the (saturating) sum of each of the `sums` and
    * the max of `max` over the rows (0 for an empty RDD). */
  private def materialize[T](rdd: RDD[T], tag: String)(sums: (T => Long)*)(
      max: T => Long): (Seq[Long], Long) = {
    val parts = run(rdd, tag) { it =>
      val s = new Array[Long](sums.length); var m = 0L
      it.foreach { t =>
        var i = 0
        while (i < s.length) { s(i) = addSat(s(i), sums(i)(t)); i += 1 }
        m = math.max(m, max(t))
      }
      (s, m)
    }
    (sums.indices.map(i => parts.map(_._1(i)).foldLeft(0L)(addSat)),
      parts.map(_._2).maxOption.getOrElse(0L))
  }

  /** Groups `edges` (source → edge payload) into a loop's adjacency
    * where they are held. `group` folds a node's raw payloads into its
    * out-edges (dedup, multiplicity); `measure` is summed over every
    * node's out-edges into [[Edges.sum]]. In driver memory the
    * out-edges group into one map, with no job. On the cluster they
    * group into per-partition adjacency maps — ONE shuffle and one job
    * (`<name>:edges`) for the whole loop. The build runs at the base
    * [[partitioner]] width; when the grouped out-edges, at
    * [[EdgeBytes]] each, average more than the session's
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (default 64 MB,
    * so 2^20^ out-edges) per partition, one more job
    * (`<name>:regroup`) moves the maps onto a width that fits, and the
    * loop runs at that width ([[Graph.part]]). */
  def graph[A: ClassTag, E: ClassTag](name: String, edges: Rows[(Any, A)],
      spark: SparkSession)(group: collection.Seq[A] => Array[E])(
      measure: Array[E] => Long = (es: Array[E]) => es.length.toLong)
      : Edges[E] = edges match {
    case Local(rs, cap) =>
      val m = grouped(rs.iterator)(group)
      new LocalGraph(m, m.valuesIterator.map(measure).sum, cap)
    case Dist(rdd) =>
      val base = partitioner(spark)
      val adj = adjacency(rdd.partitionBy(base))(group)
      val parts = run(adj, s"$name:edges") { it =>
        val m = it.next()
        (m.valuesIterator.map(measure).sum,
          m.valuesIterator.map(_.length.toLong).sum)
      }
      val perPart = math.max(1L, spark.conf
        .getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        .fold(64L << 20)(JavaUtils.byteStringAsBytes) / EdgeBytes)
      val width = (parts.map(_._2).sum + perPart - 1) / perPart
      if (width <= base.numPartitions)
        new Graph(adj, base, parts.map(_._1).sum)
      else {
        val part = new NodePartitioner(math.min(width, Int.MaxValue).toInt)
        val wide = adjacency(adj.flatMap(_.iterator).partitionBy(part))(
          (es: collection.Seq[Array[E]]) => es.head)
        run(wide, s"$name:regroup")(_ => ())
        new Graph(wide, part, parts.map(_._1).sum)
      }
  }

  /** One `node → group(payloads)` map per partition of `pairs`. */
  private def adjacency[A, E](pairs: RDD[(Any, A)])(group: collection.Seq[A] => E)
      : RDD[mutable.HashMap[Any, E]] =
    pairs.mapPartitions(it => Iterator.single(grouped(it)(group)),
      preservesPartitioning = true)

  /** `pairs` as one `key → group(payloads)` map. */
  private def grouped[A, E](pairs: Iterator[(Any, A)])(group: collection.Seq[A] => E)
      : mutable.HashMap[Any, E] = {
    val raw = mutable.HashMap.empty[Any, mutable.ArrayBuffer[A]]
    pairs.foreach { case (k, a) =>
      raw.getOrElseUpdate(k, new mutable.ArrayBuffer[A](4)) += a
    }
    val m = new mutable.HashMap[Any, E](raw.size * 2,
      mutable.HashMap.defaultLoadFactor)
    raw.foreach { case (k, as) => m(k) = group(as) }
    m
  }

  /** The out-edges of `seeds` as (source, edge) rows — every edge of
    * the graph when `seeds` is None. Seeds without out-edges drop out
    * and repeated seeds count once (the semi-join the DataFrame loops
    * ran). */
  private def edgesFrom[E: ClassTag](g: Graph[E], seeds: Option[RDD[Any]])
      : RDD[(Any, E)] = seeds match {
    case None =>
      g.adj.flatMap(_.iterator.flatMap { case (s, es) =>
        es.iterator.map(e => (s, e))
      })
    case Some(sd) =>
      sd.map(s => (s, ())).partitionBy(g.part).zipPartitions(g.adj) {
        (sit, mit) =>
          val m = mit.next()
          val once = mutable.HashSet.empty[Any]
          sit.flatMap { case (s, _) =>
            if (!once.add(s)) Iterator.empty
            else m.get(s).iterator.flatMap(_.iterator.map(e => (s, e)))
          }
      }
  }

  /** One frontier step: every value of `frontier` (node → value) is
    * extended along its node's out-edges by `f(value, node, edge)`. The
    * frontier shuffles to the edge partitions unless it is already
    * partitioned like them. */
  private def expand[V: ClassTag, E, C: ClassTag](frontier: RDD[(Any, V)],
      g: Graph[E])(f: (V, Any, E) => C): RDD[C] =
    frontier.partitionBy(g.part).zipPartitions(g.adj) { (fit, mit) =>
      val m = mit.next()
      fit.flatMap { case (n, v) =>
        m.get(n) match {
          case Some(es) => es.iterator.map(e => f(v, n, e))
          case None     => Iterator.empty
        }
      }
    }

  /** Merges a round's combined candidates (one per key) into the
    * loop's `state` (one entry per key, partitioned like them):
    * `f(candidate, the key's entry)` yields the key's new entry, or
    * None to keep the old one. Returns the merged state, one entry per
    * key, each flagged true when this round wrote it — the round's
    * fresh entries. Narrow: a task holds its candidate partition in a
    * map and streams its state partition past it. */
  private def settle[C: ClassTag, V: ClassTag](cands: RDD[(Any, C)],
      state: RDD[(Any, V)])(f: (C, Option[V]) => Option[V])
      : RDD[(Any, (V, Boolean))] = {
    require(cands.partitioner.isDefined &&
      state.partitioner == cands.partitioner,
      "settle: candidates and state must share one partitioner")
    cands.zipPartitions(state, preservesPartitioning = true) { (cit, sit) =>
      val m = mutable.HashMap.empty[Any, C]
      cit.foreach { case (k, c) => m(k) = c }
      sit.map { case (k, old) =>
        m.remove(k).flatMap(f(_, Some(old))) match {
          case Some(v) => (k, (v, true))
          case None    => (k, (old, false))
        }
      } ++ m.iterator.flatMap { case (k, c) =>
        f(c, None).map(v => (k, (v, true)))
      }
    }
  }

  /** The closures of one frontier loop, stated once for both
    * executors ([[loop]]). The loop's entries are keyed by (src, node)
    * pairs:
    *  - `seed(src, e)`: the entry an out-edge `e` of seed `src` starts;
    *  - `front(src, c)`: what an entry (src, node) → c carries along
    *    its node's out-edges;
    *  - `extend(f, node, e)`: the candidate entry reached along
    *    out-edge `e` of `node`;
    *  - `combine`: merges two candidates with one key (it may update
    *    and return its first argument);
    *  - `merge`, the state rule: `merge(candidate, the key's entry)` is
    *    the key's new entry, or None to keep the old one
    *    ([[firstDiscovery]] writes only when absent); without it, each
    *    round's combined candidates are entries of their own (a level);
    *  - `grows`: whether an entry a round wrote extends in the next;
    *  - `sum`, `max`: the per-entry measures of a round's [[Stats]]. */
  final case class Frontier[E, F, C](
      seed: (Any, E) => (Any, C),
      front: (Any, C) => F,
      extend: (F, Any, E) => (Any, C),
      combine: (C, C) => C,
      merge: Option[(C, Option[C]) => Option[C]] = None,
      grows: C => Boolean = (_: C) => true,
      sum: C => Long = (_: C) => 0L,
      max: C => Long = (_: C) => 0L)

  /** The state rule of a first-discovery loop: a key keeps its first
    * entry. */
  def firstDiscovery[C]: Option[(C, Option[C]) => Option[C]] =
    Some((c: C, old: Option[C]) => if (old.isEmpty) Some(c) else None)

  /** Frontier loop `f` over `g`, from the out-edges of `seeds` (every
    * edge of `g` when None). Round 0 writes the seed entries; round
    * r ≥ 1 extends the entries round r − 1 wrote that grow, and
    * combines the candidates per key; each round writes its combined
    * candidates by `f.merge`. `guard(r, the Stats of the entries round
    * r wrote)` runs on the driver after every round; the loop ends
    * after a round that wrote no growing entry, and calls `diverged`
    * instead of a round past `maxRounds`. Returns every entry with the
    * round that last wrote it.
    *
    * The loop runs where `g` is held. On the cluster each round is ONE
    * job (`<name>:<r>`): the candidates combine onto the loop's
    * [[NodePartitioner]] and [[settle]] into the co-partitioned state.
    * In driver memory a round touches only its frontier and its
    * candidates; after the guard, [[DriverOverflow]] is thrown once the
    * entries plus their summed measure pass the cap. */
  def loop[E: ClassTag, F: ClassTag, C: ClassTag](name: String, g: Edges[E],
      seeds: Option[Rows[Any]], maxRounds: Int)(
      f: Frontier[E, F, C])(guard: (Int, Stats) => Unit)(
      diverged: => Nothing): Rows[(Any, (Int, C))] = g match {
    case d: Graph[E @unchecked] =>
      Dist(distLoop(name, d, seeds.map(rdd), maxRounds, f)(guard)(diverged))
    case l: LocalGraph[E @unchecked] =>
      Local(localLoop(l, seeds.map(seq), maxRounds, f)(guard)(diverged),
        l.cap)
  }

  private def distLoop[E: ClassTag, F: ClassTag, C: ClassTag](name: String,
      g: Graph[E], seeds: Option[RDD[Any]], maxRounds: Int,
      f: Frontier[E, F, C])(guard: (Int, Stats) => Unit)(
      diverged: => Nothing): RDD[(Any, (Int, C))] = {
    // entries flagged true when the last round wrote them
    type State = RDD[(Any, ((Int, C), Boolean))]
    var r = 0
    val levels = mutable.ArrayBuffer.empty[State] // a level per round: each
    // materializes a round; returns how many of its written entries grow
    def settled(next: State): Long = {
      def written(m: C => Long)(e: (Any, ((Int, C), Boolean))): Long =
        if (e._2._2) m(e._2._1._2) else 0L
      val (Seq(n, grown, sum), max) = materialize(next, s"$name:$r")(
        written(_ => 1L), written(c => if (f.grows(c)) 1L else 0L),
        written(f.sum))(written(f.max))
      guard(r, Stats(n, sum, max))
      if (f.merge.isEmpty && (n > 0 || r == 0)) levels += next
      grown
    }
    def write(cands: RDD[(Any, C)], state: State): State = {
      val round = r
      f.merge.fold[State](cands.mapValues(c => ((round, c), true)))(m =>
        settle(cands, state.mapValues(_._1)) { (c, old) =>
          m(c, old.map(_._2)).map((round, _))
        })
    }
    // round 0 meets no entries, partitioned like the edges
    var state = write(edgesFrom(g, seeds)
      .map { case (s, e) => f.seed(s, e) }.reduceByKey(g.part, f.combine),
      g.adj.mapPartitions(_ => Iterator.empty, preservesPartitioning = true))
    var grown = settled(state)
    while (grown > 0) {
      r += 1
      if (r > maxRounds) diverged
      // the growing entries as a frontier keyed by node, in place: the
      // state's partitioner already put each one on its node's partition
      val front = state.mapPartitions(_.collect {
        case ((s, node), ((_, c), true)) if f.grows(c) => (node, f.front(s, c))
      }, preservesPartitioning = true)
      state = write(expand(front, g)(f.extend).reduceByKey(g.part, f.combine),
        state)
      grown = settled(state)
    }
    (if (f.merge.isDefined) state else g.adj.sparkContext.union(levels.toSeq))
      .mapValues(_._1)
  }

  private def localLoop[E, F, C](g: LocalGraph[E],
      seeds: Option[collection.Seq[Any]], maxRounds: Int,
      f: Frontier[E, F, C])(guard: (Int, Stats) => Unit)(
      diverged: => Nothing): collection.Seq[(Any, (Int, C))] = {
    val levels = mutable.ArrayBuffer.empty[(Any, (Int, C))]
    // with a merge rule: one entry per key, in first-write order
    val state = mutable.LinkedHashMap.empty[Any, (Int, C)]
    var r = 0
    var held = 0L
    def offer(cands: mutable.HashMap[Any, C], kc: (Any, C)): Unit =
      cands(kc._1) = cands.get(kc._1).fold(kc._2)(f.combine(_, kc._2))
    // writes a round's candidates; returns the written entries that grow
    def write(cands: mutable.HashMap[Any, C]): collection.Seq[(Any, C)] = {
      var fresh = 0L
      val written = cands.toSeq.flatMap { case (k, c) =>
        val old = state.get(k)
        f.merge.fold(Option(c))(_(c, old.map(_._2))).map { v =>
          if (f.merge.isEmpty) levels += ((k, (r, v))) else state(k) = (r, v)
          if (old.isEmpty) fresh += 1
          (k, v)
        }
      }
      val sum = written.iterator.map(kv => f.sum(kv._2)).foldLeft(0L)(addSat)
      guard(r, Stats(written.size, sum,
        written.iterator.map(kv => f.max(kv._2)).maxOption.getOrElse(0L)))
      held = addSat(held, addSat(fresh, sum))
      if (held > g.cap) throw new DriverOverflow
      written.filter(kv => f.grows(kv._2))
    }
    try {
      val seeded = mutable.HashMap.empty[Any, C]
      seeds.fold(g.adj.keysIterator)(_.iterator.distinct).foreach(s =>
        g.adj.get(s).foreach(_.foreach(e => offer(seeded, f.seed(s, e)))))
      var grown = write(seeded)
      while (grown.nonEmpty) {
        r += 1
        if (r > maxRounds) diverged
        val cands = mutable.HashMap.empty[Any, C]
        grown.foreach { case (k, c) =>
          val (s, node) = k.asInstanceOf[(Any, Any)]
          g.adj.get(node).foreach { es =>
            val v = f.front(s, c)
            es.foreach(e => offer(cands, f.extend(v, node, e)))
          }
        }
        grown = write(cands)
      }
    } catch { case _: ArithmeticException => throw new DriverOverflow }
    if (f.merge.isEmpty) levels else state.toSeq
  }

  /** Power iteration on the cluster over weighted edges (source →
    * (destination, weight), non-null ends), grouped once by [[graph]]:
    * `out` turns a node's (destination, weight) pairs into its out-edges
    * (destination, p(u, v)), behind a null edge carrying its teleport
    * weight tele(u) — 1, or with `tele` 1 on its ids and 0 elsewhere.
    * Every edge end has an entry; a `tele` id off the graph is no node.
    * `guard` sees n = Σ tele. With `reverse`, the rounds alternate with
    * the reversed out-edges (weighted by their p), grouped once more
    * (`<name>:reverse`) on the same partitioner.
    *
    * From x,,0,, = tele/n, round r is ONE job (`<name>:<r>`) computing
    * x,,r,,(v) = (1 − d)·tele(v)/n + d·Σ,,u→v,, x,,r−1,,(u)·p(u, v): the
    * vector pushes along the out-edges (the null edge pushes the
    * teleport term to its own node), combines per node in the round's
    * one shuffle onto the adjacency's partitioner, and is
    * local-checkpointed while the job sums its L1 total. With
    * `normalize` a vector reads divided by its total, and a round with
    * total 0 keeps x,,r−1,,. Returns each node's x,,R,,, after x,,R−1,,
    * with `reverse`. */
  def power(name: String, edges: RDD[(Any, (Any, Double))],
      tele: Option[RDD[Any]], spark: SparkSession)(
      out: collection.Seq[(Any, Double)] => Array[(Any, Double)])(
      rounds: Int, damping: Double, normalize: Boolean, reverse: Boolean)(
      guard: Long => Unit): RDD[(Any, Array[Double])] = {
    // rows: out-edges, (null, dflt) marking edge ends, (Root, 1) per tele id
    val dflt = if (tele.isEmpty) 1.0 else 0.0
    def build(n: String, rows: RDD[(Any, (Any, Double))]) = graph(n,
      Dist(rows), spark) { (es: collection.Seq[(Any, Double)]) =>
        val ws = es.filter(e => e._1 != null && e._1 != Root)
        if (ws.isEmpty && es.forall(_._1 == Root)) Array.empty[(Any, Double)]
        else (null, es.iterator.filter(e => e._1 == null || e._1 == Root)
          .map(_._2).foldLeft(dflt)(math.max)) +: out(ws)
      }(es => if (es.isEmpty) 0L else es(0)._2.toLong)
      .asInstanceOf[Graph[(Any, Double)]]
    val fwd = build(name, edges.mapPartitions { it =>
      val marked = mutable.HashSet.empty[Any] // bounded: repeats are harmless
      it.flatMap { case (u, (v, w)) =>
        if (marked.size >= (1 << 16)) marked.clear()
        Iterator((u, (v, w))) ++
          (if (marked.add(v)) Iterator((v, (null, dflt))) else Iterator.empty)
      } } ++
      tele.fold(spark.sparkContext.emptyRDD[(Any, (Any, Double))])(
        _.map(t => (t, (Root, 1.0)))))
    val gs = fwd +: (if (!reverse) Nil else Seq(build(s"$name:reverse",
      fwd.adj.flatMap(_.iterator.flatMap { case (u, es) =>
        es.headOption.map(h => (u, h)) ++
          es.iterator.drop(1).map { case (v, p) => (v, (u, p)) } }))))
    require(gs.forall(_.part == fwd.part), "power: graphs differ in width")
    val n = fwd.sum
    guard(n)
    var cur = (fwd.adj.mapPartitions(_.flatMap(_.iterator.collect {
      case (u, es) if es.nonEmpty => (u: Any, es(0)._2 / n)
    }), preservesPartitioning = true), 1.0) // (vector, its L1 total)
    var before = cur
    for (r <- 1 to rounds) {
      val g = gs((r - 1) % gs.size)
      val scale = if (normalize) cur._2 else 1.0
      val next = expand(cur._1, g) { (x: Double, u, e: (Any, Double)) =>
        if (e._1 == null) (u, (1 - damping) * e._2 / n)
        else (e._1, damping * (x / scale) * e._2)
      }.reduceByKey(g.part, _ + _)
      val total = run(next, s"$name:$r")(
        _.foldLeft(0.0)((s, kv) => s + math.abs(kv._2))).sum
      before = cur
      if (!normalize || total > 0) cur = (next, total)
    }
    def read(v: (RDD[(Any, Double)], Double)) =
      if (normalize) { val t = v._2; v._1.mapValues(_ / t) } else v._1
    if (!reverse) read(cur).mapValues(Array(_))
    else read(before).zipPartitions(read(cur), preservesPartitioning = true) {
      (bit, cit) =>
        val last = mutable.HashMap.empty[Any, Double] ++= cit
        bit.map { case (u, x) => (u, Array(x, last(u))) }
    }
  }

  /** Parent-pointer walk, run where `start` is held. Each step `s` of
    * `from until` the largest `dist` moves the rows still walking
    * (`key` non-null) on through `step(row, the key's parent entries
    * or null)`; finished rows (`key` null) leave the loop. `guard(rows,
    * s)` sees the walk's total row count after every step. Returns
    * every row at the end.
    *
    * On the cluster, `start` is materialized first (job
    * `<name>:start`, which also takes the step bound), then each step
    * is one job (`<name>:<s>`) that shuffles the walking rows to the
    * `parents` index, partitioned at the session's shuffle width; a
    * step task holds one partition of the index in a map. In driver
    * memory the index is one map, and a step's expansion throws
    * [[DriverOverflow]] as soon as the walk's rows pass the cap. */
  def walk[W: ClassTag, P: ClassTag](name: String, start: Rows[W],
      parents: Rows[(Any, P)], spark: SparkSession, from: Long)(
      key: W => Any, dist: W => Long)(
      step: (W, Array[P]) => Iterator[W])(
      guard: (Long, Long) => Unit): Rows[W] = start match {
    case Dist(st) =>
      Dist(distWalk(name, st, rdd(parents), partitioner(spark), from)(
        key, dist)(step)(guard))
    case Local(st, cap) =>
      val index = grouped(seq(parents).iterator)(_.toArray)
      val done = st.filter(key(_) == null).to(mutable.ArrayBuffer)
      var live = st.filter(key(_) != null)
      val steps = st.iterator.map(dist).maxOption.getOrElse(0L)
      var s = from
      while (s < steps) {
        val out = mutable.ArrayBuffer.empty[W]
        live.foreach(w => step(w, index.getOrElse(key(w), null)).foreach {
          x =>
            out += x
            if (done.size + out.size > cap) throw new DriverOverflow
        })
        guard(done.size + out.size, s)
        done ++= out.iterator.filter(key(_) == null)
        live = out.filter(key(_) != null)
        s += 1
      }
      Local(done ++= live, cap)
  }

  private def distWalk[W: ClassTag, P: ClassTag](name: String,
      start: RDD[W], parents: RDD[(Any, P)], part: Partitioner, from: Long)(
      key: W => Any, dist: W => Long)(
      step: (W, Array[P]) => Iterator[W])(
      guard: (Long, Long) => Unit): RDD[W] = {
    val index = adjacency(parents.partitionBy(part))(_.toArray)
    index.localCheckpoint() // materialized by the first step's job
    val finished = (w: W) => if (key(w) == null) 1L else 0L
    val (Seq(done0), steps) = materialize(start, s"$name:start")(finished)(
      dist)
    val done = mutable.ArrayBuffer(start.filter(key(_) == null))
    var doneRows = done0
    var live = start.filter(key(_) != null)
    var s = from
    while (s < steps) {
      val out = live.map(w => (key(w), w)).partitionBy(part)
        .zipPartitions(index) { (wit, mit) =>
          val m = mit.next()
          wit.flatMap { case (k, w) => step(w, m.getOrElse(k, null)) }
        }
      val (Seq(rows, fin), _) = materialize(out, s"$name:$s")(
        _ => 1L, finished)(_ => 0L)
      guard(doneRows + rows, s)
      doneRows += fin
      done += out.filter(key(_) == null)
      live = out.filter(key(_) != null)
      s += 1
    }
    // one partition group per loop partition: the union of the step
    // outputs would be (steps + 2) times as wide
    start.sparkContext.union((done :+ live).toSeq).coalesce(part.numPartitions)
  }

  /** Resolves every path of `paths` against dimension rows into a frame
    * of `schema`, one row `out(path, node elements, hop elements)` per
    * path. The ids of a path (`ids`, at least one) are keys of `nodes`,
    * a (key, element) frame. With `hops`, a (source key, destination
    * key, element) frame, each id with a non-null successor also
    * resolves the hop between them; without, a path has no hop
    * elements. Keys are of the paths' id type; rows with a null key
    * never match. A key with several rows resolves to its least element
    * ([[compareIds]]), a key with none, or a null id, to an element
    * whose fields are all null.
    *
    * Nothing runs before the frame is read, and no dimension row
    * reaches the driver. Paths in driver memory ([[Local]]) name their
    * rows: their distinct ids, and with `hops` their distinct
    * consecutive id pairs, filter the dimension rows in Catalyst (one
    * hashed set test each), and the rows kept meet the paths in ONE
    * partition, where every path resolves. That partition holds what
    * the paths name, never the tables. On the cluster ([[Dist]]) the
    * dimension rows are hash-partitioned by (source) key at the loop
    * width and indexed once per partition, the paths' positions shuffle
    * to them, and the resolved positions regroup per path. */
  def resolve[P: ClassTag](paths: Rows[P], spark: SparkSession)(
      ids: P => collection.Seq[Any])(nodes: DataFrame,
      hops: Option[DataFrame])(schema: StructType)(
      out: (P, Seq[Row], Seq[Row]) => Row): DataFrame = {
    def elem(df: DataFrame) = df.schema.last.dataType.asInstanceOf[StructType]
    def empty(t: StructType): Row = Row.fromSeq(Seq.fill(t.length)(null))
    val noNode = empty(elem(nodes))
    val noHop = hops.map(h => empty(elem(h))).orNull
    val least = (a: Row, b: Row) => if (compareIds(a, b) <= 0) a else b
    paths match {
      case Local(ps, _) =>
        val keys = mutable.HashSet.empty[Any]
        val pairs = mutable.HashSet.empty[Row]
        ps.foreach { p =>
          val xs = ids(p)
          xs.foreach(x => if (x != null) keys += x)
          if (noHop != null) xs.iterator.zip(xs.iterator.drop(1)).foreach {
            case (a, b) => if (a != null && b != null) pairs += Row(a, b)
          }
        }
        // one frame of (tag, key, successor key, node element, hop
        // element): the named node rows (0), the named hop rows (1),
        // and a row standing for the paths (2), which keeps the one
        // partition when no dimension row is named
        def tagged(t: Int, a: Column, b: Column, n: Column, h: Column) =
          Seq(lit(t).as("t"), a.as("a"), b.as("b"), n.as("n"), h.as("h"))
        val none = (t: DataType) => lit(null).cast(t)
        val Array(k, e) = nodes.columns
        val named = (nodes.where(GraftSqlBridge.inSet(col(k), keys))
          .select(tagged(0, col(k), none(nodes.schema(k).dataType), col(e),
            none(hops.fold[DataType](NullType)(elem))): _*) +:
          hops.toSeq.map { h =>
            val Array(hs, hd, he) = h.columns
            h.where(GraftSqlBridge.inSet(struct(col(hs), col(hd)), pairs))
              .select(tagged(1, col(hs), col(hd), none(elem(nodes)),
                col(he)): _*)
          }).reduce(_ union _)
        val all = named.union(spark.createDataFrame(
          java.util.List.of(Row(2, null, null, null, null)),
          StructType(named.schema.map(_.copy(nullable = true)))))
        all.coalesce(1).mapPartitions { rows =>
          val nm = mutable.HashMap.empty[Any, Row]
          val hm = mutable.HashMap.empty[(Any, Any), Row]
          rows.foreach { r =>
            def keep[K](m: mutable.HashMap[K, Row], key: K, x: Row): Unit =
              m(key) = m.get(key).fold(x)(least(_, x))
            r.getInt(0) match {
              case 0 => keep(nm, plain(r.get(1)), r.getStruct(3))
              case 1 => keep(hm, (plain(r.get(1)), plain(r.get(2))),
                r.getStruct(4))
              case _ =>
            }
          }
          ps.iterator.map { p =>
            val xs = ids(p).toIndexedSeq
            val hs =
              if (noHop == null) Seq.empty
              else xs.indices.init.collect { case i if xs(i + 1) != null =>
                hm.getOrElse((xs(i), xs(i + 1)), noHop)
              }
            out(p, xs.map(nm.getOrElse(_, noNode)), hs)
          }
        }(Encoders.row(schema))
      case Dist(rdd) =>
        val part = partitioner(spark)
        // node rows by key, hop rows by source as (destination,
        // element), null keys dropped
        val nodeIdx = adjacency(values(nodes).flatMap(a =>
          if (a(0) == null) None else Some((a(0), a(1).asInstanceOf[Row])))
          .partitionBy(part))(_.reduce(least))
        val hopIdx = hops.map(h => adjacency(values(h).flatMap(a =>
          if (a(0) == null || a(1) == null) None
          else Some((a(0), (a(1), a(2).asInstanceOf[Row]))))
          .partitionBy(part))(hs => grouped(hs.iterator)(_.reduce(least))))
        // position i of path `rid`: its id, its successor when a hop
        // resolves there, and (at i = 0) the path itself
        val positions = rdd.zipWithUniqueId().flatMap { case (p, rid) =>
          val xs = ids(p).toIndexedSeq
          xs.indices.iterator.map { i =>
            val nxt = if (noHop != null && i + 1 < xs.length) xs(i + 1) else null
            (xs(i), (rid, i, nxt, if (i == 0) Some(p) else None))
          }
        }.partitionBy(part)
        def look(pit: Iterator[(Any, (Long, Int, Any, Option[P]))],
            nm: mutable.HashMap[Any, Row],
            hm: mutable.HashMap[Any, mutable.HashMap[Any, Row]]) =
          pit.map { case (id, (rid, i, nxt, p)) =>
            val h = if (nxt == null) null
                    else hm.get(id).flatMap(_.get(nxt)).getOrElse(noHop)
            (rid: Any, (i, nm.getOrElse(id, noNode), h, p))
          }
        val looked = hopIdx match {
          case None     => positions.zipPartitions(nodeIdx)((pit, nit) =>
            look(pit, nit.next(), mutable.HashMap.empty))
          case Some(hi) => positions.zipPartitions(nodeIdx, hi)(
            (pit, nit, hit) => look(pit, nit.next(), hit.next()))
        }
        spark.createDataFrame(looked.groupByKey(part).map { case (_, es) =>
          val p = es.iterator.flatMap(_._4).next()
          val n = ids(p).length
          val ns = new Array[Row](n)
          val hs = new Array[Row](n)
          es.foreach { case (i, ne, he, _) => ns(i) = ne; hs(i) = he }
          out(p, ns.toSeq, hs.iterator.filter(_ != null).toSeq)
        }, schema)
    }
  }

  /** Total ordering matching Spark's own sort/min semantics for the
    * id values the loops carry (longs, strings, struct rows) — the
    * kernel and the driver fast paths must replicate the DataFrame
    * min tie-breaks and array orderings exactly. */
  def compareIds(a: Any, b: Any): Int = (a, b) match {
    case (null, null)                   => 0
    case (null, _)                      => -1
    case (_, null)                      => 1
    case (x: Row, y: Row) =>
      var i = 0
      while (i < x.length && i < y.length) {
        val c = compareIds(x.get(i), y.get(i))
        if (c != 0) return c
        i += 1
      }
      Integer.compare(x.length, y.length)
    case (x: java.lang.Long, y: java.lang.Long)       => x.compareTo(y)
    case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
    // Spark's double order: -0.0 equals 0.0, NaN sorts above everything
    case (x: java.lang.Double, y: java.lang.Double) =>
      if (x.doubleValue == y.doubleValue) 0
      else java.lang.Double.compare(x.doubleValue, y.doubleValue)
    case (x: java.lang.Float, y: java.lang.Float) =>
      if (x.floatValue == y.floatValue) 0
      else java.lang.Float.compare(x.floatValue, y.floatValue)
    // arrays (the min struct of a hop may hold one): element-wise, then
    // by length; binary as unsigned bytes
    case (x: collection.Seq[_], y: collection.Seq[_]) =>
      compareIdSeqs(x.toSeq, y.toSeq)
    case (x: Array[Byte], y: Array[Byte]) =>
      compareIdSeqs(x.toSeq.map(_ & 0xff), y.toSeq.map(_ & 0xff))
    // Spark orders StringType by UTF-8 BINARY bytes; Java's
    // String.compareTo is UTF-16 code-unit order — they diverge for
    // supplementary-plane characters (surrogates sort below U+E000 in
    // UTF-16, above in UTF-8). Pure ASCII (the overwhelmingly common
    // id shape) short-circuits.
    case (x: String, y: String) =>
      def ascii(s: String): Boolean = {
        var i = 0
        while (i < s.length) { if (s.charAt(i) >= 128) return false; i += 1 }
        true
      }
      if (ascii(x) && ascii(y)) x.compareTo(y)
      else {
        val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) {
          val c = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        Integer.compare(a.length, b.length)
      }
    case (x: java.lang.Comparable[_], _) =>
      x.asInstanceOf[java.lang.Comparable[Any]].compareTo(b)
    case _ => throw new IllegalStateException(
      s"unorderable loop id type: ${a.getClass}")
  }

  /** Lexicographic [[compareIds]] over id sequences. */
  def compareIdSeqs(a: Seq[Any], b: Seq[Any]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = compareIds(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    Integer.compare(a.length, b.length)
  }
}
