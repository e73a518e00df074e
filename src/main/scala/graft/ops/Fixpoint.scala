package graft.ops

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Spark-core kernel for frontier loops and parent-pointer walks — the
 * split Shark (SIGMOD 2013) runs SQL and iterative analytics on:
 * DataFrames at the loop boundary, pair RDDs inside. A loop enters from
 * a DataFrame once ([[values]]), runs every round as ONE job and leaves
 * through `createDataFrame`, so a round pays no Catalyst analysis,
 * planning, AQE stage jobs or whole-stage codegen.
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
 *  - [[materialize]] local-checkpoints the round's output and takes its
 *    row count, plus one summed and one maxed per-row measure, from
 *    that same job.
 *
 * Walks ([[walk]]) follow the same shape: parent entries are indexed
 * once per partition, each step shuffles only the rows still walking to
 * the index, and finished rows leave the loop.
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

  /** Row count of a materialized RDD plus the sum and the max of two
    * non-negative per-row measures, all taken by the job that
    * materialized it. The sum saturates at `Long.MaxValue`. */
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
    * into the next round's frontier ([[frontier]]) needs no shuffle. */
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

  /** A (src, node)-keyed state as a frontier keyed by node, valued
    * `f(src, value)` — in place when the state is partitioned by
    * [[NodePartitioner]], which already put each pair on its node's
    * partition. */
  def frontier[V, F](state: RDD[(Any, V)])(f: (Any, V) => F)
      : RDD[(Any, F)] =
    state.mapPartitions(_.map { case (k, v) =>
      val (s, node) = k.asInstanceOf[(Any, Any)]
      (node, f(s, v))
    }, preservesPartitioning = true)

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
  def values(df: DataFrame): RDD[Array[Any]] =
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
    * `tag`, returning `f` of each partition's rows. */
  private def run[T, A: ClassTag](rdd: RDD[T], tag: String)(
      f: Iterator[T] => A): Array[A] = {
    rdd.localCheckpoint()
    val sc = rdd.sparkContext
    val prev = sc.getLocalProperty(RoundProperty)
    sc.setLocalProperty(RoundProperty, tag)
    try sc.runJob(rdd, f) finally sc.setLocalProperty(RoundProperty, prev)
  }

  /** [[run]] returning the row count and the sum of `sum` and max of
    * `max` over the rows (`max` is 0 for an empty RDD). */
  def materialize[T](rdd: RDD[T], tag: String)(
      sum: T => Long = (_: T) => 0L, max: T => Long = (_: T) => 0L)
      : Stats = {
    val parts = run(rdd, tag) { it =>
      var n = 0L; var s = 0L; var m = 0L
      it.foreach { t =>
        n += 1; s = addSat(s, sum(t)); m = math.max(m, max(t))
      }
      (n, s, m)
    }
    Stats(parts.map(_._1).sum, parts.map(_._2).foldLeft(0L)(addSat),
      if (parts.isEmpty) 0L else parts.map(_._3).max)
  }

  /** Groups `edges` (source → edge payload) into per-partition
    * adjacency maps — ONE shuffle and one job (`<name>:edges`) for
    * the whole loop. `group` folds a node's raw payloads into its
    * out-edges (dedup, multiplicity); `measure` is summed over every
    * node's out-edges into [[Graph.sum]]. The build runs at the base
    * [[partitioner]] width; when the grouped out-edges, at
    * [[EdgeBytes]] each, average more than the session's
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (default 64 MB,
    * so 2^20^ out-edges) per partition, one more job
    * (`<name>:regroup`) moves the maps onto a width that fits, and the
    * loop runs at that width ([[Graph.part]]). */
  def graph[A: ClassTag, E: ClassTag](name: String, edges: RDD[(Any, A)],
      spark: SparkSession)(group: collection.Seq[A] => Array[E])(
      measure: Array[E] => Long = (es: Array[E]) => es.length.toLong)
      : Graph[E] = {
    val base = partitioner(spark)
    val adj = adjacency(edges.partitionBy(base))(group)
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

  /** [[graph]] of `edges` where they are held. In driver memory the
    * out-edges group into one map, with no job. */
  def graph[A: ClassTag, E: ClassTag](name: String, edges: Rows[(Any, A)],
      spark: SparkSession)(group: collection.Seq[A] => Array[E]): Edges[E] =
    edges match {
      case Dist(rdd) => graph(name, rdd, spark)(group)()
      case Local(rs, cap) =>
        val m = grouped(rs.iterator)(group)
        new LocalGraph(m, m.valuesIterator.map(_.length.toLong).sum, cap)
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
  def edgesFrom[E: ClassTag](g: Graph[E], seeds: Option[RDD[Any]])
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
  def expand[V: ClassTag, E, C: ClassTag](frontier: RDD[(Any, V)],
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
  def settle[C: ClassTag, V: ClassTag](cands: RDD[(Any, C)],
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
    *  - `front(src, c)`: what an entry (src, node) → c the last round
    *    added carries along its node's out-edges;
    *  - `extend(f, node, e)`: the candidate entry reached along
    *    out-edge `e` of `node`;
    *  - `combine`: merges two candidates with one key (it may update
    *    and return its first argument);
    *  - `sum`, `max`: the per-entry measures of a round's [[Stats]]. */
  final case class Frontier[E, F, C](
      seed: (Any, E) => (Any, C),
      front: (Any, C) => F,
      extend: (F, Any, E) => (Any, C),
      combine: (C, C) => C,
      sum: C => Long = (_: C) => 0L,
      max: C => Long = (_: C) => 0L)

  /** Frontier loop `f` over `g`, from the out-edges of `seeds` (every
    * edge of `g` when None). Round 0 adds the seed entries; round r ≥ 1
    * extends the entries round r − 1 added and combines the candidates
    * per key. With `once`, a candidate whose key already has an entry
    * drops (first discovery); otherwise every combined candidate is a
    * new entry (a level per round). `guard(r, the Stats of the entries
    * round r added)` runs on the driver after every round, the last,
    * empty one included; the loop ends after a round that adds
    * nothing, and calls `diverged` instead of a round past
    * `maxRounds`. Returns every entry with the round that added it.
    *
    * The loop runs where `g` is held. On the cluster each round is ONE
    * job (`<name>:<r>`): the candidates combine onto the loop's
    * [[NodePartitioner]] and [[settle]] into the co-partitioned state.
    * In driver memory a round touches only its frontier and its new
    * entries; after the guard, [[DriverOverflow]] is thrown once the
    * entries plus their summed measure pass the cap. */
  def loop[E: ClassTag, F: ClassTag, C: ClassTag](name: String, g: Edges[E],
      seeds: Option[Rows[Any]], once: Boolean, maxRounds: Int)(
      f: Frontier[E, F, C])(guard: (Int, Stats) => Unit)(
      diverged: => Nothing): Rows[(Any, (Int, C))] = g match {
    case d: Graph[E @unchecked] =>
      Dist(distLoop(name, d, seeds.map(rdd), once, maxRounds, f)(guard)(
        diverged))
    case l: LocalGraph[E @unchecked] =>
      Local(localLoop(l, seeds.map(seq), once, maxRounds, f)(guard)(
        diverged), l.cap)
  }

  private def distLoop[E: ClassTag, F: ClassTag, C: ClassTag](name: String,
      g: Graph[E], seeds: Option[RDD[Any]], once: Boolean, maxRounds: Int,
      f: Frontier[E, F, C])(guard: (Int, Stats) => Unit)(
      diverged: => Nothing): RDD[(Any, (Int, C))] = {
    // entries flagged true when the last round added them
    type State = RDD[(Any, ((Int, C), Boolean))]
    var r = 0
    var rows = 0L
    def settled(next: State): Long = {
      val st = materialize(next, s"$name:$r")(
        { case (_, ((_, c), isNew)) => if (isNew) f.sum(c) else 0L },
        { case (_, ((_, c), isNew)) => if (isNew) f.max(c) else 0L })
      val added = st.rows - (if (once) rows else 0L)
      rows = st.rows
      guard(r, st.copy(rows = added))
      added
    }
    var added: State = edgesFrom(g, seeds)
      .map { case (s, e) => f.seed(s, e) }
      .reduceByKey(g.part, f.combine).mapValues(c => ((0, c), true))
    var n = settled(added)
    var state = added // once: every entry so far
    val levels = mutable.ArrayBuffer(added) // otherwise: every round's
    while (n > 0) {
      r += 1
      if (r > maxRounds) diverged
      val round = r
      val cands = expand(
          frontier(added.filter(_._2._2))((s, v) => f.front(s, v._1._2)), g)(
          f.extend).reduceByKey(g.part, f.combine)
      added =
        if (once) settle(cands, state.mapValues(_._1)) { (c, old) =>
          if (old.isEmpty) Some((round, c)) else None
        }
        else cands.mapValues(c => ((round, c), true))
      n = settled(added)
      if (once) state = added
      else if (n > 0) levels += added
    }
    (if (once) state else g.adj.sparkContext.union(levels.toSeq))
      .mapValues(_._1)
  }

  private def localLoop[E, F, C](g: LocalGraph[E],
      seeds: Option[collection.Seq[Any]], once: Boolean, maxRounds: Int,
      f: Frontier[E, F, C])(guard: (Int, Stats) => Unit)(
      diverged: => Nothing): collection.Seq[(Any, (Int, C))] = {
    val out = mutable.ArrayBuffer.empty[(Any, (Int, C))]
    val keys = mutable.HashSet.empty[Any] // once: every key with an entry
    var r = 0
    var held = 0L
    def offer(cands: mutable.HashMap[Any, C], kc: (Any, C)): Unit = {
      val (k, c) = kc
      if (!(once && keys(k)))
        cands(k) = cands.get(k) match {
          case Some(old) => f.combine(old, c)
          case None      => c
        }
    }
    def add(cands: mutable.HashMap[Any, C]): Unit = {
      var sum = 0L
      var max = 0L
      cands.foreach { case (k, c) =>
        out += ((k, (r, c)))
        if (once) keys += k
        sum = addSat(sum, f.sum(c))
        max = math.max(max, f.max(c))
      }
      guard(r, Stats(cands.size, sum, max))
      held = addSat(held, addSat(cands.size, sum))
      if (held > g.cap) throw new DriverOverflow
    }
    try {
      var added = mutable.HashMap.empty[Any, C]
      seeds.fold(g.adj.keysIterator)(_.iterator.distinct).foreach(s =>
        g.adj.get(s).foreach(_.foreach(e => offer(added, f.seed(s, e)))))
      add(added)
      while (added.nonEmpty) {
        r += 1
        if (r > maxRounds) diverged
        val cands = mutable.HashMap.empty[Any, C]
        added.foreach { case (k, c) =>
          val (s, node) = k.asInstanceOf[(Any, Any)]
          g.adj.get(node).foreach { es =>
            val v = f.front(s, c)
            es.foreach(e => offer(cands, f.extend(v, node, e)))
          }
        }
        add(cands)
        added = cands
      }
    } catch { case _: ArithmeticException => throw new DriverOverflow }
    out
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
    val s0 = materialize(start, s"$name:start")(finished, dist)
    val done = mutable.ArrayBuffer(start.filter(key(_) == null))
    var doneRows = s0.sum
    var live = start.filter(key(_) != null)
    var s = from
    while (s < s0.max) {
      val out = live.map(w => (key(w), w)).partitionBy(part)
        .zipPartitions(index) { (wit, mit) =>
          val m = mit.next()
          wit.flatMap { case (k, w) => step(w, m.getOrElse(k, null)) }
        }
      val st = materialize(out, s"$name:$s")(finished)
      guard(doneRows + st.rows, s)
      doneRows += st.sum
      done += out.filter(key(_) == null)
      live = out.filter(key(_) != null)
      s += 1
    }
    start.sparkContext.union((done :+ live).toSeq)
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
