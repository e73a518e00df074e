package graft.ops

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType

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
    * per-row measures, all taken by the job that materialized it. */
  final case class Stats(rows: Long, sum: Long, max: Long)

  /** Adjacency of a loop: one `node → out-edges` map per partition of
    * `part`. `sum` is the graph build's summed measure (the edge count
    * unless the caller measured something else). */
  final class Graph[E](val adj: RDD[mutable.HashMap[Any, Array[E]]],
      val part: Partitioner, val sum: Long)

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
      it.foreach { t => n += 1; s += sum(t); m = math.max(m, max(t)) }
      (n, s, m)
    }
    Stats(parts.map(_._1).sum, parts.map(_._2).sum,
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
      spark: SparkSession)(group: Seq[A] => Array[E])(
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
        (es: Seq[Array[E]]) => es.head)
      run(wide, s"$name:regroup")(_ => ())
      new Graph(wide, part, parts.map(_._1).sum)
    }
  }

  /** One `node → group(payloads)` map per partition of `pairs`. */
  private def adjacency[A, E](pairs: RDD[(Any, A)])(group: Seq[A] => E)
      : RDD[mutable.HashMap[Any, E]] =
    pairs.mapPartitions({ it =>
      val raw = mutable.HashMap.empty[Any, mutable.ArrayBuffer[A]]
      it.foreach { case (k, a) =>
        raw.getOrElseUpdate(k, mutable.ArrayBuffer.empty[A]) += a
      }
      val m = mutable.HashMap.empty[Any, E]
      raw.foreach { case (k, as) => m(k) = group(as.toSeq) }
      Iterator.single(m)
    }, preservesPartitioning = true)

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

  /** Parent-pointer walk. `start` is materialized first (job
    * `<name>:start`, which also takes the largest `dist` — the walk's
    * step bound); then each step `s` of `from until maxDist` is one job
    * (`<name>:<s>`): the rows still walking (`key` non-null) shuffle to
    * the partitioned `parents` index and move on through
    * `step(row, the key's parent entries or null)`; finished rows
    * (`key` null) leave the loop. `guard(rows, s)` sees the walk's
    * total row count after every step. Returns every row at the end.
    * A step task holds one partition of the parent index in a map. */
  def walk[W: ClassTag, P: ClassTag](name: String, start: RDD[W],
      parents: RDD[(Any, P)], part: Partitioner, from: Long)(
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
