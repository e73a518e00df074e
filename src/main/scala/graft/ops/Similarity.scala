package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 *  - [[cosine]]: cosine similarity as a pure `zip_with`/`aggregate`
 *    expression (double accumulation, left-to-right — deterministic and
 *    engine-portable for the oracle).
 *  - [[bruteForceTopK]]: exact top-k. The query set is broadcast
 *    (small side), the corpus streams once; per-partition partial top-k
 *    via a typed [[Aggregator]] means only k rows per (partition ×
 *    query) reach the shuffle — at 100 TB the shuffle is k·|queries|·
 *    |partitions| tiny structs, not |corpus|·|queries| rows.
 *  - [[hyperplaneBucket]] + [[lshTopK]]: random-hyperplane LSH. Sign
 *    bits of dot products with `nPlanes` seeded Gaussian-ish vectors
 *    form a bucket id; candidates = same bucket (multi-probe: Hamming-1
 *    neighbors optional). Approximate — the scale path when the query
 *    set is itself large.
 */
object Similarity {

  /** Dot product of two float-array columns, accumulated left-to-right
   *  in double. Native codegen'd expression (the `zip_with`+`aggregate`
   *  composition is interpreted per element); [[dotComposed]] keeps the
   *  built-in formulation for cross-checking. */
  def dot(a: Column, b: Column): Column =
    graft.functions.NativeExpressions.dotF(a, b)

  /** Built-in-composed dot product — bit-identical to [[dot]]. */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, t) => acc + t)

  /** L2 norm of a float-array column (double). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column =
    cosineWithNorms(a, b, norm(a), norm(b))

  /** Cosine with precomputed norms — in pairwise joins, compute each
   *  side's norm ONCE per row (`withColumn` before the join), not once
   *  per pair: identical floating-point result, O(n) instead of O(n²)
   *  norm work. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot(a, b) / (na * nb))

  // ----------------------------------------------------------- top-k agg

  /** (neighbor id, similarity) candidate. */
  final case class Scored(id: Long, score: Double)

  /**
   * Bounded top-k aggregator with map-side partial merge: the buffer
   * never exceeds k entries, so partial aggregation ships at most k
   * structs per partition per group. Deterministic order: score desc,
   * then id asc (a total order — the k best elements are a unique set,
   * so buffer layout never affects the result).
   *
   * Once full, the buffer keeps its WORST element at the head: the
   * overwhelmingly common case — a candidate no better than the current
   * k-th best — is rejected in O(1) with zero allocation, and only an
   * actual improvement pays an O(k) rebuild (the previous formulation
   * re-sorted the whole buffer for every element, O(k log k) each).
   */
  final class TopK(k: Int) extends Aggregator[Scored, List[Scored], Seq[Scored]] {
    require(k >= 1, s"k must be >= 1, got $k")
    private def better(a: Scored, b: Scored): Boolean =
      a.score > b.score || (a.score == b.score && a.id < b.id)
    /** Rebuild with the worst element first (stable for duplicates —
      * selection is positional, not by equality). */
    private def worstFirst(l: List[Scored]): List[Scored] = {
      val arr = l.toArray
      var wi = 0
      var i = 1
      while (i < arr.length) { if (better(arr(wi), arr(i))) wi = i; i += 1 }
      val b = List.newBuilder[Scored]
      b += arr(wi)
      i = 0
      while (i < arr.length) { if (i != wi) b += arr(i); i += 1 }
      b.result()
    }
    def zero: List[Scored] = Nil
    def reduce(buf: List[Scored], s: Scored): List[Scored] =
      if (buf.sizeIs < k - 1) s :: buf
      else if (buf.sizeIs == k - 1) worstFirst(s :: buf)
      else if (better(s, buf.head)) worstFirst(s :: buf.tail)
      else buf
    def merge(a: List[Scored], b: List[Scored]): List[Scored] =
      b.foldLeft(a)(reduce)
    def finish(buf: List[Scored]): Seq[Scored] = buf.sortWith(better)
    def bufferEncoder: Encoder[List[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Scored]]()
    def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }

  /**
   * Exact brute-force cosine top-k: for each row of `queries`, the k
   * nearest corpus rows by cosine. Output: (query_id, neighbor_id, rank,
   * cos_sim). Self-matches (same id) are excluded.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")).as("cos_sim"))
    topKPerGroup(scored, "query_id", "neighbor_id", "cos_sim", k)
  }

  /**
   * Hard-negative mining for contrastive / metric-learning training
   * data: for each query row, the k most-cosine-similar corpus rows
   * whose label DIFFERS from the query's — the near-misses that carry
   * the gradient signal (easy negatives are already far, positives
   * share the label). Null-labeled rows never pair (no evidence of
   * mismatch). Exact scan with broadcast queries + the bounded
   * [[TopK]] aggregator — the [[bruteForceTopK]] scale shape: the
   * shuffle is k·|queries|·|partitions| structs, the corpus streams
   * once. For corpus-sized query sets, pre-bucket both sides
   * (hyperplane LSH or IVF lists) and apply the same label-mismatch
   * predicate inside buckets.
   *
   * Output: (query_id, neighbor_id, rank, cos_sim, neg_label).
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, vecCol: String,
                    idCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      col(labelCol).as("__nl"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(labelCol).as("__ql"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id") &&
        col("__nl") =!= col("__ql"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")).as("cos_sim"))
    topKPerGroup(scored, "query_id", "neighbor_id", "cos_sim", k)
      .join(c.select(col("neighbor_id"), col("__nl").as("neg_label")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cos_sim"), col("neg_label"))
  }

  /** Group-wise top-k via the bounded [[TopK]] aggregator. */
  private[ops] def topKPerGroup(scored: DataFrame, groupCol: String,
                                idCol: String, scoreCol: String, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val ds = scored.select(col(groupCol).cast(LongType),
        col(idCol).cast(LongType), col(scoreCol).cast(DoubleType))
      .as[(Long, Long, Double)]
    val agg = new TopK(k).toColumn
    ds.groupByKey(_._1)
      .mapValues(t => Scored(t._2, t._3))
      .agg(agg.name("topk"))
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case (s, i) => (qid, s.id, i + 1L, s.score) }
      }
      .toDF(groupCol, idCol, "rank", scoreCol)
  }

  /**
   * Maximal-marginal-relevance (Carbonell & Goldstein, SIGIR 1998)
   * diversified top-k: greedily pick `k` of the `nCandidates` nearest
   * corpus rows per query, each step maximizing
   *
   *   mmr(d) = λ·cos(q, d) − (1−λ)·max_{s ∈ selected} cos(d, s)
   *
   * so later picks are penalized for redundancy with earlier ones —
   * the dedup-aware retrieval used for RAG context selection and
   * diverse few-shot example mining. Step 1 has no selected set
   * (penalty 0 ⇒ pure relevance). Ranking key per step is the MMR
   * score rounded to 6 decimals then doc id (the engine's determinism
   * convention). Output: (query_id, doc_id, step, mmr_score).
   *
   * Scale shape: the only corpus-sized work is candidate generation
   * ([[bruteForceTopK]] here; swap in any ANN operator upstream for
   * 100 TB corpora). The greedy loop runs on the candidate frame —
   * |queries|·nCandidates slim rows, localCheckpointed once so the k
   * rounds never recompute the scan — and each round is a bounded
   * join (candidates × ≤step selected per query) plus a per-query
   * argmax window. Driver never sees the data.
   */
  def mmrRerankTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                    idCol: String, k: Int, nCandidates: Int,
                    lambda: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(nCandidates >= k, s"nCandidates ($nCandidates) must be >= k ($k)")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]: $lambda")
    val cv = corpus.select(col(idCol).cast(LongType).as("doc_id"),
      col(vecCol).as("__v"), norm(col(vecCol)).as("__n"))
    val cands = bruteForceTopK(corpus, queries, vecCol, idCol, nCandidates)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("cos_sim").as("__rel"))
      .join(cv, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("__rel"), col("__v"),
        col("__n"))
      .localCheckpoint()
    val mu = 1.0 - lambda
    var selected: DataFrame = null // (query_id, doc_id, step, mmr_score, __v, __n)
    for (step <- 1 to k) {
      val remaining =
        if (step == 1) cands
        else cands.join(selected.select(col("query_id"), col("doc_id")),
          Seq("query_id", "doc_id"), "left_anti")
      val scored =
        if (step == 1) remaining.withColumn("__red", lit(0.0))
        else {
          val selVecs = selected.select(col("query_id"),
            col("__v").as("__sv"), col("__n").as("__sn"))
          val red = remaining.join(selVecs, Seq("query_id"))
            .select(col("query_id"), col("doc_id"),
              cosineWithNorms(col("__v"), col("__sv"), col("__n"),
                col("__sn")).as("__c"))
            .groupBy(col("query_id"), col("doc_id"))
            .agg(max(col("__c")).as("__red"))
          remaining.join(red, Seq("query_id", "doc_id"))
        }
      val mmr = lit(lambda) * col("__rel") - lit(mu) * col("__red")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(round(mmr, 6).desc, col("doc_id"))
      val pick = scored.withColumn("__rk", row_number().over(w))
        .where(col("__rk") === 1)
        .select(col("query_id"), col("doc_id"), lit(step.toLong).as("step"),
          mmr.as("mmr_score"), col("__v"), col("__n"))
      selected = if (step == 1) pick else selected.unionAll(pick)
    }
    selected.select(col("query_id"), col("doc_id"), col("step"),
      round(col("mmr_score"), 6).as("mmr_score"))
  }

  // ------------------------------------------------------------- LSH/ANN

  /** Deterministic pseudo-random hyperplanes: component j (0-based) of
   *  plane p is a hash-derived value in [-0.5, 0.5). The mixing formula
   *  is plain 64-bit integer arithmetic with small operands, so the
   *  DuckDB oracle can compute the IDENTICAL value — bucket ids match
   *  cross-engine and the approximate path gets a full value-level
   *  oracle (an xxhash64 seed would be marginally better-distributed
   *  but has no DuckDB twin; for sign-of-dot-product hyperplanes this
   *  quality is equivalent). */
  private def planeComponent(p: Int, j: Column): Column = {
    // two rounds: the affine mix alone is a lattice (consecutive j
    // differ by a constant mod 1000003, planes are shifted copies); the
    // quadratic second round breaks the linear structure while staying
    // overflow-safe (m1 < 2^20 → product < 2^40) and SQL-expressible
    val m1 = pmod((lit(p * 131L) + j + lit(1L)) * lit(2654435761L) + lit(9176L),
      lit(1000003L))
    val m2 = pmod(m1 * (m1 + lit(13L)), lit(1000003L))
    (m2.cast(DoubleType) / lit(1000003.0)) - lit(0.5)
  }

  /**
   * Random-hyperplane LSH bucket id (int in [0, 2^nPlanes)): bit p is the
   * sign of ⟨vec, plane_p⟩. Computed with array expressions — no UDF, no
   * shuffle; at scale this is a map-only projection you persist alongside
   * the corpus (partitioning the corpus by bucket co-locates candidates).
   */
  def hyperplaneBucket(vec: Column, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val d = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, j) => x.cast(DoubleType) * planeComponent(p, j)),
        lit(0.0), (acc, t) => acc + t)
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /**
   * Recall@k of an approximate ANN result against the exact one — the
   * QA harness for every approximate path here (LSH, IVF, PQ, int8,
   * RP): per query, how many of the exact top-k the approximate
   * result recovered. Both inputs are the (query_id, neighbor_id,
   * rank, …) shape the top-k operators emit; rows beyond rank k are
   * ignored on both sides. Denominator is the query's ACTUAL exact
   * result size capped at k (a query with fewer than k true
   * neighbors isn't penalized for physics).
   *
   * Scale: both sides are k·|queries| slim rows — the join and the
   * per-query aggregate are trivially sized; run it continuously next
   * to a production index as the canary.
   */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val a = approx.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val e = exact.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) /
          col("n_exact").cast(DoubleType)).as("recall"))
  }

  /**
   * SEMANTIC benchmark decontamination — the embedding twin of
   * [[Pipeline.contaminationReport]]: corpus rows whose maximum cosine
   * against ANY benchmark row reaches `threshold` are contamination
   * (paraphrased eval questions that n-gram overlap can't see — the
   * gap semantic dedup closes for training/eval leakage). Output:
   * (idCol, max_sim) for flagged rows.
   *
   * Scale: the benchmark is eval-sized and broadcasts; each corpus row
   * scores every benchmark row map-side and the per-row max partially
   * aggregates BEFORE the exchange (max is order-independent, so the
   * result is engine-exact without rounding tricks) — the shuffle is
   * one slim (id, max) row per corpus row, bodies and vectors never
   * move.
   *
   * `excludeSelfIds = true` (the default) skips corpus×benchmark rows
   * that share an id value — right ONLY when the benchmark was carved
   * out of the corpus's own id space ([[Pipeline]]'s id-disjoint
   * convention). With independently-assigned ids, a coincidental id
   * collision would silently hide a real contamination pair — pass
   * `excludeSelfIds = false` for cross-corpus benchmarks to keep full
   * coverage.
   */
  def semanticContaminationReport(corpus: DataFrame, benchmark: DataFrame,
                                  vecCol: String, idCol: String,
                                  threshold: Double,
                                  excludeSelfIds: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).cast(LongType).as(idCol),
      col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"))
    val b = benchmark.select(col(idCol).cast(LongType).as("__bid"),
      col(vecCol).as("__bv"), norm(col(vecCol)).as("__bn"))
    c.crossJoin(broadcast(b))
      .where(if (excludeSelfIds) col(idCol) =!= col("__bid") else lit(true))
      .select(col(idCol),
        cosineWithNorms(col("__cv"), col("__bv"),
          col("__cn"), col("__bn")).as("__cos"))
      .groupBy(col(idCol))
      .agg(max(col("__cos")).as("max_sim"))
      .where(col("max_sim") >= threshold)
  }

  /** Acting twin of [[semanticContaminationReport]]: the corpus minus
    * flagged rows — one key-only left-anti join, bodies stream through. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            vecCol: String, idCol: String,
                            threshold: Double,
                            excludeSelfIds: Boolean = true): DataFrame = {
    val bad = semanticContaminationReport(corpus, benchmark, vecCol, idCol,
      threshold, excludeSelfIds).select(col(idCol))
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /**
   * Deterministic Johnson–Lindenstrauss random projection to `dDims`
   * dimensions: out[p] = ⟨vec, plane_p⟩ over the same SQL-mirrorable
   * pseudo-random hyperplane family as [[hyperplaneBucket]] — where LSH
   * keeps only the SIGN of each projection, this keeps the value, so
   * angles survive approximately (JL) instead of collapsing to bucket
   * ids. Map-only array expression, no UDF, no shuffle: at corpus scale
   * you persist the projected column next to the vectors and scan
   * dDims doubles instead of the full embedding.
   */
  def randomProjection(vec: Column, dDims: Int): Column = {
    require(dDims >= 1, s"dDims must be >= 1: $dDims")
    array((0 until dDims).map { p =>
      aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, j) => x.cast(DoubleType) * planeComponent(p, j)),
        lit(0.0), (acc, t) => acc + t)
    }: _*)
  }

  /** Dot product of two double-array columns (left-to-right double
   *  accumulation — the engine-portable reduction order). */
  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, t) => acc + t)

  /**
   * Two-stage ANN via random projection: stage 1 scores PROJECTED
   * cosine (dDims doubles per row instead of the full vector) and keeps
   * `shortlist` candidates per query with the bounded [[TopK]]
   * aggregator; stage 2 re-reads ONLY the shortlisted ids' full vectors
   * (semi-join-sized) and re-ranks with exact cosine. The
   * [[int8RerankTopK]] composition with a different stage-1 compressor:
   * int8 shrinks the scan 4× with full dimensionality, JL shrinks
   * dimensionality (dims/dDims ×) with full precision per kept dim —
   * at 100 TB the projected column is the one that fits in memory.
   * Both the projection and the cosine are mirrorable arithmetic, so
   * the whole approximate result is value-checkable cross-engine.
   */
  def rpRerankTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                   idCol: String, k: Int, dDims: Int = 8,
                   shortlist: Int = 32): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val c = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      randomProjection(col(vecCol), dDims).as("__cp"))
      .withColumn("__cn", sqrt(dotD(col("__cp"), col("__cp"))))
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      randomProjection(col(vecCol), dDims).as("__qp"))
      .withColumn("__qn", sqrt(dotD(col("__qp"), col("__qp"))))
    val stage1 = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(col("__qn") === 0.0 || col("__cn") === 0.0, lit(0.0))
          .otherwise(dotD(col("__qp"), col("__cp")) /
            (col("__qn") * col("__cn"))).as("proj_sim"))
    val short = topKPerGroup(stage1, "query_id", "neighbor_id", "proj_sim",
      shortlist).select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      col(vecCol).as("__cv"), norm(col(vecCol)).as("__cvn"))
    val qv = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qvn"))
    val exact = short.join(cv, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"),
          col("__qvn"), col("__cvn")).as("cos_sim"))
    topKPerGroup(exact, "query_id", "neighbor_id", "cos_sim", k)
  }

  /**
   * Matryoshka two-stage ANN (MRL, arXiv:2205.13147): stage 1 scores
   * cosine on the FIRST `dPrefix` components only — for
   * matryoshka-trained encoders the information-ordered prefix is
   * itself a valid embedding — and stage 2 re-ranks the shortlist with
   * full-dimension exact cosine. The zero-compute compressor: unlike
   * int8 (s06) or JL projection (s12) there is nothing to train,
   * quantize or project — the prefix is already IN the stored vector,
   * so at 100 TB stage 1 is pure column-slice I/O savings
   * (dims/dPrefix ×) on the same parquet. Same bounded-TopK bounds as
   * the sibling two-stage paths; bit-equal to brute force at full
   * shortlist.
   */
  def matryoshkaRerankTopK(corpus: DataFrame, queries: DataFrame,
                           vecCol: String, idCol: String, k: Int,
                           dPrefix: Int = 16, shortlist: Int = 32): DataFrame = {
    require(dPrefix >= 1, s"dPrefix must be >= 1: $dPrefix")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    def pref(df: DataFrame, id: String) =
      df.select(col(idCol).cast(LongType).as(id),
        slice(col(vecCol), 1, dPrefix).as("__p"))
        .withColumn("__pn", norm(col("__p")))
    val c = pref(corpus, "neighbor_id")
      .select(col("neighbor_id"), col("__p").as("__cp"), col("__pn").as("__cn"))
    val q = pref(queries, "query_id")
      .select(col("query_id"), col("__p").as("__qp"), col("__pn").as("__qn"))
    val stage1 = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qp"), col("__cp"),
          col("__qn"), col("__cn")).as("pref_sim"))
    val short = topKPerGroup(stage1, "query_id", "neighbor_id", "pref_sim",
      shortlist).select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      col(vecCol).as("__cv"), norm(col(vecCol)).as("__cvn"))
    val qv = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qvn"))
    val exact = short.join(cv, Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"),
          col("__qvn"), col("__cvn")).as("cos_sim"))
    topKPerGroup(exact, "query_id", "neighbor_id", "cos_sim", k)
  }

  /**
   * Per-group embedding centroids (class prototypes): element-wise mean
   * vector per `byCol` group, with the member count. The building block
   * for prototype routing, per-source drift monitoring, and seeding
   * k-means ([[refineCentroids]] consumes the same shape).
   *
   * Scale: components explode to (group, pos, value) and partially
   * aggregate map-side — the shuffle is (groups × dims) cells, not the
   * corpus; the final re-collect holds one dims-long array per group.
   * Fully distributed: nothing returns to the driver.
   */
  def groupCentroids(df: DataFrame, vecCol: String, byCol: String): DataFrame =
    df.select(col(byCol), posexplode(col(vecCol)))
      .groupBy(col(byCol), col("pos"))
      .agg(avg(col("col").cast(DoubleType)).as("__m"),
        count(lit(1)).as("__n"))
      .groupBy(col(byCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("__m")))),
          x => x.getField("__m")).as("centroid"),
        max(col("__n")).as("n_vectors"))

  /**
   * Embedding drift report between two corpus snapshots (model-refresh
   * monitoring: a new encoder version, a new crawl slice, a suspect
   * ingestion day): per group, member counts in each snapshot and the
   * cosine between the snapshots' group centroids — cos ≈ 1 means the
   * group's semantic center held still; a dip flags re-embedding or
   * distribution shift before it poisons retrieval quality. Groups
   * present in only one snapshot report a null cosine (nothing to
   * compare), never a fabricated 0.
   *
   * Scale: two [[groupCentroids]] passes (shuffle = groups × dims
   * cells each, fully distributed) and a groups-sized full-outer join;
   * the cosine is an in-row array expression over two dims-long
   * arrays. Nothing reaches the driver.
   */
  def centroidDrift(before: DataFrame, after: DataFrame, vecCol: String,
                    byCol: String): DataFrame = {
    val a = groupCentroids(before, vecCol, byCol)
      .select(col(byCol), col("centroid").as("__ca"),
        col("n_vectors").as("n_before"))
    val b = groupCentroids(after, vecCol, byCol)
      .select(col(byCol), col("centroid").as("__cb"),
        col("n_vectors").as("n_after"))
    val na = sqrt(dotD(col("__ca"), col("__ca")))
    val nb = sqrt(dotD(col("__cb"), col("__cb")))
    a.join(b, Seq(byCol), "full_outer")
      .select(col(byCol),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        when(col("__ca").isNull || col("__cb").isNull, lit(null))
          .when(na === 0.0 || nb === 0.0, lit(0.0))
          .otherwise(dotD(col("__ca"), col("__cb")) / (na * nb))
          .as("cos_sim"))
  }

  /**
   * Symmetric int8 quantization of an embedding column — the standard
   * storage/bandwidth companion to IVF at corpus scale (4× smaller than
   * float32, 8× than float64; dot products stay SIMD-friendly).
   * Per row: scale = max|x| / 127, q[i] = round-half-up(x[i]/scale)
   * clamped to [-127, 127]. Map-only, per-row IEEE arithmetic —
   * bit-identically reproducible by the DuckDB oracle (round-half-up is
   * floor(x + 0.5) in both engines; engine round() differs at .5).
   * Rows with a zero vector (scale 0) are dropped — nothing to encode.
   */
  def quantizeInt8(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
        (array_max(transform(col(vecCol), x => abs(x.cast(DoubleType))))
          / lit(127.0)).as("scale"),
        col(vecCol).as("__v"))
      .where(col("scale") > 0)
      .withColumn("qvec", transform(col("__v"), x =>
        least(greatest(floor(x.cast(DoubleType) / col("scale") + lit(0.5)),
          lit(-127.0)), lit(127.0)).cast(ByteType)))
      .drop("__v")

  /** Reconstruction: q[i] · scale. Error per component ≤ scale/2. */
  def dequantizeInt8(qvec: Column, scale: Column): Column =
    transform(qvec, q => q.cast(DoubleType) * scale)

  /**
   * Exact top-k by QUANTIZED cosine: both sides int8-quantized, scored
   * with the native integer dot product. The per-row scales cancel in
   * the cosine ratio, so the score is `dotI8(qa,qb) /
   * (√dotI8(qa,qa)·√dotI8(qb,qb))` — integer dots are exact in both
   * engines, the one division is per-row IEEE → the whole approximate
   * result is oracle-mirrorable. At corpus scale the quantized corpus
   * is 4× smaller to scan and the scoring kernel is pure 8-bit integer
   * math; re-rank the top candidates with [[bruteForceTopK]] float
   * scoring when exact ordering matters.
   */
  def int8TopK(corpus: DataFrame, queries: DataFrame,
               vecCol: String, idCol: String, k: Int): DataFrame = {
    import graft.functions.NativeExpressions.dotI8
    def quant(df: DataFrame, id: String) =
      quantizeInt8(df, vecCol, idCol)
        .select(col(idCol).cast(LongType).as(id), col("qvec"),
          sqrt(dotI8(col("qvec"), col("qvec")).cast(DoubleType)).as("__n"))
    val c = quant(corpus, "neighbor_id")
      .select(col("neighbor_id"), col("qvec").as("__cq"), col("__n").as("__cn"))
    val q = quant(queries, "query_id")
      .select(col("query_id"), col("qvec").as("__qq"), col("__n").as("__qn"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotI8(col("__cq"), col("__qq")).cast(DoubleType) /
          (col("__cn") * col("__qn"))).as("cos_sim"))
    topKPerGroup(scored, "query_id", "neighbor_id", "cos_sim", k)
  }

  /**
   * Two-stage search: int8 shortlist, float-exact re-rank — the 100 TB
   * composition. Stage 1 scans the 4×-smaller quantized corpus with the
   * integer kernel and keeps `shortlist` candidates per query; stage 2
   * rescans ONLY the candidates' float vectors (a semi-join-sized read)
   * and re-ranks with exact cosine. With `shortlist` ≥ corpus size the
   * result equals [[bruteForceTopK]] bit-for-bit (tested).
   */
  def int8RerankTopK(corpus: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, k: Int,
                     shortlist: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cands = int8TopK(corpus, queries, vecCol, idCol, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val c = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"))
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
    val scored = cands.join(c, Seq("neighbor_id")).join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")).as("cos_sim"))
    topKPerGroup(scored, "query_id", "neighbor_id", "cos_sim", k)
  }

  /**
   * Lloyd (k-means) refinement of a centroid seed over a deterministic
   * sample of the corpus. Each iteration assigns the sample to its
   * nearest centroid (map-only native expression), then recomputes
   * per-cluster per-dimension means with one partial-aggregated
   * groupBy — only (nCentroids × dim) tiny rows reach the driver.
   * Clusters that attract no sample points keep their previous
   * centroid. Sampling is a multiplicative-hash TakeOrdered: one
   * map-only pass with per-partition bounded heaps, no full sort.
   *
   * Better-fitted centroids balance the inverted lists, which lifts
   * recall at a fixed (nCentroids, nProbe) probe budget.
   */
  def refineCentroids(corpus: DataFrame, vecCol: String, idCol: String,
                      seed: Array[Array[Float]], iters: Int,
                      sampleN: Int = 65536): Array[Array[Float]] = {
    import graft.functions.NativeExpressions.nearestCentroids
    if (iters <= 0 || seed.isEmpty) return seed
    val sample = corpus
      .select(col(vecCol).as("__v"),
        Hashing.mulHash(col(idCol)).as("__h"),
        col(idCol).cast(LongType).as("__i"))
      .orderBy(col("__h"), col("__i")).limit(sampleN)
      .select(col("__v")).cache()
    try {
      var cent = seed
      for (_ <- 1 to iters) {
        val stats = sample
          .select(element_at(nearestCentroids(col("__v"), cent, 1), 1)
            .as("__c"), posexplode(col("__v")))
          .groupBy(col("__c"), col("pos"))
          .agg(sum(col("col").cast(DoubleType)).as("s"),
            count(lit(1)).as("n"))
          .collect()
        val next = cent.map(_.clone())
        stats.foreach { r =>
          val c = r.getInt(0)
          next(c)(r.getInt(1)) = (r.getDouble(2) / r.getLong(3)).toFloat
        }
        cent = next
      }
      cent
    } finally { sample.unpersist(); () }
  }

  /**
   * IVF-style approximate top-k (the FAISS/ScaNN shape, Spark-native):
   *
   *  1. centroids = deterministic hash-ordered sample of the corpus
   *     (driver holds only the small centroid matrix, like an ML model);
   *  2. every corpus row is assigned to its nearest centroid's inverted
   *     list by a native map-only expression — no shuffle, no crossJoin;
   *     at scale, persist the corpus partitioned by `__list` so probes
   *     are co-located reads;
   *  3. queries probe their `nProbe` nearest lists; exact cosine + the
   *     bounded top-k aggregator run inside the probed lists only.
   *
   * Work per query ≈ nProbe/nCentroids of the corpus. Recall/cost dial =
   * (nCentroids, nProbe).
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, k: Int,
              nCentroids: Int = 64, nProbe: Int = 8,
              kmeansIters: Int = 0, kmeansSample: Int = 65536): DataFrame = {
    // kmeansIters > 0 adds Lloyd refinement over a sample (higher
    // recall, but then the centroids are means, not corpus rows — keep
    // 0 for oracle runs).
    val cent = refineCentroids(corpus, vecCol, idCol,
      seedCentroids(corpus, vecCol, idCol, nCentroids),
      kmeansIters, kmeansSample)
    // no broadcast hint — query sets may be corpus-sized; planner decides
    ivfTopKWithCentroids(corpus, queries, vecCol, idCol, k, cent, nProbe)
  }

  /** Deterministic hash-ordered centroid seed: the corpus rows ranked
   *  by multiplicative hash of the id (id tie-break) — the
   *  SQL-mirrorable "random" sample shared by IVF, PQ and semantic
   *  dedup (a DuckDB oracle selects the identical rows). Driver holds
   *  n×dim floats — model-sized. */
  def seedCentroids(corpus: DataFrame, vecCol: String, idCol: String,
                    n: Int): Array[Array[Float]] = corpus
    .select(col(vecCol).as("v"), col(idCol).cast(LongType).as("i"))
    .orderBy(Hashing.mulHash(col("i")), col("i"))
    .limit(n)
    .collect().map(_.getSeq[Float](0).toArray)

  /** [[ivfTopK]] steps 2-3 with a caller-supplied centroid matrix —
   *  assignment and probing only, no centroid selection. The in-memory
   *  twin of [[writeIvfIndex]]+[[ivfProbeIndex]] (used to prove the
   *  persisted path loses nothing). */
  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame,
                           vecCol: String, idCol: String, k: Int,
                           cent: Array[Array[Float]], nProbe: Int): DataFrame = {
    import graft.functions.NativeExpressions.nearestCentroids
    val c = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"),
      element_at(nearestCentroids(col(vecCol), cent, 1), 1).as("__list"))
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"),
      explode(nearestCentroids(col(vecCol), cent, nProbe)).as("__list"))
    val scored = c.join(q, Seq("__list"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")).as("cos_sim"))
    topKPerGroup(scored, "query_id", "neighbor_id", "cos_sim", k)
  }

  /** Centroid matrix collected from a [[groupCentroids]] result (or any
   *  frame with an array-typed centroid column) — model-sized, ordered
   *  by the group key for determinism. */
  def collectCentroids(cents: DataFrame, vecCol: String = "centroid",
                       byCol: String = "label"): Array[Array[Float]] =
    cents.orderBy(col(byCol)).select(col(vecCol)).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f
        case d: Double => d.toFloat
        case x => x.toString.toFloat
      }.toArray)

  /**
   * Persist an IVF index: the corpus written as parquet PARTITIONED BY
   * its inverted-list id. List assignment is the map-only native
   * nearest-centroid expression; one `repartition(__list)` shuffle
   * co-locates each list so every list lands in a bounded number of
   * files instead of (#tasks × #lists) shards. At 100 TB this is the
   * index build: one pass over the corpus, and every later probe is a
   * partition-pruned READ of nProbe/nCentroids of the bytes — the
   * directory layout IS the inverted index.
   */
  def writeIvfIndex(corpus: DataFrame, vecCol: String, idCol: String,
                    cent: Array[Array[Float]], path: String): Unit = {
    import graft.functions.NativeExpressions.nearestCentroids
    corpus.select(col(idCol), col(vecCol),
        element_at(nearestCentroids(col(vecCol), cent, 1), 1).as("__list"))
      .repartition(col("__list"))
      .write.mode("overwrite").partitionBy("__list").parquet(path)
  }

  /**
   * Incremental index maintenance: append a new batch to a persisted
   * IVF index ([[writeIvfIndex]] layout) WITHOUT rebuilding — the
   * daily-ingest twin of [[Dedup.dedupAgainst]]. The batch is assigned
   * with the index's ORIGINAL centroids (probes must keep seeing one
   * consistent geometry; re-centering is a rebuild decision, not an
   * append), repartitioned by list, and appended — dynamic partition
   * overwrite is NOT used, so existing list directories gain files and
   * untouched lists' files are untouched. Cost is one pass over the
   * batch only; probes prune exactly as before and see old + new rows.
   * Append-heavy lists eventually fragment — [[Maintenance.compact]]
   * per list directory is the corresponding vacuum.
   */
  def appendIvfIndex(batch: DataFrame, vecCol: String, idCol: String,
                     cent: Array[Array[Float]], path: String): Unit = {
    import graft.functions.NativeExpressions.nearestCentroids
    batch.select(col(idCol), col(vecCol),
        element_at(nearestCentroids(col(vecCol), cent, 1), 1).as("__list"))
      .repartition(col("__list"))
      .write.mode("append").partitionBy("__list").parquet(path)
  }

  /**
   * Probe a persisted IVF index ([[writeIvfIndex]] layout): the union
   * of the queries' nProbe nearest lists is collected (≤ |queries| ×
   * nProbe ints — the query side is the small side by contract) and
   * pushed as a STATIC `isin` over the partition column, so Parquet
   * planning prunes every unprobed list directory (PartitionFilters,
   * no row-level DataFilters) and the scan reads ~nProbe/nCentroids of
   * the corpus files. Scoring then matches [[ivfTopKWithCentroids]]
   * exactly: same centroids ⇒ same results (tested).
   */
  def ivfProbeIndex(index: DataFrame, queries: DataFrame,
                    vecCol: String, idCol: String, k: Int,
                    cent: Array[Array[Float]], nProbe: Int): DataFrame = {
    import graft.functions.NativeExpressions.nearestCentroids
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"),
      explode(nearestCentroids(col(vecCol), cent, nProbe)).as("__list"))
    val lists = q.select(col("__list")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val c = index.where(col("__list").isin(lists: _*))
      .select(col(idCol).cast(LongType).as("neighbor_id"),
        col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"),
        col("__list").cast(IntegerType).as("__list"))
    val scored = c.join(q, Seq("__list"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")).as("cos_sim"))
    topKPerGroup(scored, "query_id", "neighbor_id", "cos_sim", k)
  }

  // ------------------------------------------------ product quantization

  /** Squared L2 distance via the three-dot composition
   *  `⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩` — each dot is the left-to-right double
   *  accumulation of [[dot]], so a SQL oracle reproduces the value
   *  bit-for-bit (an elementwise `(aᵢ−bᵢ)²` loop would group the
   *  arithmetic differently and drift by ulps, flipping argmins). */
  def l2sq(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /**
   * Product-quantization codebooks `[m][ksub][dsub]`: the vector space
   * splits into `m` contiguous subspaces; each subspace's codebook is
   * the corresponding subvectors of the first `ksub` corpus rows in
   * deterministic multiplicative-hash order (the same engine-portable
   * seeding as [[ivfTopK]] — no k-means, so a SQL oracle selects the
   * identical codebooks). Driver holds m×ksub×dsub floats — model-sized.
   */
  def pqCodebooks(corpus: DataFrame, vecCol: String, idCol: String,
                  m: Int, ksub: Int): Array[Array[Array[Float]]] = {
    val seed = corpus
      .select(col(vecCol).as("v"), col(idCol).cast(LongType).as("i"))
      .orderBy(Hashing.mulHash(col("i")), col("i"))
      .limit(ksub)
      .collect().map(_.getSeq[Float](0).toArray)
    require(seed.nonEmpty, "pqCodebooks: empty corpus")
    val dim = seed.head.length
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    Array.tabulate(m)(s => seed.map(_.slice(s * dsub, (s + 1) * dsub)))
  }

  /**
   * PQ code of a float-vector column: per subspace, the index of the
   * L2-nearest codebook entry (first index on exact ties). Map-only,
   * one native compiled loop per row (the codebooks ride as a single
   * reference object). The code is m small ints — at 64 dims / m=8 /
   * ksub=16 that is 4 bits per subspace: a 32× storage cut vs float32.
   */
  def pqCode(vec: Column, cb: Array[Array[Array[Float]]]): Column =
    graft.functions.NativeExpressions.pqCode(vec, cb)

  /** Built-in-composed twin of [[pqCode]] — m×ksub dot-expression
   *  nodes, bit-identical values (asserted in OpsSpec). Usable only for
   *  small codebooks (the expression tree grows with m×ksub and
   *  detonates codegen around ~1k codewords); it exists to pin the
   *  native expression's arithmetic to the SQL-mirrorable form. */
  private[ops] def pqCodeComposed(vec: Column, cb: Array[Array[Array[Float]]]): Column = {
    val m = cb.length
    val dsub = cb.head.head.length
    val codes = (0 until m).map { s =>
      val sub = slice(vec, s * dsub + 1, dsub)
      val dss = dot(sub, sub)
      val dists = array(cb(s).map { c =>
        val cc = c.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
        dss - lit(2.0) * dot(sub, lit(c)) + lit(cc)
      }.toIndexedSeq: _*)
      (array_position(dists, array_min(dists)) - 1).cast(IntegerType)
    }
    array(codes: _*)
  }

  /**
   * Per-subspace Lloyd refinement of PQ codebooks over a deterministic
   * corpus sample (the training step of real PQ — seed codebooks alone
   * quantize poorly). Each iteration assigns the sample with the same
   * map-only [[pqCode]] expression, then recomputes per-(subspace,
   * codeword, dimension) means in ONE partially-aggregated groupBy —
   * m×ksub×dsub tiny cells reach the driver, never sample rows.
   * Codewords that attract no points keep their previous entry.
   * Trained codebooks are not SQL-mirrorable — keep `iters = 0` for
   * oracle runs (the [[ivfTopK]] convention).
   */
  def pqTrainCodebooks(corpus: DataFrame, vecCol: String, idCol: String,
                       m: Int, ksub: Int, iters: Int,
                       sampleN: Int = 65536): Array[Array[Array[Float]]] = {
    var cb = pqCodebooks(corpus, vecCol, idCol, m, ksub)
    if (iters <= 0) return cb
    val dsub = cb.head.head.length
    val sample = corpus
      .select(col(vecCol).as("__v"), Hashing.mulHash(col(idCol)).as("__h"),
        col(idCol).cast(LongType).as("__i"))
      .orderBy(col("__h"), col("__i")).limit(sampleN)
      .select(col("__v")).cache()
    try {
      for (_ <- 1 to iters) {
        val stats = sample
          .select(col("__v"),
            posexplode(pqCode(col("__v"), cb)).as(Seq("__s", "__j")))
          .select(col("__s"), col("__j"),
            posexplode(slice(col("__v"),
              col("__s") * lit(dsub) + lit(1), lit(dsub))))
          .groupBy(col("__s"), col("__j"), col("pos"))
          .agg(sum(col("col").cast(DoubleType)).as("sm"),
            count(lit(1)).as("n"))
          .collect()
        val next = cb.map(_.map(_.clone()))
        stats.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            (r.getDouble(3) / r.getLong(4)).toFloat
        }
        cb = next
      }
      cb
    } finally { sample.unpersist(); () }
  }

  /** Reconstruction of a PQ code: the concatenation of its codebook
   *  entries — `‖q − decode(code)‖²` IS the asymmetric (ADC) distance
   *  `Σ_s ‖q_s − cb[s][code_s]‖²`, so scoring decodes once per row and
   *  reuses the exact-scan machinery. */
  def pqDecode(code: Column, cb: Array[Array[Array[Float]]]): Column =
    flatten(array(cb.indices.map { s =>
      element_at(typedLit(cb(s).map(_.toSeq).toSeq),
        element_at(code, s + 1) + lit(1))
    }: _*))

  /**
   * PQ-compressed approximate top-k by squared L2 (the FAISS IndexPQ
   * shape): the corpus is stored as m-byte codes, queries stay float,
   * and each row's ADC distance is the exact L2² between the query and
   * the row's reconstruction. Compute per row equals the float scan
   * (the win is the 32× smaller corpus scan + decode locality); recall
   * is bounded by quantization error, tested against [[bruteForceTopK]]
   * on real embeddings. Output: (query_id, neighbor_id, rank, l2_dist),
   * rank by distance ASC with id tie-break.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             vecCol: String, idCol: String, k: Int,
             m: Int = 8, ksub: Int = 16, trainIters: Int = 0): DataFrame = {
    val cb = pqTrainCodebooks(corpus, vecCol, idCol, m, ksub, trainIters)
    val c = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
        pqCode(col(vecCol), cb).as("__code"))
      .select(col("neighbor_id"), pqDecode(col("__code"), cb).as("__rec"))
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-l2sq(col("__qv"), col("__rec"))).as("__negd"))
    topKPerGroup(scored, "query_id", "neighbor_id", "__negd", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (-col("__negd")).as("l2_dist"))
  }

  /**
   * IVF-PQ composite index (the FAISS IVFADC shape — the
   * billion-scale workhorse): the corpus parquet-partitioned by
   * inverted list (coarse quantizer = the IVF centroids) with each
   * row stored as its m-byte PQ code PLUS the raw vector column.
   * Probes then compose BOTH prunings: partition pruning reads only
   * nProbe/nCentroids of the directories, and within them stage 1
   * scans only the code column — at 100 TB a probe reads
   * (nProbe/nCentroids) × (m bytes/row) of the corpus, the double
   * discount neither index achieves alone.
   */
  def writeIvfPqIndex(corpus: DataFrame, vecCol: String, idCol: String,
                      cent: Array[Array[Float]],
                      cb: Array[Array[Array[Float]]], path: String): Unit = {
    import graft.functions.NativeExpressions.nearestCentroids
    corpus.select(col(idCol).cast(LongType).as("id"),
        pqCode(col(vecCol), cb).as("code"), col(vecCol).as("vec"),
        element_at(nearestCentroids(col(vecCol), cent, 1), 1).as("__list"))
      .repartition(col("__list"))
      .write.mode("overwrite").partitionBy("__list").parquet(path)
  }

  /**
   * Incremental IVF-PQ maintenance (round 12): append a batch to a
   * [[writeIvfPqIndex]] index without rebuilding — list assignment
   * with the ORIGINAL centroids, codes with the ORIGINAL codebooks
   * (one frozen geometry for both stages; re-training either is a
   * rebuild decision — [[ivfRetrainAdvisory]] / [[pqRetrainAdvisory]]
   * are the respective monitors). One map-only pass over the batch;
   * untouched list directories' files stay untouched and probes prune
   * exactly as before over old + new rows.
   */
  def appendIvfPqIndex(batch: DataFrame, vecCol: String, idCol: String,
                       cent: Array[Array[Float]],
                       cb: Array[Array[Array[Float]]],
                       path: String): Unit = {
    import graft.functions.NativeExpressions.nearestCentroids
    batch.select(col(idCol).cast(LongType).as("id"),
        pqCode(col(vecCol), cb).as("code"), col(vecCol).as("vec"),
        element_at(nearestCentroids(col(vecCol), cent, 1), 1).as("__list"))
      .repartition(col("__list"))
      .write.mode("append").partitionBy("__list").parquet(path)
  }

  /**
   * Probe a [[writeIvfPqIndex]] index: the queries' probed-list union
   * prunes partitions statically (the [[ivfProbeIndex]] mechanism),
   * stage 1 shortlists by exact ADC L2² over code reconstructions
   * reading ONLY (id, code, __list), and stage 2 re-ranks the slim
   * shortlist with exact cosine from the vec column (the
   * [[pqProbeIndex]] semi-join). Same contracts as the parents:
   * deterministic (distance, id) ordering, bit-equal to the pure-PQ
   * probe when every list is probed.
   */
  def ivfPqProbeIndex(index: DataFrame, queries: DataFrame,
                      vecCol: String, idCol: String, k: Int,
                      cent: Array[Array[Float]],
                      cb: Array[Array[Array[Float]]], nProbe: Int,
                      shortlist: Int = 32): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    import graft.functions.NativeExpressions.nearestCentroids
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"),
      explode(nearestCentroids(col(vecCol), cent, nProbe)).as("__list"))
    val lists = q.select(col("__list")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val pruned = index.where(col("__list").isin(lists: _*))
    val stage1 = pruned
      .select(col("id").as("neighbor_id"), col("code"),
        col("__list").cast(IntegerType).as("__list"))
      .join(q, Seq("__list"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-l2sq(col("__qv"), pqDecode(col("code"), cb))).as("__negd"))
    val short = topKPerGroup(stage1, "query_id", "neighbor_id", "__negd",
      shortlist).select(col("query_id"), col("neighbor_id"))
    val cv = pruned.select(col("id").as("neighbor_id"),
      col("vec").as("__cv"), norm(col("vec")).as("__cvn"))
    val qv = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv2"), norm(col(vecCol)).as("__qvn"))
    val exact = short.join(cv, Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv2"), col("__cv"),
          col("__qvn"), col("__cvn")).as("cos_sim"))
    topKPerGroup(exact, "query_id", "neighbor_id", "cos_sim", k)
  }

  /**
   * SemDeDup-style SEMANTIC dedup decisions (Abbas et al., 2023,
   * arXiv:2303.09540): cluster the corpus by map-only nearest-centroid
   * assignment (the IVF machinery — pass [[seedCentroids]] output for
   * an oracle-mirrorable run, or [[refineCentroids]] for fitted
   * clusters), find cosine near-duplicates WITHIN each cluster only,
   * collapse the pair graph to connected components, and keep the
   * min-id member per component. Catches paraphrases and re-encodings
   * that share no n-grams — the dedup axis MinHash/SimHash cannot see.
   *
   * Returns one row per corpus document: (idCol, cluster, component,
   * kept) — component = min id of the doc's near-dup component (itself
   * when unpaired), kept = (component == id). Join `kept` back or
   * anti-join `NOT kept` ids to materialize the surviving corpus (the
   * [[Dedup.nearDeduplicate]] shape).
   *
   * Scale shape: assignment is one map-only pass (no shuffle); the
   * quadratic pairing is confined to clusters and capped at `maxBlock`
   * rows per cluster (oversized clusters are dropped from pairing, the
   * documented [[Dedup.embeddingNearDupPairs]] recall contract) —
   * scale nCentroids with the corpus so clusters stay ~10³-10⁴ rows
   * (the SemDeDup regime: 50k clusters at LAION scale); components
   * shuffle slim 16 B pair rows only; the decision table adds one
   * join of the corpus ids against the clustered-id map, which is
   * near-dup-fraction-sized, not corpus-sized.
   */
  def semanticDedup(corpus: DataFrame, vecCol: String, idCol: String,
                    cent: Array[Array[Float]], threshold: Double,
                    maxBlock: Int = 10000): DataFrame = {
    import graft.functions.NativeExpressions.nearestCentroids
    val assigned = corpus.select(col(idCol).cast(LongType).as("__id"),
      col(vecCol).as("__v"),
      element_at(nearestCentroids(col(vecCol), cent, 1), 1).as("cluster"))
    val pairs = Dedup.embeddingNearDupPairs(assigned, "__v", "__id",
      "cluster", threshold, maxBlock)
    val cc = Dedup.connectedComponents(pairs)
    assigned.join(cc, assigned("__id") === cc("id"), "left")
      .select(col("__id").as(idCol), col("cluster"),
        coalesce(col("component"), col("__id")).as("component"))
      .withColumn("kept", col("component") === col(idCol))
  }

  /**
   * Persist a PQ index: the corpus as parquet rows (id, code, vec).
   * The codes and the raw vectors live in the SAME table but different
   * COLUMNS — parquet is columnar, so a scan that selects only
   * (id, code) reads ~m bytes per row and never touches the float
   * pages. That column layout IS the two-stage index: stage 1 (ADC
   * shortlist) is a code-only scan, stage 2 (exact re-rank) reads
   * vectors for shortlist rows only. `numFiles` bounds the file count
   * (0 = keep the incoming partitioning).
   */
  def writePqIndex(corpus: DataFrame, vecCol: String, idCol: String,
                   cb: Array[Array[Array[Float]]], path: String,
                   numFiles: Int = 0): Unit = {
    val df = corpus.select(col(idCol).cast(LongType).as("id"),
      pqCode(col(vecCol), cb).as("code"), col(vecCol).as("vec"))
    (if (numFiles > 0) df.repartition(numFiles) else df)
      .write.mode("overwrite").parquet(path)
  }

  /**
   * Incremental PQ index maintenance (round 12): append a new batch to
   * a persisted PQ index ([[writePqIndex]] layout) WITHOUT rebuilding —
   * the PQ twin of [[appendIvfIndex]]. Codes are computed with the
   * index's ORIGINAL (frozen) codebooks — probes must keep decoding one
   * consistent geometry; re-training is a rebuild decision
   * ([[pqRetrainAdvisory]]), not an append. Cost is one map-only pass
   * over the batch; stage-1 probes keep their code-only column scans
   * and see old + new rows.
   */
  def appendPqIndex(batch: DataFrame, vecCol: String, idCol: String,
                    cb: Array[Array[Array[Float]]], path: String,
                    numFiles: Int = 0): Unit = {
    val df = batch.select(col(idCol).cast(LongType).as("id"),
      pqCode(col(vecCol), cb).as("code"), col(vecCol).as("vec"))
    (if (numFiles > 0) df.repartition(numFiles) else df)
      .write.mode("append").parquet(path)
  }

  /**
   * PQ index maintenance advisory (round 12): the rebuild-vs-append
   * decision for a persisted PQ index ([[writePqIndex]] /
   * [[appendPqIndex]]) — the PQ twin of [[ivfRetrainAdvisory]], with
   * the drift monitor swapped for PQ's native health signal: the mean
   * RECONSTRUCTION error `‖v − decode(code(v))‖²` under the FROZEN
   * build codebooks, measured on the build corpus vs the appended
   * batch. A batch the codebooks were never seeded from quantizes
   * worse; `recon_drift` (batch/built mean-error ratio) > `reconCeil`
   * recommends a rebuild, as does recall at the OPERATING two-stage
   * point (k, shortlist — [[pqProbeIndex]]'s path over built ∪ batch)
   * dropping under `recallFloor`.
   *
   * One summary row: (n_built, n_batch, growth, recall_at_shortlist,
   * recon_err_built, recon_err_batch, recon_drift, recommendation).
   *
   * Scale: the recon summaries are 1-row aggregate frames cross-joined
   * into the result; the truth pass is one [[bruteForceTopK]] over the
   * query SAMPLE (small side by contract), the probe pass the ordinary
   * two-stage shortlist + re-rank. Nothing collects beyond the
   * model-sized codebooks.
   */
  def pqRetrainAdvisory(built: DataFrame, batch: DataFrame,
      queries: DataFrame, vecCol: String, idCol: String, k: Int,
      m: Int, ksub: Int, shortlist: Int = 100,
      recallFloor: Double = 0.9, reconCeil: Double = 1.5): DataFrame = {
    val cb = pqCodebooks(built, vecCol, idCol, m, ksub)
    // float arrays in, double accumulation inside dotF — bit-identical
    // to DuckDB list_dot_product over the widened DOUBLE[] values
    def reconErr(df: DataFrame, out: String) = df
      .select(l2sq(col(vecCol),
        pqDecode(pqCode(col(vecCol), cb), cb)).as("__e"))
      .agg(avg(col("__e")).as(out))
    val current = built.unionByName(batch)
    val index = current.select(col(idCol).cast(LongType).as("id"),
      pqCode(col(vecCol), cb).as("code"), col(vecCol).as("vec"))
    val truth = bruteForceTopK(current, queries, vecCol, idCol, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
    val approx =
      pqProbeIndex(index, queries, vecCol, idCol, k, cb, shortlist)
        .select(col("query_id"), col("neighbor_id"))
    val hits = truth
      .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    // recall denominator = ACTUAL truth rows — bruteForceTopK returns
    // fewer than k per query when built ∪ batch has < k+1 vectors, and
    // nq·k would then understate recall into a spurious 'rebuild'
    // (round-13 advice). Vacuous truth (no queries) counts as full
    // recall rather than 0/0.
    val truthN = truth.agg(count(lit(1)).as("__truth_n"))
    built.agg(count(lit(1)).as("n_built"))
      .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
      .crossJoin(truthN).crossJoin(hits)
      .crossJoin(reconErr(built, "recon_err_built"))
      .crossJoin(reconErr(batch, "recon_err_batch"))
      .select(col("n_built"), col("n_batch"),
        (col("n_batch").cast(DoubleType) / col("n_built")).as("growth"),
        when(col("__truth_n") === 0, lit(1.0))
          .otherwise(col("__hits").cast(DoubleType) /
            col("__truth_n").cast(DoubleType))
          .as("recall_at_shortlist"),
        col("recon_err_built"), col("recon_err_batch"),
        when(col("recon_err_built") === 0.0,
          when(col("recon_err_batch") === 0.0, lit(1.0))
            .otherwise(lit(Double.PositiveInfinity)))
          .otherwise(col("recon_err_batch") / col("recon_err_built"))
          .as("recon_drift"))
      .withColumn("recommendation",
        when(col("recall_at_shortlist") < lit(recallFloor) ||
          col("recon_drift") > lit(reconCeil), lit("rebuild"))
          .otherwise(lit("append")))
  }

  /**
   * Two-stage search over a persisted PQ index ([[writePqIndex]]
   * layout): stage 1 scans ONLY (id, code) — asserted by the column
   * pruning in the scan's ReadSchema — decodes each code to its
   * reconstruction and shortlists the `shortlist` nearest rows per
   * query by exact ADC L2²; stage 2 joins the slim (query_id,
   * neighbor_id) shortlist back to the index's vector column (the
   * standard semi-join pattern — float pages are read for shortlist
   * rows' files only, and only the vec column) and re-ranks by exact
   * cosine. At 100 TB the stage-1 scan is the only full pass and it
   * reads the m-byte codes, not the 4·dim-byte floats; queries ride
   * broadcast both times.
   *
   * Output: (query_id, neighbor_id, rank, cos_sim) — rank by exact
   * cosine DESC with id tie-break, exactly [[bruteForceTopK]]'s
   * contract restricted to the shortlist (bit-equal at full shortlist,
   * tested).
   */
  def pqProbeIndex(index: DataFrame, queries: DataFrame,
                   vecCol: String, idCol: String, k: Int,
                   cb: Array[Array[Array[Float]]],
                   shortlist: Int = 100): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"))
    val codes = index.select(col("id").as("neighbor_id"),
      pqDecode(col("code"), cb).as("__rec"))
    val stage1 = codes.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-l2sq(col("__qv"), col("__rec"))).as("__negd"))
    val short = topKPerGroup(stage1, "query_id", "neighbor_id", "__negd", shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val vecs = index.select(col("id").as("neighbor_id"),
      col("vec").as("__cv"), norm(col("vec")).as("__cn"))
    val qn = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv2"), norm(col(vecCol)).as("__qn"))
    val scored = short.join(vecs, Seq("neighbor_id"))
      .join(broadcast(qn), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv2"), col("__cv"),
          col("__qn"), col("__cn")).as("cos_sim"))
    topKPerGroup(scored, "query_id", "neighbor_id", "cos_sim", k)
  }

  /**
   * Approximate top-k: candidates share the query's hyperplane bucket;
   * exact cosine + top-k within the bucket. Recall trades off with
   * `nPlanes` (fewer planes → bigger buckets → higher recall, more work).
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, k: Int, nPlanes: Int = 8): DataFrame = {
    val c = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"),
      hyperplaneBucket(col(vecCol), nPlanes).as("__bkt"))
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"),
      hyperplaneBucket(col(vecCol), nPlanes).as("__bkt"))
    // no broadcast hint: LSH is the large-query-set path — let the
    // planner pick broadcast vs shuffle join on __bkt from sizes/AQE
    val scored = c.join(q, Seq("__bkt"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")).as("cos_sim"))
    topKPerGroup(scored, "query_id", "neighbor_id", "cos_sim", k)
  }

  /** A corpus row of the Spark-core model loops: its id, its vector
    * as doubles (null for a null vector) and which elements are null
    * (`nulls` is null when none is). */
  private final case class Vec(id: Any, v: Array[Double],
      nulls: Array[Boolean]) {
    def len: Int = if (v == null) 0 else v.length
    def has(i: Int): Boolean = nulls == null || !nulls(i)
    /** The id as a long; a null id throws. */
    def lid: Long = id.asInstanceOf[java.lang.Long].longValue
  }

  /** `df`'s (`id`, `vecCol`) rows as [[Vec]]s, the vector cast to
    * `array<double>` by the plan. The loops' first job local-checkpoints
    * it ([[Fixpoint.run]]), so every later round reads the checkpoint. */
  private def vecs(df: DataFrame, id: Column, vecCol: String): RDD[Vec] =
    df.select(id, col(vecCol).cast("array<double>")).rdd.map { r =>
      if (r.isNullAt(1)) Vec(r.get(0), null, null)
      else {
        val xs = r.getSeq[java.lang.Double](1)
        Vec(r.get(0), xs.map(x => if (x == null) 0.0 else x.doubleValue)
          .toArray, if (xs.contains(null)) xs.map(_ == null).toArray else null)
      }
    }

  /** Spark's `round(d, scale)` of a double: HALF_UP on its shortest
    * decimal form; NaN and infinities pass through. */
  private def roundHalfUp(d: Double, scale: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  private def boxed(d: Double): java.lang.Double = d

  /** Per-dimension sums and counts of the non-null terms added, over as
    * many dimensions as the longest vector [[touch]]ed. Each sum starts
    * at 0.0 and adds its terms in order, as Spark's `sum` does. */
  private final class DimSums extends Serializable {
    var s = new Array[Double](0)
    var n = new Array[Long](0)
    def touch(len: Int): Unit = if (len > s.length) {
      s = java.util.Arrays.copyOf(s, len)
      n = java.util.Arrays.copyOf(n, len)
    }
    def add(i: Int, x: Double): Unit = { s(i) += x; n(i) += 1 }
    /** Adds `p`'s non-null elements, each to its dimension. */
    def addVec(p: Vec): DimSums = {
      touch(p.len)
      for (i <- 0 until p.len) if (p.has(i)) add(i, p.v(i))
      this
    }
    def addAll(o: DimSums): DimSums = {
      touch(o.s.length)
      for (i <- o.s.indices) { s(i) += o.s(i); n(i) += o.n(i) }
      this
    }
    /** Each dimension's mean (`avg`): null where no term was added. */
    def means: Vec = Vec(null, Array.tabulate(s.length)(i =>
        if (n(i) > 0) s(i) / n(i) else 0.0),
      if (n.forall(_ > 0)) null else n.map(_ == 0))
  }

  /** `parts`' per-partition sums added in partition order. */
  private def total(parts: Iterable[DimSums]): DimSums =
    parts.foldLeft(new DimSums)(_ addAll _)

  /** The first `k` of `it` in [[Hashing.mulHash]] order, then by id
    * ([[seedCentroids]]' order), on a bounded heap. */
  private def firstInHashOrder(it: Iterator[Vec], k: Int): Seq[Vec] = {
    val ord = Ordering.by((p: Vec) => (Hashing.mulHash(p.lid), p.lid))
    val heap = scala.collection.mutable.PriorityQueue.empty[Vec](ord)
    it.foreach { p =>
      if (heap.size < k) heap.enqueue(p)
      else if (ord.lt(p, heap.head)) { heap.dequeue(); heap.enqueue(p) }
    }
    heap.toSeq.sorted(ord)
  }

  /** Σ `term(i)` over the `i < n` that `has(i)`, in order from 0.0 (as
    * Spark's `sum`); null when there is no such `i`. */
  private def sumTerms(n: Int, has: Int => Boolean)(term: Int => Double)
      : java.lang.Double = {
    var acc = 0.0
    var any = false
    var i = 0
    while (i < n) {
      if (has(i)) { acc += term(i); any = true }
      i += 1
    }
    if (any) acc else null
  }

  /** `p`'s cluster among `cents` (null = dropped out) and its distance
    * Σ StrictMath.pow(p_i − c_i, 2) over the non-null dims both have:
    * the least distance rounded HALF_UP to 9 dp, a null one first (as
    * SQL's ascending sort puts it), the smaller index on a tie; index
    * -1 when `p` shares no dim with any centroid. */
  private def nearest(p: Vec, cents: Array[Vec]): (Int, java.lang.Double) = {
    var best = -1
    var bestD: java.lang.Double = null
    var bestKey: java.lang.Double = null
    for (c <- cents.indices) {
      val q = cents(c)
      if (q != null && math.min(p.len, q.len) > 0) {
        val d = sumTerms(math.min(p.len, q.len), i => p.has(i) && q.has(i))(
          i => StrictMath.pow(p.v(i) - q.v(i), 2))
        val key = if (d == null) null else boxed(roundHalfUp(d, 9))
        if (best < 0 || (bestKey != null && (key == null ||
            java.lang.Double.compare(key, bestKey) < 0))) {
          best = c; bestD = d; bestKey = key
        }
      }
    }
    (best, bestD)
  }

  /**
   * Oracle-mode Lloyd k-means: `iterations` rounds of
   * assign-to-nearest + per-cluster mean, engine-pinned — the
   * verifiable twin of [[refineCentroids]] (whose native map-only
   * assignment is the production path). Determinism contract (the
   * [[topPcProjection]] trick): a row's distance to a centroid is
   * Σ `StrictMath.pow(x − c, 2)` (Spark's `pow`) over the dims both
   * have, in dim order, skipping null elements; the argmin orders by
   * that distance ROUNDED HALF_UP to 9 decimals with the centroid index
   * as tie-break, and each round's centroid is `round(avg, 6)` per
   * (cluster, dim) over the members' non-null values — so a SQL engine
   * reproduces every assignment and every centroid exactly. Seeds are
   * the hash-ordered corpus rows ([[seedCentroids]]' selection).
   * Clusters that lose all members drop out, identically on both
   * engines. Ids are unique and non-null. Output: (idCol, cluster,
   * dist) — final-round assignment with its squared L2 distance rounded
   * to 6.
   *
   * Scale shape: the corpus enters the [[Fixpoint]] kernel once as an
   * RDD of (id, `double[]`) rows, which the first job (the seeds: each
   * partition's first k in hash order) local-checkpoints. The k·dims
   * centroids live on the driver; each centroid update is ONE job that
   * broadcasts them, assigns every row of a partition and returns only
   * that partition's per-(cluster, dim) sums and counts. The final
   * assignment is a map over the checkpoint behind `createDataFrame`,
   * run by whatever reads the result. No round plans a DataFrame.
   */
  def kmeansAssign(df: DataFrame, vecCol: String, idCol: String, k: Int,
                   iterations: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val spark = df.sparkSession
    val id = col(idCol).cast(LongType)
    val x = vecs(df, id, vecCol)
    var cents = firstInHashOrder(Fixpoint.run(x, "kmeansAssign:0")(
        firstInHashOrder(_, k)).iterator.flatten, k)
      .map(p => if (p.len == 0) null else p).toArray
    for (it <- 1 until iterations) {
      val bc = spark.sparkContext.broadcast(cents)
      val sums = Fixpoint.job(x, s"kmeansAssign:$it") { rows =>
        val acc = Array.fill(bc.value.length)(new DimSums)
        rows.foreach { p =>
          val c = nearest(p, bc.value)._1
          if (c >= 0) acc(c).addVec(p)
        }
        acc
      }
      bc.destroy()
      cents = cents.indices.map { c =>
        val m = total(sums.map(_(c))).means
        if (m.len == 0) null
        else m.copy(v = m.v.map(roundHalfUp(_, 6)))
      }.toArray
    }
    val bc = spark.sparkContext.broadcast(cents)
    spark.createDataFrame(x.flatMap { p =>
        val (c, d) = nearest(p, bc.value)
        if (c < 0) None
        else Some(Row(p.id, c.toLong,
          if (d == null) null else boxed(roundHalfUp(d, 6))))
      }, StructType(Seq(df.select(id).schema.head.copy(name = idCol),
        StructField("cluster", LongType, nullable = false),
        StructField("dist", DoubleType, nullable = true))))
  }

  /** Σ (p_i − mu_i)·v_i over the non-null dims `p` and `v` both have;
    * null when there is none. */
  private def centeredDot(p: Vec, mu: Vec, v: Array[Double])
      : java.lang.Double =
    sumTerms(math.min(p.len, v.length), i => p.has(i) && mu.has(i))(
      i => (p.v(i) - mu.v(i)) * v(i))

  /**
   * Projection of every vector onto the corpus's TOP PRINCIPAL
   * COMPONENT, via deterministic power iteration — the 1-D embedding
   * summary used for drift dashboards, coarse sorting/binning of a
   * vector corpus, and as the first split axis of spill-free ANN
   * partitioning. No covariance matrix is ever materialized
   * (dims×dims would be fine; rows×dims certainly not):
   * each iteration computes `d_r = xc_r · v` per row, then
   * `s = Σ_r xc_r · d_r` per dimension, normalizes, and ROUNDS v to 6
   * decimals (HALF_UP) — the rounding pins the iterate across engines
   * and partitionings (same contract as the rank-key roundings), so the
   * DuckDB oracle reproduces the projection bit-for-bit at 1e-6.
   * Start vector = 1/√dims per dim (fixed, unseeded), dims the first
   * row's length. Null elements drop out of every sum. Ids are unique.
   *
   * Scale shape: the corpus enters the [[Fixpoint]] kernel once as an
   * RDD of (id, `double[]`) rows; the first job local-checkpoints it
   * and returns each partition's per-dim sums and counts (the mean).
   * The 64-double iterate lives on the driver; each iteration is ONE
   * job that broadcasts it, folds every row of a partition into `s` and
   * returns only that partition's per-dim partial. The projection is a
   * map over the checkpoint behind `createDataFrame`. Output:
   * (idCol, pc1), pc1 rounded to 6.
   */
  def topPcProjection(df: DataFrame, vecCol: String, idCol: String,
                      iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val spark = df.sparkSession
    val x = vecs(df, col(idCol), vecCol)
    val first = Fixpoint.run(x, "topPcProjection:0") { rows =>
      val head = rows.nextOption()
      (head.map(p => if (p.v == null) -1 else p.len),
        (head.iterator ++ rows).foldLeft(new DimSums)(_ addVec _))
    }
    val dims = first.flatMap(_._1).headOption.getOrElse(-1)
    require(dims >= 1, s"empty vectors in $vecCol")
    val mu = total(first.map(_._2)).means
    var v: Array[Double] = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    for (it <- 1 to iterations) {
      val bc = spark.sparkContext.broadcast((mu, v))
      val s = total(Fixpoint.job(x, s"topPcProjection:$it") { rows =>
        val (mu, v) = bc.value
        val acc = new DimSums
        rows.foreach { p =>
          acc.touch(p.len)
          val d = centeredDot(p, mu, v)
          if (d != null) for (i <- 0 until p.len)
            if (p.has(i) && mu.has(i)) acc.add(i, (p.v(i) - mu.v(i)) * d)
        }
        acc
      })
      bc.destroy()
      require(s.n.forall(_ > 0),
        "degenerate corpus: a dimension has no non-null term")
      // 64 doubles to the driver per iteration (model-sized)
      val nrm = math.sqrt(s.s.map(e => e * e).sum)
      require(nrm > 0.0, "degenerate corpus: zero-variance along iterate")
      v = s.s.map(e => roundHalfUp(e / nrm, 6))
    }
    val bc = spark.sparkContext.broadcast((mu, v))
    spark.createDataFrame(x.flatMap { p =>
        if (p.len == 0) None
        else Some(Row(p.id, Option(centeredDot(p, bc.value._1, bc.value._2))
          .map(d => boxed(roundHalfUp(d, 6))).orNull))
      }, StructType(Seq(df.select(col(idCol)).schema.head.copy(name = idCol),
        StructField("pc1", DoubleType, nullable = true))))
  }

  /**
   * Per-dimension standardization (z-scoring) of an embedding corpus:
   * each dimension is centered on its corpus mean and scaled by its
   * population σ — the preprocessing that makes distance metrics
   * dimension-fair before clustering/IVF training (a high-variance
   * dimension otherwise dominates every L2). Zero-variance dimensions
   * standardize to 0 by convention. Output is FLATTENED (id, dim, z)
   * rows — at 100 TB the flattened form feeds columnar writers and
   * per-dimension statistics without re-exploding.
   *
   * Scale: one explode shuffle to (dim, value) partial-aggregated
   * stats (a dims-sized frame, broadcast back), then a map-side z —
   * vectors stream once; the explode carries 20 B rows, never text
   * or full vectors.
   */
  def standardizeDims(corpus: DataFrame, vecCol: String,
                      idCol: String): DataFrame = {
    val x = corpus.select(col(idCol).cast(LongType).as(idCol),
        posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col(idCol), col("dim").cast(LongType).as("dim"),
        col("__v").cast(DoubleType).as("__v"))
    val stats = x.groupBy(col("dim"))
      .agg(avg(col("__v")).as("__mu"),
        coalesce(stddev_pop(col("__v")), lit(0.0)).as("__sd"))
    x.join(broadcast(stats), Seq("dim"))
      .select(col(idCol), col("dim"),
        when(col("__sd") === 0.0, lit(0.0))
          .otherwise((col("__v") - col("__mu")) / col("__sd")).as("z"))
  }

  /**
   * Sign-bit (1-bit) quantized ANN: stage 1 ranks candidates by
   * HAMMING distance between sign bitmaps (dim bits per vector — a
   * 32× compression over float32; the binary-quantization mode every
   * vector store ships), stage 2 reranks the `nCandidates` shortlist
   * with exact cosine over the original floats. Hamming ties break on
   * neighbor id, so the shortlist is deterministic and the whole
   * pipeline SQL-mirrorable.
   *
   * The sign compare runs as a zip_with/filter codegen chain over the
   * float arrays (clarity + mirrorability); a packed-popcount native
   * expression drops in when the bitmaps are precomputed — the plan
   * SHAPE (bounded TopK shortlist, float rerank confined to
   * k·|queries| rows) is the scale lever, not the per-pair constant.
   */
  def binaryHammingTopK(corpus: DataFrame, queries: DataFrame,
                        vecCol: String, idCol: String, k: Int,
                        nCandidates: Int = 32): DataFrame = {
    require(k >= 1 && nCandidates >= k, "need nCandidates >= k >= 1")
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"))
    val hamming = size(filter(
      zip_with(col("__qv"), col("__cv"), (a, b) => (a > 0.0f) =!= (b > 0.0f)),
      x => x))
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("__qv"), col("__cv"), col("__qn"), col("__cn"),
        hamming.cast(LongType).as("hamming"))
    // stage 1: bounded TopK by (−hamming, id) — O(1) reject per row
    val shortlist = topKPerGroup(
      scored.select(col("query_id"), col("neighbor_id"),
        (-col("hamming").cast(DoubleType)).as("__s")),
      "query_id", "neighbor_id", "__s", nCandidates)
      .select(col("query_id"), col("neighbor_id"))
    // stage 2: exact cosine on the shortlist only
    val rerank = scored.join(shortlist, Seq("query_id", "neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        cosineWithNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")).as("cos_sim"))
    topKPerGroup(rerank.select(col("query_id"), col("neighbor_id"),
        col("cos_sim")), "query_id", "neighbor_id", "cos_sim", k)
      .join(rerank.select(col("query_id"), col("neighbor_id"),
        col("hamming")), Seq("query_id", "neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("hamming"), col("cos_sim"))
  }

  /**
   * Radius (range) search: every corpus vector within cosine
   * similarity ≥ `threshold` of each query — the retrieval mode where
   * the ANSWER SIZE is data-driven (recall-complete candidate pull for
   * RAG, duplicate sweeps around a probe vector) rather than a fixed
   * top-k. Exact scan: queries broadcast, corpus streams once, the
   * filter keeps the output sparse; there is no per-group state at all
   * (unlike top-k's bounded aggregator), so this is a pure map-filter
   * over the scan — the cheapest possible shape at 100 TB for
   * broadcast-sized query sets.
   *
   * Output: (query_id, neighbor_id, cos_sim), one row per in-radius
   * pair, self-pairs excluded.
   */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, vecCol: String,
                  idCol: String, threshold: Double): DataFrame = {
    require(threshold > -1.0 && threshold <= 1.0, "threshold in (-1, 1]")
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"))
    c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")).as("cos_sim"))
      .where(col("cos_sim") >= lit(threshold))
  }

  /**
   * LSH-bucketed production twin of [[rangeSearch]] for corpus-sized
   * query sets, where broadcasting queries stops being an option: both
   * sides bucket by [[hyperplaneBucket]] and only same-bucket pairs
   * score — the equi-join makes the pair generation a shuffle join on
   * the bucket key instead of a cross join. Misses pairs whose
   * endpoints straddle a hyperplane (recall < 1, higher for higher
   * thresholds — near vectors rarely split); the unit test pins the
   * result to a subset of [[rangeSearch]] with measured recall.
   */
  def rangeSearchLsh(corpus: DataFrame, queries: DataFrame, vecCol: String,
                     idCol: String, threshold: Double,
                     nPlanes: Int = 4): DataFrame = {
    require(threshold > -1.0 && threshold <= 1.0, "threshold in (-1, 1]")
    val q = queries.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"),
      hyperplaneBucket(col(vecCol), nPlanes).as("__bkt"))
    val c = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"),
      hyperplaneBucket(col(vecCol), nPlanes).as("__bkt"))
    c.join(q, Seq("__bkt"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")).as("cos_sim"))
      .where(col("cos_sim") >= lit(threshold))
  }

  /**
   * Farthest-point (k-center greedy / Gonzalez 1985) selection: seed
   * with the hash-order-first vector ([[seedCentroids]]' convention),
   * then `k \u2212 1` rounds each picking the vector MAXIMIZING its
   * distance to the already-chosen set \u2014 the diversity-sampling
   * primitive (coreset seeding, eval-set spread, k-means++'s
   * deterministic cousin). Determinism contract: squared-L2 distances
   * round to 9 dp and ties break on the smaller id, so every pick is
   * reproducible cross-engine (the [[kmeansAssign]] trick).
   *
   * Scale shape: the corpus enters the [[Fixpoint]] kernel once as an
   * RDD of (id, `double[]`) rows, which the first job (the seed: each
   * partition's first row in hash order) local-checkpoints. The chosen
   * points live on the driver; each round is ONE job that broadcasts
   * them, scores every unchosen row of a partition against all of them
   * and returns only that partition's farthest row — k jobs in all, and
   * the corpus never shuffles. The min-distance could carry over
   * between rounds (each round only mins against the ONE new point);
   * recomputing against \u2264 k points keeps the loop stateless, and k is
   * small by contract. Ids are unique and non-null; a k past the row
   * count fails.
   *
   * Output: (sel_idx, vec_id) \u2014 selection order, k rows.
   */
  def farthestPoints(corpus: DataFrame, vecCol: String, idCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val x = vecs(corpus, col(idCol).cast(LongType), vecCol)
    // Spark's `ORDER BY d DESC, id`: a null distance last, NaN first
    def before(a: (Vec, java.lang.Double), b: (Vec, java.lang.Double)) =
      if (a._2 == null) b._2 == null && a._1.lid < b._1.lid
      else b._2 == null || {
        val c = java.lang.Double.compare(a._2, b._2)
        c > 0 || c == 0 && a._1.lid < b._1.lid
      }
    def exhausted(n: Int) = new IllegalArgumentException(
      s"farthestPoints: k = $k exceeds the corpus's $n rows")
    var chosen = firstInHashOrder(Fixpoint.run(x, "farthestPoints:0")(
      firstInHashOrder(_, 1)).iterator.flatten, 1).toVector
    if (chosen.isEmpty) throw exhausted(0)
    while (chosen.length < k) {
      val bc = spark.sparkContext.broadcast(chosen)
      val next = Fixpoint.job(x, s"farthestPoints:${chosen.length}") { rows =>
        val ids = bc.value.map(_.lid).toSet
        var best: (Vec, java.lang.Double) = null
        rows.foreach { p =>
          if (!ids(p.lid)) {
            val cand = (p, minDist(p, bc.value))
            if (best == null || before(cand, best)) best = cand
          }
        }
        Option(best)
      }
      bc.destroy()
      chosen :+= next.flatten.reduceOption((a, b) => if (before(b, a)) b else a)
        .getOrElse(throw exhausted(chosen.length))._1
    }
    chosen.map(_.lid).zipWithIndex
      .map { case (id, i) => (i.toLong, id) }
      .toDF("sel_idx", "vec_id")
  }

  /** [[dotD]] of two vectors: null when either is null, their lengths
    * differ or a product is null; else the left-to-right sum from 0.0. */
  private def dotVec(a: Vec, b: Vec): java.lang.Double =
    if (a.v == null || b.v == null || a.len != b.len) null
    else {
      var acc = 0.0
      var i = 0
      while (i < a.len && a.has(i) && b.has(i)) {
        acc += a.v(i) * b.v(i); i += 1
      }
      if (i < a.len) null else acc
    }

  /** `p`'s least distance to `chosen`, each `v·v − 2v·c + c·c` rounded
    * HALF_UP to 9 dp; null distances drop out, and null when all do. */
  private def minDist(p: Vec, chosen: Seq[Vec]): java.lang.Double = {
    val vv = dotVec(p, p)
    var best: java.lang.Double = null
    chosen.foreach { c =>
      val vc = dotVec(p, c)
      val cc = dotVec(c, c)
      if (vv != null && vc != null && cc != null) {
        val d = roundHalfUp(vv.doubleValue - 2.0 * vc.doubleValue +
          cc.doubleValue, 9)
        if (best == null || java.lang.Double.compare(d, best) < 0) best = d
      }
    }
    best
  }

  /**
   * Filtered (metadata-constrained) exact top-k ANN \u2014 the "filtered
   * vector search" mode every vector store ships: candidates must
   * satisfy a metadata predicate EVALUATED PER (query, candidate)
   * PAIR (equality with the query's own metadata, ranges, tag
   * checks). The filter applies BEFORE the bounded TopK aggregator,
   * so k survivors per query are guaranteed to satisfy it (post-
   * filtering a plain top-k under-fills \u2014 the classic failure).
   * `predicate` sees the candidate row's columns (prefixed `c_`) and
   * the query row's (prefixed `q_`).
   *
   * Scale: the [[bruteForceTopK]] shape \u2014 broadcast queries, one
   * corpus scan, map-side filter, O(1)-reject TopK. For selective
   * filters at 100 TB, push the predicate into the scan (partition/
   * Z-order on the metadata column) so pruning happens before the
   * vector math; the operator's filter placement is already
   * scan-side.
   */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                   idCol: String, metaCols: Seq[String], k: Int,
                   predicate: Column): DataFrame = {
    val c = corpus.select((col(idCol).cast(LongType).as("neighbor_id") +:
      col(vecCol).as("__cv") +: norm(col(vecCol)).as("__cn") +:
      metaCols.map(m => col(m).as(s"c_$m"))): _*)
    val q = queries.select((col(idCol).cast(LongType).as("query_id") +:
      col(vecCol).as("__qv") +: norm(col(vecCol)).as("__qn") +:
      metaCols.map(m => col(m).as(s"q_$m"))): _*)
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id") && predicate)
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")).as("cos_sim"))
    topKPerGroup(scored, "query_id", "neighbor_id", "cos_sim", k)
  }

  /**
   * IVF tuning curve: recall@k of [[ivfTopKWithCentroids]] against
   * the [[bruteForceTopK]] truth for each probe count in `probes` \u2014
   * the accuracy-vs-cost table an operator reads before fixing
   * nProbe (recall rises monotonically with probes and hits 1.0 at
   * nProbe = nCentroids, both pinned in the unit test). Output:
   * (n_probe, recall) \u2014 mean over queries.
   *
   * Scale: truth computes once; each probe point re-runs only the
   * probed-list scan. Centroids are one model-sized sample
   * ([[seedCentroids]]), shared across all points.
   */
  def ivfRecallCurve(corpus: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, k: Int,
                     nCentroids: Int, probes: Seq[Int]): DataFrame = {
    require(probes.nonEmpty && probes.forall(p => p >= 1 && p <= nCentroids),
      s"probes must be in [1, $nCentroids]: $probes")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cent = seedCentroids(corpus, vecCol, idCol, nCentroids)
    val truth = bruteForceTopK(corpus, queries, vecCol, idCol, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
    val nQ = truth.select("query_id").distinct().count().toDouble
    val rows = probes.map { p =>
      val approx = ivfTopKWithCentroids(corpus, queries, vecCol, idCol, k,
          cent, nProbe = p)
        .select(col("query_id"), col("neighbor_id"))
      val hits = truth.join(approx, Seq("query_id", "neighbor_id"),
        "left_semi").count().toDouble
      (p, hits / (nQ * k))
    }
    rows.toDF("n_probe", "recall")
  }

  /**
   * IVF index maintenance advisory (round 11): the rebuild-vs-append
   * decision for a persisted index ([[writeIvfIndex]] /
   * [[appendIvfIndex]]), composed from the family's two health
   * monitors — [[centroidDrift]] per inverted list (has appended data
   * moved the lists' semantic centers off the frozen build geometry?)
   * and the recall of the CURRENT corpus (built ∪ batch) probed at
   * the operating point (k, nProbe) with the ORIGINAL build
   * centroids — the number an operator actually serves. One summary
   * row: (n_built, n_batch, growth, recall_at_nprobe, mean_drift_cos,
   * min_drift_cos, recommendation); recommendation is 'rebuild' when
   * recall < `recallFloor` OR the n_after-weighted mean list-drift
   * cosine < `driftFloor`, else 'append' (keep appending on the
   * frozen centroids and let [[appendIvfIndex]] carry the ingest).
   *
   * Scale: the drift and recall summaries are 1-row aggregate frames
   * cross-joined into the result — nothing collects beyond the
   * model-sized centroid sample; the truth pass is one
   * [[bruteForceTopK]] over the query SAMPLE (the small side by
   * contract), the probe pass one [[ivfTopKWithCentroids]] over the
   * probed lists only.
   */
  def ivfRetrainAdvisory(built: DataFrame, batch: DataFrame,
      queries: DataFrame, vecCol: String, idCol: String, k: Int,
      nCentroids: Int, nProbe: Int, recallFloor: Double = 0.9,
      driftFloor: Double = 0.95): DataFrame = {
    import graft.functions.NativeExpressions.nearestCentroids
    val cent = seedCentroids(built, vecCol, idCol, nCentroids)
    def assigned(df: DataFrame) = df.withColumn("__list",
      element_at(nearestCentroids(col(vecCol), cent, 1), 1))
    val current = built.unionByName(batch)
    val drift =
      centroidDrift(assigned(built), assigned(current), vecCol, "__list")
    val driftSum = drift.where(col("cos_sim").isNotNull)
      .agg((sum(col("cos_sim") * col("n_after")) / sum(col("n_after")))
          .as("mean_drift_cos"),
        min(col("cos_sim")).as("min_drift_cos"))
    val truth = bruteForceTopK(current, queries, vecCol, idCol, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
    val approx =
      ivfTopKWithCentroids(current, queries, vecCol, idCol, k, cent, nProbe)
        .select(col("query_id"), col("neighbor_id"))
    val hits = truth
      .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    // recall denominator = ACTUAL truth rows, not nq·k — see
    // pqRetrainAdvisory (round-13 advice, same formula)
    val truthN = truth.agg(count(lit(1)).as("__truth_n"))
    built.agg(count(lit(1)).as("n_built"))
      .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
      .crossJoin(truthN).crossJoin(hits).crossJoin(driftSum)
      .select(col("n_built"), col("n_batch"),
        (col("n_batch").cast(DoubleType) / col("n_built")).as("growth"),
        when(col("__truth_n") === 0, lit(1.0))
          .otherwise(col("__hits").cast(DoubleType) /
            col("__truth_n").cast(DoubleType))
          .as("recall_at_nprobe"),
        col("mean_drift_cos"), col("min_drift_cos"))
      .withColumn("recommendation",
        when(col("recall_at_nprobe") < lit(recallFloor) ||
          col("mean_drift_cos") < lit(driftFloor), lit("rebuild"))
          .otherwise(lit("append")))
  }

  /**
   * Out-of-distribution scores: each vector's squared L2 distance to
   * its OWN label centroid, z-scored against the label's distance
   * distribution (population \u03c3), `is_ood` when z > `cutoff` \u2014 the
   * label-noise / outlier sweep run before contrastive training
   * (points far from their class centroid are mislabeled or genuinely
   * OOD). Zero-\u03c3 labels (identical members) score 0 and never flag.
   *
   * Scale: per-(label, dim) means via one posexplode partial-agg
   * (labels\u00d7dims-sized, broadcast back), a map-side distance, one
   * (label) stats agg broadcast back, a map-side z \u2014 vectors stream
   * twice, nothing corpus-sized shuffles.
   */
  def oodScores(corpus: DataFrame, vecCol: String, idCol: String,
                labelCol: String, cutoff: Double = 2.5): DataFrame = {
    val x = corpus.select(col(idCol).cast(LongType).as(idCol),
        col(labelCol).as("__lbl"),
        posexplode(col(vecCol)).as(Seq("__i", "__v")))
      .select(col(idCol), col("__lbl"), col("__i"),
        col("__v").cast(DoubleType).as("__v"))
    val cent = x.groupBy(col("__lbl"), col("__i"))
      .agg(avg(col("__v")).as("__mu"))
    val dist = x.join(broadcast(cent), Seq("__lbl", "__i"))
      .groupBy(col(idCol), col("__lbl"))
      .agg(sum((col("__v") - col("__mu")) * (col("__v") - col("__mu")))
        .as("dist2"))
    val stats = dist.groupBy(col("__lbl"))
      .agg(avg(col("dist2")).as("__dm"),
        coalesce(stddev_pop(col("dist2")), lit(0.0)).as("__ds"))
    dist.join(broadcast(stats), Seq("__lbl"))
      .select(col(idCol), col("__lbl").as(labelCol), col("dist2"),
        when(col("__ds") === 0.0, lit(0.0))
          .otherwise((col("dist2") - col("__dm")) / col("__ds")).as("z"))
      .withColumn("is_ood", col("z") > lit(cutoff))
  }
}
