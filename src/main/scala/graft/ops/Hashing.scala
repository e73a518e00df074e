package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Shared deterministic hashing helpers for sampling/ordering. */
object Hashing {

  private val M = 1000000007L
  // 2654435761 mod M — reduced up front so the product below stays
  // < 2^60 for ANY 64-bit id
  private val C = 654435747L

  /**
   * Overflow-safe multiplicative id hash `(id · 2654435761) mod 1e9+7`,
   * computed as `((id mod M) · (C mod M)) mod M` — identical values
   * (modular arithmetic), but no 64-bit wraparound: a raw
   * `id * 2654435761` overflows Long for ids above ~3.4e9, which under
   * Spark's default ANSI mode is a runtime ArithmeticException and with
   * ANSI off silently skews the hash sign/distribution. The DuckDB
   * oracles keep the plain `(id*2654435761)%1000000007` form, which is
   * value-equal at oracle scales (DuckDB raises on overflow rather than
   * wrapping, so the forms can only ever agree or fail loudly).
   */
  def mulHash(id: Column): Column =
    (pmod(id.cast(LongType), lit(M)) * lit(C)) % lit(M)

  /** [[mulHash]] of one id, for code outside a DataFrame plan. */
  def mulHash(id: Long): Long = Math.floorMod(id, M) * C % M

  /** Run INDEPENDENT Spark actions from a small thread pool so one
    * job's tasks back-fill the executors another job's tail leaves
    * idle (guide §2.6 — Spark's scheduler happily runs several jobs in
    * one application; actions are only sequential because driver code
    * calls them sequentially). Used by the persisted-index builders,
    * whose 2–3 output tables (bands/shingles/params, postings/stats)
    * are independent once any shared lazy input is materialized —
    * callers must materialize shared localCheckpoints FIRST (one
    * count), so concurrent first-actions never race the checkpoint.
    * The first task failure rethrows with its original exception type
    * after every task has been awaited. An interrupt of the caller
    * interrupts every task and waits for the pool threads to end before
    * it propagates, so no task outlives the call. */
  private[graft] def concurrently(tasks: (() => Unit)*): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futs = tasks.map(t => pool.submit(new java.util.concurrent
        .Callable[Unit] { def call(): Unit = t() }))
      var firstErr: Throwable = null
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstErr == null) firstErr = e.getCause
          case e: InterruptedException =>
            pool.shutdownNow()
            pool.awaitTermination(Long.MaxValue,
              java.util.concurrent.TimeUnit.NANOSECONDS)
            throw e
        }
      }
      if (firstErr != null) throw firstErr
    } finally pool.shutdown()
  }
}
