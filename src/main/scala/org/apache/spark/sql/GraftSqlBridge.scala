package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Minimal bridge to the `private[sql]` Expression↔Column conversions —
 * the standard technique for libraries that ship custom Catalyst
 * expressions (the conversion is public API in spirit: every built-in
 * function in `org.apache.spark.sql.functions` uses it).
 */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Exact integer division (truncating), avoiding the double round-trip
    * of `Column./` that loses precision above 2^53. */
  def integralDivide(l: Column, r: Column): Column =
    column(catalyst.expressions.IntegralDivide(expression(l), expression(r)))

  /** SQL-standard exact discrete percentile (the engine aggregate behind
    * `percentile_disc(p) WITHIN GROUP (ORDER BY c)`): smallest value
    * whose cumulative distribution >= p. Buffers (value -> count) with
    * map-side partial merge — no per-group collect_list materialization. */
  def percentileDisc(c: Column, p: Double): Column =
    column(catalyst.expressions.aggregate.PercentileDisc(
      expression(c), catalyst.expressions.Literal(p))
      .toAggregateExpression())

  /** DISTINCT-qualified aggregates (the engine path behind
    * `avg(DISTINCT x)` / `stddev_samp(DISTINCT x)` — `functions` has
    * no distinct variants for these): the AggregateExpression carries
    * `isDistinct = true`, so the physical plan dedups per group
    * BEFORE the aggregate buffer (a partial distinct on (group keys,
    * value) — the standard SQL lowering, map-side combinable). */
  def avgDistinct(c: Column): Column =
    column(new catalyst.expressions.aggregate.Average(expression(c))
      .toAggregateExpression(isDistinct = true))

  def stddevSampDistinct(c: Column): Column =
    column(new catalyst.expressions.aggregate.StddevSamp(expression(c))
      .toAggregateExpression(isDistinct = true))

  def stddevPopDistinct(c: Column): Column =
    column(new catalyst.expressions.aggregate.StddevPop(expression(c))
      .toAggregateExpression(isDistinct = true))

  /** Spark's runtime-filter Bloom aggregate (`BloomFilterAggregate`,
    * internal — the engine behind InjectRuntimeFilter's row-group
    * pruning): builds a serialized Bloom bitset over LONG inputs. The
    * scale tool for "membership set too big to broadcast exactly" —
    * the broadcast is `numBits` BITS regardless of entry count. */
  def bloomFilterAgg(c: Column, expectedItems: Long, numBits: Long): Column =
    column(new catalyst.expressions.aggregate.BloomFilterAggregate(
        expression(c),
        catalyst.expressions.Literal(expectedItems),
        catalyst.expressions.Literal(numBits))
      .toAggregateExpression())

  /** Membership probe against a [[bloomFilterAgg]] bitset: false
    * positives at the configured rate, NO false negatives. */
  def mightContain(bloom: Column, value: Column): Column =
    column(catalyst.expressions.BloomFilterMightContain(
      expression(bloom), expression(value)))

  /** `c` IN `values` as one hashed set test (the `InSet` the optimizer
    * turns a long `isin` into), with no literal expression per value.
    * `values` are external values of `c`'s type: rows for structs. */
  def inSet(c: Column, values: Iterable[Any]): Column =
    column(catalyst.expressions.InSet(expression(c), values.iterator
      .map(catalyst.CatalystTypeConverters.convertToCatalyst).toSet))

  /** The catalog-derived MANAGED location a table identifier maps to
    * (database-aware: `db.table` → `<db location>/table`, never a
    * string concat on warehouse.dir) plus whether the identifier is
    * currently registered — the pair an orphan-location cleanup needs
    * before `saveAsTable` ([[graft.ops.Bucketing.writeBucketed]]). */
  def managedTableStatus(spark: SparkSession, table: String)
      : (java.net.URI, Boolean) = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val cat = spark.sessionState.catalog
    (cat.defaultTablePath(ident), cat.tableExists(ident))
  }

  /** A 1-row DataFrame as a scalar-subquery expression — the shape
    * `might_contain` requires for a non-literal bitset, and exactly how
    * Spark's own InjectRuntimeFilter wires a Bloom build into a probe
    * (the subquery broadcasts its single row; no join appears). */
  def scalarSubquery(df: Dataset[Row]): Column =
    column(catalyst.expressions.ScalarSubquery(df.queryExecution.analyzed))

  /** Register a function on a live session's registry (the
    * SparkSessionExtensions route only applies at session build time). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.functions.NativeExpressions", name),
      builder)
}
