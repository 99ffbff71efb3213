package graft.functions.expressions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftbridge.{ColumnBridge, SessionBridge}
import org.apache.spark.sql.types.BinaryType

/** Column builders over Spark's OWN bloom-filter expressions — the
  * codegen'd internals behind runtime row-level filtering
  * (`InjectRuntimeFilter`), which Spark does not expose as public
  * `functions._` entries. Both sides hash with the same seeded
  * `XxHash64`, so a filter built by [[bloomAgg]] is probed correctly by
  * [[mightContain]].
  *
  * The scale role (see `PipelineOps.bloomDecontaminate`): a bloom built
  * over N keys is a few bits per key REGARDLESS of key width, so a join
  * side too large to broadcast as exact rows still fits as a filter;
  * probing is a map-side expression with no shuffle, no false
  * negatives, and a bounded false-positive rate that a downstream exact
  * join removes. This mirrors what Spark's own runtime filter injects
  * between a dimension filter and a fact scan, made explicit and
  * composable.
  */
object BloomFilters {
  /** CLAMP HAZARD: `BloomFilterAggregate` silently caps its arguments at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (default 4M)
    * and `...maxNumBits` (default 67108864 = 8 MB). Past the clamp the
    * filter is undersized — results stay correct (a downstream exact
    * join removes false positives; false negatives cannot occur) but
    * the FP rate degrades and the prescreen stops pruning.
    *
    * [[build]] returns a serialized filter over `c` of `df`, sized by
    * `expectedItems` and `numBits` with the clamp lifted. The aggregate
    * reads the caps from the session that owns the frame it runs in, so
    * the build runs on `df` rebound to a session derived with caps
    * raised to the request ([[graft.Sessions.scoped]]); a persisted `df`
    * is still read from its cache, which the sessions share. The
    * caller's session is never written: a concurrent query in it, Spark's
    * own `InjectRuntimeFilter` included, keeps the caller's caps.
    */
  def build(df: DataFrame, c: Column, expectedItems: Long,
      numBits: Long): Array[Byte] = {
    val lifted = graft.Sessions.scoped(df.sparkSession,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" ->
        math.max(expectedItems, 4000000L).toString,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" ->
        math.max(numBits, 67108864L).toString)
    SessionBridge.rebind(df, lifted)
      .agg(bloomAgg(c, expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** Aggregate a column into a serialized bloom filter (binary).
    * `expectedItems`/`numBits` size the filter exactly like
    * `bloom_filter_agg`'s arguments; ~10 bits/item ≈ 1% FP rate.
    * Distributed build: partial filters merge associatively, the driver
    * receives only the final `numBits`-sized array. Sizes beyond the
    * runtime-filter conf caps are silently clamped — use [[build]] when
    * `expectedItems` can exceed 4M.
    */
  def bloomAgg(c: Column, expectedItems: Long, numBits: Long): Column =
    ColumnBridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(ColumnBridge.expression(c))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** Probe a serialized filter: true if `c` MIGHT be in it (no false
    * negatives). The filter bytes ride the plan as a literal — the same
    * materialized-scalar shape Spark's runtime filter produces from its
    * creation-side subquery; at cluster scale the task binary carries
    * the filter once per executor fetch, not per row.
    */
  def mightContain(bloom: Array[Byte], c: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      new XxHash64(Seq(ColumnBridge.expression(c)))))
}
