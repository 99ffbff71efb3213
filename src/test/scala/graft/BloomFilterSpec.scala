package graft

import graft.functions.expressions.BloomFilters
import org.apache.spark.sql.functions._

/** The bloom expression wrappers and the q88 bloom-prescreened
  * decontamination path: no false negatives ever, bounded false
  * positives, and result identity with the exact-broadcast q41.
  */
class BloomFilterSpec extends SparkTestBase {
  import spark.implicits._

  test("bloomAgg/mightContain: every inserted key hits, FP rate bounded") {
    val keys = (0 until 2000).map(i => s"member-$i")
    val bloom = keys.toDF("k")
      .agg(BloomFilters.bloomAgg(col("k"), 2000L, 20000L))
      .head().getAs[Array[Byte]](0)
    // no false negatives — the contract the prescreen correctness rests on
    val hits = keys.toDF("k")
      .filter(BloomFilters.mightContain(bloom, col("k"))).count()
    assert(hits == keys.size)
    // false positives bounded: 10 bits/key ≈ 1% expected; allow 5%
    val probes = (0 until 2000).map(i => s"outsider-$i")
    val fps = probes.toDF("k")
      .filter(BloomFilters.mightContain(bloom, col("k"))).count()
    assert(fps < 100, s"FP count $fps out of 2000 probes")
  }

  test("build lifts the runtime-filter clamp without writing caller confs") {
    // BloomFilterAggregate silently clamps numBits at
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits. Demonstrate
    // the clamp by lowering the conf, then show BloomFilters.build lifts
    // it on a derived session while the caller's conf stays exactly as
    // the caller set it — the mechanism q88 relies on past ~4M
    // benchmark shingles.
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val prev = spark.conf.getOption(bitsKey)
    try {
      spark.conf.set(bitsKey, "1024")
      val keys = (0 until 500).map(i => s"k-$i").toDF("k")
      val clamped = keys
        .agg(BloomFilters.bloomAgg(col("k"), 500L, 65536L))
        .head().getAs[Array[Byte]](0).length
      val before = spark.conf.getAll
      val lifted = BloomFilters.build(keys, col("k"), 500L, 65536L).length
      // serialized form carries the bit array: the clamped build must be
      // far smaller than the requested 64k-bit (8 KiB) filter
      assert(clamped < 2048, s"clamp did not engage (size $clamped)")
      assert(lifted > 8000, s"build did not lift the clamp ($lifted)")
      assert(spark.conf.getAll == before)
      assert(spark.conf.get(bitsKey) == "1024")
    } finally prev match {
      case Some(v) => spark.conf.set(bitsKey, v)
      case None => spark.conf.unset(bitsKey)
    }
  }

  test("q88 bloom-prescreened decontamination == q41 exact-broadcast result") {
    val got = queries.PipelineOps.bloomDecontaminate(spark, sf)
      .collect().toSeq
    val want = queries.PipelineOps.decontaminate(spark, sf)
      .collect().toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }
}
