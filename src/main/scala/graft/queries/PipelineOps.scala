package graft.queries

import graft.Tables
import graft.functions.VectorFunctions.quantize
import graft.functions.expressions.LongDotProduct.longDot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators beyond round 1's surface (north star:
  * the ops a 100 TB LLM corpus build needs): deterministic stratified
  * sampling, sequence chunking, benchmark decontamination, temporal
  * interval joins, quality bucketing, and euclidean nearest neighbours.
  *
  * Everything is a native-expression narrow pipeline or a single
  * key-partitioned shuffle; nothing collects to the driver. Determinism
  * conventions follow BUILD_NOTES (md5-derived randomness, quantized
  * integer vector math, unique sort tie-breaks) so every query here is
  * DuckDB-oracle-checkable bit for bit.
  */
object PipelineOps {
  import Exact._

  private def toks: Column = split(col("text"), " ")

  // ------------------------------------------------------------- sampling
  /** Deterministic hash-stratified sampling — downsample dominant
    * languages to rebalance a corpus. The per-row uniform is the first 8
    * hex chars of md5(doc_id): fixed-width lowercase hex compares
    * lexicographically exactly like the number it encodes, so "u < rate"
    * is a plain string compare both engines share (no hex→int conversion
    * needed). Seeded-by-key sampling is reproducible across runs,
    * partitionings, and engines — unlike `DataFrame.sample`, whose
    * outcome depends on row-to-partition assignment. Map-only: at 100 TB
    * this is a full scan with zero shuffle, and the filter is
    * codegen-friendly.
    */
  // Keep rates — en 25%, es 50%, de 75%, everything else 100% — defined
  // ONCE as hex thresholds and rendered into both engines' expressions:
  // q39 and q46 share them, so a rate change cannot desynchronize the
  // Spark queries from their oracles or q39 from the composed pipeline.
  private val keepRates: Seq[(String, String)] =
    Seq("en" -> "40000000", "es" -> "80000000", "de" -> "c0000000")

  private def u8Col: Column = substring(md5(col("doc_id").cast("string")), 1, 8)
  private val u8Sql: String = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)"

  private def thresholdCol: Column =
    keepRates.foldRight(lit("zzzzzzzz"): Column) { case ((l, t), acc) =>
      when(col("lang") === l, t).otherwise(acc) // 'zzzzzzzz' > any hex: keep all
    }
  private val thresholdSql: String =
    keepRates.map { case (l, t) => s"WHEN lang = '$l' THEN '$t'" }
      .mkString("CASE ", "\n       ", "\n       ELSE 'zzzzzzzz' END")

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("u8", u8Col)
      .filter(col("u8") < thresholdCol)
      .select(col("doc_id"), col("lang"), col("source"), col("u8"))
      .orderBy(col("doc_id"))

  val stratifiedSampleSql: String =
    s"""SELECT doc_id, lang, source,
       |  $u8Sql AS u8
       |FROM documents
       |WHERE $u8Sql <
       |  $thresholdSql
       |ORDER BY doc_id""".stripMargin

  /** Deterministic train/val/test split — the same hash-uniform u8 drives
    * an 80/10/10 assignment (0.8·16⁸ ≈ cccccccc, 0.9·16⁸ ≈ e6666666).
    * Split membership is a pure function of the doc key: stable across
    * runs, engines, partitionings, and dataset growth (a new doc never
    * moves an old doc's split). Map-only + one small aggregate.
    */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame = {
    val split = when(u8Col < "cccccccc", "train")
      .when(u8Col < "e6666666", "val")
      .otherwise("test")
    Tables.documents(spark, dir)
      .select(split.as("split"), col("lang"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"), col("lang"))
  }

  val datasetSplitSql: String =
    s"""SELECT CASE WHEN $u8Sql < 'cccccccc' THEN 'train'
       |            WHEN $u8Sql < 'e6666666' THEN 'val'
       |            ELSE 'test' END AS split,
       |  lang, COUNT(*) AS n_docs
       |FROM documents
       |GROUP BY 1, 2
       |ORDER BY split, lang""".stripMargin

  /** q81: deterministic global shuffle-and-shard — the training-order
    * randomization step before tokenizer sharding. Every doc gets a
    * seeded pseudo-random rank (the same md5-of-key u8 the sampling
    * family uses: reproducible across runs, engines, partitionings),
    * a shard from the rank's first hex digit, and a position within its
    * shard. At 100 TB this is one hash exchange on `shard` plus
    * shard-partitioned row_number windows — there is never a GLOBAL sort
    * or a single-reducer window; `nShards` scales to thousands and each
    * shard's writer streams its rows in position order. The hex-digit →
    * int mapping is the same `instr` trick q13's simhash oracle proved
    * portable, so the whole assignment is oracle-exact.
    */
  val nShards = 8

  def shuffleShard(spark: SparkSession, dir: String): DataFrame = {
    val shard = (expr("instr('0123456789abcdef', substring(u8, 1, 1))") - 1) % nShards
    val w = Window.partitionBy(col("shard")).orderBy(col("u8"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), u8Col.as("u8"))
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  val shuffleShardSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, $u8Sql AS u8 FROM documents
       |), s AS (
       |  SELECT doc_id, u8,
       |    CAST((instr('0123456789abcdef', substring(u8, 1, 1)) - 1) % $nShards
       |         AS INT) AS shard
       |  FROM h
       |)
       |SELECT doc_id, shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY u8, doc_id) AS INT)
       |    AS pos
       |FROM s ORDER BY shard, pos""".stripMargin

  /** Token-budget sequence packing (approximate): per language, documents
    * in doc_id order accumulate into packs of ~2048 tokens — pack_id is
    * the preceding cumulative token count integer-divided by the budget,
    * so assignment needs only one windowed sum (the greedy bin-packing
    * loop a 100 TB run cannot afford is approximated by the running
    * quotient; packs can overflow by at most one document).
    */
  val packBudget = 2048

  def sequencePack(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), size(toks).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", expr(s"(cum - n_tokens) div $packBudget"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
      .orderBy(col("lang"), col("pack_id"))
  }

  val sequencePackSql: String =
    s"""WITH t AS (
       |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
       |  FROM documents
       |), c AS (
       |  -- CAST: DuckDB windowed SUM(int) is HUGEINT -> pandas float64
       |  SELECT lang, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM t
       |)
       |SELECT lang, CAST((cum - n_tokens) // $packBudget AS BIGINT) AS pack_id,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
       |FROM c
       |GROUP BY lang, pack_id
       |ORDER BY lang, pack_id""".stripMargin

  // ------------------------------------------------------------- chunking
  /** Sequence chunking: split each document into consecutive 32-token
    * chunks (the pre-tokenization step of sequence packing). Narrow
    * per-row transform + generator — no shuffle; output rows ≈ tokens/32,
    * so the operator's 100 TB cost is the scan itself.
    */
  val chunkTokens = 32

  def docChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), expr(s"(size(t) - 1) div $chunkTokens")),
        i => struct(
          array_join(slice(col("t"), i * chunkTokens + 1, lit(chunkTokens)), " ")
            .as("chunk_text"),
          size(slice(col("t"), i * chunkTokens + 1, lit(chunkTokens)))
            .as("n_chunk_tokens")))).as(Seq("chunk_idx", "ch")))
      .select(col("doc_id"), col("chunk_idx"),
        col("ch.chunk_text").as("chunk_text"),
        col("ch.n_chunk_tokens").as("n_chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val docChunksSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), ch AS (
       |  SELECT doc_id, t,
       |    unnest(range((len(t) + ${chunkTokens - 1}) // $chunkTokens)) AS chunk_idx
       |  FROM tk
       |)
       |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       |  array_to_string(list_slice(t, chunk_idx * $chunkTokens + 1,
       |                             chunk_idx * $chunkTokens + $chunkTokens), ' ') AS chunk_text,
       |  len(list_slice(t, chunk_idx * $chunkTokens + 1,
       |                 chunk_idx * $chunkTokens + $chunkTokens)) AS n_chunk_tokens
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  // ------------------------------------------------------- decontamination
  /** Benchmark decontamination: find training documents sharing any
    * 4-token shingle with a benchmark set (here: doc_id % 50 == 0 stands
    * in for the eval suite; real pipelines use 8-13-gram overlap — 4
    * fits the testdata's short synthetic docs while keeping the match
    * non-trivial). The industry-standard n-gram overlap check
    * before training. Plan shape: explode-to-shingles on both sides, then
    * an equi-join on the shingle — the benchmark side is tiny and
    * broadcast, so the train side never shuffles; at 100 TB this stays a
    * map-side join over one corpus scan.
    */
  val contamN = 4

  /** Distinct `contamN`-token shingles per doc. Filter BEFORE shingling:
    * each side pays the explode only for its own subset (the benchmark
    * side is ~2% of the corpus, not a re-scan of all of it). Tokens are
    * materialized into a column first — an expression referenced inside
    * a `transform` lambda is re-evaluated per element (loop-invariant
    * split() isn't hoisted out of higher-order functions), which made
    * the inline form 3x slower.
    */
  private def contamShingled(df: DataFrame): DataFrame = df
    .select(col("doc_id"), toks.as("t"))
    .filter(size(col("t")) >= contamN)
    .select(col("doc_id"), explode(array_distinct(transform(
      sequence(lit(0), size(col("t")) - contamN),
      i => array_join(slice(col("t"), i + 1, lit(contamN)), " ")))).as("sh"))

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    def shingled(df: DataFrame): DataFrame = contamShingled(df)
    val docs = Tables.documents(spark, dir)
    val bench = shingled(docs.filter(col("doc_id") % 50 === 0))
      .select(col("sh"), col("doc_id").as("bench_id"))
    shingled(docs.filter(col("doc_id") % 50 =!= 0))
      .join(broadcast(bench), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_shared_shingles"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS t
       |  FROM documents WHERE len(string_split(text, ' ')) >= $contamN
       |), sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [array_to_string(list_slice(t, i, i + ${contamN - 1}), ' ')
       |     for i in range(1, len(t) - ${contamN - 2})])) AS sh
       |  FROM tk
       |), bench AS (
       |  SELECT sh, doc_id AS bench_id FROM sh WHERE doc_id % 50 = 0
       |)
       |SELECT s.doc_id, COUNT(DISTINCT s.sh) AS n_shared_shingles,
       |  COUNT(DISTINCT bench.bench_id) AS n_bench_docs
       |FROM sh s JOIN bench ON s.sh = bench.sh
       |WHERE s.doc_id % 50 <> 0
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** q88: bloom-prescreened decontamination — q41's semantics through the
    * 100 TB plan shape. q41 broadcasts the benchmark's EXACT shingle rows,
    * which stops working when the eval suite's shingle set outgrows the
    * broadcast budget; here the benchmark side aggregates into a
    * fixed-size bloom filter ([[graft.functions.expressions.BloomFilters
    * .bloomAgg]] — a distributed build, the driver holds only the
    * `numBits` array), and the corpus is prescreened MAP-SIDE with
    * `mightContain` before anything joins. Only the might-contain
    * survivors (true matches + the bounded false-positive residue) enter
    * the exact shingle join, so the shuffle is ∝ contamination rate, not
    * corpus size; false positives are removed by that exact join and
    * false negatives cannot occur, so the result — and the oracle — are
    * IDENTICAL to q41's. ~10 bits/shingle ≈ 1% FP; the filter rides the
    * plan as a literal, the same materialized-scalar shape Spark's own
    * `InjectRuntimeFilter` produces. The build goes through
    * [[graft.functions.expressions.BloomFilters.build]]: past the
    * runtime-filter conf caps (4M items / 64M bits) the aggregate
    * silently clamps and the ~1%-FP claim stops holding — see the
    * clamp note on [[graft.functions.expressions.BloomFilters]].
    */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.BloomFilters
    val docs = Tables.documents(spark, dir)
    // registry-cached: the bench side is consumed three times (sizing
    // count, bloom build, exact join) and would re-run the explode-
    // shingling for each; PersistRegistry keys it per dir (fingerprinted
    // on documents.parquet) so the returned frame's own later join still
    // hits the cache — a plain persist/unpersist-in-finally would drop
    // the cache BEFORE the caller's action runs the join.
    val bench = graft.ops.PersistRegistry.cached("q88bench:" + dir,
      contamShingled(docs.filter(col("doc_id") % 50 === 0))
        .select(col("sh"), col("doc_id").as("bench_id")),
      sourcePath = dir + "/documents.parquet")
    // Sized on DISTINCT shingles (what the filter stores), not
    // (doc_id, sh) rows, so numBits isn't overestimated.
    val nBench = math.max(bench.select(col("sh")).distinct().count(), 1L)
    val numBits = math.max(nBench * 10L, 8192L)
    // BloomFilters.build lifts the runtime-filter caps (4M items / 64M
    // bits default) on a derived session — beyond ~4M shingles a plain
    // build silently degrades to >1% FP and the prescreen stops pruning
    // (results stay correct via the exact join).
    val bloom = BloomFilters.build(bench, col("sh"), nBench, numBits)
    contamShingled(docs.filter(col("doc_id") % 50 =!= 0))
      .filter(BloomFilters.mightContain(bloom, col("sh")))
      .join(bench, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_shared_shingles"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------- interval join
  /** Temporal interval join: for each error event, count + value-sum of
    * the same user's events in the preceding 10 minutes. Implemented with
    * time bucketing — each error probes buckets (b-1, b) of a
    * (user, bucket)-keyed equi-join, then the exact range filter — so the
    * shuffle keys are bounded and the plan never degenerates into the
    * unbounded range-join blowup; this is the scale-correct banded-join
    * shape (the oracle states the same semantics as a plain range join).
    */
  val windowUs: Long = 600000000L // 10 minutes in microseconds

  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("us"))
    val probes = errors
      .withColumn("bucket", explode(array(
        expr(s"us div $windowUs - 1"), expr(s"us div $windowUs"))))
    val ctx = ev.select(col("user_id"),
      expr(s"us div $windowUs").as("bucket"),
      col("us").as("ctx_us"), col("value"))
    // inner banded join + exact range filter, then restore zero-match
    // errors with a left join against the full error set (an event whose
    // buckets matched only out-of-range rows must still surface with 0)
    val matched = probes.join(ctx, Seq("user_id", "bucket"))
      .filter(col("ctx_us") >= col("us") - windowUs && col("ctx_us") < col("us"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_prior_10m"), sumD(col("value")).as("value_10m"))
    errors.select(col("event_id"))
      .join(matched, Seq("event_id"), "left")
      .select(col("event_id"),
        coalesce(col("n_prior_10m"), lit(0L)).as("n_prior_10m"),
        coalesce(col("value_10m"), lit(0.0)).as("value_10m"))
      .orderBy(col("event_id"))
  }

  val intervalJoinSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, value,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events
       |)
       |SELECT e.event_id,
       |  COUNT(c.us) AS n_prior_10m,
       |  coalesce(CAST(SUM(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE), 0.0)
       |    AS value_10m
       |FROM ev e LEFT JOIN ev c
       |  ON e.user_id = c.user_id
       |  AND c.us >= e.us - $windowUs AND c.us < e.us
       |WHERE e.event_type = 'error'
       |GROUP BY e.event_id
       |ORDER BY e.event_id""".stripMargin

  // ------------------------------------------------------ quality buckets
  /** Quality bucketing: percent_rank + decile (ntile) of each document by
    * token count — the gating step before mixing corpora by quality tier.
    * ntile needs a unique total order to be deterministic: ties broken by
    * doc_id on both engines. Semantics are the textbook unpartitioned
    * window (the oracle SQL states them that way); the execution is
    * [[qualityBucketsAtScale]], which computes the identical output with
    * partitioned windows only.
    */
  def qualityBuckets(spark: SparkSession, dir: String): DataFrame =
    // one implementation, the scale-safe one: the textbook
    // percent_rank/ntile window formulation (a single-task global sort)
    // lives only in PipelineOpsSpec as a correctness cross-check — the
    // declared surface never plans an unpartitioned window
    qualityBucketsAtScale(spark, dir)

  val qualityBucketsSql: String =
    """WITH t AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
      |)
      |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
      |  percent_rank() OVER (ORDER BY n_tokens, doc_id) AS pr,
      |  CAST(ntile(10) OVER (ORDER BY n_tokens, doc_id) AS INT) AS decile
      |FROM t ORDER BY doc_id""".stripMargin

  /** Scale-safe quality deciles (q56, and since round 5 also q43's
    * execution): identical output to the percent_rank/ntile window
    * formulation with NO unpartitioned window anywhere in the plan. The
    * window form (one global single-task sort) survives only as the
    * oracle SQL and a spec cross-check; this is the plan a 100 TB corpus
    * runs.
    *
    * Decomposition: a document's global rank under (n_tokens, doc_id)
    * equals (count of docs with smaller n_tokens) + (its doc_id
    * row_number within its own n_tokens value). The first term comes from
    * per-value counts — one aggregation to ~|distinct values| rows — made
    * cumulative by a two-level prefix sum whose windows are both
    * PARTITIONED (within 1024-value coarse blocks, plus a broadcast
    * theta-join over the tiny per-block totals). The second term is a
    * window partitioned by n_tokens over a narrow (doc_id, n_tokens)
    * projection — D-way parallel, never a global sort. percent_rank and
    * ntile are then closed-form integer arithmetic on (rank, N): both
    * engines share one double division for pr, and the ntile bucket
    * boundaries use ntile's exact remainder rule, so results are
    * bit-identical to q43's window formulation (the oracle IS q43's SQL).
    */
  private val decileCoarseBlock = 1024

  def qualityBucketsAtScale(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), size(toks).as("n_tokens"))
    // per-value counts: the only full-data aggregation (narrow rows)
    val vc = base.groupBy(col("n_tokens")).agg(count(lit(1)).as("cnt"))
      .withColumn("coarse", expr(s"n_tokens div $decileCoarseBlock"))
    // prefix sum level 1: cumulative within each coarse block (partitioned)
    val wFine = Window.partitionBy(col("coarse")).orderBy(col("n_tokens"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fine = vc.withColumn("cum_in_coarse", sum(col("cnt")).over(wFine))
    // prefix sum level 2: totals of preceding coarse blocks, via a
    // broadcast theta-join over the per-block totals (|blocks| rows)
    val ct = vc.groupBy(col("coarse")).agg(sum(col("cnt")).as("ccnt"))
    val ctB = ct.select(col("coarse").as("bcoarse"), col("ccnt").as("bccnt"))
    val coarseBefore = ct.join(broadcast(ctB), col("bcoarse") < col("coarse"), "left")
      .groupBy(col("coarse"))
      .agg(coalesce(sum(col("bccnt")), lit(0L)).as("coarse_before"))
    val cumBefore = fine.join(broadcast(coarseBefore), Seq("coarse"))
      .select(col("n_tokens"),
        (col("coarse_before") + col("cum_in_coarse") - col("cnt")).as("cum_before"))
    val nTotal = base.agg(count(lit(1)).as("n_total"))
    // per-doc rank: partitioned window over the narrow projection
    val wVal = Window.partitionBy(col("n_tokens")).orderBy(col("doc_id"))
    base
      .withColumn("rk_in_val", row_number().over(wVal))
      .join(broadcast(cumBefore), Seq("n_tokens"))
      .crossJoin(broadcast(nTotal))
      .withColumn("rank", col("cum_before") + col("rk_in_val"))
      // percent_rank == (rank-1)/(N-1): exact because the order is unique.
      // N=1 guard: the window form defines percent_rank as 0.0 for a
      // single row, where the closed form would be 0/0 = NaN.
      .withColumn("pr", when(col("n_total") === 1, lit(0.0))
        .otherwise((col("rank") - 1).cast("double") /
          (col("n_total") - 1).cast("double")))
      // ntile's remainder rule: first (N mod 10) buckets get one extra row
      .withColumn("nt_q", expr("n_total div 10"))
      .withColumn("nt_rem", col("n_total") % 10)
      .withColumn("nt_cut", (col("nt_q") + 1) * col("nt_rem"))
      .withColumn("decile",
        when(col("rank") <= col("nt_cut"),
          expr("(rank - 1) div (nt_q + 1) + 1"))
          .otherwise(expr("nt_rem + (rank - nt_cut - 1) div nt_q + 1"))
          .cast("int"))
      .select(col("doc_id"), col("n_tokens"), col("pr"), col("decile"))
      .orderBy(col("doc_id"))
  }

  // ----------------------------------------------------- euclidean top-k
  /** Exact euclidean (L2) top-5 neighbours for the probe vectors — the
    * metric companion to q14's cosine. Quantized-integer distance:
    * ||p-c||² = p·p − 2p·c + c·c over exact longs (three codegen'd
    * LongDotProduct folds on the Spark side; the oracle computes the
    * difference-square directly — identical in exact integer
    * arithmetic). Ranking on the integer d2 is fully deterministic; the
    * final sqrt/1e6 is one shared double expression.
    */
  def euclideanTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("qq", longDot("q", "q"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("q").as("pq"), col("qq").as("pp"))
    val scored = emb
      .select(col("vec_id").as("cand_id"), col("q").as("cq"), col("qq").as("cc"))
      .join(broadcast(probes), col("cand_id") =!= col("probe_id"))
      .withColumn("d2", col("pp") - lit(2) * longDot("pq", "cq") + col("cc"))
    // distributed top-k reduction (see TopK): d2 → Double is exact here
    // (quantized squared distances stay far below 2^53), so the
    // (d2, cand_id) ascending order is bit-identical to the window form
    val tk = graft.functions.TopK.topK(5)
    val agged = scored.groupBy(col("probe_id"))
      .agg(tk(col("d2").cast("double"), col("cand_id")).as("tk"))
    graft.functions.TopK.explodeRanked(agged, "tk", Seq("probe_id"))
      .select(col("probe_id"), col("id").as("cand_id"), col("rank"),
        (sqrt(col("score")) / 1000000.0).as("dist"))
      .orderBy(col("probe_id"), col("rank"))
  }

  val euclideanTopKSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      |  FROM embeddings
      |), pairs AS (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
      |    list_sum(list_transform(list_zip(p.qv, c.qv),
      |                            z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
      |  FROM q p JOIN q c ON p.vec_id < 10 AND c.vec_id <> p.vec_id
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
      |                               ORDER BY d2, cand_id) AS rank
      |  FROM pairs
      |)
      |SELECT probe_id, cand_id, rank,
      |  sqrt(CAST(d2 AS DOUBLE)) / 1000000.0 AS dist
      |FROM ranked WHERE rank <= 5
      |ORDER BY probe_id, rank""".stripMargin

  // ---------------------------------------------------- curation pipeline
  /** The composed corpus-curation pipeline — quality gate → exact near-dup
    * removal (normalized fingerprint, keep min doc_id) → stratified
    * downsampling → per-(lang, source) chunk accounting. One narrow scan
    * feeds one dedup shuffle and one final aggregation; this is the
    * whole-pipeline shape a 100 TB curation run has, where each stage's
    * selectivity multiplies. Deterministic end to end (md5 fingerprints,
    * md5 sampling, min-id survivor rule), so the full composition is
    * oracle-checked — not just its pieces.
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        size(toks).as("n_tokens"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"),
        u8Col.as("u8"))
      .filter(col("n_tokens").between(20, 90))
    val survivor = Window.partitionBy(col("fp"))
      .orderBy(col("doc_id"))
    base
      .withColumn("rk", row_number().over(survivor))
      .filter(col("rk") === 1)
      .filter(col("u8") < thresholdCol)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(expr(s"(n_tokens + ${chunkTokens - 1}) div $chunkTokens"))
          .as("total_chunks"))
      .orderBy(col("lang"), col("source"))
  }

  val curationPipelineSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, lang, source,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
       |    $u8Sql AS u8
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 90
       |), dedup AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
       |  FROM base
       |), sampled AS (
       |  SELECT * FROM dedup WHERE rk = 1
       |  AND u8 < $thresholdSql
       |)
       |SELECT lang, source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(SUM((n_tokens + ${chunkTokens - 1}) // $chunkTokens) AS BIGINT)
       |    AS total_chunks
       |FROM sampled GROUP BY lang, source
       |ORDER BY lang, source""".stripMargin

  // --------------------------------------------------------- source mixing
  /** Corpus mixing weights: equalize sources by token budget. Each
    * source's sampling rate is cap/tokens where cap is the smallest
    * source's token count — the "downsample the head, keep the tail"
    * mixing step before training. The rate becomes a deterministic
    * per-doc keep decision through the same md5-hex-uniform machinery as
    * q39 (`u8 < threshold`), so the sampled counts are reproducible
    * across engines and partitionings. The double rate → 8-hex threshold
    * conversion is floor(rate·16⁸) rendered as zero-padded hex — one
    * shared float multiply + floor, exact on both engines.
    *
    * Plan shape: two narrow passes over documents (one aggregation to
    * per-source totals, one filtered aggregation for the sample
    * accounting) with the tiny rate table broadcast — no wide shuffle at
    * any scale.
    */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(toks).as("n_tokens"),
        u8Col.as("u8"))
    val per = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("src_tokens"))
    val cap = per.agg(min(col("src_tokens")).as("cap_tokens"))
    val rates = per.crossJoin(broadcast(cap))
      .withColumn("rate",
        col("cap_tokens").cast("double") / col("src_tokens").cast("double"))
      // rate >= 1 (the cap source itself, incl. ties) keeps everything:
      // 'zzzzzzzz' sorts above any hex digit. Otherwise floor(rate·16⁸)
      // zero-padded to 8 lowercase hex compares like the fraction it
      // encodes (same convention as keepRates).
      .withColumn("thr", when(col("rate") >= 1.0, lit("zzzzzzzz"))
        .otherwise(lpad(lower(hex(
          floor(col("rate") * lit(4294967296.0)).cast("long"))), 8, "0")))
    val sampled = base
      .join(broadcast(rates.select(col("source"), col("thr"))), Seq("source"))
      .filter(col("u8") < col("thr"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled_docs"),
        sum(col("n_tokens")).as("sampled_tokens"))
    rates.join(broadcast(sampled), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("src_tokens"), col("rate"),
        coalesce(col("n_sampled_docs"), lit(0L)).as("n_sampled_docs"),
        coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
      .orderBy(col("source"))
  }

  val mixWeightsSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
       |    $u8Sql AS u8
       |  FROM documents
       |), per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
       |  FROM base GROUP BY source
       |), rated AS (
       |  SELECT per.*, CAST((SELECT min(src_tokens) FROM per) AS DOUBLE)
       |    / CAST(src_tokens AS DOUBLE) AS rate
       |  FROM per
       |), rates AS (
       |  SELECT rated.*,
       |    CASE WHEN rate >= 1.0 THEN 'zzzzzzzz'
       |         ELSE printf('%08x', CAST(floor(rate * 4294967296.0) AS BIGINT))
       |    END AS thr
       |  FROM rated
       |), sampled AS (
       |  SELECT b.source, COUNT(*) AS n_sampled_docs,
       |    CAST(SUM(b.n_tokens) AS BIGINT) AS sampled_tokens
       |  FROM base b JOIN rates r ON b.source = r.source
       |  WHERE b.u8 < r.thr
       |  GROUP BY b.source
       |)
       |SELECT r.source, r.n_docs, r.src_tokens, r.rate,
       |  coalesce(s.n_sampled_docs, 0) AS n_sampled_docs,
       |  coalesce(s.sampled_tokens, 0) AS sampled_tokens
       |FROM rates r LEFT JOIN sampled s ON r.source = s.source
       |ORDER BY r.source""".stripMargin

  // ---------------------------------------------------- per-source caps
  /** Per-source document cap (q69): keep at most K docs per source,
    * chosen by the deterministic md5 uniform (a seeded "random K" that is
    * stable across runs, engines, and partitionings) — the per-domain cap
    * every web-corpus curation applies so no single source dominates.
    *
    * Skew-safe reduction: a `row_number` window partitioned by source
    * would rank EVERY row of a source in one task before dropping all but
    * K — on a web corpus where one domain is 30% of 100 TB, that is one
    * reducer sorting billions of rows to keep 10. [[graft.functions
    * .TopK]] instead reduces map-side to ≤K-row buffers per source, the
    * shuffle moves only those buffers, and the merge is a K-way list
    * merge — per-task work is bounded by K, not by the largest source.
    * The u8 hex prefix converts to its exact numeric value (< 2^32, far
    * inside Double's 2^53 integer range), so ascending (value, doc_id)
    * reproduces the window's (u8, doc_id) lexicographic order
    * bit-identically — fixed-width lowercase hex orders the same way as
    * its numeric value.
    */
  val sourceCap = 10

  def sourceCapSample(spark: SparkSession, dir: String): DataFrame = {
    val tk = graft.functions.TopK.topK(sourceCap)
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        conv(u8Col, 16, 10).cast("double").as("s"))
    graft.functions.TopK.explodeRanked(
        scored.groupBy(col("source")).agg(tk(col("s"), col("doc_id")).as("tk")),
        "tk", Seq("source"))
      .select(col("id").as("doc_id"), col("source"),
        col("rank").cast("int").as("rk"))
      .orderBy(col("source"), col("rk"))
  }

  val sourceCapSampleSql: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |                       ORDER BY $u8Sql, doc_id) AS rk
       |  FROM documents
       |)
       |SELECT doc_id, source, CAST(rk AS INT) AS rk
       |FROM ranked WHERE rk <= $sourceCap
       |ORDER BY source, rk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q69_source_cap" -> (sourceCapSample _),
    "q39_stratified_sample" -> (stratifiedSample _),
    "q40_doc_chunks" -> (docChunks _),
    "q41_decontaminate" -> (decontaminate _),
    "q88_bloom_decontaminate" -> (bloomDecontaminate _),
    "q42_interval_join" -> (intervalJoin _),
    "q43_quality_buckets" -> (qualityBuckets _),
    "q44_euclidean_topk" -> (euclideanTopK _),
    "q46_curation_pipeline" -> (curationPipeline _),
    "q54_dataset_split" -> (datasetSplit _),
    "q55_sequence_pack" -> (sequencePack _),
    "q81_shuffle_shard" -> (shuffleShard _),
    "q56_quality_deciles_scale" -> (qualityBucketsAtScale _),
    "q61_mix_weights" -> (mixWeights _))

  val oracle: Map[String, String] = Map(
    "q69_source_cap" -> sourceCapSampleSql,
    // q56 computes the same result as q43 through a scale-safe plan, so
    // its oracle is q43's declarative window formulation verbatim
    "q56_quality_deciles_scale" -> qualityBucketsSql,
    "q39_stratified_sample" -> stratifiedSampleSql,
    "q40_doc_chunks" -> docChunksSql,
    "q41_decontaminate" -> decontaminateSql,
    "q88_bloom_decontaminate" -> decontaminateSql,
    "q42_interval_join" -> intervalJoinSql,
    "q43_quality_buckets" -> qualityBucketsSql,
    "q44_euclidean_topk" -> euclideanTopKSql,
    "q46_curation_pipeline" -> curationPipelineSql,
    "q54_dataset_split" -> datasetSplitSql,
    "q55_sequence_pack" -> sequencePackSql,
    "q81_shuffle_shard" -> shuffleShardSql,
    "q61_mix_weights" -> mixWeightsSql)
}
