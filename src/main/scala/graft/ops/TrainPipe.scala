package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-pipeline composition operators: the steps between "clean
  * corpus" and "token stream" that a large-scale LLM data pipeline runs
  * after the dedup/quality family (q20/q25/q45) — sequence packing,
  * benchmark decontamination, and mixture sampling.
  *
  * All constants are md5-derived or literal so the DuckDB oracles
  * regenerate them exactly (same discipline as [[NearDup]]/[[AnnLsh]]).
  */
object TrainPipe {

  /** First 7 hex digits of md5(prefix + doc_id) as a 28-bit long — the
    * deterministic, partition-independent per-doc hash used for shard
    * assignment and sampling (same construction as [[NearDup.seeds]]).
    */
  private[graft] def docHash(prefix: String, idCol: Column): Column =
    conv(substring(md5(concat(lit(prefix), idCol.cast("string")).cast("binary")), 1, 7), 16, 10)
      .cast("long")

  // -------------------------------------------------------------------
  // Sequence packing (concat-and-chunk): documents are concatenated in
  // deterministic order within a shard and the token stream is cut into
  // fixed `contextLen` chunks — the standard LLM pre-training packing
  // (docs straddle chunk boundaries; no padding waste). Each doc's
  // placement is fully described by its stream offset.
  //
  // Scale shape: ONE window pass per shard (sum over doc order), shards
  // are independent — the 100 TB form partitions by shard and packs
  // every shard in parallel; no global sequential dependency, no driver
  // state. Chunk ids are pure arithmetic on the running offset.
  // -------------------------------------------------------------------

  /** (doc_id, shard, n_tokens, tok_offset, chunk_first, chunk_last):
    * tok_offset = tokens before this doc in its shard's stream;
    * chunk_first/chunk_last = the `contextLen`-token chunks the doc's
    * span [tok_offset, tok_offset + n_tokens) covers.
    */
  /** Packing core over any frame carrying (doc_id, n_tokens): shard
    * assignment + running offset + covering chunk ids. Shared by
    * [[packSequences]] (which derives n_tokens from text) and
    * [[fullPipeline]] (which already carries n_tokens from the gates).
    */
  private def packCore(toks: DataFrame, contextLen: Int, shards: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("shard", docHash("shard:", col("doc_id")) % shards)
      .withColumn("tok_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("chunk_first", expr(s"tok_offset DIV $contextLen"))
      .withColumn("chunk_last", expr(s"(tok_offset + n_tokens - 1) DIV $contextLen"))
  }

  def packSequences(docs: DataFrame, contextLen: Int = 256, shards: Int = 8): DataFrame =
    packCore(
      docs.select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
      contextLen, shards)
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("tok_offset"), col("chunk_first"), col("chunk_last"))
      .orderBy("doc_id")

  /** DuckDB hex7 parse of md5(`argSql`) — shared literal arithmetic. */
  private[graft] def duckHex7(argSql: String): String =
    s"""CAST(list_reduce(
       |  list_transform(range(1, 8),
       |    p -> instr('0123456789abcdef', substr(md5($argSql), p, 1)) - 1),
       |  (acc, v) -> acc * 16 + v) AS BIGINT)""".stripMargin

  /** DuckDB SQL replicating [[packSequences]]. */
  def packOracleSql(contextLen: Int = 256, shards: Int = 8): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    ${duckHex7("'shard:' || doc_id")} % $shards AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(COALESCE(sum(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_offset
       |  FROM t)
       |SELECT doc_id, shard, n_tokens, tok_offset,
       |  tok_offset // $contextLen AS chunk_first,
       |  (tok_offset + n_tokens - 1) // $contextLen AS chunk_last
       |FROM o ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Benchmark decontamination: count, per corpus document, how many of
  // its distinct w-token shingles also appear in a held-out (benchmark/
  // eval) document set — the contamination check run before training so
  // eval data does not leak into the train stream.
  //
  // Scale shape: the held-out gram set is benchmark-sized (tiny next to
  // a 100 TB corpus), so it is BROADCAST — corpus grams are generated
  // map-side (same window machinery as [[TextOps.repeatedSpans]]),
  // deduped per doc with ONE (doc_id, gram)-keyed shuffle, then probed
  // against the broadcast without moving gram text again; the final
  // aggregate is keyed by doc_id (never by gram, so a globally common
  // shingle cannot hot-key it). At corpus scale swap the gram string
  // for a 64-bit hash in the shuffle key and the probe.
  // -------------------------------------------------------------------

  /** (doc_id, n_grams, n_hit) for every corpus doc (`doc_id % heldoutMod
    * != 0`) with at least `w` tokens: n_grams = its distinct w-token
    * shingles, n_hit = how many of them appear anywhere in the held-out
    * set (`doc_id % heldoutMod == 0`).
    */
  // Per-doc distinct via the (doc_id, gram) shuffle, NOT row-side
  // array_distinct: the in-row form looks shuffle-free but measured
  // 2.3x SLOWER end-to-end at sf0.1 (ArrayDistinct's interpreted
  // per-element set build costs more than shuffling the short rows;
  // same lesson as the HOF dots). At 100 TB hash the gram to 64 bits
  // before this shuffle (the q20 digest-not-text discipline).
  private def gramsOf(df: DataFrame, w: Int): DataFrame = df
    .select(col("doc_id"), split(col("text"), " ").as("t"))
    // sequence(a, b) DESCENDS when b < a (same guard as repeatedSpans)
    .filter(size(col("t")) >= w)
    .select(col("doc_id"), explode(expr(
      s"transform(sequence(1, size(t) - ${w - 1}), i -> concat_ws(' ', slice(t, i, $w)))"))
      .as("gram"))
    .distinct()

  def decontaminate(docs: DataFrame, w: Int = 3, heldoutMod: Int = 10): DataFrame = {
    val held = gramsOf(docs.filter(col("doc_id") % heldoutMod === 0), w)
      .select(col("gram")).distinct()
      .withColumn("hit", lit(1L))
    // one pass downstream of the distinct: the broadcast LEFT join marks
    // contaminated grams and a single doc_id-keyed aggregate emits both
    // counts — rows are distinct per doc, so n_grams = count(*), and
    // count(hit) counts only the matched (non-null) rows
    gramsOf(docs.filter(col("doc_id") % heldoutMod =!= 0), w)
      .join(broadcast(held), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .orderBy("doc_id")
  }

  /** DuckDB SQL replicating [[decontaminate]]. */
  def decontaminateOracleSql(w: Int = 3, heldoutMod: Int = 10): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(t[CAST(i AS BIGINT):CAST(i + ${w - 1} AS BIGINT)], ' ') AS gram
       |  FROM toks, unnest(range(1, len(t) - ${w - 2})) AS r(i)
       |  WHERE len(t) >= $w),
       |held AS (
       |  SELECT DISTINCT gram FROM grams WHERE doc_id % $heldoutMod = 0),
       |corp AS (SELECT * FROM grams WHERE doc_id % $heldoutMod <> 0),
       |tot AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY 1),
       |hit AS (
       |  SELECT c.doc_id, count(*) AS n_hit
       |  FROM corp c JOIN held h USING (gram) GROUP BY 1)
       |SELECT tot.doc_id, CAST(tot.n_grams AS BIGINT) AS n_grams,
       |  CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit
       |FROM tot LEFT JOIN hit USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Bloom-prefiltered decontamination: same answer as [[decontaminate]],
  // different at-scale probe. The exact broadcast form ships every
  // held-out gram STRING to every executor AND left-joins the FULL
  // corpus gram stream against it. Here the held-out set is folded into
  // Spark's own Bloom sketch (~1.1 bytes/gram at 3% fpp, built with ONE
  // partial+merge aggregation), the prefilter is a map-side codegen'd
  // `might_contain` on xxhash64(gram) — zero extra shuffle, no gram
  // strings move — and only the bloom-POSITIVE sliver of corpus grams
  // carries a non-null key into the exact verify join that removes
  // false positives (no false negatives ⇒ null-keyed rows are
  // definitively clean and never probe the hash table). When the held
  // set itself outgrows string broadcast, pass verifyBroadcast = false:
  // the verify becomes a shuffle join whose probe side is only the
  // positive sliver — the full-stream broadcast join is never needed at
  // any scale.
  // -------------------------------------------------------------------

  /** Identical output contract to [[decontaminate]] (same oracle);
    * the Bloom sketch + exact-verify form of the probe.
    * `verifyBroadcast` picks the verify join's physical shape:
    * broadcast (benchmark-sized held set, the default — the held grams
    * are collected once for BOTH the sketch and the verify side, so no
    * cache block outlives the call) or shuffle (held set too large to
    * ship as strings — the held frame stays persisted for the lazy
    * verify join, a caller-owned cache lifetime like
    * [[NearDup.incrementalNearDupPairs]]).
    */
  def decontaminateBloom(
      docs: DataFrame,
      w: Int = 3,
      heldoutMod: Int = 10,
      verifyBroadcast: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    // persisted: three consumers (the sizing count, the sketch build,
    // and the verify join) would otherwise each re-run the held docs'
    // gram explode + distinct shuffle
    val held = gramsOf(docs.filter(col("doc_id") % heldoutMod === 0), w)
      .select(col("gram")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = gramsOf(docs.filter(col("doc_id") % heldoutMod =!= 0), w)
    // benchmark-sized actions: the count sizes the sketch (and
    // materializes the cache), the head collects the serialized filter
    // (KBs) for the probe-side literal
    val nHeld = held.count()
    val sketch =
      if (nHeld == 0) null
      else held
        .agg(graft.functions.SketchFunctions
          .bloomFilterAgg(xxhash64(col("gram")), nHeld).as("bf"))
        .head().getAs[Array[Byte]](0)
    if (sketch == null) {
      // empty held-out set: every corpus gram is clean, no probe at all
      held.unpersist(false)
      corpus.groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"))
        .select(col("doc_id"), col("n_grams"), lit(0L).as("n_hit"))
        .orderBy("doc_id")
    } else {
      val mc = graft.functions.SketchFunctions
        .mightContain(sketch, xxhash64(col("gram")))
      if (verifyBroadcast) {
        // bloom-positive grams get the exact verify (kills the ~3% false
        // positives); negatives are clean by construction, so they probe
        // with a NULL key — broadcast-join rows with a null key never
        // match and skip the hash lookup (no shuffle, so null keys cost
        // nothing here) — keeping the whole probe ONE pass with no
        // branch split or re-scan of the gram exchange. The verify side
        // is rebuilt from a driver-side collect of the held grams — the
        // same rows a broadcast would collect anyway — so the held cache
        // can be dropped NOW instead of leaking past the call.
        import spark.implicits._
        val heldGrams = held.as[String].collect().toIndexedSeq
        held.unpersist(false)
        val verify = broadcast(
          heldGrams.toDF("probe").withColumn("hit", lit(1L)))
        corpus
          .withColumn("probe", when(mc, col("gram")))
          .join(verify, Seq("probe"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
          .orderBy("doc_id")
      } else {
        // shuffle-verify path (held set too large to broadcast): a
        // single left join would shuffle the bloom-NEGATIVE majority on
        // a NULL key — and null keys all hash to ONE reducer, recreating
        // at the join exactly the hot spot the Bloom sketch exists to
        // avoid. So split by role instead: per-doc totals come from a
        // doc_id-keyed aggregate (evenly spread by construction), and
        // ONLY the bloom-positive sliver — non-null keys — enters the
        // gram-keyed semi-join. Both branches re-read the corpus gram
        // exchange (ReusedExchange, not a re-scan of the text).
        val hits = corpus
          .filter(mc)
          .join(held, Seq("gram"), "left_semi")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hit"))
        corpus.groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .orderBy("doc_id")
      }
    }
  }

  // -------------------------------------------------------------------
  // Mixture sampling: build a training mixture by sampling each stratum
  // (here: language) at its own rate, deterministically — the doc's own
  // hash decides membership, so the sample is identical across runs,
  // partitionings, and engines, and composes with incremental ingest
  // (a re-run over grown data keeps every previously sampled doc).
  //
  // Scale shape: a pure map-side filter (hash + threshold compare), no
  // shuffle at all before the output sort; rates are a literal CASE.
  // -------------------------------------------------------------------

  /** Default language mixture (basis points per lang). */
  val DefaultRates: Seq[(String, Int)] =
    Seq("en" -> 2500, "de" -> 5000, "es" -> 7500, "fr" -> 10000, "zh" -> 1000)

  /** (doc_id, lang, source) of the sampled mixture: keep a doc iff its
    * md5 bucket (0..9999) < its language's basis-point rate. Unlisted
    * languages default to 0 bps (dropped).
    */
  /** Mixture filter core over any frame carrying (doc_id, lang): the
    * pure map-side keep test, all input columns preserved. Shared by
    * [[mixtureSample]] and [[fullPipeline]].
    */
  private def mixtureFilter(df: DataFrame, rates: Seq[(String, Int)]): DataFrame = {
    val bps = rates.foldLeft(lit(0L)) { case (acc, (k, v)) =>
      when(col("lang") === k, lit(v.toLong)).otherwise(acc)
    }
    df.filter((docHash("mix:", col("doc_id")) % 10000) < bps)
  }

  def mixtureSample(docs: DataFrame, rates: Seq[(String, Int)] = DefaultRates): DataFrame =
    mixtureFilter(docs.select(col("doc_id"), col("lang"), col("source")), rates)
      .orderBy("doc_id")

  /** DuckDB SQL replicating [[mixtureSample]]. */
  def mixtureOracleSql(rates: Seq[(String, Int)] = DefaultRates): String = {
    val cases = rates.map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
    s"""SELECT doc_id, lang, source
       |FROM documents
       |WHERE ${duckHex7("'mix:' || doc_id")} % 10000
       |  < CASE lang $cases ELSE 0 END
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Token-budget downsampling: cap each language at a token budget — the
  // "2T tokens total, at most B per language" mixing constraint — by
  // hash-sampling each stratum at rate budget/total. The greedy ordered
  // prefix (sort by priority, running sum, cut at the budget) needs a
  // single ordered scan per stratum — a one-partition window at 100 TB —
  // so this uses the scalable form: ONE per-lang total aggregate, then a
  // pure map-side integer threshold on the doc's own md5 bucket.
  //
  // Determinism discipline: the keep test is bucket * total <
  // budget * 10000 in 64-bit INTEGER arithmetic (no float rate, no
  // engine disagreement; products stay < 2^63 up to ~10^14 tokens per
  // stratum). total <= budget implies every bucket passes, so "keep all
  // of a small language" needs no special case.
  // -------------------------------------------------------------------

  /** (doc_id, lang, n_tokens) of the docs kept by per-language
    * token-budget sampling at `budgetTokens` per language: keep iff
    * bucket(doc) * total_tokens(lang) < budgetTokens * 10000, bucket
    * uniform on 0..9999 from the doc's own hash — so the expected kept
    * token mass per language is min(total, budget), the sample is
    * stable across runs/partitionings/engines, and a re-run over grown
    * data keeps a subset-consistent selection (rate only shrinks).
    */
  /** Budget filter core over any frame carrying (doc_id, `by`,
    * n_tokens): one per-stratum total aggregate (broadcast back) + the
    * map-side integer keep test, all input columns preserved. Shared by
    * [[budgetSample]] and [[fullPipeline]]; the totals branch and the
    * probe branch re-read the SAME upstream exchange (ReusedExchange),
    * not the source table.
    */
  private def budgetFilter(
      toks: DataFrame, budgetTokens: Long, by: String = "lang"): DataFrame = {
    val totals = toks.groupBy(by).agg(sum("n_tokens").as("total"))
    toks
      .join(broadcast(totals), Seq(by))
      .filter(
        (docHash("budget:", col("doc_id")) % 10000) * col("total")
          < lit(budgetTokens) * lit(10000L))
      .drop("total")
  }

  /** `by` picks the stratum: "lang" is the per-language mixing cap
    * (q79); "source" is the per-domain TOKEN cap (q87) — the document
    *-count twin is [[stratifiedTopK]](by = "source").
    */
  def budgetSample(
      docs: DataFrame, budgetTokens: Long = 3000L,
      by: String = "lang",
      subwordVocab: Option[Seq[String]] = None,
      merges: Option[Seq[(String, String)]] = None): DataFrame = {
    // the budget's denominator: whitespace tokens by default (the q32
    // proxy), the q99 greedy n-gram count when a vocabulary is supplied,
    // or — the real thing — TRAINED-TOKENIZER tokens when a merge table
    // is supplied (TextOps.bpeTokenCounts: the q163 apply path). Real
    // budgets are spent in tokenizer tokens; the denominators select
    // materially different documents (A/B spec-pinned).
    val denom = merges match {
      case Some(m) =>
        docs.select(col("doc_id"), col(by))
          .join(graft.ops.TextOps.bpeTokenCounts(docs, m)
            .select(col("doc_id"), col("n_tokens_bpe").as("n_tokens")),
            "doc_id")
      case None =>
        docs.select(
          col("doc_id"), col(by),
          subwordVocab.fold(size(split(col("text"), " ")).cast("long"))(v =>
            graft.functions.TextFunctions.bpeTokenCount(col("text"), v))
            .as("n_tokens"))
    }
    budgetFilter(denom, budgetTokens, by)
      .select(col("doc_id"), col(by), col("n_tokens"))
      .orderBy("doc_id")
  }

  /** DuckDB SQL replicating [[budgetSample]]. */
  def budgetOracleSql(budgetTokens: Long = 3000L, by: String = "lang"): String =
    s"""WITH t AS (
       |  SELECT doc_id, $by,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |tot AS (
       |  SELECT $by, CAST(sum(n_tokens) AS BIGINT) AS total
       |  FROM t GROUP BY 1)
       |SELECT doc_id, t.$by, n_tokens
       |FROM t JOIN tot ON t.$by = tot.$by
       |WHERE ${duckHex7("'budget:' || doc_id")} % 10000 * total
       |  < $budgetTokens * 10000
       |ORDER BY doc_id""".stripMargin

  /** DuckDB SQL replicating [[budgetSample]] with the TRAINED-tokenizer
    * denominator (q164): [[graft.ops.TextOps.bpeEncodeOracleCtes]]
    * replays training + encoding, then the same integer keep test runs
    * on those token counts.
    */
  def bpeBudgetOracleSql(
      budgetTokens: Long = 3000L, by: String = "lang",
      nMerges: Int = 8, minCount: Long = 2L): String =
    s"""WITH ${graft.ops.TextOps.bpeEncodeOracleCtes(nMerges, minCount)},
       |t AS (
       |  SELECT d.doc_id, d.$by, COALESCE(n_bpe, 0) AS n_tokens
       |  FROM documents d LEFT JOIN perdoc USING (doc_id)),
       |tot AS (
       |  SELECT $by, CAST(sum(n_tokens) AS BIGINT) AS total
       |  FROM t GROUP BY 1)
       |SELECT doc_id, t.$by, n_tokens
       |FROM t JOIN tot ON t.$by = tot.$by
       |WHERE ${duckHex7("'budget:' || doc_id")} % 10000 * total
       |  < $budgetTokens * 10000
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Temperature mixture sampling (q123) — the published LLM data-mixing
  // recipe: per-language budgets proportional to total_l^α (α = 0.5
  // here), so low-resource languages are UPSAMPLED relative to their
  // raw share (multilingual-BERT / XLM-R exponent-smoothed sampling; a
  // flat per-lang budget over- or under-caps depending on the tail).
  // The α-weights feed q79's integer keep test unchanged.
  //
  // Determinism discipline: ONE sqrt per language, immediately
  // quantized (floor ×10³) to a long — the per-lang weight. Everything
  // downstream is exact 64-bit integers: the denominator is an integer
  // SUM (order-free, unlike a float sum whose accumulation order
  // differs across engines), budgets are integer `div`, and the keep
  // test is q79's bucket·total < budget·10⁴. Overflow bound:
  // totalBudget · w_q < 2⁶³ → totalBudget · √total_l < 9.2e15 — holds
  // to ~1e13 tokens/lang at billion-token budgets.
  // -------------------------------------------------------------------

  /** Per-language temperature-weighted budget sampling: language l gets
    * budget_l = totalBudget · √total_l / Σ_m √total_m (integer-exact
    * after the quantized sqrt), then q79's deterministic hash-bucket
    * keep test spends it. Output: (doc_id, lang, n_tokens, budget).
    */
  def temperatureMixSample(
      docs: DataFrame,
      totalBudget: Long = 10000L,
      by: String = "lang"): DataFrame = {
    val toks = docs.select(
      col("doc_id"), col(by),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val weights = toks.groupBy(by)
      .agg(sum("n_tokens").as("total"))
      .withColumn("w_q",
        floor(sqrt(col("total").cast("double")) * 1000.0).cast("long"))
    val denom = weights.agg(sum(col("w_q")).as("w_sum"))
    val budgets = weights.crossJoin(broadcast(denom))
      .select(col(by), col("total"),
        expr(s"(${totalBudget}L * w_q) div w_sum").as("budget"))
    toks
      .join(broadcast(budgets), Seq(by))
      .filter(
        (docHash("budget:", col("doc_id")) % 10000) * col("total")
          < col("budget") * lit(10000L))
      .select(col("doc_id"), col(by), col("n_tokens"), col("budget"))
      .orderBy("doc_id")
  }

  /** DuckDB SQL replicating [[temperatureMixSample]]. */
  def temperatureMixOracleSql(
      totalBudget: Long = 10000L, by: String = "lang"): String =
    s"""WITH t AS (
       |  SELECT doc_id, $by,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |w AS (
       |  SELECT $by, CAST(sum(n_tokens) AS BIGINT) AS total,
       |    CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE)) * 1000.0) AS BIGINT) AS w_q
       |  FROM t GROUP BY 1),
       |d AS (SELECT CAST(sum(w_q) AS BIGINT) AS w_sum FROM w),
       |b AS (
       |  SELECT $by, total, ($totalBudget * w_q) // w_sum AS budget
       |  FROM w CROSS JOIN d)
       |SELECT doc_id, t.$by, n_tokens, budget
       |FROM t JOIN b ON t.$by = b.$by
       |WHERE ${duckHex7("'budget:' || doc_id")} % 10000 * total
       |  < budget * 10000
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Stratified top-k (per-language quality quotas): keep the k "best"
  // documents of every stratum. The naive window — rank over the whole
  // stratum — sorts each stratum in ONE task, which at 100 TB is a
  // straggler (a stratum is corpus-scale). Two-phase top-k is exact and
  // bounded: rank within (stratum, hash-shard) and keep k per shard
  // (each window partition is a 1/shards slice), then rank the
  // k × shards survivors per stratum (a tiny frame) for the final k.
  // Same trick as q75's (stage, shard) windows: set shards ≈ executors
  // and no window partition ever exceeds a bounded slice.
  // -------------------------------------------------------------------

  /** (doc_id, `by`, n_chars, rk): the `k` longest docs per stratum
    * (n_chars desc, doc_id asc tie-break — any per-doc quality score
    * substitutes for n_chars unchanged), rk = 1-based rank within the
    * stratum. Exact: phase-1 candidates provably contain the stratum
    * top-k because each shard contributes its own top-k.
    *
    * `by` picks the stratum column: "lang" is the per-language quality
    * quota (q80); "source" is the per-domain document cap (q86) — the
    * common-crawl mixing discipline that stops one domain from
    * dominating the corpus. Same machinery, different key.
    */
  def stratifiedTopK(
      docs: DataFrame, k: Int = 10, shards: Int = 8,
      by: String = "lang"): DataFrame = {
    val w1 = Window
      .partitionBy(by, "shard")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val w2 = Window
      .partitionBy(by)
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    docs
      .select(
        col("doc_id"), col(by), col("n_chars"),
        (docHash("topk:", col("doc_id")) % shards).as("shard"))
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= k)
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= k)
      // BIGINT on both engines (Spark row_number is int, DuckDB's BIGINT)
      .select(col("doc_id"), col(by), col("n_chars"),
        col("rk").cast("long").as("rk"))
      .orderBy(by, "rk")
  }

  /** DuckDB SQL replicating [[stratifiedTopK]] (two-phase form replayed
    * literally — the phases are exact, so this equals the one-phase
    * top-k, but replaying the same arithmetic keeps the compare honest).
    */
  def stratifiedTopKOracleSql(
      k: Int = 10, shards: Int = 8, by: String = "lang"): String =
    s"""WITH t AS (
       |  SELECT doc_id, $by, n_chars,
       |    ${duckHex7("'topk:' || doc_id")} % $shards AS shard
       |  FROM documents),
       |p1 AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY $by, shard
       |    ORDER BY n_chars DESC, doc_id ASC) AS r1
       |  FROM t),
       |p2 AS (
       |  SELECT doc_id, $by, n_chars, row_number() OVER (
       |    PARTITION BY $by ORDER BY n_chars DESC, doc_id ASC) AS rk
       |  FROM p1 WHERE r1 <= $k)
       |SELECT doc_id, $by, n_chars, CAST(rk AS BIGINT) AS rk
       |FROM p2 WHERE rk <= $k
       |ORDER BY $by, rk""".stripMargin

  // -------------------------------------------------------------------
  // Curriculum sharding: order the corpus into length-graded training
  // stages (short docs first — the standard length-curriculum warmup),
  // each stage split into hash-assigned shards with a deterministic
  // within-shard position. Stage boundaries are FIXED literals, not
  // quantiles: no global sort, no sampled statistics, same assignment on
  // any engine or data subset.
  //
  // Scale shape: stage + shard are pure map-side arithmetic; the only
  // non-narrow step is the per-(stage, shard) position window, whose
  // partition count is stages × shards — set shards to O(executors) at
  // 100 TB and every window partition is a bounded, evenly-hashed slice
  // (never a global single-partition window).
  // -------------------------------------------------------------------

  /** Default stage boundaries on n_chars (stage i = chars < bounds(i),
    * last stage = the rest). */
  val DefaultStageBounds: Seq[Int] = Seq(150, 300, 450)

  /** (doc_id, stage, shard, pos): stage = first length bound exceeding
    * the doc's n_chars; shard = doc-hash modulo `shards`; pos = 0-based
    * deterministic position within (stage, shard), ordered by an
    * independent doc hash (tie-broken by doc_id) so within-stage order
    * is a stable pseudo-random shuffle, not ingest order.
    */
  def curriculum(
      docs: DataFrame,
      bounds: Seq[Int] = DefaultStageBounds,
      shards: Int = 8): DataFrame = {
    val stage = bounds.zipWithIndex
      .foldLeft(when(lit(false), lit(0))) { case (acc, (b, i)) =>
        acc.when(col("n_chars") < b, lit(i))
      }
      .otherwise(lit(bounds.length))
    docs
      .select(
        col("doc_id"),
        stage.as("stage"),
        (docHash("cur:", col("doc_id")) % shards).as("shard"),
        docHash("ord:", col("doc_id")).as("ord"))
      .withColumn(
        "pos",
        (row_number().over(
          Window.partitionBy("stage", "shard").orderBy("ord", "doc_id"))
          - 1).cast("long"))
      .select(col("doc_id"), col("stage"), col("shard"), col("pos"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // The composed end-to-end pipeline: what a real training-data run
  // executes as ONE lineage — exact-dedup keeper (q66) → repetition +
  // corpus-frequency quality gates (q74/q77) → language mixture (q72) →
  // per-language token budget (q79) → sequence packing (q70). The
  // catalog entries prove each stage in isolation; this proves they
  // COMPOSE without redundant scans: every stage consumes the previous
  // stage's columns instead of re-deriving them from text.
  //
  // Scan/shuffle ledger (plan-audited in PLANS.md):
  //   - documents is SCANNED ONCE, into the keeper stage, and the
  //     deduped corpus is MATERIALIZED (persist, disk-spillable) —
  //     exactly what a production pipeline does between dedup and the
  //     gates (the keeper output is itself a deliverable). Without the
  //     materialization each gate branch prunes a different column set,
  //     the pruned exchanges stop being equal, ReusedExchange no longer
  //     applies, and the TEXT column — the dominant bytes — is
  //     re-scanned per branch (5× at this shape; plan-verified).
  //   - n_tokens is computed ONCE (the repetition gate's token
  //     aggregate) and rides through mixture → budget → packing; the
  //     standalone q70/q79 re-split text only because they start from
  //     the raw table.
  //   - mixture is a pure map-side filter (no exchange of its own);
  //     budget adds one broadcast-back lang aggregate; packing adds the
  //     one (shard)-keyed window exchange. Total exchanges of corpus-
  //     scale data: digest, (doc_id, tok), (doc_id, bigram), doc_id
  //     (gate join), shard — each keyed to spread, none keyed on raw
  //     text, none repeated.
  // -------------------------------------------------------------------

  /** (doc_id, lang, source, n_tokens, shard, tok_offset, chunk_first,
    * chunk_last): the packed training stream of the docs surviving
    * keeper → gates → mixture → budget. Stage arithmetic is IDENTICAL
    * to the standalone operators (shared cores and hash prefixes), so
    * the composed DuckDB oracle is the stage CTEs chained verbatim.
    *
    * Cache lifetime is CALLER-OWNED (the [[NearDup.incrementalNearDupPairs]]
    * discipline): the materialized deduped corpus backs the returned
    * lazy plan, so it cannot be dropped in-call.
    */
  def fullPipeline(
      docs: DataFrame,
      rates: Seq[(String, Int)] = DefaultRates,
      budgetTokens: Long = 3000L,
      contextLen: Int = 256,
      shards: Int = 8,
      maxDupTokFrac: Double = 0.75,
      maxTopBigramFrac: Double = 0.055,
      vocabSize: Int = 10,
      minCommonFrac: Double = 0.30): DataFrame = {
    // stage 1 — exact-dedup keeper (q66's digest-min election), then
    // MATERIALIZE the deduped corpus: one table scan total, and every
    // gate branch reads the materialization (see the ledger above)
    val kept = docs
      .withColumn("digest", sha2(col("text"), 256))
      // explicit-width digest exchange (the q89 finding, r19): the keeper
      // window's own hash(digest) exchange is byte-targeted-coalesced by
      // AQE to 1-2 tasks on a small corpus (digest+text compress well),
      // serializing the sha2+window pass AND leaving the persisted kept
      // frame 1-2 partitions wide — so every gate branch's token/bigram
      // explode (the pipeline's CPU) ran nearly single-task too. The
      // window reuses this exact partitioning (same key), so it is the
      // SAME exchange the plan already paid, just AQE-proof; at real
      // corpus width the exchange carries cluster-wide bytes anyway.
      .repartition(
        docs.sparkSession.sparkContext.defaultParallelism, col("digest"))
      .withColumn("keeper_id",
        min("doc_id").over(Window.partitionBy("digest")))
      .filter(col("doc_id") === col("keeper_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stage 2 — quality gates on the deduped corpus (vocabulary is the
    // DEDUPED corpus's, as a real pipeline computes it). The repetition
    // gate's exact token count is reused downstream as n_tokens.
    val rep = QualityOps
      .repetitionCore(kept, maxDupTokFrac, maxTopBigramFrac)
      .filter(col("keep") === 1)
      .select(col("doc_id"), col("n_tokens"))
    val fq = QualityOps
      .freqQualityCore(kept, vocabSize, minCommonFrac)
      .filter(col("keep") === 1)
      .select(col("doc_id"))
    val gated = kept.select(col("doc_id"), col("lang"), col("source"))
      .join(rep, Seq("doc_id"))
      .join(fq, Seq("doc_id"))
    // stages 3–5 — mixture (map-side), budget (one broadcast-back lang
    // aggregate over the SAME gate exchange), packing (one shard window)
    packCore(
      budgetFilter(mixtureFilter(gated, rates), budgetTokens),
      contextLen, shards)
      .select(
        col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("shard"), col("tok_offset"), col("chunk_first"), col("chunk_last"))
      .orderBy("doc_id")
  }

  /** DuckDB SQL replicating [[fullPipeline]]: the stage oracles' CTEs
    * chained — q66 keeper, q74/q77 gate arithmetic, q72 mixture test,
    * q79 budget test, q70 packing window — verbatim.
    */
  def fullPipelineOracleSql(
      rates: Seq[(String, Int)] = DefaultRates,
      budgetTokens: Long = 3000L,
      contextLen: Int = 256,
      shards: Int = 8,
      maxDupTokFrac: Double = 0.75,
      maxTopBigramFrac: Double = 0.055,
      vocabSize: Int = 10,
      minCommonFrac: Double = 0.30): String = {
    val cases = rates.map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
    s"""WITH k AS (
       |  SELECT doc_id, lang, source, text FROM (
       |    SELECT doc_id, lang, source, text,
       |      min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper_id
       |    FROM documents)
       |  WHERE doc_id = keeper_id),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM k),
       |ftoks AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |ts AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
       |  FROM ftoks GROUP BY 1),
       |bi AS (
       |  SELECT doc_id,
       |    array_to_string(t[CAST(i AS BIGINT):CAST(i + 1 AS BIGINT)], ' ') AS bigram
       |  FROM toks, unnest(range(1, len(t))) AS r(i)
       |  WHERE len(t) >= 2),
       |bc AS (SELECT doc_id, bigram, count(*) AS cnt FROM bi GROUP BY 1, 2),
       |tp AS (
       |  SELECT doc_id, cnt,
       |    sum(cnt) OVER (PARTITION BY doc_id) AS n_bigrams,
       |    row_number() OVER (
       |      PARTITION BY doc_id ORDER BY cnt DESC, bigram ASC) AS rn
       |  FROM bc),
       |repk AS (
       |  SELECT ts.doc_id, ts.n_tokens
       |  FROM ts LEFT JOIN (SELECT * FROM tp WHERE rn = 1) tp USING (doc_id)
       |  WHERE round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 4)
       |      <= $maxDupTokFrac
       |    AND COALESCE(round(CAST(tp.cnt AS DOUBLE) / tp.n_bigrams, 4), 0.0)
       |      <= $maxTopBigramFrac),
       |vocab AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM ftoks GROUP BY 1
       |  ORDER BY cnt DESC, tok ASC LIMIT $vocabSize),
       |fqk AS (
       |  SELECT doc_id FROM (
       |    SELECT t.doc_id,
       |      CAST(count(*) AS BIGINT) AS n_toks,
       |      CAST(count(v.cnt) AS BIGINT) AS n_common
       |    FROM ftoks t LEFT JOIN vocab v USING (tok)
       |    GROUP BY 1)
       |  WHERE round(CAST(n_common AS DOUBLE) / n_toks, 4) >= $minCommonFrac),
       |gated AS (
       |  SELECT k.doc_id, k.lang, k.source, repk.n_tokens
       |  FROM k JOIN repk USING (doc_id) JOIN fqk USING (doc_id)),
       |mixed AS (
       |  SELECT * FROM gated
       |  WHERE ${duckHex7("'mix:' || doc_id")} % 10000
       |    < CASE lang $cases ELSE 0 END),
       |tot AS (
       |  SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS total
       |  FROM mixed GROUP BY 1),
       |bud AS (
       |  SELECT m.doc_id, m.lang, m.source, m.n_tokens
       |  FROM mixed m JOIN tot USING (lang)
       |  WHERE ${duckHex7("'budget:' || doc_id")} % 10000 * total
       |    < $budgetTokens * 10000),
       |packed AS (
       |  SELECT *, ${duckHex7("'shard:' || doc_id")} % $shards AS shard
       |  FROM bud),
       |o AS (
       |  SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
       |    PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS tok_offset
       |  FROM packed)
       |SELECT doc_id, lang, source, n_tokens, shard, tok_offset,
       |  tok_offset // $contextLen AS chunk_first,
       |  (tok_offset + n_tokens - 1) // $contextLen AS chunk_last
       |FROM o ORDER BY doc_id""".stripMargin
  }

  /** DuckDB SQL replicating [[curriculum]]. */
  def curriculumOracleSql(
      bounds: Seq[Int] = DefaultStageBounds,
      shards: Int = 8): String = {
    val cases = bounds.zipWithIndex
      .map { case (b, i) => s"WHEN n_chars < $b THEN $i" }
      .mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CASE $cases ELSE ${bounds.length} END AS stage,
       |    ${duckHex7("'cur:' || doc_id")} % $shards AS shard,
       |    ${duckHex7("'ord:' || doc_id")} AS ord
       |  FROM documents)
       |SELECT doc_id, stage, shard,
       |  row_number() OVER (
       |    PARTITION BY stage, shard ORDER BY ord, doc_id) - 1 AS pos
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Fuzzy decontamination: the example-level companion to q71/q76.
  // Those pool every held-out gram into one set and count per-doc hits —
  // right for "how much benchmark text leaked into this doc" but blind
  // to WHICH eval example leaked, and a long doc can dilute a complete
  // embedded eval example below any pooled-count threshold. Here the
  // unit is the held-out DOCUMENT: flag (doc, held) pairs where the doc
  // contains >= `threshold` of that held doc's distinct w-grams —
  // gram-set containment |H ∩ D| / |H|, the He et al. / GPT-3-appendix
  // "dirty example" notion — so a verbatim or lightly-edited eval
  // example is caught no matter how much other text surrounds it.
  //
  // Scale shape: the held side is benchmark-sized by contract, so its
  // (held_id, gram) postings BROADCAST — q71's discipline kept at
  // example granularity. The corpus gram stream (ONE (doc_id, gram)
  // distinct — gramsOf's measured-faster shuffle form) probes the
  // broadcast map-side; every match is one (doc_id, held_id) row into a
  // pair-keyed count aggregate whose map-side partials absorb hot
  // grams, and |H∩D| falls straight out — no candidate/verify split, no
  // per-pair array intersection. Per-held sizes ride a second (tiny)
  // broadcast. When the held set outgrows broadcast,
  // `heldBroadcast = false` swaps in q89's SSJoin prefix filter (index
  // each held doc's k rarest grams, k = n − ⌈n·(τ−1e-4)⌉ + 1 — lossless
  // by pigeonhole) in front of gram-keyed SHUFFLE joins; bit-equality
  // with the broadcast form is spec-pinned.
  // -------------------------------------------------------------------

  /** (doc_id, held_id, containment) for corpus docs containing >=
    * `threshold` of held doc `held_id`'s distinct `w`-grams, 4dp,
    * ordered. Held set = doc_id % heldoutMod == 0 (the q71 split).
    *
    * `heldBroadcast = false` is the held-set-outgrows-broadcast form:
    *   1. candidates — each held doc indexes only its k rarest grams
    *      under the corpus-df order (a gram absent from the corpus ranks
    *      first at df 0; the pigeonhole bound holds for ANY fixed
    *      k-subset of H's grams, and a shared gram is by definition
    *      present in the corpus, so padding the prefix with absent grams
    *      loses nothing); one gram-keyed equi-join + distinct gives the
    *      candidate (doc, held) pairs — candidate-bounded, never
    *      |corpus| × |held|;
    *   2. verify — candidates pull their matching gram rows through two
    *      more equi-joins into the SAME pair-keyed count aggregate as
    *      the broadcast form. A non-candidate pair shares < m_min grams,
    *      so its 4dp containment is provably < τ — the two forms are
    *      bit-equal (spec-pinned).
    * Everything shuffles on gram / doc_id / (held_id, gram) keys —
    * nothing is required to fit on one executor.
    */
  def fuzzyDecontaminate(
      docs: DataFrame,
      w: Int = 3,
      heldoutMod: Int = 10,
      threshold: Double = 0.5,
      heldBroadcast: Boolean = true): DataFrame = {
    val held = gramsOf(docs.filter(col("doc_id") % heldoutMod === 0), w)
      .select(col("doc_id").as("held_id"), col("gram"))
    val hn = held.groupBy("held_id").agg(count(lit(1)).as("nh"))
    val corpus = gramsOf(docs.filter(col("doc_id") % heldoutMod =!= 0), w)
    val pairCounts =
      if (heldBroadcast)
        // map-side probe: both sides are per-doc distinct, so each
        // (doc_id, held_id, gram) match is unique and the pair count IS
        // the intersection size
        corpus
          .join(broadcast(held), Seq("gram"))
          .groupBy("doc_id", "held_id")
          .agg(count(lit(1)).as("ninter"))
      else {
        val dfreq = corpus.groupBy("gram").agg(count(lit(1)).as("df"))
        val prefix = held
          .join(dfreq, Seq("gram"), "left")
          .join(hn, Seq("held_id"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("held_id")
              .orderBy(coalesce(col("df"), lit(0L)).asc, col("gram").asc)))
          // k = n − m_min + 1, m_min = ceil(n·(τ − 1e-4)) — the q89
          // slack discipline (round(·,4) boundary + IEEE dust)
          .filter(col("rk") <=
            col("nh") - ceil(col("nh") * lit(threshold - 1e-4)) + 1)
          .select(col("held_id"), col("gram"))
        val cand = corpus.join(prefix, Seq("gram"))
          .select(col("doc_id"), col("held_id"))
          .distinct()
        corpus.join(cand, Seq("doc_id"))
          .join(held, Seq("held_id", "gram"))
          .groupBy("doc_id", "held_id")
          .agg(count(lit(1)).as("ninter"))
      }
    val withSizes =
      if (heldBroadcast) pairCounts.join(broadcast(hn), Seq("held_id"))
      else pairCounts.join(hn, Seq("held_id"))
    withSizes
      .withColumn("containment",
        round(col("ninter").cast("double") / col("nh"), 4))
      .filter(col("containment") >= threshold)
      .select(col("doc_id"), col("held_id"), col("containment"))
      .orderBy("doc_id", "held_id")
  }

  /** DuckDB oracle for [[fuzzyDecontaminate]]: the all-pairs containment
    * definition, written directly — the Spark plan's broadcast probe is
    * the same computation with the held side bucketed per executor.
    */
  def fuzzyDecontaminateOracleSql(
      w: Int = 3,
      heldoutMod: Int = 10,
      threshold: Double = 0.5): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(t[CAST(i AS BIGINT):CAST(i + ${w - 1} AS BIGINT)], ' ') AS gram
       |  FROM toks, unnest(range(1, len(t) - ${w - 2})) AS r(i)
       |  WHERE len(t) >= $w),
       |held AS (SELECT doc_id AS held_id, gram FROM grams WHERE doc_id % $heldoutMod = 0),
       |hn AS (SELECT held_id, count(*) AS nh FROM held GROUP BY 1),
       |corp AS (SELECT doc_id, gram FROM grams WHERE doc_id % $heldoutMod <> 0),
       |inter AS (
       |  SELECT c.doc_id, h.held_id, count(*) AS ninter
       |  FROM corp c JOIN held h USING (gram) GROUP BY 1, 2)
       |SELECT doc_id, held_id,
       |  round(CAST(ninter AS DOUBLE) / nh, 4) AS containment
       |FROM inter JOIN hn USING (held_id)
       |WHERE round(CAST(ninter AS DOUBLE) / nh, 4) >= $threshold
       |ORDER BY doc_id, held_id""".stripMargin

  // -------------------------------------------------------------------
  // Deterministic epoch shuffle: the global random permutation a
  // training run wants per epoch, with no randomness — order is
  // md5(seed:doc_id), so it is reproducible from the seed alone, stable
  // under re-runs/partitioning/incremental append (a new doc splices
  // into its hash position without moving any other doc's (shard, pos)
  // relative order), and a new seed is a fresh decorrelated permutation
  // with zero stored state. This is the q55/q70 md5 discipline applied
  // to ordering: no rand(), no zipWithIndex, no driver-side shuffle.
  //
  // Scale shape: shard = first-7-hex of the SAME key mod `shards`, so
  // the one window (position within shard) is (shard)-bounded — set
  // shards ≈ executor slices at 100 TB and every window partition is a
  // ~1/shards slice; readers stream shards independently in (ord, pos)
  // order. No global sort anywhere but the oracle-facing output.
  // -------------------------------------------------------------------

  /** (doc_id, shard, pos): `pos` = the doc's 0-based position within its
    * shard under the seed-keyed pseudo-random order. Different `seed` =>
    * an independent permutation (one per training epoch).
    */
  def deterministicShuffle(
      docs: DataFrame,
      seed: String = "ep0",
      shards: Int = 16): DataFrame = {
    val ord = md5(concat(lit(seed + ":"), col("doc_id").cast("string")).cast("binary"))
    docs
      .select(col("doc_id"), ord.as("ord"))
      .withColumn("shard",
        conv(substring(col("ord"), 1, 7), 16, 10).cast("long") % shards)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("ord").asc, col("doc_id").asc))
        .cast("long") - 1L)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")
  }

  /** DuckDB SQL replicating [[deterministicShuffle]]. */
  def deterministicShuffleOracleSql(
      seed: String = "ep0",
      shards: Int = 16): String =
    s"""WITH t AS (
       |  SELECT doc_id, md5('$seed:' || CAST(doc_id AS VARCHAR)) AS ord,
       |    ${duckHex7(s"'$seed:' || doc_id")} % $shards AS shard
       |  FROM documents)
       |SELECT doc_id, shard,
       |  row_number() OVER (
       |    PARTITION BY shard ORDER BY ord, doc_id) - 1 AS pos
       |FROM t ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Weighted sampling (q105) — quality/length-proportional selection.
  // q72/q79 sample by strata and budgets; this is the per-DOCUMENT
  // weighted draw: pick k docs with inclusion preference proportional
  // to a weight column (here n_chars — in production a quality score),
  // deterministically.
  //
  // Public-knowledge construction: Efraimidis & Spirakis 2006
  // ("Weighted random sampling with a reservoir") — give each item key
  // u^(1/w) for uniform u, take the top k; equivalently (monotone) top
  // k by ln(u)/w, which avoids the pow. u comes from the shared affine
  // hash (q100's), so the draw is a pure function of doc_id: stable
  // under partitioning, re-runs, and appends that do not change ids.
  //
  // Determinism: ln is computed on a BIT-IDENTICAL double on both
  // engines and immediately quantized (floor ×1e6) — the q90 accepted
  // ≤1-ulp residual, documented there. Tie-break doc_id asc.
  //
  // Scale shape: pure map + TakeOrdered(k) — no shuffle at all beyond
  // the top-k's partial reductions; at 100 TB this is a scan-speed
  // pass. (A per-stratum variant is the same expression under the q80
  // stratified window.)
  // -------------------------------------------------------------------

  /** Top-`k` weighted sample of documents, weight = n_chars. Output:
    * the selected docs with their quantized E-S key.
    */
  def weightedSample(docs: DataFrame, k: Int = 50): DataFrame = {
    import graft.functions.KmvSketch
    val u = (KmvSketch.hash(col("doc_id")) + 1).cast("double") / KmvSketch.P
    docs
      .filter(col("n_chars") > 0) // zero weight: never drawn, and ln/0 guards
      .select(col("doc_id"), col("n_chars"),
        floor(log(u) / col("n_chars") * 1000000.0).cast("long").as("key_q"))
      .orderBy(desc("key_q"), asc("doc_id"))
      .limit(k)
  }

  /** DuckDB SQL replicating [[weightedSample]]. */
  def weightedSampleOracleSql(k: Int = 50): String = {
    import graft.functions.KmvSketch
    s"""SELECT doc_id, n_chars,
       |  CAST(floor(ln((${KmvSketch.hashSql("doc_id")} + 1) / ${KmvSketch.P}.0)
       |    / n_chars * 1000000.0) AS BIGINT) AS key_q
       |FROM documents WHERE n_chars > 0
       |ORDER BY key_q DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** Stratified weighted sample (q113): [[weightedSample]]'s
    * Efraimidis–Spirakis draw per SOURCE — k docs per stratum with
    * inclusion preference proportional to weight, the per-domain
    * quota form of q105 (q86 caps by recency rank; this caps by a
    * weighted random draw, the fairer pick when a domain must shrink).
    *
    * Scale shape: the E-S key is the same pure per-row projection; the
    * per-stratum top-k is the q80 window discipline — partitioned by
    * source, and at 100 TB a (source, hash-shard) two-phase split
    * bounds any single stratum's sort exactly as q80 documents.
    * Deterministic: key is a pure function of doc_id.
    */
  def stratifiedWeightedSample(docs: DataFrame, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.KmvSketch
    val u = (KmvSketch.hash(col("doc_id")) + 1).cast("double") / KmvSketch.P
    val w = Window.partitionBy(col("source"))
      .orderBy(desc("key_q"), asc("doc_id"))
    docs
      .filter(col("n_chars") > 0 && col("source").isNotNull)
      .select(col("source"), col("doc_id"), col("n_chars"),
        floor(log(u) / col("n_chars") * 1000000.0).cast("long").as("key_q"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("source", "rnk")
  }

  /** DuckDB SQL replicating [[stratifiedWeightedSample]]. */
  def stratifiedWeightedSampleOracleSql(k: Int = 20): String = {
    import graft.functions.KmvSketch
    s"""SELECT source, doc_id, n_chars, key_q, rnk FROM (
       |  SELECT source, doc_id, n_chars, key_q,
       |    CAST(row_number() OVER (
       |      PARTITION BY source ORDER BY key_q DESC, doc_id ASC) AS BIGINT) AS rnk
       |  FROM (
       |    SELECT source, doc_id, n_chars,
       |      CAST(floor(ln((${KmvSketch.hashSql("doc_id")} + 1) / ${KmvSketch.P}.0)
       |        / n_chars * 1000000.0) AS BIGINT) AS key_q
       |    FROM documents WHERE n_chars > 0 AND source IS NOT NULL))
       |WHERE rnk <= $k
       |ORDER BY source, rnk""".stripMargin
  }

  // -------------------------------------------------------------------
  // Leakage-safe train/eval split (q141): the eval set must not contain
  // a near-duplicate of anything in train — the contamination mode a
  // doc-level random split CANNOT prevent (a template cluster lands on
  // both sides and eval measures memorization). The fix every serious
  // pipeline ships: split by DUP CLUSTER, not by doc — all members of a
  // near-dup cluster travel together.
  // -------------------------------------------------------------------

  /** Assign every vector to train/eval by its near-dup cluster
    * ([[Clusters.embedDupClusters]] — q64's transitive closure over the
    * banded LSH pairs; vectors in no cluster are their own singleton
    * cluster, id = vec_id). Eval = clusters with
    * `cluster_id % evalMod == evalSlot`. Output (vec_id, cluster_id,
    * cluster_size, split); the guarantee — NO near-dup pair straddles
    * the split — is spec-pinned over the pair set itself.
    *
    * Scale shape: the cluster pass is q64's (banded candidates, linear
    * CC); the singleton fill is ONE left join of the corpus ids against
    * the (much smaller) clustered set; the split column is a pure map.
    */
  def leakageSafeSplit(
      emb: DataFrame, evalMod: Int = 10, evalSlot: Int = 0): DataFrame = {
    require(evalMod >= 2 && evalSlot >= 0 && evalSlot < evalMod)
    val cc = Clusters.embedDupClusters(emb)
    val all = emb
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .select(col("vec_id"))
    all
      // the clustered set is bounded by the pair set (tiny next to the
      // corpus) — broadcast it so the singleton fill never sorts the
      // corpus; at a clustered-set size beyond broadcast, drop the hint
      // and let AQE pick the shuffle join
      .join(broadcast(cc), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("split",
        when(pmod(col("cluster_id"), lit(evalMod)) === evalSlot, lit("eval"))
          .otherwise(lit("train")))
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[leakageSafeSplit]]: q64's recursive-closure
    * oracle with the singleton fill and the same modular slot rule.
    */
  def leakageSafeSplitOracleSql(evalMod: Int = 10, evalSlot: Int = 0): String = {
    val pairsSql = AnnLsh.nearDupOracleSql()
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT vec_a AS a, vec_b AS b FROM pairs
       |  UNION
       |  SELECT vec_b, vec_a FROM pairs),
       |reach(v, r) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.v = e.b),
       |cc AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY 1),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1),
       |assigned AS (
       |  SELECT cc.v AS vec_id, cc.cluster_id, sizes.cluster_size
       |  FROM cc JOIN sizes USING (cluster_id)),
       |everyone AS (
       |  SELECT e.vec_id,
       |    coalesce(a.cluster_id, e.vec_id) AS cluster_id,
       |    CAST(coalesce(a.cluster_size, 1) AS BIGINT) AS cluster_size
       |  FROM (SELECT vec_id FROM embeddings
       |        WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e
       |  LEFT JOIN assigned a USING (vec_id))
       |SELECT vec_id, cluster_id, cluster_size,
       |  CASE WHEN cluster_id % $evalMod = $evalSlot THEN 'eval' ELSE 'train' END
       |    AS split
       |FROM everyone ORDER BY vec_id""".stripMargin
  }
}
