package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus quality/safety operators a large-scale training-data pipeline
  * runs between ingest and packing: PII redaction and repetition-based
  * quality metrics (the Gopher/C4-style "repetitious document" filters).
  *
  * Extends the reference's cleaning surface (null-scrub + cast hygiene,
  * /root/reference/airflow/include/loan_spark_etl.py:131-149) with the
  * text-specific scrubbing an LLM corpus needs. Both operators are pure
  * map-side or (doc_id, term)-keyed aggregations — no joins on text, no
  * driver state — so they scale to 100 TB as embarrassingly parallel
  * passes.
  *
  * Regex patterns are restricted to the Java-regex ∩ RE2 common subset
  * (character classes, bounded repetition, ASCII `\b`) so the DuckDB
  * oracles replay them byte-identically.
  */
object QualityOps {

  /** PII patterns: email, dotted-quad IPv4, NNN-NNN-NNNN phone. */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePat = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Redact PII from `textCol`: per doc, the match count of each PII
    * class (counted on the original text) plus the scrubbed text with
    * matches replaced by `<EMAIL>`/`<IP>`/`<PHONE>` in that fixed order.
    *
    * Scale shape: a single narrow projection — regexp count + chained
    * regexp_replace are whole-stage-codegen'd per row, nothing shuffles
    * before the output sort. Null text yields null counts/clean (total,
    * never throws).
    */
  def scrubPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val txt = col(textCol)
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(txt, lit(EmailPat), lit(0))).cast("long").as("n_email"),
      size(regexp_extract_all(txt, lit(Ipv4Pat), lit(0))).cast("long").as("n_ip"),
      size(regexp_extract_all(txt, lit(PhonePat), lit(0))).cast("long").as("n_phone"),
      regexp_replace(
        regexp_replace(
          regexp_replace(txt, EmailPat, "<EMAIL>"),
          Ipv4Pat, "<IP>"),
        PhonePat, "<PHONE>").as("clean"))
  }

  /** DuckDB SQL replicating [[scrubPii]] over a text expression
    * `textSql` (defaults to the raw column). DuckDB's regexp_replace
    * needs the explicit 'g' flag to match Spark's replace-all.
    */
  def scrubPiiOracleSql(textSql: String = "text"): String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(s, '$EmailPat')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(s, '$Ipv4Pat')) AS BIGINT) AS n_ip,
       |  CAST(len(regexp_extract_all(s, '$PhonePat')) AS BIGINT) AS n_phone,
       |  regexp_replace(regexp_replace(regexp_replace(s,
       |    '$EmailPat', '<EMAIL>', 'g'),
       |    '$Ipv4Pat', '<IP>', 'g'),
       |    '$PhonePat', '<PHONE>', 'g') AS clean
       |FROM (SELECT doc_id, $textSql AS s FROM documents)""".stripMargin

  // -------------------------------------------------------------------
  // Repetition metrics (Gopher-style quality filter): documents that are
  // mostly repeated tokens or dominated by one bigram are boilerplate /
  // spam and are dropped before training. Per doc:
  //   dup_tok_frac    = 1 - distinct_tokens / total_tokens
  //   top_bigram_frac = occurrences of the most frequent bigram / bigrams
  //   keep            = both below their thresholds
  //
  // Scale shape: two (doc_id, term)-keyed aggregations (map-side partial
  // combine applies; the key includes doc_id so a globally common term
  // cannot hot-key a reducer) + per-doc windows whose partitions are
  // doc-sized. No in-row HOF set-builds (array_distinct measured 2.3x
  // slower than the shuffle form at sf0.1 — see TrainPipe.decontaminate),
  // no text in any join key.
  // -------------------------------------------------------------------

  /** (doc_id, n_tokens, dup_tok_frac, top_bigram, top_bigram_frac, keep);
    * ties on the top bigram break to the lexicographically smallest.
    * Docs with < 2 tokens get top_bigram = '' and frac 0.
    */
  def repetitionStats(
      docs: DataFrame,
      maxDupTokFrac: Double = 0.75,
      maxTopBigramFrac: Double = 0.055): DataFrame =
    repetitionCore(docs, maxDupTokFrac, maxTopBigramFrac).orderBy("doc_id")

  /** [[repetitionStats]] without the output sort — the composable form
    * [[TrainPipe.fullPipeline]] chains into downstream stages (a global
    * sort mid-pipeline would be a pure-overhead range exchange).
    */
  private[ops] def repetitionCore(
      docs: DataFrame,
      maxDupTokFrac: Double,
      maxTopBigramFrac: Double): DataFrame = {
    // Spread.widen (r18): the token/bigram expansions below are the
    // gate's CPU and pipeline onto the scan layout — one split on a
    // small corpus; no-op once the scan is wide
    val toks = Spread.widen(
      docs.select(col("doc_id"), split(col("text"), " ").as("t")),
      col("doc_id"))
    val tokStats = toks
      .select(col("doc_id"), explode(col("t")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"), count(lit(1)).as("n_distinct"))
    // same slice-window shingle generator as TrainPipe.decontaminate (w=2)
    val biCounts = toks
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat_ws(' ', slice(t, i, 2)))"))
        .as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("cnt"))
    val wTot = Window.partitionBy("doc_id")
    val wRank = Window.partitionBy("doc_id")
      .orderBy(col("cnt").desc, col("bigram").asc)
    val top = biCounts
      .withColumn("n_bigrams", sum("cnt").over(wTot))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") === 1)
      .select(
        col("doc_id"),
        col("bigram").as("top_bigram"),
        round(col("cnt").cast("double") / col("n_bigrams"), 4)
          .as("top_bigram_frac"))
    tokStats
      .join(top, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 4)
          .as("dup_tok_frac"),
        coalesce(col("top_bigram"), lit("")).as("top_bigram"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
      .withColumn(
        "keep",
        (col("dup_tok_frac") <= maxDupTokFrac &&
          col("top_bigram_frac") <= maxTopBigramFrac).cast("int"))
  }

  // -------------------------------------------------------------------
  // Corpus-frequency quality (the CCNet-style LM filter's exact-integer
  // cousin): score each document by how much of it is made of the
  // corpus's own most common tokens. Documents far from the corpus
  // distribution (low coverage of the top-V vocabulary) are outliers —
  // OCR noise, code dumps, wrong-language fragments.
  //
  // Determinism discipline (the q61 lesson): every AGGREGATION stays in
  // exact integers (counts and sums of longs), and floating point enters
  // only in per-row division of two longs — identical IEEE doubles on
  // any engine, any partitioning. No float ever crosses a shuffle.
  //
  // Scale shape: the vocabulary aggregation is token-keyed with map-side
  // partial combine (hot tokens fold before the shuffle); top-V is
  // vocabulary-sized and BROADCAST to the probe join; the per-doc
  // aggregate is doc_id-keyed. Two shuffles total at any corpus size.
  // -------------------------------------------------------------------

  /** (doc_id, n_toks, n_common, common_frac, mean_vocab_freq, keep):
    * n_common = tokens of the doc inside the corpus top-`vocabSize`
    * vocabulary (count desc, token asc tie-break); mean_vocab_freq =
    * mean corpus count of those matched tokens (0.0 when none);
    * keep = common_frac >= `minCommonFrac` (on the rounded value).
    */
  def freqQuality(
      docs: DataFrame,
      vocabSize: Int = 10,
      minCommonFrac: Double = 0.30): DataFrame =
    freqQualityCore(docs, vocabSize, minCommonFrac).orderBy("doc_id")

  /** [[freqQuality]] without the output sort (see [[repetitionCore]]). */
  private[ops] def freqQualityCore(
      docs: DataFrame,
      vocabSize: Int,
      minCommonFrac: Double): DataFrame = {
    // (r18: a Spread.widen here was A/B'd and REVERTED — the extra
    // text exchange cost more than the explode/agg it parallelized on
    // this sub-second row; the aggregate's map-side partials already
    // shrink the shuffle)
    val toks = docs.select(
      col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(vocabSize)
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_toks"),
        count(col("cnt")).as("n_common"),
        coalesce(sum(col("cnt")), lit(0L)).as("sum_freq"))
      .select(
        col("doc_id"),
        col("n_toks"),
        col("n_common"),
        round(col("n_common").cast("double") / col("n_toks"), 4)
          .as("common_frac"),
        when(col("n_common") === 0, lit(0.0))
          .otherwise(round(col("sum_freq").cast("double") / col("n_common"), 4))
          .as("mean_vocab_freq"))
      .withColumn("keep", (col("common_frac") >= minCommonFrac).cast("int"))
  }

  /** DuckDB SQL replicating [[freqQuality]]. */
  def freqQualityOracleSql(
      vocabSize: Int = 10,
      minCommonFrac: Double = 0.30): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |vocab AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM toks GROUP BY 1
       |  ORDER BY cnt DESC, tok ASC LIMIT $vocabSize),
       |a AS (
       |  SELECT t.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_toks,
       |    CAST(count(v.cnt) AS BIGINT) AS n_common,
       |    CAST(COALESCE(sum(v.cnt), 0) AS BIGINT) AS sum_freq
       |  FROM toks t LEFT JOIN vocab v USING (tok)
       |  GROUP BY 1)
       |SELECT doc_id, n_toks, n_common,
       |  round(CAST(n_common AS DOUBLE) / n_toks, 4) AS common_frac,
       |  CASE WHEN n_common = 0 THEN 0.0
       |    ELSE round(CAST(sum_freq AS DOUBLE) / n_common, 4) END
       |    AS mean_vocab_freq,
       |  CAST(round(CAST(n_common AS DOUBLE) / n_toks, 4) >= $minCommonFrac
       |    AS INTEGER) AS keep
       |FROM a ORDER BY doc_id""".stripMargin

  /** DuckDB SQL replicating [[repetitionStats]]. */
  def repetitionOracleSql(
      maxDupTokFrac: Double = 0.75,
      maxTopBigramFrac: Double = 0.055): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |ts AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1),
       |bi AS (
       |  SELECT doc_id,
       |    array_to_string(t[CAST(i AS BIGINT):CAST(i + 1 AS BIGINT)], ' ') AS bigram
       |  FROM toks, unnest(range(1, len(t))) AS r(i)
       |  WHERE len(t) >= 2),
       |bc AS (SELECT doc_id, bigram, count(*) AS cnt FROM bi GROUP BY 1, 2),
       |tp AS (
       |  SELECT doc_id, bigram, cnt,
       |    sum(cnt) OVER (PARTITION BY doc_id) AS n_bigrams,
       |    row_number() OVER (
       |      PARTITION BY doc_id ORDER BY cnt DESC, bigram ASC) AS rn
       |  FROM bc),
       |j AS (
       |  SELECT ts.doc_id, ts.n_tokens,
       |    round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS dup_tok_frac,
       |    COALESCE(tp.bigram, '') AS top_bigram,
       |    COALESCE(round(CAST(tp.cnt AS DOUBLE) / tp.n_bigrams, 4), 0.0)
       |      AS top_bigram_frac
       |  FROM ts LEFT JOIN (SELECT * FROM tp WHERE rn = 1) tp USING (doc_id))
       |SELECT j.*,
       |  CAST(dup_tok_frac <= $maxDupTokFrac
       |    AND top_bigram_frac <= $maxTopBigramFrac AS INTEGER) AS keep
       |FROM j ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Corpus-LM surprisal (the KenLM/CCNet filter's self-contained form):
  // score each document by its mean per-bigram surprisal under the
  // corpus's own add-one-smoothed bigram model,
  //   s(a b) = ln(c(a) + V) − ln(c(ab) + 1)   [nats],
  // low mean = the doc reads like the corpus, high mean = outlier (OCR
  // noise, code dumps, wrong-language fragments). CCNet does this with
  // an external KenLM; here the corpus IS the model, so the operator is
  // closed over its input and exactly reproducible.
  //
  // Determinism discipline (one step past q77): a per-doc MEAN of raw
  // doubles would sum floats across a shuffle in arbitrary order —
  // engines (and runs) could disagree in the last ulp. So the per-row
  // surprisal is quantized FIRST to integer ten-thousandths of a nat,
  //   q = floor(s · 10⁴ + 0.5)  (floor(x+0.5), not round() — the
  // HALF_UP-vs-binary gotcha), and the aggregation is an exact SUM OF
  // LONGS — order-free on any engine or partitioning. Floats appear
  // only per-row (two lns and a subtraction, bit-identical inputs on
  // both engines) and in the final per-doc ratio of two exact integers.
  //
  // Residual cross-engine risk, accepted deliberately: JVM Math.log and
  // DuckDB's libm ln are each correct to ≤1 ulp but are NOT the same
  // implementation, so an adversarial input whose s·10⁴ lands within
  // ~1 ulp of a k−0.5 boundary could quantize differently per engine
  // and fail the hash compare. This is the q61 risk class (per-row
  // round(log) has shipped green since r6): a generic double sits
  // ~2⁻⁴⁰ of a quantum from the nearest boundary, the failure mode is a
  // loud per-round gate mismatch (never a silent wrong answer), and the
  // alternative — a software-deterministic ln on both engines — is not
  // expressible in DuckDB SQL. If the gate ever trips here, widen the
  // quantum (1e-3 nats) before suspecting the operator.
  //
  // Scale shape: bigram/unigram count aggregates are term-keyed with
  // map-side partial combine; the model joins are equi-joins on the
  // bigram/context tokens (hot terms fold map-side in the counts and
  // AQE-split in the joins); V rides the q61 1-row-broadcast pattern;
  // the final aggregate is doc_id-keyed. No float ever crosses a
  // shuffle.
  // -------------------------------------------------------------------

  /** (doc_id, n_bigrams, sum_q, mean_surprisal, keep): sum_q = exact
    * integer sum of per-bigram surprisal in 1e-4 nats; mean_surprisal =
    * round(sum_q / (n · 10⁴), 4); keep = mean below `maxMeanSurprisal`.
    * Docs with < 2 tokens score 0 (no evidence ⇒ not an outlier).
    */
  def lmSurprisal(docs: DataFrame, maxMeanSurprisal: Double = 6.0): DataFrame = {
    // (r18: a Spread.widen here was A/B'd and REVERTED — see
    // freqQualityCore. r19: a restructure that folded the bigram stream
    // into a per-(doc, bigram) multiplicity aggregate + persisted model
    // frames was A/B'd and REVERTED too — 1.57 → 2.85 s in the full-
    // catalog bench: per-doc bigrams are mostly unique here, so the
    // (doc_id, ab)-keyed exchange + cache carried occurrence-scale bytes
    // while the recomputed explosions it saved die into map-side partial
    // aggregates that shuffle almost nothing.)
    val toks = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val uni = toks
      .select(explode(col("t")).as("a"))
      .groupBy("a").agg(count(lit(1)).as("ca"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bi = toks
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS a, concat_ws(' ', element_at(t, i), element_at(t, i + 1)) AS ab))"))
        .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.ab").as("ab"))
    val cb = bi.groupBy("ab").agg(count(lit(1)).as("cab"))
    val scored = bi
      .join(cb, Seq("ab"))
      .join(uni, Seq("a"))
      .crossJoin(broadcast(vocab))
      // per-row quantized surprisal: exact-integer model counts in, one
      // long out — the only floats live inside this projection
      .withColumn("q",
        floor((log(col("ca").cast("double") + col("v")) -
          log(col("cab").cast("double") + 1.0)) * 10000.0 + 0.5).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("q").as("sum_q"))
    docs
      .select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_q"), lit(0L)).as("sum_q"))
      .withColumn("mean_surprisal",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(round(col("sum_q").cast("double") / (col("n_bigrams") * 10000.0), 4)))
      .withColumn("keep", (col("mean_surprisal") <= maxMeanSurprisal).cast("int"))
      .orderBy("doc_id")
  }

  /** DuckDB SQL replicating [[lmSurprisal]]. */
  def lmSurprisalOracleSql(maxMeanSurprisal: Double = 6.0): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE text IS NOT NULL),
       |uni AS (
       |  SELECT a, CAST(count(*) AS BIGINT) AS ca
       |  FROM (SELECT unnest(t) AS a FROM toks) GROUP BY 1),
       |vocab AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
       |bi AS (
       |  SELECT doc_id, t[CAST(i AS BIGINT)] AS a,
       |    t[CAST(i AS BIGINT)] || ' ' || t[CAST(i + 1 AS BIGINT)] AS ab
       |  FROM toks, unnest(range(1, len(t))) AS r(i)
       |  WHERE len(t) >= 2),
       |cb AS (SELECT ab, CAST(count(*) AS BIGINT) AS cab FROM bi GROUP BY 1),
       |q AS (
       |  SELECT doc_id,
       |    CAST(floor((ln(CAST(ca AS DOUBLE) + v) - ln(CAST(cab AS DOUBLE) + 1.0))
       |      * 10000.0 + 0.5) AS BIGINT) AS q
       |  FROM bi JOIN cb USING (ab) JOIN uni USING (a) CROSS JOIN vocab),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(q) AS BIGINT) AS sum_q
       |  FROM q GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(agg.sum_q, 0) AS sum_q,
       |  CASE WHEN COALESCE(agg.n_bigrams, 0) = 0 THEN 0.0
       |    ELSE round(CAST(agg.sum_q AS DOUBLE) / (agg.n_bigrams * 10000.0), 4)
       |  END AS mean_surprisal,
       |  CAST(CASE WHEN COALESCE(agg.n_bigrams, 0) = 0 THEN 0.0
       |    ELSE round(CAST(agg.sum_q AS DOUBLE) / (agg.n_bigrams * 10000.0), 4)
       |  END <= $maxMeanSurprisal AS INTEGER) AS keep
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Corpus card: the one-page datasheet a dataset release ships —
  // volume, composition, duplication, and length-distribution facts in
  // a fixed (metric, value) long format so downstream tooling (and the
  // oracle) can diff releases row-by-row.
  //
  // Scale shape: TWO scans total — one doc-level aggregate (counts,
  // distincts, duplication via sha2-digest count-distinct, length
  // moments) and one token-level aggregate (token count + vocabulary)
  // over the exploded stream; the count-distincts ride Spark's Expand
  // (rows × #distinct-aggs — a report-query trade-off, not a hot-path
  // operator; the q42 HLL++ swap applies when the card runs at 100 TB).
  // Values are cast to double ONLY in the final projection of exact
  // integer aggregates (counts and sums of longs — the ratio rows are
  // integer/integer divisions, the q22 discipline).
  // -------------------------------------------------------------------

  /** (metric, value) rows, metric-ordered: doc/token/vocab counts,
    * language/source cardinalities, exact-duplicate fraction (1 −
    * distinct digests / docs), and n_chars mean — the release
    * datasheet. */
  def corpusCard(docs: DataFrame): DataFrame = {
    val d = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(sha2(col("text"), 256)).as("n_digests"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(col("n_chars")).as("sum_chars"))
    val t = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_vocab"))
    d.crossJoin(t)
      .select(explode(array(
        // n_docs = 0 guards: an empty corpus has no duplication and no
        // mean — 0.0, not a divide-by-zero (EmptyInputSpec is the gate)
        struct(lit("dup_doc_frac").as("metric"),
          when(col("n_docs") === 0, lit(0.0))
            .otherwise(round(
              lit(1.0) - col("n_digests").cast("double") / col("n_docs"), 4))
            .as("value")),
        struct(lit("mean_chars").as("metric"),
          when(col("n_docs") === 0, lit(0.0))
            .otherwise(round(col("sum_chars").cast("double") / col("n_docs"), 4))
            .as("value")),
        struct(lit("n_docs").as("metric"), col("n_docs").cast("double").as("value")),
        struct(lit("n_langs").as("metric"), col("n_langs").cast("double").as("value")),
        struct(lit("n_sources").as("metric"), col("n_sources").cast("double").as("value")),
        struct(lit("n_tokens").as("metric"), col("n_tokens").cast("double").as("value")),
        struct(lit("n_vocab").as("metric"), col("n_vocab").cast("double").as("value"))))
        .as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
      .orderBy("metric")
  }

  /** DuckDB SQL replicating [[corpusCard]]. */
  def corpusCardOracleSql: String =
    s"""WITH d AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_digests,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |  FROM documents),
       |t AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
       |card AS (
       |  SELECT 'dup_doc_frac' AS metric,
       |    CASE WHEN n_docs = 0 THEN 0.0
       |      ELSE round(1.0 - CAST(n_digests AS DOUBLE) / n_docs, 4)
       |    END AS value
       |  FROM d
       |  UNION ALL SELECT 'mean_chars',
       |    CASE WHEN n_docs = 0 THEN 0.0
       |      ELSE round(CAST(sum_chars AS DOUBLE) / n_docs, 4) END FROM d
       |  UNION ALL SELECT 'n_docs', CAST(n_docs AS DOUBLE) FROM d
       |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM d
       |  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM d
       |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM t
       |  UNION ALL SELECT 'n_vocab', CAST(n_vocab AS DOUBLE) FROM t)
       |SELECT metric, value FROM card ORDER BY metric""".stripMargin

  /** Compression-ratio quality signal: per doc, the DEFLATE-compressed
    * size over the raw UTF-8 size. Highly templated / repetitive text
    * (boilerplate, log spam, keyword stuffing) compresses far below
    * natural prose, so a low ratio is a cheap structural quality flag —
    * the compressibility companion to [[repetitionStats]]' token-level
    * fractions (it catches long-range repetition that per-token and
    * per-bigram fractions miss).
    *
    * Scale shape: pure map-side — zero shuffles before the output sort,
    * no joins, no text movement; one `java.util.zip.Deflater` (raw mode,
    * fixed level) is reused across a whole partition and its native
    * memory is released on task completion. At 100 TB this is an
    * embarrassingly parallel scan pass at near-I/O speed.
    *
    * Keep flag: `ratio >= minRatio` AND `n_bytes > 0` — empty/null text
    * would otherwise score the HIGHEST ratio (a few deflate header
    * bytes over a floor of 1) and the most degenerate docs would pass
    * the gate.
    *
    * Gate: rows-only (like q42/q67) — DEFLATE output length is a
    * property of the compressor, not SQL-expressible in the DuckDB
    * oracle. Determinism within the engine (fixed JDK zlib + fixed
    * level + reset-per-doc) is spec-pinned across partitionings in
    * QualityOpsSpec.
    */
  def compressionRatio(
      docs: DataFrame,
      level: Int = 6,
      minRatio: Double = 0.1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sizes = docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Option[Long], String)] // doc_id may be null in dirty corpora
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(level, /* nowrap = */ true)
        // free the native zlib state when the task ends, not at GC time
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val bytes =
            if (text == null) Array.emptyByteArray
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          (id, bytes.length.toLong, n)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflate")
    sizes
      .select(
        col("doc_id"), col("n_bytes"), col("n_deflate"),
        round(
          col("n_deflate").cast("double") /
            greatest(col("n_bytes"), lit(1L)).cast("double"),
          4).as("ratio"))
      .withColumn("keep",
        (col("ratio") >= minRatio && col("n_bytes") > 0L).cast("int"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // DSIR-style importance weights (Xie et al. 2023, "Data Selection for
  // Language Models via Importance Resampling"): score every raw-pool
  // document by how much more likely its tokens are under the TARGET
  // domain's unigram model than under the raw pool's own,
  //   s(tok) = ln(c_t(tok)+1) − ln(c_r(tok)+1) + ln(N_r+V) − ln(N_t+V)
  // (add-one smoothing over the raw vocabulary V on both models; the
  // four ln arguments are exact integers, the combination order is
  // pinned left-to-right so both engines fold identically). A doc's
  // log-weight is the per-token MEAN — length-normalized, so long docs
  // don't dominate selection — and `keep` marks docs that read more
  // target-like than raw-like (mean ≥ 0). DSIR hashes n-grams into
  // buckets to bound the model; with a bounded vocabulary the raw
  // unigram table IS the bucket table, and at 100 TB the swap is
  // hash(gram) % B as the model key — nothing downstream changes.
  //
  // Determinism: the q90 discipline verbatim — per-token surprisal
  // quantized to integer 1e-4 nats via floor(s·10⁴ + 0.5) BEFORE the
  // doc aggregate, so the shuffle sums exact longs; floats live only in
  // the per-row ln fold and the final ratio of two exact integers.
  // Same accepted cross-engine ulp-at-a-boundary risk as q90 (loud
  // gate mismatch, never silent).
  //
  // Scale shape: two token-keyed count aggregates (map-side partials
  // absorb hot tokens), model join is a token equi-join (the target
  // model is target-corpus-sized — broadcast when the target is a small
  // curated set, as here), totals ride the q61 1-row broadcast, final
  // aggregate is doc_id-keyed. No float crosses a shuffle.
  // -------------------------------------------------------------------

  /** (doc_id, n_toks, sum_q, log_weight, keep): sum_q = exact integer
    * sum of per-token-occurrence log-likelihood ratios in 1e-4 nats
    * against the `targetLang` slice of the corpus; log_weight = the 4dp
    * per-token mean floor(sum_q / n_toks + 0.5) / 10⁴; keep =
    * log_weight ≥ 0. Docs with no tokens score 0 (no evidence).
    */
  def importanceWeights(docs: DataFrame, targetLang: String = "en"): DataFrame = {
    val toks = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
    // raw-pool model: every token occurrence, the full corpus
    val raw = toks.groupBy("tok").agg(count(lit(1)).as("cr"))
    // target model: the curated slice; broadcast-sized by contract
    val tgt = toks.filter(col("lang") === targetLang)
      .groupBy("tok").agg(count(lit(1)).as("ct"))
    val totals = raw.agg(
      sum("cr").as("nr"), count(lit(1)).as("v")).crossJoin(
      broadcast(tgt.agg(sum("ct").as("nt"))))
    val scored = toks
      .join(raw, Seq("tok"))
      .join(broadcast(tgt), Seq("tok"), "left")
      .na.fill(Map("ct" -> 0L))
      .crossJoin(broadcast(totals))
      // per-row quantized log-ratio: exact-integer counts in, one long
      // out; ln fold order pinned left-to-right on both engines
      .withColumn("q",
        floor((log(col("ct").cast("double") + 1.0) -
          log(col("cr").cast("double") + 1.0) +
          log((col("nr") + col("v")).cast("double")) -
          log((col("nt") + col("v")).cast("double"))) * 10000.0 + 0.5)
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("q").as("sum_q"))
    docs
      .select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("sum_q"), lit(0L)).as("sum_q"))
      // 4dp mean via floor(x+0.5) on the exact-integer ratio sum_q/n —
      // NOT round(): -1488/320000 = -0.00465 exactly, and the engines'
      // round() tie-breaks differ at such boundaries; floor(x+0.5) is a
      // total deterministic function of the (identical) IEEE quotient
      .withColumn("log_weight",
        when(col("n_toks") === 0, lit(0.0))
          .otherwise(
            floor(col("sum_q").cast("double") / col("n_toks") + 0.5) / 10000.0))
      .withColumn("keep", (col("log_weight") >= 0.0).cast("int"))
      .orderBy("doc_id")
  }

  /** DuckDB SQL replicating [[importanceWeights]]. */
  def importanceWeightsOracleSql(targetLang: String = "en"): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |raw AS (SELECT tok, CAST(count(*) AS BIGINT) AS cr FROM toks GROUP BY 1),
       |tgt AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS ct
       |  FROM toks WHERE lang = '$targetLang' GROUP BY 1),
       |totals AS (
       |  SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr,
       |    (SELECT CAST(count(*) AS BIGINT) FROM raw) AS v,
       |    (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS nt),
       |q AS (
       |  SELECT doc_id,
       |    CAST(floor((ln(CAST(COALESCE(ct, 0) AS DOUBLE) + 1.0) -
       |      ln(CAST(cr AS DOUBLE) + 1.0) +
       |      ln(CAST(nr + v AS DOUBLE)) -
       |      ln(CAST(nt + v AS DOUBLE))) * 10000.0 + 0.5) AS BIGINT) AS q
       |  FROM toks JOIN raw USING (tok) LEFT JOIN tgt USING (tok)
       |  CROSS JOIN totals),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       |    CAST(sum(q) AS BIGINT) AS sum_q
       |  FROM q GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(agg.n_toks, 0) AS n_toks,
       |  COALESCE(agg.sum_q, 0) AS sum_q,
       |  CASE WHEN COALESCE(agg.n_toks, 0) = 0 THEN 0.0
       |    ELSE floor(CAST(agg.sum_q AS DOUBLE) / agg.n_toks + 0.5) / 10000.0
       |  END AS log_weight,
       |  CAST(CASE WHEN COALESCE(agg.n_toks, 0) = 0 THEN 0.0
       |    ELSE floor(CAST(agg.sum_q AS DOUBLE) / agg.n_toks + 0.5) / 10000.0
       |  END >= 0.0 AS INTEGER) AS keep
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Mergeable corpus card (q103) — the incremental twin of q91. q91's
  // count-distinct Expand re-scans the WHOLE corpus per report; at 100 TB
  // a daily card cannot. This card's state is a bounded MONOID: exact
  // long counters + KMV sketches ([[graft.functions.KmvMinHashesAgg]])
  // for every distinct-count, so per-batch summaries (KBs each) merge
  // associatively into the corpus card without rescanning old batches —
  // merge(sketch(A), sketch(B)) = sketch(A ∪ B) EXACTLY, which is what
  // keeps the merged card bit-equal to a full recompute and therefore
  // oracle-checkable.
  // -------------------------------------------------------------------

  /** One-row bounded summary of a document batch: exact n_docs /
    * sum_chars / n_tokens, KMV min-hash sketches for the distinct
    * domains (text digests, vocabulary, langs, sources). Strings enter
    * the sketch through the shared poly-fold hash so the DuckDB oracle
    * replays them. State size: 3 longs + 4·k longs, independent of
    * batch size; raw text never shuffles (the sketches' partials are
    * the only thing on the wire).
    */
  def cardSketch(docs: DataFrame, k: Int = 1024): DataFrame = {
    import graft.functions.KmvSketch._
    val d = docs.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("n_chars")), lit(0L)).cast("long").as("sum_chars"),
      kmvMinHashes(hash(polyHash(col("text"))), k).as("mh_digest"),
      kmvMinHashes(hash(polyHash(col("lang"))), k).as("mh_lang"),
      kmvMinHashes(hash(polyHash(col("source"))), k).as("mh_source"))
    val t = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(
        count(lit(1)).cast("long").as("n_tokens"),
        kmvMinHashes(hash(polyHash(col("tok"))), k).as("mh_vocab"))
    d.crossJoin(t) // two 1-row frames: the q91 scalar pattern
  }

  /** Fold any number of [[cardSketch]] rows into one: exact counters
    * sum; sketches merge by re-sketching the union of their retained
    * hashes (KMV's merge IS "k smallest of the union", so feeding the
    * exploded arrays back through the aggregate is the monoid op).
    */
  def mergeCardSketches(cards: DataFrame, k: Int = 1024): DataFrame = {
    import graft.functions.KmvSketch._
    val scalars = cards.agg(
      coalesce(sum(col("n_docs")), lit(0L)).cast("long").as("n_docs"),
      coalesce(sum(col("sum_chars")), lit(0L)).cast("long").as("sum_chars"),
      coalesce(sum(col("n_tokens")), lit(0L)).cast("long").as("n_tokens"))
    def remerge(c: String) = cards
      .select(explode(col(c)).as("h"))
      .agg(kmvMinHashes(col("h"), k).as(c))
    scalars
      .crossJoin(remerge("mh_digest"))
      .crossJoin(remerge("mh_vocab"))
      .crossJoin(remerge("mh_lang"))
      .crossJoin(remerge("mh_source"))
  }

  /** Finalize a (merged) card into q91-shaped metric rows. Distinct
    * counts are KMV estimates (exact whenever the domain is under k —
    * every domain but the digest/vocab ones at corpus scale).
    */
  def finalizeCard(card: DataFrame, k: Int = 1024): DataFrame = {
    import graft.functions.KmvSketch.kmvEstimate
    card
      .select(col("n_docs"), col("sum_chars"), col("n_tokens"),
        kmvEstimate("mh_digest", k).as("est_digests"),
        kmvEstimate("mh_vocab", k).as("est_vocab"),
        kmvEstimate("mh_lang", k).as("est_langs"),
        kmvEstimate("mh_source", k).as("est_sources"))
      .select(explode(array(
        struct(lit("dup_doc_frac_est").as("metric"),
          when(col("n_docs") === 0, lit(0.0))
            .otherwise(round(
              lit(1.0) - col("est_digests").cast("double") / col("n_docs"), 4))
            .as("value")),
        struct(lit("mean_chars").as("metric"),
          when(col("n_docs") === 0, lit(0.0))
            .otherwise(round(col("sum_chars").cast("double") / col("n_docs"), 4))
            .as("value")),
        struct(lit("est_digests").as("metric"), col("est_digests").cast("double").as("value")),
        struct(lit("est_langs").as("metric"), col("est_langs").cast("double").as("value")),
        struct(lit("est_sources").as("metric"), col("est_sources").cast("double").as("value")),
        struct(lit("est_vocab").as("metric"), col("est_vocab").cast("double").as("value")),
        struct(lit("n_docs").as("metric"), col("n_docs").cast("double").as("value")),
        struct(lit("n_tokens").as("metric"), col("n_tokens").cast("double").as("value"))))
        .as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
      .orderBy("metric")
  }

  /** q103: the incremental-card contract end to end — the corpus split
    * into `batches` disjoint slices (doc_id mod batches, the q78/q98
    * split convention), one bounded [[cardSketch]] per slice, merged and
    * finalized. CardSketchSpec pins merged ≡ single-pass; the oracle
    * replays the whole arithmetic over the union (equal by that law).
    */
  def incrementalCorpusCard(docs: DataFrame, batches: Int = 3, k: Int = 1024): DataFrame = {
    require(batches >= 1)
    // coalesce: a NULL doc_id matches no pmod residue and would silently
    // vanish from every slice, diverging the merged card from the
    // single-pass oracle on dirty corpora — route null-id docs to slice 0
    val cards = (0 until batches)
      .map(b => cardSketch(
        docs.filter(
          coalesce(pmod(col("doc_id"), lit(batches)), lit(0)) === b), k))
      .reduce(_.union(_))
    finalizeCard(mergeCardSketches(cards, k), k)
  }

  /** DuckDB oracle for [[incrementalCorpusCard]]: KMV merge-exactness
    * means the merged card equals the single-pass card over the whole
    * corpus, so the oracle computes THAT (per-domain k-smallest distinct
    * hashes + the shared integer estimator), not the batch replay.
    */
  def incrementalCorpusCardOracleSql(k: Int = 1024): String = {
    import graft.functions.KmvSketch.{hashSql, kmvEstimateSql, polyHashSql}
    def domain(name: String, from: String) =
      s"""$name AS (
         |  SELECT ${kmvEstimateSql("list_sort(list(h))", k)} AS est FROM (
         |    SELECT h, row_number() OVER (ORDER BY h) AS rn
         |    FROM (SELECT DISTINCT ${hashSql(s"(${polyHashSql(from)})")} AS h
         |          FROM ${if (name == "kv") "toks" else "documents"})
         |    WHERE h IS NOT NULL) s
         |  WHERE rn <= $k)""".stripMargin
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |sc AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sum_chars
       |  FROM documents),
       |tc AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM toks),
       |${domain("kd", "text")},
       |${domain("kv", "tok")},
       |${domain("kl", "lang")},
       |${domain("ks", "source")},
       |card AS (
       |  SELECT 'dup_doc_frac_est' AS metric,
       |    CASE WHEN sc.n_docs = 0 THEN 0.0
       |      ELSE round(1.0 - CAST(kd.est AS DOUBLE) / sc.n_docs, 4) END AS value
       |  FROM sc, kd
       |  UNION ALL SELECT 'mean_chars',
       |    CASE WHEN n_docs = 0 THEN 0.0
       |      ELSE round(CAST(sum_chars AS DOUBLE) / n_docs, 4) END FROM sc
       |  UNION ALL SELECT 'est_digests', CAST(est AS DOUBLE) FROM kd
       |  UNION ALL SELECT 'est_langs', CAST(est AS DOUBLE) FROM kl
       |  UNION ALL SELECT 'est_sources', CAST(est AS DOUBLE) FROM ks
       |  UNION ALL SELECT 'est_vocab', CAST(est AS DOUBLE) FROM kv
       |  UNION ALL SELECT 'n_docs', CAST(n_docs AS DOUBLE) FROM sc
       |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM tc)
       |SELECT metric, value FROM card ORDER BY metric""".stripMargin
  }

  // -------------------------------------------------------------------
  // Quality-signal ensemble (q139): rank fusion of incomparable quality
  // scales. Individual signals (length, lexical diversity, stopword
  // density) live on different scales and distributions, so averaging
  // raw scores is meaningless; the standard fix (used by every data-
  // curation ensemble since the Borda count) is to rank-normalize each
  // signal EXACTLY and fuse the ranks. The ranks come from
  // [[graft.ops.Ranks]] — three two-pass distributed rankings, each
  // task sorting N/P rows, never a single-partition window.
  // -------------------------------------------------------------------

  private val EnsembleStopwords = Seq("the", "a", "and", "of", "to")

  /** Top-`topN` docs by fused quality rank. Signals per doc (one token
    * scan): n_tok (more is better), type-token ratio n_dist/n_tok
    * (higher = lexically diverse), stopword ratio n_stop/n_tok (lower =
    * less boilerplate-glue). Each ratio is ONE long/long double
    * division — correctly rounded, bit-identical across engines — and
    * each rank is exact with a doc_id tie-break, so the fused ordering
    * is fully deterministic. Output (doc_id, r_len, r_ttr, r_stop,
    * combined); zero-token docs are excluded (no rankable signal).
    */
  def qualityEnsemble(docs: DataFrame, topN: Int = 100): DataFrame = {
    require(topN >= 1)
    val stopList = EnsembleStopwords.map(s => s"'$s'").mkString(", ")
    val sig = docs
      .filter(col("text").isNotNull && col("doc_id").isNotNull)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        size(array_distinct(col("toks"))).cast("long").as("n_dist"),
        size(expr(s"filter(toks, x -> x IN ($stopList))"))
          .cast("long").as("n_stop"))
      .filter(col("n_tok") > 0)
      .withColumn("ttr", col("n_dist") / col("n_tok"))
      .withColumn("stop_ratio", col("n_stop") / col("n_tok"))
    // r19: the three signal ranks were CHAINED (r2 ranked r1's output,
    // r3 ranked r2's) purely to accumulate columns — each leg range-
    // exchanged and checkpointed the full widening frame, serially. The
    // signals are independent, so rank each over its own (doc_id,
    // metric) projection of the ONE materialized signal frame and join
    // the rank columns back on doc_id (same total orders, same rank
    // values). The legs are independent multi-action pipelines, so they
    // build as concurrent [[Legs]] (the q119 pattern; isolated A/B
    // there: 0.853 vs 0.993 s). The sig persist is materialized by a
    // bounded count() before the legs start so they race on nothing;
    // lifetime caller-owned.
    val sigP = sig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigP.count()
    def leg(metric: String, order: Seq[org.apache.spark.sql.Column],
        out: String) =
      Ranks.withGlobalRowNumber(
        sigP.select(col("doc_id"), col(metric)), order, out)
        .select(col("doc_id"), col(out))
    val Seq(rLen, rTtr, rStop) = Legs.run(sigP.sparkSession.sparkContext)(
      () => leg("n_tok", Seq(desc("n_tok"), asc("doc_id")), "r_len"),
      () => leg("ttr", Seq(desc("ttr"), asc("doc_id")), "r_ttr"),
      () => leg("stop_ratio", Seq(asc("stop_ratio"), asc("doc_id")), "r_stop"))
    sigP.select(col("doc_id"))
      .join(rLen, "doc_id")
      .join(rTtr, "doc_id")
      .join(rStop, "doc_id")
      .withColumn("combined",
        col("r_len") + col("r_ttr") + col("r_stop"))
      .orderBy(asc("combined"), asc("doc_id"))
      .limit(topN)
      .select("doc_id", "r_len", "r_ttr", "r_stop", "combined")
  }

  /** DuckDB oracle for [[qualityEnsemble]] — the same signals and
    * tie-breaks through plain window row_numbers (the oracle may be
    * naive; the Spark side must not be).
    */
  def qualityEnsembleOracleSql(topN: Int = 100): String = {
    val stopList = EnsembleStopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tok,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist,
       |    CAST(len(list_filter(toks,
       |      x -> list_contains([$stopList], x))) AS BIGINT) AS n_stop
       |  FROM (
       |    SELECT doc_id,
       |      list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |    FROM documents
       |    WHERE text IS NOT NULL AND doc_id IS NOT NULL)),
       |rated AS (
       |  SELECT doc_id, n_tok,
       |    n_dist / n_tok AS ttr, n_stop / n_tok AS stop_ratio
       |  FROM sig WHERE n_tok > 0),
       |ranked AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY n_tok DESC, doc_id) AS r_len,
       |    row_number() OVER (ORDER BY ttr DESC, doc_id) AS r_ttr,
       |    row_number() OVER (ORDER BY stop_ratio ASC, doc_id) AS r_stop
       |  FROM rated)
       |SELECT doc_id, r_len, r_ttr, r_stop,
       |  r_len + r_ttr + r_stop AS combined
       |FROM ranked ORDER BY combined, doc_id LIMIT $topN""".stripMargin
  }

  // -------------------------------------------------------------------
  // k-anonymity audit (q152): Sweeney's re-identification risk check —
  // a row whose quasi-identifier combination is shared by fewer than k
  // rows is linkable to an individual. The privacy family's audit
  // complement to q73's PII scrub and Stores.purgeEverywhere's erasure:
  // scrub values, forget ids, AND verify the published slices are not
  // re-identifiable.
  //
  // Shape, scale-first: EVERY quasi-identifier set is audited in ONE
  // aggregate pass via GROUPING SETS (a single Expand + hash aggregate
  // — the q18/q46 rollup discipline; auditors check many QI subsets,
  // and per-set scans would multiply the read). Output = only the
  // risky groups, a tiny fraction of the table.
  // -------------------------------------------------------------------

  /** Quasi-identifier groups smaller than `k` over customer, audited
    * for THREE QI sets in one pass: (nationkey, mktsegment), (nationkey),
    * (mktsegment). Output: (qi_set, c_nationkey, c_mktsegment,
    * group_size) for groups with 0 < size < k — nulls mark the column a
    * QI set aggregates away (the grouping-sets convention), qi_set
    * names the set.
    */
  def kAnonymityAudit(customer: DataFrame, k: Long = 25L): DataFrame = {
    require(k >= 2)
    // Dataset.groupingSets (Spark 4) expresses the multi-QI audit
    // directly on the frame — no session-global temp view (the r15
    // createOrReplaceTempView leaked the view and raced concurrent
    // audits in one session); grouping_id() names the set (bit = 1 for
    // a column the set aggregates away: 0 = both kept, 1 = segment
    // away, 2 = nation away)
    customer
      .groupingSets(
        Seq(
          Seq(col("c_nationkey"), col("c_mktsegment")),
          Seq(col("c_nationkey")),
          Seq(col("c_mktsegment"))),
        col("c_nationkey"), col("c_mktsegment"))
      .agg(grouping_id().as("__gid"), count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
      .select(
        when(col("__gid") === 0, "nation+segment")
          .when(col("__gid") === 1, "nation")
          .otherwise("segment").as("qi_set"),
        col("c_nationkey"), col("c_mktsegment"),
        col("group_size").cast("long").as("group_size"))
      .orderBy("qi_set", "c_nationkey", "c_mktsegment")
  }

  // -------------------------------------------------------------------
  // Functional-dependency audit (q154): does column A determine column
  // B? The data-profiling primitive (Metanome/HyFD's published problem)
  // a warehouse runs before trusting a join key or declaring a
  // dimension hierarchy — here as violation COUNTS, not just a boolean,
  // so near-FDs (data-entry noise) are visible.
  //
  // Shape, scale-first: each candidate FD is ONE (lhs)-keyed aggregate
  // counting distinct rhs per group (two-stage partial distinct — the
  // q111 discipline, no Expand), then a tiny summary fold; candidates
  // run as a union of |candidates| independent aggregates over column-
  // pruned scans (each reads its two columns only).
  // -------------------------------------------------------------------

  /** Violation summary for candidate FDs over the orders fact:
    * (fd, lhs_groups, violating_groups, max_rhs) — violating = lhs
    * groups with > 1 distinct rhs; max_rhs = the worst group's distinct
    * count; holds iff violating_groups = 0. Candidates: orderkey →
    * custkey (true FD: orderkey is the key), custkey → orderpriority
    * (false: customers order at many priorities), orderdate →
    * orderstatus (false).
    */
  def fdAudit(orders: DataFrame): DataFrame = {
    def check(name: String, lhs: String, rhs: String): DataFrame =
      orders
        .select(col(lhs), col(rhs))
        .groupBy(col(lhs))
        .agg(countDistinct(col(rhs)).as("nrhs"))
        .agg(
          count(lit(1)).as("lhs_groups"),
          count(when(col("nrhs") > 1, 1)).as("violating_groups"),
          max(col("nrhs")).as("max_rhs"))
        .select(lit(name).as("fd"), col("lhs_groups"),
          col("violating_groups"), col("max_rhs"))
    check("o_orderkey->o_custkey", "o_orderkey", "o_custkey")
      .unionByName(check("o_custkey->o_orderpriority",
        "o_custkey", "o_orderpriority"))
      .unionByName(check("o_orderdate->o_orderstatus",
        "o_orderdate", "o_orderstatus"))
      .orderBy("fd")
  }

  /** DuckDB oracle for [[fdAudit]] — same per-candidate aggregates. */
  def fdAuditOracleSql(): String = {
    def one(name: String, lhs: String, rhs: String): String =
      s"""SELECT '$name' AS fd,
         |  CAST(count(*) AS BIGINT) AS lhs_groups,
         |  CAST(count(*) FILTER (WHERE nrhs > 1) AS BIGINT)
         |    AS violating_groups,
         |  CAST(max(nrhs) AS BIGINT) AS max_rhs
         |FROM (
         |  SELECT $lhs, count(DISTINCT $rhs) AS nrhs
         |  FROM orders GROUP BY 1)""".stripMargin
    Seq(
      one("o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
      one("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"),
      one("o_orderdate->o_orderstatus", "o_orderdate", "o_orderstatus"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
  }

  /** DuckDB oracle for [[kAnonymityAudit]] — same sets, same labels.
    * (DuckDB's GROUPING() bit order matches Spark's grouping_id for
    * this two-column list.)
    */
  def kAnonymityOracleSql(k: Long = 25L): String =
    s"""SELECT
       |  CASE WHEN grouping(c_nationkey) = 0 AND grouping(c_mktsegment) = 0
       |         THEN 'nation+segment'
       |       WHEN grouping(c_mktsegment) = 1 AND grouping(c_nationkey) = 0
       |         THEN 'nation'
       |       ELSE 'segment' END AS qi_set,
       |  c_nationkey, c_mktsegment,
       |  CAST(count(*) AS BIGINT) AS group_size
       |FROM customer
       |GROUP BY GROUPING SETS (
       |  (c_nationkey, c_mktsegment), (c_nationkey), (c_mktsegment))
       |HAVING count(*) < $k
       |ORDER BY qi_set, c_nationkey NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin
}
