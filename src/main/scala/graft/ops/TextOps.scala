package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large document corpora: SimHash near-dup
  * detection, n-gram language identification, BPE-ish token counting, and
  * rolling-hash document fingerprinting. All are built-in-function
  * pipelines (no UDFs) whose constants are deterministic and reproducible
  * in DuckDB, so every operator ships with an exact oracle.
  */
object TextOps {

  /** First 8 hex digits of md5 as a 32-bit non-negative long — the
    * cross-engine token hash (same construction as [[NearDup]], one more
    * hex digit for 32 bits).
    */
  private def tokenHash32(tok: Column): Column =
    conv(substring(md5(tok.cast("binary")), 1, 8), 16, 10).cast("long")

  private val duckHex8 =
    "CAST(list_reduce(list_transform(range(1, 9), p -> instr('0123456789abcdef', substr(%s, p, 1)) - 1), (acc, v) -> acc * 16 + v) AS BIGINT)"

  // -------------------------------------------------------------------
  // SimHash (Charikar '02): B-bit fingerprint = per-bit majority vote of
  // token hashes; near-dup pairs share a fingerprint byte-band and have
  // hamming distance <= maxHamming.
  // -------------------------------------------------------------------

  /** SimHash bits. 32 keeps every shift inside the 32-bit token hash. */
  val SimHashBits = 32

  /** Bands for the candidate equi-join: 4 bytes of the fingerprint. Two
    * fingerprints within hamming distance 3 must agree on >= 1 of the 4
    * bytes (pigeonhole), so banding loses nothing at maxHamming <= 3.
    */
  val SimHashBands = 4

  /** (doc_id, fp) — one native map-side pass per document
    * ([[graft.functions.SimHash32]]; bit-identical to the explode + 32
    * conditional-sum aggregate it replaced, TextExprsSpec pins all three
    * forms against each other). Same spread discipline as
    * [[NearDup.signatures]]: without the old aggregate's exchange a
    * single-block scan would serialize the md5-per-token work AND the
    * persisted band frame downstream, so repartition(doc_id) first, at
    * an EXPLICIT cluster-width count (see the signatures comment: AQE
    * byte-coalescing would fold an expression-only repartition to 1).
    * Null-text docs are absent (the explode emitted no rows for them).
    */
  def simhash(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      // explicit width: expression-only repartition is AQE-coalesced back
      // to one partition at fingerprint scale (the r13 q97 finding) —
      // this map is CPU-bound, so cluster width, not bytes, sizes it
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.TextFunctions.simhash32(col("text")).as("fp"))

  /** Per-row (shuffle-free) SimHash of a text column — bit-identical to
    * [[simhash]] (same distinct whitespace tokens, same 32-bit md5 token
    * hash, same majority vote) but computed entirely inside the row.
    * This is the STREAMING form: the groupBy in [[simhash]] would be a
    * stateful aggregate inside a stream, and a query gets only one
    * stateful-operator chain — fingerprinting must be a map so the
    * downstream dedup state can own it
    * ([[graft.streaming.StreamingEtl.streamingNearDup]]). Null text →
    * null fingerprint (the batch form simply emits no row for such docs).
    * One native pass ([[graft.functions.SimHash32]]); it replaced 32
    * interpreted per-bit `aggregate()` folds over the token-hash array
    * (TextExprsSpec pins the parity).
    */
  def simhashColumn(textCol: Column): Column =
    graft.functions.TextFunctions.simhash32(textCol)

  /** Near-duplicate pairs by SimHash: byte-band equi-join for candidates,
    * hamming distance <= maxHamming verified on the 32-bit fingerprints
    * only — no token data crosses the wire after the fingerprint pass.
    * Output (doc_a, doc_b, hamming).
    *
    * `sliceMax`, `hotBandMax` and `pairBudget` follow
    * [[Lsh.candidatePairs]]'s slice/guard/preflight contract; a failed
    * preflight releases the fingerprint cache.
    */
  def simhashPairs(docs: DataFrame, sliceMax: Option[Long] = Some(100L),
      maxHamming: Int = 3, hotBandMax: Option[Long] = None,
      pairBudget: Option[Long] = Some(Lsh.DefaultPairBudget)): DataFrame = {
    val fp = simhash(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Lsh.candidatePairs(Lsh.bitBands(fp, "fp", SimHashBands, 8), Seq("band", "bv"),
        "doc_id", "doc_a", "doc_b", sliceMax, carried = Seq("fp"),
        hotCap = hotBandMax, pairBudget = pairBudget, owned = Seq(fp))
      .withColumn("hamming", expr("CAST(bit_count(fp_a ^ fp_b) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  def simhashOracleSql(sliceMax: Long = 100L, maxHamming: Int = 3): String = {
    val h8 = duckHex8.format("md5(tok)")
    val sums = (0 until SimHashBits)
      .map(j => s"sum(CASE WHEN (x >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n    ")
    val fpExpr = (0 until SimHashBits)
      .map(j => s"CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    val bandRows = (0 until SimHashBands)
      .map(b => s"SELECT doc_id, fp, $b AS band, (fp >> ${8 * b}) & 255 AS bv FROM fp")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents),
       |tx AS (SELECT doc_id, $h8 AS x FROM tok),
       |sums AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM tx GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fpExpr AS fp FROM sums),
       |banded AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |    a.fp AS fp_a, c.fp AS fp_b
       |  FROM banded a JOIN banded c ON a.band = c.band AND a.bv = c.bv
       |  WHERE a.doc_id < $sliceMax AND a.doc_id < c.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // Language identification: fixed character-bigram profiles scored by
  // occurrence counting — a deterministic n-gram heuristic (the labels in
  // the synthetic corpus are random, so the oracle tests the operator,
  // not label accuracy).
  // -------------------------------------------------------------------

  /** Toy public-knowledge bigram profiles, lexicographic language order. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("ch", "ei", "de", "un"),
    "en" -> Seq("th", "he", "an", "in"),
    "es" -> Seq("ll", "qu", "ci", "os"),
    "fr" -> Seq("ou", "le", "es", "on"),
    "zh" -> Seq("zh", "ng", "sh", "ia"))

  /** Occurrences of `pat` in `text`: (len - len(remove(pat))) / len(pat).
    * Literal `replace`, not regexp_replace: the pattern is a plain
    * bigram, and the literal UTF8String fast path skips the regex
    * engine's per-document compile/scan (matches the oracle's `replace`).
    */
  private def occurrences(text: Column, pat: String): Column =
    (length(text) - length(call_function("replace", text, lit(pat))))
      .cast("long") / lit(pat.length)

  /** (doc_id, lang, pred_lang, score): argmax of profile scores with
    * lexicographic tie-break (first matching language in profile order).
    */
  def langId(docs: DataFrame): DataFrame = {
    val scored = langProfiles.foldLeft(docs.select(col("doc_id"), col("lang"), col("text"))) {
      case (df, (lang, bigrams)) =>
        df.withColumn(s"s_$lang",
          bigrams.map(b => occurrences(col("text"), b)).reduce(_ + _).cast("long"))
    }
    val best = greatest(langProfiles.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = langProfiles.foldRight(lit(null).cast("string")) {
      case ((lang, _), elseCol) =>
        when(col(s"s_$lang") === best, lit(lang)).otherwise(elseCol)
    }
    // CASE chain evaluates in lexicographic order, but foldRight builds
    // nested otherwise()s — first match wins, so order de,en,es,fr,zh.
    scored
      .select(col("doc_id"), col("lang"), pred.as("pred_lang"), best.as("score"))
      .orderBy("doc_id")
  }

  def langIdOracleSql: String = {
    val scores = langProfiles.map { case (lang, bigrams) =>
      val terms = bigrams
        .map(b => s"(len(text) - len(replace(text, '$b', ''))) // ${b.length}")
        .mkString(" + ")
      s"CAST($terms AS BIGINT) AS s_$lang"
    }.mkString(",\n    ")
    val best = "greatest(" + langProfiles.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
    val pred = langProfiles
      .map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }
      .mkString("CASE ", " ", " END")
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    $scores
       |  FROM documents)
       |SELECT doc_id, lang, $pred AS pred_lang, $best AS score
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Token counting: whitespace tokens vs a BPE-ish regex segmentation
  // (letters / digits / punctuation runs — the GPT-2 pre-tokenizer's
  // coarse shape without unicode categories).
  // -------------------------------------------------------------------

  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"

  /** (doc_id, n_ws_tokens, n_bpeish_tokens, chars_per_token). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpeishPattern), lit(0))).cast("long")
        .as("n_bpeish_tokens"),
      round(
        length(col("text")).cast("double") /
          greatest(size(regexp_extract_all(col("text"), lit(BpeishPattern), lit(0))), lit(1)),
        4).as("chars_per_token"))
      .orderBy("doc_id")

  def tokenCountsOracleSql: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$BpeishPattern')) AS BIGINT) AS n_bpeish_tokens,
       |  round(CAST(len(text) AS DOUBLE)
       |    / greatest(len(regexp_extract_all(text, '$BpeishPattern')), 1), 4)
       |    AS chars_per_token
       |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Document fingerprinting: minimum rolling k-gram hash (winnowing's
  // selection step with a single global window, Schleimer/Wilkerson/
  // Aiken '03) — robust to token re-ordering outside the minimizing
  // window, cheap to compare.
  //
  // The window hash is a Rabin–Karp polynomial, h = Σ code(c_j)·B^(k-1-j)
  // mod P (B = 257, P = 2^31−1), over the document's codepoints. Exact
  // integer arithmetic (every term < 2^52, window sum < 2^55 — exact in
  // BIGINT on both engines), so ANY evaluation order gives the same
  // value mod P — which is what lets the Spark side run a native
  // single-pass expression ([[graft.functions.RollingMinFingerprint]])
  // while the DuckDB oracle keeps the flat-indexed list_transform form.
  // Formulation history (r6, kept for the record): positional
  // substring(text, i, 1) re-scans UTF-8 from the start (O(k·L²)/doc,
  // 5–6× slower than even an md5-per-window digest); a per-window
  // aggregate() fold pays k interpreted lambda dispatches per window;
  // the codepoint-array + try_element_at HOF form beat both, and the
  // native expression replaces it (r11) — one primitive loop, no
  // per-character lambda, no per-window dispatch.
  // -------------------------------------------------------------------

  /** Character window width of the rolling fingerprint. */
  val FingerprintK = 8

  /** Polynomial base and modulus of the window hash. */
  val FingerprintB = 257L
  val FingerprintP = 2147483647L

  /** B^(k-1-j) mod P for j = 0..k-1 — literals shared with the oracle. */
  private def fingerprintPows: IndexedSeq[Long] =
    (0 until FingerprintK).map { j =>
      var p = 1L
      (0 until (FingerprintK - 1 - j)).foreach(_ => p = p * FingerprintB % FingerprintP)
      p
    }

  /** (doc_id, fp, n_dups): fp = min over all k-char windows of the
    * polynomial window hash; n_dups = docs sharing the fingerprint.
    * The fingerprint is one native map-side pass per doc
    * ([[graft.functions.RollingMinFingerprint]]); no shuffle until the
    * count.
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.rollingFingerprint(
          col("text"), FingerprintK, FingerprintB, FingerprintP).as("fp"))
      .withColumn("n_dups",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .select(col("doc_id"), col("fp"), col("n_dups").cast("long").as("n_dups"))
      .orderBy("doc_id")

  def fingerprintsOracleSql: String = {
    val k = FingerprintK
    val terms = fingerprintPows.zipWithIndex.map { case (pw, j) =>
      s"coalesce(codes[CAST(i AS INT) + $j], 0) * $pw"
    }.mkString(" + ")
    s"""WITH codes AS (
       |  SELECT doc_id,
       |    list_transform(string_split(text, ''),
       |      c -> greatest(CAST(unicode(c) AS BIGINT), 0)) AS codes
       |  FROM documents),
       |fp AS (
       |  SELECT doc_id,
       |    list_min(list_transform(range(1, greatest(len(codes) - ${k - 1}, 1) + 1),
       |      i -> ($terms) % $FingerprintP)) AS fp
       |  FROM codes)
       |SELECT doc_id, fp,
       |  CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_dups
       |FROM fp ORDER BY doc_id""".stripMargin
  }

  /** Within-document repeated-span detection — the intra-document dedup
    * granularity (repeated boilerplate: headers, footers, templated
    * passages) that corpus-level near-dup (q25/q30/q35) cannot see,
    * because it compares whole documents. A "span" is a `w`-token
    * window; a span occurring more than once INSIDE the same document is
    * reported with its occurrence count.
    *
    * Shape, scale-first: span generation is a pure map (split once,
    * slide a window over the token array via `transform` over an index
    * `sequence` — all codegen'd higher-order functions, no UDF, no
    * join), then ONE aggregation keyed (doc_id, span). The key includes
    * doc_id, so the shuffle spreads by document — a span that is
    * globally common (classic boilerplate) does NOT hot-key the
    * aggregate the way a global span count would. Spans are w tokens of
    * text on the wire; at 100 TB swap the span string for a 64-bit hash
    * in the shuffle key and re-attach text only for the reported
    * repeats (the q20 digest-not-text discipline); kept as text here
    * because the span IS the output.
    */
  def repeatedSpans(docs: DataFrame, w: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      // sequence(a, b) DESCENDS when b < a — a short doc would generate
      // negative starts instead of zero spans, so gate on width first
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(t) - ${w - 1}), i -> concat_ws(' ', slice(t, i, $w)))"))
        .as("span"))
      .groupBy("doc_id", "span")
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
      .orderBy("doc_id", "span")

  /** DuckDB oracle replicating [[repeatedSpans]]: identical split,
    * 1-based window starts, inclusive list slice of `w` tokens.
    */
  def repeatedSpansOracleSql(w: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    array_to_string(t[CAST(i AS BIGINT):CAST(i + ${w - 1} AS BIGINT)], ' ') AS span
       |  FROM toks, unnest(range(1, len(t) - ${w - 2})) AS r(i)
       |  WHERE len(t) >= $w)
       |SELECT doc_id, span, CAST(count(*) AS BIGINT) AS n_occ
       |FROM grams GROUP BY 1, 2 HAVING count(*) > 1
       |ORDER BY doc_id, span""".stripMargin

  /** Cross-document exact substring dedup — the Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better")
    * granularity between exact whole-doc dedup (q20/q66) and whole-doc
    * near-dup (q25/q30/q35): the SAME `w`-token span repeated across
    * DIFFERENT documents, with a keep-earliest policy. The span's owner
    * is the minimum doc_id containing it; every occurrence in any later
    * doc is emitted as a removal span (doc_id, pos, span, owner_id) —
    * the per-doc cut list a boilerplate-stripping pass consumes.
    *
    * Shape, scale-first: span generation is the [[repeatedSpans]] map
    * (split once, slide a window via codegen'd HOFs, posexplode keeps
    * the 1-based token position). Ownership needs a GLOBAL span key —
    * unlike q69/q74's doc_id-in-key discipline — and that is safe here
    * because both global steps are skew-tolerant: the owner aggregate
    * is min/max with MAP-SIDE partials (a span in a million docs
    * contributes ≤ 1 partial row per map partition, never a hot
    * reducer), and the join back is a shuffle equi-join, which AQE can
    * skew-split per partition — the reason this is a groupBy + join and
    * NOT a `min over (partition by span)` window, whose hot-span
    * partition would be a single unsplittable task. A span appears in
    * ≥ 2 docs iff min(doc_id) < max(doc_id), so ownership is ONE
    * single-phase aggregate (no count-distinct expansion). Spans ride
    * the wire as text because the span IS the output; at 100 TB swap a
    * 64-bit span digest into the shuffle/join key and re-attach text to
    * the reported removals only (the q20 digest-not-text discipline).
    */
  def crossDocRemovalSpans(docs: DataFrame, w: Int = 3): DataFrame =
    removalSpansCore(docs, w).orderBy("doc_id", "pos")

  /** [[crossDocRemovalSpans]] without the output sort — the composable
    * form [[stripRemovalSpans]] consumes (a mid-pipeline global sort
    * would be a pure-overhead range exchange).
    */
  private def removalSpansCore(docs: DataFrame, w: Int): DataFrame = {
    // Spread.widen (r18): the w-gram expansion (a span string per token
    // position) pipelines onto this frame's layout, and a small corpus
    // is one scan split — q84/q88 profiles showed the gram map as 1-task
    // ~1 s stages; no-op once the scan itself is wide.
    val grams = Spread.widen(
      docs.select(col("doc_id"), split(col("text"), " ").as("t")),
      col("doc_id"))
      // sequence(a, b) DESCENDS when b < a (same guard as repeatedSpans)
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(t) - ${w - 1}), i -> concat_ws(' ', slice(t, i, $w)))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("span"))
    val owners = grams
      .groupBy("span")
      .agg(min("doc_id").as("owner_id"), max("doc_id").as("max_id"))
      .filter(col("owner_id") < col("max_id"))
      .select(col("span"), col("owner_id"))
    grams
      .join(owners, Seq("span"))
      .filter(col("doc_id") =!= col("owner_id"))
      .select(col("doc_id"), col("pos"), col("span"), col("owner_id"))
  }

  /** DuckDB oracle replicating [[crossDocRemovalSpans]]: identical
    * split, 1-based window starts, min/max ownership, same join-back.
    */
  def crossDocRemovalSpansOracleSql(w: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    array_to_string(t[CAST(i AS BIGINT):CAST(i + ${w - 1} AS BIGINT)], ' ') AS span
       |  FROM toks, unnest(range(1, len(t) - ${w - 2})) AS r(i)
       |  WHERE len(t) >= $w),
       |own AS (
       |  SELECT span, min(doc_id) AS owner_id, max(doc_id) AS max_id
       |  FROM grams GROUP BY 1)
       |SELECT g.doc_id, g.pos, g.span, o.owner_id
       |FROM grams g JOIN own o ON g.span = o.span
       |WHERE o.owner_id < o.max_id AND g.doc_id <> o.owner_id
       |ORDER BY doc_id, pos""".stripMargin

  /** Apply [[crossDocRemovalSpans]]' cut list: emit every document with
    * the tokens covered by any removal span CUT OUT — the boilerplate-
    * stripped corpus a crawl pipeline actually trains on (the action to
    * q84's analysis, as q66's keep list is to q20's digests). A removal
    * span at position p covers token indices p..p+w-1; overlapping spans
    * union naturally through the distinct covered-index set.
    *
    * Output (doc_id, n_tokens, n_removed, clean_text) for EVERY doc:
    * n_removed = covered token count, clean_text = surviving tokens
    * re-joined in order (docs with nothing removed pass through whole;
    * a fully-boilerplate doc yields '').
    *
    * Shape: the cut list is q84's plan; covered indices explode w rows
    * per removal (bounded by w × removals, not corpus size) and dedup on
    * (doc_id, idx) — doc_id in the key, so the q74 discipline holds. The
    * token stream anti-joins the covered set on (doc_id, idx) — doc_id
    * in the join key spreads boilerplate-heavy docs' lookups — and
    * reassembly is one (doc_id)-keyed aggregate ordering by idx inside
    * the row (array_sort over (idx, tok) structs, codegen'd), NOT a
    * global sort. Three doc_id-spread exchanges + q84's two; text rides
    * the wire only as tokens of the docs being rebuilt.
    */
  def stripRemovalSpans(docs: DataFrame, w: Int = 3): DataFrame = {
    val covered = removalSpansCore(docs, w)
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${w - 1})")).as("idx"))
      .distinct()
    val toks = Spread.widen(
      docs.select(col("doc_id"), split(col("text"), " ").as("t")), col("doc_id"))
      .select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("idx"), col("col").as("tok"))
    val rebuilt = toks
      .join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          expr("transform(array_sort(collect_list(struct(idx, tok))), x -> x.tok)"),
          " ").as("clean_text"))
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle replicating [[stripRemovalSpans]]. */
  def stripRemovalSpansOracleSql(w: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    array_to_string(t[CAST(i AS BIGINT):CAST(i + ${w - 1} AS BIGINT)], ' ') AS span
       |  FROM toks, unnest(range(1, len(t) - ${w - 2})) AS r(i)
       |  WHERE len(t) >= $w),
       |own AS (
       |  SELECT span, min(doc_id) AS owner_id, max(doc_id) AS max_id
       |  FROM grams GROUP BY 1),
       |rem AS (
       |  SELECT g.doc_id, g.pos
       |  FROM grams g JOIN own o ON g.span = o.span
       |  WHERE o.owner_id < o.max_id AND g.doc_id <> o.owner_id),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos + CAST(k AS BIGINT) AS idx
       |  FROM rem, unnest(range(0, $w)) AS u(k)),
       |tk AS (
       |  SELECT doc_id, CAST(generate_subscripts(t, 1) AS BIGINT) AS idx,
       |    unnest(t) AS tok
       |  FROM toks),
       |surv AS (
       |  SELECT tk.doc_id, tk.idx, tk.tok
       |  FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.idx = cov.idx
       |  WHERE cov.idx IS NULL),
       |reb AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY idx) AS clean_text
       |  FROM surv GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT)
       |    - COALESCE(reb.n_kept, 0) AS n_removed,
       |  COALESCE(reb.clean_text, '') AS clean_text
       |FROM documents d LEFT JOIN reb USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Exact top-k words via a Misra–Gries candidate sketch + exact
    * recount — the at-scale form of q21's full-vocabulary aggregate.
    *
    * Two passes, both cheap:
    *   1. ONE sketch aggregation ([[graft.functions.MisraGriesAgg]]):
    *      O(capacity) state per partition partial, a few KB over the
    *      shuffle, merged to ≤ `capacity` candidate terms. Every term
    *      with true frequency > N/(capacity+1) is guaranteed to survive
    *      regardless of partitioning (mergeable-summaries bound), so
    *      with capacity sized above N/f_k the true top-k are all
    *      candidates.
    *   2. Exact recount of ONLY the candidates: a codegen'd IN-set
    *      filter (map-side, prunes the tail vocabulary before any
    *      shuffle) + a hash aggregate over ≤ `capacity` keys.
    *
    * Contrast at 100 TB: q21's direct groupBy shuffles one partial row
    * per DISTINCT word per partition — a web-scale vocabulary (100 M+
    * terms) makes that the dominant shuffle. Here the shuffle carries at
    * most `capacity` keys per partition, independent of vocabulary size.
    *
    * The answer is EXACT unconditionally (same oracle as q21): the
    * operator CHECKS the guarantee — a non-candidate's true count is
    * ≤ N/(capacity+1), so if the k-th recounted candidate count exceeds
    * that bound the recount is provably the exact top-k — and falls back
    * to the direct full-vocabulary aggregate when the corpus is too flat
    * for the configured capacity. The sketch is the fast path, never a
    * silent approximation (TopKSketchSpec pins both paths).
    */
  def topKWordsSketched(docs: DataFrame, k: Int = 20, capacity: Int = 512): DataFrame = {
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
    def direct: DataFrame = words
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word"))
      .limit(k)
    // one pass: the candidate sketch AND the total word count N the
    // guarantee threshold needs
    val row = words
      .agg(
        graft.functions.HeavyHitters.misraGries(col("word"), capacity).as("s"),
        count(lit(1)).as("n"))
      .collect()(0)
    val sketch = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    val total = row.getLong(1)
    val recount = words
      .filter(col("word").isin(sketch.toIndexedSeq: _*))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word"))
      .limit(k)
    // exactness guard: a non-candidate's true count is <= N/(capacity+1),
    // so if the k-th RECOUNTED candidate count clears that bound, every
    // word that could rank in the top-k is a candidate and the recount IS
    // the exact top-k. When the bound fails (capacity too small for this
    // skew), fall back to the direct full-vocabulary aggregate: the
    // operator is exact ALWAYS, the sketch is only the fast path.
    val topk = recount.collect()
    val threshold = total / (capacity + 1L)
    val spark = docs.sparkSession
    import spark.implicits._
    if (topk.length == k && topk.last.getLong(1) > threshold) {
      // the guard already holds the verified answer (k tiny rows) — wrap
      // THOSE as a local relation instead of returning the lazy recount
      // plan, whose re-execution at the caller's action would re-scan
      // the corpus and recount a second time
      topk.toIndexedSeq.map(r => (r.getString(0), r.getLong(1))).toDF("word", "cnt")
    } else
      // guard failed (capacity too small for this skew): run the exact
      // full-vocabulary aggregate NOW and return ITS k rows as a local
      // relation too — the fallback costs one visible aggregate job
      // here, never a surprise corpus re-scan at the caller's action;
      // cost is predictable on both paths (r12 verdict stretch item)
      direct.collect().toIndexedSeq
        .map(r => (r.getString(0), r.getLong(1))).toDF("word", "cnt")
  }

  /** Corpus-derived subword merge vocabulary: the `vocabSize` most
    * frequent character n-grams (2..6 codepoints) across all whitespace
    * word instances, ties broken lexicographically — a deterministic
    * stand-in for a trained BPE merge table (the merges a real BPE
    * learns are exactly high-frequency character n-grams; freezing the
    * table keeps segmentation oracle-replayable). ONE gram aggregate
    * with map-side partials + a bounded top-V collect (the
    * centroid-literal pattern, like [[graft.ops.AnnIvf.initCentroids]]):
    * at 100 TB the gram key space is corpus-vocabulary-bounded and the
    * driver only ever sees `vocabSize` rows.
    */
  def subwordVocab(docs: DataFrame, vocabSize: Int = 256): Seq[String] = {
    // Spread.widen (r18): the 2..6-gram expansion (every substring of
    // every word) is the vocabulary build's CPU and pipelines onto the
    // scan layout — one split on a small corpus, measured as q99's
    // single 2.0 s task; no-op once the scan is wide
    val words = Spread.widen(
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")), col("doc_id"))
      .select(explode(split(col("text"), " ")).as("w"))
    val grams = words.select(explode(flatten(transform(
      sequence(lit(2), lit(6)),
      l => when(length(col("w")) >= l,
        transform(sequence(lit(1), length(col("w")) - l + 1),
          p => col("w").substr(p, l)))
        .otherwise(array().cast("array<string>"))))).as("g"))
    grams.groupBy("g").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("g").asc)
      .limit(vocabSize)
      .select("g").collect().map(_.getString(0)).toIndexedSeq
  }

  /** q99: per-doc subword token count — greedy longest-match against the
    * [[subwordVocab]] merge table via the native codegen'd
    * [[graft.functions.BpeTokenCount]] expression. This is the
    * tokenizer-denominated companion to q32's whitespace count: token
    * budgets (q79/q87) are spent in TOKENIZER tokens in a real training
    * pipeline, and the two denominators select materially different
    * documents (A/B spec-pinned in TextOpsSpec). Null text -> null;
    * empty text -> 0.
    *
    * Scale shape: vocabulary build is one aggregate + bounded collect;
    * counting is a pure per-row map with the vocab shipped as a plan
    * literal — no join, no shuffle in the count path.
    */
  def subwordTokenCounts(docs: DataFrame, vocabSize: Int = 256): DataFrame = {
    val vocab = subwordVocab(docs, vocabSize)
    docs.select(
      col("doc_id"),
      graft.functions.TextFunctions.bpeTokenCount(col("text"), vocab)
        .as("n_subword"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[subwordTokenCounts]]: the same vocabulary CTE
    * (gram counts, count-desc/gram-asc top-V) and a recursive
    * greedy-longest-match segmentation per DISTINCT word (step = max
    * matching gram length, else 1), summed back over word instances.
    */
  def subwordOracleSql(vocabSize: Int = 256): String =
    s"""WITH RECURSIVE words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |wl AS (SELECT w, unnest(generate_series(2, 6)) AS L FROM words),
       |wp AS (SELECT w, L, unnest(generate_series(1, len(w) - L + 1)) AS p FROM wl),
       |grams AS (SELECT substr(w, p, L) AS g, count(*) AS c FROM wp GROUP BY 1),
       |vocab AS (SELECT g FROM grams ORDER BY c DESC, g ASC LIMIT $vocabSize),
       |dw AS (SELECT DISTINCT w FROM words WHERE len(w) > 0),
       |r AS (
       |  SELECT w, 1 AS pos, 0 AS cnt FROM dw
       |  UNION ALL
       |  SELECT w, pos + step, cnt + 1 FROM (
       |    SELECT r.w, r.pos, r.cnt,
       |      coalesce((SELECT max(len(v.g)) FROM vocab v
       |                WHERE substr(r.w, r.pos, len(v.g)) = v.g), 1) AS step
       |    FROM r WHERE r.pos <= len(r.w)) s),
       |wc AS (SELECT w, max(cnt) AS n FROM r GROUP BY 1),
       |docn AS (
       |  SELECT wo.doc_id AS doc_id,
       |    CAST(sum(CASE WHEN len(wo.w) = 0 THEN 0 ELSE wc.n END) AS BIGINT)
       |      AS n_subword
       |  FROM words wo LEFT JOIN wc ON wc.w = wo.w GROUP BY 1)
       |SELECT d.doc_id, docn.n_subword
       |FROM documents d LEFT JOIN docn ON docn.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Context-window chunking (q101) — long-document splitting for
  // training/RAG: fixed-size token windows with overlap, the standard
  // sliding-window preparation for context-length-bounded models.
  // -------------------------------------------------------------------

  /** Split each document into `chunkTokens`-token windows advancing by
    * `chunkTokens - overlap` (so consecutive chunks share `overlap`
    * tokens); the final window keeps whatever remains (shorter, never
    * empty). Chunk count: 1 if n ≤ chunkTokens, else
    * 1 + ceil((n - chunkTokens) / stride) — integer arithmetic only, so
    * the oracle replays it bit-for-bit.
    *
    * Shape, scale-first: tokenize once per row, explode a
    * `sequence(0, n_chunks-1)` of window indices, slice the token array
    * per index — a pure codegen'd map + explode, NO shuffle anywhere in
    * the chunking itself (the trailing orderBy is the determinism sort
    * every catalog query carries; a production writer would drop it and
    * partition the output by doc_id ranges). Output rows ≈ input tokens
    * / stride — linear in corpus size by construction, and chunking
    * never moves a document's text across the network: every chunk is
    * born in its parent row's partition.
    */
  def chunkWindows(docs: DataFrame, chunkTokens: Int = 32, overlap: Int = 8): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunkTokens=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_chunks",
        when(size(col("toks")) <= chunkTokens, lit(1))
          .otherwise(expr(
            s"1 + (size(toks) - $chunkTokens + ${stride - 1}) div $stride").cast("int")))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        slice(col("toks"), col("chunk_id") * stride + 1, lit(chunkTokens)).as("ctoks"))
      .select(
        col("doc_id"),
        col("chunk_id"),
        size(col("ctoks")).cast("long").as("chunk_tokens"),
        array_join(col("ctoks"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** DuckDB oracle for [[chunkWindows]]: same integer chunk-count
    * formula, 1-based inclusive list slices.
    */
  def chunkWindowsOracleSql(chunkTokens: Int = 32, overlap: Int = 8): String = {
    val st = chunkTokens - overlap
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |nc AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) <= $chunkTokens THEN 1
       |         ELSE 1 + (len(toks) - $chunkTokens + ${st - 1}) // $st END AS n_chunks
       |  FROM tk),
       |ch AS (
       |  SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM nc)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(len(toks[chunk_id * $st + 1 : chunk_id * $st + $chunkTokens]) AS BIGINT)
       |    AS chunk_tokens,
       |  array_to_string(toks[chunk_id * $st + 1 : chunk_id * $st + $chunkTokens], ' ')
       |    AS chunk_text
       |FROM ch ORDER BY doc_id, chunk_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Per-group heavy hitters (q112) — q83's bounded-shuffle exact top-k
  // words, stratified: top-k PER LANGUAGE. The sketch aggregate is
  // mergeable per group (one O(capacity) partial per (task, lang)), so
  // the grouped form costs ONE aggregate whose output is bounded by
  // |langs| × capacity — never a full per-lang vocabulary shuffle. The
  // recount joins the corpus against the BROADCAST (lang, candidate)
  // pairs and re-counts exactly; a per-lang guarantee check (kth count
  // > n_lang/(capacity+1)) proves exactness, and any lang that fails
  // the bound falls back to its exact full-vocabulary aggregate — the
  // operator is exact ALWAYS, the sketch is only the fast path.
  // -------------------------------------------------------------------

  /** Exact top-`k` words per language at bounded shuffle. Output:
    * (lang, word, cnt, rnk), rnk ≤ k per lang.
    */
  def topKWordsPerGroup(docs: DataFrame, k: Int = 10, capacity: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .filter(col("lang").isNotNull && col("text").isNotNull)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))

    // ONE grouped sketch pass: |langs| rows of ≤ capacity candidates + n
    val sketchRows = words
      .groupBy(col("lang"))
      .agg(
        graft.functions.HeavyHitters.misraGries(col("word"), capacity).as("s"),
        count(lit(1)).as("n"))
      .collect()
    val candidates = sketchRows.toIndexedSeq.flatMap { r =>
      val lang = r.getString(0)
      r.getSeq[org.apache.spark.sql.Row](1).map(s => (lang, s.getString(0)))
    }
    val totals = sketchRows.map(r => r.getString(0) -> r.getLong(2)).toMap
    if (candidates.isEmpty)
      return Seq.empty[(String, String, Long, Long)]
        .toDF("lang", "word", "cnt", "rnk")

    val w = Window.partitionBy(col("lang")).orderBy(desc("cnt"), asc("word"))
    val recount = words
      .join(broadcast(candidates.toDF("lang", "word")), Seq("lang", "word"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .collect()

    // per-lang exactness guard (q83's, per stratum): the recount is
    // proven exact iff it produced k rows whose k-th count clears the
    // MG bound (a non-candidate's true count is ≤ n_lang/(capacity+1)).
    // A lang with FEWER than k recounted rows is NOT automatically
    // exact (MG decrements can evict mid-weight words), so it falls
    // back too.
    val byLang = recount.groupBy(_.getString(0))
    val failed = totals.keys.filter { lang =>
      val rows = byLang.getOrElse(lang, Array.empty)
      val bound = totals(lang) / (capacity + 1L)
      !(rows.length == k && rows.map(_.getLong(2)).min > bound)
    }.toSeq.sorted
    val exactRows: Seq[(String, String, Long, Long)] =
      if (failed.isEmpty) Seq.empty
      else words
        .filter(col("lang").isin(failed.map(x => x: Any): _*))
        .groupBy(col("lang"), col("word"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .collect().toIndexedSeq
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))

    val keep = recount.toIndexedSeq
      .filter(r => !failed.contains(r.getString(0)))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    (keep ++ exactRows)
      .toDF("lang", "word", "cnt", "rnk")
      .orderBy("lang", "rnk")
  }

  /** DuckDB oracle for [[topKWordsPerGroup]]: the exact per-lang top-k. */
  def topKWordsPerGroupOracleSql(k: Int = 10): String =
    s"""WITH w AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS word
       |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
       |c AS (
       |  SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM w GROUP BY 1, 2)
       |SELECT lang, word, cnt, rnk FROM (
       |  SELECT lang, word, cnt,
       |    CAST(row_number() OVER (
       |      PARTITION BY lang ORDER BY cnt DESC, word) AS BIGINT) AS rnk
       |  FROM c) WHERE rnk <= $k
       |ORDER BY lang, rnk""".stripMargin

  // -------------------------------------------------------------------
  // TF-IDF keyword extraction (q114) — top-k terms per document by
  // tf·idf: the per-document summary a curation UI shows, the feature
  // vector a lightweight classifier starts from, and the complement to
  // BM25's per-query scoring (idf over the SAME corpus statistics).
  //
  // Shape, scale-first:
  //   - tf: ONE (doc_id, tok)-keyed count — doc_id in the key, hot
  //     terms cannot hot-key a reducer (the q74 discipline).
  //   - df: ONE tok-keyed count over distinct (doc, tok) — output is
  //     vocabulary-sized, map-side partials absorb hot terms.
  //   - idf joins back on tok. Hot terms DO fan out here (every doc
  //     containing "the" carries its row) — but the join is an
  //     AQE-skew-splittable equi-join of two slim frames (no text),
  //     and idf is quantized to an integer BEFORE the join so the
  //     per-row score tf·idf_q is an EXACT long product (q90: no
  //     float crosses a shuffle, both engines agree to the last bit).
  //   - per-doc top-k: (doc_id)-windowed rank — bounded by the doc's
  //     own vocabulary.
  // -------------------------------------------------------------------

  /** Top-`k` terms per document by tf·idf. idf = ln(1 + N/df) over
    * exact integers, quantized ×10⁶ to a long; score_q = tf · idf_q
    * (exact). Output: (doc_id, tok, score_q, rnk).
    */
  def tfidfKeywords(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(
        expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val n = docs.filter(col("text").isNotNull)
      .agg(count(lit(1)).as("n_docs"))
    val dfreq = tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .select(col("tok"),
        floor(log(lit(1.0) + col("n_docs").cast("double") / col("df"))
          * 1000000.0).cast("long").as("idf_q"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("score_q"), asc("tok"))
    tf.join(dfreq, "tok")
      .select(col("doc_id"), col("tok"),
        (col("tf") * col("idf_q")).as("score_q"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("doc_id", "rnk")
  }

  /** DuckDB oracle for [[tfidfKeywords]]. */
  def tfidfKeywordsOracleSql(k: Int = 5): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |tf AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY 1, 2),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
       |  WHERE text IS NOT NULL),
       |dfreq AS (
       |  SELECT tok,
       |    CAST(floor(ln(1.0 + (SELECT n_docs FROM n) / CAST(count(*) AS DOUBLE))
       |      * 1000000.0) AS BIGINT) AS idf_q
       |  FROM tf GROUP BY tok)
       |SELECT doc_id, tok, score_q, rnk FROM (
       |  SELECT t.doc_id, t.tok, t.tf * d.idf_q AS score_q,
       |    CAST(row_number() OVER (
       |      PARTITION BY t.doc_id
       |      ORDER BY t.tf * d.idf_q DESC, t.tok) AS BIGINT) AS rnk
       |  FROM tf t JOIN dfreq d USING (tok))
       |WHERE rnk <= $k
       |ORDER BY doc_id, rnk""".stripMargin

  // -------------------------------------------------------------------
  // Token co-occurrence (q121) — top-k token PAIRS by document
  // co-occurrence count: the pairwise frequent-itemset / PMI-numerator
  // query behind "what terms travel together" (topic discovery,
  // collocation mining, basket analysis when pointed at transactions).
  //
  // Shape, scale-first: pair generation is IN-ROW (sorted distinct
  // tokens capped at `maxTokens`, nested-sequence HOFs — ≤ L(L−1)/2
  // pairs per doc, born in the doc's partition), then ONE pair-keyed
  // count with map-side partials and a TakeOrdered top-k. The cap is
  // the hot-doc guard: an unbounded doc would mint |doc|² pairs — the
  // classic itemset blowup — so the contract is "pairs among each
  // doc's first maxTokens distinct tokens (lexicographic)", stated
  // rather than silent.
  //
  // Complement to q60's prune-then-self-join: q60 bounds the blowup by
  // GLOBAL vocabulary (top-50 df tokens — right when docs are long and
  // only head-vocab pairs matter), this bounds it PER DOC with no join
  // at all (right when docs are short — transactions, titles, baskets —
  // and the tail vocabulary matters). Same analysis, the two plan
  // shapes a warehouse actually chooses between.
  // -------------------------------------------------------------------

  /** Top-`k` co-occurring token pairs (a < b lexicographically, both
    * among the doc's first `maxTokens` sorted distinct tokens). Output:
    * (tok_a, tok_b, cnt, rnk).
    */
  def cooccurrenceTopK(docs: DataFrame, k: Int = 20, maxTokens: Int = 64): DataFrame = {
    val pairs = docs
      .filter(col("text").isNotNull)
      .select(slice(array_sort(array_distinct(
        expr("filter(split(text, ' '), x -> x <> '')"))), 1, maxTokens).as("t"))
      .select(explode(expr(
        """flatten(transform(sequence(1, size(t) - 1),
          |  i -> transform(sequence(i + 1, size(t)),
          |    j -> struct(t[i - 1] AS a, t[j - 1] AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
    pairs
      .groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("tok_a"), asc("tok_b"))
      .limit(k)
      // unpartitioned window — DELIBERATE and bounded: its input is the
      // post-limit frame, ≤ k rows by construction (TakeOrderedAndProject
      // upstream), so "all data to a single partition" is k rows, not the
      // corpus. The WindowExec runtime warning is expected here; the
      // corpus-scale work (pair Generate + keyed count) is all upstream.
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("cnt"), asc("tok_a"), asc("tok_b"))).cast("long"))
  }

  /** DuckDB oracle for [[cooccurrenceTopK]]. */
  def cooccurrenceTopKOracleSql(k: Int = 20, maxTokens: Int = 64): String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_sort(list_distinct(
       |      list_filter(string_split(text, ' '), x -> x <> '')))[:$maxTokens] AS t
       |  FROM documents WHERE text IS NOT NULL),
       |ex AS (SELECT doc_id, unnest(t) AS x FROM toks),
       |pairs AS (
       |  SELECT a.x AS tok_a, b.x AS tok_b
       |  FROM ex a JOIN ex b ON a.doc_id = b.doc_id AND a.x < b.x),
       |counted AS (
       |  SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS cnt
       |  FROM pairs GROUP BY 1, 2)
       |SELECT tok_a, tok_b, cnt,
       |  CAST(row_number() OVER (ORDER BY cnt DESC, tok_a, tok_b) AS BIGINT) AS rnk
       |FROM counted
       |ORDER BY cnt DESC, tok_a, tok_b LIMIT $k""".stripMargin

  // -------------------------------------------------------------------
  // Exact phrase search (q108) — positional token-level phrase match,
  // the retrieval companion to BM25's term scoring (ops/Retrieval):
  // "which documents contain this exact token sequence, and where".
  // Contamination forensics and attribution checks run this shape
  // (find the eval sentence / the quoted passage) over the whole
  // corpus.
  //
  // Shape, scale-first: the q84 span machinery pointed at ONE literal —
  // slide a |phrase|-token window per row (codegen'd HOFs: sequence +
  // transform + slice), keep windows equal to the phrase. A pure map +
  // in-row filter: ZERO joins, ZERO aggregates, ZERO shuffles before
  // the output sort — phrase search at scan speed, embarrassingly
  // parallel at 100 TB. (An inverted positional index would trade this
  // scan for index lookups; against parquet the scan IS the index
  // budget, and column pruning reads only doc_id + text.)
  // -------------------------------------------------------------------

  /** All (doc_id, pos) occurrences of the exact token sequence
    * `phrase` (1-based token position of the match start). Phrase
    * tokens must be plain vocabulary tokens (no SQL quoting).
    */
  def phrasePositions(
      docs: DataFrame,
      phrase: Seq[String] = Seq("hash", "join")): DataFrame = {
    require(phrase.nonEmpty && phrase.forall(t => t.nonEmpty && !t.contains("'")))
    val w = phrase.length
    val lit = phrase.mkString(" ")
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), explode(expr(
        s"""filter(sequence(1, size(t) - ${w - 1}),
           |  i -> concat_ws(' ', slice(t, i, $w)) = '$lit')""".stripMargin))
        .as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
      .orderBy("doc_id", "pos")
  }

  /** DuckDB oracle replicating [[phrasePositions]]: identical split,
    * 1-based inclusive slices.
    */
  def phrasePositionsOracleSql(phrase: Seq[String] = Seq("hash", "join")): String = {
    val w = phrase.length
    val lit = phrase.mkString(" ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE text IS NOT NULL)
       |SELECT doc_id, CAST(i AS BIGINT) AS pos
       |FROM toks, unnest(range(1, len(t) - ${w - 2})) AS r(i)
       |WHERE len(t) >= $w
       |  AND array_to_string(t[CAST(i AS BIGINT):CAST(i + ${w - 1} AS BIGINT)], ' ') = '$lit'
       |ORDER BY doc_id, pos""".stripMargin
  }

  // -------------------------------------------------------------------
  // BPE merge training (q145): byte-pair-encoding tokenizer training as
  // published (Sennrich, Haddow & Birch, ACL 2016) — iteratively count
  // adjacent symbol pairs over the corpus and merge the most frequent.
  // The q99 subword counter CONSUMES a proxy vocabulary; this is the
  // operator that LEARNS real merge ranks — and the BPE APPLY section
  // below ([[bpeEncodeWords]], q163) tokenizes WITH them, closing the
  // train-once/apply-everywhere loop ([[TokenizerStore]] persists it).
  //
  // Shape, scale-first (the standard distributed formulation): pair
  // counting runs over the DISTINCT-WORD table weighted by word
  // frequency — the corpus is scanned ONCE to build (word, freq), and
  // every merge iteration touches only distinct words (orders of
  // magnitude smaller; Zipf makes the ratio grow with corpus size).
  // Each iteration = one codegen'd per-row pair expansion + one
  // (a, b)-keyed aggregate with map-side partials + a 1-ROW argmax
  // collect (TakeOrderedAndProject — the only driver traffic), then a
  // per-row greedy fold applying the merge (higher-order aggregate(),
  // no UDF). State between iterations is checkpointed (dir-aware
  // reliable form) so lineage stays O(1) per iteration.
  // -------------------------------------------------------------------

  /** Adjacent symbol-pair counts of the CURRENT symbolization, weighted
    * by word frequency — iteration one of BPE training (symbols =
    * single characters). Output: (pair, cnt) top-`topN` by count desc,
    * pair asc — the oracle-gated surface (later iterations depend on
    * the argmax chain; [[bpeMerges]] covers them, spec-gated).
    */
  def bpePairCounts(docs: DataFrame, topN: Int = 50): DataFrame =
    pairCounts(wordTable(docs).withColumn("syms", charSplit("w")))
      .orderBy(desc("cnt"), asc("pair"))
      .limit(topN)
      .select("pair", "cnt")

  /** DuckDB oracle for [[bpePairCounts]]: same distinct-word weighting,
    * same 2-char windows.
    */
  def bpePairCountsOracleSql(topN: Int = 50): String =
    s"""WITH words AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
       |      AS w
       |    FROM documents WHERE text IS NOT NULL)
       |  GROUP BY 1),
       |pairs AS (
       |  SELECT substr(w, CAST(i AS INTEGER), 1) || ' ' ||
       |      substr(w, CAST(i AS INTEGER) + 1, 1) AS pair,
       |    freq
       |  FROM words, unnest(range(1, len(w))) AS r(i)
       |  WHERE len(w) >= 2)
       |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
       |FROM pairs GROUP BY 1
       |ORDER BY cnt DESC, pair LIMIT $topN""".stripMargin

  /** Learn `nMerges` BPE merge rules over the corpus. Returns
    * (step, left, right, cnt) in learning order — cnt is the pair's
    * weighted frequency when it was chosen. Ties break (cnt desc,
    * left asc, right asc) so the learned vocabulary is deterministic.
    * Stops early when no pair occurs at least `minCount` times.
    */
  def bpeMerges(
      docs: DataFrame,
      nMerges: Int,
      minCount: Long = 2L): Seq[(Int, String, String, Long)] =
    bpeMergesFromWords(wordTable(docs), nMerges, minCount)

  /** [[bpeMerges]] over a pre-built (w, freq) word table — the shared
    * form [[bpeEncode]] uses so train + apply pay for ONE corpus
    * scan/word aggregate instead of each building its own (r19: the two
    * `wordTable(docs)` subtrees were separate lineages, so the corpus
    * explode + groupBy ran twice per q163 run).
    */
  private[ops] def bpeMergesFromWords(
      wt: DataFrame,
      nMerges: Int,
      minCount: Long): Seq[(Int, String, String, Long)] = {
    require(nMerges >= 1 && minCount >= 1)
    var words = Checkpoints.materialize(
      wt.withColumn("syms", charSplit("w"))
        .select("syms", "freq"))
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val top = pairCounts(words)
        .orderBy(desc("cnt"), asc("pair"))
        .limit(1).collect() // 1 row — the argmax is the only collect
      val best = top.headOption.filter(_.getAs[Long]("cnt") >= minCount)
      best match {
        case None => exhausted = true
        case Some(row) =>
          // pair column carries (a, b) as a 2-element array — split back
          val arr = row.getAs[scala.collection.Seq[String]]("ab")
          val (a, b) = (arr(0), arr(1))
          learned += ((step, a, b, row.getAs[Long]("cnt")))
          words = Checkpoints.materialize(
            words.withColumn("syms", mergeFold(col("syms"), a, b)))
          step += 1
      }
    }
    learned.result()
  }

  // -------------------------------------------------------------------
  // BPE APPLY (q163/q164): tokenize WITH a trained merge table — the
  // half of the tokenizer the r16 verdict called out as missing: a real
  // pipeline trains merges once, then denominates every budget in THAT
  // tokenizer's tokens, not the q99 n-gram proxy's.
  //
  // Representation: a word's symbolization is the delimited string
  //   ␁a␁␁b␁...  (␁ = U+0001; each symbol individually
  // wrapped, segments concatenated), so applying merge (a, b) is ONE
  // literal  replace("␁a␁␁b␁" → "␁ab␁").  Literal left-to-right
  // non-overlapping replacement IS the greedy merge fold the trainer
  // uses ([[bpeMerges]]' mergeFold): adjacent occurrences share no
  // characters under per-symbol wrapping (unlike a space-separated
  // form, where back-to-back matches fight over the shared delimiter),
  // so one pass merges every occurrence exactly as the fold does —
  // train and apply can never segment differently. Spark's replace()
  // and DuckDB's replace() share these semantics, which is what lets
  // the q163 oracle replay TRAINING AND ENCODING end-to-end in SQL
  // (eight unrolled argmax+replace stages — see [[bpeEncodeOracleCtes]]).
  //
  // Scale shape: the merge chain folds over the DISTINCT-WORD table
  // (the same Zipf trick training uses — the corpus is scanned once to
  // build (word, freq); the M-deep replace chain runs on distinct words
  // only), then one hash join maps word occurrences back to their
  // subword counts. Chains longer than [[EncodeChunk]] merges are
  // applied in checkpointed chunks so the codegen'd expression tree
  // stays bounded at any vocabulary size.
  // -------------------------------------------------------------------

  /** Symbol delimiter (U+0001) for the BPE-apply representation — never
    * occurs in whitespace-tokenized text columns in practice; merge
    * symbols containing it would splice spuriously, so
    * [[bpeEncodeWords]] rejects them up front.
    */
  val SymSep = "\u0001"

  /** Merges applied per projection before a dir-aware checkpoint cuts
    * the expression chain (M literal replaces nest M deep otherwise —
    * fine at 32, pathological at a real 32k-merge vocabulary).
    */
  val EncodeChunk = 32

  /** The trained merge table applied to every DISTINCT word of the
    * corpus: (w, freq, toks) where toks is the word's final subword
    * segmentation (array of symbols) under `merges` in rank order.
    */
  def bpeEncodeWords(
      docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    bpeEncodeWordsFrom(wordTable(docs), merges)

  /** [[bpeEncodeWords]] over a pre-built (w, freq) word table — see
    * [[bpeMergesFromWords]] for why the table is shared.
    */
  private[ops] def bpeEncodeWordsFrom(
      wt: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    require(merges.forall { case (a, b) =>
      !a.contains(SymSep) && !b.contains(SymSep) },
      "merge symbols may not contain the \\u0001 delimiter")
    val sep2 = SymSep + SymSep
    var words = wt
      // per-char wrap: "abc" -> ␁a␁␁b␁␁c␁ (charSplit: exact chars, no
      // empty fragments — split-by-'' limit semantics differ per engine)
      .withColumn("s", concat(lit(SymSep),
        array_join(charSplit("w"), sep2), lit(SymSep)))
    merges.grouped(EncodeChunk).zipWithIndex.foreach { case (chunk, i) =>
      if (i > 0) words = Checkpoints.materialize(words)
      words = words.withColumn("s",
        chunk.foldLeft(col("s")) { case (c, (a, b)) =>
          replace(c, lit(SymSep + a + sep2 + b + SymSep),
            lit(SymSep + a + b + SymSep))
        })
    }
    words.select(col("w"), col("freq"),
      split(trim(col("s"), SymSep), sep2).as("toks"))
  }

  /** Per-document tokenizer-token counts under a trained merge table:
    * (doc_id, n_tokens_bpe, n_tokens_ws), doc_id asc — every doc kept
    * (null/empty text counts 0, the left-join totality the budget
    * queries need). n_tokens_ws rides along so the artifact itself
    * shows the whitespace-proxy gap the tokenizer denominator closes.
    */
  def bpeTokenCounts(
      docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    bpeTokenCountsWith(docs, wordTable(docs), merges)

  private def bpeTokenCountsWith(
      docs: DataFrame, wt: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val perWord = bpeEncodeWordsFrom(wt, merges)
      .select(col("w"), size(col("toks")).cast("long").as("n_sym"))
    val occ = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x <> '')")).as("w"))
    val perDoc = occ.join(perWord, "w")
      .groupBy("doc_id").agg(sum(col("n_sym")).as("n_bpe"))
    docs.select(col("doc_id"),
      coalesce(size(expr("filter(split(text, ' '), x -> x <> '')"))
        .cast("long"), lit(0L)).as("n_tokens_ws"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bpe"), lit(0L)).as("n_tokens_bpe"),
        col("n_tokens_ws"))
      .orderBy("doc_id")
  }

  /** The q163 contract: train `nMerges` merges on the corpus itself
    * ([[bpeMerges]]), then tokenize the corpus WITH them — the
    * train-once/apply-everywhere loop of a real pipeline in one call.
    * The (w, freq) word table is built and materialized ONCE and shared
    * by training and encoding (r19) — the corpus is scanned for words a
    * single time per run instead of once per phase.
    */
  def bpeEncode(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    val wt = Checkpoints.materialize(wordTable(docs))
    bpeTokenCountsWith(docs, wt,
      bpeMergesFromWords(wt, nMerges, minCount = 2L).map(m => (m._2, m._3)))
  }

  /** Per-ROW tokenizer token count under a trained merge table — the
    * streaming-safe form of [[bpeTokenCounts]]: no distinct-word join,
    * no shuffle, ONE codegen'd expression (wrap each char, fold the
    * merge chain as literal replaces per word occurrence, count
    * delimiter pairs), so a stateless gate ([[graft.streaming
    * .StreamingEtl.corpusGate]](merges = …)) can spend budgets in
    * TRAINED tokens per micro-batch. The batch form's Zipf-amortized
    * distinct-word join is cheaper per token at corpus scale — prefer
    * it wherever a shuffle is allowed. Bit-equal to the batch counts by
    * the shared replace semantics (spec-pinned).
    */
  def bpeTokenCountCol(text: Column, merges: Seq[(String, String)]): Column = {
    require(merges.forall { case (a, b) =>
      !a.contains(SymSep) && !b.contains(SymSep) },
      "merge symbols may not contain the \\u0001 delimiter")
    val sep2 = SymSep + SymSep
    def enc(w: Column): Column = {
      // ␁c␁ per char — adjacent chars meet as ␁␁, outer edges single ␁;
      // (?s) so a stray control char still wraps instead of desyncing
      val wrapped = regexp_replace(w, "(?s)(.)", SymSep + "$1" + SymSep)
      val folded = merges.foldLeft(wrapped) { case (c, (a, b)) =>
        replace(c, lit(SymSep + a + sep2 + b + SymSep),
          lit(SymSep + a + b + SymSep))
      }
      ((length(folded) - length(replace(folded, lit(SymSep), lit("")))) / 2)
        .cast("long")
    }
    coalesce(
      aggregate(
        transform(filter(split(text, " "), w => w =!= ""), enc _),
        lit(0L), (acc, x) => acc + x),
      lit(0L))
  }

  /** The DuckDB replay of [[bpeEncode]]'s training loop: CTEs w0..w`n`
    * where w0 is the per-char-wrapped distinct-word table and stage k
    * computes pair counts over w(k−1), takes the argmax (cnt desc, pair
    * asc — the trainer's tie-break), and applies it as the same literal
    * replace; a LEFT JOIN ON TRUE makes a sub-minCount stage a no-op
    * exactly like the trainer's early stop. `chr(1)` is [[SymSep]].
    */
  private[graft] def bpeEncodeOracleCtes(nMerges: Int, minCount: Long): String = {
    val stages = (1 to nMerges).map { k =>
      s"""p$k AS (
         |  SELECT l[i] AS a, l[i + 1] AS b, sum(freq) AS cnt
         |  FROM (SELECT freq, string_split(trim(s, chr(1)), chr(1) || chr(1)) AS l
         |        FROM w${k - 1}),
         |       UNNEST(range(1, len(l))) AS t(i)
         |  GROUP BY 1, 2),
         |m$k AS (
         |  SELECT a, b FROM p$k WHERE cnt >= $minCount
         |  ORDER BY cnt DESC, a || ' ' || b ASC LIMIT 1),
         |w$k AS (
         |  SELECT w, freq,
         |    CASE WHEN a IS NULL THEN s
         |         ELSE replace(s, chr(1) || a || chr(1) || chr(1) || b || chr(1),
         |                         chr(1) || a || b || chr(1)) END AS s
         |  FROM w${k - 1} LEFT JOIN m$k ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""wt AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |    FROM documents WHERE text IS NOT NULL)
       |  GROUP BY w),
       |w0 AS (
       |  SELECT w, freq,
       |    chr(1) || array_to_string(string_split(w, ''), chr(1) || chr(1)) || chr(1) AS s
       |  FROM wt),
       |$stages,
       |enc AS (
       |  SELECT w,
       |    (len(s) - len(replace(s, chr(1), ''))) // 2 AS n_sym
       |  FROM w$nMerges),
       |occ AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents WHERE text IS NOT NULL),
       |perdoc AS (
       |  SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_bpe
       |  FROM occ JOIN enc USING (w) GROUP BY doc_id)""".stripMargin
  }

  /** DuckDB oracle for [[bpeEncode]] (q163). */
  def bpeEncodeOracleSql(nMerges: Int = 8, minCount: Long = 2L): String =
    s"""WITH ${bpeEncodeOracleCtes(nMerges, minCount)}
       |SELECT d.doc_id,
       |  COALESCE(n_bpe, 0) AS n_tokens_bpe,
       |  COALESCE(CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |    AS BIGINT), 0) AS n_tokens_ws
       |FROM documents d LEFT JOIN perdoc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** (word, freq) over the whitespace tokenizer — the corpus's single
    * full scan; every BPE iteration reads this table, not the corpus.
    */
  private def wordTable(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(explode(expr(
        "filter(split(text, ' '), x -> x <> '')")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Single-character symbolization of the named word column. */
  private def charSplit(w: String): Column =
    expr(s"transform(sequence(1, length($w)), i -> substr($w, i, 1))")

  /** Weighted adjacent-pair counts of the current symbolization:
    * (pair = 'a b' display string, ab = [a, b], cnt). Every adjacent
    * occurrence counts (aaa → two a·a pairs), matching the published
    * counting.
    */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .filter(size(col("syms")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(syms) - 1)," +
          " i -> array(element_at(syms, i), element_at(syms, i + 1)))"))
        .as("ab"), col("freq"))
      .groupBy(col("ab"))
      .agg(sum(col("freq")).as("cnt"))
      .withColumn("pair", concat_ws(" ", col("ab")))

  /** Apply merge rule (a, b) → "ab" to a symbol array: one greedy
    * left-to-right fold (aggregate() HOF — codegen-adjacent, no UDF),
    * the same single pass the published implementation's in-word
    * replace performs: [a, a, a, a] under (a, a) → [aa, aa].
    */
  private def mergeFold(syms: Column, a: String, b: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  // -------------------------------------------------------------------
  // HTML/boilerplate text extraction (q155): the FIRST stage of every
  // real crawl pipeline — every operator in this catalog assumes clean
  // `text`, but a crawl corpus arrives as markup. Published rules
  // (jusText / trafilatura's paragraph classification): split the page
  // into block-level segments, strip tags, and keep a block iff
  //   - its tag is a CONTENT tag (nav/aside/footer are boilerplate by
  //     construction),
  //   - its visible text is long enough (short blocks are chrome), and
  //   - its LINK DENSITY is low (anchor-text chars / text chars < 1/3 —
  //     link farms, share bars, and menus are link-dominated).
  //
  // Everything is per-row codegen'd string ops (regexp_extract_all +
  // higher-order filter/transform — no UDF, no shuffle: a pure map at
  // any corpus size). The q73 regex-subset discipline applies: this is
  // an 80/20 extractor over well-formed flat markup, not an HTML5
  // parser — blocks are non-nested, which the synthesis (and any
  // boilerplate-wrapped crawl slice) satisfies; RE2-compatible regexes
  // only (no backreferences), so the DuckDB oracle replays it exactly.
  // -------------------------------------------------------------------

  /** Block-level segments: flat (non-nested) block tags, lazily matched
    * to the first closing block tag. RE2-safe (no backreference). */
  val HtmlBlockPattern =
    "<(?:p|h1|li|nav|aside|footer)[^>]*>.*?</(?:p|h1|li|nav|aside|footer)>"
  val HtmlTagStripPattern = "<[^>]*>"
  val HtmlAnchorTextPattern = "<a [^>]*>([^<]*)</a>"
  val BoilerplateTags = Seq("nav", "aside", "footer")

  /** Extract the content text of a raw-markup column: (doc_id,
    * extracted, kept_blocks, dropped_blocks), doc_id asc. Blocks are
    * classified by tag / min visible chars / link density (see object
    * note); kept blocks' stripped text joins with a single space. A row
    * with NO block markup passes through whole (tags stripped, trimmed)
    * with kept = dropped = 0 — total over non-HTML and null input.
    */
  def extractText(
      docs: DataFrame,
      htmlCol: String = "raw_html",
      minChars: Int = 25,
      sorted: Boolean = true): DataFrame = {
    val html = coalesce(col(htmlCol), lit(""))
    val blocks = regexp_extract_all(html, lit(HtmlBlockPattern), lit(0))
    def plainOf(b: Column): Column =
      trim(regexp_replace(b, HtmlTagStripPattern, ""))
    // coalesce: DuckDB's array_to_string over a no-match extract is NULL
    // where Spark's array_join is '' — pin both engines to 0
    def linkChars(b: Column): Column =
      coalesce(
        length(array_join(
          regexp_extract_all(b, lit(HtmlAnchorTextPattern), lit(1)), "")),
        lit(0))
    def keep(b: Column): Column = {
      val tag = regexp_extract(b, "^<([a-z0-9]+)", 1)
      !tag.isin(BoilerplateTags: _*) &&
        length(plainOf(b)) >= minChars &&
        linkChars(b) * 3 < length(plainOf(b))
    }
    val kept = filter(blocks, keep _)
    // sorted=false: the pure-map projection with NO global sort — the
    // form a streaming micro-batch requires (orderBy is unsupported on
    // a stream) and a composed pipeline re-sorts at its own tail anyway
    val projected = docs.select(
      col("doc_id"),
      when(size(blocks) === 0,
        trim(regexp_replace(html, HtmlTagStripPattern, "")))
        .otherwise(array_join(transform(kept, plainOf _), " "))
        .as("extracted"),
      when(size(blocks) === 0, lit(0L))
        .otherwise(size(kept).cast("long")).as("kept_blocks"),
      when(size(blocks) === 0, lit(0L))
        .otherwise((size(blocks) - size(kept)).cast("long"))
        .as("dropped_blocks"))
    if (sorted) projected.orderBy("doc_id") else projected
  }

  /** STATELESS crawl-ingest gate — q161's per-row stages as ONE reusable
    * function: raw markup → [[extractText]] → per-row stats on the
    * EXTRACTED text → block/length/stop-ratio quality gates. Emits
    * (doc_id, extracted, digest, n_chars_ext, n_tokens, stop_ratio,
    * boiler_ratio). Every stage is a pure projection/filter — no
    * aggregate, no window, no state — so the SAME function runs on a
    * batch frame and on a readStream micro-batch
    * ([[graft.streaming.StreamingEtl.runCrawlGate]]) with bit-equal
    * outputs (the stream≡batch twin discipline). The sha-256 `digest`
    * rides along so the stateful keeper composes downstream: q161's
    * rn=1 window in batch, `dedupWithinWatermark` in a stream. Gates
    * and the keeper commute — same-digest rows carry identical
    * extracted text, hence identical gate columns — so gating before
    * keeping admits exactly q161's rows.
    */
  def crawlGate(
      docs: DataFrame,
      stopwords: Seq[String],
      htmlCol: String = "raw_html",
      minChars: Long = 100L,
      maxChars: Long = 520L,
      minStopRatio: Double = 0.03): DataFrame = {
    require(stopwords.nonEmpty && stopwords.forall(_.matches("[A-Za-z]+")))
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    extractText(docs, htmlCol, sorted = false)
      .select(
        col("doc_id"), col("extracted"),
        col("kept_blocks"), col("dropped_blocks"),
        length(col("extracted")).cast("long").as("n_chars_ext"),
        size(split(col("extracted"), " ")).cast("long").as("n_tokens"),
        expr(s"size(filter(split(extracted, ' '), x -> x IN ($stopList)))")
          .cast("long").as("n_stop"),
        sha2(col("extracted"), 256).as("digest"))
      .filter(col("kept_blocks") >= 1)
      .filter(col("n_chars_ext").between(minChars, maxChars))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_tokens"), 4))
      .filter(col("stop_ratio") >= minStopRatio)
      .withColumn("boiler_ratio",
        round(col("dropped_blocks").cast("double") /
          (col("kept_blocks") + col("dropped_blocks")), 4))
      .select(col("doc_id"), col("extracted"), col("digest"),
        col("n_chars_ext"), col("n_tokens"),
        col("stop_ratio"), col("boiler_ratio"))
  }

  /** Deterministic raw-markup synthesis for q155 (the q147 dirtied-fact
    * discipline — the testdata ships clean text, so the query wraps it
    * in the crawl chrome a real corpus arrives with): nav + optional
    * sponsored aside (doc_id % 3), headline, the body paragraph, an
    * optional link-dominated share bar (doc_id % 2), a too-short block,
    * and a footer. Flat blocks only (the extractor's documented domain).
    */
  def syntheticHtml(docId: Column, text: Column): Column =
    concat(
      lit("<html><body><nav><a href=\"/\">Home</a> " +
        "<a href=\"/topics\">Topics</a> <a href=\"/contact\">Contact</a></nav>"),
      when(docId % 3 === 0,
        lit("<aside>Sponsored: <a href=\"/buy\">click here</a> " +
          "<a href=\"/win\">win now</a></aside>")).otherwise(lit("")),
      lit("<h1>Document "), docId.cast("string"), lit("</h1>"),
      lit("<p>"), text, lit("</p>"),
      when(docId % 2 === 0,
        lit("<p>Share: <a href=\"/fb\">Facebook</a> " +
          "<a href=\"/tw\">Twitter</a> <a href=\"/rss\">RSS</a></p>"))
        .otherwise(lit("")),
      lit("<p>ok</p><footer>(c) 2026 Example <a href=\"/tos\">Terms</a> " +
        "<a href=\"/privacy\">Privacy</a></footer></body></html>"))

  /** The [[extractText]]-over-[[syntheticHtml]] pipeline as DuckDB CTEs
    * ending in `ext(doc_id, extracted, kept_blocks, dropped_blocks)` —
    * shared by the q155 oracle and the composed crawl pipeline (q161).
    */
  private[graft] def extractCtesSql(minChars: Int = 25): String =
    s"""h AS (
  SELECT doc_id,
    '<html><body><nav><a href="/">Home</a> <a href="/topics">Topics</a> <a href="/contact">Contact</a></nav>' ||
    CASE WHEN doc_id % 3 = 0 THEN '<aside>Sponsored: <a href="/buy">click here</a> <a href="/win">win now</a></aside>' ELSE '' END ||
    '<h1>Document ' || doc_id || '</h1>' ||
    '<p>' || text || '</p>' ||
    CASE WHEN doc_id % 2 = 0 THEN '<p>Share: <a href="/fb">Facebook</a> <a href="/tw">Twitter</a> <a href="/rss">RSS</a></p>' ELSE '' END ||
    '<p>ok</p><footer>(c) 2026 Example <a href="/tos">Terms</a> <a href="/privacy">Privacy</a></footer></body></html>'
      AS raw_html
  FROM documents),
       |b AS (
       |  SELECT doc_id,
       |    regexp_extract_all(raw_html, '$HtmlBlockPattern') AS blocks
       |  FROM h),
       |k AS (
       |  SELECT doc_id, blocks,
       |    list_filter(blocks, x ->
       |      regexp_extract(x, '^<([a-z0-9]+)', 1)
       |        NOT IN ('nav', 'aside', 'footer')
       |      AND len(trim(regexp_replace(x, '$HtmlTagStripPattern', '', 'g'))) >= $minChars
       |      AND coalesce(len(array_to_string(
       |            regexp_extract_all(x, '$HtmlAnchorTextPattern', 1), '')), 0) * 3
       |          < len(trim(regexp_replace(x, '$HtmlTagStripPattern', '', 'g')))) AS kept
       |  FROM b),
       |ext AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(kept,
       |      x -> trim(regexp_replace(x, '$HtmlTagStripPattern', '', 'g'))), ' ')
       |      AS extracted,
       |    CAST(len(kept) AS BIGINT) AS kept_blocks,
       |    CAST(len(blocks) - len(kept) AS BIGINT) AS dropped_blocks
       |  FROM k)""".stripMargin

  /** DuckDB oracle for [[extractText]] over [[syntheticHtml]]-wrapped
    * documents: identical synthesis, block regexes, classification
    * arithmetic, and join separator. (The oracle replays the with-blocks
    * branch — the synthesis always emits markup; the no-block
    * passthrough is spec-covered in TextOpsSpec.)
    */
  def extractTextOracleSql(minChars: Int = 25): String =
    s"""WITH ${extractCtesSql(minChars)}
       |SELECT doc_id, extracted, kept_blocks, dropped_blocks
       |FROM ext ORDER BY doc_id""".stripMargin
}
