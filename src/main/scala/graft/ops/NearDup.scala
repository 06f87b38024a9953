package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection operators for document corpora, designed for the
  * 100 TB path: MinHash signatures + LSH banding turn the quadratic
  * all-pairs similarity join into (a) one narrow map-side signature pass,
  * (b) an equi-join on small band keys, (c) exact verification on candidate
  * pairs only.
  *
  * Every step is deterministic and uses only arithmetic/functions available
  * identically in DuckDB, so the driver's oracle can replicate the SAME
  * algorithm and hash-compare the output ([[oracleSql]]).
  *
  * Hash design (public-knowledge, standard MinHash construction —
  * Broder '97 resemblance sketches):
  *   - token → 28-bit integer x: first 7 hex digits of md5(token).
  *     md5 is bit-identical across engines; 28 bits keeps every product
  *     a_i*x below 2^56 (no 64-bit overflow in either engine).
  *   - hash family: h_i(x) = (a_i * x + b_i) mod p, p = 2^31-1 (Mersenne
  *     prime), a_i ∈ [1, 2^28], b_i ∈ [0, 2^28) derived from md5("a:i") /
  *     md5("b:i") at build time and inlined as literals on BOTH engines.
  *   - signature: K per-doc min(h_i) aggregates — a codegen'd hash
  *     aggregate with map-side partials, not an interpreted lambda.
  *   - banding: bands of r=2 rows; candidates share (band, m_{2b}, m_{2b+1}).
  */
object NearDup {

  /** 2^31-1 — modulus of the universal hash family. */
  val P = 2147483647L

  /** Number of min-hashes (K) and bands; r = K / Bands = 2 rows per band.
    * P(candidate | jaccard = s) = 1 - (1 - s^2)^32: ≈1e-4 miss at s=0.5,
    * ≈0.99998 hit at s=0.6. To retune for a different threshold, use
    * [[bandPlan]] — the documented way to derive (Bands, r) from a
    * target τ instead of hand-solving the S-curve.
    */
  val K = 64
  val Bands = 32

  /** (bands, rowsPerBand) for a target Jaccard threshold `tau` under a
    * signature budget of `nHashes` min-hashes — see [[Lsh.bandPlan]]
    * (the S-curve knee solve, MMDS §3.4.3). The default plan above is
    * `bandPlan(0.18, 64) == (32, 2)`.
    */
  def bandPlan(tau: Double, nHashes: Int = K): (Int, Int) =
    Lsh.bandPlan(tau, nHashes)

  /** (a_i, b_i) of the hash family, reproducibly derived from md5 so the
    * same literals can be embedded in the DuckDB oracle text.
    */
  val seeds: IndexedSeq[(Long, Long)] = {
    def h7(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.substring(0, 7), 16)
    }
    (0 until K).map(i => (h7(s"a:$i") + 1L, h7(s"b:$i")))
  }

  /** Distinct whitespace tokens per document: (doc_id, toks array). */
  def tokens(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), array_distinct(split(col(textCol), " ")).as("toks"))

  /** 28-bit token hash — codegen'd builtins only (md5 → conv → cast). */
  private def tokenHash(tok: Column): Column =
    conv(substring(md5(tok.cast("binary")), 1, 7), 16, 10).cast("long")

  /** Per-doc MinHash signature: (doc_id, m0 .. m{K-1}).
    *
    * One native map-side pass per document ([[graft.functions
    * .MinHashSig]]): no generator, no exchange — the corpus never moves
    * for signatures. Replaced (r11) the explode → 64-column min
    * aggregate, which was codegen'd and map-side-partialed but still
    * shuffled a (doc, i)-minima row per document; bit-identical values
    * (exact integer arithmetic, min is order-free — MinHashExprsSpec
    * pins frame equality against the aggregate form).
    *
    * Edge parity with the aggregate form: docs with a NULL or empty
    * `toks` emitted no exploded rows and are ABSENT; a doc whose tokens
    * are all NULL was present with all-NULL minima — the NULL signature
    * array reproduces exactly that through element_at. The m-columns
    * project from a single `sig` alias in a SEPARATE projection:
    * CollapseProject keeps a non-cheap alias referenced 64 times
    * un-inlined, so the signature is computed once per row (plan-pinned
    * in the spec).
    */
  def signatures(tok: DataFrame): DataFrame =
    tok
      .filter(size(col("toks")) > 0)
      // spread the signature map across cores: a small corpus arrives as
      // ONE scan partition (single parquet block), and without the old
      // aggregate's exchange the md5 x K-min work — and everything
      // downstream of the persisted bands — would run on that one task.
      // The partition count is EXPLICIT: repartition by expression alone
      // lets AQE's byte-targeted coalescing fold the fingerprint-scale
      // shuffle back to ONE partition (measured at sf0.1 — the r13 q97
      // finding), re-serializing the exact work this exchange exists to
      // spread; the map is CPU-bound, so the explicit cluster-width
      // count, not shuffle bytes, is the right sizing.
      .repartition(tok.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.MinHashFunctions.minhashSig(col("toks"), seeds, P).as("sig"))
      .select(col("doc_id") +:
        (0 until K).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)

  /** The equi-join key of a [[bands]] frame: a candidate pair shares one. */
  private[graft] val BandKeys = Seq("band", "k1", "k2")

  /** Explode a signature frame into (doc_id, band, k1, k2) band keys. */
  def bands(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"), col(s"m${2 * b}").as("k1"), col(s"m${2 * b + 1}").as("k2"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.k1").as("k1"), col("bk.k2").as("k2"))
  }

  /** Band keys under an EXPLICIT (bands, rowsPerBand) plan —
    * [[bandPlan]]'s output CONSUMED: band i's key is its r consecutive
    * min-hashes joined into one string. The default [[bands]] is the
    * (32, 2) special case with the key split into (k1, k2) columns (the
    * oracle-pinned layout); this generalized form serves retuned
    * thresholds. The verify stage is exact Jaccard either way, so a
    * plan moves candidate RECALL along the S-curve — it can never make
    * a reported pair wrong.
    */
  def bandsWith(sig: DataFrame, plan: (Int, Int)): DataFrame = {
    val (b, r) = plan
    require(b >= 1 && r >= 1 && b * r <= K,
      s"plan ($b, $r) exceeds the $K-hash signature budget")
    val bandStructs = (0 until b).map { i =>
      struct(lit(i).as("band"),
        concat_ws(":", (0 until r).map(j => col(s"m${i * r + j}")): _*)
          .as("bkey"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** [[lshNearDupPairs]] under an explicit (bands, rowsPerBand) plan —
    * the τ-retuned form: `lshNearDupPairsPlanned(docs, bandPlan(tau))`.
    * Identical candidate-join/guard/preflight/verify machinery, banding
    * swapped for [[bandsWith]]; `plan = (32, 2)` reproduces the default
    * operator's output exactly (spec-pinned). Cache lifetime is
    * CALLER-OWNED — see the persist-vs-materialize note in
    * [[lshNearDupPairs]] (the r18 3.5× A/B).
    */
  def lshNearDupPairsPlanned(
      docs: DataFrame,
      plan: (Int, Int),
      sliceMax: Option[Long] = Some(100L),
      threshold: Double = 0.5,
      hotBandMax: Option[Long] = None,
      pairBudget: Option[Long] = Some(Lsh.DefaultPairBudget)): DataFrame = {
    val tok = tokens(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bk = bandsWith(signatures(tok), plan).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // wide only for the full-corpus candidate set — see [[lshNearDupPairs]]
    verifiedJaccard(
      Lsh.candidatePairs(bk, Seq("band", "bkey"), "doc_id", "doc_a", "doc_b", sliceMax,
        hotCap = hotBandMax, pairBudget = pairBudget, owned = Seq(tok, bk)),
      tok, tok, "doc_a", "doc_b", threshold, wide = sliceMax.isEmpty)
      .orderBy("doc_a", "doc_b")
  }

  /** Candidate pairs (doc_a < doc_b), verified with exact Jaccard ≥
    * `threshold`. Output: (doc_a, doc_b, jaccard) ordered.
    *
    * Two candidate-generation modes, selected by `sliceMax`:
    *
    *   - `Some(m)`: doc_a restricted to `doc_id < m` — the bounded-query
    *     shape ("which corpus docs duplicate this batch?"). The slice's
    *     band keys are broadcast: zero shuffle on the corpus side beyond
    *     the signature aggregate.
    *   - `None`: full corpus × corpus — dedup's real shape. The candidate
    *     join is a plain shuffle sort-merge self-equi-join on the band
    *     keys (hinted, so no side is ever collected to the driver no
    *     matter what size estimates say); only (doc_id, band, k1, k2)
    *     fingerprints cross the wire, never text. Skewed band buckets are
    *     split across reducers by AQE's skew-join handling; `hotBandMax`
    *     optionally drops degenerate buckets outright, and a call with
    *     neither a slice nor a cap sizes itself against `pairBudget`
    *     first ([[Lsh.candidatePairs]]).
    *
    * Cache lifetime is CALLER-OWNED: the token and band frames are
    * persisted here and read lazily by the returned plan, so a
    * long-lived session clears them via `spark.catalog.clearCache()`
    * when done with the result. A loop that runs once per micro-batch
    * must not call it — it would pin two frames per batch for the life
    * of the stream; [[graft.streaming.StreamingEtl.runDedupGate]]
    * signs its batch itself and releases the frames in a `finally`.
    */
  def lshNearDupPairs(
      docs: DataFrame,
      sliceMax: Option[Long] = Some(100L),
      threshold: Double = 0.5,
      hotBandMax: Option[Long] = None,
      pairBudget: Option[Long] = Some(Lsh.DefaultPairBudget)): DataFrame = {
    // Both `tok` and `bk` are consumed more than once (tok: signatures + the
    // two verification attaches; bk: both sides of the candidate self-join).
    // Persist them so each lineage is computed exactly once — without this
    // the 64-min-hash aggregate runs twice and tokenization three times. Sizes
    // are bounded: bk is 4 longs × Bands per doc, tok is the token sets
    // (fingerprint-scale, not corpus-scale). persist, NOT
    // Checkpoints.materialize: the r18 isolated A/B (3.5× — 2.86 s vs 9.7 s
    // at sf0.1) traced a localCheckpoint swap to two plan changes — the
    // LogicalRDD's unknown stats stop the verified-candidate frame from
    // broadcasting (the build side flips to tok), and the CPU-bound exact-
    // Jaccard verify then runs on the AQE byte-coalesced 3-task distinct
    // output instead of map-side over the 32 cached columnar partitions.
    val tok = tokens(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bk = bands(signatures(tok)).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // wide = MODE-derived (r19, the VERDICT's width condition): the
    // respread pays off exactly when the candidate set is corpus-scale —
    // the full-corpus self-join modes (q151's sourceDupMatrix, unsliced
    // q25) whose verify CPU otherwise lands on the AQE-coalesced 1-3
    // task distinct. A sliceMax-bounded probe's candidates are
    // slice-scale (the q78 regime): they verify map-side against the
    // persisted tok cache, and the r18 close bench measured the extra
    // exchange at 1.2-1.4× net-negative there (q25 0.69×, q78 1.42×
    // pre-gate) — so bounded modes run wide=false, as r17 did.
    verifiedJaccard(
      Lsh.candidatePairs(bk, BandKeys, "doc_id", "doc_a", "doc_b", sliceMax,
        hotCap = hotBandMax, pairBudget = pairBudget, owned = Seq(tok, bk)),
      tok, tok, "doc_a", "doc_b", threshold, wide = sliceMax.isEmpty)
      .orderBy("doc_a", "doc_b")
  }

  /** Attach the token sets to candidate pairs (`leftCol` from `leftTok`,
    * `rightCol` from `rightTok`), compute the exact Jaccard at the
    * oracle-pinned 4dp rounding, and keep pairs ≥ `threshold`. Shared by
    * the full-corpus and incremental forms so the verify arithmetic can
    * never drift between them (q78's bit-equality spec depends on it);
    * other candidate columns are carried through after `jaccard`.
    */
  private[graft] def verifiedJaccard(
      cand: DataFrame,
      leftTok: DataFrame,
      rightTok: DataFrame,
      leftCol: String,
      rightCol: String,
      threshold: Double,
      // explicit-width respread of the candidates before the verify (the
      // q89 finding, r18): candidate pairs are two longs each, so AQE
      // byte-coalescing folds the upstream distinct to 1-3 partitions —
      // and the exact-Jaccard verify (array intersect/union over full
      // token sets, the real CPU) serializes onto those few tasks
      // (measured: q151's whole verify ran as ONE 1.7 s task). ON for
      // the corpus-scale candidate sets (full-corpus q25/q165/q151
      // modes); OFF for the incremental probe (q78), whose delta-sized
      // candidates verify map-side against the persisted tok cache and
      // where the extra exchange measured 1.4× (r18 close bench).
      wide: Boolean): DataFrame =
    (if (wide)
       cand.repartition(
         cand.sparkSession.sparkContext.defaultParallelism, col(leftCol))
     else cand)
      .join(leftTok.select(col("doc_id").as(leftCol), col("toks").as("ta")), leftCol)
      .join(rightTok.select(col("doc_id").as(rightCol), col("toks").as("tb")), rightCol)
      .withColumn(
        "jaccard",
        round(
          size(array_intersect(col("ta"), col("tb"))).cast("double") /
            size(array_union(col("ta"), col("tb"))),
          4))
      .filter(col("jaccard") >= threshold)
      .select((Seq(leftCol, rightCol, "jaccard") ++
        cand.columns.filterNot(Set(leftCol, rightCol))).map(col): _*)

  /** Incremental near-dup: flag every NEW document that near-duplicates
    * the EXISTING corpus — the nightly "dedup the fresh crawl against the
    * base" shape, where re-running full-corpus dedup ([[lshDedupClusters]])
    * would re-shuffle 100 TB to admit a 0.1% delta. Here the split is
    * `doc_id % deltaMod == 0` = delta (new batch), the rest = base.
    *
    * Scale shape: the base's band keys are corpus-scale but computed once
    * (at cluster scale they are the materialized frames the Scaladoc on
    * [[lshNearDupPairs]] describes — read back from storage, not rebuilt);
    * the delta's band keys are crawl-sized and BROADCAST, so the candidate
    * probe is a MAP-SIDE join over the base — the base never shuffles and
    * no text moves. Exact Jaccard verification touches candidate pairs
    * only. New-vs-new duplicates are deliberately out of scope (they are
    * the delta's own intra-batch dedup, q25's shape at batch size).
    *
    * Output: (doc_id, dup_of, jaccard) — each delta doc against each base
    * doc with verified Jaccard ≥ `threshold`, ordered.
    *
    * Cache lifetime is CALLER-OWNED: the token and band frames are
    * persisted here because the returned lazy plan consumes each twice
    * (delta/base splits; candidate probe + Jaccard verify), so they must
    * outlive the call — a long-lived session that is done with the
    * result should `spark.catalog.clearCache()` or re-create the
    * session. (Contrast [[lshDedupClusters]], which can materialize and
    * unpersist its edges in-call because nothing downstream re-reads
    * them.)
    */
  def incrementalNearDupPairs(
      docs: DataFrame,
      deltaMod: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    val tok = tokens(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bk = bands(signatures(tok)).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deltaBk = bk.filter(col("doc_id") % deltaMod === 0).withColumnRenamed("doc_id", "new_id")
    val cand = bk.filter(col("doc_id") % deltaMod =!= 0)
      .join(broadcast(deltaBk), BandKeys)
      .select(col("new_id").as("doc_id"), col("doc_id").as("dup_of"))
      .distinct()
    verifiedJaccard(cand, tok, tok, "doc_id", "dup_of", threshold, wide = false)
      .orderBy("doc_id", "dup_of")
  }

  /** Asymmetric containment pairs: docs whose distinct-token set is
    * ≥ `threshold` CONTAINED in another doc's — the "quotation /
    * near-subset" dedup rule (drop a doc that is mostly a fragment of a
    * larger one). Symmetric Jaccard (q23/q25) misses exactly this case:
    * a small doc quoted inside a big one has tiny Jaccard, and MinHash
    * signatures are dominated by the big doc's tokens, so band recall
    * collapses for asymmetric pairs — containment needs its own
    * candidate structure.
    *
    * That structure is PREFIX FILTERING (the SSJoin/PPJoin trick,
    * Chaudhuri et al. ICDE'06; positional two-sided form Xiao et al.
    * WWW'08, exact by the pigeonhole bound): sort every doc's tokens by
    * GLOBAL document frequency ascending. The contained side indexes
    * only its k_A = n_A − m_min + 1 rarest tokens (m_min = smallest
    * intersection that can pass), and — the two-sided lemma — the
    * CONTAINER side only needs its first n_B − m_min + 1 tokens in the
    * SAME order: if |A∩B| ≥ m_min, the globally-smallest common token
    * has ≥ m_min − 1 common tokens ranked after it in BOTH lists, so it
    * sits within both prefixes. No qualifying pair can be lost, while
    * the inverted index shrinks from n postings per doc to ~n·(1−τ) on
    * BOTH sides, and the postings chosen are the RAREST (shortest
    * lists), which is what keeps the candidate join linear-ish at
    * corpus scale. Exact containment is then verified on the
    * candidates' token arrays. A hot prefix token (a doc made entirely
    * of stopwords) is bounded by k_A per doc and AQE-skew-splittable in
    * the join — same discipline as the band joins.
    *
    * `hotPostingMax` is the [[Lsh.guardHotBuckets]] counterpart for a
    * DEGENERATE corpus (tiny vocabulary / boilerplate-flooded shard,
    * where even the "rarest" tokens carry corpus-scale posting lists
    * and the exact candidate set is genuinely quadratic): tokens with
    * global df above the cap are dropped from index AND probe — ranks
    * are computed on the full order first, so prefix boundaries never
    * shift; the cap only removes hot witnesses. Exactness trade, stated
    * precisely: a pair (A, B) is lost IFF every common token inside
    * both prefixes has df > cap — any pair sharing ONE sub-cap token
    * within both prefixes is still found, and the verify arithmetic on
    * survivors is unchanged (exact). `None` (the q89 default) keeps the
    * lossless contract the DuckDB oracle pins.
    *
    * `sliceMax` bounds the contained side (the q23/q24 bounded-query
    * shape); `None` is the full corpus × corpus form. Output:
    * (doc_id, container_id, containment), doc_id ≠ container_id,
    * containment = |A∩B| / |A| at the oracle-pinned 4dp rounding.
    *
    * Cache lifetime is CALLER-OWNED (the [[incrementalNearDupPairs]]
    * discipline): the token frame is persisted because the returned
    * lazy plan reads it three times (postings, prefix, verify).
    */
  def containmentPairs(
      docs: DataFrame,
      threshold: Double = 0.8,
      sliceMax: Option[Long] = Some(100L),
      hotPostingMax: Option[Long] = None,
      // arbitrary contained-side predicate (overrides sliceMax when set)
      // — the scale-curve's replica-spanning growing probe needs
      // `doc_id % stride < k`, which a plain id ceiling can't express
      slicePredicate: Option[Column] = None): DataFrame = {
    val tok = tokens(docs).filter(size(col("toks")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posting = tok.select(col("doc_id"), size(col("toks")).as("n"),
      explode(col("toks")).as("tok"))
    // global document frequency — the prefix ordering key (partial-agg'd
    // token-keyed aggregate; hot tokens fold map-side)
    val dfreq = posting.groupBy("tok").agg(count(lit(1)).as("df"))
    // every doc's tokens ranked under ONE global (df asc, tok asc) total
    // order — a doc_id-partitioned window (bounded per doc); both join
    // sides derive from this frame, which the two-sided lemma requires.
    // The repartition is EXPLICIT-width on the window key (the r13 q97 /
    // signatures discipline): the window's own exchange carries few
    // bytes (postings compress well) but the per-row rank sort is the
    // CPU-heavy pass, and AQE's byte-targeted coalescing was measured
    // (r18 profile) folding it to ONE task — 5.9 s of a 10.7 s query on
    // a 32-core box. Window.partitionBy(doc_id) reuses this exact
    // partitioning, so no second exchange appears.
    val ranked = posting.join(dfreq, Seq("tok"))
      .repartition(tok.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("tok").asc)))
    val guarded = hotPostingMax.fold(ranked)(m => ranked.filter(col("df") <= m))
    // m_min(n) = smallest intersection that can pass the (4dp-rounded)
    // threshold filter, computed as ceil(n·(τ − 1e-4)): the slack covers
    // BOTH the round(·, 4) output boundary and IEEE dust (5·(1−0.8) =
    // 0.999…8 would have floored a naive prefix to 1 and LOST boundary
    // pairs) — erring only toward a slightly longer prefix, which can
    // never lose a pair
    def mMin(n: Column): Column = ceil(n * lit(threshold - 1e-4))
    val aSide = slicePredicate match {
      case Some(p) => guarded.filter(p)
      case None => sliceMax.fold(guarded)(m => guarded.filter(col("doc_id") < m))
    }
    val cand = aSide
      .filter(col("rk") <= col("n") - mMin(col("n")) + 1)
      .select(col("doc_id").as("doc_a"), col("n").as("na"), col("tok"))
      .join(guarded.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("rk").as("rb"), col("tok")), Seq("tok"))
      // positional filter: the witness must sit inside the CONTAINER's
      // prefix for the probe's own m_min — evaluated inside the equi-join
      // (codegen'd extra condition), so over-long posting lists die
      // before the distinct
      .filter(col("doc_a") =!= col("doc_b") &&
        col("rb") <= col("nb") - mMin(col("na")) + 1)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
      // explicit-width respread before the exact verify: the candidate
      // frame is a few bytes per pair, so AQE byte-coalescing folds the
      // distinct output to one partition — and the verify (array
      // intersections over full token sets, the query's real CPU) then
      // runs single-task (measured 4.7 s of the r18 10.7 s profile).
      // The id-pair shuffle this costs is fingerprint-scale.
      .repartition(tok.sparkSession.sparkContext.defaultParallelism, col("doc_a"))
    cand
      .join(tok.select(col("doc_id").as("doc_a"), col("toks").as("ta")), Seq("doc_a"))
      .join(tok.select(col("doc_id").as("doc_b"), col("toks").as("tb")), Seq("doc_b"))
      .withColumn("containment",
        round(size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(col("ta")), 4))
      .filter(col("containment") >= threshold)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("container_id"),
        col("containment"))
      .orderBy("doc_id", "container_id")
  }

  /** DuckDB oracle for [[containmentPairs]]: the BRUTE-FORCE form — the
    * prefix filter is exact (cannot lose a qualifying pair), so the
    * pruned Spark plan must equal the all-pairs answer bit-for-bit.
    */
  def containmentOracleSql(threshold: Double = 0.8, sliceMax: Long = 100L): String =
    s"""WITH tok AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents),
       |pairs AS (
       |  SELECT a.doc_id AS doc_id, b.doc_id AS container_id,
       |    round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
       |      / len(a.toks), 4) AS containment
       |  FROM tok a JOIN tok b ON a.doc_id <> b.doc_id
       |  WHERE a.doc_id < $sliceMax)
       |SELECT doc_id, container_id, containment FROM pairs
       |WHERE containment >= $threshold
       |ORDER BY doc_id, container_id""".stripMargin

  /** Materialize a corpus's MinHash dedup state — token sets and band
    * keys — to parquet. This is the storage contract the incremental
    * Scaladocs promise: at cluster scale the base corpus's signatures
    * are built ONCE (the text is read once, here), and every nightly
    * delta probes the stored frames without recomputing or reshuffling
    * the base. Sizes: bands are 4 longs × 32 per doc, tokens are the
    * distinct-token sets (fingerprint-scale, not corpus-scale).
    *
    * Both writes happen in-call (eager), so the token cache is dropped
    * before returning — no caller-owned lifetime here.
    */
  def writeSignatureStore(docs: DataFrame, path: String): Unit = {
    val spark = docs.sparkSession
    require(StoreManifest.currentSnapshot(spark, path).isEmpty,
      s"signature store $path already exists — append or compact instead")
    writeSignatureBatch(docs, path, 1L)
    StoreManifest.publish(spark, path, StoreManifest.Snapshot(1L, -1L, Map(
      "tokens" -> Seq(StoreManifest.componentDir("tokens", 1L)),
      "bands" -> Seq(StoreManifest.componentDir("bands", 1L)))))
  }

  /** Reader schemas of the stored tokens and bands, as [[tokens]] and
    * [[bands]] write them: an explicit schema spares parquet one
    * schema-inference job per data dir read, and a probed store gains
    * two dirs per appended batch (the Retrieval/AnnPq store discipline).
    */
  private val StoreSchemas = Map(
    "tokens" -> "doc_id LONG, toks ARRAY<STRING>",
    "bands" -> "doc_id LONG, band INT, k1 LONG, k2 LONG")

  private def storeComponent(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      snap: StoreManifest.Snapshot,
      name: String): Option[DataFrame] =
    StoreManifest.readComponent(spark, path, snap, name, StoreSchemas.get(name))

  /** One batch's tokens/bands data dirs for snapshot `v` (immutable
    * once the manifest referencing them publishes).
    */
  private def writeSignatureBatch(docs: DataFrame, path: String, v: Long): Unit = {
    val tok = tokens(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try writeSignedBatch(tok, bands(signatures(tok)), path, v)
    finally tok.unpersist(false)
  }

  /** [[writeSignatureBatch]] for a batch that is already signed. */
  private def writeSignedBatch(tok: DataFrame, bk: DataFrame, path: String, v: Long): Unit = {
    tok.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/${StoreManifest.componentDir("tokens", v)}")
    bk.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/${StoreManifest.componentDir("bands", v)}")
  }

  /** Append one delta batch's token sets + band keys to the store — the
    * nightly step after a [[incrementalNearDupPairsFromStore]] probe
    * admits the batch (fresh doc_ids, the store contract). Two new data
    * dirs + ONE atomic manifest publish ([[StoreManifest]]): a crash
    * before the publish leaves the previous snapshot serving, never a
    * torn append. `batchId` is the streaming exactly-once hook — a
    * replayed foreachBatch id ≤ the manifest watermark is skipped
    * before any write.
    */
  def appendSignatureStore(
      delta: DataFrame, path: String, batchId: Long = -1L): Unit =
    appendToStore(delta.sparkSession, path, batchId)(writeSignatureBatch(delta, path, _))

  /** [[appendSignatureStore]] for a batch that is already signed: `tok`
    * ([[tokens]]) and `bk` ([[bands]]) are written as they are, so
    * nothing is tokenized or signed again. Same watermark check and
    * single publish.
    */
  private[graft] def appendSignedBatch(
      tok: DataFrame, bk: DataFrame, path: String, batchId: Long): Unit =
    appendToStore(tok.sparkSession, path, batchId)(writeSignedBatch(tok, bk, path, _))

  /** The append protocol: check the watermark, write the data dirs of
    * the next version, then publish them in one manifest.
    */
  private def appendToStore(
      spark: org.apache.spark.sql.SparkSession, path: String, batchId: Long)(
      write: Long => Unit): Unit = {
    val cur = StoreManifest.currentSnapshot(spark, path)
      .getOrElse(sys.error(s"signature store $path does not exist — write it first"))
    if (batchId >= 0 && batchId <= cur.batchWatermark) return // replay — already folded
    val v = cur.version + 1
    write(v)
    StoreManifest.publish(spark, path, cur
      .appending("tokens", StoreManifest.componentDir("tokens", v))
      .appending("bands", StoreManifest.componentDir("bands", v))
      .copy(version = v, batchWatermark = math.max(cur.batchWatermark, batchId)))
  }

  /** Tombstone deleted docs — O(|deleted|), no store file touched (the
    * [[graft.ops.Retrieval.deleteFromPostingsStore]] lifecycle): probes
    * anti-join the tombstones, so a deleted doc stops matching (and
    * stops witnessing candidates) the moment the tombstone publishes.
    */
  def deleteFromSignatureStore(deletedIds: DataFrame, path: String): Unit = {
    val spark = deletedIds.sparkSession
    val cur = StoreManifest.currentSnapshot(spark, path)
      .getOrElse(sys.error(s"signature store $path does not exist"))
    val v = cur.version + 1
    deletedIds.select(col("doc_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/${StoreManifest.componentDir("tombstones", v)}")
    StoreManifest.publish(spark, path, cur
      .appending("tombstones", StoreManifest.componentDir("tombstones", v))
      .copy(version = v))
  }

  /** Fold the tombstones into the store files: rewrite tokens/bands
    * minus tombstoned docs into fresh data dirs, publish a manifest
    * referencing only those (tombstones gone). Never in-place and never
    * a swap window — the pre-compact snapshot's dirs are untouched and
    * keep serving through a crash or to concurrent readers
    * ([[StoreManifest]]). After compaction the store is logically
    * identical to one rebuilt from the surviving corpus
    * (MinHashLshSpec pins frames and probe output bit-for-bit).
    */
  def compactSignatureStore(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val cur = StoreManifest.currentSnapshot(spark, path)
      .getOrElse(sys.error(s"signature store $path does not exist"))
    storeComponent(spark, path, cur, "tombstones").foreach { tomb =>
      val t = broadcast(tomb.select("doc_id"))
      val v = cur.version + 1
      Seq("tokens", "bands").foreach { name =>
        storeComponent(spark, path, cur, name).get
          .join(t, Seq("doc_id"), "left_anti")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$path/${StoreManifest.componentDir(name, v)}")
      }
      StoreManifest.publish(spark, path, StoreManifest.Snapshot(
        v, cur.batchWatermark, Map(
          "tokens" -> Seq(StoreManifest.componentDir("tokens", v)),
          "bands" -> Seq(StoreManifest.componentDir("bands", v)))))
    }
  }

  /** [[incrementalNearDupPairs]] against a MATERIALIZED base: the delta
    * batch is signed fresh (crawl-sized work), its band keys broadcast,
    * and the base side streams from the [[writeSignatureStore]] parquet —
    * the base text is never read, its signatures never recomputed, and
    * nothing base-scale shuffles. Tombstoned docs ([[deleteFromSignatureStore]])
    * are anti-joined out of BOTH base frames before matching. Same output
    * contract and verify arithmetic as the in-memory form (parity
    * spec-pinned bit-for-bit); `delta` must carry doc_ids disjoint from
    * the stored corpus (the ingest contract a ledgered pipeline already
    * guarantees). Sign, then [[probeSignatureStore]] without its batch
    * side: the dedup gate's probe, so the two share their arithmetic.
    *
    * Cache lifetime is CALLER-OWNED for the delta token frame (consumed
    * by both the signature pass and the Jaccard verify of the returned
    * lazy plan).
    */
  def incrementalNearDupPairsFromStore(
      storePath: String,
      delta: DataFrame,
      threshold: Double = 0.5,
      asOfVersion: Option[Long] = None): DataFrame = {
    val spark = delta.sparkSession
    val snap = asOfVersion
      .map(v => StoreManifest.snapshotAt(spark, storePath, v))
      .orElse(StoreManifest.currentSnapshot(spark, storePath))
      .getOrElse(sys.error(s"signature store $storePath does not exist"))
    val deltaTok = tokens(delta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    probeSignatureStore(storePath, snap, deltaTok, bands(signatures(deltaTok)), threshold,
      withinBatch = false).drop("origin").orderBy("doc_id", "dup_of")
  }

  /** Probe snapshot `snap` of a signature store with a signed batch —
    * `tok` from [[tokens]], `bk` from [[bands]] — in one candidate join
    * and one verify: `bk` is broadcast against the stored bands (origin
    * "store") and, when `withinBatch`, against itself (origin "batch",
    * kept only where the other doc's id is the smaller). The batch doc's
    * tokens come from `tok`, the other doc's from the stored tokens
    * (∪ `tok` when `withinBatch`). Tombstoned docs are anti-joined out of
    * both stored frames. Output (doc_id, dup_of, jaccard, origin),
    * doc_id the batch doc, unordered.
    */
  private[graft] def probeSignatureStore(
      storePath: String,
      snap: StoreManifest.Snapshot,
      tok: DataFrame,
      bk: DataFrame,
      threshold: Double,
      withinBatch: Boolean): DataFrame = {
    val spark = tok.sparkSession
    def live(df: DataFrame): DataFrame =
      storeComponent(spark, storePath, snap, "tombstones").fold(df)(t =>
        df.join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti"))
    val storeTok = live(storeComponent(spark, storePath, snap, "tokens").get)
    val storeBk = live(storeComponent(spark, storePath, snap, "bands").get)
      .withColumn("origin", lit("store"))
    val otherTok = if (withinBatch) storeTok.unionByName(tok) else storeTok
    val otherBk =
      if (withinBatch) storeBk.unionByName(bk.withColumn("origin", lit("batch"))) else storeBk
    val cand = otherBk
      .join(broadcast(bk.withColumnRenamed("doc_id", "new_id")), BandKeys)
      .filter(col("origin") === "store" || col("doc_id") < col("new_id"))
      .select(col("new_id").as("doc_id"), col("doc_id").as("dup_of"), col("origin"))
      .distinct()
    verifiedJaccard(cand, tok, otherTok, "doc_id", "dup_of", threshold, wide = false)
  }

  /** Full-corpus duplicate clusters at LINEAR candidate cost — the shape a
    * 100 TB dedup actually runs. Enumerating every near-dup pair is
    * inherently quadratic in cluster size (a B-doc template cluster is
    * B(B-1)/2 pairs); the keep/drop decision doesn't need the pairs, only
    * the connectivity. So: within every band bucket, link each member to
    * the bucket's MINIMUM doc_id (B-1 edges per bucket — one window pass,
    * no self-join at all), then run distributed connected components over
    * the union of edges. Two docs share a component iff they are joined by
    * a chain of shared band buckets — the same transitive closure
    * pair-enumeration + CC would produce, without ever materializing the
    * quadratic candidate set. No slice, no broadcast, no driver state.
    *
    * Output: (doc_id, cluster_id, cluster_size, keep) for EVERY document
    * (singletons form their own cluster); cluster_id = min doc_id of the
    * component, keep = exactly the cluster minimum — the same
    * keeper-election rule as exact-dedup q66.
    */
  def lshDedupClusters(docs: DataFrame, sizesViaAgg: Boolean = false): DataFrame = {
    val bk = bands(signatures(tokens(docs)))
    // bucket minimum via groupBy + equi-join, NOT a window: the aggregate
    // gets map-side partials and the join gets AQE skew-splitting, so a
    // degenerate hot bucket (boilerplate docs sharing one signature)
    // spreads across reducers instead of sorting in a single window task.
    // Edge count stays linear: B-1 edges per B-member bucket.
    val keys = Seq("band", "k1", "k2")
    val roots = bk.groupBy(keys.map(col): _*).agg(min("doc_id").as("root"))
    val edges = bk
      .join(roots, keys)
      .filter(col("doc_id") =!= col("root"))
      .select(col("doc_id").as("a"), col("root").as("b"))
      .distinct()
      // persist + materialize: connectedComponents unions edges with
      // their swap, and an unpersisted lineage would run the whole
      // tokenize -> 64-min-hash -> bands pipeline once per union branch
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the labels are lineage-truncated, so the edges can go on success
    // and must go when an action throws
    val cc = try {
      edges.count()
      Clusters.connectedComponents(edges)
    } finally edges.unpersist(false)
    val labeled = docs.select(col("doc_id"))
      .join(cc.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    // size via Clusters.withClusterSizes: the shipped plan is the
    // one-exchange window; sizesViaAgg = true swaps in the
    // AQE-skew-splittable groupBy + join-back for degenerate corpora
    Clusters.withClusterSizes(labeled, sizesViaAgg)
      .select(
        col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("keep"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[lshDedupClusters]]: identical signatures/bands,
    * bucket-min edges, recursive transitive closure (min reachable id).
    */
  def clustersOracleSql: String = {
    val minCols = seeds.zipWithIndex
      .map { case ((a, b), i) => s"min((x*$a+$b)%$P) AS m$i" }
      .mkString(",\n    ")
    val sigList = (0 until K).map(i => s"m$i").mkString("[", ", ", "]")
    s"""WITH RECURSIVE tok AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents),
       |tx AS (
       |  SELECT doc_id, CAST(list_reduce(
       |    list_transform(range(1, 8),
       |      i -> instr('0123456789abcdef', substr(md5(tok), i, 1)) - 1),
       |    (acc, v) -> acc * 16 + v) AS BIGINT) AS x
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)),
       |mins AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM tx GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, band, sig[2*band+1] AS k1, sig[2*band+2] AS k2
       |  FROM (SELECT doc_id, $sigList AS sig FROM mins),
       |       (SELECT unnest(range(0, $Bands)) AS band)),
       |roots AS (
       |  SELECT band, k1, k2, min(doc_id) AS root
       |  FROM bands GROUP BY 1, 2, 3),
       |e0 AS (
       |  SELECT DISTINCT x.doc_id AS a, r.root AS b
       |  FROM bands x JOIN roots r USING (band, k1, k2)
       |  WHERE x.doc_id <> r.root),
       |edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
       |reach(v, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.v = e.b),
       |cc AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
       |SELECT cc.doc_id, cc.cluster_id,
       |  CAST(sizes.cluster_size AS BIGINT) AS cluster_size,
       |  cc.doc_id = cc.cluster_id AS keep
       |FROM cc JOIN sizes USING (cluster_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB SQL replicating [[incrementalNearDupPairs]] exactly. */
  def incrementalOracleSql(deltaMod: Int = 5, threshold: Double = 0.5): String = {
    val minCols = seeds.zipWithIndex
      .map { case ((a, b), i) => s"min((x*$a+$b)%$P) AS m$i" }
      .mkString(",\n    ")
    val sigList = (0 until K).map(i => s"m$i").mkString("[", ", ", "]")
    s"""WITH tok AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents),
       |tx AS (
       |  SELECT doc_id, CAST(list_reduce(
       |    list_transform(range(1, 8),
       |      i -> instr('0123456789abcdef', substr(md5(tok), i, 1)) - 1),
       |    (acc, v) -> acc * 16 + v) AS BIGINT) AS x
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)),
       |mins AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM tx GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b, sig[2*b+1] AS k1, sig[2*b+2] AS k2
       |  FROM (SELECT doc_id, $sigList AS sig FROM mins),
       |       (SELECT unnest(range(0, $Bands)) AS b)),
       |cand AS (
       |  SELECT DISTINCT d.doc_id AS doc_id, e.doc_id AS dup_of
       |  FROM bands d JOIN bands e
       |    ON d.b = e.b AND d.k1 = e.k1 AND d.k2 = e.k2
       |  WHERE d.doc_id % $deltaMod = 0 AND e.doc_id % $deltaMod <> 0),
       |ver AS (
       |  SELECT cand.doc_id, cand.dup_of,
       |    round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
       |      / len(list_distinct(list_concat(ta.toks, tb.toks))), 4) AS jaccard
       |  FROM cand
       |  JOIN tok ta ON ta.doc_id = cand.doc_id
       |  JOIN tok tb ON tb.doc_id = cand.dup_of)
       |SELECT doc_id, dup_of, jaccard FROM ver
       |WHERE jaccard >= $threshold ORDER BY doc_id, dup_of""".stripMargin
  }

  /** DuckDB SQL replicating [[lshNearDupPairs]] exactly (same constants,
    * same arithmetic), for the driver's oracle compare.
    */
  def oracleSql(
      sliceMax: Long = 100L,
      threshold: Double = 0.5,
      hotBandMax: Option[Long] = None): String = {
    val minCols = seeds.zipWithIndex
      .map { case ((a, b), i) => s"min((x*$a+$b)%$P) AS m$i" }
      .mkString(",\n    ")
    val sigList = (0 until K).map(i => s"m$i").mkString("[", ", ", "]")
    // the hot-bucket guard drops BAND ROWS in buckets above the cap on
    // both join sides (Lsh.guardHotBuckets) — replicated as a windowed
    // bucket count over the bands CTE
    val bandsSrc = hotBandMax.fold("bands")(_ => "guardedbands")
    val guardCte = hotBandMax.fold("") { cap =>
      s""",
         |guardedbands AS (
         |  SELECT doc_id, b, k1, k2 FROM (
         |    SELECT *, count(*) OVER (PARTITION BY b, k1, k2) AS bsz
         |    FROM bands)
         |  WHERE bsz <= $cap)""".stripMargin
    }
    s"""WITH tok AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents),
       |tx AS (
       |  SELECT doc_id, CAST(list_reduce(
       |    list_transform(range(1, 8),
       |      i -> instr('0123456789abcdef', substr(md5(tok), i, 1)) - 1),
       |    (acc, v) -> acc * 16 + v) AS BIGINT) AS x
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)),
       |mins AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM tx GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b, sig[2*b+1] AS k1, sig[2*b+2] AS k2
       |  FROM (SELECT doc_id, $sigList AS sig FROM mins),
       |       (SELECT unnest(range(0, $Bands)) AS b))$guardCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM $bandsSrc a JOIN $bandsSrc c
       |    ON a.b = c.b AND a.k1 = c.k1 AND a.k2 = c.k2 AND a.doc_id < c.doc_id
       |  WHERE a.doc_id < $sliceMax),
       |ver AS (
       |  SELECT doc_a, doc_b,
       |    round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
       |      / len(list_distinct(list_concat(ta.toks, tb.toks))), 4) AS jaccard
       |  FROM cand
       |  JOIN tok ta ON ta.doc_id = doc_a
       |  JOIN tok tb ON tb.doc_id = doc_b)
       |SELECT doc_a, doc_b, jaccard FROM ver
       |WHERE jaccard >= $threshold ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB oracle for [[lshNearDupPairsPlanned]]: [[oracleSql]] with
    * the banding generalized to (bands, rowsPerBand) — band b's key is
    * its r min-hashes cast to VARCHAR and ':'-joined, exactly
    * [[bandsWith]]'s concat_ws. Same verify arithmetic.
    */
  def plannedOracleSql(
      plan: (Int, Int),
      sliceMax: Long = 100L,
      threshold: Double = 0.5): String = {
    val (bN, r) = plan
    require(bN >= 1 && r >= 1 && bN * r <= K)
    val minCols = seeds.zipWithIndex
      .map { case ((a, b), i) => s"min((x*$a+$b)%$P) AS m$i" }
      .mkString(",\n    ")
    val sigList = (0 until K).map(i => s"m$i").mkString("[", ", ", "]")
    s"""WITH tok AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents),
       |tx AS (
       |  SELECT doc_id, CAST(list_reduce(
       |    list_transform(range(1, 8),
       |      i -> instr('0123456789abcdef', substr(md5(tok), i, 1)) - 1),
       |    (acc, v) -> acc * 16 + v) AS BIGINT) AS x
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)),
       |mins AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM tx GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b,
       |    array_to_string(list_transform(range(0, $r),
       |      j -> CAST(sig[$r*b + j + 1] AS VARCHAR)), ':') AS bkey
       |  FROM (SELECT doc_id, $sigList AS sig FROM mins),
       |       (SELECT unnest(range(0, $bN)) AS b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM bands a JOIN bands c
       |    ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id
       |  WHERE a.doc_id < $sliceMax),
       |ver AS (
       |  SELECT doc_a, doc_b,
       |    round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
       |      / len(list_distinct(list_concat(ta.toks, tb.toks))), 4) AS jaccard
       |  FROM cand
       |  JOIN tok ta ON ta.doc_id = doc_a
       |  JOIN tok tb ON tb.doc_id = doc_b)
       |SELECT doc_a, doc_b, jaccard FROM ver
       |WHERE jaccard >= $threshold ORDER BY doc_a, doc_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // Cross-source duplication matrix (q151): WHICH crawls duplicate each
  // other — the provenance question a curation team asks before buying
  // or re-crawling a source (a source that is 80% near-dups of an
  // already-held one adds little). Rides the full-corpus guarded pair
  // machinery (the q68 shape); the matrix fold is one tiny keyed
  // aggregate over the pair set.
  //
  // Determinism: per-pair jaccard (already 4dp) is quantized to integer
  // millionths BEFORE the sum (the q90 no-float-crosses-a-shuffle rule
  // — a double sum's value depends on partition order; a long sum does
  // not), and the mean is ONE exact-long division at the end.
  // -------------------------------------------------------------------

  /** Near-dup pair counts and mean jaccard per unordered source pair:
    * (source_lo, source_hi, pairs, avg_j_q) — avg_j_q is the mean
    * per-pair jaccard in integer millionths (double: exact-long sum /
    * exact count), ordered pairs desc. Self-cells (lo = hi) measure
    * intra-source duplication; off-diagonal cells measure overlap.
    */
  def sourceDupMatrix(
      docs: DataFrame,
      threshold: Double = 0.5,
      hotBandMax: Option[Long] = Some(64L)): DataFrame = {
    // guarded by default: the matrix is an AGGREGATE view of the pair
    // set, and the unguarded full-corpus pair enumeration on a hot
    // vocabulary is answer-size-quadratic (observed 57 s vs 3.5 s at
    // sf0.1). The guard's documented loss (a pair whose EVERY shared
    // bucket is hot) biases each cell by at most the same bound the
    // pairs_full_guarded scale cell carries — the right trade for a
    // provenance summary.
    val pairs = lshNearDupPairs(docs, sliceMax = None, threshold = threshold,
      hotBandMax = hotBandMax)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(
        least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"),
        floor(col("jaccard") * 1000000.0 + 0.5).cast("long").as("j_q"))
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("pairs"), sum(col("j_q")).as("sum_j_q"))
      .select(col("source_lo"), col("source_hi"), col("pairs"),
        (col("sum_j_q") / col("pairs")).as("avg_j_q"))
      .orderBy(desc("pairs"), asc("source_lo"), asc("source_hi"))
  }

  /** DuckDB oracle for [[sourceDupMatrix]]: the full-corpus pair oracle
    * as a subquery, the same quantize-then-sum fold.
    */
  def sourceDupMatrixOracleSql(
      threshold: Double = 0.5,
      hotBandMax: Option[Long] = Some(64L)): String =
    s"""WITH allpairs AS (
       |  SELECT * FROM (
       |${oracleSql(sliceMax = Long.MaxValue, threshold = threshold, hotBandMax = hotBandMax)}
       |  )),
       |srcs AS (SELECT doc_id, source FROM documents)
       |SELECT least(sa.source, sb.source) AS source_lo,
       |  greatest(sa.source, sb.source) AS source_hi,
       |  CAST(count(*) AS BIGINT) AS pairs,
       |  sum(CAST(floor(jaccard * 1000000.0 + 0.5) AS BIGINT))
       |    / count(*) AS avg_j_q
       |FROM allpairs
       |JOIN srcs sa ON sa.doc_id = allpairs.doc_a
       |JOIN srcs sb ON sb.doc_id = allpairs.doc_b
       |GROUP BY 1, 2
       |ORDER BY pairs DESC, source_lo, source_hi""".stripMargin
}
