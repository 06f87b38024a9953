package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over the corpus — the index-side complement to
  * the similarity-search family (q24/q29/q44/q82/q107): score documents
  * against term queries with Okapi BM25, and locate exact phrases at
  * token positions. A training-data pipeline runs these constantly:
  * "find the docs about X" (curation spot-checks), "which docs contain
  * this exact sentence" (contamination forensics, attribution).
  *
  * Public-knowledge construction: Robertson & Spärck Jones's BM25 as
  * published (Robertson et al., TREC-3; the k1/b form every search
  * engine ships).
  *
  * Determinism: per-(doc, term) scores mix exact integers (tf, df, dl,
  * N, Σdl) through one `ln` and a fixed-order arithmetic chain, then are
  * quantized to integer 1e-6 BEFORE the per-doc sum (the q90 discipline
  * — no float crosses a shuffle; ranking compares exact longs).
  *
  * Shape, scale-first (BM25):
  *   - query postings ((query_id, tok), a few dozen rows) BROADCAST —
  *     the corpus token stream joins them map-side; only the matched
  *     sliver (corpus rows containing query terms) survives into any
  *     shuffle.
  *   - tf = ONE (doc_id, query_id, tok)-keyed count with map-side
  *     partials — doc_id in the key, so a hot query term cannot hot-key
  *     the aggregate (the q69/q74 discipline).
  *   - df = ONE tok-keyed count over the matched distinct pairs; output
  *     bounded by the query vocabulary, map-side partials absorb hot
  *     terms; it is broadcast back (≤ |query vocab| rows).
  *   - dl is computed IN-ROW (size of the filtered token array — no
  *     per-doc aggregate); N and Σdl ride the 1-row broadcast scalar
  *     pattern.
  *   - top-k per query: rank over (query_id) windows — bounded by the
  *     matched sliver, and only k rows per query survive.
  */
object Retrieval {

  /** Default term queries over the synthetic corpus vocabulary. */
  val DefaultQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("hash", "join", "merge"),
    2L -> Seq("stream", "window", "agg"),
    3L -> Seq("vector", "scan", "filter"))

  /** Okapi BM25 top-`topK` documents per query.
    *
    * score(d, q) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), the classic
    * plus-one form that never goes negative. dl/avgdl is computed as
    * (dl·N)/Σdl — ONE exact-integer product then ONE double division,
    * so both engines hit the same correctly-rounded double.
    *
    * Output: (query_id, doc_id, score, rnk), rnk ≤ topK per query,
    * score = the quantized per-term sum restored to 4 decimals.
    * Query terms must be plain vocabulary tokens (no SQL quoting).
    */
  def bm25TopK(
      docs: DataFrame,
      queries: Seq[(Long, Seq[String])] = DefaultQueries,
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty))
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok")

    // in-row doc length: the SAME token test the tf stream applies.
    // (r18: a Spread.widen here was A/B'd and REVERTED — the matched
    // sliver is query-vocab-bounded, so the heavy explode dies at the
    // broadcast join map-side and the added text exchange cost more
    // than it parallelized on this ~1.5 s row.)
    val body = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))

    // corpus scalars as a 1-row broadcast (the q61 pattern)
    val scalars = body.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

    // matched sliver: only tokens that appear in some query survive.
    // PERSISTED (r19): both the tf aggregate and the document-frequency
    // aggregate consume it, and without the cache each consumer re-ran
    // the full corpus tokenize + explode + broadcast probe (Spark shares
    // no common subexpressions across a DAG). The sliver is query-vocab-
    // bounded — tiny at any corpus size — so caching it trades one
    // corpus pass for a bounded block; lifetime caller-owned (the
    // [[graft.ops.NearDup]] discipline).
    val matched = body
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .join(broadcast(qterms), "tok")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val tf = matched
      .groupBy("doc_id", "query_id", "tok")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

    // document frequency per matched term (query-vocab-bounded output)
    val dfreq = matched
      .select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))

    val scored = tf
      .join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(scalars))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("tfn",
        col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") * col("n_docs")) / col("sum_dl"))))
      // quantize the per-term score BEFORE the per-doc sum: the shuffle
      // carries exact longs, ranking compares exact longs
      .withColumn("sq",
        floor(col("idf") * col("tfn") * 1000000.0 + 0.5).cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("sq")).as("score_q"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("score_q"), asc("doc_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("doc_id"),
        round(col("score_q") / 1000000.0, 4).as("score"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  // -------------------------------------------------------------------
  // Materialized inverted index — the q78/q98 incremental contract for
  // retrieval. [[bm25TopK]] re-tokenizes the whole corpus per query
  // batch; at 100 TB the index is built ONCE, appended per nightly
  // batch, and a query reads only its own terms' postings:
  //
  //   - postings are hash-bucketed on the term (`bucket = crc32(tok) %
  //     nBuckets` as a partition column) — a query's scan is pruned to
  //     ≤ |query vocab| buckets of the (already tiny, text-free) index,
  //     never the corpus. Buckets, not one-directory-per-term: a crawl
  //     vocabulary is 10⁶–10⁹ terms, and bounded directory fanout is
  //     the lakehouse-safe layout. dl rides denormalized on each
  //     posting row (classic index layout), so scoring never joins a
  //     doc-length table.
  //   - corpus scalars (N, Σdl) are per-batch monoid partials in the
  //     `stats` component (one row per write — the q103 discipline),
  //     summed at query time; df comes from a count over the PRUNED
  //     postings.
  //   - `doclens` keeps (doc_id, dl) — one row per indexed doc, the
  //     forward index that lets a delete validate its targets and
  //     derive the exact stats correction without trusting the
  //     caller's text (and without scanning the term-scale postings).
  //   - every mutation publishes through [[StoreManifest]]: data dirs
  //     are immutable, the manifest pointer is the only mutable file,
  //     appends/compactions are atomic, crash at any point leaves the
  //     previous snapshot fully serveable, and `asOfVersion` reads
  //     any retained snapshot (RetrievalSpec pins readAsOf(v) ≡ the
  //     store rebuilt from the first v batches).
  //   - append = write the delta batch's postings/stats/doclens dirs +
  //     one manifest publish; RetrievalSpec pins base+delta store
  //     scoring bit-equal to [[bm25TopK]] on the union corpus. (Doc
  //     ids must be fresh per append — the signature-store contract.)
  // -------------------------------------------------------------------

  /** Postings rows for one corpus batch: (bucket, tok, doc_id, tf, dl). */
  private def postingsOf(docs: DataFrame, nBuckets: Int): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .withColumn("bucket", pmod(crc32(col("tok")), lit(nBuckets)).cast("int"))

  /** One-row (n_docs, sum_dl) partial for one corpus batch. */
  private def statsOf(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(size(expr("filter(split(text, ' '), x -> x <> '')"))
        .cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))

  /** (doc_id, dl) forward index for one corpus batch — the same doc set
    * and tokenizer as [[statsOf]] (a text-non-null doc with zero tokens
    * still counts, dl 0), so the delete path's per-doc corrections sum
    * to exactly what indexing added.
    */
  private def doclensOf(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(expr("filter(split(text, ' '), x -> x <> '')"))
          .cast("long").as("dl"))

  /** The postings store: bucket-partitioned postings, per-write stats
    * partials and the doclens forward index.
    */
  private[ops] val PostingsStore = StoreManifest.Kind("postings store", Map(
    "postings" -> "tok STRING, doc_id LONG, tf LONG, dl LONG, bucket INT",
    "stats" -> "n_docs LONG, sum_dl LONG",
    "doclens" -> "doc_id LONG, dl LONG",
    "tombstones" -> "doc_id LONG"),
    partitionBy = Map("postings" -> "bucket"))

  /** Write one batch's three data dirs. */
  private def writeBatchDirs(
      docs: DataFrame, nBuckets: Int, w: StoreManifest.Writer): Unit = {
    w("postings", postingsOf(docs, nBuckets))
    w("stats", statsOf(docs))
    w("doclens", doclensOf(docs))
  }

  /** Build the index from the base corpus: data dirs + manifest v1. */
  def writePostingsStore(docs: DataFrame, dir: String, nBuckets: Int = 64): Unit =
    PostingsStore.at(docs.sparkSession, dir).create(writeBatchDirs(docs, nBuckets, _))

  /** Append one delta batch (fresh doc_ids — the store contract): three
    * new data dirs, ONE manifest publish — a crash before the publish
    * leaves the previous snapshot serving, never a torn append.
    *
    * `batchId` is the streaming exactly-once hook: foreachBatch is
    * at-least-once, so a replayed batch re-arrives with an id ≤ the
    * manifest's watermark and is skipped BEFORE any write. Batch calls
    * leave it at -1 (no watermark movement).
    */
  def appendPostingsStore(
      delta: DataFrame, dir: String, nBuckets: Int = 64,
      batchId: Long = -1L): Unit =
    PostingsStore.at(delta.sparkSession, dir).append(batchId)((_, w) =>
      writeBatchDirs(delta, nBuckets, w))

  /** Tombstone deleted docs — O(|deleted|), no postings dir touched
    * (the lakehouse delete shape): validated ids land in a new
    * `tombstones` dir, and a NEGATIVE stats partial keeps the store's
    * (N, Σdl) scalars exact, so BM25's idf/avgdl reflect the live
    * corpus immediately. Serving anti-joins the tombstones
    * ([[bm25TopKFromStore]]); df is counted AFTER that filter, so a
    * deleted doc stops contributing to term rarity the moment the
    * delete publishes.
    *
    * Idempotent and self-validating: `deletedIds` (a doc_id frame) is
    * first restricted to docs actually LIVE in the store — semi-join
    * against the `doclens` forward index, anti-join against existing
    * tombstones — and the stats correction is derived from the STORED
    * dl of exactly those docs. Double-deleting a doc, or deleting one
    * never indexed, is a provable no-op (no phantom negative partial —
    * the r14 advisory); a delete that validates to nothing publishes
    * nothing.
    */
  def deleteFromPostingsStore(deletedIds: DataFrame, dir: String): Unit = {
    val store = PostingsStore.at(deletedIds.sparkSession, dir)
    store.append() { (cur, w) =>
      val valid = store.live(cur, "doclens")
        .join(broadcast(deletedIds.select("doc_id").distinct()), Seq("doc_id"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val agg = valid
          .agg(count(lit(1)).as("n_docs"), coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
          .collect()(0)
        if (agg.getLong(0) > 0) {
          w("tombstones", valid.select("doc_id"))
          w("stats", valid
            .agg((-count(lit(1))).as("n_docs"),
              (-coalesce(sum(col("dl")), lit(0L))).as("sum_dl")))
        }
      } finally valid.unpersist(false)
    }
  }

  /** Fold the tombstones into the files: rewrite postings/doclens minus
    * tombstoned docs (bucket partitioning preserved — the pruning
    * layout survives), collapse the stats partials to ONE row, publish
    * a manifest referencing ONLY the rewritten dirs (tombstones gone).
    * Never an in-place rewrite and never a swap window: the previous
    * snapshot's dirs are untouched, a crash anywhere before the single
    * manifest rename leaves it serving bit-for-bit, and concurrent
    * readers that resolved it keep reading it. After compaction the
    * store is logically identical to an index rebuilt from the
    * surviving corpus (RetrievalSpec pins postings/stats/scoring
    * equality bit-for-bit); pre-compact snapshots remain readable via
    * `asOfVersion` until [[StoreManifest.vacuum]].
    */
  def compactPostingsStore(spark: SparkSession, dir: String): Unit = {
    val store = PostingsStore.at(spark, dir)
    val cur = store.snapshot()
    store.compact(cur) { w =>
      w("postings", store.live(cur, "postings"))
      w("stats", store.read(cur, "stats")
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl")))
      w("doclens", store.live(cur, "doclens"))
    }
  }

  /** [[bm25TopK]] served from the store: same arithmetic, but the scan
    * is the bucket-pruned postings slice instead of the corpus; live
    * docs only (tombstones anti-joined — broadcast, the deleted set is
    * the small side by contract). Output bit-equal to [[bm25TopK]] over
    * the same logical corpus (spec-pinned).
    *
    * `asOfVersion` serves any retained snapshot — the store exactly as
    * of that publish (appends after it invisible, deletes after it
    * still serving), bit-equal to a store built from only the batches
    * folded by then (spec-pinned).
    */
  def bm25TopKFromStore(
      spark: SparkSession,
      dir: String,
      queries: Seq[(Long, Seq[String])] = DefaultQueries,
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      nBuckets: Int = 64,
      asOfVersion: Option[Long] = None): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty))
    import spark.implicits._
    val store = PostingsStore.at(spark, dir)
    val snap = store.snapshot(asOfVersion)
    val terms = queries.flatMap(_._2).distinct
    val termBuckets = terms.map { t =>
      val c = new java.util.zip.CRC32()
      c.update(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (c.getValue % nBuckets).toInt
    }.distinct
    val qterms = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok")

    // partition-pruned: only the query terms' buckets are listed/read;
    // tombstoned docs filtered BEFORE df so term rarity is live-corpus
    val matched = store.live(snap, "postings")
      .filter(col("bucket").isin(termBuckets.map(Int.box): _*))
      .join(broadcast(qterms), "tok")

    val scalars = store.read(snap, "stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))

    // df over the pruned slice = global df of each query term (postings
    // hold every doc containing the term); output query-vocab-bounded
    val dfreq = matched
      .select("tok", "doc_id").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))

    val scored = matched
      .join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(scalars))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("tfn",
        col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") * col("n_docs")) / col("sum_dl"))))
      .withColumn("sq",
        floor(col("idf") * col("tfn") * 1000000.0 + 0.5).cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("sq")).as("score_q"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("score_q"), asc("doc_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("doc_id"),
        round(col("score_q") / 1000000.0, 4).as("score"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  // -------------------------------------------------------------------
  // Boolean retrieval (q137): docs containing ALL `must` terms and NONE
  // of the `mustNot` terms — the curation/compliance filter every
  // corpus pipeline runs ("English docs mentioning X but not Y") and
  // the predicate leg of every hand-rolled RAG filter. Classic
  // posting-list evaluation re-expressed relationally:
  //   AND  = one (query, doc)-keyed count over the matched postings,
  //          kept when it equals |must| (set-intersection as an
  //          aggregate — doc_id in the key, hot terms can't hot-key it);
  //   NOT  = one broadcast anti-join on the mustNot postings' doc set
  //          (query-vocab-bounded, tiny by construction).
  // The corpus text is scanned once (in-memory form) or never (store
  // form: bucket-pruned postings slice, tombstones anti-joined first).
  // -------------------------------------------------------------------

  /** Default boolean queries over the synthetic corpus vocabulary:
    * (query_id, must-contain-all, must-contain-none).
    */
  val DefaultBoolQueries: Seq[(Long, Seq[String], Seq[String])] = Seq(
    (1L, Seq("hash", "join"), Seq("stream")),
    (2L, Seq("vector"), Seq("scan", "filter")),
    (3L, Seq("window"), Seq.empty))

  /** Boolean retrieval over (doc_id, tok) distinct term incidences —
    * shared evaluator for the corpus and store forms. `incidences` may
    * carry duplicates; they are collapsed here so a term repeated in a
    * doc counts once toward the AND.
    */
  private def booleanEval(
      incidences: DataFrame,
      queries: Seq[(Long, Seq[String], Seq[String])]): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "every boolean query needs at least one must term")
    require(queries.forall { case (_, m, n) => m.intersect(n).isEmpty },
      "a term cannot be both must and mustNot")
    val spark = incidences.sparkSession
    import spark.implicits._
    // ONE corpus pass for both legs: must and mustNot terms ride one
    // role-flagged broadcast applied BELOW the dedup (the map-side
    // filter leaves only the query-vocab sliver, so the distinct
    // shuffles matches, never the corpus), and the sliver is
    // checkpointed so the AND aggregate and the NOT set both read one
    // materialization — the token scan never runs twice.
    val terms = queries
      .flatMap { case (qid, ms, ns) =>
        ms.distinct.map(t => (qid, t, "m")) ++
          ns.distinct.map(t => (qid, t, "n"))
      }
      .toDF("query_id", "tok", "role")
    val mustCnt = queries
      .map { case (qid, ms, _) => (qid, ms.distinct.size.toLong) }
      .toDF("query_id", "need")
    val hasNeg = queries.exists(_._3.nonEmpty)
    val matched0 = incidences.select("doc_id", "tok")
      .join(broadcast(terms), "tok")
      .select("query_id", "doc_id", "tok", "role").distinct()
      .select("query_id", "doc_id", "role")
    // negations read `matched` twice (hits + excluded) — materialize once,
    // dir-aware reliable so the second read survives executor loss
    val matched = if (hasNeg) Checkpoints.materialize(matched0) else matched0
    val hits = matched.filter(col("role") === "m")
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("got"))
      .join(broadcast(mustCnt), "query_id")
      .filter(col("got") === col("need"))
      .select("query_id", "doc_id")
    val out =
      if (!hasNeg) hits
      else {
        val neg = matched.filter(col("role") === "n")
          .select("query_id", "doc_id").distinct()
        hits.join(broadcast(neg), Seq("query_id", "doc_id"), "left_anti")
      }
    out.orderBy("query_id", "doc_id")
  }

  /** Boolean retrieval over the corpus: one text scan, the same
    * whitespace tokenizer as [[bm25TopK]]. Output (query_id, doc_id).
    */
  def booleanSearch(
      docs: DataFrame,
      queries: Seq[(Long, Seq[String], Seq[String])] = DefaultBoolQueries): DataFrame =
    booleanEval(
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), x -> x <> '')")).as("tok")),
      queries)

  /** [[booleanSearch]] served from the postings store: the scan is the
    * bucket-pruned postings slice for the queries' terms (must AND
    * mustNot — a NOT needs its term's postings to know which docs to
    * exclude), tombstones anti-joined first so deleted docs neither
    * match nor exclude. Bit-equal to the corpus form over the same
    * logical corpus (spec-pinned); `asOfVersion` serves any retained
    * snapshot.
    */
  def booleanSearchFromStore(
      spark: SparkSession,
      dir: String,
      queries: Seq[(Long, Seq[String], Seq[String])] = DefaultBoolQueries,
      nBuckets: Int = 64,
      asOfVersion: Option[Long] = None): DataFrame = {
    val store = PostingsStore.at(spark, dir)
    val snap = store.snapshot(asOfVersion)
    val terms = queries.flatMap { case (_, m, n) => m ++ n }.distinct
    val termBuckets = terms.map { t =>
      val c = new java.util.zip.CRC32()
      c.update(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (c.getValue % nBuckets).toInt
    }.distinct
    val live = store.live(snap, "postings")
      .filter(col("bucket").isin(termBuckets.map(Int.box): _*))
      .filter(col("tok").isin(terms: _*))
    booleanEval(live.select("doc_id", "tok"), queries)
  }

  /** DuckDB oracle for [[booleanSearch]] — the same distinct-incidence
    * count-equals-|must| AND and anti-join NOT.
    */
  def booleanSearchOracleSql(
      queries: Seq[(Long, Seq[String], Seq[String])] = DefaultBoolQueries): String = {
    val mustRows = queries
      .flatMap { case (qid, ms, _) => ms.distinct.map(t => s"(CAST($qid AS BIGINT), '$t')") }
      .mkString(", ")
    val needRows = queries
      .map { case (qid, ms, _) => s"(CAST($qid AS BIGINT), CAST(${ms.distinct.size} AS BIGINT))" }
      .mkString(", ")
    val negPairs = queries.flatMap { case (qid, _, ns) => ns.distinct.map(qid -> _) }
    val negClause =
      if (negPairs.isEmpty) ""
      else {
        val negRows = negPairs
          .map { case (qid, t) => s"(CAST($qid AS BIGINT), '$t')" }
          .mkString(", ")
        s"""AND NOT EXISTS (
           |  SELECT 1 FROM toks tn JOIN (VALUES $negRows) n(query_id, tok) USING (tok)
           |  WHERE n.query_id = sel.query_id AND tn.doc_id = sel.doc_id)""".stripMargin
      }
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |    FROM documents WHERE text IS NOT NULL)),
       |sel AS (
       |  SELECT m.query_id, t.doc_id
       |  FROM toks t JOIN (VALUES $mustRows) m(query_id, tok) USING (tok)
       |  GROUP BY 1, 2
       |  HAVING count(*) = (
       |    SELECT c.need FROM (VALUES $needRows) c(query_id, need)
       |    WHERE c.query_id = m.query_id))
       |SELECT query_id, doc_id FROM sel
       |WHERE TRUE $negClause
       |ORDER BY query_id, doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Hybrid retrieval fusion (q135): reciprocal-rank fusion of the BM25
  // lexical shortlist and the IVF-PQ semantic shortlist — the RAG-
  // curation query users compose by hand (publication: Cormack et al.'s
  // RRF — rank-only fusion, robust to incomparable score scales).
  // Exact-integer: contribution = RrfScale div (k + rank), a floor
  // division both engines compute identically, so the fused ordering is
  // oracle-replayable bit-for-bit. Scale shape: both legs are already
  // topK-per-query (tiny frames); the fusion is one union + one
  // (query, doc)-keyed sum + one per-query window over ≤ 2·topK rows.
  // -------------------------------------------------------------------

  /** Fixed-point scale for RRF contributions (1e6: k + rank ≤ ~70 keeps
    * quotients 4-5 digits — distinct ranks stay distinct).
    */
  val RrfScale: Long = 1000000L

  /** Fuse two (query_id, doc_id, rnk) shortlists by reciprocal rank.
    * Output per query: topK docs by fused score — (query_id, doc_id,
    * rrf_q, legs, rnk); `legs` counts the shortlists the doc appeared
    * in (a both-leg doc outranks single-leg docs of similar rank, the
    * RRF selling point).
    */
  def rrfFusion(
      lex: DataFrame,
      sem: DataFrame,
      k: Int = 60,
      topK: Int = 10): DataFrame = {
    require(k >= 1 && topK >= 1)
    val contrib = expr(s"${RrfScale}L div (${k}L + rnk)").as("c")
    val both = lex.select(col("query_id"), col("doc_id"), contrib)
      .unionByName(sem.select(col("query_id"), col("doc_id"), contrib))
    val fused = both
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("rrf_q"), count(lit(1)).as("legs"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("rrf_q"), asc("doc_id"))
    fused
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .orderBy("query_id", "rnk")
  }

  /** q135: [[bm25TopK]] ∪ [[AnnPq.ivfPqTopK]] fused — lexical hits over
    * `documents`, semantic hits over `embeddings`, shared query-id
    * space (BM25's term queries 1..3 meet the ANN query vectors 0..4 on
    * {1,2,3} — both legs contribute there, non-vacuously).
    */
  def hybridTopK(docs: DataFrame, emb: DataFrame): DataFrame =
    rrfFusion(
      bm25TopK(docs).select(col("query_id"), col("doc_id"), col("rnk")),
      AnnPq.ivfPqTopK(emb)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk")))

  /** [[hybridTopK]] served from the PERSISTED indexes: the lexical leg
    * reads the bucket-pruned postings store, the semantic leg the
    * cell-partitioned code table — the corpus text is never
    * re-tokenized and the vectors never re-encoded at query time (the
    * nightly-crawl serving path; `emb` supplies only the query vectors
    * and the broadcast re-rank floats). Bit-equal to the in-memory
    * form over the same logical corpus (spec-pinned), including across
    * store deletes — each leg anti-joins its own tombstones.
    */
  def hybridTopKFromStores(
      spark: SparkSession,
      postingsDir: String,
      pqIndexDir: String,
      emb: DataFrame): DataFrame =
    rrfFusion(
      bm25TopKFromStore(spark, postingsDir)
        .select(col("query_id"), col("doc_id"), col("rnk")),
      AnnPq.ivfPqTopKFromIndex(emb, pqIndexDir)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk")))

  /** DuckDB oracle for [[hybridTopK]]: both legs' published oracles as
    * subqueries, the same floor-division fusion on top.
    */
  def hybridTopKOracleSql(k: Int = 60, topK: Int = 10): String =
    s"""WITH lex AS (
       |  SELECT query_id, doc_id, rnk FROM (
       |${bm25TopKOracleSql().linesIterator.map("    " + _).mkString("\n")}
       |  )),
       |sem AS (
       |  SELECT query_id, neighbor_id AS doc_id, rnk FROM (
       |${AnnPq.ivfPqOracleSql().linesIterator.map("    " + _).mkString("\n")}
       |  )),
       |contribs AS (
       |  SELECT query_id, doc_id, $RrfScale // ($k + rnk) AS c FROM lex
       |  UNION ALL
       |  SELECT query_id, doc_id, $RrfScale // ($k + rnk) AS c FROM sem),
       |fused AS (
       |  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_q,
       |    CAST(count(*) AS BIGINT) AS legs
       |  FROM contribs GROUP BY 1, 2)
       |SELECT query_id, doc_id, rrf_q, legs, rnk FROM (
       |  SELECT query_id, doc_id, rrf_q, legs,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY rrf_q DESC, doc_id) AS BIGINT) AS rnk
       |  FROM fused)
       |WHERE rnk <= $topK
       |ORDER BY query_id, rnk""".stripMargin

  /** DuckDB SQL replicating [[bm25TopK]] over the same parquet corpus. */
  def bm25TopKOracleSql(
      queries: Seq[(Long, Seq[String])] = DefaultQueries,
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): String = {
    val qvals = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => s"($qid, '$t')") }
      .mkString(", ")
    s"""WITH qterms(query_id, tok) AS (VALUES $qvals),
       |body AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |body2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM body),
       |scalars AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM body2),
       |exploded AS (SELECT doc_id, dl, unnest(toks) AS tok FROM body2),
       |matched AS (
       |  SELECT e.doc_id, e.dl, e.tok, q.query_id
       |  FROM exploded e JOIN qterms q USING (tok)),
       |tf AS (
       |  SELECT doc_id, query_id, tok, CAST(count(*) AS BIGINT) AS tf,
       |    any_value(dl) AS dl
       |  FROM matched GROUP BY 1, 2, 3),
       |dfreq AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS df
       |  FROM (SELECT DISTINCT doc_id, tok FROM matched) GROUP BY 1),
       |scored AS (
       |  SELECT query_id, doc_id, CAST(sum(sq) AS BIGINT) AS score_q
       |  FROM (
       |    SELECT tf.query_id, tf.doc_id,
       |      CAST(floor(
       |        ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
       |        * (tf.tf * ${k1 + 1.0} /
       |           (tf.tf + $k1 * ((1.0 - $b) + $b * (tf.dl * s.n_docs) / s.sum_dl)))
       |        * 1000000.0 + 0.5) AS BIGINT) AS sq
       |    FROM tf JOIN dfreq d USING (tok) CROSS JOIN scalars s)
       |  GROUP BY 1, 2)
       |SELECT query_id, doc_id, round(score_q / 1000000.0, 4) AS score, rnk
       |FROM (
       |  SELECT query_id, doc_id, score_q,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS BIGINT) AS rnk
       |  FROM scored)
       |WHERE rnk <= $topK
       |ORDER BY query_id, rnk""".stripMargin
  }

  // -------------------------------------------------------------------
  // Trigram substring search (q142): find documents containing an
  // arbitrary substring — the `LIKE '%pattern%'` query a curation
  // pipeline runs for contamination forensics and boilerplate hunting.
  // A raw LIKE is a full-corpus scan per pattern; the public index
  // answer (PostgreSQL pg_trgm, Google Code Search — Cox's public
  // writeup) is a TRIGRAM index: a doc can contain the pattern only if
  // it contains EVERY trigram of the pattern, so candidates come from
  // an AND over 3-char-gram incidences (the q137 count-equals shape)
  // and the exact `contains` verify touches candidates only.
  //
  // Shape, scale-first: the corpus trigram expansion is a per-row
  // codegen'd transform (no UDF) immediately filtered by the queries'
  // trigram vocabulary — only the matched sliver (rows whose trigram
  // appears in SOME pattern) survives into the distinct/aggregate
  // shuffle, and doc_id rides in the aggregate key so a hot trigram
  // cannot hot-key it. The exact verify is one broadcast join of the
  // (tiny) pattern table against the candidate doc rows. At 100 TB the
  // expansion amortizes into a persisted trigram postings store (the
  // q137 bucket layout, trigram instead of token); the corpus form
  // here is the one-shot query shape.
  // -------------------------------------------------------------------

  /** Default substring queries over the synthetic corpus: a common
    * cross-word phrase, a rare 3-word span, a word-prefix span, and a
    * no-match probe (empty result legs must not break the union).
    */
  val DefaultSubstringQueries: Seq[(Long, String)] = Seq(
    (1L, "merge batch"),
    (2L, "table part a"),
    (3L, "stream filt"),
    (4L, "quantumzz"))

  /** Documents containing each pattern as a raw substring:
    * (query_id, doc_id), totally ordered. Patterns must be ≥ 3 chars
    * (the trigram prefilter needs one full gram) and must not contain
    * single quotes (they are embedded in the oracle SQL verbatim).
    */
  def trigramSearch(
      docs: DataFrame,
      queries: Seq[(Long, String)] = DefaultSubstringQueries): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.length >= 3),
      "every substring query needs a pattern of at least 3 chars")
    require(queries.forall(q => !q._2.contains("'")),
      "patterns must not contain single quotes")
    val spark = docs.sparkSession
    import spark.implicits._
    val patTris = queries.map { case (qid, p) =>
      (qid, p, p.sliding(3).toSeq.distinct)
    }
    val allTris = patTris.flatMap(_._3).distinct
    val triTable = patTris
      .flatMap { case (qid, _, ts) => ts.map(qid -> _) }
      .toDF("query_id", "tri")
    val needTable = patTris
      .map { case (qid, _, ts) => (qid, ts.size.toLong) }
      .toDF("query_id", "need")
    val patTable = queries.toDF("query_id", "pattern")
    // per-row incidence test INVERTED (r18): the query vocabulary is tiny
    // (a few dozen trigrams), so instead of materializing every trigram
    // of every document (len(text) short-lived strings per row, then an
    // isin over each — measured 2.0 s of q142's 3.0 s as one scan task)
    // we probe each query trigram against the text with contains() — a
    // |vocab|-bounded set of intrinsic substring searches per row, no
    // per-character object churn. `tri ∈ doc's trigram set ⟺
    // contains(text, tri)`, and the downstream distinct collapsed
    // occurrence multiplicity anyway, so the (query_id, doc_id, tri)
    // stream is identical. (A query set with thousands of patterns
    // wants the old expansion against a persisted trigram-postings
    // store — the q137 layout — not this probe.)
    val incidences = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(filter(
          array(allTris.map(lit): _*),
          t => col("text").contains(t))).as("tri"))
    val candidates = incidences
      .join(broadcast(triTable), "tri")
      .select("query_id", "doc_id", "tri").distinct()
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("got"))
      .join(broadcast(needTable), "query_id")
      .filter(col("got") === col("need"))
      .select("query_id", "doc_id")
    // exact verify on candidates only: join the pattern in (broadcast,
    // tiny) and re-check against the full text
    candidates
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .join(broadcast(patTable), Seq("query_id"))
      .filter(col("text").contains(col("pattern")))
      .select("query_id", "doc_id")
      .orderBy("query_id", "doc_id")
  }

  /** DuckDB oracle for [[trigramSearch]] — the trigram index is a pure
    * prefilter, so the oracle is the plain contains() scan.
    */
  def trigramSearchOracleSql(
      queries: Seq[(Long, String)] = DefaultSubstringQueries): String = {
    val rows = queries
      .map { case (qid, p) => s"(CAST($qid AS BIGINT), '$p')" }
      .mkString(", ")
    s"""SELECT q.query_id, d.doc_id
       |FROM documents d JOIN (VALUES $rows) q(query_id, pattern)
       |  ON contains(d.text, q.pattern)
       |WHERE d.text IS NOT NULL
       |ORDER BY 1, 2""".stripMargin
  }
}
