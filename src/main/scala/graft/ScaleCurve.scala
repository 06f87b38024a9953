package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-curve harness for the dedup family: synthesizes deterministic
  * N× replicas of the sf0.1 documents/embeddings corpus and times the
  * three at-scale dedup shapes on each, so the "linear in theory" claims
  * (q68 bucket-min clusters, guarded full-corpus pairs, CC over pair
  * graphs) become a measured growth curve instead of one scale point.
  *
  * Replication is structure-preserving and cross-replica independent:
  *
  *   - documents: replica r rotates the lowercase alphabet by r
  *     (`translate`), so every token changes but token EQUALITY within a
  *     replica is preserved — each replica has exactly the original
  *     corpus's shingle-similarity structure, while shingle sets across
  *     replicas are disjoint (no cross-replica near-dups). Near-dup pair
  *     and cluster counts therefore scale exactly linearly by
  *     construction, and measured runtime growth is attributable to the
  *     engine, not to changing similarity density.
  *   - embeddings: replica r circularly shifts vector components by r.
  *     Dot products and norms are permutation-invariant, so intra-replica
  *     cosine structure is EXACT; cross-replica cosines are the cosine of
  *     a vector with a rotated unrelated vector — noise far below the
  *     near-dup threshold.
  *
  * Ids offset by `r × (max_id + 1)`. Everything is a deterministic
  * function of (base row, replica index): re-runs produce byte-identical
  * corpora, no wall-clock or RNG at synthesis time.
  *
  * Usage: `runMain graft.ScaleCurve [baseSfDir workDir f1 f2 ...]`
  * (defaults: /root/testdata/sf0.1 /tmp/graft-scale 1 2 5 10). Emits one
  * markdown table row per (factor, operator) plus a JSON line.
  */
object ScaleCurve {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase
  private val Digit = "0123456789"

  /** N× documents: alphabet-rotated replicas, ids offset per replica.
    * Lower/upper/digit classes each rotate (the tokenizer lowercases, and
    * pure-digit tokens would otherwise survive across replicas and leak
    * cross-replica similarity).
    */
  def scaleDocuments(docs: DataFrame, factor: Int): DataFrame = {
    // the letter rotation has period 26: replica 26 would reuse rotation
    // 0 and leak cross-replica near-dups (observed: a 30x run merged 4
    // replica pairs into shared clusters). Hard-stop inside the period.
    require(factor <= 26, s"scaleDocuments supports factors up to 26, got $factor")
    // cross-replica disjointness relies on every token CHANGING under the
    // rotation, and the rotation only touches letters and digits. Two
    // leak classes, guarded by their exact periods:
    //   - a token with NO letter and NO digit is invariant under EVERY
    //     rotation — identical across all replicas, so it leaks at any
    //     factor > 1. This includes pure punctuation ("--") AND the empty
    //     token: split-on-space emits "" for consecutive/leading/trailing
    //     spaces, the near-dup tokenizer keeps it, and translate() leaves
    //     it unchanged;
    //   - a token with NO letter but some digit (e.g. "3.14") rotates
    //     with the digit period 10 — replicas r and r+10 map it
    //     identically, so it leaks once factor > 10. (Any letter in the
    //     token separates all replicas, since letter rotations are
    //     distinct for every r < 26.)
    // One scan finds the worst class present; require rules it out.
    if (factor > 1) {
      // `*` not `+`: the empty token must match (it is the factor>1 leak
      // class an anchored one-or-more regex can never see)
      val nonLetter = docs
        .select(explode(split(col("text"), " ")).as("t"))
        .filter(col("t").rlike("^[^A-Za-z]*$"))
      val leaky =
        if (factor > 10) nonLetter
        else nonLetter.filter(!col("t").rlike("[0-9]"))
      val hit = leaky.limit(1).collect().headOption.map(_.getString(0))
      require(hit.isEmpty,
        s"factor $factor risks cross-replica token leakage: token '${hit.getOrElse("")}' " +
          "contains no letter, so the alphabet rotation cannot separate replicas " +
          "(the empty token and pure punctuation are rotation-invariant; " +
          "digit rotation period is 10)")
    }
    // stride padded UP to a multiple of 10 so every replica keeps the
    // base's doc_id % 5 AND % 10 residue classes — the q78 incremental
    // cell's delta/base split and the q92 held-out split must land
    // identically in each replica or their "output exactly linear"
    // contracts break for bases whose max id+1 is not ≡ 0 (mod 10).
    // (For the shipped sf corpora the raw stride is already a multiple
    // of 10, so padding changes nothing there.)
    val rawStride = docs.agg(max("doc_id")).head().getLong(0) + 1
    val stride = ((rawStride + 9) / 10) * 10
    def rot(s: String, r: Int): String = s.drop(r % s.length) + s.take(r % s.length)
    (0 until factor).map { r =>
      val from = Lower + Upper + Digit
      val to = rot(Lower, r) + rot(Upper, r) + rot(Digit, r)
      docs.select(
        (col("doc_id") + lit(r * stride)).as("doc_id"),
        (if (r == 0) col("text") else translate(col("text"), from, to)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_.union(_))
  }

  /** N× embeddings: component-rotated replicas, ids offset per replica.
    * The rotation's period is the vector dimensionality — replica `dim`
    * would reuse shift 0 and be an EXACT duplicate of replica 0 — so the
    * factor is bounded by the measured dim of the corpus.
    */
  def scaleEmbeddings(emb: DataFrame, factor: Int): DataFrame = {
    val dim = emb.select(size(col("embedding")).as("d")).agg(min("d")).head().getInt(0)
    require(factor <= dim,
      s"scaleEmbeddings supports factors up to the vector dim ($dim), got $factor")
    // padded to a multiple of 50 so every replica keeps the base's
    // vec_id % 50 residue classes — the q98 incremental cell's delta
    // split (vec_id % 50 = 17) must land identically in each replica
    val rawStride = emb.agg(max("vec_id")).head().getLong(0) + 1
    val stride = ((rawStride + 49) / 50) * 50
    val dimCol = size(col("embedding"))
    (0 until factor).map { r =>
      val shifted =
        if (r == 0) col("embedding")
        else concat(
          slice(col("embedding"), lit(r + 1), dimCol - lit(r)),
          slice(col("embedding"), lit(1), lit(r)))
      emb.select(
        (col("vec_id") + lit(r * stride)).as("vec_id"),
        shifted.as("embedding"),
        col("label"))
    }.reduce(_.union(_))
  }

  /** N× events: user-offset replicas — timestamps, types, and values
    * unchanged, so every replica reproduces the base's per-user journeys
    * EXACTLY (funnel reach counts, windowed-funnel conversions, cohort
    * cells are base × factor by construction); user and event ids across
    * replicas are disjoint, so no cross-replica journeys exist. NULL
    * user_id rows replicate too (null + offset = null) — the operators
    * filter them identically in every replica.
    */
  def scaleEvents(events: DataFrame, factor: Int): DataFrame = {
    val userStride = events.agg(max("user_id")).head().getLong(0) + 1
    val eventStride = events.agg(max("event_id")).head().getLong(0) + 1
    (0 until factor).map { r =>
      events.select(
        (col("event_id") + lit(r * eventStride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(r * userStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.union(_))
  }

  /** N× trade graph (orders + lineitem): replicas offset the order,
    * customer, and supplier keys with consistent strides, so each
    * replica is a DISJOINT copy of the base trade graph — rank-family
    * cells (q129/q130/q131/q133) see exactly f independent components
    * / f-fold row growth. Strides are padded to multiples of 10 so the
    * q129 seed residue (suppkey % 10 = 0) elects the SAME seed pattern
    * in every replica, and ties replicate deterministically.
    */
  def scaleTrade(orders: DataFrame, lineitem: DataFrame, factor: Int): (DataFrame, DataFrame) = {
    def stride(df: DataFrame, c: String): Long = {
      val raw = df.agg(max(col(c))).head().getAs[Number](0).longValue() + 1L
      ((raw + 9L) / 10L) * 10L
    }
    val okStride = stride(orders, "o_orderkey")
    val custStride = stride(orders, "o_custkey")
    val suppStride = stride(lineitem, "l_suppkey")
    val o = (0 until factor).map { r =>
      orders
        .withColumn("o_orderkey", col("o_orderkey") + lit(r * okStride))
        .withColumn("o_custkey", col("o_custkey") + lit(r * custStride))
    }.reduce(_.unionByName(_))
    val l = (0 until factor).map { r =>
      lineitem
        .withColumn("l_orderkey", col("l_orderkey") + lit(r * okStride))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * suppStride))
    }.reduce(_.unionByName(_))
    (o, l)
  }

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val work = args.lift(1).getOrElse("/tmp/graft-scale")
    val factors =
      if (args.length > 2) args.drop(2).map(_.toInt).toSeq else Seq(1, 2, 5, 10)
    val spark = graft.etl.Sessions.start("GraftScaleCurve")

    // one synthesized corpus per factor, reused across runs; BOTH tables
    // must exist to skip (a run killed between the two writes would
    // otherwise leave the factor dir half-synthesized forever)
    factors.foreach { f =>
      val dir = s"$work/x$f"
      val complete = Seq("documents", "embeddings", "events", "orders", "lineitem")
        .forall(t => new java.io.File(s"$dir/$t.parquet/_SUCCESS").exists())
      if (!complete) {
        scaleDocuments(Queries.t(spark, base, "documents"), f)
          .repartition(math.max(4, f * 4))
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        scaleEmbeddings(Queries.t(spark, base, "embeddings"), f)
          .repartition(math.max(4, f * 4))
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        scaleEvents(Queries.t(spark, base, "events"), f)
          .repartition(math.max(4, f * 4))
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        val (o, l) = scaleTrade(
          Queries.t(spark, base, "orders"), Queries.t(spark, base, "lineitem"), f)
        o.repartition(math.max(4, f * 4))
          .write.mode("overwrite").parquet(s"$dir/orders.parquet")
        l.repartition(math.max(4, f * 4))
          .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      }
    }

    // trained ONCE on the BASE corpus — the q163 cell applies a factor-
    // independent tokenizer to every scaled corpus, as production would
    val baseMerges: Seq[(String, String)] =
      graft.ops.TextOps.bpeMerges(Queries.t(spark, base, "documents"), nMerges = 8)
        .map(m => (m._2, m._3))

    // one measurement cell per (factor, operator); `mk` rebuilds the
    // frame fresh each run, `rowsOf` documents that OUTPUT grows linearly,
    // not just runtime (computed once, untimed — noop caches nothing)
    final case class Cell(factor: Int, op: String, mk: () => DataFrame,
        rowsOf: DataFrame => Long)
    val cells: Seq[Cell] = factors.flatMap { f =>
      val dir = s"$work/x$f"
      def docs = Queries.t(spark, dir, "documents")
      def emb = Queries.t(spark, dir, "embeddings")
      Seq(
        // rows = keepers = number of clusters (total output is trivially n)
        Cell(f, "q68_clusters_linear",
          () => graft.ops.NearDup.lshDedupClusters(docs),
          _.filter(col("keep")).count()),
        Cell(f, "pairs_full_guarded",
          () => graft.ops.NearDup.lshNearDupPairs(docs, sliceMax = None, hotBandMax = Some(64L)),
          _.count()),
        Cell(f, "q64_embed_cc",
          () => graft.ops.Clusters.embedDupClusters(emb),
          _.count()),
        // incremental near-dup (q78): replicas are token-bijected, so
        // cross-split pairs exist only within a replica — output must be
        // exactly linear, and runtime should track the base-side linear
        // band build (the probe itself is a map-side broadcast join).
        // Linearity additionally needs every replica to keep the BASE's
        // doc_id % 5 split: replica ids are offset by stride = max+1, so
        // the offset must be ≡ 0 (mod 5) or each replica elects a
        // different residue class as "delta" and rows stop being
        // factor-linear. Guarded at synthesis time below.
        Cell(f, "q78_incremental",
          () => graft.ops.NearDup.incrementalNearDupPairs(docs),
          _.count()),
        // intra-doc repeated spans (q69): pure map + one keyed aggregate
        // — the shape is trivially linear, measured here so the claim is
        // a curve, not an assertion. Replication preserves it exactly:
        // `translate` is a per-character bijection, so replica r has the
        // SAME repeated-span positions as the base corpus — rows must be
        // exactly base-rows × factor.
        Cell(f, "q69_repeated_spans",
          () => graft.ops.TextOps.repeatedSpans(docs),
          _.count()),
        // cross-doc removal spans (q84): `translate` is a per-character
        // bijection, so every replica has the SAME cross-doc span
        // structure as the base while span strings across replicas are
        // disjoint (every token carries a letter — guarded above) — no
        // cross-replica ownership, so rows must be exactly base × factor.
        // The interesting curve is the GLOBAL span aggregate + join-back:
        // vocabulary of spans grows with the corpus, and the map-side
        // partials must keep the ownership shuffle linear.
        Cell(f, "q84_crossdoc_spans",
          () => graft.ops.TextOps.crossDocRemovalSpans(docs),
          _.count()),
        // SemDeDup (q94): cells must scale with the corpus — the
        // SemDeDup prescription nlist ∝ n/cell-budget; a FIXED nlist
        // grows within-cell candidate pairs quadratically, which is
        // exactly the failure mode this cell would expose. Centroids
        // are the first 16·f vectors (replica 0 — the quantizer is
        // data-driven either way); cross-replica cosines sit below the
        // 0.3 dup threshold (the q64 cell's invariant), so output
        // tracks ~linear though cell granularity shifts with nlist.
        Cell(f, "q94_semdedup",
          () => graft.ops.SemDedup.semanticDedup(emb, nlist = 16 * f),
          _.count()),
        // containment (q89): the nightly shape — a FIXED 100-doc probe
        // slice (replica 0) against a GROWING corpus. Replica tokens are
        // disjoint, so the probe's candidates and output stay CONSTANT
        // across factors; what must stay linear is the global index
        // build (df aggregate + per-doc rank window over all postings).
        // rows flat + sec growing ≲ linearly is the pass condition here,
        // NOT linear rows.
        Cell(f, "q89_containment_probe",
          () => graft.ops.NearDup.containmentPairs(docs),
          _.count()),
        // fuzzy decontamination (q92): held split is doc_id % 10 = 0,
        // preserved per replica (stride ≡ 0 mod 10, guarded above); held
        // grams are replica-disjoint, so matches are intra-replica and
        // rows must be exactly base × factor. The held postings
        // broadcast grows with the corpus — the documented ceiling of
        // the broadcast form.
        Cell(f, "q92_fuzzy_decontam",
          () => graft.ops.TrainPipe.fuzzyDecontaminate(docs),
          _.count()),
        // NB classifier (q96): one row per doc — trivially linear rows;
        // the curve watches the (label, token) training grid, whose
        // vocabulary grows ×f under rotation, and the grid broadcast.
        Cell(f, "q96_nb_classifier",
          () => graft.ops.Classify.nbClassify(docs),
          _.count()),
        // edit distance (q97): translate is a per-character bijection,
        // so intra-replica Levenshtein distances are EXACTLY preserved
        // (rows = base × factor); lengths are preserved too, so the
        // length-window join pressure also scales. Segment hashes are
        // replica-disjoint — no cross-replica candidates.
        Cell(f, "q97_edit_distance",
          () => graft.ops.EditDist.editDistPairs(docs),
          _.count()),
        // incremental SemDeDup (q98): delta split vec_id % 50 = 17 is
        // replica-preserved (stride ≡ 0 mod 50, guarded above); nlist
        // scales with the corpus (the q94 prescription) so cells stay
        // bounded and crossing pairs stay intra-replica ~linear.
        Cell(f, "q98_incremental_semdedup",
          () => graft.ops.SemDedup.incrementalSemanticDedup(emb, nlist = 16 * f),
          _.count()),
        // BM25 (q106): fixed query set against a growing corpus — the
        // query terms exist only in replica 0 (rotation changes every
        // token), so the matched sliver and the output are CONSTANT;
        // what must stay linear is the tokenize+explode scan feeding
        // the broadcast postings join. rows flat + sec ≲ linear is the
        // pass condition (the q89 probe-cell contract).
        Cell(f, "q106_bm25_probe",
          () => graft.ops.Retrieval.bm25TopK(docs),
          _.count()),
        // PQ ANN (q107): codebook = replica-0 first-16 vectors; encode
        // is a per-row map (linear), ADC scores 5 queries × n candidate
        // rows (linear), shortlist+re-rank constant. Output constant
        // (top-5 per query); sec must track the linear ADC stream.
        Cell(f, "q107_pq_adc",
          () => graft.ops.AnnPq.annTopK(emb),
          _.count()),
        // IVF-PQ (q109): nlist scales with the corpus (the q94
        // prescription), so per-cell population stays bounded and the
        // probed candidate stream stays ~constant per query — the
        // whole point of the cells vs q107's corpus-wide ADC. Output
        // constant; sec should grow ≲ linearly (the encode map).
        Cell(f, "q109_ivfpq_probe",
          () => graft.ops.AnnPq.ivfPqTopK(emb, nlist = 16 * f),
          _.count()),
        // ordered funnel (q110): user-offset replicas reproduce the
        // base's journeys exactly, so the per-step user counts — the
        // linearity witness, summed here since the row count is fixed
        // at k steps — must be exactly base × factor. The curve watches
        // the per-stage user-keyed min/join chain absorb a growing user
        // population.
        Cell(f, "q110_funnel",
          () => graft.ops.Behavior.funnelSteps(
            Queries.t(spark, dir, "events")),
          _.agg(sum("users")).head().getLong(0)),
        // windowed funnel (q117): same contract with the conversion
        // deadline riding each stage row — output users exactly linear.
        Cell(f, "q117_funnel_windowed",
          () => graft.ops.Behavior.funnelStepsWindowed(
            Queries.t(spark, dir, "events")),
          _.agg(sum("users")).head().getLong(0)),
        // RFM (q119): the r14 lead fix measured at growing user
        // populations — output rows = purchasing users × factor exactly
        // (user-offset replicas), and the curve watches the two-pass
        // distributed ntile (range partition + offsets broadcast) absorb
        // a 10× user frame where the replaced single-partition windows
        // would serialize it.
        Cell(f, "q119_rfm",
          () => graft.ops.Behavior.rfmSegments(
            Queries.t(spark, dir, "events")),
          _.count()),
        // attribution (q128): journeys replicate exactly, so last-touch
        // purchase counts — the linearity witness, summed since output
        // rows are bounded by |models| × |channels| — are base × factor.
        Cell(f, "q128_attribution",
          () => graft.ops.Behavior.attribution(
            Queries.t(spark, dir, "events")),
          _.filter(col("model") === "last_touch")
            .agg(sum("purchases")).head().getLong(0)),
        // personalized PageRank (q129): replicas are DISJOINT trade
        // graphs with the same seed residue pattern, so the rank
        // distribution replicates (topK output flat by the vertex-asc
        // tiebreak); the curve watches 3 damped iterations — edge frame
        // persisted once, |V|-row rank state broadcast — absorb an
        // f-fold edge set. sec ≲ linear is the pass condition.
        Cell(f, "q129_ppr",
          () => SparkEntry.queries("q129_personalized_pagerank")(spark, dir),
          _.count()),
        // weighted PageRank (q133): the same contract with order-line
        // counts as weights (weights replicate exactly per replica).
        Cell(f, "q133_weighted_pagerank",
          () => SparkEntry.queries("q133_weighted_pagerank")(spark, dir),
          _.count()),
        // exact global percentile (q130): the Ranks two-pass primitive
        // at FULL-table output — rows exactly orders × f, every task
        // sorting N/P rows; the curve is the direct receipt that the
        // checkpoint + two passes stay linear (the q119 lead-fix
        // methodology applied to the heaviest Ranks consumer).
        Cell(f, "q130_percentile",
          () => SparkEntry.queries("q130_global_percentile")(spark, dir),
          _.count()),
        // equi-depth histogram (q131): same Ranks core, bounded output
        // (16 buckets) — the witness is the bucket-count SUM, which
        // must equal lineitem rows × f exactly (the ntile contract).
        Cell(f, "q131_equidepth",
          () => SparkEntry.queries("q131_equidepth_hist")(spark, dir),
          _.agg(sum("cnt")).head().getLong(0)),
        // co-occurrence top-k (q121): fixed k output rows against a
        // growing corpus (the q89/q106 probe-cell contract — rows flat,
        // sec ≲ linear); the curve watches the in-row pair Generate and
        // the pair-keyed count absorb a vocabulary growing ×f under
        // rotation.
        Cell(f, "q121_cooccurrence",
          () => graft.ops.TextOps.cooccurrenceTopK(docs),
          _.count()),
        // hybrid RRF (q135): both legs are probe-shaped (constant
        // shortlists against a growing corpus), and the fusion itself
        // touches ≤ 2·topK rows per query regardless of corpus size —
        // rows flat, sec ≲ linear (the two legs' scans dominate).
        Cell(f, "q135_hybrid_rrf",
          () => graft.ops.Retrieval.hybridTopK(docs, emb),
          _.count()),
        // video near-dup (q136): the frame-hash pass is a linear
        // per-payload map (≤ maxFrames longs out per video). The
        // alphabet rotation is MONOTONE on bytes, so replica payloads
        // gradient-hash like their base doc — every replica is a
        // planted cross-replica near-dup, and the output GROWS with f
        // (base-side lhs stays the id<100 slice). sec must track the
        // linear hash stream, never the quadratic frame-pair space.
        Cell(f, "q136_video_neardup",
          () => graft.ops.Multimodal.videoNearDupPairs(
            graft.ops.Multimodal.videoWithVariants(spark, dir)),
          _.count()),
        // boolean retrieval (q137): replica texts are alphabet-rotated,
        // so only replica 0 matches the query vocabulary — hits flat
        // (the q106 probe contract) while the token scan grows ×f; the
        // AND aggregate's key space grows with matches, not the corpus.
        Cell(f, "q137_boolean",
          () => graft.ops.Retrieval.booleanSearch(docs),
          _.count()),
        // mutual-kNN graph (q138): every vector is a query, so BOTH the
        // probe side and the n·k kNN frame grow ×f — output must grow
        // ~linearly (component-rotated replicas reproduce the base
        // neighborhoods), sec ≲ linearly, with nlist scaled ×f so the
        // per-cell population (hence per-query candidate work) stays
        // bounded (the q109 prescription).
        Cell(f, "q138_knn_graph",
          () => graft.ops.AnnIvf.knnGraph(emb, nlist = 16 * f),
          _.count()),
        // quality ensemble (q139): three Ranks two-pass rankings over a
        // corpus growing ×f; output fixed at topN, so the curve watches
        // the range-partitioned sorts (every task N/P rows) absorb the
        // growth — sec must stay ≲ linear, never the single-window
        // serialization the primitive exists to avoid.
        Cell(f, "q139_quality_ensemble",
          () => graft.ops.QualityOps.qualityEnsemble(docs),
          _.count()),
        // embedding class outliers (q140): the (label, pos)-keyed pooling
        // aggregate grows ×f in input while its output stays |labels|·dim;
        // scoring is an in-row fold, output fixed at topN — sec must track
        // the single scan, rows flat.
        Cell(f, "q140_embedding_outliers",
          () => graft.ops.EmbedStats.classOutliers(emb),
          _.count()),
        // leakage-safe split (q141): q64's banded clustering + the
        // broadcast split fill over a corpus growing ×f — component-
        // rotated replicas reproduce the base cluster structure, so
        // output rows grow exactly ×f and the split stays a pure map.
        Cell(f, "q141_leakage_split",
          () => graft.ops.TrainPipe.leakageSafeSplit(emb),
          _.count()),
        // trigram search (q142): the gram expansion scans ×f text but the
        // map-side vocabulary filter keeps the shuffled sliver bounded by
        // pattern matches — alphabet-rotated replicas carry none of the
        // base patterns, so hits stay ~flat (probe contract) while sec
        // tracks the linear scan.
        Cell(f, "q142_trigram",
          () => graft.ops.Retrieval.trigramSearch(docs),
          _.count()),
        // SCD2 (q143): ONE user-partitioned window pass over events
        // growing ×f; replica users replay the base episode structure, so
        // output rows grow exactly ×f and sec must track the partitioned
        // sort, never a global one.
        Cell(f, "q143_scd2",
          () => SparkEntry.queries("q143_scd2")(spark, dir),
          _.count()),
        // median/MAD outliers (q144): two Ranks two-pass exact medians
        // over orders growing ×f (every task sorts N/P rows); planted
        // prime-residue outliers keep output ~linear (residue density is
        // uniform over offset replica keys).
        Cell(f, "q144_mad_outliers",
          () => SparkEntry.queries("q144_mad_outliers")(spark, dir),
          _.count()),
        // BPE pair counts (q145): the distinct-word table grows ×f
        // (rotated replicas mint disjoint words) and pair counting rides
        // map-side partials; output fixed at topN (replica-rotated pairs
        // tie, pair-asc breaks) — sec ≲ linear in the word table.
        Cell(f, "q145_bpe_pairs",
          () => graft.ops.TextOps.bpePairCounts(docs),
          _.count()),
        // funnel latencies (q148): the reach chain is keyed min-
        // aggregates over events growing ×f; the exact medians ride a
        // transition-partitioned window over the (much smaller)
        // converter set — output = |transitions| rows, flat.
        Cell(f, "q148_funnel_latency",
          () => graft.ops.Behavior.funnelStepLatencies(
            Queries.t(spark, dir, "events")),
          _.count()),
        // grouped exact percentiles (q149): THE q40-retirement receipt —
        // the group-partitioned rank window must absorb 10× lineitem by
        // sorting N/P rows per task (spillable), where the percentile()
        // buffer it replaces would hold the whole group in one
        // aggregation buffer. Output fixed at |groups|·|ps|.
        Cell(f, "q149_grouped_percentile",
          () => graft.ops.Robust.groupedPercentiles(
            Queries.t(spark, dir, "lineitem"),
            "l_returnflag", "l_extendedprice",
            Seq("l_orderkey", "l_linenumber")),
          _.count()),
        // session paths (q150): sessionization + position share one
        // user-partitioned sort over events ×f; path counting output is
        // topK-fixed while the distinct-path key space grows slowly.
        Cell(f, "q150_session_paths",
          () => graft.ops.Behavior.sessionPaths(
            Queries.t(spark, dir, "events")),
          _.count()),
        // triangle counting (q146): the kNN-graph build (nlist scaled ×f,
        // the q138 prescription) + degree-oriented wedges — replicas
        // reproduce the base neighborhood structure, so the triangle
        // population grows ~linearly while OUTPUT is topK-bounded (rows
        // flat at ≤50); sec must track the linear edge set, never the
        // wedge space of a skewed unoriented join.
        Cell(f, "q146_triangles",
          () => graft.ops.Graph.triangleStats(
            graft.ops.AnnIvf.knnGraph(emb, nlist = 16 * f)),
          _.count()),
        // source dup matrix (q151): the guarded full-corpus pair join
        // folded to a (source, source) aggregate. Replicas KEEP the base
        // source labels and near-dup pairs never cross replicas, so the
        // matrix cells stay FLAT while each cell's pair count grows ×f —
        // sum(pairs) is the linearity witness.
        Cell(f, "q151_dup_matrix",
          () => graft.ops.NearDup.sourceDupMatrix(docs),
          _.agg(sum("pairs")).head().getLong(0)),
        // ANN recall eval (q153): the probe-cell contract — 5 fixed
        // queries against a corpus ×f (nlist scaled so the probed
        // fraction stays bounded); output flat at |queries| rows, sec
        // must track the exact leg's linear scan.
        Cell(f, "q153_ann_recall",
          () => graft.ops.AnnIvf.recallAtK(emb, nlist = 16 * f),
          _.count()),
        // HTML extraction (q155): a pure per-row map — rows exactly
        // base × f (translate preserves text lengths, so every replica
        // classifies blocks identically), sec must track the scan.
        Cell(f, "q155_html_extract",
          () => SparkEntry.queries("q155_html_extract")(spark, dir),
          _.count()),
        // URL canonicalization (q156): pure map, rows exactly base × f.
        Cell(f, "q156_url_canonical",
          () => SparkEntry.queries("q156_url_canonical")(spark, dir),
          _.count()),
        // nprobe sweep (q158): |nprobes| recall points from ONE probe
        // pass (nlist ×f keeps per-cell work bounded); output flat at
        // |nprobes| × |queries| rows, sec tracks the single corpus scan
        // + the per-depth re-ranks over the checkpointed candidates.
        Cell(f, "q158_nprobe_sweep",
          () => graft.ops.AnnIvf.recallSweep(emb, nlist = 16 * f),
          _.count()),
        // domain cap (q159): map-side canonicalization + the sharded
        // two-phase top-k — output flat at ≤ |domains| × k rows while
        // the phase-1 windows absorb a corpus ×f; sec ≲ linear.
        Cell(f, "q159_domain_cap",
          () => graft.ops.UrlOps.domainCap(Queries.t(spark, dir, "documents")),
          _.count()),
        // exact KS drift (q160): per-value counts + the range-
        // partitioned cumsum over a value domain growing with the
        // corpus; output fixed at 1 row — sec must track the two-pass
        // sorts (every task N/P rows), never a single-task ORDER BY.
        Cell(f, "q160_ks_drift",
          () => SparkEntry.queries("q160_ks_drift")(spark, dir),
          _.count()),
        // crawl pipeline (q161): extraction + gates are pure maps, the
        // digest window the only exchange. Rows are FLAT, not linear —
        // the stop-ratio gate is keyed on real English stopwords, which
        // the alphabet rotation destroys, so replicas 1..f-1 fail the
        // gate by construction (the q89/q106 probe contract: rows flat,
        // sec ≲ linear in the extraction scan — measured 1.27× at 10×).
        Cell(f, "q161_crawl_pipeline",
          () => SparkEntry.queries("q161_crawl_pipeline")(spark, dir),
          _.count()),
        // weighted percentiles (q162): per-value aggregate + cumsum —
        // output fixed at |ps| rows; the token-weight witness must be
        // exactly linear (translate preserves token counts).
        Cell(f, "q162_weighted_percentile",
          () => SparkEntry.queries("q162_weighted_percentile")(spark, dir),
          _.agg(max("total_weight")).head().getLong(0)),
        // crawl pipeline, ROTATION-SURVIVING gate witness (the r16
        // stretch): the plain q161 cell is honest but rows-flat by
        // construction (rotation destroys the English stopword key, so
        // replicas 1..f-1 fail the stop-ratio gate). Here the stopword
        // list is expanded with each replica's ROTATED stopword forms, so
        // every replica carries the base corpus's stop-ratio structure
        // and the downstream gates + digest keeper are exercised at full
        // volume: rows must scale ~linearly (exactly f x base up to the
        // rare accidental cross-replica token collision).
        Cell(f, "q161_crawl_rotstop",
          () => {
            val stop0 = Seq("the", "a", "and", "of", "to")
            val rotStops = (0 until f).flatMap(r =>
              stop0.map(_.map(c => Lower((Lower.indexOf(c) + r) % 26))))
              .distinct
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("digest")).orderBy(col("doc_id"))
            graft.ops.TextOps.crawlGate(
              docs.withColumn("raw_html", graft.ops.TextOps
                .syntheticHtml(col("doc_id"), col("text"))),
              rotStops)
              .withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1)
              .select("doc_id", "n_chars_ext", "n_tokens",
                "stop_ratio", "boiler_ratio")
          },
          _.count()),
        // BPE APPLY (q163's apply half, train-once/apply-everywhere): the
        // merge table is trained ONCE on the base corpus (factor-
        // independent, like a real tokenizer) and applied to the scaled
        // corpus — the replace chain folds over the distinct-word table
        // (which grows ~f x) and the occurrence join over the full
        // corpus. Row witness = every document, exactly linear.
        Cell(f, "q163_bpe_apply",
          () => graft.ops.TextOps.bpeTokenCounts(docs, baseMerges),
          _.count()))
    }

    def runOnce(c: Cell): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      c.mk().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val loadBefore = Bench.loadavg()
    // untimed warmup of EVERY cell (Bench's discipline): a min-factor-only
    // warmup absorbs codegen/JIT but leaves the LARGE factors' first timed
    // pass paying cold page-cache parquet reads and first-time shuffle
    // spill — observed as a 34 s pass-1 vs 8 s pass-3 at 20×, which
    // inflates the median and fakes super-linearity
    cells.foreach(runOnce)
    // Bench-grade discipline (r6 verdict): 3 timed runs per cell,
    // INTERLEAVED — pass 1 runs every cell once, then pass 2, ... — so one
    // cell's samples are minutes apart and a transient host disturbance
    // (shared-host VM) corrupts at most 1 of 3; the median rejects it.
    val passes = 3
    val samples: Seq[Seq[Double]] = (1 to passes).map(_ => cells.map(runOnce))
    val loadAfter = Bench.loadavg()

    final case class Measure(factor: Int, op: String, sec: Double, rows: Long,
        runs: Seq[Double])
    val results = cells.zipWithIndex.map { case (c, i) =>
      val runs = samples.map(_(i))
      Measure(c.factor, c.op, runs.sorted.apply(passes / 2), c.rowsOf(c.mk()), runs)
    }

    import Bench.fmt
    println("| factor | operator | seconds | output rows |")
    println("|---|---|---|---|")
    results.foreach { m =>
      println(s"| ${m.factor}x | ${m.op} | ${fmt(m.sec, 2)} | ${m.rows} |")
    }
    val json = results.map { m =>
      s"""{"factor":${m.factor},"op":"${m.op}","sec":${fmt(m.sec, 3)},"rows":${m.rows},""" +
        s""""runs":[${m.runs.map(fmt(_, 3)).mkString(",")}]}"""
    }.mkString("[", ",", "]")
    val line =
      s"""{"scale_curve":$json,"n":$passes,"interleaved":true,""" +
        s""""load_before":"$loadBefore","load_after":"$loadAfter","base":"$base"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("SCALE_CURVE.json"), line + "\n")
    println(line)
    spark.stop()
  }
}
