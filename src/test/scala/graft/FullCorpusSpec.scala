package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{AnnLsh, Lsh, NearDup, TextOps}

/** The unsliced (full-corpus) similarity paths: every document/vector on
  * BOTH sides of the candidate join — dedup's real shape at 100 TB.
  *
  * Two families of assertions per operator:
  *   - plan shape: the candidate self-join is a shuffle SortMergeJoin on
  *     the band/bucket keys, with NO broadcast of either corpus side and
  *     no BNLJ/cartesian fallback (a broadcast of the exploded band frame
  *     is a driver OOM when the query set IS the corpus);
  *   - correctness: restricting the full-corpus output to the slice ids
  *     reproduces exactly the sliced output, which the driver's DuckDB
  *     oracle hash-checks every round — so the unsliced path inherits the
  *     oracle's verdict.
  */
class FullCorpusSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docs = Queries.t(spark, sf, "documents")
  private def emb = Queries.t(spark, sf, "embeddings")

  /** The executed plan, AQE final iteration included (collect() executes
    * the frame's own QueryExecution, so runtime re-planning is visible).
    */
  private def planOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def assertShufflePairJoin(df: DataFrame, label: String): Unit = {
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"$label: BNLJ in plan")
    assert(!plan.contains("CartesianProduct"), s"$label: cartesian in plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"$label: candidate join is not a shuffle join:\n$plan")
  }

  /** No BroadcastExchange anywhere in a candidates-only plan: the frames
    * under test end at the candidate pair set, before the verification
    * joins (where broadcasting the tiny token/vector side is desirable).
    */
  private def assertNoBroadcast(df: DataFrame, label: String): Unit = {
    val plan = planOf(df)
    assert(!plan.contains("BroadcastExchange"),
      s"$label: corpus-side candidate join used a broadcast:\n$plan")
  }

  private def pairSet(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(col(a), col(b)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // ---------------------------------------------------------------- MinHash

  test("unsliced lshNearDupPairs: shuffle join plan, no broadcast, no BNLJ") {
    val full = NearDup.lshNearDupPairs(docs, sliceMax = None)
    assertShufflePairJoin(full, "minhash-full")
    // candidates-only frame: NOTHING may be broadcast — when the query set
    // is the corpus, a broadcast of the exploded band frame is driver OOM
    val bk = NearDup.bands(NearDup.signatures(NearDup.tokens(docs)))
    def cands(banded: DataFrame, keys: Seq[String], id: String, hotCap: Option[Long]) =
      Lsh.candidatePairs(banded, keys, id, "a", "b", sliceMax = None, hotCap = hotCap)
    assertNoBroadcast(cands(bk, NearDup.BandKeys, "doc_id", None), "minhash-candidates")
    assertNoBroadcast(
      cands(bk, NearDup.BandKeys, "doc_id", Some(64L)), "minhash-candidates-capped")
    assertNoBroadcast(
      cands(AnnLsh.buckets(emb, 64), AnnLsh.BucketKeys, "vec_id", None), "ann-candidates")
  }

  test("unsliced lshNearDupPairs restricted to the slice == sliced output") {
    val full = NearDup.lshNearDupPairs(docs, sliceMax = None)
      .filter(col("doc_a") < 100)
    val sliced = NearDup.lshNearDupPairs(docs, sliceMax = Some(100L))
    assert(pairSet(full, "doc_a", "doc_b") == pairSet(sliced, "doc_a", "doc_b"))
    assert(sliced.count() > 0, "sliced baseline empty — test data changed?")
  }

  test("hot-band guard bounds candidate generation and stays a shuffle join") {
    val capped = NearDup.lshNearDupPairs(docs, sliceMax = None, hotBandMax = Some(64L))
    val full = NearDup.lshNearDupPairs(docs, sliceMax = None)
    assertShufflePairJoin(capped, "minhash-capped")
    val cappedSet = pairSet(capped, "doc_a", "doc_b")
    val fullSet = pairSet(full, "doc_a", "doc_b")
    assert(cappedSet.subsetOf(fullSet), "guard invented pairs")
    assert(cappedSet.size < fullSet.size,
      "guard dropped nothing on a corpus with known hot bands")
  }

  // ------------------------------------------------- Pair-blowup preflight

  test("Lsh.estimatedPairs is exactly sum of C(bucket, 2)") {
    import spark.implicits._
    // buckets of sizes 1, 2, 3, 5 -> 0 + 1 + 3 + 10 = 14 raw pairs
    val bk = Seq(
      ("a", 0L), ("b", 0L), ("b", 1L), ("c", 0L), ("c", 1L), ("c", 2L),
      ("d", 0L), ("d", 1L), ("d", 2L), ("d", 3L), ("d", 4L))
      .toDF("k", "doc_id")
    assert(graft.ops.Lsh.estimatedPairs(bk, Seq("k")) == 14L)
    assert(graft.ops.Lsh.estimatedPairs(bk.limit(0), Seq("k")) == 0L)
  }

  // ---------------------------------------------------- (b, r) band plans

  test("bandPlan: knee lands at tau; defaults recovered; recall ordering holds") {
    import graft.ops.{Lsh, NearDup}
    // the repo's own default plan is the solve at its documented knee
    assert(NearDup.bandPlan(0.18, 64) == (32, 2))
    def knee(p: (Int, Int)): Double = math.pow(1.0 / p._1, 1.0 / p._2)
    // the chosen knee is the closest achievable to tau: no other (b, r)
    // under the budget does better
    for (tau <- Seq(0.1, 0.3, 0.5, 0.7, 0.9); n <- Seq(64, 128)) {
      val plan = Lsh.bandPlan(tau, n)
      assert(plan._1 * plan._2 <= n, s"over budget at tau=$tau n=$n")
      val bestErr = (1 to n).map(r => math.abs(knee((n / r, r)) - tau)).min
      assert(math.abs(knee(plan) - tau) <= bestErr + 1e-12,
        s"tau=$tau n=$n chose $plan knee=${knee(plan)}")
    }
    // S-curve recall property: above the knee a pair is likelier to be a
    // candidate than below it, and monotonically so
    val (b, r) = Lsh.bandPlan(0.5, 128)
    val below = Lsh.candidateProb(b, r, 0.3)
    val at = Lsh.candidateProb(b, r, 0.5)
    val above = Lsh.candidateProb(b, r, 0.7)
    assert(below < at && at < above)
    assert(above > 0.9, s"recall above the knee should be high, got $above")
    assert(below < 0.5, s"candidates below the knee should be unlikely, got $below")
    // monotone in tau: a higher threshold never yields MORE bands
    val plans = Seq(0.1, 0.3, 0.5, 0.7, 0.9).map(Lsh.bandPlan(_, 128))
    assert(plans.map(_._1) == plans.map(_._1).sorted.reverse, plans.toString)
  }

  test("preflight: unguarded full-corpus call over budget fails fast with the estimate") {
    import spark.implicits._
    // degenerate corpus: every doc identical -> every band bucket holds all
    // N docs -> Bands x C(N, 2) raw candidates, the q151 blowup in miniature
    val hot = (0L until 200L).map(d => (d, "the same boilerplate text every time"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    spark.catalog.clearCache()
    val ex = intercept[IllegalArgumentException] {
      NearDup.lshNearDupPairs(hot, sliceMax = None, pairBudget = Some(1000L)).collect()
    }
    // the failed call returned no release thunk, so it unpersisted its own caches
    assert(spark.sharedState.cacheManager.isEmpty, "a failed preflight left tok/bk cached")
    assert(ex.getMessage.contains("raw"), s"no estimate in: ${ex.getMessage}")
    assert(ex.getMessage.contains("budget 1000"), s"no budget in: ${ex.getMessage}")
    // the message carries the actual estimate (32 bands x C(200,2) = 636800)
    assert(ex.getMessage.contains("636800"), s"estimate absent: ${ex.getMessage}")
    // every other operator that persists before its preflight releases
    // its caches on failure too: the planned MinHash form, SimHash pairs
    // over identical fingerprints, and embedding near-dups over identical
    // vectors (every bucket of every table holds all 200)
    val hotEmb = spark.range(200L).select(col("id").as("vec_id"))
      .crossJoin(emb.select("embedding").limit(1))
    val leaky: Seq[(String, () => DataFrame)] = Seq(
      "lshNearDupPairsPlanned" -> (() => NearDup.lshNearDupPairsPlanned(hot,
        NearDup.bandPlan(0.18), sliceMax = None, pairBudget = Some(1000L))),
      "simhashPairs" -> (() => TextOps.simhashPairs(hot, sliceMax = None,
        pairBudget = Some(1000L))),
      "AnnLsh.nearDupPairs" -> (() => AnnLsh.nearDupPairs(hotEmb, sliceMax = None,
        pairBudget = Some(1000L))))
    leaky.foreach { case (label, call) =>
      val e = intercept[IllegalArgumentException](call().collect())
      assert(e.getMessage.contains("budget 1000"), s"$label: ${e.getMessage}")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$label: a failed preflight left its caches behind")
    }
    // remediations still work: a hot-band cap skips the preflight entirely,
    // an explicit opt-out accepts the cost, and a bounded slice never
    // triggers it
    assert(NearDup.lshNearDupPairs(hot, sliceMax = None, hotBandMax = Some(64L),
      pairBudget = Some(1000L)).count() >= 0)
    assert(NearDup.lshNearDupPairs(hot, sliceMax = None, pairBudget = None).count() > 0)
    assert(NearDup.lshNearDupPairs(hot, sliceMax = Some(5L),
      pairBudget = Some(1000L)).count() > 0)
  }

  test("preflight: unbounded annTopK over budget fails fast and releases its caches") {
    // 2,501 identical vectors share one bucket in each of the 16 tables:
    // 16 x C(2501, 2) = 50,020,000 raw pairs, just over the 50M default
    val hotEmb = spark.range(2501L).select(col("id").as("vec_id"))
      .crossJoin(emb.select("embedding").limit(1))
    val e = interceptReleasing("annTopK")(AnnLsh.annTopK(hotEmb, queryMax = None))
    assert(e.getMessage.contains("50020000"), s"estimate absent: ${e.getMessage}")
    assert(e.getMessage.contains(s"budget ${Lsh.DefaultPairBudget}"), e.getMessage)
  }

  test("preflight: the sf corpus passes the default budget on every family") {
    // the known-hot synthetic corpus still sits far under the 50M default —
    // the guard exists for degenerate blowups, not for honest workloads
    assert(NearDup.lshNearDupPairs(docs, sliceMax = None).count() > 0)
    assert(TextOps.simhashPairs(docs, sliceMax = None).count() >= 0)
    assert(AnnLsh.nearDupPairs(emb, sliceMax = None).count() >= 0)
  }

  // ---------------------------------------------------------------- SimHash

  test("unsliced simhashPairs: shuffle join plan + slice-restriction equality") {
    val full = TextOps.simhashPairs(docs, sliceMax = None)
    assertShufflePairJoin(full, "simhash-full")
    val restricted = pairSet(full.filter(col("doc_a") < 100), "doc_a", "doc_b")
    val sliced = pairSet(TextOps.simhashPairs(docs, sliceMax = Some(100L)), "doc_a", "doc_b")
    assert(restricted == sliced)
  }

  // ------------------------------------------------------------- Embeddings

  test("unsliced AnnLsh.nearDupPairs: shuffle join plan + slice-restriction equality") {
    val full = AnnLsh.nearDupPairs(emb, sliceMax = None)
    assertShufflePairJoin(full, "embed-neardup-full")
    val restricted = pairSet(full.filter(col("vec_a") < 100), "vec_a", "vec_b")
    val sliced = pairSet(AnnLsh.nearDupPairs(emb, sliceMax = Some(100L)), "vec_a", "vec_b")
    assert(restricted == sliced)
  }

  test("unsliced AnnLsh.annTopK (full k-NN graph): every vector is a query") {
    val full = AnnLsh.annTopK(emb, queryMax = None)
    assertShufflePairJoin(full, "knn-graph")
    val fullRows = full.collect()
    val queries = fullRows.map(_.getLong(0)).toSet
    assert(queries.size > 100, s"expected a query row for most vectors, got ${queries.size}")
    // restriction equality against the sliced (oracle-checked) shape
    val restricted = fullRows.filter(_.getLong(0) < 5)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val sliced = AnnLsh.annTopK(emb, queryMax = Some(5L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(restricted == sliced)
  }

  // -------------------------------------------------- Linear dedup clusters

  test("q68 lshDedupClusters agrees with pair-enumeration + transitive closure") {
    val clusters = NearDup.lshDedupClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: connected components over the UNSLICED verified... no —
    // over the raw candidate connectivity. Bucket-min edges connect exactly
    // the docs sharing a band bucket, so components must match CC over the
    // full pair list derived from shared buckets (threshold plays no role).
    val bk = NearDup.bands(NearDup.signatures(NearDup.tokens(docs)))
    val pairs = bk.as("x").join(bk.as("y"),
        col("x.band") === col("y.band") && col("x.k1") === col("y.k1") &&
          col("x.k2") === col("y.k2") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val cc = graft.ops.Clusters.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc.foreach { case (v, lbl) =>
      assert(clusters(v) == lbl, s"doc $v: cluster ${clusters(v)} != pair-CC $lbl")
    }
    // docs absent from every shared bucket are singletons keeping their id
    clusters.filterNot { case (v, _) => cc.contains(v) }.foreach { case (v, lbl) =>
      assert(v == lbl, s"singleton $v got foreign cluster $lbl")
    }
    // exactly one keeper per cluster: the minimum
    val byCluster = clusters.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid: min member ${members.keys.min}")
    }
  }
}
