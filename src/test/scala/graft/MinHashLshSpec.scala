package graft

import org.apache.spark.sql.functions._

/** q25 (MinHash/LSH near-dup) quality + plan-shape checks against the exact
  * q23 baseline on the smallest testdata scale.
  */
class MinHashLshSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf)
      .select(col("doc_a"), col("doc_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet

  test("q25 LSH recall vs exact q23 is >= 0.99 at threshold 0.5") {
    val exact = pairs("q23_ngram_jaccard")
    val lsh = pairs("q25_minhash_lsh")
    assert(exact.nonEmpty, "exact baseline found no pairs — test data changed?")
    // b=32 bands of r=2: P(miss | j=0.5) = 0.75^32 ~ 1e-4; nearly all pairs
    // here sit well above the threshold, so observed recall should be ~1.
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.99, s"recall $recall: missed ${(exact -- lsh).size} of ${exact.size}")
    // precision is 1.0 by construction: candidates are verified with the
    // same exact jaccard + threshold the baseline uses.
    assert((lsh -- exact).isEmpty, "LSH emitted a pair the exact baseline did not")
  }

  test("planned banding: (32,2) reproduces the default operator; a high-tau plan trades recall along the S-curve") {
    val docs = Queries.t(spark, sf, "documents")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // bandPlan's knee solve feeds bandsWith: the default plan is the
    // (32, 2) point, and the planned operator reproduces the default
    // operator's output EXACTLY there (same bands, same keys, same
    // verify arithmetic — only the key layout differs)
    assert(graft.ops.NearDup.bandPlan(0.18) === ((32, 2)))
    val default = pairsOf(graft.ops.NearDup.lshNearDupPairs(docs))
    val planned = pairsOf(graft.ops.NearDup.lshNearDupPairsPlanned(docs, (32, 2)))
    assert(planned === default)
    assert(default.nonEmpty)
    // a high-tau plan (fewer bands, deeper rows: knee ~0.9) keeps only
    // high-similarity candidates: a SUBSET of the default's verified
    // pairs, and every exact duplicate (j = 1.0 -> candidate prob 1.0
    // under ANY plan) survives
    val highTau = graft.ops.NearDup.bandPlan(0.9)
    assert(highTau._2 > 2, s"expected deeper rows at tau=0.9, got $highTau")
    val strict = pairsOf(graft.ops.NearDup.lshNearDupPairsPlanned(docs, highTau))
    assert(strict.subsetOf(default))
    val exactDups = pairsOf(graft.ops.NearDup.lshNearDupPairs(docs, threshold = 1.0))
    assert(exactDups.subsetOf(strict),
      "an exact duplicate pair must survive any band plan")
    // the budget guard still applies
    intercept[IllegalArgumentException] {
      graft.ops.NearDup.bandsWith(
        graft.ops.NearDup.signatures(graft.ops.NearDup.tokens(docs)), (33, 2))
    }
  }

  test("q25 physical plan has no nested-loop or cartesian join") {
    val plan = SparkEntry.queries("q25_minhash_lsh")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "plan fell back to BNLJ")
    assert(!plan.contains("CartesianProduct"), "plan fell back to cartesian")
  }

  test("q23 inverted-index plan has no nested-loop or cartesian join") {
    val plan = SparkEntry.queries("q23_ngram_jaccard")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "plan fell back to BNLJ")
    assert(!plan.contains("CartesianProduct"), "plan fell back to cartesian")
  }

  test("q78 incremental pairs = exactly the full-corpus pairs that cross the split") {
    val docs = Queries.t(spark, sf, "documents")
    // full-corpus ground truth at the same constants, as unordered pairs
    val full = graft.ops.NearDup.lshNearDupPairs(docs, sliceMax = None)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val inc = graft.ops.NearDup.incrementalNearDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(inc.nonEmpty, "fixture has no cross-split near-dups; test is vacuous")
    // every incremental hit appears in the full pair set, same jaccard
    inc.foreach { case ((d, b), j) =>
      assert(d % 5 == 0 && b % 5 != 0)
      val key = (math.min(d, b), math.max(d, b))
      assert(full.get(key).contains(j), s"pair $key missing or jaccard differs")
    }
    // and every full pair crossing the split is found by the incremental form
    val crossing = full.keys.filter {
      case (a, b) => (a % 5 == 0) != (b % 5 == 0)
    }.toSet
    val incKeys = inc.map { case ((d, b), _) => (math.min(d, b), math.max(d, b)) }.toSet
    assert(incKeys === crossing)
  }

  test("q78 plan: delta band keys broadcast — the base side never shuffles for the probe") {
    val docs = Queries.t(spark, sf, "documents")
    val df = graft.ops.NearDup.incrementalNearDupPairs(docs)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }


  test("signature store: the materialized-base probe equals the in-memory incremental form bit-for-bit") {
    import org.apache.spark.sql.functions.col
    val docs = Queries.t(spark, sf, "documents")
    val store = tmpDir("sigstore").toString
    // base = what a ledgered pipeline has already ingested; delta = tonight's batch
    graft.ops.NearDup.writeSignatureStore(docs.filter(col("doc_id") % 5 =!= 0), store)
    val fromStore = graft.ops.NearDup
      .incrementalNearDupPairsFromStore(store, docs.filter(col("doc_id") % 5 === 0))
      .collect().toSeq
    val inMemory = graft.ops.NearDup.incrementalNearDupPairs(docs)
      .collect().toSeq
    assert(fromStore === inMemory)
    assert(fromStore.nonEmpty)
  }

  test("signature store lifecycle: append + delete + compact equals a store rebuilt from the survivors") {
    import org.apache.spark.sql.functions.col
    val docs = Queries.t(spark, sf, "documents")
    val store = tmpDir("sigstore").toString
    val rebuilt = tmpDir("sigrebuilt").toString
    val baseA = docs.filter(col("doc_id") % 5 === 1)
    val baseB = docs.filter(col("doc_id") % 5 === 2)
    val deleted = docs.filter(col("doc_id") % 5 === 2 && col("doc_id") % 3 === 0)
    val survivors = docs.filter(
      (col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2) &&
        !(col("doc_id") % 5 === 2 && col("doc_id") % 3 === 0))
    val delta = docs.filter(col("doc_id") % 5 === 0)

    graft.ops.NearDup.writeSignatureStore(baseA, store)
    graft.ops.NearDup.appendSignatureStore(baseB, store)
    graft.ops.NearDup.deleteFromSignatureStore(deleted.select("doc_id"), store)

    // probe with tombstones pending = probe against the survivors
    graft.ops.NearDup.writeSignatureStore(survivors, rebuilt)
    val want = graft.ops.NearDup
      .incrementalNearDupPairsFromStore(rebuilt, delta).collect().toSeq
    val got = graft.ops.NearDup
      .incrementalNearDupPairsFromStore(store, delta).collect().toSeq
    assert(got === want)
    assert(got.nonEmpty)

    // compact: frames bit-equal to the rebuilt store, probe unchanged,
    // tombstone log gone from the manifest
    graft.ops.NearDup.compactSignatureStore(spark, store)
    def frame(p: String, name: String) = {
      val snap = graft.ops.StoreManifest.currentSnapshot(spark, p).get
      graft.ops.StoreManifest.readComponent(spark, p, snap, name).get
        .collect().map(_.toSeq).toSet
    }
    assert(frame(store, "tokens") === frame(rebuilt, "tokens"))
    assert(frame(store, "bands") === frame(rebuilt, "bands"))
    assert(graft.ops.StoreManifest.currentSnapshot(spark, store).get
      .components.getOrElse("tombstones", Nil).isEmpty)
    assert(graft.ops.NearDup
      .incrementalNearDupPairsFromStore(store, delta).collect().toSeq === want)
  }

  test("signature store: readAsOf(v) probes the store exactly as of that publish") {
    import org.apache.spark.sql.functions.col
    val docs = Queries.t(spark, sf, "documents")
    val store = tmpDir("sigasof").toString
    val baseOnly = tmpDir("sigbase").toString
    val baseA = docs.filter(col("doc_id") % 5 === 1)
    val baseB = docs.filter(col("doc_id") % 5 === 2)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    graft.ops.NearDup.writeSignatureStore(baseA, store)   // v1
    graft.ops.NearDup.appendSignatureStore(baseB, store)  // v2
    graft.ops.NearDup.writeSignatureStore(baseA, baseOnly)
    val asOf1 = graft.ops.NearDup
      .incrementalNearDupPairsFromStore(store, delta, asOfVersion = Some(1L))
      .collect().toSeq
    assert(asOf1 === graft.ops.NearDup
      .incrementalNearDupPairsFromStore(baseOnly, delta).collect().toSeq)
    val current = graft.ops.NearDup
      .incrementalNearDupPairsFromStore(store, delta).collect().toSeq
    assert(current.size > asOf1.size,
      "v2 must see strictly more base docs than the v1 snapshot for a non-vacuous receipt")
  }

  test("signature store probe plan: base text never read, delta band keys broadcast") {
    import org.apache.spark.sql.functions.col
    val docs = Queries.t(spark, sf, "documents")
    val store = tmpDir("sigstore2").toString
    graft.ops.NearDup.writeSignatureStore(docs.filter(col("doc_id") % 5 =!= 0), store)
    val df = graft.ops.NearDup
      .incrementalNearDupPairsFromStore(store, docs.filter(col("doc_id") % 5 === 0))
    df.collect()
    val exec = df.queryExecution.executedPlan
    assert(exec.toString.contains("BroadcastHashJoin"), exec.toString)
    // walk the executed tree's leaves (see SparkSpec.planLeaves: an
    // InMemoryRelation PRINTS its build plan, so string-grepping would
    // see the delta's one-time cache build as a table scan): every
    // parquet leaf must be a store frame — the corpus table contributes
    // no scan node to the probe itself
    val fileScans = planLeaves(exec)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val locations = fileScans.map(_.metadata.getOrElse("Location", ""))
    assert(locations.nonEmpty && locations.forall(l =>
      l.contains("tokens-v") || l.contains("bands-v")),
      s"probe scans a non-store table: $locations")
  }


  test("containment: a small doc quoted in a big one is found; prefix filter equals brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      // doc 0: small fragment fully quoted inside doc 10's text
      (0L, "alpha beta gamma delta epsilon"),
      // doc 1: 4 of 5 tokens inside doc 10 -> containment 0.8, boundary case
      (1L, "alpha beta gamma delta zulu"),
      // doc 2: half contained -> below threshold
      (2L, "alpha beta xray yankee"),
      (10L, "intro alpha beta gamma delta epsilon outro filler words here"),
      (11L, "unrelated tokens entirely disjoint from everything else")
    ).toDF("doc_id", "text")
    val out = graft.ops.NearDup.containmentPairs(docs, threshold = 0.8, sliceMax = Some(5L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // docs 0 and 1 share 4 of their 5 tokens, so they mutually contain
    // at exactly the 0.8 boundary alongside the quotes inside doc 10
    assert(out.toSeq === Seq(
      (0L, 1L, 0.8), (0L, 10L, 1.0), (1L, 0L, 0.8), (1L, 10L, 0.8)))

    // sf0.001 corpus: the pruned plan equals brute-force all-pairs exactly
    val corpus = Queries.t(spark, sf, "documents")
    val pruned = graft.ops.NearDup.containmentPairs(corpus).collect().toSeq
    val tok = corpus.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      .filter(size(col("toks")) > 0)
    val brute = tok.filter(col("doc_id") < 100)
      .select(col("doc_id").as("doc_id_a"), col("toks").as("ta"))
      .crossJoin(tok.select(col("doc_id").as("doc_id_b"), col("toks").as("tb")))
      .filter(col("doc_id_a") =!= col("doc_id_b"))
      .withColumn("containment",
        round(size(array_intersect(col("ta"), col("tb"))).cast("double") / size(col("ta")), 4))
      .filter(col("containment") >= 0.8)
      .select(col("doc_id_a"), col("doc_id_b"), col("containment"))
      .orderBy("doc_id_a", "doc_id_b")
      .collect().map(r => org.apache.spark.sql.Row(r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pruned.map(r => org.apache.spark.sql.Row(r.getLong(0), r.getLong(1), r.getDouble(2))) === brute)
    assert(pruned.nonEmpty, "fixture has no containment pairs; parity is vacuous")

    // the prefix index is genuinely smaller than the full inverted index
    val nAll = tok.filter(col("doc_id") < 100)
      .select(explode(col("toks"))).count()
    val nPrefix = tok.filter(col("doc_id") < 100)
      .select(col("doc_id"), (floor(size(col("toks")) * 0.2) + 1).as("k"))
      .agg(sum("k")).head().getLong(0)
    assert(nPrefix < nAll / 2, s"prefix $nPrefix vs full $nAll: pruning is not real")
  }

  test("containment hotPostingMax guard: planted quote survives, loss bound is exactly the documented one") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // hot filler tokens appear in every doc (df = 6 > cap); the quote's
    // distinctive tokens are rare (df = 2 <= cap)
    val docs = Seq(
      (0L, "alpha beta gamma delta hot1 hot2 hot3 hot4"), // quoted in 10
      (1L, "hot1 hot2 hot3 hot4 hot5"),                   // ONLY hot tokens
      (10L, "alpha beta gamma delta epsilon hot1 hot2 hot3 hot4 hot5 filler more"),
      (11L, "hot1 hot2 hot3 hot4 hot5 zeta"),             // contains all of doc 1
      (12L, "hot1 hot2 hot3 hot4 hot5 eta"),
      (13L, "hot1 hot2 hot3 hot4 hot5 theta")
    ).toDF("doc_id", "text")
    val unguarded = graft.ops.NearDup
      .containmentPairs(docs, threshold = 0.8, sliceMax = Some(5L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = graft.ops.NearDup
      .containmentPairs(docs, threshold = 0.8, sliceMax = Some(5L),
        hotPostingMax = Some(4L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the guard only drops pairs — never invents them
    assert(guarded.subsetOf(unguarded))
    // the planted quote pairs through its rare witnesses under the cap
    assert(guarded.contains((0L, 10L)))
    // doc 1 is fully contained in 11/12/13, but EVERY witness token is
    // hot — exactly the documented loss case
    assert(unguarded.contains((1L, 11L)) && !guarded.exists(_._1 == 1L))
  }

  // ------------------------------------------- source dup matrix (q151)

  test("dup matrix: cross-source and intra-source cells, quantized means exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "srcA"),
      (2L, "alpha beta gamma delta epsilon", "srcB"), // exact dup of 1, cross-source
      (3L, "one two three four five six", "srcA"),
      (4L, "one two three four five seven", "srcA"),  // near-dup of 3, intra-source
      (5L, "totally unrelated content here", "srcB"))
      .toDF("doc_id", "text", "source")
    val out = graft.ops.NearDup.sourceDupMatrix(docs)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3)))
      .toMap
    // 1-2: jaccard 1.0 -> j_q 1000000; 3-4: 5/7 = 0.7143 -> 714300
    assert(out(("srcA", "srcB")) === ((1L, 1000000.0)))
    assert(out(("srcA", "srcA")) === ((1L, 714300.0)))
    assert(out.size === 2)
  }

  test("dup matrix on the real corpus: pair total equals the guarded full-corpus pair count") {
    val docs = Queries.t(spark, sf, "documents")
    val matrix = graft.ops.NearDup.sourceDupMatrix(docs).collect()
    val total = graft.ops.NearDup
      .lshNearDupPairs(docs, sliceMax = None, hotBandMax = Some(64L)).count()
    assert(matrix.map(_.getLong(2)).sum === total)
    assert(matrix.nonEmpty)
  }
}
