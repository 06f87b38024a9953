package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{AnnPq, NearDup, Retrieval, SemDedup, StoreManifest}

/** Contract for streaming index maintenance
  * ([[StreamingEtl.runIndexAppend]]): a time-split document stream
  * folded into a persisted store through RESTARTS produces a store
  * bit-equal to the batch-built store over the same corpus, and a
  * replayed foreachBatch id (at-least-once delivery) is provably
  * ignored — the manifest `batchWatermark` makes the dedup decision
  * atomic with the data publish.
  */
class StreamingIndexAppendSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def corpus = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")

  private def component(dir: String, name: String): Set[Seq[Any]] = {
    val sn = StoreManifest.currentSnapshot(spark, dir).get
    StoreManifest.readComponent(spark, dir, sn, name)
      .map(_.collect().map(_.toSeq).toSet).getOrElse(Set.empty)
  }

  /** The dedup gate's admission step through the batch APIs: probe the
    * store, pair the batch with itself, append the keepers. Returns the
    * (doc_id, dup_of, jaccard, origin) decisions.
    */
  private def foldBatch(store: String, s: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
    val storeDups = NearDup.incrementalNearDupPairsFromStore(store, s)
      .withColumn("origin", lit("store"))
    val withinDups = NearDup.lshNearDupPairs(s, sliceMax = None)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("dup_of"), col("jaccard"),
        lit("batch").as("origin"))
    val dups = storeDups.unionByName(withinDups)
    val keepers = s.join(dups.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
    val dec = dups.collect().map(_.toSeq).toSet
    NearDup.appendSignatureStore(keepers, store)
    dec
  }

  /** The decisions the gate wrote for batch `b`. */
  private def decided(decisions: String, b: Int): Set[Seq[Any]] =
    spark.read.parquet(s"$decisions/batch=$b")
      .select("doc_id", "dup_of", "jaccard", "origin").collect().map(_.toSeq).toSet

  /** 20 tokens from vocabulary `v`; a swapped near-dup differs in one (J = 19/21). */
  private def text(v: Int, swapped: Boolean = false): String =
    ((if (swapped) Seq(s"x$v") else Seq(s"v${v}_0")) ++
      (1 until 20).map(i => s"v${v}_$i")).mkString(" ")

  private def gateOnce(in: java.nio.file.Path, store: String, decisions: String): Unit =
    StreamingEtl.runDedupGate(
      spark.readStream.schema("doc_id LONG, text STRING").json(in.toString),
      tmpDir("gate-ckpt").toString, store, decisions)

  private def releaseAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
  }

  private def assertReleased(what: String): Unit = {
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, s"$what: RDD left persisted")
    assert(spark.sharedState.cacheManager.isEmpty, s"$what: CacheManager not empty")
  }

  test("postings store: streamed appends across a restart == batch-built store; replay ignored") {
    val in = tmpDir("idx-in")
    val ckpt = tmpDir("idx-ckpt")
    val streamStore = tmpDir("idx-stream").toString
    val batchStore = tmpDir("idx-batch").toString
    val s0 = corpus.filter(col("doc_id") % 3 === 0)
    val s1 = corpus.filter(col("doc_id") % 3 === 1)
    val s2 = corpus.filter(col("doc_id") % 3 === 2)

    // the production loop: base indexed once, nightly drops streamed in
    Retrieval.writePostingsStore(s0, streamStore)
    writeFile(in, "night1.json", s1.toJSON.collect().mkString("\n"))
    def drain(): Unit = StreamingEtl.runIndexAppend(
      spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).json(in.toString),
      ckpt.toString,
      (batch, id) => Retrieval.appendPostingsStore(batch, streamStore, batchId = id))
    drain()
    // RESTART: a second drop lands, the query restarts on the same
    // checkpoint — only the new file becomes a batch
    writeFile(in, "night2.json", s2.toJSON.collect().mkString("\n"))
    drain()

    val snap = StoreManifest.currentSnapshot(spark, streamStore).get
    assert(snap.batchWatermark === 1L,
      s"two streamed batches must fold as ids 0 and 1, got ${snap.batchWatermark}")

    // at-least-once replay: re-delivering ANY already-folded id must not
    // publish (this call is exactly the foreachBatch body)
    Retrieval.appendPostingsStore(s1, streamStore, batchId = 0L)
    Retrieval.appendPostingsStore(s2, streamStore, batchId = 1L)
    assert(StoreManifest.currentSnapshot(spark, streamStore).get.version
      === snap.version, "replayed batch ids must be ignored before any write")

    // bit-equal to the batch-built store over the same corpus slices
    Retrieval.writePostingsStore(s0, batchStore)
    Retrieval.appendPostingsStore(s1, batchStore)
    Retrieval.appendPostingsStore(s2, batchStore)
    for (name <- Seq("postings", "stats", "doclens"))
      assert(component(streamStore, name) === component(batchStore, name),
        s"streamed store component $name diverged from the batch build")
    val served = Retrieval.bm25TopKFromStore(spark, streamStore).collect().toSeq
    assert(served === Retrieval.bm25TopK(corpus).collect().toSeq)
    assert(served.nonEmpty)
  }

  test("signature store: streamed appends across a restart == batch-built store") {
    val in = tmpDir("sig-in")
    val ckpt = tmpDir("sig-ckpt")
    val streamStore = tmpDir("sig-stream").toString
    val batchStore = tmpDir("sig-batch").toString
    val s0 = corpus.filter(col("doc_id") % 3 === 0)
    val s1 = corpus.filter(col("doc_id") % 3 === 1)
    val s2 = corpus.filter(col("doc_id") % 3 === 2)

    NearDup.writeSignatureStore(s0, streamStore)
    def drain(): Unit = StreamingEtl.runIndexAppend(
      spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).json(in.toString),
      ckpt.toString,
      (batch, id) => NearDup.appendSignatureStore(batch, streamStore, batchId = id))
    writeFile(in, "night1.json", s1.toJSON.collect().mkString("\n"))
    drain()
    writeFile(in, "night2.json", s2.toJSON.collect().mkString("\n"))
    drain()

    val snap = StoreManifest.currentSnapshot(spark, streamStore).get
    NearDup.appendSignatureStore(s1, streamStore, batchId = 1L) // replay
    assert(StoreManifest.currentSnapshot(spark, streamStore).get.version
      === snap.version)

    NearDup.writeSignatureStore(s0, batchStore)
    NearDup.appendSignatureStore(s1, batchStore)
    NearDup.appendSignatureStore(s2, batchStore)
    for (name <- Seq("tokens", "bands"))
      assert(component(streamStore, name) === component(batchStore, name))
    assert(component(streamStore, "tokens").nonEmpty)
  }

  test("pq index and semantic store: replayed batch ids are ignored before any write") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") % 5 =!= 4 || col("vec_id") < 16)
    val delta = emb.filter(col("vec_id") % 5 === 4 && col("vec_id") >= 16)

    val pqDir = tmpDir("pq-stream").toString
    AnnPq.writePqIndex(base, pqDir)
    AnnPq.appendPqIndex(delta, pqDir, batchId = 0L)
    val pqSnap = StoreManifest.currentSnapshot(spark, pqDir).get
    assert(pqSnap.batchWatermark === 0L)
    AnnPq.appendPqIndex(delta, pqDir, batchId = 0L) // replay
    assert(StoreManifest.currentSnapshot(spark, pqDir).get.version === pqSnap.version)

    val semDir = tmpDir("sem-stream").toString
    SemDedup.writeSemanticStore(base, semDir)
    SemDedup.appendSemanticStore(delta, semDir, batchId = 0L)
    val semSnap = StoreManifest.currentSnapshot(spark, semDir).get
    assert(semSnap.batchWatermark === 0L)
    SemDedup.appendSemanticStore(delta, semDir, batchId = 0L) // replay
    assert(StoreManifest.currentSnapshot(spark, semDir).get.version === semSnap.version)
  }

  test("semantic store: appended store == written-from-union store (same quantizer)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    // base keeps every vec_id < 16 so the first-k quantizers of base and
    // union coincide (the q98 append-split convention)
    val base = emb.filter(col("vec_id") % 5 =!= 4 || col("vec_id") < 16)
    val delta = emb.filter(col("vec_id") % 5 === 4 && col("vec_id") >= 16)
    val appended = tmpDir("sem-app").toString
    val unionDir = tmpDir("sem-union").toString
    SemDedup.writeSemanticStore(base, appended)
    SemDedup.appendSemanticStore(delta, appended)
    SemDedup.writeSemanticStore(emb, unionDir)
    def component(dir: String, name: String, schema: Option[String]): Set[Seq[Any]] = {
      val sn = StoreManifest.currentSnapshot(spark, dir).get
      StoreManifest.readComponent(spark, dir, sn, name, schema)
        .map(_.collect().map(_.toSeq).toSet).getOrElse(Set.empty)
    }
    val aSchema = Some("vec_id LONG, embedding ARRAY<FLOAT>, nrm DOUBLE, list_id LONG")
    assert(component(appended, "assigned", aSchema) ===
      component(unionDir, "assigned", aSchema))
    assert(component(appended, "edges", None) === component(unionDir, "edges", None))
    assert(component(appended, "edges", None).nonEmpty,
      "no edges in the fixture — append parity is vacuous")
  }

  test("dedup gate: streamed probe+admit loop across a restart == the sequential batch fold; replay no-op") {
    val in = tmpDir("gate-in")
    val ckpt = tmpDir("gate-ckpt")
    val decisions = tmpDir("gate-dec").toString
    val streamStore = tmpDir("gate-stream").toString
    val batchStore = tmpDir("gate-batch").toString
    val s0 = corpus.filter(col("doc_id") % 3 === 0)
    val s1 = corpus.filter(col("doc_id") % 3 === 1)
    val s2 = corpus.filter(col("doc_id") % 3 === 2)

    NearDup.writeSignatureStore(s0, streamStore)
    releaseAll()
    def drain(): Unit = StreamingEtl.runDedupGate(
      spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).json(in.toString),
      ckpt.toString, streamStore, decisions)
    writeFile(in, "night1.json", s1.toJSON.collect().mkString("\n"))
    drain()
    writeFile(in, "night2.json", s2.toJSON.collect().mkString("\n"))
    drain() // RESTART on the same checkpoint: only night2 is a new batch

    assertReleased("after the gated batches")

    // reference: the same admission fold through the batch APIs
    NearDup.writeSignatureStore(s0, batchStore)
    val refDecisions = Seq(s1, s2).map(foldBatch(batchStore, _))

    for (name <- Seq("tokens", "bands"))
      assert(component(streamStore, name) === component(batchStore, name),
        s"gated store component $name diverged from the batch fold")

    // decisions match the reference fold per batch, and are non-vacuous
    for ((want, b) <- refDecisions.zipWithIndex)
      assert(decided(decisions, b) === want, s"batch $b decisions diverged")
    assert(refDecisions.exists(_.nonEmpty),
      "fixture vacuous: the gate never rejected a doc")

    // at-least-once replay: a fresh checkpoint re-delivers both files as
    // batch ids 0 and 1 — both are behind the watermark and must be
    // skipped entirely (store version AND decisions untouched)
    val verBefore = StoreManifest.currentSnapshot(spark, streamStore).get.version
    val decBefore = spark.read.parquet(s"$decisions/batch=0")
      .collect().map(_.toSeq).toSet
    val ckpt2 = tmpDir("gate-ckpt2")
    releaseAll() // the reference fold's caller-owned frames
    StreamingEtl.runDedupGate(
      spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).json(in.toString),
      ckpt2.toString, streamStore, decisions)
    assert(StoreManifest.currentSnapshot(spark, streamStore).get.version === verBefore,
      "replayed batches must not publish")
    assert(spark.read.parquet(s"$decisions/batch=0")
      .collect().map(_.toSeq).toSet === decBefore,
      "replayed batches must not rewrite decisions")
    assertReleased("after the replayed batches")
  }

  test("dedup gate: a tombstoned store doc is never named; store == the batch fold") {
    import spark.implicits._
    val base = (1 to 6).map(v => (v.toLong, text(v))).toDF("doc_id", "text")
    // edge rows: two null doc_ids (a near-dup of stored doc 5 and an exact
    // copy of batch doc 103) are kept and appended, never named; an empty
    // text and a null text are kept
    val batch = Seq[(Option[Long], String)](
      (Some(101L), text(2, swapped = true)), (Some(102L), text(3, swapped = true)),
      (Some(103L), text(7)), (Some(104L), text(7, swapped = true)),
      (None, text(5, swapped = true)), (None, text(7)),
      (Some(105L), ""), (Some(106L), null)).toDF("doc_id", "text")
    val gated = tmpDir("gate-tomb-store").toString
    val folded = tmpDir("gate-tomb-fold").toString
    for (store <- Seq(gated, folded)) {
      NearDup.writeSignatureStore(base, store)
      NearDup.deleteFromSignatureStore(Seq(2L).toDF("doc_id"), store)
    }
    // non-vacuous: before the tombstone, batch doc 101 duplicates doc 2
    assert(NearDup.incrementalNearDupPairsFromStore(gated, batch, asOfVersion = Some(1L))
      .collect().exists(r => r.getLong(0) == 101L && r.getLong(1) == 2L))

    val in = tmpDir("gate-tomb-in")
    val decisions = tmpDir("gate-tomb-dec").toString
    writeFile(in, "night1.json", batch.toJSON.collect().mkString("\n"))
    releaseAll()
    gateOnce(in, gated, decisions)
    assertReleased("after the gated batch")

    val got = decided(decisions, 0)
    assert(got === foldBatch(folded, batch))
    assert(got.map(r => Seq(r(0), r(1), r(3))) ===
      Set(Seq(102L, 3L, "store"), Seq(104L, 103L, "batch")), s"decisions: $got")
    for (name <- Seq("tokens", "bands"))
      assert(component(gated, name) === component(folded, name),
        s"gated store component $name diverged from the batch fold")
    val stored = component(gated, "tokens").toSeq.map(_.head)
    assert(stored.count(_ == null) === 2 && Set(105L, 106L).forall(stored.contains),
      s"edge rows not appended: $stored")
  }

  test("dedup gate: a batch over the pair budget fails in the preflight and releases its caches") {
    import spark.implicits._
    val store = tmpDir("gate-budget-store").toString
    NearDup.writeSignatureStore(Seq((1L, text(1))).toDF("doc_id", "text"), store)
    // 1,800 identical docs: every band is one bucket of 1,800, so the
    // preflight's exact estimate is 32 · C(1800, 2) = 51,811,200 raw pairs
    val in = tmpDir("gate-budget-in")
    writeFile(in, "night1.json", (1 to 1800)
      .map(i => s"""{"doc_id":${1000 + i},"text":"${text(2)}"}""").mkString("\n"))
    releaseAll()
    val e = intercept[Exception](gateOnce(in, store, tmpDir("gate-budget-dec").toString))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains(
      "unguarded full-corpus candidate join would enumerate 51811200 raw pairs")),
      s"gate failed for another reason: $e")
    assertReleased("after the failed batch")
    assert(StoreManifest.currentSnapshot(spark, store).get.version === 1L)
  }

  test("dedup gate: a batch whose pair bound exceeds the budget but whose pairs do not is gated normally") {
    import spark.implicits._
    val base = (1 to 3).map(v => (v.toLong, text(v))).toDF("doc_id", "text")
    // 1,800 docs: the bound 32 · C(1800, 2) is over budget, so the exact
    // preflight runs, and passes. Planted: 2797 ~ stored 1, 2798 ~ 1001,
    // 2799 ~ 1002, 2800 == 1002
    val planted = Map(1797 -> text(1, swapped = true), 1798 -> text(101, swapped = true),
      1799 -> text(102, swapped = true), 1800 -> text(102))
    val batch = (1 to 1800).map(i => (1000L + i, planted.getOrElse(i, text(100 + i))))
      .toDF("doc_id", "text")
    val gated = tmpDir("gate-bound-store").toString
    val folded = tmpDir("gate-bound-fold").toString
    for (store <- Seq(gated, folded)) NearDup.writeSignatureStore(base, store)
    val in = tmpDir("gate-bound-in")
    val decisions = tmpDir("gate-bound-dec").toString
    writeFile(in, "night1.json", batch.toJSON.collect().mkString("\n"))
    releaseAll()
    gateOnce(in, gated, decisions)
    assertReleased("after the gated batch")

    val got = decided(decisions, 0)
    assert(got === foldBatch(folded, batch))
    assert(got.map(r => Seq(r(0), r(1), r(3))) === Set(Seq(2797L, 1L, "store"),
      Seq(2798L, 1001L, "batch"), Seq(2799L, 1002L, "batch"), Seq(2800L, 1002L, "batch"),
      Seq(2800L, 2799L, "batch")), s"decisions: $got")
    for (name <- Seq("tokens", "bands"))
      assert(component(gated, name) === component(folded, name),
        s"gated store component $name diverged from the batch fold")
  }

  test("dedup gate: a batch that fails on a broken store releases every cache it took") {
    val in = tmpDir("gate-fail-in")
    val store = tmpDir("gate-fail-store").toString
    NearDup.writeSignatureStore(corpus.filter(col("doc_id") % 3 === 0), store)
    // the manifest still names the tokens data dir, but the dir is gone:
    // the store probe throws after the within-batch pairs have cached
    // their token and band frames
    val tokensDir = StoreManifest.currentSnapshot(spark, store).get
      .components("tokens").head
    val broken = new org.apache.hadoop.fs.Path(s"$store/$tokensDir")
    assert(broken.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(broken, true))
    writeFile(in, "night1.json",
      corpus.filter(col("doc_id") % 3 === 1).toJSON.collect().mkString("\n"))

    spark.catalog.clearCache()
    val e = intercept[Exception](StreamingEtl.runDedupGate(
      spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).json(in.toString),
      tmpDir("gate-fail-ckpt").toString, store, tmpDir("gate-fail-dec").toString))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains(tokensDir)), s"gate failed for another reason: $e")
    assert(spark.sharedState.cacheManager.isEmpty,
      "the failed batch left frames pinned in the CacheManager")
  }
}
