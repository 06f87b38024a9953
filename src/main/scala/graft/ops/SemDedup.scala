package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication in embedding space (Abbas et al.
  * 2023, "SemDeDup: Data-efficient learning at web-scale through
  * semantic deduplication"): cluster the corpus with a coarse k-means
  * quantizer, generate candidate pairs only WITHIN each cluster, group
  * transitively-similar vectors, keep one representative per group.
  *
  * This is the third member of the embedding-dedup family and fills the
  * recall/cost gap between its siblings:
  *   - q35/q64 ([[AnnLsh.nearDupPairs]] / [[Clusters.embedDupClusters]])
  *     bound candidates by RANDOM-HYPERPLANE buckets — recall depends on
  *     the hash family, cost on bucket occupancy;
  *   - q94 (this) bounds candidates by LEARNED density cells — the
  *     SemDeDup observation is that semantic duplicates land in the same
  *     k-means cell far more reliably than in the same LSH bucket, so a
  *     within-cell exact pass has near-perfect recall at
  *     O(Σ cell²) ≪ O(n²) cost.
  *
  * Quantizer: [[AnnIvf.initCentroids]] — the deterministic first-`nlist`
  * quantizer (q44's oracle-reproducible choice, 6-decimal score rounding,
  * min-id tie-break), so the DuckDB oracle replays the CLUSTERING too,
  * not just the verify: the whole operator is hash-compared, no
  * rows-only weakening. `trainIters > 0` swaps in Lloyd's-refined
  * centroids ([[AnnIvf.trainCentroids]]) — everything downstream is
  * unchanged (the production path; recall asserted in the spec).
  *
  * Scale shape: assignment is a pure map against the centroid literals
  * (argmax of nlist codegen'd dots — the corpus never shuffles to be
  * clustered); the within-cell self-join shuffles each side ONCE on
  * `list_id`, and every exact-cosine pair is cell-bounded — at 100 TB
  * pick nlist ∝ corpus/cell-budget (SemDeDup uses ~10⁵ cells for 10⁹
  * docs) so cells stay ~10⁴ vectors; a pathological hot cell is
  * AQE-skew-splittable because the join key is the cell id. Components
  * + keep flags reuse [[Clusters.connectedComponents]] (min-label
  * propagation, one labels-exchange per round).
  *
  * Cache lifetime: the assigned frame is persisted because the returned
  * lazy plan reads it three times (both join sides + the label join) —
  * caller-owned, the [[NearDup.containmentPairs]] discipline.
  */
object SemDedup {

  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  /** (vec_id, list_id, cluster_id, keep) for every vector in a semantic
    * dup group: list_id = its k-means cell, cluster_id = min vec_id of
    * its transitive dup group (dup edge = within-cell cosine ≥
    * `threshold` at 4dp), keep = 1 iff it is that representative.
    * Singletons (no dup edge) are omitted — they are implicitly kept
    * (the q64 contract).
    */
  def semanticDedup(
      emb: DataFrame,
      nlist: Int = AnnIvf.NList,
      threshold: Double = 0.3,
      trainIters: Int = 0): DataFrame = {
    val cents: Seq[(Long, Array[Float])] =
      if (trainIters > 0) AnnIvf.trainCentroids(emb, nlist, trainIters)
      else AnnIvf.initCentroids(emb, nlist)
    if (cents.isEmpty)
      return emb.select(
        col("vec_id"), col("vec_id").as("list_id"),
        col("vec_id").as("cluster_id"), lit(1).as("keep")).limit(0)
    val assigned = assignFrame(emb, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cc = Clusters.connectedComponents(cellPairs(assigned, threshold, nlist))
    assigned.select(col("vec_id"), col("list_id"))
      .join(cc.select(col("v").as("vec_id"), col("cluster_id")), Seq("vec_id"))
      .withColumn("keep", (col("vec_id") === col("cluster_id")).cast("int"))
      .orderBy("vec_id")
  }

  /** (vec_id, embedding, nrm, list_id): map-side cell assignment against
    * the centroid literals. Same validity contract as q44: null vectors
    * can neither cluster nor pair (they would null-score every centroid
    * and win the min-id tie-break); norms computed once per vector, not
    * per pair.
    */
  private def assignFrame(
      emb: DataFrame, cents: Seq[(Long, Array[Float])]): DataFrame = {
    val sc = AnnIvf.scored(col("embedding"), cents)
    emb.filter(col("embedding").isNotNull)
      .select(
        col("vec_id"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"),
        (-array_max(sc).getField("nc")).as("list_id"))
  }

  /** Within-cell dup edges (a, b), a < b, exact cosine ≥ `threshold` at
    * the oracle-pinned 4dp.
    *
    * SALTED self-join (guide §2.5, r19): a plain list_id-keyed self-join
    * has at most `nlist` distinct join keys, so its parallelism — and
    * the exact-cosine verify CPU, the operator's real cost — is bounded
    * by nlist tasks no matter how wide the cluster (the r18 A/B that
    * rejected an input respread traced to exactly this bound; AQE's
    * skew split cannot split a single join KEY). The left side gets a
    * deterministic shard = xxhash64(vec_id) mod k; the right side is
    * replicated to every shard; joining on (list_id, shard) spreads each
    * cell's O(cell²) verify over k tasks while producing every (a, b)
    * pair exactly once (a's shard is unique). k is SCALE-ADAPTIVE:
    * ceil(2·parallelism / nlist), so a production nlist ≫ cores (the
    * SemDeDup regime, ~10⁵ cells) gives k = 1 — no replication, the
    * original single-shuffle join — and only a coarse local quantizer
    * pays the k-fold replication of one side.
    */
  private def cellPairs(
      assigned: DataFrame, threshold: Double, nlist: Int): DataFrame = {
    val width = assigned.sparkSession.sparkContext.defaultParallelism
    val k = math.max(1L,
      math.ceil(2.0 * width / math.max(nlist, 1)).toLong)
    assigned
      .select(col("list_id"),
        pmod(xxhash64(col("vec_id")), lit(k)).as("shard"),
        col("vec_id").as("a"),
        col("embedding").as("va"), col("nrm").as("na"))
      .join(assigned
        .select(col("list_id"),
          explode(sequence(lit(0L), lit(k - 1))).as("shard"),
          col("vec_id").as("b"),
          col("embedding").as("vb"), col("nrm").as("nb")),
        Seq("list_id", "shard"))
      .filter(col("a") < col("b"))
      .filter(round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4)
        >= threshold)
      .select(col("a"), col("b"))
  }

  /** Crossing dup pairs between an assigned base and an assigned DELTA
    * sharing the same quantizer: the delta side broadcasts (a nightly
    * batch vs the corpus), so the base side never shuffles — q78's
    * incremental contract in embedding space.
    */
  private def crossingPairs(
      baseAssigned: DataFrame,
      deltaAssigned: DataFrame,
      threshold: Double): DataFrame =
    baseAssigned
      .select(col("list_id"), col("vec_id").as("base_id"),
        col("embedding").as("vb"), col("nrm").as("nb"))
      .join(
        broadcast(deltaAssigned.select(col("list_id"),
          col("vec_id").as("new_id"), col("embedding").as("vd"),
          col("nrm").as("nd"))),
        Seq("list_id"))
      .withColumn("cosine",
        round(dot(col("vd"), col("vb")) / (col("nd") * col("nb")), 4))
      .filter(col("cosine") >= threshold)

  /** Incremental SemDeDup, in-memory split form (the q78 shape): the
    * corpus splits into BASE (vec_id % `deltaMod` ≠ `deltaRem`) and a
    * ~2% DELTA batch; the quantizer is trained on the base ONLY (the
    * store contract — a delta never retrains centroids), the delta
    * assigns map-side against those same centroid literals, and the
    * output is every cross-split dup pair: (vec_id = delta, dup_of =
    * base, cosine) with same cell and exact cosine ≥ `threshold` at 4dp.
    *
    * `deltaRem` defaults to 17 so the delta never claims a vec_id below
    * `nlist`: the base's first-nlist quantizer then EQUALS the full
    * corpus's, which is what makes the merged result bit-equal to a
    * full [[semanticDedup]] re-run (spec-pinned via
    * [[mergeSemanticDedupFromStore]]).
    *
    * Scale shape: base assignment is a map (and in the materialized form
    * — [[incrementalSemanticDedupFromStore]] — is READ, not recomputed);
    * the delta broadcasts; the base never shuffles.
    */
  def incrementalSemanticDedup(
      emb: DataFrame,
      deltaMod: Int = 50,
      deltaRem: Int = 17,
      nlist: Int = AnnIvf.NList,
      threshold: Double = 0.3): DataFrame = {
    val valid = emb.filter(col("embedding").isNotNull)
    val base = valid.filter(pmod(col("vec_id"), lit(deltaMod)) =!= deltaRem)
    val delta = valid.filter(pmod(col("vec_id"), lit(deltaMod)) === deltaRem)
    val cents = AnnIvf.initCentroids(base, nlist)
    if (cents.isEmpty)
      return emb.select(col("vec_id"), col("vec_id").as("dup_of"),
        lit(0.0).as("cosine")).limit(0)
    crossingPairs(assignFrame(base, cents), assignFrame(delta, cents), threshold)
      .select(col("new_id").as("vec_id"), col("base_id").as("dup_of"),
        col("cosine"))
      .orderBy("vec_id", "dup_of")
  }

  /** DuckDB oracle for [[incrementalSemanticDedup]]: q94's assignment
    * CTEs with the quantizer restricted to the BASE split, then the
    * brute-force cross-split pairs (the cell filter is part of the
    * operator's contract, so it appears here too).
    */
  def incrementalSemanticDedupOracleSql(
      deltaMod: Int = 50,
      deltaRem: Int = 17,
      nlist: Int = AnnIvf.NList,
      threshold: Double = 0.3): String =
    s"""WITH ex AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cid, x, i FROM ex
       |  WHERE vec_id < $nlist AND vec_id % $deltaMod <> $deltaRem),
       |cnorm AS (SELECT cid, sqrt(sum(x * x)) AS nrm FROM cents GROUP BY 1),
       |scores AS (
       |  SELECT e.vec_id, c.cid, round(sum(e.x * c.x) / cn.nrm, 6) AS s
       |  FROM ex e JOIN cents c ON c.i = e.i JOIN cnorm cn ON cn.cid = c.cid
       |  GROUP BY e.vec_id, c.cid, cn.nrm),
       |assigned AS (
       |  SELECT vec_id, cid AS list_id FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM scores) WHERE rn = 1),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1)
       |SELECT d.vec_id AS vec_id, b.vec_id AS dup_of,
       |  round(sum(ed.x * eb.x) / (nd.nrm * nb.nrm), 4) AS cosine
       |FROM assigned d JOIN assigned b ON d.list_id = b.list_id
       |  AND d.vec_id % $deltaMod = $deltaRem
       |  AND b.vec_id % $deltaMod <> $deltaRem
       |JOIN ex ed ON ed.vec_id = d.vec_id
       |JOIN ex eb ON eb.vec_id = b.vec_id AND eb.i = ed.i
       |JOIN norms nd ON nd.vec_id = d.vec_id
       |JOIN norms nb ON nb.vec_id = b.vec_id
       |GROUP BY 1, 2, nd.nrm, nb.nrm
       |HAVING round(sum(ed.x * eb.x) / (nd.nrm * nb.nrm), 4) >= $threshold
       |ORDER BY d.vec_id, dup_of""".stripMargin

  /** Materialize a corpus's SemDeDup state: the quantizer centroids, the
    * cell-assigned vectors (norms precomputed), and the within-cell dup
    * edges — everything a future delta batch needs so the BASE corpus is
    * never re-read, re-assigned, or re-paired. The assigned frame is
    * written `partitionBy(list_id)` (cell directories): a broadcast
    * delta probe then prunes the scan to the delta's own cells via
    * dynamic partition pruning — the 100 TB read-path win.
    */
  def writeSemanticStore(
      emb: DataFrame,
      path: String,
      nlist: Int = AnnIvf.NList,
      threshold: Double = 0.3,
      trainIters: Int = 0): Unit = {
    val spark = emb.sparkSession
    val cents: Seq[(Long, Array[Float])] =
      if (trainIters > 0) AnnIvf.trainCentroids(emb, nlist, trainIters)
      else AnnIvf.initCentroids(emb, nlist)
    require(cents.nonEmpty,
      "semantic store needs a non-empty quantizer (corpus had no valid vectors)")
    import spark.implicits._
    SemanticStore.at(spark, path).create { w =>
      w("centroids", cents.toDF("cid", "centroid"))
      val assigned = assignFrame(emb, cents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        w("assigned", assigned)
        w("edges", cellPairs(assigned, threshold, nlist))
      } finally assigned.unpersist(false)
    }
  }

  /** The semantic store: the quantizer centroids, the cell-partitioned
    * assigned vectors and the within-cell dup edges (a, b). `assigned`
    * is read with its declared schema: `list_id` is a directory-name
    * partition column, and inference would type it INT — silently
    * casting the probe's join key (killing dynamic partition pruning)
    * and mistyping the merged output.
    */
  private[ops] val SemanticStore = StoreManifest.Kind("semantic store", Map(
    "centroids" -> "cid LONG, centroid ARRAY<FLOAT>",
    "assigned" -> "vec_id LONG, embedding ARRAY<FLOAT>, nrm DOUBLE, list_id LONG",
    "edges" -> "a LONG, b LONG",
    "tombstones" -> "vec_id LONG"),
    partitionBy = Map("assigned" -> "list_id"))

  /** Fold one delta batch into the store (fresh vec_ids — the store
    * contract): assign against the STORED centroids (never retrained),
    * write the delta's assigned rows plus its new edges — base↔delta
    * crossings and delta↔delta within-cell pairs, exactly the edge
    * increment [[mergeSemanticDedupFromStore]] computes — as fresh data
    * dirs, ONE atomic manifest publish ([[StoreManifest]]). The stored
    * edge set therefore remains the full corpus's
    * (SemDedupSpec pins append-then-read ≡ [[writeSemanticStore]] over
    * the union when the quantizers agree). `batchId` is the streaming
    * exactly-once hook — a replayed foreachBatch id ≤ the manifest
    * watermark is skipped before any write.
    */
  def appendSemanticStore(
      delta: DataFrame, path: String,
      threshold: Double = 0.3, batchId: Long = -1L): Unit = {
    val store = SemanticStore.at(delta.sparkSession, path)
    store.append(batchId) { (cur, w) =>
      val cents = readCentroids(store, cur)
      val deltaAssigned =
        assignFrame(delta.filter(col("embedding").isNotNull), cents)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        w("assigned", deltaAssigned)
        w("edges", crossingPairs(store.live(cur, "assigned"), deltaAssigned, threshold)
          .select(least(col("new_id"), col("base_id")).as("a"),
            greatest(col("new_id"), col("base_id")).as("b"))
          .unionByName(cellPairs(deltaAssigned, threshold, cents.size)))
      } finally deltaAssigned.unpersist(false)
    }
  }

  /** The stored quantizer, sorted by cid — bounded collect (≤ nlist
    * rows, the [[AnnIvf.initCentroids]] bound).
    */
  private def readCentroids(
      store: StoreManifest.Store, snap: StoreManifest.Snapshot): Seq[(Long, Array[Float])] =
    store.read(snap, "centroids")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .toIndexedSeq
      .sortBy(_._1)

  /** Tombstone deleted vectors — O(|deleted|), no store file touched
    * (the [[graft.ops.Retrieval.deleteFromPostingsStore]] lifecycle):
    * probes and merges anti-join the tombstones out of BOTH the
    * assigned frame and the edge set, so a deleted vector stops
    * matching, stops witnessing crossings, and stops linking clusters
    * the moment the tombstone publishes. Centroids are static (the
    * [[graft.ops.AnnPq.deleteFromPqIndex]] quantizer contract).
    */
  def deleteFromSemanticStore(deletedIds: DataFrame, path: String): Unit =
    SemanticStore.at(deletedIds.sparkSession, path).tombstone(deletedIds)

  /** Fold the tombstones into the store files: assigned rows and edges
    * touching a deleted vector are rewritten away (cell partitioning
    * preserved) into fresh data dirs, published by ONE atomic manifest
    * rename with the tombstones gone; centroid dirs carried by
    * reference (static by contract). Never in-place and never a swap
    * window — the pre-compact snapshot keeps serving through a crash
    * or to concurrent readers ([[StoreManifest]]). After compaction the
    * store is bit-equal to one rebuilt from the surviving corpus with
    * the same quantizer (SemDedupSpec pins frames and probe/merge
    * outputs).
    */
  def compactSemanticStore(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val store = SemanticStore.at(spark, path)
    val cur = store.snapshot()
    if (store.tombstoned(cur)) store.compact(cur) { w =>
      w("assigned", store.live(cur, "assigned"))
      w("edges", store.live(cur, "edges", "a", "b"))
    }
  }

  /** [[incrementalSemanticDedup]] against a MATERIALIZED base: the delta
    * assigns map-side against the STORED centroids and broadcasts; the
    * base side streams from the [[writeSemanticStore]] cell directories
    * (embeddings never re-read, assignments never recomputed, nothing
    * base-scale shuffles — parity with the in-memory form spec-pinned
    * bit-for-bit). Tombstoned vectors are anti-joined out first.
    * `delta` must carry vec_ids disjoint from the stored
    * corpus (the ingest-ledger contract, as in
    * [[NearDup.incrementalNearDupPairsFromStore]]).
    */
  def incrementalSemanticDedupFromStore(
      storePath: String,
      delta: DataFrame,
      threshold: Double = 0.3,
      asOfVersion: Option[Long] = None): DataFrame = {
    val store = SemanticStore.at(delta.sparkSession, storePath)
    val snap = store.snapshot(asOfVersion)
    val cents = readCentroids(store, snap)
    val baseAssigned = store.live(snap, "assigned")
    val deltaAssigned =
      assignFrame(delta.filter(col("embedding").isNotNull), cents)
    crossingPairs(baseAssigned, deltaAssigned, threshold)
      .select(col("new_id").as("vec_id"), col("base_id").as("dup_of"),
        col("cosine"))
      .orderBy("vec_id", "dup_of")
  }

  /** Merge a delta batch into a stored SemDeDup state and return the
    * FULL corpus's q94-shaped output (vec_id, list_id, cluster_id,
    * keep). The edge set is stored base edges ∪ crossing pairs ∪
    * delta-delta within-cell pairs — exactly the full re-run's edge set
    * when the stored quantizer equals the union's (true whenever the
    * delta holds no vec_id below nlist, i.e. any append-style split), so
    * keep flags are bit-equal to [[semanticDedup]] on the union
    * (spec-pinned). Only the delta is assigned fresh; the base
    * contributes its stored assignments and edges, and the CC input is
    * edge-scale, not corpus-scale.
    *
    * The delta-assigned frame is persisted in-call (read by the crossing
    * probe, the delta-delta self-join, and the final label join).
    */
  def mergeSemanticDedupFromStore(
      storePath: String,
      delta: DataFrame,
      threshold: Double = 0.3): DataFrame = {
    val store = SemanticStore.at(delta.sparkSession, storePath)
    val snap = store.snapshot()
    val cents = readCentroids(store, snap)
    val baseAssigned = store.live(snap, "assigned")
    val baseEdges = store.live(snap, "edges", "a", "b")
    val deltaAssigned =
      assignFrame(delta.filter(col("embedding").isNotNull), cents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val crossing = crossingPairs(baseAssigned, deltaAssigned, threshold)
      // CC treats edges as undirected; normalize to a < b like cellPairs
      .select(least(col("new_id"), col("base_id")).as("a"),
        greatest(col("new_id"), col("base_id")).as("b"))
    val edges = baseEdges
      .unionByName(crossing)
      .unionByName(cellPairs(deltaAssigned, threshold, cents.size))
    val cc = Clusters.connectedComponents(edges)
    baseAssigned.select(col("vec_id"), col("list_id"))
      .unionByName(deltaAssigned.select(col("vec_id"), col("list_id")))
      .join(cc.select(col("v").as("vec_id"), col("cluster_id")), Seq("vec_id"))
      .withColumn("keep", (col("vec_id") === col("cluster_id")).cast("int"))
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[semanticDedup]] (the `trainIters = 0` anchor):
    * q44's assignment CTE (first-nlist quantizer, 6dp scores, min-id
    * ties) + within-cell exact-cosine pairs + the q64 recursive
    * transitive closure.
    */
  def semanticDedupOracleSql(
      nlist: Int = AnnIvf.NList,
      threshold: Double = 0.3): String =
    s"""WITH RECURSIVE ex AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |cents AS (SELECT vec_id AS cid, x, i FROM ex WHERE vec_id < $nlist),
       |cnorm AS (SELECT cid, sqrt(sum(x * x)) AS nrm FROM cents GROUP BY 1),
       |scores AS (
       |  SELECT e.vec_id, c.cid, round(sum(e.x * c.x) / cn.nrm, 6) AS s
       |  FROM ex e JOIN cents c ON c.i = e.i JOIN cnorm cn ON cn.cid = c.cid
       |  GROUP BY e.vec_id, c.cid, cn.nrm),
       |assigned AS (
       |  SELECT vec_id, cid AS list_id FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM scores) WHERE rn = 1),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
       |pairs AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b
       |  FROM assigned a JOIN assigned b
       |    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
       |  JOIN ex ea ON ea.vec_id = a.vec_id
       |  JOIN ex eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
       |  JOIN norms na ON na.vec_id = a.vec_id
       |  JOIN norms nb ON nb.vec_id = b.vec_id
       |  GROUP BY 1, 2, na.nrm, nb.nrm
       |  HAVING round(sum(ea.x * eb.x) / (na.nrm * nb.nrm), 4) >= $threshold),
       |edges AS (
       |  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       |reach(v, r) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.v = e.b),
       |cc AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY 1)
       |SELECT cc.v AS vec_id, assigned.list_id, cc.cluster_id,
       |  CAST(cc.v = cc.cluster_id AS INTEGER) AS keep
       |FROM cc JOIN assigned ON assigned.vec_id = cc.v
       |ORDER BY vec_id""".stripMargin
}
