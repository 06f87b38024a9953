package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantized ANN — the third similarity-search scale path next
  * to LSH buckets (q29) and IVF cells (q44), and the heavy-compression
  * companion to q82's int8 scalar quantization: PQ (Jégou/Douze/Schmid
  * 2011) stores each vector as `m` small codes (here 8 codes over
  * 16-entry codebooks = 8 bytes per 64-float vector, 32×), and scores a
  * query against the ENTIRE code table through a per-query lookup table
  * (asymmetric distance computation, ADC) — never touching raw corpus
  * floats until a final exact re-rank of a small shortlist.
  *
  * Plan shape, scale-first:
  *   1. encode: ONE fused native map over the corpus
  *      ([[graft.functions.PqEncode]]) — the corpus never shuffles; at
  *      100 TB the code table (8 B/vector + id) is the only resident
  *      artifact, small enough to cache or even broadcast where the
  *      raw vectors never could.
  *   2. LUT: per query, ONE native map ([[graft.functions.PqLut]]) —
  *      m·ksub quantized sub-dots (128 longs). Queries are broadcast
  *      with their LUTs; ADC scoring is a map-side broadcast join over
  *      the code table: per pair, `m` table lookups summed as EXACT
  *      LONGS (no float crosses the pair row).
  *   3. shortlist: top-`shortlist` per query by the ADC estimate
  *      ip/√|x̂|² (reconstruction norm from a literal per-code table) —
  *      a per-query window over the scored stream.
  *   4. exact re-rank: only queries × shortlist rows join back to raw
  *      embeddings (broadcast — the shortlist is tiny) for the q24
  *      exact cosine; output ranks ≤ topK.
  *
  * The codebook is the deterministic first-`ksub` vectors' subslices
  * (q44's oracle-reproducible quantizer discipline) — swap in per-
  * subspace Lloyd's ([[AnnIvf.trainCentroids]] on sliced frames) for a
  * production build; everything downstream of the codebook literal is
  * unchanged. Assignment rounds subspace distances to 6 decimals before
  * the argmin, ties to the smaller code; LUT entries and reconstruction
  * norms are quantized to integer 1e-6 (q90 discipline) — the whole
  * operator, encoding included, replays bit-for-bit in the DuckDB
  * oracle.
  */
object AnnPq {

  val M = 8          // subspaces
  val KSub = 16      // codes per subspace
  val SubDim = 8     // dims per subspace (M * SubDim = embedding dim)
  val NQueries = 5   // q24's query set: vec_id < 5
  val Shortlist = 25
  val TopK = 5

  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  /** First-`ksub` vectors as an m × ksub × subDim codebook (bounded
    * driver collect, the [[AnnIvf.initCentroids]] pattern). Empty when
    * no clean vector exists below `ksub` — [[annTopK]] is then total
    * with an empty result, matching the oracle's zero rows.
    */
  def codebook(emb: DataFrame, m: Int = M, ksub: Int = KSub,
      subDim: Int = SubDim): Seq[Seq[Seq[Double]]] = {
    val base = emb
      .filter(col("vec_id") < ksub && col("vec_id").isNotNull &&
        col("embedding").isNotNull && size(col("embedding")) === m * subDim)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    if (base.isEmpty) Seq.empty
    else (0 until m).map { j =>
      base.toIndexedSeq.map { case (_, v) =>
        (0 until subDim).map(d => v(j * subDim + d).toDouble)
      }
    }
  }

  /** Quantized reconstruction norms² per (subspace, code): left-to-right
    * Σ_d c², `floor(·10⁶ + 0.5)` — shared arithmetic with the oracle.
    */
  def reconNorms2Q(cb: Seq[Seq[Seq[Double]]]): Seq[Long] =
    cb.flatMap(_.map { c =>
      var acc = 0.0
      c.foreach(x => acc += x * x)
      math.floor(acc * 1000000.0 + 0.5).toLong
    })

  /** PQ-ANN top-`topK` neighbors for queries vec_id < `nQueries`:
    * (query_id, neighbor_id, cosine, rnk) with the EXACT cosine (the
    * shortlist is re-ranked with raw vectors), same schema as q24/q29/
    * q44/q82 so recall against the exact baseline is directly
    * comparable.
    */
  def annTopK(
      emb: DataFrame,
      m: Int = M,
      ksub: Int = KSub,
      subDim: Int = SubDim,
      nQueries: Int = NQueries,
      shortlist: Int = Shortlist,
      topK: Int = TopK): DataFrame = {
    val cb = codebook(emb, m, ksub, subDim)
    if (cb.isEmpty) {
      // empty/dirty corpus: total with the oracle's zero rows
      val spark = emb.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("query_id", "neighbor_id", "cosine", "rnk")
    }
    val ksubEff = cb.head.length
    val n2Lit = typedLit(reconNorms2Q(cb))

    val clean = Spread.widen(emb.filter(col("embedding").isNotNull &&
      size(col("embedding")) === m * subDim), col("vec_id"))

    // 1. corpus → code table (map-side; the only corpus-scale artifact)
    val codes = clean
      .select(col("vec_id"),
        graft.functions.PqFunctions.pqEncode(col("embedding"), cb, subDim).as("codes"))
      .filter(col("codes").isNotNull)

    // 2. queries with their ADC lookup tables (broadcast)
    val q = clean
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        graft.functions.PqFunctions.pqLut(col("embedding"), cb, subDim).as("lut"))
      .filter(col("lut").isNotNull)

    // 3. ADC scoring: per pair, m exact-long lookups; estimate = ip/√n2
    val scored = codes
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L),
          (acc, j) => acc +
            element_at(col("lut"), j * ksubEff + element_at(col("codes"), j + 1) + 1))
          .as("ip"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L),
          (acc, j) => acc +
            element_at(n2Lit, j * ksubEff + element_at(col("codes"), j + 1) + 1))
          .as("n2"))
      .filter(col("n2") > 0)
      .withColumn("approx",
        round(col("ip") / sqrt(col("n2").cast("double")), 6))

    val wS = Window.partitionBy(col("query_id"))
      .orderBy(desc("approx"), asc("neighbor_id"))
    val short = scored
      .withColumn("rn", row_number().over(wS))
      .filter(col("rn") <= shortlist)
      .select("query_id", "neighbor_id")

    // 4. exact re-rank of the shortlist only (q24 arithmetic)
    val qv = clean
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qn"))
      .filter(col("qn") > 0)
    val nv = clean
      .join(broadcast(short), col("vec_id") === col("neighbor_id"))
      .select(col("query_id").as("qid"), col("neighbor_id"),
        col("embedding").as("nvec"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nn"))
      .filter(col("nn") > 0)

    val wK = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    qv.join(nv, col("query_id") === col("qid"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qvec"), col("nvec")) / (col("qn") * col("nn")), 4)
          .as("cosine"))
      .withColumn("rnk", row_number().over(wK).cast("long"))
      .filter(col("rnk") <= topK)
      .orderBy("query_id", "rnk")
  }

  /** IVF-PQ (q109): the composed FAISS-style scale path — [[AnnIvf]]'s
    * coarse cells bound WHICH vectors are scored, [[annTopK]]'s PQ/ADC
    * bounds WHAT scoring a candidate costs. This is the shape a
    * billion-vector index actually runs: at 100 TB of embeddings the
    * corpus-resident artifact is (vec_id, list_id, m codes) — ~9 B +
    * id per vector — candidates are the probed nprobe/nlist fraction
    * reached by an EQUI-join on list_id (vs q107's whole-corpus
    * broadcast-nested-loop), ADC scores them with m integer lookups,
    * and only the per-query shortlist ever touches raw floats.
    *
    * Plan shape, scale-first:
    *   1. assign + encode: ONE map over the corpus (IvfScores argmax +
    *      PqEncode fused native passes) — the corpus never shuffles.
    *   2. probes: queries keep their nprobe best cells and carry their
    *      ADC LUT — a tiny frame, BROADCAST.
    *   3. candidates: broadcast-hash equi-join on list_id; ADC = m
    *      exact-long lookups in-row; per-query shortlist window over
    *      the probed sliver only.
    *   4. exact re-rank: the broadcast shortlist joins back to raw
    *      embeddings (q24 arithmetic) — output ranks ≤ topK.
    *
    * Quantizers are the deterministic first-k forms (q44/q107
    * discipline) so encoding, probing, ADC, and re-rank all replay
    * bit-for-bit in DuckDB; production swaps Lloyd-trained centroids
    * ([[AnnIvf.trainCentroids]]) and residual-encoded codebooks with
    * every stage downstream unchanged.
    */
  def ivfPqTopK(
      emb: DataFrame,
      m: Int = M,
      ksub: Int = KSub,
      subDim: Int = SubDim,
      nlist: Int = AnnIvf.NList,
      nprobe: Int = AnnIvf.NProbe,
      nQueries: Int = NQueries,
      shortlist: Int = Shortlist,
      topK: Int = TopK): DataFrame = {
    val clean = Spread.widen(emb.filter(col("embedding").isNotNull &&
      size(col("embedding")) === m * subDim), col("vec_id"))
    val cb = codebook(emb, m, ksub, subDim)
    // centroids drawn from the SAME length-filtered frame the oracle's
    // ex CTE sees, so a dirty sub-nlist vector can't skew the quantizer
    // on one engine only
    val cents = AnnIvf.initCentroids(clean, nlist)
    if (cb.isEmpty || cents.isEmpty) {
      val spark = emb.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("query_id", "neighbor_id", "cosine", "rnk")
    }
    searchIvfPq(codeTableOf(clean, cb, cents, subDim), clean, cb, cents,
      m, subDim, nprobe, nQueries, shortlist, topK)
  }

  /** (vec_id, list_id, codes) for a raw corpus frame: ONE fused map
    * (IvfScores argmax + PqEncode), no shuffle — the index's only
    * corpus-scale artifact.
    */
  private def codeTableOf(clean: DataFrame, cb: Seq[Seq[Seq[Double]]],
      cents: Seq[(Long, Array[Float])], subDim: Int): DataFrame = {
    val sc = AnnIvf.scored(col("embedding"), cents)
    clean
      .select(col("vec_id"),
        (-array_max(sc).getField("nc")).as("list_id"),
        graft.functions.PqFunctions.pqEncode(col("embedding"), cb, subDim).as("codes"))
      .filter(col("codes").isNotNull)
  }

  /** Stages 2–4 of the IVF-PQ search against an existing code table —
    * shared by the in-memory form ([[ivfPqTopK]]) and the persisted
    * index ([[ivfPqTopKFromIndex]]). `clean` supplies query vectors and
    * the raw floats for the exact shortlist re-rank.
    */
  private def searchIvfPq(
      codeTable: DataFrame,
      clean: DataFrame,
      cb: Seq[Seq[Seq[Double]]],
      cents: Seq[(Long, Array[Float])],
      m: Int, subDim: Int, nprobe: Int, nQueries: Int,
      shortlist: Int, topK: Int): DataFrame = {
    val ksubEff = cb.head.length
    val n2Lit = typedLit(reconNorms2Q(cb))
    val sc = AnnIvf.scored(col("embedding"), cents)

    // 2. queries: nprobe best cells + ADC LUT (tiny, broadcast)
    val probes = clean
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        graft.functions.PqFunctions.pqLut(col("embedding"), cb, subDim).as("lut"),
        explode(transform(
          slice(reverse(array_sort(sc)), 1, nprobe),
          x => -x.getField("nc"))).as("list_id"))
      .filter(col("lut").isNotNull)

    // 3. probed candidates only: equi-join on the cell id
    val scored = codeTable
      .join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L),
          (acc, j) => acc +
            element_at(col("lut"), j * ksubEff + element_at(col("codes"), j + 1) + 1))
          .as("ip"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L),
          (acc, j) => acc +
            element_at(n2Lit, j * ksubEff + element_at(col("codes"), j + 1) + 1))
          .as("n2"))
      .filter(col("n2") > 0)
      .withColumn("approx",
        round(col("ip") / sqrt(col("n2").cast("double")), 6))

    val wS = Window.partitionBy(col("query_id"))
      .orderBy(desc("approx"), asc("neighbor_id"))
    val short = scored
      .withColumn("rn", row_number().over(wS))
      .filter(col("rn") <= shortlist)
      .select("query_id", "neighbor_id")

    // 4. exact re-rank of the shortlist only (q24 arithmetic)
    val qv = clean
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qn"))
      .filter(col("qn") > 0)
    val nv = clean
      .join(broadcast(short), col("vec_id") === col("neighbor_id"))
      .select(col("query_id").as("qid"), col("neighbor_id"),
        col("embedding").as("nvec"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nn"))
      .filter(col("nn") > 0)

    val wK = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    qv.join(nv, col("query_id") === col("qid"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qvec"), col("nvec")) / (col("qn") * col("nn")), 4)
          .as("cosine"))
      .withColumn("rnk", row_number().over(wK).cast("long"))
      .filter(col("rnk") <= topK)
      .orderBy("query_id", "rnk")
  }

  // -------------------------------------------------------------------
  // Persisted IVF-PQ index — the signature-store / semantic-store /
  // postings-store contract for VECTORS: the code table (9 B + id per
  // vector) is materialized ONCE, cell-partitioned on disk; nightly
  // delta batches encode map-side against the STORED quantizers and
  // append to their cells; queries read the (partition-prunable) code
  // table and never re-encode the corpus. Raw vectors stay wherever
  // they live (the embeddings table) and are touched only by the
  // broadcast-shortlist re-rank — the store itself is 32× smaller.
  // -------------------------------------------------------------------

  /** Build the index from the base corpus: quantizers (centroids +
    * codebook, tiny) and the cell-partitioned code table.
    */
  def writePqIndex(
      emb: DataFrame,
      dir: String,
      m: Int = M,
      ksub: Int = KSub,
      subDim: Int = SubDim,
      nlist: Int = AnnIvf.NList): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val clean = Spread.widen(emb.filter(col("embedding").isNotNull &&
      size(col("embedding")) === m * subDim), col("vec_id"))
    val cb = codebook(emb, m, ksub, subDim)
    val cents = AnnIvf.initCentroids(clean, nlist)
    require(cb.nonEmpty && cents.nonEmpty,
      "pq index needs a non-empty quantizer (corpus had no valid vectors)")
    PqStore.at(spark, dir).create { w =>
      w("centroids", cents.toDF("cid", "centroid"))
      w("codebook", cb.zipWithIndex.flatMap { case (cbj, j) =>
        cbj.zipWithIndex.map { case (c, r) => (j, r, c) }
      }.toDF("j", "r", "c"))
      w("codes", codeTableOf(clean, cb, cents, subDim))
    }
  }

  /** The PQ index: quantizers (centroids, codebook) and the code table,
    * partitioned by cell. `list_id` is a directory partition column:
    * inference would type it INT, silently casting the probe's join key
    * (the [[SemDedup]] store discipline).
    */
  private[ops] val PqStore = StoreManifest.Kind("pq index", Map(
    "centroids" -> "cid LONG, centroid ARRAY<FLOAT>",
    "codebook" -> "j INT, r INT, c ARRAY<DOUBLE>",
    "codes" -> "vec_id LONG, codes ARRAY<INT>, list_id LONG",
    "tombstones" -> "vec_id LONG"),
    partitionBy = Map("codes" -> "list_id"))

  /** Stored quantizers: (codebook, centroids) — bounded collects. */
  private def readQuantizers(store: StoreManifest.Store, snap: StoreManifest.Snapshot)
      : (Seq[Seq[Seq[Double]]], Seq[(Long, Array[Float])]) = {
    val cb = store.read(snap, "codebook")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toIndexedSeq)
    val cents = store.read(snap, "centroids")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .toIndexedSeq.sortBy(_._1)
    (cb, cents)
  }

  /** Append a delta batch (fresh vec_ids — the store contract): encode
    * map-side against the STORED quantizers into a fresh cell-
    * partitioned data dir + ONE atomic manifest publish
    * ([[StoreManifest]]) — the quantizer dirs are carried by reference,
    * never rewritten. `batchId` is the streaming exactly-once hook —
    * a replayed foreachBatch id ≤ the manifest watermark is skipped
    * before any write.
    */
  def appendPqIndex(delta: DataFrame, dir: String,
      m: Int = M, subDim: Int = SubDim, batchId: Long = -1L): Unit = {
    val store = PqStore.at(delta.sparkSession, dir)
    store.append(batchId) { (cur, w) =>
      val (cb, cents) = readQuantizers(store, cur)
      val clean = delta.filter(col("embedding").isNotNull &&
        size(col("embedding")) === m * subDim)
      w("codes", codeTableOf(clean, cb, cents, subDim))
    }
  }

  /** Tombstone deleted vectors — O(|deleted|), no code file touched
    * (the [[graft.ops.Retrieval.deleteFromPostingsStore]] lifecycle):
    * probes anti-join the tombstones, so a deleted vector stops
    * appearing in ANY shortlist the moment the tombstone publishes. The
    * quantizers are deliberately NOT retrained (the FAISS contract:
    * codebook/centroids are static once trained; drift is a periodic
    * full rebuild, not a delete-path concern).
    */
  def deleteFromPqIndex(deletedIds: DataFrame, dir: String): Unit =
    PqStore.at(deletedIds.sparkSession, dir).tombstone(deletedIds)

  /** Fold the tombstones into the code table: rewrite codes minus
    * tombstoned vectors (list_id partitioning preserved — the
    * DPP-pruning layout survives) into a fresh data dir, publish a
    * manifest referencing it with no tombstones. Quantizer dirs carried
    * by reference, untouched (static by contract). Never in-place and
    * never a swap window — the pre-compact snapshot keeps serving
    * through a crash or to concurrent readers ([[StoreManifest]]).
    * AnnPqSpec pins the compacted codes frame bit-equal to the original
    * minus the deleted set, and probe output unchanged across the
    * compaction.
    */
  def compactPqIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val store = PqStore.at(spark, dir)
    val cur = store.snapshot()
    if (store.tombstoned(cur)) store.compact(cur)(_("codes", store.live(cur, "codes")))
  }

  /** [[ivfPqTopK]] served from the store: the code table streams from
    * disk (never re-encoded), quantizers re-read, queries + re-rank
    * floats from `emb`; tombstoned vectors ([[deleteFromPqIndex]]) are
    * anti-joined out before the search. Bit-equal to the in-memory form
    * over the same logical corpus when the quantizers match
    * (spec-pinned). The code table is read with an EXPLICIT schema:
    * `list_id` is a directory partition column, and inference would
    * type it INT — silently casting the probe's join key (the
    * [[SemDedup]] store discipline).
    */
  def ivfPqTopKFromIndex(
      emb: DataFrame,
      dir: String,
      m: Int = M,
      subDim: Int = SubDim,
      nprobe: Int = AnnIvf.NProbe,
      nQueries: Int = NQueries,
      shortlist: Int = Shortlist,
      topK: Int = TopK,
      asOfVersion: Option[Long] = None): DataFrame = {
    val store = PqStore.at(emb.sparkSession, dir)
    val snap = store.snapshot(asOfVersion)
    val (cb, cents) = readQuantizers(store, snap)
    val codeTable = store.live(snap, "codes")
    val clean = Spread.widen(emb.filter(col("embedding").isNotNull &&
      size(col("embedding")) === m * subDim), col("vec_id"))
    searchIvfPq(codeTable, clean, cb, cents,
      m, subDim, nprobe, nQueries, shortlist, topK)
  }

  /** DuckDB SQL replaying [[ivfPqTopK]] — coarse assignment/probes
    * (q44's CTEs), PQ encoding + ADC (q107's CTEs), cell-bounded
    * candidates, exact re-rank.
    */
  def ivfPqOracleSql(
      m: Int = M,
      ksub: Int = KSub,
      subDim: Int = SubDim,
      nlist: Int = AnnIvf.NList,
      nprobe: Int = AnnIvf.NProbe,
      nQueries: Int = NQueries,
      shortlist: Int = Shortlist,
      topK: Int = TopK): String = {
    val dim = m * subDim
    def chain(f: Int => String): String = (1 to subDim).map(f).mkString(" + ")
    val distTerms = chain { d =>
      val i = s"s.j * $subDim + $d"
      s"(CAST(corp.embedding[$i] AS DOUBLE) - CAST(cbk.cemb[$i] AS DOUBLE))" +
        s" * (CAST(corp.embedding[$i] AS DOUBLE) - CAST(cbk.cemb[$i] AS DOUBLE))"
    }
    val lutTerms = chain { d =>
      val i = s"s.j * $subDim + $d"
      s"CAST(q.qemb[$i] AS DOUBLE) * CAST(cbk.cemb[$i] AS DOUBLE)"
    }
    val n2Terms = chain { d =>
      val i = s"s.j * $subDim + $d"
      s"CAST(cbk.cemb[$i] AS DOUBLE) * CAST(cbk.cemb[$i] AS DOUBLE)"
    }
    s"""WITH ex AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $dim),
       |cents AS (SELECT vec_id AS cid, x, i FROM ex WHERE vec_id < $nlist),
       |cnorm AS (SELECT cid, sqrt(sum(x * x)) AS nrm FROM cents GROUP BY 1),
       |cscores AS (
       |  SELECT e.vec_id, c.cid, round(sum(e.x * c.x) / cn.nrm, 6) AS s
       |  FROM ex e JOIN cents c ON c.i = e.i JOIN cnorm cn ON cn.cid = c.cid
       |  GROUP BY e.vec_id, c.cid, cn.nrm),
       |cranked AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |  FROM cscores),
       |cell AS (SELECT vec_id, cid AS list_id FROM cranked WHERE rn = 1),
       |probecell AS (
       |  SELECT vec_id AS query_id, cid AS list_id
       |  FROM cranked WHERE vec_id < $nQueries AND rn <= $nprobe),
       |cbk AS (
       |  SELECT vec_id AS code, embedding AS cemb FROM embeddings
       |  WHERE vec_id < $ksub AND embedding IS NOT NULL AND len(embedding) = $dim),
       |corp AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = $dim),
       |subs AS (SELECT CAST(j AS BIGINT) AS j FROM range(0, $m) AS t(j)),
       |dists AS (
       |  SELECT corp.vec_id, s.j, cbk.code, round($distTerms, 6) AS dist
       |  FROM corp CROSS JOIN subs s CROSS JOIN cbk),
       |codes AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT vec_id, j, code, row_number() OVER (
       |      PARTITION BY vec_id, j ORDER BY dist ASC, code ASC) AS rn
       |    FROM dists) WHERE rn = 1),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qemb FROM corp
       |  WHERE vec_id < $nQueries),
       |lut AS (
       |  SELECT q.query_id, s.j, cbk.code,
       |    CAST(floor(($lutTerms) * 1000000.0 + 0.5) AS BIGINT) AS lq
       |  FROM q CROSS JOIN subs s CROSS JOIN cbk),
       |n2 AS (
       |  SELECT s.j, cbk.code,
       |    CAST(floor(($n2Terms) * 1000000.0 + 0.5) AS BIGINT) AS n2q
       |  FROM subs s CROSS JOIN cbk),
       |cand AS (
       |  SELECT p.query_id, ce.vec_id AS neighbor_id
       |  FROM probecell p JOIN cell ce ON ce.list_id = p.list_id
       |  WHERE ce.vec_id <> p.query_id),
       |adc AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    CAST(sum(l.lq) AS BIGINT) AS ip, CAST(sum(n.n2q) AS BIGINT) AS nn2
       |  FROM cand cd
       |  JOIN codes c ON c.vec_id = cd.neighbor_id
       |  JOIN lut l ON l.query_id = cd.query_id AND l.j = c.j AND l.code = c.code
       |  JOIN n2 n ON n.j = c.j AND n.code = c.code
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id
       |      ORDER BY round(ip / sqrt(CAST(nn2 AS DOUBLE)), 6) DESC, neighbor_id) AS rn
       |    FROM adc WHERE nn2 > 0) WHERE rn <= $shortlist),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
       |sims AS (
       |  SELECT sh.query_id, sh.neighbor_id,
       |    round(sum(a.x * b.x) / (na.nrm * nb.nrm), 4) AS cosine
       |  FROM short sh
       |  JOIN ex a ON a.vec_id = sh.query_id
       |  JOIN ex b ON b.vec_id = sh.neighbor_id AND b.i = a.i
       |  JOIN norms na ON na.vec_id = sh.query_id AND na.nrm > 0
       |  JOIN norms nb ON nb.vec_id = sh.neighbor_id AND nb.nrm > 0
       |  GROUP BY 1, 2, na.nrm, nb.nrm)
       |SELECT query_id, neighbor_id, cosine, rnk FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM sims) WHERE rnk <= $topK
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** DuckDB SQL replaying [[annTopK]] end-to-end — encoding, ADC
    * shortlist, and exact re-rank.
    */
  def oracleSql(
      m: Int = M,
      ksub: Int = KSub,
      subDim: Int = SubDim,
      nQueries: Int = NQueries,
      shortlist: Int = Shortlist,
      topK: Int = TopK): String = {
    val dim = m * subDim
    // left-to-right 8-term chains, 1-based list indices j*subDim + d
    def chain(f: Int => String): String = (1 to subDim).map(f).mkString(" + ")
    val distTerms = chain { d =>
      val i = s"s.j * $subDim + $d"
      s"(CAST(corp.embedding[$i] AS DOUBLE) - CAST(cb.cemb[$i] AS DOUBLE))" +
        s" * (CAST(corp.embedding[$i] AS DOUBLE) - CAST(cb.cemb[$i] AS DOUBLE))"
    }
    val lutTerms = chain { d =>
      val i = s"s.j * $subDim + $d"
      s"CAST(q.qemb[$i] AS DOUBLE) * CAST(cb.cemb[$i] AS DOUBLE)"
    }
    val n2Terms = chain { d =>
      val i = s"s.j * $subDim + $d"
      s"CAST(cb.cemb[$i] AS DOUBLE) * CAST(cb.cemb[$i] AS DOUBLE)"
    }
    s"""WITH cb AS (
       |  SELECT vec_id AS code, embedding AS cemb FROM embeddings
       |  WHERE vec_id < $ksub AND embedding IS NOT NULL AND len(embedding) = $dim),
       |corp AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = $dim),
       |subs AS (SELECT CAST(j AS BIGINT) AS j FROM range(0, $m) AS t(j)),
       |dists AS (
       |  SELECT corp.vec_id, s.j, cb.code, round($distTerms, 6) AS dist
       |  FROM corp CROSS JOIN subs s CROSS JOIN cb),
       |codes AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT vec_id, j, code, row_number() OVER (
       |      PARTITION BY vec_id, j ORDER BY dist ASC, code ASC) AS rn
       |    FROM dists) WHERE rn = 1),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qemb FROM corp
       |  WHERE vec_id < $nQueries),
       |lut AS (
       |  SELECT q.query_id, s.j, cb.code,
       |    CAST(floor(($lutTerms) * 1000000.0 + 0.5) AS BIGINT) AS lq
       |  FROM q CROSS JOIN subs s CROSS JOIN cb),
       |n2 AS (
       |  SELECT s.j, cb.code,
       |    CAST(floor(($n2Terms) * 1000000.0 + 0.5) AS BIGINT) AS n2q
       |  FROM subs s CROSS JOIN cb),
       |adc AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id,
       |    CAST(sum(l.lq) AS BIGINT) AS ip, CAST(sum(n.n2q) AS BIGINT) AS nn2
       |  FROM codes c
       |  JOIN lut l ON l.j = c.j AND l.code = c.code
       |  JOIN n2 n ON n.j = c.j AND n.code = c.code
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id
       |      ORDER BY round(ip / sqrt(CAST(nn2 AS DOUBLE)), 6) DESC, neighbor_id) AS rn
       |    FROM adc WHERE nn2 > 0) WHERE rn <= $shortlist),
       |ex AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
       |sims AS (
       |  SELECT sh.query_id, sh.neighbor_id,
       |    round(sum(a.x * b.x) / (na.nrm * nb.nrm), 4) AS cosine
       |  FROM short sh
       |  JOIN ex a ON a.vec_id = sh.query_id
       |  JOIN ex b ON b.vec_id = sh.neighbor_id AND b.i = a.i
       |  JOIN norms na ON na.vec_id = sh.query_id AND na.nrm > 0
       |  JOIN norms nb ON nb.vec_id = sh.neighbor_id AND nb.nrm > 0
       |  GROUP BY 1, 2, na.nrm, nb.nrm)
       |SELECT query_id, neighbor_id, cosine, rnk FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM sims) WHERE rnk <= $topK
       |ORDER BY query_id, rnk""".stripMargin
  }
}
