package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucketed approximate-nearest-neighbor search over an embedding column:
  * random-hyperplane (sign-bit) LSH — Charikar '02 SimHash for cosine —
  * turning the all-pairs cosine join (q24, the exact oracle baseline) into
  * an equi-join on small (table, bucket) keys.
  *
  * Plan shape, scale-first:
  *   1. signatures: per vector, L×H sign-bit dot products against fixed
  *      hyperplanes — a pure map (native codegen'd [[graft.functions.VecDot]]
  *      against literal weight arrays; no UDF, no shuffle), then a narrow explode
  *      to (vec_id, table, bucket) — L rows per vector.
  *   2. candidates: equi-join query buckets against corpus buckets on
  *      (table, bucket) — fingerprints cross the wire, never embeddings;
  *      AQE splits skewed buckets.
  *   3. verify: exact cosine only on distinct candidate pairs, top-k by
  *      row_number per query.
  *
  * Every constant is deterministically md5-derived so the DuckDB oracle
  * regenerates bit-identical hyperplanes and replicates the SAME algorithm
  * ([[oracleSql]]): hash-compare tests algorithmic identity, the spec test
  * measures recall against exact q24.
  */
object AnnLsh {

  /** Sign bits per table (bucket space = 2^H) and number of hash tables.
    * H=4/L=16 targets ~0.85 union recall at cosine ≈ 0.35 (the top-5
    * similarity level of the synthetic embeddings): per-table collision
    * (1-θ/π)^4, θ = acos(s).
    */
  val H = 4
  val L = 16

  private def h7(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.substring(0, 7), 16)
  }

  /** Hyperplane component i of hyperplane (l, j): uniform in [-1, 1] with
    * denominator 1000 — exact in both engines ((v % 2001 - 1000)/1000.0).
    */
  private def weight(l: Int, j: Int, i: Int): Double =
    (h7(s"h:$l:$j:$i").toDouble % 2001 - 1000) / 1000.0

  /** Native codegen'd primitive loop ([[graft.functions.VecDot]]) —
    * bit-identical accumulation to the interpreted `aggregate`/`zip_with`
    * form it replaces (and to the unrolled element_at chain both beat):
    * same left-to-right double fold, same NULL-on-mismatch semantics, no
    * per-element boxing.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  /** Array of the L (l, bucket) key structs for a vector column — the
    * map-side LSH signature as a standalone expression, exposed so
    * streaming callers can explode it while carrying event-time/payload
    * columns ([[graft.streaming.StreamingEtl.streamingEmbedNearDup]]).
    *
    * One fused native pass ([[graft.functions.LshBucketKeys]]); the
    * compositional 64-VecDot/CASE tree it replaced was codegen'd but
    * exceeded HotSpot's JIT method limit and ran as interpreted bytecode
    * (~200× slower — BENCH_NOTES r11). Bit-identical keys
    * (VectorExprsSpec pins parity against the compositional form).
    */
  def bucketArray(vecCol: Column, dim: Int): Column = {
    val flat: Seq[Double] =
      for { l <- 0 until L; j <- 0 until H; i <- 0 until dim } yield weight(l, j, i)
    graft.functions.VectorFunctions.lshBucketKeys(vecCol, flat, L, H, dim)
  }

  /** The equi-join key of a [[buckets]] frame: a candidate pair shares one. */
  private[graft] val BucketKeys = Seq("l", "bucket")

  /** (vec_id, l, bucket) — L bucket keys per vector, computed map-side. */
  def buckets(emb: DataFrame, dim: Int, vecCol: String = "embedding"): DataFrame =
    emb
      .select(col("vec_id"), explode(bucketArray(col(vecCol), dim)).as("tb"))
      .select(col("vec_id"), col("tb.l").as("l"), col("tb.bucket").as("bucket"))

  /** Top-k approximate neighbors: (query_id, neighbor_id, cosine, rnk),
    * exact cosine ranked within the union of LSH candidates.
    *
    * `queryMax = Some(m)` bounds the query side to vec_id < m and
    * broadcasts its bucket keys; `None` makes EVERY vector a query — the
    * full k-NN-graph shape embedding dedup runs — via a shuffle
    * sort-merge self-equi-join on (table, bucket): no broadcast, no
    * driver state, AQE splits skewed buckets. That unbounded form sizes
    * its raw candidate space against [[Lsh.DefaultPairBudget]] first and
    * fails fast over it, releasing its caches ([[Lsh.candidatePairs]]).
    */
  def annTopK(emb: DataFrame, dim: Int = 64, queryMax: Option[Long] = Some(5L),
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // norm rides WITH the vector: one persisted (vec_id, embedding, nrm)
    // frame means the verify stage is TWO joins (one per pair side), not
    // four — each join here shuffles/broadcasts the candidate set, so
    // halving the join count halves the verify stages (A/B'd on q64/q35)
    val vecs = Spread.widen(emb.select(col("vec_id"), col("embedding")), col("vec_id"))
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bk = buckets(vecs, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = Lsh.candidatePairs(bk, BucketKeys, "vec_id", "query_id", "neighbor_id",
      queryMax, strict = false, owned = Seq(vecs, bk))
    val sims = cand
      .join(vecs.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("na")), "query_id")
      .join(vecs.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        col("nrm").as("nb")), "neighbor_id")
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(dot(col("qv"), col("nv")) / (col("na") * col("nb")), 4).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cosine"), asc("neighbor_id"))
    sims
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("query_id", "rnk")
  }

  /** Embedding-cosine near-duplicate pairs: same LSH bucketing as
    * [[annTopK]], but emitting every candidate pair (vec_a < vec_b) whose
    * exact cosine clears `threshold` — the embedding-space analogue of
    * MinHash near-dup dedup. Output (vec_a, vec_b, cosine) ordered.
    *
    * `sliceMax = Some(m)` broadcasts the bounded vec_a < m side; `None`
    * is the full corpus × corpus shuffle self-join on (table, bucket) —
    * same no-broadcast contract as [[annTopK]]'s unsliced mode.
    */
  def nearDupPairs(
      emb: DataFrame,
      dim: Int = 64,
      sliceMax: Option[Long] = Some(100L),
      threshold: Double = 0.3,
      pairBudget: Option[Long] = Some(Lsh.DefaultPairBudget),
      // `ordered = false` skips the final global sort (a range exchange
      // plus its sampling job) for callers that immediately re-shuffle —
      // connected components ([[Clusters.embedDupClusters]]) consumes the
      // pairs as an unordered edge set
      ordered: Boolean = true): DataFrame = {
    // Norms are per-vector, not per-pair: computed once alongside the
    // persisted vectors, so the verify stage is one join per pair side
    // (two total) and the per-pair work is a single dot.
    val vecs = Spread.widen(emb.select(col("vec_id"), col("embedding")), col("vec_id"))
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bk = buckets(vecs, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bk is persisted, so a preflight's scan is reused by the join
    val cand = Lsh.candidatePairs(bk, BucketKeys, "vec_id", "vec_a", "vec_b", sliceMax,
      pairBudget = pairBudget, owned = Seq(vecs, bk))
    cand
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
        col("nrm").as("na")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
        col("nrm").as("nb")), "vec_b")
      .select(
        col("vec_a"),
        col("vec_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
      .transform(df => if (ordered) df.orderBy("vec_a", "vec_b") else df)
  }

  /** DuckDB SQL replicating [[nearDupPairs]]. */
  def nearDupOracleSql(dim: Int = 64, sliceMax: Long = 100L, threshold: Double = 0.3): String =
    s"""WITH hp AS (
       |  SELECT l, j, i,
       |    (CAST(CAST(list_reduce(
       |       list_transform(range(1, 8),
       |         p -> instr('0123456789abcdef',
       |                substr(md5('h:' || l || ':' || j || ':' || i), p, 1)) - 1),
       |       (acc, v) -> acc * 16 + v) AS BIGINT) % 2001 AS DOUBLE) - 1000) / 1000.0 AS w
       |  FROM (SELECT unnest(range(0, $L)) AS l),
       |       (SELECT unnest(range(0, $H)) AS j),
       |       (SELECT unnest(range(0, $dim)) AS i)),
       |ex AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) - 1 AS i
       |  FROM embeddings),
       |dots AS (
       |  SELECT e.vec_id, h.l, h.j, sum(e.x * h.w) AS d
       |  FROM ex e JOIN hp h ON h.i = e.i
       |  GROUP BY 1, 2, 3),
       |bk AS (
       |  SELECT vec_id, l,
       |    sum(CASE WHEN d >= 0 THEN 1 << j ELSE 0 END) AS bucket
       |  FROM dots GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS vec_a, c.vec_id AS vec_b
       |  FROM bk q JOIN bk c ON q.l = c.l AND q.bucket = c.bucket
       |  WHERE q.vec_id < $sliceMax AND q.vec_id < c.vec_id),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
       |sims AS (
       |  SELECT cd.vec_a, cd.vec_b,
       |    round(sum(a.x * b.x) / (na.nrm * nb.nrm), 4) AS cosine
       |  FROM cand cd
       |  JOIN ex a ON a.vec_id = cd.vec_a
       |  JOIN ex b ON b.vec_id = cd.vec_b AND b.i = a.i
       |  JOIN norms na ON na.vec_id = cd.vec_a
       |  JOIN norms nb ON nb.vec_id = cd.vec_b
       |  GROUP BY 1, 2, na.nrm, nb.nrm)
       |SELECT vec_a, vec_b, cosine FROM sims
       |WHERE cosine >= $threshold ORDER BY vec_a, vec_b""".stripMargin

  /** DuckDB SQL replicating [[annTopK]] exactly: regenerates the identical
    * md5-derived hyperplanes, buckets, candidate set, and exact-cosine
    * ranking.
    */
  def oracleSql(dim: Int = 64, queryMax: Long = 5L, k: Int = 5): String =
    s"""WITH hp AS (
       |  SELECT l, j, i,
       |    (CAST(CAST(list_reduce(
       |       list_transform(range(1, 8),
       |         p -> instr('0123456789abcdef',
       |                substr(md5('h:' || l || ':' || j || ':' || i), p, 1)) - 1),
       |       (acc, v) -> acc * 16 + v) AS BIGINT) % 2001 AS DOUBLE) - 1000) / 1000.0 AS w
       |  FROM (SELECT unnest(range(0, $L)) AS l),
       |       (SELECT unnest(range(0, $H)) AS j),
       |       (SELECT unnest(range(0, $dim)) AS i)),
       |ex AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) - 1 AS i
       |  FROM embeddings),
       |dots AS (
       |  SELECT e.vec_id, h.l, h.j, sum(e.x * h.w) AS d
       |  FROM ex e JOIN hp h ON h.i = e.i
       |  GROUP BY 1, 2, 3),
       |bk AS (
       |  SELECT vec_id, l,
       |    sum(CASE WHEN d >= 0 THEN 1 << j ELSE 0 END) AS bucket
       |  FROM dots GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM bk q JOIN bk c ON q.l = c.l AND q.bucket = c.bucket
       |  WHERE q.vec_id < $queryMax AND c.vec_id <> q.vec_id),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
       |sims AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    round(sum(a.x * b.x) / (na.nrm * nb.nrm), 4) AS cosine
       |  FROM cand cd
       |  JOIN ex a ON a.vec_id = cd.query_id
       |  JOIN ex b ON b.vec_id = cd.neighbor_id AND b.i = a.i
       |  JOIN norms na ON na.vec_id = cd.query_id
       |  JOIN norms nb ON nb.vec_id = cd.neighbor_id
       |  GROUP BY 1, 2, na.nrm, nb.nrm)
       |SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM sims) WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
}
