package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph centrality on DataFrames — the "importance" signal
  * family (PageRank is the canonical member) that large-corpus pipelines
  * use for source/domain quality weighting: rank hosts by link-graph
  * centrality, then weight or gate documents by their source's rank
  * (the public CommonCrawl ranking methodology). The engine's graph
  * surface so far is connected components ([[Clusters]]); this adds the
  * fixed-point ITERATIVE shape: rank_{t+1} = f(Σ over in-edges of
  * rank_t · w / w_total(src)).
  *
  * One core, three entry points: [[pageRank]] (q102),
  * [[personalizedPageRank]] (q129) and [[weightedPageRank]] (q133) each
  * build a (cu, su, w) pair frame over the customer–supplier trade graph
  * and hand it to the private `rank` core — distinct pairs at w = 1 for
  * the first two, per-pair order-line counts for the third; q129 also
  * passes its seed modulus, which swaps the uniform teleport vector for
  * the seed-concentrated one. Every fix to the build, gate or iteration
  * lands in that one body.
  *
  * Determinism discipline (the q90/q96 exact-integer rule): ranks live
  * in fixed-point longs (scale 1e12); each step is an exact long product
  * (r · w) then integer division by w_total, an exact long sum, and
  * integer damping ((85·x) div 100) — commutative, associative,
  * partition-order-free, so Spark and the DuckDB oracles replay every
  * iteration bit-for-bit. No doubles anywhere: float PageRank sums differ
  * across partitionings and engines in the last ulp, which a hash-compare
  * cannot tolerate. At w = 1, w_total is the degree and (r·1) div deg is
  * the unweighted share exactly.
  *
  * Shape, scale-first: one iteration = join(edges, ranks on src) +
  * groupBy(dst).sum — the standard Pregel-on-DataFrames step. Vertices
  * are LONGS (custkey·2 / suppkey·2+1; the label string exists only in
  * the final top-k projection) — an id shuffle is bytes-cheaper and
  * hash-faster than strings by ~5× measured here. Edges are built once
  * and persisted (reused every iteration), as is the w_total/teleport
  * base frame. With `broadcastRanks=true` (default) the per-iteration
  * rank state — |V| rows of 3 longs — is broadcast, so the |E|-sized
  * edge frame NEVER shuffles: each iteration is one map-side join + one
  * map-side-combined aggregate of ≤|V| rows per partition. That is the
  * right plan whenever |V| ≪ |E| (host graphs: millions of hosts,
  * billions of links). At |V| beyond broadcast (billions of vertices),
  * pass `broadcastRanks=false` for the shuffle-join twin — same
  * arithmetic, bit-equal output (GraphSpec pins it), edges
  * pre-partitioned on src so AQE handles hub skew. Iterations are
  * unrolled into ONE lineage (fixed count, no driver-side convergence
  * loop reading results back).
  *
  * Two caller-facing caveats: the builders are EAGER — |V|, |E| and
  * |seeds| come from one bounded 1-row collect during DataFrame
  * construction, so they are frozen at build time (the returned frame is
  * not a lazy view of mutable inputs); and the pairs/w_total/edges/init
  * persists have CALLER-OWNED lifetime (the [[NearDup]] discipline) — a
  * long-lived session clears them via `spark.catalog.clearCache()` when
  * done with the result.
  */
object Graph {

  /** Fixed-point scale: 1e12 ≪ Long.Max/85, so damping never overflows. */
  val Scale: Long = 1000000000000L

  /** Edge rows per cached-edge partition — ~2-3 longs/row ⇒ ~64-100 MB
    * tasks, the guide's partition-size band.
    */
  private val EdgeRowsPerTask: Long = 4000000L

  /** DATA-derived width for the persisted edge frame (guide §2 —
    * scale-adaptive partitioning, not a core-count constant): the
    * iteration loop scans the cached edges once per iteration, and a
    * cached plan is EXEMPT from AQE partition coalescing
    * (canChangeCachedPlanOutputPartitioning defaults false), so without
    * this the cache inherits `spark.sql.shuffle.partitions` = cluster
    * width and a small graph pays per-core task overhead × iterations ×
    * cores — measured here as the q102 INVERSE core scaling (32-core
    * run 1.8× slower than 8-core on identical data; the r18 driver saw
    * 0.23× scaling). `m` is the measured edge count (free — it rides
    * the existing |V| gate aggregate), so a production-scale graph gets
    * `defaultParallelism` and the repartition below becomes the same
    * width the exchange would have anyway.
    */
  private def edgeWidth(spark: org.apache.spark.sql.SparkSession,
      m: Long): Int =
    math.min(
      spark.sparkContext.defaultParallelism.toLong,
      math.max(1L, (m + EdgeRowsPerTask - 1) / EdgeRowsPerTask)).toInt

  /** PageRank over the bipartite customer–supplier trade graph (edge =
    * "this customer ordered from this supplier", made undirected so
    * neither side is a sink), `iters` damped iterations (d = 0.85),
    * top-`topK` vertices by final rank.
    *
    * Vertex ids are 'c<custkey>' / 's<suppkey>' in the output; the
    * vertex set is the set of edge endpoints (an isolated customer has
    * no rank mass to receive or give). Initial rank = Scale div N for
    * every vertex; base = ((Scale div N) · 15) div 100 is the teleport
    * term. The private `rank` core over distinct pairs at unit weight: w = 1
    * makes w_total the degree and (r·1) div deg the plain share.
    */
  def pageRank(
      orders: DataFrame,
      lineitem: DataFrame,
      iters: Int = 3,
      topK: Int = 50,
      broadcastRanks: Boolean = true): DataFrame =
    rank(tradePairs(orders, lineitem).distinct().withColumn("w", lit(1L)),
      iters, topK, broadcastRanks, seedMod = None)

  /** Personalized PageRank (q129): the q102 iteration with the teleport
    * mass concentrated on a SEED set instead of uniform — the
    * trusted-seed domain-authority recipe (rank flows outward from
    * vetted sources; a far page scores low even with many links — the
    * TrustRank/Personalized-PageRank construction every corpus-quality
    * pipeline uses to weight crawl sources against a curated whitelist).
    *
    * Seeds: supplier vertices with suppkey ≡ 0 (mod `seedMod`) — a
    * deterministic stand-in for the curated list. init = the
    * personalization vector itself (Scale div |seeds| on seeds, 0
    * elsewhere); base = 15% of it. Vertices unreachable from the seeds
    * end at rank 0 and are dropped from the output. A non-empty graph
    * with no seed fails with `IllegalArgumentException`.
    */
  def personalizedPageRank(
      orders: DataFrame,
      lineitem: DataFrame,
      seedMod: Int = 10,
      iters: Int = 3,
      topK: Int = 50,
      broadcastRanks: Boolean = true): DataFrame = {
    require(seedMod >= 1)
    rank(tradePairs(orders, lineitem).distinct().withColumn("w", lit(1L)),
      iters, topK, broadcastRanks, Some(seedMod))
  }

  /** WEIGHTED PageRank (q133): the q102 iteration with edge weights —
    * an edge's share of its source's outflow is proportional to its
    * weight instead of uniform. Weight = the number of order LINES
    * linking the (customer, supplier) pair: a pair that traded 50 times
    * is a 50× stronger endorsement than a one-off (the public weighted-
    * PageRank/CommonCrawl-host-ranking construction, where link
    * multiplicity weighs the edge). Unit weights recover [[pageRank]]
    * bit-for-bit (GraphSpec).
    */
  def weightedPageRank(
      orders: DataFrame,
      lineitem: DataFrame,
      iters: Int = 3,
      topK: Int = 50,
      broadcastRanks: Boolean = true): DataFrame =
    rank(tradePairs(orders, lineitem).groupBy(col("cu"), col("su"))
        .agg(count(lit(1)).as("w")),
      iters, topK, broadcastRanks, seedMod = None)

  /** One (cu, su) row per order line: custkey·2 and suppkey·2+1. */
  private def tradePairs(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(
        (col("o_custkey") * 2).as("cu"),
        (col("l_suppkey") * 2 + 1).as("su"))

  /** The PageRank core every entry point runs: `pairs` is one
    * (cu, su, w) row per undirected edge with a long weight w ≥ 1;
    * `seedMod` selects the personalized teleport (seeds = supplier
    * vertices with suppkey ≡ 0 mod seedMod) over the uniform one.
    */
  private def rank(
      pairs: DataFrame,
      iters: Int,
      topK: Int,
      broadcastRanks: Boolean,
      seedMod: Option[Int]): DataFrame = {
    require(iters >= 1 && topK >= 1)
    val spark = pairs.sparkSession
    // persisted so the degree pass and the edge-cache build read ONE
    // join + distinct/aggregate; undirected via one explode over it — a
    // union of two selects would be two subtrees, each recomputing the
    // pair build (Spark shares no common subexpressions across a union)
    val pairsP = pairs.persist()
    val edges0 = pairsP
      .select(explode(array(
        struct(col("cu").as("src"), col("su").as("dst"), col("w")),
        struct(col("su").as("src"), col("cu").as("dst"), col("w")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
    // the broadcast hint is a no-op plan-wise when the other side is
    // already broadcast; applied to the RANK side only, never edges
    def small(df: DataFrame): DataFrame =
      if (broadcastRanks) broadcast(df) else df
    // persisted: the gate action below materializes it once and init
    // then reads the cache instead of re-aggregating the edges
    val deg = edges0.groupBy(col("src").as("v"))
      .agg(sum(col("w")).as("wtot"), count(lit(1)).as("ecnt")).persist()
    // integer div: Column `/` on longs is DOUBLE division
    val isSeed = seedMod.map(k => col("v") % 2 === 1 && expr(s"(v div 2) % $k") === 0)
    // |V|, |E| and |seeds| as ONE collected 1-row aggregate, inlined as
    // literals below: a broadcast crossJoin of the same scalars would
    // recompute deg inside its own subquery, racing init's
    // materialization into duplicate edge-build scans. |V| is frozen at
    // build time, so the returned frame is not a lazy view of its inputs.
    val gate = deg
      .agg(count(lit(1)), coalesce(sum("ecnt"), lit(0L)) +:
        isSeed.map(p => count(when(p, 1))).toSeq: _*)
      .collect()(0)
    // on a NON-EMPTY graph an empty seed set fails here: Spark's `r div 0`
    // yields NULL and silently empties the result, while the DuckDB
    // oracle raises division-by-zero. An EMPTY graph is fine on both
    // engines (no vertex row reaches the division).
    seedMod.foreach(k => require(gate.getLong(0) == 0L || gate.getLong(2) > 0L,
      s"personalizedPageRank: no supplier vertex satisfies suppkey % $k == 0 — empty seed set"))
    // teleport share: Scale div N uniformly, or Scale div |seeds| on the
    // seeds and 0 elsewhere (empty graph: never consumed)
    val share = Scale / math.max(gate.getLong(if (isSeed.isDefined) 2 else 0), 1L)
    def teleport(x: Long): Column =
      isSeed.fold(lit(x))(p => when(p, lit(x)).otherwise(lit(0L)))
    // persisted at the DATA-derived width (see [[edgeWidth]]); at
    // production |E| this is defaultParallelism and the repartition is a
    // no-op choice of the same width
    val width = edgeWidth(spark, gate.getLong(1))
    val edges =
      (if (width < spark.sparkContext.defaultParallelism)
         edges0.repartition(width, col("src"))
       else edges0).persist()
    val init = deg.select(col("v"), col("wtot"), teleport(share).as("r"),
        teleport((share * 15) / 100).as("base"))
      .persist() // referenced every iteration (wtot + teleport base)
    var ranks = init
    for (_ <- 1 to iters) {
      // rank state (v, r, wtot) broadcasts; the per-EDGE share is an
      // exact long product (w ≤ |lineitem|, r ≤ Scale) then one div
      val contrib = ranks.select(col("v").as("src"), col("r"), col("wtot"))
      val inflow = edges.join(small(contrib), "src")
        .select(col("dst"), expr("(r * w) div wtot").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      ranks = init.select(col("v"), col("wtot"), col("base"))
        .join(small(inflow), col("v") === col("dst"), "left")
        .select(col("v"), col("wtot"), col("base"),
          (col("base") + expr("(85 * coalesce(inflow, 0L)) div 100")).as("r"))
    }
    // unreachable-from-seeds vertices carry no rank
    (if (isSeed.isDefined) ranks.filter(col("r") > 0) else ranks)
      .select(
        concat(
          when(col("v") % 2 === 0, lit("c")).otherwise(lit("s")),
          expr("v div 2")).as("vertex"),
        col("r").as("rank_q"))
      .orderBy(desc("rank_q"), asc("vertex"))
      .limit(topK)
  }

  /** DuckDB oracle for [[personalizedPageRank]]. */
  def personalizedPageRankOracleSql(
      seedMod: Int = 10, iters: Int = 3, topK: Int = 50): String = {
    val S = Scale
    val itCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s"""it$i AS (
         |  SELECT $prev.v, $prev.deg, $prev.base,
         |    $prev.base + (85 * coalesce(f.inflow, 0)) // 100 AS r
         |  FROM $prev LEFT JOIN (
         |    SELECT e.dst AS dst, sum($prev.r // $prev.deg) AS inflow
         |    FROM edges e JOIN $prev ON $prev.v = e.src GROUP BY 1) f
         |  ON f.dst = $prev.v)""".stripMargin
    }.mkString(",\n")
    val seed = s"(v % 2 = 1 AND (v // 2) % $seedMod = 0)"
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS cu, l_suppkey * 2 + 1 AS su
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT cu AS src, su AS dst FROM pairs
       |  UNION ALL SELECT su AS src, cu AS dst FROM pairs),
       |deg AS (SELECT src AS v, count(*) AS deg FROM edges GROUP BY 1),
       |ns AS (SELECT count(*) AS ns FROM deg WHERE $seed),
       |r0 AS (
       |  SELECT v, deg,
       |    CASE WHEN $seed THEN $S // ns.ns ELSE 0 END AS r,
       |    CASE WHEN $seed THEN (($S // ns.ns) * 15) // 100 ELSE 0 END AS base
       |  FROM deg, ns),
       |$itCtes
       |SELECT CASE WHEN v % 2 = 0 THEN 'c' || (v // 2) ELSE 's' || (v // 2) END
       |    AS vertex,
       |  CAST(r AS BIGINT) AS rank_q
       |FROM it$iters
       |WHERE r > 0
       |ORDER BY rank_q DESC, vertex ASC LIMIT $topK""".stripMargin
  }

  /** DuckDB oracle for [[pageRank]]: the same integer fixed-point
    * iteration as chained CTEs (one per iteration, mirroring the
    * unrolled lineage). DuckDB sums BIGINT into HUGEINT — exact, cast
    * back at the end.
    */
  def pageRankOracleSql(iters: Int = 3, topK: Int = 50): String = {
    val S = Scale
    val itCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s"""it$i AS (
         |  SELECT $prev.v, $prev.deg, $prev.base,
         |    $prev.base + (85 * coalesce(f.inflow, 0)) // 100 AS r
         |  FROM $prev LEFT JOIN (
         |    SELECT e.dst AS dst, sum($prev.r // $prev.deg) AS inflow
         |    FROM edges e JOIN $prev ON $prev.v = e.src GROUP BY 1) f
         |  ON f.dst = $prev.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS cu, l_suppkey * 2 + 1 AS su
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT cu AS src, su AS dst FROM pairs
       |  UNION ALL SELECT su AS src, cu AS dst FROM pairs),
       |deg AS (SELECT src AS v, count(*) AS deg FROM edges GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (
       |  SELECT v, deg, $S // nn.n AS r, (($S // nn.n) * 15) // 100 AS base
       |  FROM deg, nn),
       |$itCtes
       |SELECT CASE WHEN v % 2 = 0 THEN 'c' || (v // 2) ELSE 's' || (v // 2) END
       |    AS vertex,
       |  CAST(r AS BIGINT) AS rank_q
       |FROM it$iters ORDER BY rank_q DESC, vertex ASC LIMIT $topK""".stripMargin
  }

  /** DuckDB oracle for [[weightedPageRank]] — the weighted iteration as
    * chained CTEs; BIGINT sums land in HUGEINT (exact), cast back.
    */
  def weightedPageRankOracleSql(iters: Int = 3, topK: Int = 50): String = {
    val S = Scale
    val itCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s"""it$i AS (
         |  SELECT $prev.v, $prev.wtot, $prev.base,
         |    $prev.base + (85 * coalesce(f.inflow, 0)) // 100 AS r
         |  FROM $prev LEFT JOIN (
         |    SELECT e.dst AS dst, sum(($prev.r * e.w) // $prev.wtot) AS inflow
         |    FROM edges e JOIN $prev ON $prev.v = e.src GROUP BY 1) f
         |  ON f.dst = $prev.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT o_custkey * 2 AS cu, l_suppkey * 2 + 1 AS su,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT cu AS src, su AS dst, w FROM pairs
       |  UNION ALL SELECT su AS src, cu AS dst, w FROM pairs),
       |deg AS (SELECT src AS v, sum(w) AS wtot FROM edges GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (
       |  SELECT v, wtot, $S // nn.n AS r, (($S // nn.n) * 15) // 100 AS base
       |  FROM deg, nn),
       |$itCtes
       |SELECT CASE WHEN v % 2 = 0 THEN 'c' || (v // 2) ELSE 's' || (v // 2) END
       |    AS vertex,
       |  CAST(r AS BIGINT) AS rank_q
       |FROM it$iters ORDER BY rank_q DESC, vertex ASC LIMIT $topK""".stripMargin
  }

  // -------------------------------------------------------------------
  // Triangle counting + local clustering coefficient (q146): the local-
  // density signal graph pipelines read off a similarity graph — a
  // vertex whose neighbors all know each other sits inside a tight
  // cluster; coefficient ~0 flags hubs bridging unrelated regions.
  // Published construction: degree-ordered edge orientation (Cohen's
  // MapReduce triangle enumeration / Suri-Vassilvitskii): orient every
  // edge from the (degree, id)-smaller endpoint; any acyclic
  // orientation gives each triangle EXACTLY one vertex with two
  // out-edges, so enumerating (wedge at src) ⋈ (closing edge) counts
  // each triangle once, and out-degrees are bounded by ~sqrt(|E|)
  // regardless of hub degree — the skew-proof property that makes the
  // plan survive power-law graphs at 100 TB.
  //
  // The graph here is q138's mutual-kNN similarity graph (degree ≤ k by
  // construction — the co-purchase graph alternative is COMPLETE on
  // this testdata and triangle counting on a clique is vacuous).
  // -------------------------------------------------------------------

  /** Per-vertex triangle counts, wedge counts, and local clustering
    * coefficient over an undirected edge list. `edges` must carry the
    * canonical (u < v) distinct pairs in columns `uCol`, `vCol`.
    * Output: (vec_id, degree, triangles, wedges, coeff) for vertices of
    * degree ≥ 2 (coefficient is undefined below one wedge), triangles
    * desc / id asc, top `topK`. coeff = triangles / wedges — two exact
    * longs into one double division, bit-identical across engines.
    */
  def triangleStats(
      edges: DataFrame,
      uCol: String = "vec_a",
      vCol: String = "vec_b",
      topK: Int = 50): DataFrame = {
    val e0 = edges.select(col(uCol).as("u"), col(vCol).as("v"))
      .distinct()
    // the edge list is read three times (degree, wedges, closing-edge
    // probe) — materialize once; the kNN build above it is itself
    // checkpointed, so this is a thin frame of id pairs. RELIABLE
    // checkpoint when a dir is set (a local checkpoint's blocks die with
    // their executor, aborting this multi-pass consumer at cluster
    // scale — the Clusters r5 contract), local otherwise
    val e = Checkpoints.materialize(e0)
    val deg = e.select(col("u").as("s"))
      .unionAll(e.select(col("v").as("s")))
      .groupBy("s").agg(count(lit(1)).as("d"))
    // orient from the (degree, id)-smaller endpoint; u < v makes the
    // tie-break (equal degrees -> keep u as source) total
    val oriented = e
      .join(deg.select(col("s").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("s").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("src"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("dst"))
    // wedges at src: both dsts oriented OUT of src; a.dst < b.dst keeps
    // the candidate closing edge in canonical form for the probe join
    val tris = oriented.as("a")
      .join(oriented.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.src").as("w"), col("a.dst").as("x"), col("b.dst").as("y"))
      .join(e, col("x") === col("u") && col("y") === col("v"), "left_semi")
    val perVertex = tris
      .select(explode(array(col("w"), col("x"), col("y"))).as("s"))
      .groupBy("s").agg(count(lit(1)).as("triangles"))
    deg.filter(col("d") >= 2)
      .join(perVertex, Seq("s"), "left")
      .select(col("s").as("vec_id"), col("d").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        (col("d") * (col("d") - 1) / lit(2)).cast("long").as("wedges"))
      .withColumn("coeff", col("triangles") / col("wedges"))
      .orderBy(desc("triangles"), asc("vec_id"))
      .limit(topK)
  }

  /** DuckDB oracle for [[triangleStats]] over the q138 mutual-kNN graph:
    * the knnGraph oracle as a subquery, triangles via the plain a<b<c
    * three-way join (the oracle optimizes for replayability, not the
    * oriented plan's skew bound).
    */
  def knnTriangleOracleSql(topK: Int = 50): String =
    s"""WITH edges AS (
       |  SELECT vec_a AS u, vec_b AS v FROM (
       |${AnnIvf.knnGraphOracleSql()}
       |  )),
       |deg AS (
       |  SELECT s, CAST(count(*) AS BIGINT) AS d FROM (
       |    SELECT u AS s FROM edges UNION ALL SELECT v FROM edges)
       |  GROUP BY 1),
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e2.u = e1.v
       |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
       |pv AS (
       |  SELECT s, CAST(count(*) AS BIGINT) AS triangles FROM (
       |    SELECT a AS s FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY 1)
       |SELECT d.s AS vec_id, d.d AS degree,
       |  coalesce(pv.triangles, 0) AS triangles,
       |  CAST(d.d * (d.d - 1) // 2 AS BIGINT) AS wedges,
       |  coalesce(pv.triangles, 0) / CAST(d.d * (d.d - 1) // 2 AS BIGINT)
       |    AS coeff
       |FROM deg d LEFT JOIN pv ON pv.s = d.s
       |WHERE d.d >= 2
       |ORDER BY triangles DESC, vec_id LIMIT $topK""".stripMargin
}
