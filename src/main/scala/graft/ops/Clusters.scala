package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster formation: connected components over a near-dup
  * pair list — the step every dedup pipeline runs after candidate pairs
  * are verified (pairs say "a~b"; keep-one-per-cluster needs the
  * transitive closure).
  *
  * Algorithm: min-label propagation. Every node starts labeled with its
  * own id; each round a node takes the min of its label and its
  * neighbors' labels; converged when no label changes. That is the
  * standard distributed CC (GraphX/Pregel's connectedComponents does
  * exactly this) — O(cluster diameter) rounds, each ONE shuffle of
  * (node, label) pairs, no driver-side graph.
  *
  * Scale notes: labels are materialized and lineage-truncated each round
  * — iterative DataFrame loops otherwise stack lineage and replan from
  * scratch every iteration. Default truncation runs on the INTERNAL row
  * RDD (Dataset.localCheckpoint), so no Row↔InternalRow conversion is
  * paid per round; when the SparkContext has a checkpoint dir configured
  * (or `reliable = Some(true)`), the round is RELIABLY checkpointed via
  * persist-then-checkpoint — files survive executor loss, which on a
  * real cluster would otherwise abort the whole iterative job mid-round. Superseded rounds are released as soon as their successor
  * materializes — blocks unpersisted AND checkpoint files deleted (via
  * the LogicalRDD behind the truncated frame) — so peak storage is two
  * label frames regardless of round count (a long-running per-batch
  * caller never accumulates snapshots). Near-dup clusters are tiny in
  * practice (diameter 2-3), so rounds stay single digits regardless of
  * corpus size.
  */
object Clusters {

  /** (v, cluster_id) for every node in `pairs` (cols a, b); cluster_id =
    * min node id reachable through the pair graph. `reliable`: None =
    * use reliable checkpointing iff a checkpoint dir is set; Some(b)
    * forces the choice (Some(true) requires a checkpoint dir).
    *
    * Caller contract: `pairs` should be DISTINCT (and need not be
    * symmetric — both directions are generated internally). Correctness
    * survives duplicates (min-aggregation is idempotent), but the edge
    * multiset is deliberately NOT dedup'd here — that skip saves a full
    * edge exchange + aggregate — so a heavily duplicated input inflates
    * every round's shuffle by its duplication factor. Distinct upstream,
    * where the duplication's cause is visible.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      reliable: Option[Boolean] = None): DataFrame = {
    val spark = pairs.sparkSession
    val useReliable =
      reliable.getOrElse(spark.sparkContext.getCheckpointDir.isDefined)
    // Materialize a round's labels and cut its lineage. Default path:
    // Dataset.localCheckpoint — truncation happens on the INTERNAL row
    // RDD (no Row<->InternalRow round-trip like df.rdd, A/B'd at ~7% in
    // round 5), and the persisted blocks behind the resulting LogicalRDD
    // are still releasable once the round is superseded. Reliable path:
    // explicit persist-then-checkpoint on df.rdd — the file write then
    // reads cached blocks instead of recomputing the round (the public
    // Dataset.checkpoint recomputes; the persisting overload is
    // private[sql]). Returns the truncated frame plus a release thunk.
    def truncate(df: DataFrame): (DataFrame, () => Unit) =
      if (useReliable) {
        val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint() // materialized by the next action
        val release = () => {
          // checkpoint files are NOT context-cleaned by default
          // (spark.cleaner.referenceTracking.cleanCheckpoints defaults to
          // false) and are never swept at app end — delete them explicitly
          rdd.getCheckpointFile.foreach { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          }
          rdd.unpersist(false)
          ()
        }
        (spark.createDataFrame(rdd, df.schema), release)
      } else {
        // lazy: the caller's next action (labelSum) materializes the
        // blocks — one job per round, not a separate eager count()
        val cp = df.localCheckpoint(false,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val internal = cp.queryExecution.analyzed match {
          case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
          case _ => None
        }
        val release = () => { internal.foreach(_.unpersist(false)); () }
        (cp.toDF(), release)
      }
    // pre-partitioned ON THE JOIN KEY and cached: every round's
    // edges-to-labels join reuses this partitioning (InMemoryRelation
    // reports hash(b)), so only the small labels side shuffles per round
    // — one up-front shuffle instead of re-shuffling edges every round.
    // The edge multiset is NOT distinct'd: min-aggregation is idempotent,
    // so duplicate or self pairs cannot change any label, and skipping
    // the dedup saves a full edge-set exchange + aggregate (both shipped
    // callers — q64 candidate pairs, q68 bucket-min edges — already emit
    // distinct pairs; a caller with heavy duplication should distinct
    // upstream, where the duplication's cause is visible)
    val edges = pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      // explicit width (the r13 q97 finding): expression-only repartition
      // is AQE-coalesced to ONE partition on a small edge set, which
      // would serialize every round's edges-to-labels join on one task
      .repartition(spark.sparkContext.defaultParallelism, col("b"))
      .persist()
    // an action that throws (bad input, a cancelled job) leaves no cache
    // behind: the edges always go, the live rounds go on failure, and on
    // success the final round's blocks back the returned labels
    var cur: (DataFrame, () => Unit) = null
    var next: (DataFrame, () => Unit) = null
    try {
      // initialization fused with the first propagation: label(v) starts at
      // min(v, min neighbor) — computed in the same single pass that
      // "labels = v, then round 1" would need, saving one full round of
      // truncate + convergence check (edges are bidirectional, so every
      // node appears on the `a` side)
      cur = truncate(
        edges.groupBy(col("a").as("v"))
          .agg(least(min(col("b")), min(col("a"))).as("lbl")))
      def labels = cur._1
      // labels only ever decrease, so the label-sum is strictly decreasing
      // until the fixpoint: comparing sums detects convergence with one
      // cheap aggregate instead of a join of consecutive rounds
      def labelSum(df: DataFrame): Long =
        df.agg(coalesce(sum("lbl"), lit(0L))).head().getLong(0)
      var prevSum = labelSum(labels)
      var iter = 0
      var changed = true
      while (changed && iter < maxIter) {
        // one round = join + ONE aggregate. The propagated labels flow
        // straight from the join into the groupBy — min() is associative,
        // so the aggregate's map-side combine performs the per-neighbor
        // reduction without an extra shuffle. The former
        // `labels.union(propagated)` own-label branch is PROVABLY
        // redundant (r19). Write B_t(v) for v's closed t-hop ball and
        // lbl_t for the labels after round t. Init is the fused
        // min(own, neighbors), so lbl_0(v) = min over B_1(v). Edges are
        // bidirectional and every node has a neighbour, so for t >= 1 the
        // union over v's neighbours u of their t-balls is v's (t+1)-ball:
        // ∪_{u~v} B_t(u) = B_{t+1}(v). By induction the neighbour-min
        // lbl_t(v) = min over B_{t+1}(v), a ball that holds v itself, so
        // neighbor-min EQUALS min(own, neighbor-min) every round, and
        // every node survives because every node is an `a` endpoint.
        // Dropping the branch removes a full labels-side scan per round
        // and makes round batching recompute-free (each round's frame is
        // referenced exactly once by the next).
        //
        // Rounds are BATCHED two per convergence check (r19): the
        // truncate + label-sum action pair is the loop's driver-paced
        // latency, and labels only ever decrease, so the sum over TWO
        // rounds is still strictly decreasing until the fixpoint —
        // equality proves both rounds were no-ops (a fixpoint persists).
        // The worst case computes one redundant no-op round past
        // convergence; near-dup diameters are 2-3, so halving the action
        // count wins at every scale while the per-round shuffle work is
        // unchanged.
        val rounds = math.min(2, maxIter - iter)
        var lbl = labels
        for (_ <- 1 to rounds) {
          lbl = edges
            .join(lbl.select(col("v").as("b"), col("lbl").as("nlbl")), "b")
            .groupBy(col("a").as("v")).agg(min(col("nlbl")).as("lbl"))
        }
        next = truncate(lbl)
        val nextSum = labelSum(next._1) // materializes `next` before freeing prev
        changed = nextSum != prevSum
        prevSum = nextSum
        cur._2() // release the superseded round's storage
        cur = next
        next = null
        iter += rounds
      }
      labels.select(col("v"), col("lbl").as("cluster_id"))
    } catch {
      case scala.util.control.NonFatal(e) =>
        Seq(next, cur).filter(_ != null).foreach(_._2())
        throw e
    } finally edges.unpersist()
  }

  /** Append `cluster_size` to a (node, cluster_id) frame. Default: a
    * window over cluster_id — ONE exchange, the shape both q64 and q68
    * ship with, accepted because the input is one row per NODE, already
    * far smaller than the edge/pair frames upstream. `viaAgg = true` is
    * the skew escape hatch for a corpus with a degenerate giant cluster:
    * groupBy + join-back costs a second exchange, but the aggregate gets
    * map-side partials and the join gets AQE skew-splitting, so no
    * single task has to hold the giant cluster's whole partition.
    * Results are identical either way; column order is preserved.
    */
  private[ops] def withClusterSizes(labeled: DataFrame, viaAgg: Boolean): DataFrame =
    if (!viaAgg) {
      import org.apache.spark.sql.expressions.Window
      labeled.withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
    } else {
      val sizes = labeled.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      labeled.join(sizes, "cluster_id")
        .select(labeled.columns.map(col).toIndexedSeq :+ col("cluster_size"): _*)
    }

  /** q64 body: clusters over the embedding near-dup pairs (q35), with
    * per-cluster sizes. Singleton vectors (no near-dup) are excluded —
    * the cluster table is exactly the nodes that appeared in a pair.
    * `sizesViaAgg` selects the skew-splittable size computation
    * ([[withClusterSizes]]); the default keeps the shipped one-exchange
    * window plan.
    */
  def embedDupClusters(emb: DataFrame, sizesViaAgg: Boolean = false): DataFrame = {
    // ordered = false: CC consumes the pairs as an unordered edge set, so
    // the oracle-facing global sort inside nearDupPairs would be a wasted
    // range exchange + sampling job here
    val pairs = AnnLsh.nearDupPairs(emb, ordered = false)
      .select(col("vec_a").as("a"), col("vec_b").as("b"))
    val cc = connectedComponents(pairs)
    withClusterSizes(
      cc.select(col("v").as("vec_id"), col("cluster_id")), sizesViaAgg)
      .orderBy("vec_id")
  }

  /** DuckDB oracle: the same near-dup pairs (AnnLsh.nearDupOracleSql) fed
    * into a recursive transitive closure; cluster_id = min reachable id.
    * UNION (distinct) makes the recursion terminate on cycles.
    */
  def embedDupClustersOracleSql(): String = {
    val pairsSql = AnnLsh.nearDupOracleSql()
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (
       |  SELECT vec_a AS a, vec_b AS b FROM pairs
       |  UNION
       |  SELECT vec_b, vec_a FROM pairs),
       |reach(v, r) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.v = e.b),
       |cc AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY 1),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
       |SELECT cc.v AS vec_id, cc.cluster_id, sizes.cluster_size
       |FROM cc JOIN sizes USING (cluster_id)
       |ORDER BY vec_id""".stripMargin
  }
}
