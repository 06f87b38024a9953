package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The LSH candidate step shared by every similarity operator, in one
  * place ([[candidatePairs]]): the pair-budget preflight, the hot-bucket
  * guard, the slice-or-merge candidate join and the pair dedup. Callers:
  *   - [[TextOps.simhashPairs]] (4 × 8-bit SimHash bands, [[bitBands]]);
  *   - [[NearDup.lshNearDupPairs]] and [[NearDup.lshNearDupPairsPlanned]]
  *     (MinHash bands);
  *   - [[AnnLsh.annTopK]] (directed pairing) and [[AnnLsh.nearDupPairs]]
  *     ((table, bucket) keys);
  *   - [[Multimodal]]'s image, audio and video near-dups (4 × 16-bit
  *     bands, [[bitBands]]; video carries its frame index).
  *
  * The one preflight rule: a call with no slice bound (`sliceMax = None`)
  * and no hot-bucket cap sizes its raw candidate space first and fails
  * fast over `pairBudget` ([[preflightFullCorpus]]); a slice or a cap is
  * its own bound and skips it. The dedup gate's row-bounded within-batch
  * check ([[graft.streaming.StreamingEtl.runDedupGate]]) is the only other
  * caller of the preflight.
  */
private[graft] object Lsh {

  /** Explode a 64-bit-or-narrower hash column into `bands` bit-bands of
    * `bits` bits each: every column of `df` plus (band, bv), one row per
    * band, bv = (hash >> bits·band) & (2^bits − 1). Two hashes within
    * Hamming distance < `bands` agree on at least one band (pigeonhole).
    */
  def bitBands(df: DataFrame, hash: String, bands: Int, bits: Int): DataFrame = {
    val kept = df.columns.toSeq.map(col)
    df.select(kept :+ explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col(hash), bits * b).bitwiseAND(lit((1L << bits) - 1)).as("bv"))
      }: _*)).as("bk"): _*)
      .select(kept ++ Seq(col("bk.band").as("band"), col("bk.bv").as("bv")): _*)
  }

  /** Distinct candidate pairs of the rows of `banded` that share a bucket
    * `keys`: (`left`, `right`, c_a, c_b for each `carried` column c).
    *
    *   - `sliceMax = Some(m)` broadcasts the bounded left side
    *     (`left < m`) — the zero-shuffle bounded-batch shape; `None` is a
    *     hinted shuffle sort-merge self-equi-join on `keys` — full corpus
    *     on both sides, nothing broadcast whatever the size estimates
    *     say, AQE skew-splits hot buckets.
    *   - `hotCap` drops bucket groups larger than the cap first
    *     ([[guardHotBuckets]]).
    *   - With neither a slice nor a cap, the raw candidate count is sized
    *     against `pairBudget` first ([[preflightFullCorpus]]); a failed
    *     preflight unpersists `owned` (the frames the caller persisted,
    *     in persist order) before rethrowing.
    *   - `strict` keeps `left < right` (unordered pairs); otherwise
    *     `left =!= right` (every query → neighbor direction).
    */
  def candidatePairs(
      banded: DataFrame,
      keys: Seq[String],
      id: String,
      left: String,
      right: String,
      sliceMax: Option[Long],
      carried: Seq[String] = Nil,
      hotCap: Option[Long] = None,
      pairBudget: Option[Long] = Some(DefaultPairBudget),
      strict: Boolean = true,
      owned: Seq[DataFrame] = Nil): DataFrame = {
    if (sliceMax.isEmpty && hotCap.isEmpty)
      preflightFullCorpus(banded, keys, pairBudget, owned: _*)
    val guarded = guardHotBuckets(banded, keys, hotCap)
    val lhs = guarded.select(
      (col(id).as(left) +: carried.map(c => col(c).as(s"${c}_a"))) ++ keys.map(col): _*)
    candidateJoin(guarded, lhs, keys, left, sliceMax)
      .filter(if (strict) col(left) < col(id) else col(left) =!= col(id))
      .select(Seq(col(left), col(id).as(right)) ++
        carried.flatMap(c => Seq(col(s"${c}_a"), col(c).as(s"${c}_b"))): _*)
      .distinct()
  }

  /** Drop rows belonging to bucket-key groups larger than `cap` — the
    * hot-bucket guard for unsliced (full-corpus) candidate self-joins.
    *
    * A bucket of B members yields B(B-1)/2 candidate pairs, so one
    * degenerate bucket (boilerplate text, all-zero vectors) can dominate
    * the whole join. Capping trades recall for a hard output bound:
    * a pair dropped here is still found through any OTHER band/table the
    * two items share (MinHash: 32 bands, SimHash: 4 byte-bands, AnnLsh:
    * 16 tables), so only pairs whose every shared bucket is hot are lost.
    * Leave `cap` unset to keep exact LSH semantics and rely on AQE's
    * skew-join split to spread a hot bucket across reducers.
    *
    * One count-over-window pass: the window's hash partitioning on the
    * bucket keys is the same partitioning the candidate self-join needs,
    * so the guard adds no extra exchange ahead of a sort-merge join.
    */
  private def guardHotBuckets(df: DataFrame, keys: Seq[String], cap: Option[Long]): DataFrame =
    cap.fold(df) { c =>
      val w = Window.partitionBy(keys.map(col): _*)
      df.withColumn("__bsz", count(lit(1)).over(w))
        .filter(col("__bsz") <= c)
        .drop("__bsz")
    }

  /** The sliced-vs-full candidate join: `Some(m)` broadcasts the bounded
    * query side (`leftId < m`); `None` is a hinted shuffle sort-merge
    * self-equi-join on the bucket keys.
    */
  private def candidateJoin(guarded: DataFrame, lhs: DataFrame, keys: Seq[String],
      leftId: String, sliceMax: Option[Long]): DataFrame =
    sliceMax match {
      case Some(m) => guarded.join(broadcast(lhs.filter(col(leftId) < m)), keys)
      case None    => guarded.hint("merge").join(lhs, keys)
    }

  /** Default raw-candidate budget for an UNGUARDED full-corpus candidate
    * self-join (see [[preflightFullCorpus]]). 50M raw candidates is ~16×
    * the whole sf0.1 corpus's guarded pair work and far beyond anything
    * an oracle query enumerates, while the q151 incident (a hot synthetic
    * vocabulary driving Σ C(bucket,2) into the billions, 57 s at sf0.1 —
    * a cluster-day at 100 TB) sails past it by orders of magnitude.
    */
  val DefaultPairBudget = 50000000L

  /** Number of raw candidate pairs the unguarded self-equi-join on
    * `keys` would enumerate: Σ over bucket-key groups of C(n, 2). One
    * keyed count (map-side partials) folded to a 1-row sum — a scan of
    * the band frame, orders of magnitude cheaper than the join it sizes.
    *
    * Computed in DOUBLE from the first multiply: long n(n−1) overflows
    * negative past n ≈ 3.04e9 rows in ONE bucket — exactly the
    * degenerate-hot-bucket regime this guard exists for — and a negative
    * addend would let the summed estimate slip under the budget. A budget
    * check needs magnitude, not exactness; the double form is exact
    * anyway below 2^53 pairs (far past any budget anyone sets) and
    * saturates to `Long.MaxValue` beyond, so an overflowing corpus always
    * reads as over budget, never under.
    */
  def estimatedPairs(bk: DataFrame, keys: Seq[String]): Long = {
    val est = Option(
      bk.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).cast("double").as("__n"))
        .agg(sum(col("__n") * (col("__n") - 1) / 2).as("__pairs"))
        .head().get(0))
      .fold(0.0)(_.asInstanceOf[Number].doubleValue())
    if (est >= Long.MaxValue.toDouble) Long.MaxValue else math.round(est)
  }

  /** The S-curve candidate probability of a (bands, rowsPerBand) MinHash
    * plan at Jaccard similarity `s`: P = 1 − (1 − s^r)^b (Mining of
    * Massive Datasets §3.4; the standard published analysis). Exposed so
    * callers and specs reason about a plan's recall in one place.
    */
  def candidateProb(bands: Int, rowsPerBand: Int, s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), bands.toDouble)

  /** (bands, rowsPerBand) for a target similarity threshold `tau` under
    * a total signature budget of `nHashes` min-hashes — the S-curve
    * solve users otherwise do by hand when τ changes. The curve
    * P(candidate | s) = 1 − (1 − s^r)^b has its knee at τ ≈ (1/b)^(1/r)
    * (MMDS §3.4.3): this takes the discrete argmin of |(1/b)^(1/r) − τ|
    * over every (b, r) with b·r ≤ nHashes and b·r maximal for that r
    * (unused hashes buy nothing), breaking ties toward MORE bands —
    * bands shift the curve left, so the tie lands on the higher-recall
    * side of τ. Pure driver-side arithmetic over ≤ nHashes candidates;
    * nothing distributed. The default [[NearDup]] plan (64 hashes, 32
    * bands of r=2, knee ≈ 0.18) is `bandPlan(0.18, 64)`; to RETUNE, feed
    * the result into the banding stage as (Bands, K / Bands).
    */
  def bandPlan(tau: Double, nHashes: Int = 64): (Int, Int) = {
    require(tau > 0.0 && tau < 1.0, s"tau must be in (0, 1), got $tau")
    require(nHashes >= 2, s"need at least 2 hashes, got $nHashes")
    val plans = (1 to nHashes).map(r => (nHashes / r, r))
      .filter { case (b, _) => b >= 1 }
    plans.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - tau), -b)
    }
  }

  /** Pair-blowup preflight for a full-corpus (`sliceMax = None`) candidate
    * join with NO hot-bucket cap — the q151 lesson generalized: an
    * accidental unguarded run on a degenerate corpus is answer-size-
    * quadratic, and at 100 TB that is a cluster-day, not 57 seconds.
    * When `pairBudget` is set, one cheap pre-aggregate computes the EXACT
    * raw candidate count; over budget the call fails fast with the
    * estimate and the remediation (cap hot buckets, or raise/disable the
    * budget to knowingly accept the cost). `pairBudget = None` opts out.
    *
    * [[candidatePairs]] skips the preflight entirely when a slice bound
    * or a hot-bucket cap is already in place — those paths carry their
    * own bound.
    *
    * `owned` are the frames the caller persisted for the plan it was
    * about to return. A failed preflight hands the caller no plan to own,
    * so they are unpersisted here, in reverse of the order given (pass
    * them in persist order), before the failure is rethrown.
    */
  def preflightFullCorpus(
      bk: DataFrame, keys: Seq[String], pairBudget: Option[Long],
      owned: DataFrame*): Unit =
    try pairBudget.foreach { budget =>
      val est = estimatedPairs(bk, keys)
      require(est <= budget,
        s"unguarded full-corpus candidate join would enumerate $est raw " +
          s"pairs (budget $budget): cap degenerate buckets " +
          "(hotBandMax), bound the query side (sliceMax/queryMax), " +
          "or raise/disable pairBudget to accept the cost")
    } catch {
      case scala.util.control.NonFatal(e) =>
        owned.reverse.foreach(_.unpersist(false))
        throw e
    }
}
