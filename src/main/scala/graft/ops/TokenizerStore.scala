package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Persisted TOKENIZER store — the train-once/apply-everywhere loop
  * (q163/q164) made durable with the same versioned-manifest protocol
  * as the other four stores ([[StoreManifest]]): a trained merge table
  * is published as an immutable data dir plus one atomic manifest
  * rename, so every job on the cluster tokenizes with EXACTLY the same
  * ranks, a retrain is a new version (old snapshots keep serving until
  * vacuum), and `mergesAt` reproduces any historical segmentation
  * bit-for-bit — the "which tokenizer was this budget denominated in?"
  * question a real pipeline must be able to answer.
  *
  * The merge table is tiny (one row per learned merge), so reads
  * collect it to the driver and apply it as literals — the same
  * broadcast-as-plan-literal shape [[TextOps.bpeEncodeWords]] uses.
  * Each version's component list REPLACES the previous (a tokenizer is
  * a whole artifact, not an append log).
  */
object TokenizerStore {

  /** The tokenizer store: one merge table per version, in rank order. */
  private val MergesStore = StoreManifest.Kind("tokenizer store", Map(
    "merges" -> "step INT, left STRING, right STRING, cnt LONG"))

  /** Train on `docs` ([[TextOps.bpeMerges]]) and publish the learned
    * table as the store's next version ([[StoreManifest.Store.replace]]).
    * Returns the published version. A concurrent writer racing to the
    * same version is rejected by the manifest's exists-check —
    * last-writer-loses, never a clobber — and the replace's
    * attempt-unique data dir keeps the loser from ever touching the dir
    * the winner's manifest references.
    */
  def trainAndPublish(
      spark: SparkSession,
      dir: String,
      docs: org.apache.spark.sql.DataFrame,
      nMerges: Int,
      minCount: Long = 2L): Long = {
    val learned = TextOps.bpeMerges(docs, nMerges, minCount)
    import spark.implicits._
    MergesStore.at(spark, dir).replace { w =>
      // one row per merge: a single small file per version
      w("merges", learned.toDF("step", "left", "right", "cnt").coalesce(1))
    }
  }

  /** The merge table of snapshot `version`, in rank order — feed it to
    * [[TextOps.bpeTokenCounts]] / [[TrainPipe.budgetSample]](merges=…).
    */
  def mergesAt(spark: SparkSession, dir: String, version: Long): Seq[(String, String)] = {
    val store = MergesStore.at(spark, dir)
    readMerges(store, store.snapshot(Some(version)))
  }

  /** The currently-serving merge table, in rank order; empty if the
    * store has never published.
    */
  def currentMerges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val store = MergesStore.at(spark, dir)
    store.current.map(readMerges(store, _)).getOrElse(Seq.empty)
  }

  private def readMerges(
      store: StoreManifest.Store, snap: StoreManifest.Snapshot): Seq[(String, String)] =
    store.read(snap, "merges")
      .orderBy(asc("step")) // rank order IS the apply order
      .collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
}
