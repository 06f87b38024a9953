package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-store document purge — the right-to-be-forgotten sweep a
  * production corpus pipeline must run when a takedown/deletion request
  * lands: ONE id frame, tombstoned in every persisted index that could
  * serve the document (BM25 postings, MinHash signatures, IVF-PQ codes,
  * semantic cells). After the purge, NO serving path — lexical, boolean,
  * semantic, fused, or either near-dup probe — returns or is influenced
  * by the purged docs (StoresPurgeSpec pins all six paths).
  *
  * Consistency model, stated honestly:
  *   - atomicity is PER STORE: each delete is one [[StoreManifest]]
  *     publish (single atomic rename), so a reader of any one store sees
  *     the doc either fully live or fully tombstoned there — never a
  *     torn store;
  *   - ACROSS stores the purge is sequential, so a crash mid-purge
  *     leaves a prefix of the stores purged. The recovery story is
  *     "re-run the purge": the whole sweep is IDEMPOTENT — the postings
  *     delete validates ids against the live forward index (a repeat is
  *     a provable no-op), and the other three stores' tombstones are
  *     probe-time anti-joins where duplicate tombstone rows are
  *     harmless (a repeat adds a redundant tombstone dir that the next
  *     compaction folds away). This is the standard lakehouse deletion-
  *     job discipline: re-run until clean, never a cross-store lock.
  */
object Stores {

  /** Purge `ids` (a `doc_id` frame; the vector stores tombstone the
    * same values as `vec_id` — the corpus contract that
    * embeddings.vec_id is documents.doc_id) from all four persisted
    * stores. Returns a receipt: the manifest version now serving at
    * each store, so the caller can record exactly which snapshots
    * post-date the purge.
    */
  def purgeEverywhere(
      ids: DataFrame,
      postingsDir: String,
      signatureDir: String,
      pqIndexDir: String,
      semanticDir: String): DataFrame = {
    val spark = ids.sparkSession
    val docIds = ids.select(col("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Retrieval.deleteFromPostingsStore(docIds, postingsDir)
      NearDup.deleteFromSignatureStore(docIds, signatureDir)
      val vecIds = docIds.select(col("doc_id").as("vec_id"))
      AnnPq.deleteFromPqIndex(vecIds, pqIndexDir)
      SemDedup.deleteFromSemanticStore(vecIds, semanticDir)
    } finally docIds.unpersist(false)
    import spark.implicits._
    Seq(
      "postings" -> Retrieval.PostingsStore.at(spark, postingsDir),
      "signatures" -> NearDup.SignatureStore.at(spark, signatureDir),
      "pq_index" -> AnnPq.PqStore.at(spark, pqIndexDir),
      "semantic" -> SemDedup.SemanticStore.at(spark, semanticDir))
      .map { case (name, store) => (name, store.snapshot().version) }
      .toDF("store", "version")
  }
}
