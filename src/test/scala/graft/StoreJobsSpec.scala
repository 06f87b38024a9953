package graft

import org.apache.spark.sql.functions._

import graft.ops.{AnnPq, NearDup, Retrieval, SemDedup}
import graft.streaming.StreamingEtl

/** Job-count pins of the store protocol on a fixed fixture (sf0.001):
  * each store's delete, then compact, then one served read, and one
  * dedup-gate micro-batch. Every component is read with its declared
  * schema, so no read runs a parquet schema-inference job (with footer
  * inference the four stores ran (9, 10, 13), (1, 5, 10), (1, 3, 15)
  * and (1, 8, 6)); a count that rises is a job the store path gained.
  */
class StoreJobsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // built once, outside every counted block: a fixture read's own
  // schema-inference job is not the store's
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** Jobs of (delete, compact, read), each run once, in that order. */
  private def lifecycle(delete: => Unit, compact: => Unit, read: => Any): Seq[Int] =
    try Seq(jobsOf(delete), jobsOf(compact), jobsOf(read))
    finally spark.catalog.clearCache() // the probes' caller-owned frames

  test("postings store: delete, compact, bm25TopKFromStore") {
    val d = tmpDir("jobs-postings").toString
    Retrieval.writePostingsStore(docs, d)
    assert(lifecycle(
      Retrieval.deleteFromPostingsStore(docs.filter(col("doc_id") % 3 === 0).select("doc_id"), d),
      Retrieval.compactPostingsStore(spark, d),
      Retrieval.bm25TopKFromStore(spark, d).collect()) === Seq(8, 6, 12))
  }

  test("signature store: delete, compact, incrementalNearDupPairsFromStore") {
    val d = tmpDir("jobs-signatures").toString
    NearDup.writeSignatureStore(docs.filter(col("doc_id") % 2 === 0), d)
    assert(lifecycle(
      NearDup.deleteFromSignatureStore(docs.filter(col("doc_id") % 3 === 0).select("doc_id"), d),
      NearDup.compactSignatureStore(spark, d),
      NearDup.incrementalNearDupPairsFromStore(d, docs.filter(col("doc_id") % 2 === 1))
        .collect()) === Seq(1, 4, 10))
  }

  test("pq index: delete, compact, ivfPqTopKFromIndex") {
    val d = tmpDir("jobs-pq").toString
    AnnPq.writePqIndex(emb, d)
    assert(lifecycle(
      AnnPq.deleteFromPqIndex(emb.filter(col("vec_id") % 3 === 0).select("vec_id"), d),
      AnnPq.compactPqIndex(spark, d),
      AnnPq.ivfPqTopKFromIndex(emb, d).collect()) === Seq(1, 2, 13))
  }

  test("semantic store: delete, compact, incrementalSemanticDedupFromStore") {
    val d = tmpDir("jobs-semantic").toString
    SemDedup.writeSemanticStore(emb.filter(col("vec_id") % 2 === 0), d)
    assert(lifecycle(
      SemDedup.deleteFromSemanticStore(emb.filter(col("vec_id") % 3 === 0).select("vec_id"), d),
      SemDedup.compactSemanticStore(spark, d),
      SemDedup.incrementalSemanticDedupFromStore(d, emb.filter(col("vec_id") % 2 === 1))
        .collect()) === Seq(1, 4, 5))
  }

  // the gate's path holds no tombstones and already read with declared
  // schemas, so the protocol must leave its count where it was
  test("one dedup-gate micro-batch") {
    val in = tmpDir("jobs-gate-in")
    val store = tmpDir("jobs-gate-store").toString
    NearDup.writeSignatureStore(docs.filter(col("doc_id") % 3 === 0), store)
    writeFile(in, "night1.json",
      docs.filter(col("doc_id") % 3 === 1).toJSON.collect().mkString("\n"))
    val jobs = jobsOf(StreamingEtl.runDedupGate(
      spark.readStream.schema(docs.schema).json(in.toString),
      tmpDir("jobs-gate-ckpt").toString, store, tmpDir("jobs-gate-dec").toString))
    assert(jobs === 15)
  }
}
