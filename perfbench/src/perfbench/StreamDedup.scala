package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.PerfbenchLsh.estimatedPairs
import graft.ops.{NearDup, StoreManifest}
import graft.streaming.StreamingEtl

/** `stream_dedup`: one op is one `StreamingEtl.runDedupGate` drain of one
  * dropped JSON file, which is one micro-batch. Set-up writes the base
  * signature store; every pass gates its batches against a fresh copy of
  * it, so late batches of a pass read a larger store.
  */
final class StreamDedup extends Workload {
  private val schema = "doc_id LONG, text STRING"
  private var batches = 0
  private var batchDocs = 0L
  private var threshold = 0.0
  private val probe = mutable.HashMap.empty[Int, Map[String, Double]]

  private def loadPlan(r: Run): Unit = if (batches == 0) {
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(r.inputs, "plan.json")), StandardCharsets.UTF_8))
    batches = (j \ "batches").extract[Int]
    batchDocs = (j \ "batch_docs").extract[Long]
    threshold = (j \ "threshold").extract[Double]
  }

  def nominalPassS: Double = 9.5

  private def baseStore(r: Run) = Paths.get(r.work, "stream-base-store")

  private def docs(r: Run, file: String): DataFrame =
    r.spark.read.schema(schema).json(Paths.get(r.inputs, file).toString)

  private def gate(r: Run, dir: Path): Unit =
    StreamingEtl.runDedupGate(
      r.spark.readStream.schema(schema).json(dir.resolve("incoming").toString),
      dir.resolve("checkpoint").toString, dir.resolve("store").toString,
      dir.resolve("decisions").toString, threshold)

  private def dropBatch(r: Run, b: Int, dir: Path): Unit = {
    val in = dir.resolve("incoming")
    Files.createDirectories(in)
    val name = f"batch_$b%03d.json"
    Files.copy(Paths.get(r.inputs, name), in.resolve(name), StandardCopyOption.REPLACE_EXISTING)
  }

  def prepare(r: Run): Unit = {
    loadPlan(r)
    FileUtils.deleteDirectory(baseStore(r).toFile)
    NearDup.writeSignatureStore(docs(r, "base.jsonl"), baseStore(r).toString)
  }

  def pass(r: Run, p: Int, traced: Boolean): Unit = {
    val dir = Paths.get(r.work, "stream", s"pass_$p")
    FileUtils.copyDirectory(baseStore(r).toFile, dir.resolve("store").toFile)
    val recs = (0 until batches).map { b =>
      dropBatch(r, b, dir)
      b -> r.op(p, s"batch_$b") {
        gate(r, dir)
        OpResult(batchDocs, Map("batch" -> b))
      }
    }
    // after the pass, so that the probes stay out of its wall time
    if (traced) recs.foreach { case (b, rec) =>
      if (rec.ok) probe(rec.id) = storeFacts(r, dir, b)
    }
  }

  /** Candidate work of batch `b` and the store it left, measured outside
    * the op: `Lsh.estimatedPairs` over the batch's band keys (within-batch
    * candidates) and over batch plus store keys (the cross terms are the
    * store-probe candidates). Snapshot v1 is the base store and batch `b`
    * appends v(b + 2).
    */
  private def storeFacts(r: Run, dir: Path, b: Int): Map[String, Double] = {
    val spark = r.spark
    val store = dir.resolve("store").toString
    val keys = Seq("band", "k1", "k2")
    val batchBk = NearDup.bands(NearDup.signatures(NearDup.tokens(
      docs(r, f"batch_$b%03d.json")))).select(keys.map(col): _*)
    // the store as the batch's probe saw it: every snapshot before its append
    val before = StoreManifest.snapshotAt(spark, store, b + 1L)
    val storeBk = StoreManifest.readComponent(spark, store, before, "bands").get
      .select(keys.map(col): _*)
    val within = estimatedPairs(batchBk, keys)
    val cross = estimatedPairs(batchBk.unionByName(storeBk), keys) -
      within - estimatedPairs(storeBk, keys)
    val verified = spark.read.parquet(dir.resolve(s"decisions/batch=$b").toString).count()
    val snap = StoreManifest.snapshotAt(spark, store, b + 2L)
    val rows = StoreManifest.readComponent(spark, store, snap, "tokens").get.count()
    val bytes = snap.components.values.flatten
      .map(d => FileUtils.sizeOfDirectory(dir.resolve("store").resolve(d).toFile)).sum
    Map(
      "neardup.candidate_pairs" -> (within + cross).toDouble,
      "neardup.verified_pairs" -> verified.toDouble,
      "neardup.store_rows" -> rows.toDouble,
      "neardup.store_bytes" -> bytes.toDouble,
      "store.versions" -> snap.version.toDouble,
      "store.data_dirs" -> snap.components.values.map(_.size).sum.toDouble)
  }

  def layers(r: Run): Map[String, Double] = {
    val traced = r.tracedOps.filter(o => probe.contains(o.id))
    def f(k: String) = Metrics.mean(traced.map(o => probe(o.id)(k)))
    // streaming progress of each op: the triggers that started inside it
    val prog = traced.map { o =>
      val ps = r.collector.progress.filter(x => x._1 >= math.floor(o.startMs) && x._1 <= o.endMs)
      val started = r.collector.queryStarts.filter(t => t >= math.floor(o.startMs) && t <= o.endMs)
      (ps.map(_._2).sum, ps.map(_._3).sum, ps.map(_._4).sum.toDouble,
        started.headOption.map(t => (t - o.startMs) / 1000.0).getOrElse(0.0))
    }
    val cand = f("neardup.candidate_pairs")
    Map(
      "stream.trigger_s" -> Metrics.mean(prog.map(_._1)),
      "stream.add_batch_s" -> Metrics.mean(prog.map(_._2)),
      "stream.overhead_s" -> Metrics.mean(prog.map(x => x._1 - x._2)),
      "stream.query_start_s" -> Metrics.mean(prog.map(_._4)),
      "stream.rows_in" -> Metrics.mean(prog.map(_._3)),
      "neardup.candidate_pairs" -> cand,
      "neardup.verified_pairs" -> f("neardup.verified_pairs"),
      "neardup.verify_yield" -> (if (cand > 0) f("neardup.verified_pairs") / cand else 0.0),
      "neardup.store_rows" -> f("neardup.store_rows"),
      "neardup.store_bytes" -> f("neardup.store_bytes"),
      "store.versions" -> f("store.versions"),
      "store.data_dirs" -> f("store.data_dirs"))
  }
}
