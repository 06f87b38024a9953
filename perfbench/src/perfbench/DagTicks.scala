package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{Path => HPath}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.Dag
import graft.etl.{Aggregates, Pipeline}
import graft.ingest.FileIngest
import graft.report.Summary

/** `dag_ticks`: one op is one `graft.Dag.run` tick at a logical `now`.
  * A pass replays the generated tick sequence into a fresh incoming dir
  * and work dir. Traced passes mirror `Dag.run` through the same public
  * calls so that ingest, ETL and report each get a span.
  */
final class DagTicks extends Workload {
  private val T0 = Instant.parse("2026-01-01T00:00:00Z")

  private final case class TickFile(name: String, ageS: Long)
  private final case class Tick(dir: String, files: Seq[TickFile])

  private var ticks: Seq[Tick] = Nil
  private var tickSeconds = 0L
  private var minAge = 0L
  private var rowsPerFile = 0L
  // per-op facts only traced passes know
  private val ingestFacts = scala.collection.mutable.HashMap.empty[Int, FileIngest.BatchResult]
  private val etlRows = scala.collection.mutable.HashMap.empty[Int, Long]
  private val etlOutBytes = scala.collection.mutable.HashMap.empty[Int, Long]

  private def loadPlan(r: Run): Unit = if (ticks.isEmpty) {
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(r.inputs, "plan.json")), StandardCharsets.UTF_8))
    ticks = (j \ "ticks").children.map { t =>
      Tick((t \ "dir").extract[String],
        (t \ "files").children.map(f => TickFile((f \ "name").extract[String],
          (f \ "age_s").extract[Long])))
    }
    tickSeconds = (j \ "tick_seconds").extract[Long]
    minAge = (j \ "min_age_seconds").extract[Long]
    rowsPerFile = (j \ "rows_per_file").extract[Long]
  }

  def nominalPassS: Double = 8.5

  private def now(i: Int) = T0.plusSeconds(i * tickSeconds)

  /** Drop tick `i`'s files into `incoming`, aged relative to its `now`. */
  private def drop(r: Run, i: Int, incoming: Path): Unit = {
    Files.createDirectories(incoming)
    ticks(i).files.foreach { f =>
      val dst = incoming.resolve(f.name)
      Files.copy(Paths.get(r.inputs, ticks(i).dir, f.name), dst,
        StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.from(now(i).minusSeconds(f.ageS)))
    }
  }

  def prepare(r: Run): Unit = loadPlan(r)

  def pass(r: Run, p: Int, traced: Boolean): Unit = {
    val dir = Paths.get(r.work, "dag", s"pass_$p")
    val incoming = dir.resolve("incoming")
    val work = dir.resolve("work")
    ticks.indices.foreach { i =>
      drop(r, i, incoming)
      val rec = r.op(p, s"tick_$i") {
        val batch =
          if (traced) mirror(r, incoming.toString, work.toString, i, r.ops.size)
          else Dag.run(r.spark, incoming.toString, work.toString,
            minAgeSeconds = minAge, now = now(i)).batch
        OpResult(batch.processed.size * rowsPerFile, Map(
          "tick" -> i,
          "processed" -> batch.processed.map(_.filename),
          "deferred" -> batch.deferred.map(id => new HPath(new java.net.URI(id)).getName),
          "rejected" -> batch.rejected.map(id => new HPath(new java.net.URI(id)).getName)))
      }
      // the checks read every tick's aggregates; the next tick overwrites them
      val agg = work.resolve("output/aggregates")
      if (rec.ok && Files.exists(agg))
        FileUtils.copyDirectory(agg.toFile, dir.resolve(s"snap/tick_$i/aggregates").toFile)
    }
  }

  /** `Dag.run`'s chain through the same public calls with the same
    * arguments, one span per layer. Returns the ingest batch.
    */
  private def mirror(r: Run, incomingDir: String, workDir: String, i: Int,
      op: Int): FileIngest.BatchResult = {
    val spark = r.spark
    val conf = spark.sparkContext.hadoopConfiguration
    val rawDir = s"$workDir/raw"
    val batch = r.tracer.span("ingest", op) {
      FileIngest.processBatch(
        incomingDir = incomingDir,
        rawDir = rawDir,
        outputDir = s"$workDir/compressed",
        ledgerPath = s"$workDir/ledger.json",
        namePrefix = "loan_",
        nameSuffix = ".csv",
        minAgeSeconds = minAge,
        maxFileAgeMs = Long.MaxValue,
        conf = conf,
        now = now(i),
        spark = Some(spark))
    }
    ingestFacts(op) = batch
    val rawPath = new HPath(rawDir)
    val rawFs = rawPath.getFileSystem(conf)
    val hasLanded = rawFs.exists(rawPath) &&
      rawFs.listStatus(rawPath).exists(st => st.isFile && st.getPath.getName.endsWith(".csv"))
    val etl = r.tracer.span("etl", op) {
      if (!hasLanded) None
      else Pipeline.run(spark, rawDir, s"$workDir/output",
        coalesceOutput = true, globPattern = "*.csv")
    }
    etl.foreach { e =>
      etlRows(op) = e.rowCount
      etlOutBytes(op) = FileUtils.sizeOfDirectory(Paths.get(workDir, "output").toFile)
    }
    if (batch.processed.nonEmpty) r.tracer.span("report", op) {
      val aggregates = etl.map(e => Aggregates.latestSummary(spark, e.aggregatesPath))
        .getOrElse(Seq.empty)
      val html = Summary.renderHtml(batch.processed, aggregates,
        runTime = now(i).toString, source = incomingDir)
      val p = new HPath(s"$workDir/report.html")
      val out = p.getFileSystem(conf).create(p, true)
      try out.write(html.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    batch
  }

  def layers(r: Run): Map[String, Double] = {
    val traced = r.tracedOps
    def spanS(o: OpRec, n: String) = r.spansOf(o, n).map(_.seconds).sum
    def work(o: OpRec, n: String): SparkWork = r.spansOf(o, n).headOption
      .map(s => r.collector.window(s.startMs, s.endMs))
      .getOrElse(SparkWork(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    def batch(o: OpRec) = ingestFacts(o.id)
    // Dag.run tick time per tick index (median over plain passes) minus
    // the layer spans of the same tick in the traced mirror
    val plain = r.ops.filterNot(_.traced).groupBy(_.name)
      .map { case (n, os) => n -> Metrics.median(os.map(_.seconds).toSeq) }
    val gaps = traced.flatMap(o => plain.get(o.name).map(_ -
      Seq("ingest", "etl", "report").map(spanS(o, _)).sum))
    // ETL recomputes all landed history: its last tick against its first
    val growth = traced.groupBy(_.pass).values.map { os =>
      val s = os.sortBy(_.id)
      spanS(s.last, "etl") / spanS(s.head, "etl")
    }
    Map(
      "ingest.s" -> r.perOp(spanS(_, "ingest")),
      "ingest.jobs" -> r.perOp(work(_, "ingest").jobs.toDouble),
      "ingest.files_admitted" -> r.perOp(batch(_).processed.size.toDouble),
      "ingest.files_deferred" -> r.perOp(batch(_).deferred.size.toDouble),
      "ingest.files_rejected" -> r.perOp(batch(_).rejected.size.toDouble),
      "ingest.bytes_in" -> r.perOp(batch(_).processed.map(_.originalSize).sum.toDouble),
      "ingest.bytes_gz" -> r.perOp(batch(_).processed.map(_.compressedSize).sum.toDouble),
      "etl.s" -> r.perOp(spanS(_, "etl")),
      "etl.jobs" -> r.perOp(work(_, "etl").jobs.toDouble),
      "etl.stages" -> r.perOp(work(_, "etl").stages.toDouble),
      "etl.input_bytes" -> r.perOp(work(_, "etl").inputBytes.toDouble),
      "etl.rows_out" -> r.perOp(o => etlRows.getOrElse(o.id, 0L).toDouble),
      "etl.output_bytes" -> r.perOp(o => etlOutBytes.getOrElse(o.id, 0L).toDouble),
      "etl.shuffle_write_bytes" -> r.perOp(work(_, "etl").shuffleWriteBytes.toDouble),
      "etl.spill_bytes" -> r.perOp(work(_, "etl").spillBytes.toDouble),
      "etl.task_cpu_s" -> r.perOp(work(_, "etl").taskCpuS),
      "etl.last_over_first_tick" -> Metrics.mean(growth),
      "report.s" -> r.perOp(spanS(_, "report")),
      "report.jobs" -> r.perOp(work(_, "report").jobs.toDouble),
      "dag.mirror_gap_s" -> Metrics.mean(gaps))
  }
}
