package graft

import java.nio.charset.StandardCharsets
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.etl.{Aggregates, Pipeline, Sessions}
import graft.ingest.FileIngest
import graft.report.Summary

/** The end-to-end pipeline composition — the reference DAG's task chain
  * `poll_and_process_drive_files >> run_spark_etl >> send_summary_email`
  * (drive_auto_compress_email.py:577-602) as one callable unit:
  *
  *   1. ingest batch ([[graft.ingest.FileIngest.processBatch]]): discover
  *      `incomingDir`, admit by name pattern, defer files younger than
  *      `minAgeSeconds`, skip ledgered files, land admitted CSVs into
  *      `<work>/raw`, gzip them into `<work>/compressed` with size
  *      metrics, append the batch to `<work>/ledger.json`
  *      (process_new_drive_files, drive_auto_compress_email.py:160-339);
  *   2. ETL ([[graft.etl.Pipeline.run]]): full recompute over the ENTIRE
  *      raw dir — like the reference, each run re-reads everything landed
  *      so far, not just this batch's files (run_spark_etl_task,
  *      drive_auto_compress_email.py:522-536) — writing cleaned +
  *      aggregates parquet under `<work>/output`. Unlike the reference,
  *      which rescans the CSVs for every mode job and again per write,
  *      a tick parses them once, in parallel, into a cache that every
  *      ETL step reads;
  *   3. report: when (and only when) this run processed new files, render
  *      the HTML summary over this batch's compression stats and the
  *      latest aggregates, and write it to `<work>/report.html`
  *      (send_combined_email_task skips the email when XCom is empty,
  *      drive_auto_compress_email.py:538-563; SMTP delivery itself is a
  *      connector, out of engine scope per SURVEY.md §2.1).
  *
  * All paths go through the Hadoop FileSystem API, so `incomingDir` and
  * `workDir` may live on `file://`, `hdfs://`, or `s3a://`. The ETL stage
  * is distributed; ingest landing (copy + gzip) is driver-side file
  * plumbing for small batches — exactly as the reference's PythonOperator
  * is — and runs as a Spark job over the file list once the admitted
  * batch reaches `FileIngest`'s distribute threshold, with the ledger
  * append staying a driver-side commit point either way.
  *
  * Usage: `runMain graft.Dag <incomingDir> <workDir> [minAgeSeconds]`.
  * Re-running is safe and incremental: the ledger makes ingest
  * exactly-once per file, the ETL is a deterministic overwrite, and the
  * report is only emitted for runs that ingested something new.
  */
object Dag {

  final case class RunResult(
      batch: FileIngest.BatchResult,
      etl: Option[Pipeline.Result],
      reportPath: Option[String],
      // the mailer payload is (subject, html body); SMTP delivery itself
      // is a connector, out of engine scope (SURVEY.md §2.1)
      reportSubject: Option[String])

  /** A tick failure AFTER the ingest ledger commit: `batch`'s files are
    * ledgered and will NOT be re-ingested, so the failed ETL/report tail
    * of this run is lost for this tick. The landed DATA still surfaces —
    * the next run's full recompute re-reads the whole raw dir — but the
    * per-batch report is gone. Distinguished from a pre-commit failure
    * (plain exception out of the ingest stage), whose files stay
    * un-ledgered and are retried whole on the next run.
    */
  final class PostCommitFailure(val batch: FileIngest.BatchResult, cause: Throwable)
      extends RuntimeException(
        s"dag run failed after the ingest ledger commit " +
          s"(${batch.processed.size} file(s) already ledgered)", cause)

  /** Retention sweep over the persisted stores a long-lived deployment
    * serves ([[graft.ops.StoreManifest]] stores: postings, ANN index,
    * near-dup bands, SCD2 — they accumulate superseded data dirs until
    * an explicit vacuum). Runs [[graft.ops.StoreManifest.vacuum]] on
    * each dir; a store that fails to sweep is LOGGED and skipped, never
    * failing the tick — retention is maintenance, the tick's data work
    * has already committed, and the swept store still serves its
    * current snapshot untouched (vacuum only deletes unreferenced
    * dirs). Returns the dirs that swept cleanly.
    */
  def vacuumStores(
      spark: SparkSession,
      storeDirs: Seq[String],
      keepVersions: Int = 2): Seq[String] = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    storeDirs.filter { dir =>
      try { graft.ops.StoreManifest.vacuum(spark, dir, keepVersions); true }
      catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"store vacuum failed for $dir — superseded dirs " +
            "retained until the next tick's sweep; serving snapshot " +
            "unaffected", e)
          false
      }
    }
  }

  def run(
      spark: SparkSession,
      incomingDir: String,
      workDir: String,
      minAgeSeconds: Long = 60L,
      maxFileAgeMs: Long = Long.MaxValue,
      namePrefix: String = "loan_",
      nameSuffix: String = ".csv",
      coalesceOutput: Boolean = true,
      now: Instant = Instant.now(),
      // persisted-store retention: dirs swept AFTER the report stage
      // each tick (the operational loop the stores' lifecycle needs —
      // they grow superseded dirs until someone vacuums)
      storeDirs: Seq[String] = Nil,
      storeKeepVersions: Int = 2): RunResult = {

    val conf = spark.sparkContext.hadoopConfiguration
    val rawDir = s"$workDir/raw"

    val batch = FileIngest.processBatch(
      incomingDir = incomingDir,
      rawDir = rawDir,
      outputDir = s"$workDir/compressed",
      ledgerPath = s"$workDir/ledger.json",
      namePrefix = namePrefix,
      nameSuffix = nameSuffix,
      minAgeSeconds = minAgeSeconds,
      maxFileAgeMs = maxFileAgeMs,
      conf = conf,
      now = now,
      spark = Some(spark))

    // Everything below runs AFTER the ingest ledger append — the batch's
    // files are durably committed — so a failure here is a different
    // operational event than one above: wrap it as [[PostCommitFailure]]
    // (cause preserved) so callers — runLoop's tick isolation foremost —
    // can log exactly which commit point the tick reached instead of
    // promising a retry that will never happen.
    try {
      // Nothing may have landed yet (first run with every file deferred):
      // a CSV read with no matching file throws, so probe the landing
      // zone first and mirror the reference's "no input data" no-op
      // (run_spark_etl_task, drive_auto_compress_email.py:531-535).
      val rawPath = new Path(rawDir)
      val rawFs = rawPath.getFileSystem(conf)
      val hasLanded = rawFs.exists(rawPath) &&
        rawFs.listStatus(rawPath).exists(st => st.isFile && st.getPath.getName.endsWith(nameSuffix))
      val etl =
        if (!hasLanded) None
        else Pipeline.run(spark, rawDir, s"$workDir/output",
          coalesceOutput = coalesceOutput, globPattern = s"*$nameSuffix")

      val reportPath =
        if (batch.processed.isEmpty) None
        else {
          val aggregates = etl
            .map(r => Aggregates.latestSummary(spark, r.aggregatesPath))
            .getOrElse(Seq.empty)
          val html = Summary.renderHtml(
            batch.processed, aggregates,
            runTime = now.toString, source = incomingDir)
          val p = new Path(s"$workDir/report.html")
          val fs = p.getFileSystem(conf)
          val out = fs.create(p, true)
          try out.write(html.getBytes(StandardCharsets.UTF_8))
          finally out.close()
          Some(p.toString)
        }

      // the retention sweep runs LAST — data work and report are done,
      // and vacuumStores isolates per-store failures itself
      if (storeDirs.nonEmpty) vacuumStores(spark, storeDirs, storeKeepVersions)

      RunResult(batch, etl, reportPath,
        reportPath.map(_ => Summary.subject(batch.processed.size)))
    } catch {
      case scala.util.control.NonFatal(e) => throw new PostCommitFailure(batch, e)
    }
  }

  /** Cooperative shutdown handle for [[runLoop]]: `requestStop()` is safe
    * from any thread (`main`'s SIGTERM hook uses it), never interrupts an
    * in-flight tick — the loop finishes the tick it is on, delivers its
    * result, and exits instead of starting another — and wakes the
    * between-ticks wait immediately so shutdown is prompt even mid-sleep.
    */
  final class LoopControl {
    private[this] val lock = new Object
    @volatile private[this] var stop = false
    def requestStop(): Unit = lock.synchronized { stop = true; lock.notifyAll() }
    def stopRequested: Boolean = stop
    /** Stop-aware sleep: waits up to `millis`, returning early the moment
      * `requestStop()` fires — runLoop's default `sleep` seam.
      */
    private[graft] def await(millis: Long): Unit = lock.synchronized {
      val deadline = System.nanoTime() + millis * 1000000L
      var rem = millis
      while (!stop && rem > 0) {
        lock.wait(rem)
        rem = (deadline - System.nanoTime()) / 1000000L
      }
    }
  }

  /** The chain on a fixed schedule — the reference DAG's
    * `schedule_interval=timedelta(minutes=1)`
    * (drive_auto_compress_email.py:582) as a long-running command. Runs
    * are strictly sequential (ST2: the next starts only after the
    * previous finishes — one run at a time, `max_active_runs=1`), on a
    * FIXED-RATE grid (ST1): tick k fires at `start + k*interval`
    * wall-clock, like the cron it mirrors, so run duration does not
    * drift the schedule — a 40 s run on a 60 s interval leaves 20 s of
    * wait, not 60. A run that overruns one or more grid slots skips
    * them (logged) and fires on the next future slot, preserving ST2
    * over playing catch-up with back-to-back runs.
    *
    * A tick that throws is logged — with the commit point it reached —
    * and the loop continues: a pre-commit failure left the ledger
    * untouched, so the SAME files retry next tick; a
    * [[PostCommitFailure]] means the tick's files are ledgered and only
    * its ETL/report tail was lost (the data surfaces via the next
    * tick's full recompute, the per-batch report does not). The
    * scheduler this mirrors fails that one DAG run and still fires the
    * next, and every tick is independently idempotent, so a transient
    * failure (object-store 503, network blip) must not kill a
    * long-running service.
    *
    * `iterations = 0` loops until `control.requestStop()`; shutdown is
    * graceful — the in-flight tick always completes and delivers before
    * the loop exits. `sleep` and `clock` are seams so tests drive
    * arrivals and the grid deterministically; `sleep = null` (the
    * default) waits via `control`, making the wait stop-interruptible.
    */
  def runLoop(
      spark: SparkSession,
      incomingDir: String,
      workDir: String,
      intervalSeconds: Long,
      minAgeSeconds: Long = 60L,
      maxFileAgeMs: Long = Long.MaxValue,
      iterations: Long = 0L,
      sleep: Long => Unit = null,
      clock: () => Instant = () => Instant.now(),
      onRun: RunResult => Unit = _ => (),
      control: LoopControl = new LoopControl,
      storeDirs: Seq[String] = Nil,
      storeKeepVersions: Int = 2): Unit = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val doSleep: Long => Unit = if (sleep != null) sleep else control.await
    val intervalMs = intervalSeconds * 1000L
    val epochMs = clock().toEpochMilli // tick 0 fires immediately; slot k is epoch + k*interval
    var grid = 0L // the grid slot of the tick just run
    var runs = 0L
    var done = false
    while (!done) {
      // the run and the result delivery fail DIFFERENTLY, and the run
      // itself fails differently on each side of the ledger append: the
      // log must state the commit point, not promise retries that a
      // post-commit failure will never get
      val result =
        try Some(run(spark, incomingDir, workDir,
          minAgeSeconds = minAgeSeconds, maxFileAgeMs = maxFileAgeMs, now = clock(),
          storeDirs = storeDirs, storeKeepVersions = storeKeepVersions))
        catch {
          case e: PostCommitFailure =>
            log.error(s"dag tick failed AFTER the ingest ledger commit — " +
              s"${e.batch.processed.size} file(s) " +
              s"(${e.batch.processed.map(_.filename).mkString(", ")}) are " +
              "ledgered and will not be re-ingested; this tick's ETL/report " +
              "output is lost (landed data surfaces via the next tick's " +
              "full recompute, the per-batch report does not)", e.getCause)
            None
          case scala.util.control.NonFatal(e) =>
            log.warn("dag tick failed before the ingest ledger commit — " +
              "its files are un-ledgered and will be retried next tick", e)
            None
        }
      result.foreach { r =>
        try onRun(r)
        catch {
          case scala.util.control.NonFatal(e) =>
            log.error(s"dag tick result delivery failed AFTER commit — " +
              s"${r.batch.processed.size} processed file(s) " +
              s"(${r.batch.processed.map(_.filename).mkString(", ")}) are " +
              "ledgered and this result will not be re-delivered", e)
        }
      }
      runs += 1
      if ((iterations > 0 && runs >= iterations) || control.stopRequested) done = true
      else {
        val nowMs = clock().toEpochMilli
        // next grid slot strictly in the future; a slow run skips the
        // slots it overran rather than firing late-and-drifting (fixed
        // rate) or back-to-back (which would burst-load the cluster)
        val due = math.max(grid + 1, (nowMs - epochMs) / intervalMs + 1)
        if (due > grid + 1)
          log.warn(s"dag tick overran ${due - grid - 1} scheduled slot(s) — " +
            s"skipping to stay on the fixed-rate grid (next fire at " +
            s"start+${due * intervalSeconds}s)")
        val ms = epochMs + due * intervalMs - nowMs
        if (ms > 0) doSleep(ms)
        grid = due
        if (control.stopRequested) done = true
      }
    }
  }

  private def printRun(r: RunResult): Unit = {
    println(s"ingested: ${r.batch.processed.size} file(s) " +
      s"(deferred ${r.batch.deferred.size}, rejected ${r.batch.rejected.size}, " +
      s"expired ${r.batch.expired.size})")
    r.batch.processed.foreach(s => println(
      s"  ${s.filename}: ${Summary.formatSize(s.originalSize)} -> " +
        s"${Summary.formatSize(s.compressedSize)} (ratio ${f"${s.compressionRatio}%.3f"})"))
    r.etl match {
      case Some(e) => println(s"etl: ${e.rowCount} cleaned rows -> ${e.cleanedPath}")
      case None => println("etl: no input data")
    }
    println(r.reportPath.fold("report: skipped (no new files this run)")(p =>
      s"report: $p (subject: ${r.reportSubject.getOrElse("")})"))
  }

  def main(args: Array[String]): Unit = {
    // `--interval <seconds>` anywhere in the arg list turns the one-shot
    // run into the reference's every-N-seconds loop; `--vacuum-stores
    // <dir,dir,...>` schedules the per-tick retention sweep over the
    // named persisted stores (see [[vacuumStores]])
    def takeFlag(as: Seq[String], name: String): (Option[String], Seq[String]) = {
      val i = as.indexOf(name)
      if (i < 0) (None, as)
      else {
        require(i + 1 < as.length, s"$name requires a value")
        // a following flag is NOT a value: '--vacuum-stores --interval 60'
        // would otherwise silently eat '--interval' as the store list and
        // run one-shot with a bogus store dir instead of erroring
        require(!as(i + 1).startsWith("--"),
          s"$name requires a value, got flag '${as(i + 1)}'")
        (Some(as(i + 1)), as.patch(i, Nil, 2))
      }
    }
    val (intervalFlag, rest) = takeFlag(args.toSeq, "--interval")
    val (storesFlag, positional) = takeFlag(rest, "--vacuum-stores")
    val flagArgs = intervalFlag.map(_.toLong)
    val storeDirs = storesFlag.toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    require(positional.length >= 2,
      "usage: graft.Dag <incomingDir> <workDir> [minAgeSeconds] [maxFileAgeMs] " +
        "[--interval <seconds>] [--vacuum-stores <dir,dir,...>]")
    val minAge = positional.lift(2).map(_.toLong).getOrElse(60L)
    val maxAge = positional.lift(3).map(_.toLong).getOrElse(Long.MaxValue)
    val spark = Sessions.start("GraftDag")
    try flagArgs match {
      case Some(interval) =>
        // SIGTERM/SIGINT → finish the in-flight tick, deliver its
        // result, exit the loop cleanly; the latch holds JVM teardown
        // until the loop has exited so the tick's tail (ledger append →
        // ETL → report) is not cut mid-phase. Best-effort by nature:
        // shutdown hooks run concurrently, so Spark's own hook may stop
        // the context under a long in-flight tick — that tick then fails
        // and is logged with the commit point it reached, which is
        // exactly the loop's normal failure-isolation path.
        val control = new LoopControl
        val exited = new java.util.concurrent.CountDownLatch(1)
        Runtime.getRuntime.addShutdownHook(new Thread(
          () => {
            control.requestStop()
            exited.await(10, java.util.concurrent.TimeUnit.MINUTES)
            ()
          },
          "graft-dag-shutdown"))
        try runLoop(spark, positional(0), positional(1), interval,
          minAgeSeconds = minAge, maxFileAgeMs = maxAge, onRun = printRun,
          control = control, storeDirs = storeDirs)
        finally exited.countDown()
      case None =>
        printRun(run(spark, positional(0), positional(1),
          minAgeSeconds = minAge, maxFileAgeMs = maxAge,
          storeDirs = storeDirs))
    } finally spark.stop()
  }
}
