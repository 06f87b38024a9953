package graft.ingest

import java.time.Instant
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Incremental file-arrival ingestion: discovery, admission, stabilization,
  * exactly-once dedup, landing copy, and gzip compression with per-file
  * metrics — the engine-side re-expression of the reference DAG's
  * `process_new_drive_files` (drive_auto_compress_email.py:160-339) minus
  * the external connectors (Drive/MinIO/SMTP are pure I/O, out of engine
  * scope per SURVEY.md §2.1 S6-S8).
  *
  * All filesystem access goes through the Hadoop FileSystem API, so source
  * and destination directories may live on any supported scheme — local
  * file://, hdfs://, or an s3a:// object store (the reference's MinIO
  * target speaks exactly that protocol).
  *
  * Semantics mirrored from the reference:
  *   - admission: name must start with `namePrefix` and end with
  *     `nameSuffix` (drive_auto_compress_email.py:52,203-204);
  *   - stabilization: files younger than `minAgeSeconds` are deferred to a
  *     later run, so partially-uploaded files are never read
  *     (MIN_FILE_AGE_SECONDS, drive_auto_compress_email.py:71,227-238);
  *   - exactly-once: files whose ID is in the ledger are skipped; the
  *     ledger is saved once per batch after all files land
  *     (drive_auto_compress_email.py:184,207,336);
  *   - landing copy incoming → raw keeps the landing zone intact
  *     (drive_auto_compress_email.py:274-282);
  *   - compression metrics: original size, gzip size, ratio
  *     (drive_auto_compress_email.py:285,294-303).
  */
object FileIngest {

  /** Per-file result — the reference's `processed_summaries` entry
    * (drive_auto_compress_email.py:316-325).
    */
  final case class CompressionStats(
      fileId: String,
      filename: String,
      originalSize: Long,
      compressedSize: Long,
      compressionRatio: Double,
      rawPath: String,
      compressedPath: String)

  /** One identifier form throughout: `deferred`, `rejected`, and
    * `expired` all carry fully-qualified fileId URIs (the same handle
    * `CompressionStats.fileId` uses), so consumers never special-case
    * which field holds which form.
    */
  final case class BatchResult(processed: Seq[CompressionStats], deferred: Seq[String],
      rejected: Seq[String], expired: Seq[String] = Seq.empty)

  /** The file's stable identifier: its fully-qualified URI. (The reference
    * uses the Drive file ID; for filesystem sources the URI is the
    * equivalent stable handle.)
    */
  def fileId(st: FileStatus): String = st.getPath.toUri.toString

  /** One ingest batch over `incomingDir`:
    *
    *   1. discover candidate files;
    *   2. admit by name pattern, drop already-processed, defer too-young;
    *   3. copy admitted files to `rawDir` (landing copy);
    *   4. gzip each into `outputDir` and record size metrics;
    *   5. append the batch to the ledger.
    *
    * Re-running the same batch is a no-op: every admitted file's ID is in
    * the ledger afterwards. Partial failure re-runs are safe because copies
    * and gzip outputs are overwrites.
    *
    * `maxFileAgeMs` bounds the ledger with a retention window (default
    * unbounded = the reference's behavior, whose ledger grows one entry
    * per file forever). Age is measured against the max mtime over every
    * STABILIZED admitted file ever listed — a monotonic, persisted
    * reference (`retention_ref` in the ledger), never the wall clock, so
    * a clock step-back cannot re-admit an evicted file and a restart
    * cannot regress the reference past evictions were decided against.
    * The same window drives both directions of the invariant pair:
    * ledger entries older than the window are evicted at save, and a
    * not-yet-ledgered file older than the window is refused at admission
    * (reported in `BatchResult.expired`), so eviction can never cause
    * re-ingestion. Entries from a pre-retention ledger have no recorded
    * mtime and are conservatively never evicted. Shared caveat with
    * Spark's `maxFileAge` and the streaming source: a file whose mtime
    * is rewritten after its entry ages out counts as a new file.
    *
    * Landing (copy + gzip + size metrics) is per-file-independent, so when
    * `spark` is supplied and the admitted batch reaches
    * `distributeThreshold` files it runs as a Spark job over the file list
    * — one task per file up to the cluster's parallelism, with the Hadoop
    * conf broadcast so executors can open any scheme the driver can. The
    * reference lands serially on the scheduler host
    * (drive_auto_compress_email.py:272-309), which is also our small-batch
    * path; at 100 TB a backlog of thousands of files must not funnel
    * through one machine's NIC. Exactly-once semantics are untouched
    * either way: the ledger load and the post-landing ledger append stay
    * driver-side commit points, every landed artifact publishes by
    * tmp-write + atomic rename (speculation-safe — see [[publish]]), and a
    * partially-failed job re-runs the whole (un-ledgered) batch exactly
    * like a partially-failed serial loop.
    *
    * Distribution precondition: every path involved (incoming, raw,
    * output) must be visible from executors at the same URIs. A `file:`
    * (or scheme-less, defaulting to `file:`) directory on a multi-node
    * cluster names each executor's LOCAL disk, so tasks would land
    * artifacts fragmented across machines while the driver ledgers them
    * as processed. When any of the three dirs resolves to `file:` and the
    * cluster is not local-mode, the batch falls back to the serial driver
    * path — same results, same ledger, no silent fragmentation.
    */
  def processBatch(
      incomingDir: String,
      rawDir: String,
      outputDir: String,
      ledgerPath: String,
      namePrefix: String = "loan_",
      nameSuffix: String = ".csv",
      minAgeSeconds: Long = 60L,
      maxFileAgeMs: Long = Long.MaxValue,
      conf: Configuration = new Configuration(),
      now: Instant = Instant.now(),
      spark: Option[SparkSession] = None,
      distributeThreshold: Int = 8): BatchResult = {

    val inPath = new Path(incomingDir)
    val fs = inPath.getFileSystem(conf)
    val ledger = FileLedger.loadState(ledgerPath, conf)

    val candidates: Seq[FileStatus] =
      if (!fs.exists(inPath)) Seq.empty
      else fs.listStatus(inPath).toIndexedSeq.filter(_.isFile).sortBy(_.getPath.getName)

    val (admitted, rejected) = candidates.partition { st =>
      val n = st.getPath.getName
      n.startsWith(namePrefix) && n.endsWith(nameSuffix)
    }
    def stabilized(st: FileStatus): Boolean =
      (now.toEpochMilli - st.getModificationTime) / 1000.0 >= minAgeSeconds

    // the retention reference advances on every stabilized admitted
    // listing hit — including already-ledgered files still present —
    // exactly like the streaming source's latestSeenMtime; young files
    // must not advance it (their upload may still be in flight)
    val ref = (Iterator.single(ledger.retentionRef) ++
      admitted.iterator.filter(stabilized).map(_.getModificationTime)).max
    def overAge(mtime: Long): Boolean =
      ref != Long.MinValue && ref - mtime > maxFileAgeMs

    val fresh = admitted.filterNot(st => ledger.contains(fileId(st)))
    val (stable, deferred) = fresh.partition(stabilized)
    val (expired, ready) = stable.partition(st => overAge(st.getModificationTime))

    fs.mkdirs(new Path(rawDir))
    fs.mkdirs(new Path(outputDir))

    val stats: Seq[CompressionStats] = spark match {
      case Some(ss) if ready.size >= math.max(distributeThreshold, 2) &&
          (ss.sparkContext.isLocal ||
            Seq(incomingDir, rawDir, outputDir).forall(executorVisible(_, conf))) =>
        // one (fileId, size) pair per admitted file — tiny driver-side
        // list; the bytes themselves move executor-side, FS-to-FS
        val tasks = ready.map(st => (fileId(st), st.getLen))
        val slices = math.min(tasks.size, ss.sparkContext.defaultParallelism)
        val bc = ss.sparkContext.broadcast(new SerializableHadoopConf(conf))
        val landed = ss.sparkContext
          .parallelize(tasks, slices)
          .map { case (id, len) => landOne(id, len, rawDir, outputDir, bc.value.value) }
          .collect()
        // collect() is bounded: one small stats row per file, the same
        // list the serial path holds; re-sort to the listing's name order
        landed.toIndexedSeq.sortBy(_.filename)
      case _ =>
        ready.map(st => landOne(fileId(st), st.getLen, rawDir, outputDir, conf))
    }

    // evict ledger entries older than the window (unknown-mtime legacy
    // entries are kept — their age can't be established); persist
    // whenever the durable state must change: new admissions, evictions,
    // or a refusal decided against a not-yet-persisted reference (the
    // persisted reference makes the refusal sticky — without it, deleting
    // the newest file before the next run would lower the rebuilt
    // reference and let a once-refused file ingest; once the reference is
    // durable, repeat refusals of a lingering file change nothing and
    // skip the rewrite)
    val (evicted, kept) =
      ledger.ids.partition(id => ledger.mtimes.get(id).exists(overAge))
    if (stats.nonEmpty || evicted.nonEmpty ||
      (expired.nonEmpty && ref > ledger.retentionRef)) {
      val newIds = stats.map(_.fileId)
      val newMtimes = ready.map(st => fileId(st) -> st.getModificationTime)
      FileLedger.saveState(
        ledgerPath,
        FileLedger.State(
          kept ++ newIds,
          (ledger.mtimes -- evicted) ++ newMtimes,
          ref),
        conf, now)
    }

    BatchResult(stats, deferred.map(fileId), rejected.map(fileId), expired.map(fileId))
  }

  /** Ships a Hadoop `Configuration` (not `java.io.Serializable`) into
    * Spark tasks via its own `Writable` wire format — the same trick
    * Spark's internal `SerializableConfiguration` uses, re-stated here
    * because that class is `private[spark]`.
    */
  private final class SerializableHadoopConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** True when `dir`'s scheme is one a remote executor can resolve to the
    * same bytes the driver sees. `file:` (and scheme-less paths when the
    * default FS is `file:`) name machine-local disks, which only coincide
    * with the driver's in local-mode. Pure string/conf inspection — no
    * FileSystem is instantiated, so the check is free and connection-less.
    */
  private[ingest] def executorVisible(dir: String, conf: Configuration): Boolean = {
    val scheme = Option(new Path(dir).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    scheme != "file"
  }

  /** Land one admitted file: copy into `rawDir`, gzip into `outputDir`,
    * return its size metrics. Self-contained over (URI, conf) so it runs
    * identically on the driver (small batches) or inside a Spark task
    * (large batches). Both artifacts publish via tmp-write + rename
    * ([[publish]]), so concurrent speculative attempts of the same task
    * never interleave bytes at a final path. `attemptTag` defaults to the
    * Spark task attempt ID (or a driver-side UUID) and is injectable only
    * for the concurrent-attempt spec.
    */
  private[ingest] def landOne(
      id: String,
      originalSize: Long,
      rawDir: String,
      outputDir: String,
      conf: Configuration,
      attemptTag: String = null): CompressionStats = {
    val tag = Option(attemptTag).getOrElse(defaultAttemptTag())
    val src = new Path(new java.net.URI(id))
    val srcFs = src.getFileSystem(conf)
    val name = src.getName
    val rawPath = new Path(rawDir, name)
    val gzPath = new Path(outputDir, s"$name.gz")
    publish(rawPath, tag, conf) { (dstFs, tmp) =>
      copy(srcFs, src, dstFs, tmp, conf)
    }
    val compressedSize = publish(gzPath, tag, conf) { (dstFs, tmp) =>
      gzipTo(srcFs, src, dstFs, tmp)
    }
    CompressionStats(
      fileId = id,
      filename = name,
      originalSize = originalSize,
      compressedSize = compressedSize,
      compressionRatio = if (originalSize > 0) compressedSize.toDouble / originalSize else 0.0,
      rawPath = rawPath.toString,
      compressedPath = gzPath.toString)
  }

  /** Task-attempt-unique tag for tmp-path isolation: inside a Spark task,
    * (stage, partition, attempt) — distinct for every speculative or
    * retried attempt of the same logical task; on the driver (serial
    * path, no concurrency) a UUID.
    */
  private def defaultAttemptTag(): String =
    Option(org.apache.spark.TaskContext.get())
      .map(tc => s"${tc.stageId()}-${tc.partitionId()}-${tc.taskAttemptId()}")
      .getOrElse("driver-" + java.util.UUID.randomUUID())

  /** Write-then-rename publish: materialize the artifact at an
    * attempt-unique hidden tmp path in the destination directory, then
    * rename into place; returns the published file's size.
    *
    * Rename is the atomic commit: on HDFS-like stores a rename onto an
    * existing destination fails (single winner), on POSIX local FS it
    * atomically replaces — either way no reader ever observes a
    * half-written or interleaved final file, which the pre-r9 direct
    * `create(dst, true)` could produce under `spark.speculation=true`
    * when two attempts of the same task ran concurrently. A losing
    * attempt finds the destination already published, discards its tmp,
    * and adopts the winner's artifact: both attempts wrote the same bytes
    * from the same admitted source (Java gzip output is deterministic —
    * fixed header, zero mtime), so adoption preserves the metrics
    * contract. The tmp lives in the destination directory (same
    * filesystem, so rename never degrades to a copy) under a
    * `.`-prefixed name that every Hadoop/Spark reader ignores; a tmp
    * orphaned by a crashed attempt is likewise invisible to readers and
    * harmless.
    */
  private def publish(dst: Path, tag: String, conf: Configuration)(
      write: (FileSystem, Path) => Unit): Long = {
    val fs = dst.getFileSystem(conf)
    val tmp = new Path(dst.getParent, s".${dst.getName}.inprogress-$tag")
    var committed = false
    try {
      write(fs, tmp)
      committed = fs.rename(tmp, dst)
      if (!committed && !fs.exists(dst))
        throw new java.io.IOException(s"publish failed: cannot rename $tmp to $dst")
    } finally {
      if (!committed) fs.delete(tmp, false)
    }
    fs.getFileStatus(dst).getLen
  }

  private def copy(srcFs: FileSystem, src: Path, dstFs: FileSystem, dst: Path,
      conf: Configuration): Unit = {
    val in = srcFs.open(src)
    try {
      val out = dstFs.create(dst, true)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, conf, false)
      finally out.close()
    } finally in.close()
  }

  /** Stream-compress src into a gzip file at dst. */
  private def gzipTo(srcFs: FileSystem, src: Path, dstFs: FileSystem, dst: Path): Unit = {
    val in = srcFs.open(src)
    try {
      val rawOut = dstFs.create(dst, true)
      val gz = new GZIPOutputStream(rawOut, 64 * 1024)
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) {
          if (n > 0) gz.write(buf, 0, n)
          n = in.read(buf)
        }
      } finally gz.close()
    } finally in.close()
  }
}
