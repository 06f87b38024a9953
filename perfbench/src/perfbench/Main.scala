package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one op handed back: input rows it completed and facts the
  * correctness checks need.
  */
final case class OpResult(rows: Long, info: Map[String, Any] = Map.empty)

final case class OpRec(id: Int, pass: Int, traced: Boolean, name: String,
    startMs: Double, endMs: Double, ok: Boolean, err: String, rows: Long,
    info: Map[String, Any], persistedRdds: Int, storageMemBytes: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** One workload: how to prepare it (timed as `setup_s`), how to run one
  * pass of its fixed op sequence, and which per-layer metrics its traced
  * passes yield. The untimed warm-up is one full pass, numbered -1.
  */
trait Workload {
  /** Typical seconds of one measured pass; `--seconds` over this sets how
    * many passes a run measures.
    */
  def nominalPassS: Double
  def prepare(r: Run): Unit
  def pass(r: Run, p: Int, traced: Boolean): Unit
  def layers(r: Run): Map[String, Double]
}

/** Run-wide state: the session, the recorded ops, the tracer of the
  * current pass and the listeners of traced passes.
  */
final class Run(val workload: String, val seconds: Double, val trace: Boolean,
    val cores: Int, val inputs: String, val work: String) {

  var spark: SparkSession = _
  var tracer = new Tracer(false)
  val collector = new Collector
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[Span]

  def startSession(): Unit = {
    spark = graft.etl.Sessions.builder(s"perfbench-$workload", s"local[$cores]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  def stopSession(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Time one op. A throw fails the op; it is recorded, not rethrown. */
  def op(pass: Int, name: String)(body: => OpResult): OpRec = {
    val id = ops.size
    val t0 = Clock.nowMs()
    val res =
      try Right(tracer.span(s"op:$name", id)(body))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val t1 = Clock.nowMs()
    val sc = spark.sparkContext
    val rec = OpRec(id, pass, tracer.enabled, name, t0, t1, res.isRight,
      res.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}").getOrElse(""),
      res.toOption.map(_.rows).getOrElse(0L),
      res.toOption.map(_.info).getOrElse(Map.empty),
      sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(_.memSize).sum)
    res.left.foreach(e => System.err.println(s"op $name failed: $e"))
    System.err.println(f"op $id%d $name%s ${rec.seconds}%.3f s")
    ops += rec
    rec
  }

  def tracedOps: Seq[OpRec] = ops.filter(_.traced).toSeq

  /** Wall time of each measured pass: its first op's start to its last
    * op's end, traced or not.
    */
  def passSeconds(traced: Boolean): Seq[Double] =
    ops.filter(_.traced == traced).groupBy(_.pass).values
      .map(os => (os.map(_.endMs).max - os.map(_.startMs).min) / 1000.0).toSeq

  /** Mean over traced ops of `f`. */
  def perOp(f: OpRec => Double): Double = Metrics.mean(tracedOps.map(f))

  def spansOf(o: OpRec, name: String): Seq[Span] =
    spans.filter(s => s.op == o.id && s.name == name).toSeq
}

object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val run = new Run(a("workload"), a("seconds").toDouble, a("trace") == "1",
      a("cores").toInt, a("inputs"), a("work"))
    val wl: Workload = run.workload match {
      case "dag_ticks" => new DagTicks
      case "stream_dedup" => new StreamDedup
      case w => sys.error(s"unknown workload $w")
    }
    val out = mutable.LinkedHashMap.empty[String, Any]

    // set-up, five times (once in a traced run, which does not report
    // setup_s): session start and preparation; then one untimed warm-up
    // pass in the last session. The cold first set-up sorts last, so the
    // median is a warm one; with three set-ups, dag_ticks' setup_s (about
    // 0.1 s) spread by a third of its median between runs
    val setups = (1 to (if (run.trace) 1 else 5)).map { i =>
      if (i > 1) run.stopSession()
      val t0 = System.nanoTime()
      run.startSession()
      val t1 = System.nanoTime()
      wl.prepare(run)
      val t2 = System.nanoTime()
      System.err.println(f"setup $i: session ${(t1 - t0) / 1e9}%.3f s, prepare " +
        f"${(t2 - t1) / 1e9}%.3f s")
      (t2 - t0) / 1e9
    }
    out("setup_s") = setups
    out("conf") = (run.spark.sparkContext.getConf.getAll.toMap ++ run.spark.conf.getAll)
      .toSeq.sortBy(_._1).toMap
    out("warmup_ops") = warmUp(run, wl)

    // measured passes: as many as fill about `seconds`, at least three in
    // a traced run, which alternates plain and traced passes, plain first
    // and last, so the tracing overhead is measured in the same run
    val passes = math.max(if (run.trace) 3 else 1, math.round(run.seconds / wl.nominalPassS).toInt)
    measure(run, wl, passes)
    if (run.trace) out("layers") = sparkLayers(run) ++ wl.layers(run)
    out("ops") = opsJson(run.ops.toSeq)
    out("pass_s") = Map("plain" -> run.passSeconds(false), "traced" -> run.passSeconds(true))
    out("peak_rss_mb") = vmHwmMb()
    a.get("catalog").foreach(dir => out("catalog") = catalogSlice(run, dir))
    run.stopSession()

    Json.write(Paths.get(a("out")), out)
    val self = Tracer.selfSeconds(run.spans.toSeq)
    Json.writeLines(Paths.get(a("spans")), run.spans.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_s" -> self(s.id))).toSeq)
  }

  /** One untimed pass; returns its ops, which the checks may read. */
  private def warmUp(run: Run, wl: Workload): Seq[Map[String, Any]] = {
    val w0 = System.nanoTime()
    wl.pass(run, -1, traced = false)
    val ops = opsJson(run.ops.toSeq)
    run.ops.clear()
    System.err.println(f"warm-up ${(System.nanoTime() - w0) / 1e9}%.3f s")
    ops
  }

  private def measure(run: Run, wl: Workload, passes: Int): Unit =
    (0 until passes).foreach { p =>
      val traced = run.trace && p % 2 == 1
      run.tracer = new Tracer(traced)
      if (traced) run.collector.register(run.spark)
      wl.pass(run, p, traced)
      if (traced) run.collector.unregister(run.spark)
      run.spans ++= run.tracer.spans
    }

  /** The analyst path, which a traced `dag_ticks` run times after its own
    * passes in the same warm JVM: the catalog slice over the tables in
    * `inputs`, one warm-up pass whose results the checks compare with the
    * oracles, three passes, then each query alone in a fresh session.
    */
  private def catalogSlice(main: Run, inputs: String): Map[String, Any] = {
    val r = new Run("catalog_ops", 0, trace = true, main.cores, inputs, main.work)
    r.spark = main.spark
    val cat = new CatalogOps
    cat.prepare(r)
    val warm = warmUp(r, cat)
    measure(r, cat, 3)
    cat.isolate(r)
    main.spark = r.spark
    main.spans ++= r.spans
    Map("warmup_ops" -> warm, "ops" -> opsJson(r.ops.toSeq), "layers" -> cat.layers(r))
  }

  private def opsJson(ops: Seq[OpRec]): Seq[Map[String, Any]] =
    ops.map(o => Map("id" -> o.id, "pass" -> o.pass, "traced" -> o.traced,
      "name" -> o.name, "seconds" -> o.seconds, "ok" -> o.ok, "err" -> o.err,
      "rows" -> o.rows, "info" -> o.info, "persisted_rdds_after" -> o.persistedRdds,
      "storage_mem_after_bytes" -> o.storageMemBytes))

  /** Spark execution metrics per traced op, and the leak counters after
    * the run's last op.
    */
  private def sparkLayers(r: Run): Map[String, Double] = {
    val last = r.ops.last
    val w = r.tracedOps.map(o => o -> r.collector.window(o.startMs, o.endMs)).toMap
    def m(f: SparkWork => Double) = Metrics.mean(w.values.map(f))
    Map(
      "spark.plan_s" -> m(_.planS),
      "spark.job_busy_s" -> m(_.busyS),
      "spark.driver_gap_s" -> r.perOp(o => o.seconds - w(o).busyS),
      "spark.jobs" -> m(_.jobs),
      "spark.stages" -> m(_.stages),
      "spark.tasks" -> m(_.tasks.toDouble),
      "spark.input_bytes" -> m(_.inputBytes.toDouble),
      "spark.shuffle_read_bytes" -> m(_.shuffleReadBytes.toDouble),
      "spark.shuffle_write_bytes" -> m(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> m(_.spillBytes.toDouble),
      "spark.task_cpu_s" -> m(_.taskCpuS),
      "spark.gc_s" -> m(_.gcS),
      "spark.persisted_rdds_after" -> last.persistedRdds.toDouble,
      "spark.storage_mem_after_bytes" -> last.storageMemBytes.toDouble)
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  def write(p: Path, v: Any): Unit =
    Files.write(p, org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])
      .getBytes("UTF-8"))

  def writeLines(p: Path, vs: Seq[Any]): Unit =
    Files.write(p, vs.map(v => org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef]) + "\n")
      .mkString.getBytes("UTF-8"))
}
