package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.SparkSpec

class StreamingEtlSpec extends SparkSpec {

  private val loanSchema = StructType(Seq(
    StructField("loan_id", StringType),
    StructField("amount", DoubleType),
    StructField("status", StringType)))

  test("file stream: exactly-once per file across restarts (ST3) + glob admission (ST5)") {
    val in = tmpDir("stream-in")
    val out = tmpDir("stream-out")
    val ckpt = tmpDir("stream-ckpt")

    writeFile(in, "loan_a.csv", "loan_id,amount,status\nL1,100.0,APPROVED\nL2,200.0,PENDING\n")
    writeFile(in, "loan_b.csv", "loan_id,amount,status\nL3,300.0,APPROVED\n")
    writeFile(in, "notes.txt", "not admitted\n")
    writeFile(in, "other_x.csv", "loan_id,amount,status\nL9,1.0,REJECTED\n")

    def drain(): Unit = StreamingEtl.runAvailableNow(
      StreamingEtl.csvFileStream(spark, in.toString, loanSchema),
      out.toString, ckpt.toString)

    drain()
    val first = spark.read.schema(loanSchema).parquet(out.toString)
    assert(first.count() == 3) // loan_a + loan_b; txt and other_x rejected by glob

    // re-run with nothing new: no duplicates (the checkpoint is the ledger)
    drain()
    assert(spark.read.schema(loanSchema).parquet(out.toString).count() == 3)

    // a late-arriving file is picked up exactly once
    writeFile(in, "loan_c.csv", "loan_id,amount,status\nL4,400.0,APPROVED\nL5,500.0,PENDING\n")
    drain()
    val all = spark.read.schema(loanSchema).parquet(out.toString)
    assert(all.count() == 5)
    assert(all.select("loan_id").distinct().count() == 5)
  }

  test("fixed-interval trigger (ST1): ProcessingTime query processes files and stops cleanly") {
    val in = tmpDir("pt-in")
    val out = tmpDir("pt-out")
    val ckpt = tmpDir("pt-ckpt")
    writeFile(in, "loan_a.csv", "loan_id,amount,status\nL1,100.0,APPROVED\n")
    val q = StreamingEtl.startProcessingTime(
      StreamingEtl.csvFileStream(spark, in.toString, loanSchema),
      out.toString, ckpt.toString, interval = "1 second")
    try q.processAllAvailable()
    finally q.stop()
    assert(spark.read.schema(loanSchema).parquet(out.toString).count() == 1)
  }

  test("streaming windowed aggregate equals the batch answer on the same data") {
    val in = tmpDir("win-in")
    val events = graft.Queries.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    events.coalesce(2).write.mode("overwrite").json(in.toString)
    val schema = events.schema

    val sq = StreamingEtl
      .windowedCounts(StreamingEtl.jsonFileStream(spark, in.toString, schema))
      .writeStream
      .format("memory")
      .queryName("win_counts")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    val streamed = spark.table("win_counts")
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = StreamingEtl.windowedCounts(events)
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming sliding-window counts equal batch row-for-row") {
    val in = tmpDir("slide-in")
    val events = graft.Queries.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    events.coalesce(2).write.mode("overwrite").json(in.toString)
    val schema = events.schema

    val sq = StreamingEtl
      .slidingWindowCounts(StreamingEtl.jsonFileStream(spark, in.toString, schema))
      .writeStream
      .format("memory")
      .queryName("slide_counts")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    val streamed = spark.table("slide_counts")
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = graft.ops.Behavior.slidingWindowCounts(events)
      .collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stateful streaming funnel reaches exactly the batch funnel's stage counts") {
    val in = tmpDir("funnel-in")
    val events = graft.Queries.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    events.coalesce(1).write.mode("overwrite").json(in.toString)
    val schema = events.schema

    val sq = StreamingEtl
      .streamingFunnel(StreamingEtl.jsonFileStream(spark, in.toString, schema))
      .writeStream
      .format("memory")
      .queryName("funnel_stream")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    // users reaching step i in the stream = the batch funnel's count
    val streamed = spark.table("funnel_stream")
      .groupBy("step").count().orderBy("step")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.ops.Behavior.funnelSteps(events)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming rate anomalies equal batch q120 on closed hours") {
    val in = tmpDir("rate-in")
    val events = graft.Queries.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    events.coalesce(1).write.mode("overwrite").json(in.toString)
    val schema = events.schema

    val sq = StreamingEtl
      .streamingRateAnomalies(StreamingEtl.jsonFileStream(spark, in.toString, schema))
      .writeStream
      .format("memory")
      .queryName("rate_stream")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    val streamed = spark.table("rate_stream")
      .orderBy("event_type", "hour_num")
      .collect().map(_.toSeq).toSeq

    // batch anomalies, restricted to hours the stream has CLOSED
    // (strictly before each type's final hour)
    import org.apache.spark.sql.functions._
    val batchAll = graft.ops.Behavior.rateAnomalies(events)
    val lastHour = events.filter(col("ts").isNotNull)
      .groupBy("event_type")
      .agg(max(expr("unix_timestamp(ts) div 3600")).as("last_h"))
    val batch = batchAll.join(lastHour, "event_type")
      .filter(col("hour_num") < col("last_h"))
      .select("event_type", "hour_num", "cnt", "trail_sum", "trail_hours")
      .orderBy("event_type", "hour_num")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming transitions: pair counts equal batch q118 exactly") {
    val in = tmpDir("trans-in")
    val events = graft.Queries.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    events.coalesce(1).write.mode("overwrite").json(in.toString)
    val schema = events.schema

    val sq = StreamingEtl
      .streamingTransitions(StreamingEtl.jsonFileStream(spark, in.toString, schema))
      .writeStream
      .format("memory")
      .queryName("trans_stream")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    val streamed = spark.table("trans_stream")
      .groupBy("event_type", "next_type").count()
      .orderBy("event_type", "next_type")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.ops.Behavior.transitionCounts(events)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming KMV distinct-user sketch equals batch, estimates exact under k") {
    val in = tmpDir("kmv-in")
    val events = graft.Queries.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    events.coalesce(2).write.mode("overwrite").json(in.toString)
    val schema = events.schema

    val sq = StreamingEtl
      .windowedDistinctUsers(StreamingEtl.jsonFileStream(spark, in.toString, schema))
      .writeStream
      .format("memory")
      .queryName("kmv_users")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    val streamed = spark.table("kmv_users")
      .orderBy("window_start").collect().toSeq
    val batch = StreamingEtl.windowedDistinctUsers(events)
      .orderBy("window_start").collect().toSeq
    // bit-equality: the sketch's merge is order/partitioning-free, so
    // micro-batch folding must land on the same k-min set as batch
    assert(streamed.nonEmpty && streamed == batch)
    // with 100 users (< k=256), the estimate IS the exact distinct count
    val exact = events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(countDistinct(col("user_id")).as("d"))
      .select(col("window.start").as("window_start"), col("d"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    streamed.foreach { r =>
      assert(r.getLong(1) === exact(r.getTimestamp(0)),
        s"estimate diverged from exact under k at ${r.getTimestamp(0)}")
    }
  }

  test("session windows: batch q43 result matches q27's session counts per user") {
    val sessions = graft.SparkEntry.queries("q43_session_window")(
      spark, "/root/testdata/sf0.001")
    val q27 = graft.SparkEntry.queries("q27_sessionize")(
      spark, "/root/testdata/sf0.001")
    // q27 counts sessions with a strict > gap predicate; q43 (native
    // session_window) uses >= — counts agree unless an exact-30-min gap
    // exists, which we assert directly by comparing totals.
    val byUser = sessions.groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum("n_events").as("n_events"))
      .orderBy("user_id").collect().toSeq
    val expected = q27.select("user_id", "n_sessions", "n_events")
      .orderBy("user_id").collect().toSeq
    assert(byUser == expected)
  }

  test("foreachBatch: each batch lands rows, recomputes aggregates, renders a report (ST6+ST7)") {
    val in = tmpDir("fb-in"); val out = tmpDir("fb-out"); val agg = tmpDir("fb-agg")
    val rep = tmpDir("fb-rep"); val ckpt = tmpDir("fb-ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("loan_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("amount", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType)))
    writeFile(in, "loan_a.csv",
      "loan_id,amount,status\nL1,100.0,APPROVED\nL2,50.5,APPROVED\nL3,10.0,REJECTED\n")
    StreamingEtl.runWithBatchReport(
      StreamingEtl.csvFileStream(spark, in.toString, schema),
      out.toString, agg.toString, rep.toString, ckpt.toString)
    def landed(): Long = spark.read
      .option("recursiveFileLookup", "true").parquet(out.toString).count()
    assert(landed() == 3)
    val aggRows = spark.read.parquet(agg.toString).collect()
    assert(aggRows.map(_.getAs[Long]("loan_count")).sum == 3)
    val reports = java.nio.file.Files.list(java.nio.file.Paths.get(rep.toString))
      .toArray.map(_.toString).filter(_.endsWith(".html"))
    assert(reports.nonEmpty)
    val html = java.nio.file.Files.readString(java.nio.file.Paths.get(reports.sorted.last))
    assert(html.contains("APPROVED") && html.contains("150.50"))

    // replay injection: foreachBatch is at-least-once — delete the
    // batch-0 commit marker so the restarted query re-executes the SAME
    // batchId over the recorded offsets. The idempotent per-batch
    // overwrite must leave the landed rows unchanged (an append sink
    // would double them, poisoning every later aggregate and report).
    java.nio.file.Files.delete(ckpt.resolve("commits").resolve("0"))
    // the local-FS checksum sidecar must go with it, or the replayed
    // commit's atomic rename trips Spark's concurrent-writer detection
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve(".0.crc"))
    StreamingEtl.runWithBatchReport(
      StreamingEtl.csvFileStream(spark, in.toString, schema),
      out.toString, agg.toString, rep.toString, ckpt.toString)
    assert(landed() == 3, "a replayed micro-batch must not duplicate landed rows")
    val aggRows2 = spark.read.parquet(agg.toString).collect()
    assert(aggRows2.map(_.getAs[Long]("loan_count")).sum == 3)
  }

  test("landing-dir compaction: dir count bounded, aggregates identical, newest-batch replay still exact") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("loan_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("amount", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType)))
    val in = tmpDir("cp-in")
    val n = 8
    (0 until n).foreach(i => writeFile(in, s"loan_$i.csv",
      s"loan_id,amount,status\nL$i,${100.0 + i},${if (i % 2 == 0) "APPROVED" else "REJECTED"}\n"))
    def stream() = StreamingEtl.csvFileStream(spark, in.toString, schema, maxFilesPerTrigger = 1)

    // faithful layout (compactInterval = 0): one dir per batch, forever
    val outA = tmpDir("cp-outA"); val aggA = tmpDir("cp-aggA")
    StreamingEtl.runWithBatchReport(stream(), outA.toString, aggA.toString,
      tmpDir("cp-repA").toString, tmpDir("cp-ckptA").toString)
    def dirs(p: java.nio.file.Path): Seq[String] =
      java.nio.file.Files.list(p).toArray.map(_.toString.split('/').last).sorted.toSeq
    assert(dirs(outA).count(_.startsWith("batch-")) == n)

    // compacted layout: same input, compactInterval = 3
    val outB = tmpDir("cp-outB"); val aggB = tmpDir("cp-aggB")
    val ckptB = tmpDir("cp-ckptB")
    StreamingEtl.runWithBatchReport(stream(), outB.toString, aggB.toString,
      tmpDir("cp-repB").toString, ckptB.toString, compactInterval = 3)
    // trace with n=8, K=3: fold at batch 3 (base-3) and batch 6 (base-6)
    // → final layout is one base + the ≤K un-folded tail, bounded for
    // any number of triggers
    val dB = dirs(outB)
    assert(dB.count(_.startsWith("base-")) == 1, s"exactly one live base: $dB")
    assert(dB.count(_.startsWith("batch-")) <= 3, s"tail bounded by K: $dB")
    // the fold publishes its own commit marker (post-write, pre-sweep)
    // so recovery never depends on the cluster's _SUCCESS setting
    val baseDir = dB.find(_.startsWith("base-")).get
    assert(java.nio.file.Files.exists(outB.resolve(baseDir).resolve("_GRAFT_COMMITTED")),
      "a folded base must carry the graft commit marker")

    // the selected read sees exactly the same rows as the faithful layout
    def landedRows(p: java.nio.file.Path): Set[(String, Double, String)] =
      spark.read.option("recursiveFileLookup", "true").parquet(p.toString)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    assert(landedRows(outB) == landedRows(outA))
    def aggRows(p: java.nio.file.Path): Set[Seq[Any]] =
      spark.read.parquet(p.toString).collect().map(_.toSeq).toSet
    assert(aggRows(aggB) == aggRows(aggA),
      "aggregates over the compacted layout must match the uncompacted run")

    // replay of the newest batch (the only one Spark can replay) is
    // still exact: its dir survived compaction, the overwrite is
    // idempotent, and re-running the compaction check is a no-op
    java.nio.file.Files.delete(ckptB.resolve("commits").resolve((n - 1).toString))
    java.nio.file.Files.deleteIfExists(ckptB.resolve("commits").resolve(s".${n - 1}.crc"))
    StreamingEtl.runWithBatchReport(stream(), outB.toString, aggB.toString,
      tmpDir("cp-repB2").toString, ckptB.toString, compactInterval = 3)
    assert(landedRows(outB) == landedRows(outA),
      "a replayed newest batch must not duplicate or lose landed rows")
    assert(aggRows(aggB) == aggRows(aggA))

    // a PARTIAL base — the multi-file parquet publish is not atomic, so
    // a crash mid-fold leaves a base-<id> dir without _SUCCESS — must
    // not win the highest-base rule: it claims to cover every batch but
    // holds none of their rows. Plant one above every live id and run
    // one more trigger: selection must ignore it and read the real dirs
    java.nio.file.Files.createDirectories(outB.resolve("base-99990"))
    writeFile(in, s"loan_$n.csv",
      s"loan_id,amount,status\nL$n,${100.0 + n},APPROVED\n")
    StreamingEtl.runWithBatchReport(stream(), outB.toString, aggB.toString,
      tmpDir("cp-repB3").toString, ckptB.toString, compactInterval = 3)
    assert(landedRows(outB).map(_._1) == (0 to n).map(i => s"L$i").toSet,
      "a partial (uncommitted) base dir must not shadow the live batch dirs")
  }

  test("legacy markerless base: authoritative when swept, ignored while partial") {
    // migration rule: a base written by a version without markers (and
    // on a cluster with _SUCCESS disabled) is provably committed when
    // no batch dir below it remains — the sweep only ever ran after a
    // completed publish. Craft that state by hand: rows only in a
    // markerless base, then stream one new batch over it.
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("loan_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("amount", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType)))
    val in = tmpDir("lg-in"); val out = tmpDir("lg-out"); val agg = tmpDir("lg-agg")
    import spark.implicits._
    Seq(("L0", 100.0, "APPROVED"), ("L1", 50.5, "REJECTED"))
      .toDF("loan_id", "amount", "status")
      .write.mode("overwrite").parquet(out.resolve("base-00000").toString)
    // strip every marker: legacy-committed shape (swept, no markers)
    java.nio.file.Files.deleteIfExists(out.resolve("base-00000").resolve("_SUCCESS"))
    java.nio.file.Files.deleteIfExists(out.resolve("base-00000").resolve("._SUCCESS.crc"))

    writeFile(in, "loan_new.csv", "loan_id,amount,status\nL2,10.0,APPROVED\n")
    StreamingEtl.runWithBatchReport(
      StreamingEtl.csvFileStream(spark, in.toString, schema),
      out.toString, agg.toString, tmpDir("lg-rep").toString,
      tmpDir("lg-ckpt").toString, compactInterval = 3)
    val rows = spark.read.option("recursiveFileLookup", "true")
      .parquet(out.resolve("base-00000").toString)
    assert(rows.count() == 2, "the legacy base itself must survive the run")
    val aggRows = spark.read.parquet(agg.toString).collect()
      .map(r => (r.getAs[String]("status"), r.getAs[Long]("loan_count"))).toSet
    assert(aggRows == Set(("APPROVED", 2L), ("REJECTED", 1L)),
      s"the markerless-but-swept base must stay authoritative: $aggRows")
  }

  test("startWithBatchReport (ST1+ST6+ST7): ProcessingTime service renders a report per arrival, exactly-once, clean stop") {
    val in = tmpDir("sbr-in"); val out = tmpDir("sbr-out"); val agg = tmpDir("sbr-agg")
    val rep = tmpDir("sbr-rep"); val ckpt = tmpDir("sbr-ckpt")
    writeFile(in, "loan_a.csv", "loan_id,amount,status\nL1,100.0,APPROVED\nL2,50.5,APPROVED\n")
    val q = StreamingEtl.startWithBatchReport(
      StreamingEtl.csvFileStream(spark, in.toString, loanSchema),
      out.toString, agg.toString, rep.toString, ckpt.toString,
      interval = "1 second")
    def reports(): Seq[String] = java.nio.file.Files.list(rep).toArray
      .map(_.toString).filter(_.endsWith(".html")).sorted.toSeq
    try {
      q.processAllAvailable() // trigger 1: file a
      assert(reports().size == 1, "first arrival must render a report")
      writeFile(in, "loan_b.csv", "loan_id,amount,status\nL3,10.0,REJECTED\n")
      q.processAllAvailable() // trigger 2: file b
    } finally q.stop()
    assert(q.exception.isEmpty, s"service must stop cleanly: ${q.exception}")
    // one report per data-carrying trigger, cumulative aggregates current
    assert(reports().size == 2, s"got ${reports()}")
    val landed = spark.read.option("recursiveFileLookup", "true")
      .schema(loanSchema).parquet(out.toString)
    assert(landed.count() == 3 && landed.select("loan_id").distinct().count() == 3,
      "each admitted file lands exactly once")
    val aggRows = spark.read.parquet(agg.toString).collect()
      .map(r => (r.getAs[String]("status"), r.getAs[Long]("loan_count"))).toSet
    assert(aggRows == Set(("APPROVED", 2L), ("REJECTED", 1L)), s"got $aggRows")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(reports().last)).contains("REJECTED"),
      "latest report must reflect the second arrival")
    // restart with the same checkpoint: nothing new → nothing reprocessed
    val q2 = StreamingEtl.startWithBatchReport(
      StreamingEtl.csvFileStream(spark, in.toString, loanSchema),
      out.toString, agg.toString, rep.toString, ckpt.toString,
      interval = "1 second")
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.option("recursiveFileLookup", "true")
      .schema(loanSchema).parquet(out.toString).count() == 3,
      "restart must not duplicate landed rows")
  }

  test("startWithIncrementalReport: state carries across two ProcessingTime triggers") {
    val in = tmpDir("sir-in"); val agg = tmpDir("sir-agg")
    val rep = tmpDir("sir-rep"); val ckpt = tmpDir("sir-ckpt")
    writeFile(in, "loan_a.csv", "loan_id,amount,status\nL1,100.0,APPROVED\nL2,50.5,APPROVED\n")
    val q = StreamingEtl.startWithIncrementalReport(
      StreamingEtl.csvFileStream(spark, in.toString, loanSchema),
      agg.toString, rep.toString, ckpt.toString, interval = "1 second")
    try {
      q.processAllAvailable() // trigger 1
      writeFile(in, "loan_b.csv", "loan_id,amount,status\nL3,25.0,APPROVED\nL4,10.0,REJECTED\n")
      q.processAllAvailable() // trigger 2: totals must CARRY, not reset
    } finally q.stop()
    assert(q.exception.isEmpty, s"service must stop cleanly: ${q.exception}")
    val aggRows = spark.read.parquet(agg.toString).collect()
      .map(r => (r.getAs[String]("status"), r.getAs[Long]("loan_count"),
        BigDecimal(r.getAs[Double]("total_amount")).setScale(2,
          BigDecimal.RoundingMode.HALF_UP))).toSet
    assert(aggRows == Set(
      ("APPROVED", 3L, BigDecimal("175.50")),
      ("REJECTED", 1L, BigDecimal("10.00"))), s"got $aggRows")
    val reports = java.nio.file.Files.list(rep).toArray.map(_.toString)
      .filter(_.endsWith(".html")).sorted
    assert(reports.size == 2, "one report per data-carrying trigger")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(reports.last)).contains("175.50"),
      "second trigger's report must show the carried running total")
  }

  test("startLandAndIncrementalReport: both sinks exactly-once over one source, across a restart") {
    val in = tmpDir("lir-in"); val out = tmpDir("lir-out"); val agg = tmpDir("lir-agg")
    val rep = tmpDir("lir-rep")
    val landCkpt = tmpDir("lir-ckptL"); val repCkpt = tmpDir("lir-ckptR")
    writeFile(in, "loan_a.csv", "loan_id,amount,status\nL1,100.0,APPROVED\nL2,50.5,APPROVED\n")
    def startBoth() = StreamingEtl.startLandAndIncrementalReport(
      StreamingEtl.csvFileStream(spark, in.toString, loanSchema),
      out.toString, agg.toString, rep.toString,
      landCkpt.toString, repCkpt.toString, interval = "1 second")

    val (land1, rep1) = startBoth()
    try { land1.processAllAvailable(); rep1.processAllAvailable() }
    finally { land1.stop(); rep1.stop() }

    // restart both from their own checkpoints; a new file arrives after
    writeFile(in, "loan_b.csv", "loan_id,amount,status\nL3,25.0,REJECTED\n")
    val (land2, rep2) = startBoth()
    try { land2.processAllAvailable(); rep2.processAllAvailable() }
    finally { land2.stop(); rep2.stop() }
    assert(land2.exception.isEmpty && rep2.exception.isEmpty)

    val landed = spark.read.schema(loanSchema).parquet(out.toString)
    assert(landed.count() == 3 && landed.select("loan_id").distinct().count() == 3,
      "landing sink must hold each row exactly once across the restart")
    val aggRows = spark.read.parquet(agg.toString).collect()
      .map(r => (r.getAs[String]("status"), r.getAs[Long]("loan_count"))).toSet
    assert(aggRows == Set(("APPROVED", 2L), ("REJECTED", 1L)),
      s"report state must resume, not recount: $aggRows")
    assert(java.nio.file.Files.list(rep).toArray.map(_.toString)
      .exists(_.endsWith(".html")), "reports rendered")
  }

  test("incremental aggregates: an empty source drains without error") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("loan_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("amount", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType)))
    val in = tmpDir("inc0-in")
    StreamingEtl.runWithIncrementalReport(
      StreamingEtl.csvFileStream(spark, in.toString, schema),
      tmpDir("inc0-agg").toString, tmpDir("inc0-rep").toString,
      tmpDir("inc0-ckpt").toString) // must not throw
  }

  test("incremental aggregates: streaming state matches the full recompute, across restarts") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("loan_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("amount", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType)))
    val in = tmpDir("inc-in")
    writeFile(in, "loan_0.csv", "loan_id,amount,status\nL0,100.0,APPROVED\nL1,50.5,APPROVED\n")
    writeFile(in, "loan_1.csv", "loan_id,amount,status\nL2,10.0,REJECTED\n")

    // incremental: first drain covers files 0-1, then a restart with the
    // SAME checkpoint picks up file 2 — the running totals must carry
    val aggB = tmpDir("inc-aggB"); val repB = tmpDir("inc-repB"); val ckptB = tmpDir("inc-ckptB")
    StreamingEtl.runWithIncrementalReport(
      StreamingEtl.csvFileStream(spark, in.toString, schema),
      aggB.toString, repB.toString, ckptB.toString)
    writeFile(in, "loan_2.csv", "loan_id,amount,status\nL3,25.0,APPROVED\nL4,5.0,PENDING\n")
    StreamingEtl.runWithIncrementalReport(
      StreamingEtl.csvFileStream(spark, in.toString, schema),
      aggB.toString, repB.toString, ckptB.toString)

    // faithful full recompute over the same five rows = the oracle
    val outA = tmpDir("inc-outA"); val aggA = tmpDir("inc-aggA")
    StreamingEtl.runWithBatchReport(
      StreamingEtl.csvFileStream(spark, in.toString, schema),
      outA.toString, aggA.toString, tmpDir("inc-repA").toString,
      tmpDir("inc-ckptA").toString)

    def aggRows(p: java.nio.file.Path): Set[Seq[Any]] =
      spark.read.parquet(p.toString).collect().map(_.toSeq).toSet
    assert(aggRows(aggB) == aggRows(aggA),
      "state-maintained aggregates must equal the full recompute")
    // and the per-trigger report rendered from the state
    val reports = java.nio.file.Files.list(repB).toArray.map(_.toString)
      .filter(_.endsWith(".html"))
    assert(reports.nonEmpty)
    val html = java.nio.file.Files.readString(
      java.nio.file.Paths.get(reports.sorted.last))
    assert(html.contains("APPROVED") && html.contains("175.50"),
      s"report must reflect the carried state (100.0+50.5+25.0): $html")
  }

  test("windowed-agg state survives restart: watermark resumes from checkpoint, no window emitted twice") {
    import org.apache.spark.sql.types._
    val in = tmpDir("wm-in"); val out = tmpDir("wm-out"); val ckpt = tmpDir("wm-ckpt")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))

    def drain(): Unit = {
      val agg = StreamingEtl.windowedCounts(
        StreamingEtl.jsonFileStream(spark, in.toString, schema))
      val q = agg.writeStream
        .format("parquet").option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append) // only watermark-closed windows land
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // run 1: events in hours 10 and 11 → watermark(1h) advances to 10:30
    // at batch end; AvailableNow stops before the no-data flush batch, so
    // the 10:00 window is emitted by the NEXT restart, not this run
    writeFile(in, "e1.json",
      """{"ts":"2024-01-01T10:00:00.000Z","event_type":"click","value":1.0}
        |{"ts":"2024-01-01T10:20:00.000Z","event_type":"click","value":2.0}
        |{"ts":"2024-01-01T11:30:00.000Z","event_type":"click","value":3.0}
        |""".stripMargin)
    drain()

    // run 2 (restart): watermark 10:30 resumes from the checkpoint and the
    // 13:40 event pushes it to 12:40
    writeFile(in, "e2.json",
      """{"ts":"2024-01-01T13:40:00.000Z","event_type":"click","value":4.0}
        |""".stripMargin)
    drain()
    def emitted(): Seq[String] = spark.read.parquet(out.toString)
      .collect().map(_.getAs[java.sql.Timestamp]("window_start").toString).toSeq
    assert(emitted().contains("2024-01-01 10:00:00.0"),
      s"restart lost checkpointed window state: ${emitted()}")

    // run 3 (restart, far-future event): every window before 12:40 must
    // now be final, each emitted EXACTLY once across all three runs
    writeFile(in, "e3.json",
      """{"ts":"2024-01-01T16:00:00.000Z","event_type":"click","value":5.0}
        |""".stripMargin)
    drain()
    val rows = spark.read.parquet(out.toString).collect()
    val finalStarts = rows.map(_.getAs[java.sql.Timestamp]("window_start").toString).sorted.toSeq
    // exactly-once: every closed window appears ONCE across all three runs
    // (13:00 closes inside run 3 — its second micro-batch carries the
    // advanced watermark)
    assert(finalStarts == finalStarts.distinct, s"duplicated windows: $finalStarts")
    assert(finalStarts.take(2) == Seq("2024-01-01 10:00:00.0", "2024-01-01 11:00:00.0"),
      s"got $finalStarts")
    val byStart = rows.map(r =>
      r.getAs[java.sql.Timestamp]("window_start").toString -> r.getAs[Long]("cnt")).toMap
    assert(byStart("2024-01-01 10:00:00.0") == 2 && byStart("2024-01-01 11:00:00.0") == 1)
  }

  test("stream-stream interval join matches the batch join on the same data") {
    val events = graft.Queries.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type")
    val clicksB = events.filter(col("event_type") === "click")
    val purchB = events.filter(col("event_type") === "purchase")

    val cDir = tmpDir("ss-clicks"); val pDir = tmpDir("ss-purch")
    clicksB.coalesce(1).write.mode("overwrite").json(cDir.toString)
    purchB.coalesce(1).write.mode("overwrite").json(pDir.toString)
    val schema = events.schema

    val joined = StreamingEtl.intervalJoin(
      StreamingEtl.jsonFileStream(spark, pDir.toString, schema),
      StreamingEtl.jsonFileStream(spark, cDir.toString, schema))
    val sq = joined.writeStream
      .format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    val streamed = spark.table("ss_join")
      .orderBy("event_id", "click_id").collect().toSeq
    val batch = StreamingEtl.intervalJoin(purchB, clicksB)
      .orderBy("event_id", "click_id").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming dedup within watermark drops repeated keys") {
    val in = tmpDir("dedup-in")
    val out = tmpDir("dedup-out")
    val ckpt = tmpDir("dedup-ckpt")
    // two files carrying overlapping event ids (a re-delivered batch)
    writeFile(in, "loan_a.csv",
      "loan_id,amount,status\nL1,100.0,APPROVED\nL2,200.0,PENDING\n")
    writeFile(in, "loan_b.csv",
      "loan_id,amount,status\nL2,200.0,PENDING\nL3,300.0,APPROVED\n")
    val withTs = StreamingEtl
      .csvFileStream(spark, in.toString, loanSchema)
      .withColumn("ingest_ts", current_timestamp())
    val deduped = StreamingEtl.dedupWithinWatermark(
      withTs, "ingest_ts", "10 minutes", Seq("loan_id"))
    StreamingEtl.runAvailableNow(deduped, out.toString, ckpt.toString)
    val rows = spark.read.parquet(out.toString)
    assert(rows.count() == 3)
    assert(rows.select("loan_id").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted.toSeq == Seq("L1", "L2", "L3"))
  }

  test("streamingTopKWords: one O(capacity) state row, sketch carries across triggers") {
    import spark.implicits._
    val in = tmpDir("topk-in")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    val q = StreamingEtl.streamingTopKWords(
      StreamingEtl.jsonFileStream(spark, in.toString, schema))
      .writeStream
      .format("memory")
      .queryName("topk_words")
      .outputMode(OutputMode.Complete)
      .start()
    try {
      writeFile(in, "d1.json",
        """{"doc_id":1,"text":"a a a b"}
          |{"doc_id":2,"text":"b c"}
          |""".stripMargin)
      q.processAllAvailable() // trigger 1
      writeFile(in, "d2.json",
        """{"doc_id":3,"text":"a c c d"}
          |{"doc_id":4,"text":null}
          |""".stripMargin)
      q.processAllAvailable() // trigger 2: sketch must CARRY, not reset

      // complete mode: the memory table is the latest snapshot
      val got = spark.table("topk_words")
        .select(explode(col("candidates")).as("e"))
        .select(col("e.term"), col("e.est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // capacity >> distinct terms, so the sketch is the exact count map
      // over BOTH arrivals (a:4, b:2, c:3, d:1)
      assert(got === Map("a" -> 4L, "b" -> 2L, "c" -> 3L, "d" -> 1L))

      // bounded state: ONE global row whose value is the sketch buffer —
      // never one row per distinct word
      val stateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
      assert(stateRows.nonEmpty && stateRows.forall(_ <= 1L), stateRows.toSeq)
    } finally q.stop()
  }

  test("flatMapGroupsWithState running totals match batch groupBy") {
    import spark.implicits._
    val in = tmpDir("state-in")
    val events = graft.Queries.t(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id"), col("value"))
    events.coalesce(1).write.mode("overwrite").json(in.toString)
    val schema = events.schema

    val typed = StreamingEtl.jsonFileStream(spark, in.toString, schema)
      .as[StreamingEtl.UserEvent]
    val sq = StreamingEtl.runningUserTotals(typed)
      .writeStream
      .format("memory")
      .queryName("user_totals")
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    // take each user's LAST emitted update (one micro-batch here, but be
    // robust to maxFilesPerTrigger splits)
    val got = spark.table("user_totals")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"),
        round(max("sum_value"), 4).as("sum_value"))
      .orderBy("user_id").collect().toSeq
    val expected = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .orderBy("user_id").collect().toSeq
    assert(got == expected)
  }


  test("streaming RFM: stateful per-user snapshot + shared scoring pass equals batch q119") {
    import spark.implicits._
    val in = tmpDir("rfm-in")
    val events = graft.Queries.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "event_type", "ts", "value")
    // two files -> two micro-batches with maxFilesPerTrigger(1): the
    // per-user state must carry correctly ACROSS batches
    writeFile(in, "a.json",
      events.filter(col("event_id") % 2 === 0).toJSON.collect().mkString("\n"))
    writeFile(in, "b.json",
      events.filter(col("event_id") % 2 =!= 0).toJSON.collect().mkString("\n"))
    val schema = events.schema

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val sq = StreamingEtl.streamingRfm(stream)
      .writeStream.format("memory").queryName("rfm_users")
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    // latest snapshot per user: frequency is strictly increasing across
    // a user's updates, so max_by(struct) picks the last emission
    val snapshot = spark.table("rfm_users")
      .groupBy("user_id")
      .agg(max(struct(col("frequency"), col("last_ts"), col("monetary")))
        .as("s"))
      .select(col("user_id"), col("s.last_ts"), col("s.frequency"),
        col("s.monetary"))
    val got = graft.ops.Behavior.rfmScores(snapshot)
      .collect().map(_.toSeq).toSeq
    val want = graft.ops.Behavior.rfmSegments(
        graft.Queries.t(spark, "/root/testdata/sf0.001", "events"))
      .collect().map(_.toSeq).toSeq
    assert(got === want)
    assert(got.nonEmpty)

    // state shape: exactly one state row per purchasing user, never
    // per event
    val users = snapshot.count()
    val stateRows = sq.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
    assert(stateRows.nonEmpty && stateRows.max === users, stateRows.toSeq)
  }

  test("streaming last-touch attribution equals batch q128 across time-split batches") {
    import spark.implicits._
    val in = tmpDir("attr-in")
    val events = graft.Queries.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "event_type", "ts", "value")
    // time split (NOT parity): last-touch state is order-sensitive, so
    // the cross-batch contract is per-user event-time order
    val cut = events.filter(col("ts").isNotNull)
      .agg(expr("percentile(unix_micros(ts), 0.5D)")).head().getDouble(0).toLong
    writeFile(in, "a.json",
      events.filter(expr("unix_micros(ts)") < cut)
        .toJSON.collect().mkString("\n"))
    writeFile(in, "b.json",
      events.filter(col("ts").isNull || expr("unix_micros(ts)") >= cut)
        .toJSON.collect().mkString("\n"))

    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val sq = StreamingEtl.streamingLastTouch(stream)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    val got = spark.table("attr_out")
      .groupBy("channel")
      .agg(count(lit(1)).as("purchases"),
        round(coalesce(sum(col("value")), lit(0.0)), 2).as("revenue"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = graft.ops.Behavior.attribution(events).collect()
      .filter(_.getString(0) == "last_touch")
      .map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got === want)
    assert(got.values.map(_._1).sum > 0)
  }

  test("streaming SCD2: closed episodes equal batch q143 non-current rows across time-split batches") {
    import spark.implicits._
    val in = tmpDir("scd2-in")
    val events = graft.Queries.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "event_type", "ts")
    // JSON serializes timestamps at MILLIS — ship exact micros as a
    // long and rebuild ts on the stream side (SCD2 compares validity
    // boundaries bit-for-bit, unlike the aggregating twins)
    val wire = events.select(col("event_id"), col("user_id"),
      col("event_type"), expr("unix_micros(ts)").as("ts_us"))
    // time split: episode state is order-sensitive — per-user event-time
    // order across batches is the contract (the attribution discipline)
    val cut = events.filter(col("ts").isNotNull)
      .agg(expr("percentile(unix_micros(ts), 0.5D)")).head().getDouble(0).toLong
    writeFile(in, "a.json",
      wire.filter(col("ts_us") < cut)
        .toJSON.collect().mkString("\n"))
    writeFile(in, "b.json",
      wire.filter(col("ts_us").isNull || col("ts_us") >= cut)
        .toJSON.collect().mkString("\n"))

    val stream = spark.readStream.schema(wire.schema)
      .option("maxFilesPerTrigger", 1).json(in.toString)
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
    val sq = StreamingEtl.streamingScd2(stream)
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    val got = spark.table("scd2_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._4, t._2))
    val want = graft.ops.ChangeCapture.scd2FromEvents(events)
      .filter(!col("is_current"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(valid_from)"), expr("unix_micros(valid_to)"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._4, t._2))
    assert(got.toSeq === want.toSeq)
    assert(got.nonEmpty)
    // every open episode is withheld: one fewer emitted row per user
    // than the batch history's total
    val batchAll = graft.ops.ChangeCapture.scd2FromEvents(events).count()
    val users = want.map(_._1).distinct.length.toLong
    assert(got.length.toLong <= batchAll - users)
  }

  test("streaming drift gate: per-batch PSI report equals batch q147 on the same split") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val in = tmpDir("drift-in")
    val refPath = tmpDir("drift-ref").toString + "/hist"
    val reportDir = tmpDir("drift-rep").toString + "/reports"
    val ckpt = tmpDir("drift-ckpt").toString

    val dirtied = graft.Queries.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        when(col("o_orderkey") % 7 === 0 &&
            col("o_orderdate") >= lit("1998-01-01").cast("timestamp"),
          col("o_totalprice") * 1.5)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
    val cutTs = lit("1998-01-01").cast("timestamp")
    graft.ops.Drift.histogram(
      dirtied.filter(col("o_orderdate") < cutTs), "o_totalprice", 50000.0)
      .write.parquet(refPath)
    val cur = dirtied.filter(col("o_orderdate") >= cutTs)
      .select("o_orderkey", "o_totalprice")
    writeFile(in, "a.json", cur.toJSON.collect().mkString("\n"))

    val stream = spark.readStream.schema(cur.schema).json(in.toString)
    StreamingEtl.runDriftGate(stream, ckpt, refPath, reportDir,
      "o_totalprice", 50000.0)

    val got = spark.read.parquet(s"$reportDir/batch=0").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val want = graft.SparkEntry.queries("q147_psi_drift")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    assert(got.map(_._4).sum > 100000L, "the planted drift must cross PSI 0.1")
  }

  test("streaming categorical drift gate: per-batch report equals batch q157 on the same split") {
    val sf = "/root/testdata/sf0.001"
    val in = tmpDir("cdrift-in")
    val refPath = tmpDir("cdrift-ref").toString + "/counts"
    val reportDir = tmpDir("cdrift-rep").toString + "/reports"
    val ckpt = tmpDir("cdrift-ckpt").toString

    val cut = "1998-01-01"
    val cutTs = lit(cut).cast("timestamp")
    val dirtied = graft.Queries.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        when(col("o_orderkey") % 11 === 0 && col("o_orderdate") >= cutTs,
          lit("X")).otherwise(col("o_orderstatus")).as("o_orderstatus"))
    dirtied.filter(col("o_orderdate") < cutTs && col("o_orderstatus").isNotNull)
      .groupBy(col("o_orderstatus").as("category"))
      .agg(count(lit(1)).as("cnt"))
      .write.parquet(refPath)
    val cur = dirtied.filter(col("o_orderdate") >= cutTs)
      .select("o_orderkey", "o_orderstatus")
    writeFile(in, "a.json", cur.toJSON.collect().mkString("\n"))

    val stream = spark.readStream.schema(cur.schema).json(in.toString)
    StreamingEtl.runCategoricalDriftGate(stream, ckpt, refPath, reportDir,
      "o_orderstatus")

    val got = spark.read.parquet(s"$reportDir/batch=0").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val want = graft.SparkEntry.queries("q157_categorical_drift")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    assert(got.exists(_._1 == "X"), "the planted never-seen category must surface")
  }

  test("streaming KS drift gate: per-batch summary equals batch q160 on the same split") {
    val sf = "/root/testdata/sf0.001"
    val in = tmpDir("ksdrift-in")
    val refPath = tmpDir("ksdrift-ref").toString + "/counts"
    val reportDir = tmpDir("ksdrift-rep").toString + "/reports"
    val ckpt = tmpDir("ksdrift-ckpt").toString

    val cut = "1998-01-01"
    val cutTs = lit(cut).cast("timestamp")
    val dirtied = graft.Queries.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        when(col("o_orderkey") % 7 === 0 && col("o_orderdate") >= cutTs,
          col("o_totalprice") * 1.5)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
    dirtied.filter(col("o_orderdate") < cutTs && col("o_totalprice").isNotNull)
      .groupBy(col("o_totalprice").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .write.parquet(refPath)
    val cur = dirtied.filter(col("o_orderdate") >= cutTs)
      .select("o_orderkey", "o_totalprice")
    writeFile(in, "a.json", cur.toJSON.collect().mkString("\n"))

    val stream = spark.readStream.schema(cur.schema).json(in.toString)
    StreamingEtl.runKsDriftGate(stream, ckpt, refPath, reportDir,
      "o_totalprice")

    val got = spark.read.parquet(s"$reportDir/batch=0").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    val want = graft.SparkEntry.queries("q160_ks_drift")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === want.toSeq)
    assert(got.head._1 > 20000L, "the planted shift must register on KS")
  }

  test("streaming CDC materializer: prev snapshot as initial state + change stream equals batch applyDelta") {
    import spark.implicits._
    val customer = graft.Queries.t(spark, "/root/testdata/sf0.001", "customer")
    val oldSnap = customer.filter(col("c_custkey") % 97 =!= 0)
    val newSnap = customer.filter(col("c_custkey") % 89 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 31 === 0, col("c_acctbal") + 1)
          .otherwise(col("c_acctbal")))
    val vals = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val delta = graft.ops.ChangeCapture
      .snapshotDelta(oldSnap, newSnap, Seq("c_custkey"), vals)
      .select(col("c_custkey").as("key"), col("change_type"),
        col("c_name").as("name"), col("c_nationkey").as("nationkey"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("mktsegment"))

    // two files -> two micro-batches: changes apply on top of SEEDED
    // state and on state written by an earlier batch
    val in = tmpDir("cdc-in")
    writeFile(in, "a.json",
      delta.filter(col("key") % 2 === 0).toJSON.collect().mkString("\n"))
    writeFile(in, "b.json",
      delta.filter(col("key") % 2 =!= 0).toJSON.collect().mkString("\n"))

    val prev = oldSnap.select(col("c_custkey").as("key"),
        col("c_name").as("name"), col("c_nationkey").as("nationkey"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("mktsegment"))
      .as[StreamingEtl.CdcRow]
    val stream = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1).json(in.toString)
      .as[StreamingEtl.CdcChange]
    val sq = StreamingEtl.streamingApplyDelta(stream, prev)
      .writeStream.format("memory").queryName("cdc_snap")
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()

    // materialized snapshot = untouched prev keys + emitted present rows
    val emitted = spark.table("cdc_snap")
    val got = prev.toDF()
      .join(emitted.select("key"), Seq("key"), "left_anti")
      .unionByName(emitted.filter(col("present"))
        .select("key", "name", "nationkey", "acctbal", "mktsegment"))
      .collect().map(_.toSeq).toSet
    val want = graft.ops.ChangeCapture
      .applyDelta(oldSnap,
        graft.ops.ChangeCapture.snapshotDelta(oldSnap, newSnap,
          Seq("c_custkey"), vals),
        Seq("c_custkey"), vals)
      .collect().map(_.toSeq).toSet
    assert(got === want)
    assert(got.nonEmpty)
    // deletions really emitted as markers, adds/changes as present rows
    assert(emitted.filter(!col("present")).count() > 0)
    assert(emitted.filter(col("present")).count() > 0)
  }

  test("corpusGate: stateless stream gate equals its own batch form; zero state operators") {
    import spark.implicits._
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType)))
    // held-out sketch over the grams of one benchmark doc
    val held = Seq("alpha beta gamma delta").toDF("text")
      .select(explode(expr(
        "transform(sequence(1, size(split(text, ' ')) - 2), " +
          "i -> concat_ws(' ', slice(split(text, ' '), i, 3)))")).as("gram"))
    val sketch = held
      .agg(graft.functions.SketchFunctions
        .bloomFilterAgg(xxhash64(col("gram")), 2L).as("bf"))
      .head().getAs[Array[Byte]](0)
    val rows =
      """{"doc_id":1,"text":"the quick brown fox jumps over dogs","lang":"fr","source":"s0"}
        |{"doc_id":2,"text":"x alpha beta gamma tail","lang":"fr","source":"s0"}
        |{"doc_id":3,"text":"spam spam spam spam spam spam spam spam spam ham","lang":"fr","source":"s0"}
        |{"doc_id":4,"text":"too short","lang":"fr","source":"s0"}
        |{"doc_id":5,"text":"a clean novel sentence of words","lang":"xx","source":"s0"}
        |{"doc_id":6,"text":null,"lang":"fr","source":"s0"}
        |{"doc_id":7,"text":"another clean novel sentence here","lang":"fr","source":"s0"}
        |""".stripMargin
    val in = tmpDir("gate-in")
    writeFile(in, "docs.json", rows)

    def gate(df: org.apache.spark.sql.DataFrame) =
      StreamingEtl.corpusGate(df, heldSketch = Some(sketch))

    val q = gate(StreamingEtl.jsonFileStream(spark, in.toString, docsSchema))
      .writeStream.format("memory").queryName("corpus_gate")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("corpus_gate")
        .collect().map(_.getLong(0)).sorted.toSeq
      // 1 & 7 pass; 2 contaminated (shares "alpha beta gamma"); 3 repetitious
      // (dup_tok_frac 0.8 > 0.75); 4 under min length; 5 unlisted lang; 6 null text
      assert(streamed === Seq(1L, 7L))
      // the SAME function on the batch frame is the parity oracle
      val batch = gate(spark.read.schema(docsSchema).json(in.toString))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(batch === streamed)
      // stateless: the gate spends none of the query's stateful budget
      assert(q.lastProgress.stateOperators.isEmpty,
        q.lastProgress.stateOperators.mkString(","))
    } finally q.stop()
  }

  test("corpusGate with trained-tokenizer denomination: stateless, equals batch, spends trained tokens") {
    import spark.implicits._
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val trainCorpus = Seq.fill(6)("newest").zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val merges = graft.ops.TextOps.bpeMerges(trainCorpus, nMerges = 2)
      .map(m => (m._2, m._3)) // all pairs tie at 6 -> pair-asc: (e,s), (e,w)
    val rows =
      """{"doc_id":1,"text":"newest newest newest newest","lang":"fr"}
        |{"doc_id":2,"text":"xy zq","lang":"fr"}
        |""".stripMargin
    val in = tmpDir("bpegate-in")
    writeFile(in, "docs.json", rows)

    def gate(df: org.apache.spark.sql.DataFrame) =
      StreamingEtl.corpusGate(df, minTokens = 5, merges = Some(merges))

    val q = gate(StreamingEtl.jsonFileStream(spark, in.toString, docsSchema))
      .writeStream.format("memory").queryName("bpe_gate")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("bpe_gate")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens"))
        .sortBy(_._1).toSeq
      // doc 1: "newest" = [n,ew,es,t] = 4 trained tokens x 4 words = 16
      // (4 whitespace tokens would FAIL minTokens=5 — the denominators
      // really differ); doc 2: 4 chars ("xy" 2 + "zq" 2) < 5 -> gated
      assert(streamed === Seq(1L -> 16L))
      val batch = gate(spark.read.schema(docsSchema).json(in.toString))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens"))
        .sortBy(_._1).toSeq
      assert(batch === streamed)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("runCrawlGate: streaming crawl gate equals batch q161's gate columns; zero state operators") {
    val stop = Seq("the", "a", "and", "of", "to")
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // real corpus split, shipped through the stream as raw markup
    val docs = graft.Queries.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).limit(200)
    val in = tmpDir("crawl-in")
    writeFile(in, "docs.json",
      docs.toJSON.collect().mkString("", "\n", "\n"))

    def gate(df: org.apache.spark.sql.DataFrame) =
      StreamingEtl.runCrawlGate(
        df.withColumn("raw_html",
          graft.ops.TextOps.syntheticHtml(col("doc_id"), col("text"))),
        stop)

    val q = gate(StreamingEtl.jsonFileStream(spark, in.toString, docsSchema))
      .writeStream.format("memory").queryName("crawl_gate")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("crawl_gate")
        .collect().map(_.toSeq).toSet
      // the SAME function on the batch frame: bit-equal, row for row
      val batch = gate(spark.read.schema(docsSchema).json(in.toString))
        .collect().map(_.toSeq).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty, "split too small: no docs survived the gate")
      // something must actually be gated or the fixture proves nothing
      assert(streamed.size < 200)
      // stateless: extraction + gates spend no stateful budget — the
      // digest keeper (dedupWithinWatermark) is an explicit opt-in
      assert(q.lastProgress.stateOperators.isEmpty,
        q.lastProgress.stateOperators.mkString(","))
    } finally q.stop()
  }
}
