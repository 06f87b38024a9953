package graft

import org.apache.spark.sql.functions._

import graft.ops.QualityOps

/** Contracts for the corpus quality/safety operators (q73 PII scrub,
  * q74 repetition metrics); the DuckDB hash-compare is the cross-engine
  * gate, these pin the semantics on hand-checkable fixtures plus the
  * physical properties.
  */
class QualityOpsSpec extends SparkSpec {

  private lazy val implicits = spark.implicits
  import implicits._

  test("scrubPii: counts and redacts each PII class, fixed order") {
    val docs = Seq(
      (1L, "mail me at a.b+c@mail.example.com or x@y.co thanks"),
      (2L, "from 10.0.0.1 to 192.168.1.255 end"),
      (3L, "call 555-123-4567 now"),
      (4L, "clean text with no pii at all"))
      .toDF("doc_id", "text")
    val out = QualityOps.scrubPii(docs).orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 2L) // two emails
    assert(out(0).getString(4) === "mail me at <EMAIL> or <EMAIL> thanks")
    assert(out(1).getLong(2) === 2L) // two IPs
    assert(out(1).getString(4) === "from <IP> to <IP> end")
    assert(out(2).getLong(3) === 1L) // one phone
    assert(out(2).getString(4) === "call <PHONE> now")
    assert(out(3).getLong(1) === 0L && out(3).getLong(2) === 0L
      && out(3).getLong(3) === 0L)
    assert(out(3).getString(4) === "clean text with no pii at all")
  }

  test("scrubPii is total on null text") {
    val docs = Seq((1L, "a@b.co"), (2L, null)).toDF("doc_id", "text")
    val out = QualityOps.scrubPii(docs).orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 1L)
    assert(out(1).isNullAt(1) && out(1).isNullAt(4)) // null in, null out
  }

  test("scrubPii plan: pure narrow projection, zero shuffles") {
    val docs = Queries.t(spark, "/root/testdata/sf0.001", "documents")
    val plan = QualityOps.scrubPii(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("repetitionStats: hand-computed metrics and threshold flag") {
    val docs = Seq(
      (1L, "a a a b"),       // 4 toks, 2 distinct -> dup 0.5; bigrams a a ×2, a b -> 0.6667
      (2L, "u v w x y z"),   // all distinct -> dup 0; all bigrams unique -> 0.2
      (3L, "solo"))          // 1 token: no bigrams
      .toDF("doc_id", "text")
    val out = QualityOps
      .repetitionStats(docs, maxDupTokFrac = 0.4, maxTopBigramFrac = 0.5)
      .collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(1) === 4L)
    assert(byId(1L).getDouble(2) === 0.5)
    assert(byId(1L).getString(3) === "a a")
    assert(byId(1L).getDouble(4) === 0.6667)
    assert(byId(1L).getInt(5) === 0) // fails both thresholds
    assert(byId(2L).getDouble(2) === 0.0)
    assert(byId(2L).getDouble(4) === 0.2)
    assert(byId(2L).getInt(5) === 1)
    assert(byId(3L).getString(3) === "")
    assert(byId(3L).getDouble(4) === 0.0)
  }

  test("repetitionStats: top-bigram ties break to the lexicographically smallest") {
    val docs = Seq((1L, "c a b c a")).toDF("doc_id", "text")
    // bigrams: "c a" ×2, "a b", "b c" -> top is "c a" (count wins) ...
    val out = QualityOps.repetitionStats(docs).collect()
    assert(out(0).getString(3) === "c a")
    // all-distinct bigrams: "a b", "b c", "c d" all count 1 -> "a b" wins
    val tied = QualityOps
      .repetitionStats(Seq((1L, "a b c d")).toDF("doc_id", "text"))
      .collect()
    assert(tied(0).getString(3) === "a b")
    assert(tied(0).getDouble(4) === 0.3333)
  }

  test("repetitionStats is partition-independent") {
    val docs = Queries.t(spark, "/root/testdata/sf0.001", "documents")
    val a = QualityOps.repetitionStats(docs.repartition(1)).collect().toSeq
    val b = QualityOps.repetitionStats(docs.repartition(7)).collect().toSeq
    assert(a === b)
  }

  test("repetitionStats plan: aggregations are (doc_id, term)-keyed with partial combine") {
    val docs = Queries.t(spark, "/root/testdata/sf0.001", "documents")
    val plan = QualityOps.repetitionStats(docs)
      .queryExecution.executedPlan.toString
    // partial_count before the exchange = map-side combine on both legs
    assert(plan.contains("partial_count"), plan)
    // no join keyed on raw text/bigram: the only join is the doc_id stats join
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("freqQuality: hand-computed coverage on a tiny corpus") {
    val docs = Seq(
      (1L, "a a b c"),
      (2L, "a b x y"),
      (3L, "x y z z"))
      .toDF("doc_id", "text")
    // corpus counts: a=3, b=2, x=2, y=2, z=2, c=1
    // top-3 (cnt desc, tok asc tie-break): a(3), b(2), x(2)
    val out = QualityOps.freqQuality(docs, vocabSize = 3, minCommonFrac = 0.5)
      .collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // doc1: 4 toks, common a,a,b -> 3; sum_freq 3+3+2=8; mean 8/3 -> 2.6667
    assert(out(0).getLong(1) === 4L && out(0).getLong(2) === 3L)
    assert(out(0).getDouble(3) === 0.75)
    assert(out(0).getDouble(4) === 2.6667)
    assert(out(0).getInt(5) === 1)
    // doc3: only x in vocab -> 1/4 coverage, mean 2.0, dropped
    assert(out(2).getLong(2) === 1L)
    assert(out(2).getDouble(3) === 0.25)
    assert(out(2).getDouble(4) === 2.0)
    assert(out(2).getInt(5) === 0)
  }

  test("freqQuality is partition-independent") {
    val docs = Queries.t(spark, "/root/testdata/sf0.001", "documents")
    val a = QualityOps.freqQuality(docs.repartition(1)).collect().toSeq
    val b = QualityOps.freqQuality(docs.repartition(7)).collect().toSeq
    assert(a === b)
  }

  test("freqQuality plan: vocabulary broadcast to the probe, aggs partial-combined") {
    val docs = Queries.t(spark, "/root/testdata/sf0.001", "documents")
    val df = QualityOps.freqQuality(docs)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("compressionRatio: repetitive text compresses far below prose") {
    val prose = "The quarterly report outlines seventeen distinct findings " +
      "about migratory patterns, each supported by independent field notes " +
      "gathered across four seasons and nine observation sites in varied terrain."
    val spam = ("buy now " * 60).trim
    val docs = Seq((1L, prose), (2L, spam)).toDF("doc_id", "text")
    val out = QualityOps.compressionRatio(docs).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val proseRatio = byId(1L).getAs[Double]("ratio")
    val spamRatio = byId(2L).getAs[Double]("ratio")
    assert(proseRatio > 0.4, s"prose ratio $proseRatio")
    assert(spamRatio < 0.15, s"spam ratio $spamRatio")
    assert(spamRatio < proseRatio / 2)
    // keep flag applies the literal threshold
    assert(byId(1L).getAs[Int]("keep") === 1)
    assert(byId(2L).getAs[Int]("keep") === 0)
    // n_bytes is the UTF-8 length
    assert(byId(1L).getAs[Long]("n_bytes") ===
      prose.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)
  }

  test("compressionRatio is deterministic across partitionings") {
    val docs = Queries.t(spark, "/root/testdata/sf0.001", "documents")
    val a = QualityOps.compressionRatio(docs).collect().toSeq
    val b = QualityOps.compressionRatio(docs.repartition(11)).collect().toSeq
    assert(a === b)
    assert(a.size > 100)
    // ratios live in (0, ~1]: deflate never inflates text this long, and
    // nothing collapses to zero bytes
    assert(a.forall { r =>
      val ratio = r.getAs[Double]("ratio"); ratio > 0.0 && ratio <= 1.2
    })
  }

  test("compressionRatio is total on null text and null doc_id") {
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "some ordinary text"),
      (java.lang.Long.valueOf(2L), null),
      (null.asInstanceOf[java.lang.Long], "orphan row"))
      .toDF("doc_id", "text")
    val out = QualityOps.compressionRatio(docs).collect()
    assert(out.length === 3)
    // null text behaves as empty input: 0 raw bytes, tiny deflate block —
    // and keep must be 0 (the degenerate doc must NOT pass the quality
    // gate on its sky-high header-bytes-over-nothing ratio)
    val nullText = out.find(r => !r.isNullAt(0) && r.getAs[Long]("doc_id") == 2L).get
    assert(nullText.getAs[Long]("n_bytes") === 0L)
    assert(nullText.getAs[Long]("n_deflate") > 0L)
    assert(nullText.getAs[Int]("keep") === 0)
  }

  test("compressionRatio: ratio, n_bytes and keep equal a driver-side Deflater recompute") {
    val rnd = new scala.util.Random(81)
    // 150k printable chars deflate to more than the operator's 64 KiB buffer
    val noise = Iterator.continually(rnd.nextPrintableChar()).take(150000).mkString
    val texts: Seq[String] = Seq("", null, "a", "naïve café — ünïcödé ✓", noise,
      ("buy now " * 500).trim) ++
      (1 to 14).map(i => (1 to i * 7).map(j => s"w${(i * j) % 23}").mkString(" "))
    def expected(text: String): (Long, Double, Int) = {
      val bytes = Option(text).fold(Array.emptyByteArray)(
        _.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val d = new java.util.zip.Deflater(6, /* nowrap = */ true)
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](4096)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end()
      val ratio = BigDecimal(n.toDouble / math.max(bytes.length, 1).toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (bytes.length.toLong, ratio, if (ratio >= 0.1 && bytes.length > 0) 1 else 0)
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = QualityOps.compressionRatio(docs).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bytes"), r.getAs[Double]("ratio"), r.getAs[Int]("keep")))
    }.toMap
    val want = texts.zipWithIndex.map { case (t, i) => i.toLong -> expected(t) }.toMap
    assert(got === want)
    assert(want.values.map(_._3).toSet === Set(0, 1), "keep never varies: vacuous")
  }

  test("compressionRatio plan: map-side only, no shuffle before the output sort") {
    val docs = Queries.t(spark, "/root/testdata/sf0.001", "documents")
    val df = QualityOps.compressionRatio(docs)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the only Exchange is the range partitioning for the final orderBy
    val exchanges = "Exchange [a-z]+".r.findAllIn(plan).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
  }


  test("lmSurprisal: corpus-like docs score low, outliers high; exact-integer determinism") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // docs 0-3 share a formulaic pattern; doc 4 is one-off noise; doc 5 short
    val docs = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat sat on the rug"),
      (2L, "the dog sat on the mat"),
      (3L, "the cat sat on the mat"),
      (4L, "zq xv qp wk jj vn"),
      (5L, "one")
    ).toDF("doc_id", "text")
    val out = graft.ops.QualityOps.lmSurprisal(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // every bigram of the noise doc is unique; the formulaic docs share theirs
    val formulaic = Seq(0L, 1L, 2L, 3L).map(out(_)._3)
    assert(formulaic.forall(_ < out(4L)._3),
      s"corpus-like docs ${formulaic} must undercut the outlier ${out(4L)._3}")
    // a doc below the bigram width carries no evidence: zero score, kept
    assert(out(5L) === ((0L, 0L, 0.0)))
    // mean is the exact integer ratio, not a float-summed average
    out.values.foreach { case (n, sq, m) =>
      if (n > 0) assert(m === BigDecimal(sq.toDouble / (n * 10000.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // partition independence: the quantize-then-sum discipline makes the
    // aggregate order-free
    val a = graft.ops.QualityOps.lmSurprisal(docs.repartition(1)).collect().toSeq
    val b = graft.ops.QualityOps.lmSurprisal(docs.repartition(7)).collect().toSeq
    assert(a === b)
  }

  test("importanceWeights: target-like docs outscore off-target; hand-checked arithmetic") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (0L, "en", "alpha beta alpha beta"),   // pure target phrasing
      (1L, "en", "alpha beta gamma delta"),
      (2L, "xx", "omega psi omega psi"),     // pure off-target phrasing
      (3L, "xx", "alpha beta omega psi"),    // mixed
      (4L, "xx", "")                         // one empty-string token
    ).toDF("doc_id", "lang", "text")
    val out = graft.ops.QualityOps.importanceWeights(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toMap
    // target-heavy docs rank above mixed above off-target
    assert(out(0L)._3 > out(3L)._3 && out(3L)._3 > out(2L)._3, out.toString)
    assert(out(0L)._4 === 1 && out(2L)._4 === 0)
    // hand-check: raw corpus = 17 token occurrences over vocab 7 (''
    // counts), target = 8 occurrences in the en docs; so the constant
    // term is ln(17+7) - ln(8+7), and e.g. 'alpha' has ct=3, cr=4
    def q(ct: Long, cr: Long): Long = math.floor((math.log(ct + 1.0) - math.log(cr + 1.0) +
      math.log(24.0) - math.log(15.0)) * 10000.0 + 0.5).toLong
    val qAlpha = q(3, 4)
    // doc 1 = alpha beta gamma delta: beta ct=3,cr=4; gamma/delta ct=1,cr=1
    assert(out(1L)._2 === qAlpha + q(3, 4) + q(1, 1) + q(1, 1))
    // log_weight is the floor(x+0.5) 4dp mean of exact integers
    out.values.foreach { case (n, sq, w, _) =>
      if (n > 0) assert(w === math.floor(sq.toDouble / n + 0.5) / 10000.0)
    }
  }

  test("importanceWeights is partition-independent and total on null text") {
    import spark.implicits._
    val docs = Seq(
      (0L, "en", "alpha beta"), (1L, "xx", "omega"), (2L, "xx", null: String))
      .toDF("doc_id", "lang", "text")
    val a = graft.ops.QualityOps.importanceWeights(docs.repartition(1)).collect().toSeq
    val b = graft.ops.QualityOps.importanceWeights(docs.repartition(3)).collect().toSeq
    assert(a === b)
    // the null-text doc surfaces with zero evidence, kept
    val nullRow = a.find(_.getLong(0) == 2L).get
    assert(nullRow.getLong(1) === 0L && nullRow.getLong(2) === 0L &&
      nullRow.getDouble(3) === 0.0 && nullRow.getInt(4) === 1)
  }

  test("importanceWeights plan: target model broadcast, totals 1-row broadcast, doc_id-keyed final agg") {
    val docs = Queries.t(spark, "/root/testdata/sf0.001", "documents")
    val plan = graft.ops.QualityOps.importanceWeights(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("quality ensemble: bit-equal to the single-window Borda fusion; quality orders as designed") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = QualityOps.qualityEnsemble(docs).collect().map(_.toSeq).toSeq

    // independent single-window reference (test-only: global windows are
    // exactly what the production op must NOT use)
    val sig = docs
      .filter(col("text").isNotNull && col("doc_id").isNotNull)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        size(array_distinct(col("toks"))).cast("long").as("n_dist"),
        size(expr("filter(toks, x -> x IN ('the', 'a', 'and', 'of', 'to'))"))
          .cast("long").as("n_stop"))
      .filter(col("n_tok") > 0)
      .withColumn("ttr", col("n_dist") / col("n_tok"))
      .withColumn("stop_ratio", col("n_stop") / col("n_tok"))
    val want = sig
      .withColumn("r_len",
        row_number().over(Window.orderBy(desc("n_tok"), asc("doc_id"))).cast("long"))
      .withColumn("r_ttr",
        row_number().over(Window.orderBy(desc("ttr"), asc("doc_id"))).cast("long"))
      .withColumn("r_stop",
        row_number().over(Window.orderBy(asc("stop_ratio"), asc("doc_id"))).cast("long"))
      .withColumn("combined", col("r_len") + col("r_ttr") + col("r_stop"))
      .orderBy(asc("combined"), asc("doc_id")).limit(100)
      .select("doc_id", "r_len", "r_ttr", "r_stop", "combined")
      .collect().map(_.toSeq).toSeq
    assert(got === want)
    assert(got.nonEmpty)

    // semantics: a long, diverse, stopword-free doc beats a short,
    // repetitive, stopword-glued one on every leg
    val tiny = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "the the the a a of"))
      .toDF("doc_id", "text")
    val r = QualityOps.qualityEnsemble(tiny, topN = 2).collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(r.head.getAs[Long]("combined") === 3L, "doc 1 must rank first on every signal")
  }

  // ---------------------------------------------- k-anonymity (q152)

  test("k-anonymity: risky combos flagged per QI set, safe groups silent") {
    import spark.implicits._
    // nation 1: 30 rows across 2 segments (safe alone); nation 2: 3 rows
    // (risky alone AND in combination)
    val rows =
      (1 to 20).map(i => (i.toLong, 1, "SEG_A")) ++
        (21 to 30).map(i => (i.toLong, 1, "SEG_B")) ++
        (31 to 33).map(i => (i.toLong, 2, "SEG_A"))
    val cust = rows.toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val out = graft.ops.QualityOps.kAnonymityAudit(cust, k = 25L)
      .collect()
      .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2))) -> r.getLong(3))
      .toMap
    assert(out === Map(
      // combos below 25: (1, SEG_A)=20, (1, SEG_B)=10, (2, SEG_A)=3
      ("nation+segment", Some(1), Some("SEG_A")) -> 20L,
      ("nation+segment", Some(1), Some("SEG_B")) -> 10L,
      ("nation+segment", Some(2), Some("SEG_A")) -> 3L,
      // nation alone: 2 has 3 rows (risky), 1 has 30 (safe, silent)
      ("nation", Some(2), None) -> 3L,
      // segment alone: SEG_A has 23 (risky), SEG_B 10 (risky)
      ("segment", None, Some("SEG_A")) -> 23L,
      ("segment", None, Some("SEG_B")) -> 10L))
  }

  test("fd audit: a planted true FD reads zero violations, a planted violation is counted") {
    import spark.implicits._
    // keys 1..4 unique -> orderkey->custkey holds; custkey 10 maps to
    // two priorities -> violated with max_rhs 2
    val orders = Seq(
      (1L, 10L, "P1", "1997-01-01", "O"),
      (2L, 10L, "P2", "1997-01-02", "O"),
      (3L, 11L, "P1", "1997-01-03", "F"),
      (4L, 12L, "P1", "1997-01-03", "F"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority", "d", "o_orderstatus")
      .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
    val out = graft.ops.QualityOps.fdAudit(orders)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("o_orderkey->o_custkey") === ((4L, 0L, 1L)))
    assert(out("o_custkey->o_orderpriority") === ((3L, 1L, 2L)))
    // 1997-01-03 has one status F twice -> no violation; others single
    assert(out("o_orderdate->o_orderstatus") === ((3L, 0L, 1L)))
  }

  test("k-anonymity: every flagged group is genuinely below k on the real customers") {
    val cust = Queries.t(spark, "/root/testdata/sf0.001", "customer")
    val out = graft.ops.QualityOps.kAnonymityAudit(cust).collect()
    // the audit is side-effect-free on the session: no leaked temp view
    // (the r15 form registered a session-global __kanon_customer)
    assert(!spark.catalog.tableExists("__kanon_customer"))
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(3) < 25L))
    // cross-check one flagged combo against a direct count
    val r = out.find(_.getString(0) == "nation+segment").get
    val direct = cust
      .filter(col("c_nationkey") === r.getInt(1) &&
        col("c_mktsegment") === r.getString(2))
      .count()
    assert(direct === r.getLong(3))
  }
}
