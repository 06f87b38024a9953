package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ETL semantics per FIXTURES.md §A, mirroring the reference behaviors at
  * /root/reference/airflow/include/loan_spark_etl.py (cited per test).
  */
class LoanEtlSpec extends SparkSpec {

  private val header =
    "loan_id,customer_id,created_at,amount,interest_rate,tenure_months,status,product_type,branch,credit_score_band"

  /** The fixture dir's CSV, read through the dir path: a glob path makes
    * Spark log a metadata-dir warning with a stack trace.
    */
  private def readCsv(dir: java.nio.file.Path) =
    spark.read.option("header", true).option("inferSchema", true).csv(dir.toString)

  /** The fixture as a glob path over the dir selects it, warning and all. */
  private def readGlob(dir: java.nio.file.Path) =
    spark.read.option("header", true).option("inferSchema", true)
      .csv(s"$dir/*.csv")

  test("clean input: pipeline writes cleaned + aggregates with expected shapes") {
    val in = tmpDir("loan_clean_in"); val out = tmpDir("loan_clean_out")
    writeFile(in, "loan_clean.csv",
      s"""$header
         |L1,C1,2024-01-15 10:30:00,1000.5,12.5,12,APPROVED,PERSONAL,KTM,A
         |L2,C2,2024-01-16 11:00:00,2000.0,11.0,24,APPROVED,HOME,PKR,B
         |L3,C3,2024-01-17 12:00:00,1500.25,10.0,36,PENDING,PERSONAL,KTM,A
         |""".stripMargin)
    val res = Pipeline.run(spark, in.toString, out.toString).get
    assert(res.rowCount === 3)

    val cleaned = spark.read.parquet(res.cleanedPath)
    // reference keeps created_at and adds created_date/created_time
    // (loan_spark_etl.py:81-86); amount_num is aggregate-local (:106)
    assert(cleaned.columns.toSet ===
      (LoanSchema.columns.toSet ++ Set("created_date", "created_time")))
    val r = cleaned.filter(col("loan_id") === "L1").collect()(0)
    assert(r.getAs[java.sql.Date]("created_date").toString === "2024-01-15")
    assert(r.getAs[String]("created_time") === "10:30:00")

    val agg = spark.read.parquet(res.aggregatesPath)
    assert(agg.columns.toSeq ===
      Seq("status", "product_type", "branch", "loan_count", "total_amount"))
    val rows = agg.orderBy("status", "product_type", "branch").collect()
    assert(rows.length === 3)
    // ordered by group keys (loan_spark_etl.py:129)
    assert(rows.map(_.getAs[String]("status")).toSeq ===
      Seq("APPROVED", "APPROVED", "PENDING"))
    val approvedPersonal = rows.find(r =>
      r.getAs[String]("status") == "APPROVED" &&
        r.getAs[String]("product_type") == "PERSONAL").get
    assert(approvedPersonal.getAs[Long]("loan_count") === 1L)
    assert(approvedPersonal.getAs[Double]("total_amount") === 1000.5)
  }

  test("null imputation: each column filled with its mode (loan_spark_etl.py:48-68)") {
    val in = tmpDir("loan_nulls_in")
    writeFile(in, "loan_nulls.csv",
      s"""$header
         |L1,C1,2024-01-15 10:30:00,1000.0,12.5,12,APPROVED,PERSONAL,KTM,A
         |L2,C1,2024-01-15 10:30:00,1000.0,12.5,12,APPROVED,PERSONAL,KTM,A
         |L3,,2024-01-15 10:30:00,,,,,,,
         |""".stripMargin)
    val df = readCsv(in)
    for (imputed <- Seq(Impute.singlePass(df), Impute.faithful(df))) {
      val r = imputed.filter(col("loan_id") === "L3").collect()(0)
      assert(r.getAs[String]("customer_id") === "C1")
      assert(r.getAs[Double]("amount") === 1000.0)
      assert(r.getAs[String]("status") === "APPROVED")
      assert(r.getAs[String]("branch") === "KTM")
      // no nulls remain in any column that had a non-null value
      val nullCounts = imputed.select(imputed.columns.map(c =>
        sum(when(col(c).isNull, 1).otherwise(0)).as(c)).toIndexedSeq: _*).collect()(0)
      imputed.columns.foreach(c => assert(nullCounts.getAs[Long](c) === 0L, c))
    }
  }

  test("mode tie-break is deterministic: count desc then value asc (SURVEY §7.4)") {
    val in = tmpDir("loan_tie_in")
    // B and A both appear twice in credit_score_band; null must become A
    writeFile(in, "loan_mode_tie.csv",
      s"""$header
         |L1,C1,2024-01-15 10:30:00,1,1,1,S,P,BR,B
         |L2,C2,2024-01-15 10:30:00,1,1,1,S,P,BR,B
         |L3,C3,2024-01-15 10:30:00,1,1,1,S,P,BR,A
         |L4,C4,2024-01-15 10:30:00,1,1,1,S,P,BR,A
         |L5,C5,2024-01-15 10:30:00,1,1,1,S,P,BR,
         |""".stripMargin)
    val df = readCsv(in)
    for (imputed <- Seq(Impute.singlePass(df), Impute.faithful(df))) {
      val r = imputed.filter(col("loan_id") === "L5").collect()(0)
      assert(r.getAs[String]("credit_score_band") === "A")
    }
  }

  test("numeric mode tie-break uses native order, not string order (ADVICE r1)") {
    val in = tmpDir("loan_numtie_in")
    // amount: 9.0 ×2 and 10.0 ×2 tied; native asc ⇒ 9.0 wins ("10.0" < "9.0"
    // lexicographically would wrongly pick 10.0 in a string-ordered melt)
    writeFile(in, "loan_num_tie.csv",
      s"""$header
         |L1,C1,2024-01-15 10:30:00,9.0,1,1,S,P,BR,A
         |L2,C2,2024-01-15 10:30:00,9.0,1,1,S,P,BR,A
         |L3,C3,2024-01-15 10:30:00,10.0,1,1,S,P,BR,A
         |L4,C4,2024-01-15 10:30:00,10.0,1,1,S,P,BR,A
         |L5,C5,2024-01-15 10:30:00,,1,1,S,P,BR,A
         |""".stripMargin)
    val df = readCsv(in)
    for (imputed <- Seq(Impute.singlePass(df), Impute.faithful(df))) {
      val r = imputed.filter(col("loan_id") === "L5").collect()(0)
      assert(r.getAs[Double]("amount") === 9.0)
    }
  }

  test("all-null column is left as-is (loan_spark_etl.py:65-67)") {
    val in = tmpDir("loan_allnull_in")
    writeFile(in, "loan_all_null_col.csv",
      s"""$header
         |L1,C1,2024-01-15 10:30:00,1000.0,12.5,12,APPROVED,,KTM,A
         |L2,C2,2024-01-16 11:00:00,2000.0,11.0,24,APPROVED,,PKR,B
         |""".stripMargin)
    val df = readCsv(in)
    for (imputed <- Seq(Impute.singlePass(df), Impute.faithful(df))) {
      assert(imputed.filter(col("product_type").isNull).count() === 2)
    }
  }

  test("missing group columns → global single-row aggregate (loan_spark_etl.py:115-120)") {
    val in = tmpDir("loan_missing_in")
    writeFile(in, "loan_missing_cols.csv",
      """loan_id,amount
        |L1,100.0
        |L2,200.0
        |""".stripMargin)
    val df = readCsv(in)
    val agg = Aggregates.build(df).collect()
    assert(agg.length === 1)
    assert(agg(0).getAs[Long]("loan_count") === 2L)
    assert(agg(0).getAs[Double]("total_amount") === 300.0)
  }

  test("subset of group columns groups on what exists (loan_spark_etl.py:110-113)") {
    val in = tmpDir("loan_subset_in")
    writeFile(in, "loan_subset.csv",
      """loan_id,amount,status
        |L1,100.0,APPROVED
        |L2,200.0,APPROVED
        |L3,50.0,REJECTED
        |""".stripMargin)
    val df = readCsv(in)
    val agg = Aggregates.build(df)
    assert(agg.columns.toSeq === Seq("status", "loan_count", "total_amount"))
    val rows = agg.collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ===
      Seq(("APPROVED", 2L, 300.0), ("REJECTED", 1L, 50.0)))
  }

  test("bad dates → null created_date/created_time (LEGACY parser, loan_spark_etl.py:42,80)") {
    val in = tmpDir("loan_baddates_in")
    writeFile(in, "loan_bad_dates.csv",
      s"""$header
         |L1,C1,not-a-date,1,1,1,S,P,BR,A
         |L2,C2,2024-01-15 10:30:00,1,1,1,S,P,BR,A
         |""".stripMargin)
    val df = readCsv(in)
    val out = Dates.transform(df)
    val bad = out.filter(col("loan_id") === "L1").collect()(0)
    assert(bad.isNullAt(bad.fieldIndex("created_date")))
    assert(bad.isNullAt(bad.fieldIndex("created_time")))
    val good = out.filter(col("loan_id") === "L2").collect()(0)
    assert(good.getAs[java.sql.Date]("created_date").toString === "2024-01-15")
  }

  test("missing created_at column passes through (loan_spark_etl.py:77)") {
    val in = tmpDir("loan_nodate_in")
    writeFile(in, "loan_nodate.csv", "loan_id,amount\nL1,100.0\n")
    val df = readCsv(in)
    val out = Dates.transform(df)
    assert(out.columns.toSeq === df.columns.toSeq)
  }

  test("amount inferred as string still aggregates via cast (loan_spark_etl.py:106)") {
    val in = tmpDir("loan_amountstr_in")
    writeFile(in, "loan_amount_as_string.csv",
      """loan_id,amount,status
        |L1,N/A,APPROVED
        |L2,250.5,APPROVED
        |""".stripMargin)
    val df = readCsv(in)
    assert(df.schema("amount").dataType === StringType)
    val rows = Aggregates.build(df).collect()
    assert(rows(0).getAs[Long]("loan_count") === 2L)
    assert(rows(0).getAs[Double]("total_amount") === 250.5) // "N/A" → null, skipped by sum
  }

  test("empty input short-circuits (loan_spark_etl.py:157-160)") {
    val in = tmpDir("loan_empty_in"); val out = tmpDir("loan_empty_out")
    writeFile(in, "empty.csv", "\n")
    assert(Pipeline.run(spark, in.toString, out.toString) === None)
  }

  test("multi-file glob unions by position (loan_spark_etl.py:152-155)") {
    val in = tmpDir("loan_multi_in"); val out = tmpDir("loan_multi_out")
    writeFile(in, "loan_a.csv",
      s"$header\nL1,C1,2024-01-15 10:30:00,100.0,1,1,APPROVED,PERSONAL,KTM,A\n")
    writeFile(in, "loan_b.csv",
      s"$header\nL2,C2,2024-01-16 11:00:00,200.0,1,1,APPROVED,PERSONAL,KTM,A\n")
    val res = Pipeline.run(spark, in.toString, out.toString).get
    assert(res.rowCount === 2)
    val agg = spark.read.parquet(res.aggregatesPath).collect()
    assert(agg(0).getAs[Long]("loan_count") === 2L)
    assert(agg(0).getAs[Double]("total_amount") === 300.0)
  }

  test("ragged rows: short and long lines survive the PERMISSIVE CSV read") {
    val in = tmpDir("loan_ragged_in"); val out = tmpDir("loan_ragged_out")
    writeFile(in, "loan_ragged.csv",
      s"""$header
         |L1,C1,2024-01-15 10:30:00,100.0,1,1,APPROVED,PERSONAL,KTM,A
         |L2,C2
         |L3,C3,2024-01-17 09:00:00,300.0,1,1,APPROVED,PERSONAL,KTM,A,surplus,extra
         |""".stripMargin)
    // Spark's PERMISSIVE default pads short rows with nulls and drops
    // surplus fields; the pipeline must impute and aggregate through it
    val res = Pipeline.run(spark, in.toString, out.toString).get
    assert(res.rowCount === 3)
    val cleaned = spark.read.parquet(res.cleanedPath)
    assert(cleaned.count() === 3)
    // the short row's null status was imputed with the mode
    assert(cleaned.filter(col("status") === "APPROVED").count() === 3)
  }

  test("top-k summary orders by loan_count desc (loan_spark_etl.py:192-218)") {
    val in = tmpDir("loan_topk_in"); val out = tmpDir("loan_topk_out")
    writeFile(in, "loan_topk.csv",
      s"""$header
         |L1,C1,2024-01-15 10:30:00,100.0,1,1,APPROVED,PERSONAL,KTM,A
         |L2,C2,2024-01-15 10:30:00,100.0,1,1,APPROVED,PERSONAL,KTM,A
         |L3,C3,2024-01-15 10:30:00,100.0,1,1,PENDING,HOME,PKR,B
         |""".stripMargin)
    val res = Pipeline.run(spark, in.toString, out.toString).get
    val summary = Aggregates.latestSummary(spark, res.aggregatesPath, limit = 10)
    assert(summary.length === 2)
    assert(summary.head("loan_count") === 2L)
    assert(summary.head("status") === "APPROVED")
    // nonexistent dir → empty, not an exception (loan_spark_etl.py:202-204,216)
    assert(Aggregates.latestSummary(spark, "/nonexistent/dir") === Seq.empty)
  }

  test("pipeline output equals single-pass imputation + date split, row for row") {
    val in = tmpDir("loan_ident_in"); val out = tmpDir("loan_ident_out")
    // nulls in a string, an int, a double, a group key (status) and amount;
    // loan_id and branch are null-free, credit_score_band is all-null
    writeFile(in, "loan_a.csv",
      s"""$header
         |L1,C1,2024-01-15 10:30:00,100.5,12.5,12,APPROVED,PERSONAL,KTM,
         |L2,,2024-01-16 11:00:00,,11.0,,APPROVED,HOME,PKR,
         |L3,C1,2024-01-17 12:00:00,100.5,,24,,PERSONAL,KTM,
         |L4,C2,not-a-date,300.0,11.0,24,PENDING,,BRT,
         |""".stripMargin)
    writeFile(in, "loan_b.csv",
      s"""$header
         |L5,C2,2024-02-01 09:15:00,,10.0,36,,AUTO,KTM,
         |L6,,2024-02-02 08:00:00,250.0,,,REJECTED,HOME,PKR,
         |L7,C3,,250.0,10.0,12,APPROVED,AUTO,BRT,
         |""".stripMargin)
    writeFile(in, "loan_c.csv", s"$header\n")
    // small splits: several scan partitions, so coalesce(1) must keep
    // their order
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "256")
    try {
      val res = Pipeline.run(spark, in.toString, out.toString).get
      val read = readGlob(in)
      assert(read.rdd.getNumPartitions > 1)
      val expected = Dates.transform(Impute.singlePass(read))
      assert(res.rowCount === 7)

      val cleaned = spark.read.parquet(res.cleanedPath)
      assert(cleaned.schema.map(f => f.name -> f.dataType) ===
        expected.schema.map(f => f.name -> f.dataType))
      assert(cleaned.collect().toSeq === expected.coalesce(1).collect().toSeq)
      assert(cleaned.filter(col("credit_score_band").isNotNull).count() === 0)

      val agg = spark.read.parquet(res.aggregatesPath)
      assert(agg.collect().toSeq === Aggregates.build(expected).collect().toSeq)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("pipeline releases its cache on Some, None and failure") {
    def assertReleased(what: String): Unit = {
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, s"$what: RDD left persisted")
      assert(spark.sharedState.cacheManager.isEmpty, s"$what: CacheManager not empty")
    }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    assertReleased("before")

    val in = tmpDir("loan_release_in"); val out = tmpDir("loan_release_out")
    writeFile(in, "loan_a.csv",
      s"$header\nL1,,2024-01-15 10:30:00,100.0,1,1,APPROVED,PERSONAL,KTM,A\n")
    assert(Pipeline.run(spark, in.toString, out.toString).isDefined)
    assertReleased("Some")

    val empty = tmpDir("loan_release_empty")
    writeFile(empty, "loan_h.csv", s"$header\n")
    assert(Pipeline.run(spark, empty.toString, out.toString) === None)
    assertReleased("None")

    // the output dir is a plain file: the cleaned write cannot create it
    val blocked = writeFile(out, "blocked", "not a dir")
    intercept[Exception] {
      Pipeline.run(spark, in.toString, blocked.toString)
    }
    assertReleased("failure")
  }

  test("pipeline reads the glob's files only: no in-flight, .crc or non-matching file") {
    val in = tmpDir("loan_files_in"); val out = tmpDir("loan_files_out")
    // written through Hadoop's local filesystem, which adds .crc siblings
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def put(name: String, rows: String*): Unit = {
      val o = fs.create(new org.apache.hadoop.fs.Path(in.toString, name))
      try o.write((header +: rows).mkString("", "\n", "\n").getBytes("UTF-8"))
      finally o.close()
    }
    put("loan_a.csv", "L1,C1,2024-01-15 10:30:00,100.0,1,1,APPROVED,PERSONAL,KTM,A")
    put("loan_b.csv", "L2,C2,2024-01-16 11:00:00,200.0,1,1,PENDING,HOME,PKR,B")
    put("loan_c.txt", "X1,C9,2024-01-16 11:00:00,900.0,1,1,CLOSED,GOLD,BRT,D")
    // FileIngest's publish name for a file still being written
    put(".loan_x.csv.inprogress-t", "X2,C9,2024-01-16 11:00:00,900.0,1,1,CLOSED,GOLD,BRT,D")
    assert(java.nio.file.Files.exists(in.resolve(".loan_a.csv.crc")))

    val res = Pipeline.run(spark, in.toString, out.toString).get
    val viaGlob = readGlob(in)
    assert(res.rowCount === viaGlob.count())
    val ids = spark.read.parquet(res.cleanedPath).select("loan_id").collect().map(_.getString(0))
    assert(ids.sorted.toSeq === Seq("L1", "L2"))
    assert(ids.toSet === viaGlob.select("loan_id").collect().map(_.getString(0)).toSet)
  }
}
