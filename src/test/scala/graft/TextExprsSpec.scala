package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.rollingFingerprint
import graft.ops.TextOps.{FingerprintB, FingerprintK, FingerprintP}

/** Contract for the native [[graft.functions.RollingMinFingerprint]]:
  * identical values to the higher-order codepoint-array pipeline it
  * replaced (exact integer arithmetic — equality is exact, not
  * tolerance), matching edge semantics, SQL-name resolution.
  */
class TextExprsSpec extends SparkSpec {

  private lazy val docs =
    Queries.t(spark, "/root/testdata/sf0.001", "documents")

  test("native fingerprint equals the HOF codepoint pipeline on real docs") {
    val k = FingerprintK
    val pows = (0 until k).map { j =>
      var p = 1L
      (0 until (k - 1 - j)).foreach(_ => p = p * FingerprintB % FingerprintP)
      p
    }
    val terms = pows.zipWithIndex.map { case (pw, j) =>
      s"coalesce(try_element_at(codes, i + $j), 0L) * ${pw}L"
    }.mkString(" + ")
    val hof = docs
      .select(col("doc_id"),
        expr("transform(split(text, ''), c -> cast(ascii(c) as long))").as("codes"))
      .select(col("doc_id"), expr(
        s"""array_min(transform(
           |  sequence(1, greatest(size(codes) - ${k - 1}, 1)),
           |  i -> ($terms) % $FingerprintP))""".stripMargin).as("fp"))
    val native = docs.select(col("doc_id"),
      rollingFingerprint(col("text"), k, FingerprintB, FingerprintP).as("fp"))
    assert(hof.exceptAll(native).count() === 0)
    assert(native.exceptAll(hof).count() === 0)
    assert(native.count() > 0)
  }

  test("edge semantics: empty text, text shorter than k, null text") {
    import spark.implicits._
    val df = Seq(
      (0L, ""),        // codes = [0] -> fp = 0 (single zero-padded window)
      (1L, "ab"),      // shorter than k: one window, zero-padded tail
      (2L, "abcdefgh") // exactly k chars: one full window
    ).toDF("doc_id", "text")
      .unionByName(Seq((3L, Option.empty[String])).toDF("doc_id", "text"))
    val out = df.select(col("doc_id"),
      rollingFingerprint(col("text"), FingerprintK, FingerprintB, FingerprintP).as("fp"))
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 0L)
    // "ab": codes [97, 98], window sum = 97*B^7 + 98*B^6 mod P
    val b = FingerprintB
    val pow6 = { var p = 1L; (0 until 6).foreach(_ => p = p * b % FingerprintP); p }
    val pow7 = pow6 * b % FingerprintP
    assert(out(1).getLong(1) === (97L * pow7 + 98L * pow6) % FingerprintP)
    assert(!out(2).isNullAt(1))
    assert(out(3).isNullAt(1)) // null text -> null fingerprint
  }

  /** The exact pre-round-11 HOF per-row SimHash, kept as the parity
    * baseline (32 interpreted per-bit folds over md5 token hashes).
    */
  private def hofSimhash(textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val th = (t: org.apache.spark.sql.Column) =>
      conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long")
    val xs = transform(array_distinct(split(textCol, " ")), t => th(t))
    val fp = (0 until 32).map { j =>
      val vote = aggregate(xs, lit(0),
        (acc, x) => acc + when(shiftright(x, j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(vote >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    when(textCol.isNull, lit(null).cast("long")).otherwise(fp)
  }

  test("native simhash32 equals the HOF per-row form and the batch groupBy form") {
    import graft.functions.TextFunctions.simhash32
    val both = docs.select(col("doc_id"),
      simhash32(col("text")).as("native"), hofSimhash(col("text")).as("hof"))
    assert(both.filter(
      not(col("native") === col("hof")) ||
        col("native").isNull =!= col("hof").isNull).count() === 0)
    // batch groupBy simhash agrees doc-for-doc
    val batch = graft.ops.TextOps.simhash(docs)
    val joined = both.select(col("doc_id"), col("native"))
      .join(batch.withColumnRenamed("fp", "batch_fp"), "doc_id")
    assert(joined.filter(col("native") =!= col("batch_fp")).count() === 0)
    assert(joined.count() > 0)
  }

  test("simhash32 edges: trailing spaces kept as empty tokens, empty text, null") {
    import spark.implicits._
    import graft.functions.TextFunctions.simhash32
    val df = Seq(
      (0L, Option("a b ")), // trailing empty token counts (split limit -1)
      (1L, Option("a b")),
      (2L, Option("")),
      (3L, Option.empty[String])).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      simhash32(col("text")).as("native"), hofSimhash(col("text")).as("hof"))
      .orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2))
      if (!r.isNullAt(1)) assert(r.getLong(1) === r.getLong(2))
    }
    // trailing space must CHANGE the fingerprint vs the trimmed text
    // (the '' token votes) — guards against a trim-happy reimplementation
    assert(out(0).getLong(1) !== out(1).getLong(1))
    assert(out(3).isNullAt(1))
  }

  test("SQL name rolling_fingerprint resolves through GraftExtensions") {
    val viaSql = spark.sql("SELECT rolling_fingerprint('hello world') AS fp")
      .head().getLong(0)
    val viaCol = spark.range(1).select(
      rollingFingerprint(lit("hello world"), FingerprintK, FingerprintB, FingerprintP)
        .as("fp")).head().getLong(0)
    assert(viaSql === viaCol)
  }
}
