package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions.vecDot

/** Contract for the native [[graft.functions.VecDot]] expression: bit-
  * identical to the `aggregate(zip_with(...))` higher-order form it
  * replaced (the DuckDB oracles and streaming/batch parity depend on
  * that), same NULL semantics, codegen and interpreted paths agree, and
  * the SQL name resolves via [[GraftExtensions]].
  */
class VectorExprsSpec extends SparkSpec {

  /** The exact pre-round-11 higher-order dot, kept as the parity baseline. */
  private def hofDot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  private def floatPairsDf(n: Int, dim: Int) = {
    val rnd = new scala.util.Random(4242)
    val rows = (0 until n).map { _ =>
      Row(
        Array.fill(dim)(rnd.nextFloat() * 2f - 1f).toSeq,
        Array.fill(dim)(rnd.nextFloat() * 2f - 1f).toSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(
        StructField("a", ArrayType(FloatType)),
        StructField("b", ArrayType(FloatType)))))
  }

  test("vec_dot is bit-identical to the aggregate/zip_with fold on float arrays") {
    val df = floatPairsDf(500, 64)
    val both = df.select(
      vecDot(col("a"), col("b")).as("native"),
      hofDot(col("a"), col("b")).as("hof"))
    // exact bitwise double equality, not tolerance: same IEEE fold order
    assert(both.filter(
      not(col("native") === col("hof")) ||
        col("native").isNull =!= col("hof").isNull).count() === 0)
    assert(both.filter(col("native").isNull).count() === 0)
  }

  test("vec_dot matches on mixed float-array x double-literal-array (hyperplane shape)") {
    val df = floatPairsDf(100, 16)
    val w = array((0 until 16).map(i => lit((i * 37 % 2001 - 1000) / 1000.0)): _*)
    val both = df.select(
      vecDot(col("a"), w).as("native"),
      hofDot(col("a"), w).as("hof"))
    assert(both.filter(not(col("native") === col("hof"))).count() === 0)
  }

  test("vec_dot NULL semantics: null array, null element, length mismatch, empty") {
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType)),
      StructField("b", ArrayType(FloatType))))
    val rows = Seq(
      Row(null, Seq(1f, 2f)),                 // null array -> NULL
      Row(Seq(1f, 2f), null),                 // null array -> NULL
      Row(Seq(1f, null, 3f), Seq(1f, 2f, 3f)), // null element -> NULL
      Row(Seq(1f, 2f, 3f), Seq(1f, 2f)),      // length mismatch -> NULL
      Row(Seq.empty[Float], Seq.empty[Float]), // empty -> 0.0
      Row(Seq(2f, 3f), Seq(4f, 5f)))          // 23.0
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r.get(0), r.get(1))), 1), schema)
    val out = df.select(
      vecDot(col("a"), col("b")).as("native"),
      hofDot(col("a"), col("b")).as("hof")).collect()
    val expected = Seq(None, None, None, None, Some(0.0), Some(23.0))
    out.zip(expected).foreach { case (r, e) =>
      assert(Option(r.get(0)).map(_.asInstanceOf[Double]) === e)
      assert(Option(r.get(1)).map(_.asInstanceOf[Double]) === e) // HOF agrees
    }
  }

  test("interpreted (non-codegen) eval path agrees with codegen") {
    val df = floatPairsDf(200, 32)
    val codegen = df.select(vecDot(col("a"), col("b")).as("d")).collect().map(_.getDouble(0))
    val conf = spark.conf
    val prevWsc = conf.get("spark.sql.codegen.wholeStage")
    val prevMode = conf.get("spark.sql.codegen.factoryMode")
    try {
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = df.select(vecDot(col("a"), col("b")).as("d")).collect().map(_.getDouble(0))
      assert(codegen.toSeq === interp.toSeq)
    } finally {
      conf.set("spark.sql.codegen.wholeStage", prevWsc)
      conf.set("spark.sql.codegen.factoryMode", prevMode)
    }
  }

  test("vec_dot stays inside WholeStageCodegen (no fallback in the projection)") {
    val df = floatPairsDf(10, 8)
    val plan = df.select(vecDot(col("a"), col("b")).as("d"))
      .queryExecution.executedPlan
    val wscg = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    // the projection computing vec_dot sits INSIDE a codegen stage (the
    // plan renders it with the `*(n)` prefix), not outside as a fallback
    assert(wscg.nonEmpty, plan.toString)
    assert(plan.toString.contains("*(1) Project"), plan.toString)
  }

  test("SQL name vec_dot resolves through GraftExtensions registration") {
    val r = spark.sql(
      "SELECT vec_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT))) AS d").head().getDouble(0)
    assert(r === 9.0)
  }

  /** The exact pre-round-11 compositional bucketArray (64 VecDots + CASE
    * sums), kept as the parity baseline for the fused expression.
    */
  private def compositionalBucketArray(vecCol: Column, dim: Int): Column = {
    import graft.ops.AnnLsh.{H, L}
    def h7(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.substring(0, 7), 16)
    }
    def weight(l: Int, j: Int, i: Int): Double =
      (h7(s"h:$l:$j:$i").toDouble % 2001 - 1000) / 1000.0
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    array((0 until L).map { l =>
      val bucket = (0 until H).map { j =>
        val w = array((0 until dim).map(i => lit(weight(l, j, i))): _*)
        when(dot(vecCol, w) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(l).as("l"), bucket.as("bucket"))
    }: _*)
  }

  test("fused lsh bucket keys equal the compositional 64-dot form on real embeddings") {
    val emb = Queries.t(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val fused = graft.ops.AnnLsh.buckets(emb, 64)
    val composed = emb
      .select(col("vec_id"), explode(compositionalBucketArray(col("embedding"), 64)).as("tb"))
      .select(col("vec_id"), col("tb.l").as("l"), col("tb.bucket").as("bucket"))
    assert(fused.count() > 0)
    assert(fused.exceptAll(composed).count() === 0)
    assert(composed.exceptAll(fused).count() === 0)
  }

  test("fused lsh bucket keys: null / wrong-length / null-element vectors get all-zero buckets") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rows = Seq(
      Row(0L, null),
      Row(1L, Seq.fill(10)(1f)),             // wrong length (dim=64)
      Row(2L, (Seq.fill(63)(1f) :+ null)),   // null element
      Row(3L, Seq.fill(64)(0.5f)))           // valid
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val fused = graft.ops.AnnLsh.buckets(df, 64)
    val composed = df
      .select(col("vec_id"), explode(compositionalBucketArray(col("embedding"), 64)).as("tb"))
      .select(col("vec_id"), col("tb.l").as("l"), col("tb.bucket").as("bucket"))
    assert(fused.exceptAll(composed).count() === 0)
    assert(composed.exceptAll(fused).count() === 0)
    // invalid vectors: 16 rows each, every bucket zero
    val z = fused.filter(col("vec_id") < 3 && col("bucket") === 0L).count()
    assert(z === 3L * graft.ops.AnnLsh.L)
  }

  test("fused ivf scores equal the compositional round(dot/nrm) struct array") {
    val emb = Queries.t(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = graft.ops.AnnIvf.initCentroids(emb)
    // compositional baseline: the exact pre-round-11 scored() form
    def hofDotD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val composed = array(cents.map { case (cid, v) =>
      val w = array(v.toIndexedSeq.map(f => lit(f.toDouble)): _*)
      val nrm = math.sqrt(v.foldLeft(0.0)((acc, f) => acc + f.toDouble * f.toDouble))
      struct(
        round(hofDotD(col("embedding"), w) / lit(nrm), 6).as("s"),
        lit(-cid).as("nc"))
    }: _*)
    val fused = graft.ops.AnnIvf.bestScore(col("embedding"), cents)
    val both = emb.filter(col("embedding").isNotNull).select(
      array_max(composed).getField("s").as("hof"),
      fused.as("native"))
    assert(both.filter(
      not(col("native") === col("hof")) ||
        col("native").isNull =!= col("hof").isNull).count() === 0)
    assert(both.count() > 0)
  }

  test("vec_dot rejects non-array / non-numeric-array inputs at analysis") {
    val df = spark.range(1).select(
      array(lit("x")).as("s"), array(lit(1), lit(2)).as("i"))
    val e = intercept[Exception] {
      df.select(vecDot(col("s"), col("i"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("vec_dot"))
  }
}
