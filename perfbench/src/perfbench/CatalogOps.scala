package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.ops.AnnLsh

/** The catalog slice, which traced `dag_ticks` runs time as the analyst
  * path: one op is one `SparkEntry.queries(name)` build plus a
  * noop-format write, with the session's cache cleared before each
  * query, over the generated read-only tables.
  *
  * The warm-up pass writes parquet instead, which the checks compare
  * against `SparkEntry.oracleSql`. After the passes each query runs alone
  * in a fresh session.
  */
final class CatalogOps extends Workload {
  private var names: Seq[String] = Nil
  private val tableRows = mutable.HashMap.empty[String, Long]
  // query -> seconds of its timed run alone in a fresh session
  private val isolated = mutable.LinkedHashMap.empty[String, Double]

  private def loadPlan(r: Run): Unit = if (names.isEmpty) {
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(r.inputs, "plan.json")), StandardCharsets.UTF_8))
    names = (j \ "queries").extract[Seq[String]]
    tableRows ++= (j \ "query_rows").extract[Map[String, Long]]
  }

  // the slice always measures three passes (Main.catalogSlice)
  def nominalPassS: Double = 7.0

  def prepare(r: Run): Unit = loadPlan(r)

  /** Pass `p` runs the queries rotated by `p`, so each plain run measures
    * them in the same order and traced passes vary it.
    */
  private def order(p: Int): Seq[String] = {
    val k = Math.floorMod(p, names.size)
    names.drop(k) ++ names.take(k)
  }

  /** Build and write query `q`; `out` is a parquet dir, else noop. */
  private def runQuery(r: Run, q: String, op: Int, out: Option[String]): Unit = {
    val df = r.tracer.span("build", op)(SparkEntry.queries(q)(r.spark, r.inputs))
    r.tracer.span("write", op) {
      out match {
        case Some(dir) => df.write.mode("overwrite").parquet(dir)
        case None => df.write.mode("overwrite").format("noop").save()
      }
    }
  }

  /** The query's DuckDB oracle. q141's recursive closure does not finish
    * in DuckDB at this size, so the checks close its near-dup pairs
    * (`AnnLsh.nearDupOracleSql`, which q141's oracle embeds) themselves.
    */
  private def oracles(q: String): Map[String, Any] =
    Map("oracle" -> SparkEntry.oracleSql.getOrElse(q, "")) ++
      (if (q == "q141_leakage_split") Map("pairs_oracle" -> AnnLsh.nearDupOracleSql())
       else Map.empty)

  def pass(r: Run, p: Int, traced: Boolean): Unit =
    order(p).foreach { q =>
      r.spark.catalog.clearCache()
      val out = if (p < 0) Some(Paths.get(r.work, "catalog-out", q).toString) else None
      r.op(p, q) {
        runQuery(r, q, r.ops.size, out)
        OpResult(tableRows(q), if (p < 0) oracles(q) else Map.empty)
      }
    }

  /** Each query alone in a fresh session: one untimed run of the query as
    * its warm-up, then one timed run. The JVM is as warm as in the last
    * measured pass, which is what the isolated time is compared with.
    */
  def isolate(r: Run): Unit = names.foreach { q =>
    r.stopSession()
    r.startSession()
    r.tracer = new Tracer(false)
    r.spark.catalog.clearCache()
    runQuery(r, q, -1, None)
    r.spark.catalog.clearCache()
    val t0 = System.nanoTime()
    runQuery(r, q, -1, None)
    isolated(q) = (System.nanoTime() - t0) / 1e9
  }

  def layers(r: Run): Map[String, Double] = {
    val traced = r.tracedOps
    def spanS(o: OpRec, n: String) = r.spansOf(o, n).map(_.seconds).sum
    def build(o: OpRec): SparkWork = r.spansOf(o, "build").headOption
      .map(s => r.collector.window(s.startMs, s.endMs))
      .getOrElse(SparkWork(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    val lastPlain = r.ops.filterNot(_.traced)
    val last = lastPlain.filter(_.pass == lastPlain.map(_.pass).max)
      .map(o => o.name -> o.seconds).toMap
    val perQuery = names.flatMap { q =>
      val os = traced.filter(_.name == q)
      def m(f: OpRec => Double) = Metrics.mean(os.map(f))
      Seq(
        s"catalog.$q.wall_s" -> m(_.seconds),
        s"catalog.$q.build_s" -> m(spanS(_, "build")),
        s"catalog.$q.driver_gap_s" -> m(o => o.seconds - r.collector.window(o.startMs, o.endMs).busyS),
        s"catalog.$q.jobs" -> m(o => r.collector.window(o.startMs, o.endMs).jobs.toDouble),
        s"catalog.$q.isolated_over_pass" -> isolated(q) / last(q))
    }
    perQuery.toMap ++ Map(
      "spark.build_s" -> r.perOp(spanS(_, "build")),
      "spark.build_jobs" -> r.perOp(build(_).jobs.toDouble))
  }
}
