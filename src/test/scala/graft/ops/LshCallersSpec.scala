package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** [[Lsh.candidatePairs]] is the one LSH candidate step, so the preflight
  * rule, the hot-bucket guard and the slice-or-merge join cannot drift
  * between similarity operators.
  */
class LshCallersSpec extends AnyFunSuite {

  private val step = """\b(guardHotBuckets|candidateJoin|preflightFullCorpus)\s*\(""".r

  private def calls(p: Path): Seq[String] =
    step.findAllMatchIn(Files.readString(p)).map(_.group(1)).toSeq

  test("no main source but ops/Lsh.scala runs a piece of the LSH candidate step") {
    val root = Paths.get("src/main/scala")
    val lsh = root.resolve("graft/ops/Lsh.scala")
    // the dedup gate's within-batch preflight bounds one micro-batch's rows,
    // not a self-join Lsh builds, so it is the one call allowed outside
    val allowed = Map(root.resolve("graft/streaming/StreamingEtl.scala") ->
      Seq("preflightFullCorpus"))
    val sources = Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector)
    assert(sources.contains(lsh) &&
      Set("guardHotBuckets", "candidateJoin", "preflightFullCorpus").subsetOf(calls(lsh).toSet),
      s"guard is vacuous: $lsh missing or no longer runs the whole step")
    allowed.foreach { case (p, expected) =>
      assert(calls(p) == expected, s"$p: the allowed call moved or changed")
    }
    val offenders = sources.filter(p => p != lsh && !allowed.contains(p) && calls(p).nonEmpty)
    assert(offenders.isEmpty,
      s"go through graft.ops.Lsh.candidatePairs instead: ${offenders.mkString(", ")}")
  }
}
