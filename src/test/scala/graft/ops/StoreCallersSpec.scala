package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** [[StoreManifest.Store]] is the one store protocol, so the as-of
  * resolution, the watermark skip, the publish and the tombstone reads
  * cannot drift between the persisted stores: no main source but
  * `ops/StoreManifest.scala` touches a manifest or a data dir directly.
  */
class StoreCallersSpec extends AnyFunSuite {

  private val raw =
    """\bStoreManifest\s*\.\s*(publish|componentDir|currentSnapshot|snapshotAt|readComponent|vacuum)\s*\(""".r

  private def calls(p: Path): Seq[String] =
    raw.findAllMatchIn(Files.readString(p)).map(_.group(1)).toSeq

  test("no main source but ops/StoreManifest.scala runs a piece of the store protocol") {
    val root = Paths.get("src/main/scala")
    val manifest = root.resolve("graft/ops/StoreManifest.scala")
    // retention is an explicit sweep of whole store dirs, not a mutation
    val allowed = Map(root.resolve("graft/Dag.scala") -> Seq("vacuum"))
    val sources = Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector)
    assert(sources.contains(manifest), s"guard is vacuous: $manifest missing")
    allowed.foreach { case (p, expected) =>
      assert(calls(p) == expected, s"$p: the allowed call moved or changed")
    }
    val offenders = sources.filter(p => p != manifest && !allowed.contains(p) && calls(p).nonEmpty)
    assert(offenders.isEmpty,
      s"go through a StoreManifest.Kind's Store instead: ${offenders.mkString(", ")}")
  }
}
