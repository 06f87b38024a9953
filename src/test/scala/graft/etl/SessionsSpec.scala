package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions]] is the only place main code builds a SparkSession, so
  * every entry point runs the tested config.
  */
class SessionsSpec extends AnyFunSuite {

  test("no main source but etl/Sessions.scala calls SparkSession.builder(") {
    val root = Paths.get("src/main/scala")
    val factory = root.resolve("graft/etl/Sessions.scala")
    val sources = Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector)
    def builds(p: java.nio.file.Path) = Files.readString(p).contains("SparkSession.builder(")
    assert(sources.contains(factory) && builds(factory),
      s"guard is vacuous: $factory missing or no longer builds the session")
    val offenders = sources.filter(p => p != factory && builds(p))
    assert(offenders.isEmpty,
      s"build the session through graft.etl.Sessions instead: ${offenders.mkString(", ")}")
  }
}
