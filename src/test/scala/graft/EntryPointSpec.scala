package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The production jar ships exactly the two driver-contract entry points.
  * Profilers and other dev mains belong in test scope (see `Probe`).
  */
class EntryPointSpec extends AnyFunSuite {

  test("only Bench and Verify define a main in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val files = Files.walk(root)
    val mains = try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains("def main("))
      .map(p => root.relativize(p).toString).toSet
    finally files.close()
    assert(mains == Set("graft/Bench.scala", "graft/Verify.scala"))
  }
}
