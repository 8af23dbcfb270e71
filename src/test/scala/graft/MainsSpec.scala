package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gate: the shipped library carries only its product entry
  * points. Dev tools live under `src/test/scala/graft/tools` and run with
  * `sbt "Test/runMain graft.tools.<Tool> ..."`.
  */
class MainsSpec extends AnyFunSuite {

  test("src/main defines main only in Bench, Verify and GridSink") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val withMain = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        java.nio.file.Files.readString(p).contains("def main("))
      .map(p => root.relativize(p).toString).toSet
    assert(withMain === Set("graft/Bench.scala", "graft/Verify.scala",
      "graft/laplace/GridSink.scala"))
  }
}
