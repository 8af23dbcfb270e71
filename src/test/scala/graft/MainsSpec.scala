package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gates on the shipped library, one row per pattern:
  *  - it carries only its product entry points (dev tools live under
  *    `src/test/scala/graft/tools` and run with
  *    `sbt "Test/runMain graft.tools.<Tool> ..."`);
  *  - it registers one listener, the job-attribution one in `JobTrace`.
  */
class MainsSpec extends AnyFunSuite {

  private val allowed = Seq(
    ("src/main defines main only in Bench, Verify and GridSink", "def main(",
      Seq("graft/Bench.scala", "graft/Verify.scala", "graft/laplace/GridSink.scala")),
    ("src/main registers a SparkListener only in JobTrace", "addSparkListener",
      Seq("graft/JobTrace.scala")))

  for ((name, pattern, files) <- allowed) {
    test(name) {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get("src/main/scala")
      val found = java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          java.nio.file.Files.readString(p).contains(pattern))
        .map(p => root.relativize(p).toString).toSet
      assert(found === files.toSet)
    }
  }
}
