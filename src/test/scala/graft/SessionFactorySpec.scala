package graft

import org.scalatest.funsuite.AnyFunSuite

/** One session factory: every session-wide setting lands in
  * [[Engine.session]] and reaches every entry point. The only other
  * builder in `src/main` is [[GraftExtensions.siblingSessionWith]]'s
  * sibling on an already-running context. */
class SessionFactorySpec extends AnyFunSuite {

  private def mainSources: Map[String, String] = {
    val src = java.nio.file.Paths.get("src/main/scala")
    assume(java.nio.file.Files.isDirectory(src), s"run from the repo root: $src")
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.walk(src)
    try stream.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> new String(
        java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8))
      .toMap
    finally stream.close()
  }

  test("src/main builds sessions only in Engine.session and the " +
      "extensions sibling") {
    val builder = """SparkSession\s*\.builder\(\)""".r
    val sites = mainSources.toSeq.flatMap { case (f, text) =>
      builder.findAllIn(text).map(_ => f) }.sorted
    assert(sites === Seq("Engine.scala", "GraftExtensions.scala"))
    val sources = mainSources
    for (main <- Seq("Bench", "Verify", "ScaleSmoke", "StageProbe",
        "PlanDump"))
      assert(sources(s"$main.scala").contains("Engine.session("),
        s"$main must take its session from Engine.session")
  }
}
