package graft

import org.scalatest.funsuite.AnyFunSuite

/** The fixture-staging ring fence: artifacts cached ACROSS runs/JVMs under
  * `target/streamstage` must be pure functions of the fixture modelling
  * scenario INPUT state (replay chunks, shipped indexes), and every such
  * family must be registered in [[graft.Staging.families]]. This spec
  * scans the main sources for the one staging entry point,
  * `Staging.staged(spark, dir, "<family>", …)`, and fails on any family
  * that is not registered — so moving formerly-timed compute into
  * staging cannot happen quietly: it forces a registry edit, which forces
  * the review this boundary exists for. */
class StagingRegistrySpec extends AnyFunSuite {

  private def mainSources: Seq[(String, String)] = {
    val src = java.nio.file.Paths.get("src/main/scala/graft")
    assume(java.nio.file.Files.isDirectory(src), s"run from the repo root: $src")
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.walk(src)
    try stream.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> new String(
        java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8))
      .toSeq
    finally stream.close()
  }

  /** Every `staged(` call site (the definition excluded), whitespace and
    * line breaks between the arguments tolerated. */
  private val callSite = """(?<!def )\bstaged\(""".r
  private val literalFamily =
    """\bstaged\(\s*spark\s*,\s*[A-Za-z]+\s*,\s*"([A-Za-z0-9_]+)"""".r

  /** The family of every call site, or a failure naming a call site
    * whose family is not a string literal. */
  private def families: Seq[String] =
    for {
      (file, text) <- mainSources
      site <- callSite.findAllMatchIn(text).toSeq
    } yield literalFamily.findPrefixMatchOf(text.substring(site.start))
      .map(_.group(1))
      .getOrElse(fail(s"$file:${text.take(site.start).count(_ == '\n') + 1}" +
        ": a staged( call whose family is not a literal — the registry " +
        "scan cannot see it; pass the family as a string literal"))

  test("every staged-fixture label in the sources is registered") {
    val found = families
    // self-check: the scan must keep seeing the known call sites — a
    // refactor that changes the call shape must update the regexes here,
    // not silently stop scanning
    assert(found.size >= 6, s"staging-label scan looks broken, found: $found")
    val unregistered = found.toSet -- graft.Staging.families
    assert(unregistered.isEmpty,
      s"unregistered fixture-staging families: $unregistered — staging is " +
        "only for pure functions of the fixture that model scenario INPUT " +
        "state (replay chunks, shipped indexes), never timed operator " +
        "work; if this new family qualifies, register it in " +
        "Staging.families with a justifying comment")
  }

  test("the registry carries no dead families") {
    val dead = graft.Staging.families -- families.toSet
    assert(dead.isEmpty,
      s"registered staging families with no call site: $dead — drop them " +
        "so the registry stays the exact allowed list")
  }

  test("only ScaleSmoke's scaled fixture copies bypass the registry") {
    // stageAt is the rule at an explicit dir, with no family: its only
    // caller outside Staging stages fixture dirs, not cached artifacts
    val sites = mainSources.collect {
      case (f, text) if """\bstageAt\(""".r.findFirstIn(text).isDefined => f
    }.sorted
    assert(sites === Seq("ScaleSmoke.scala", "Staging.scala"))
  }
}
