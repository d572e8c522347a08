package graft

import org.scalatest.funsuite.AnyFunSuite

/** Engine code (every subpackage of `graft`) does file I/O only through
  * the Hadoop FileSystem API, resolved with the session's Hadoop conf
  * ([[Engine.hfs]]): a `java.nio.file`/`java.io.File` probe silently
  * answers "missing" for any non-local URI and skips `spark.hadoop.*`
  * settings. The one exemption is the fork-free local filesystem under
  * the streaming checkpoint manager, which implements that API. */
class FileIoFenceSpec extends AnyFunSuite {

  private val localIo =
    """java\.nio\.file\b|java\.io\.(File\b|FileInputStream|FileOutputStream|FileReader|FileWriter|RandomAccessFile|_)""".r
  private val exempt = Set("ForkFreeCheckpointFileManager.scala")

  test("engine code does no java.nio.file or java.io.File I/O") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assume(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.walk(root)
    val engine =
      try stream.iterator().asScala
        .filter(p => p.getParent != root && p.toString.endsWith(".scala") &&
          !exempt(p.getFileName.toString)).toList
      finally stream.close()
    // self-check: the walk must keep seeing the engine packages
    assert(engine.exists(_.endsWith("operators/Dedup.scala")) &&
      engine.exists(_.endsWith("streaming/Continuous.scala")))
    val offenders = engine.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if localIo.findFirstIn(l).isDefined =>
          s"${root.relativize(p)}:${i + 1}: ${l.trim}"
      }
    }
    assert(offenders.isEmpty,
      "local-file I/O in engine code; go through Engine.hfs:\n" +
        offenders.mkString("\n"))
  }
}
