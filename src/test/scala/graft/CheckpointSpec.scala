package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FsConstants, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.functions.{count, lit, sum}

import graft.streaming.{Continuous, ForkFreeCheckpointFileManager, NioRawLocalFileSystem}

/** A user-named checkpoint manager: the engine's, recording every log
  * path it writes. */
class RecordingCheckpointFileManager(path: Path, conf: Configuration)
    extends ForkFreeCheckpointFileManager(path, conf) {
  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    RecordingCheckpointFileManager.written.add(p.toString)
    super.createAtomic(p, overwriteIfPossible)
  }
}

object RecordingCheckpointFileManager {
  val written = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The contract of [[ForkFreeCheckpointFileManager]], the manager the
  * engine's bounded streams write their logs through: the same files,
  * `.crc` siblings, modes and no-overwrite rename as Spark's default
  * manager — and the scope that installs it. */
class CheckpointSpec extends SparkSpec {

  private val root = "target/tmp/ckptmgr"

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

  /** A fresh, absolute `file:` directory for one case. */
  private def freshDir(name: String): Path = {
    val dir = new java.io.File(s"$root/$name")
    rmrf(dir)
    new Path(dir.getAbsoluteFile.toURI)
  }

  private def write(m: CheckpointFileManager, p: Path, body: String): Unit = {
    val out = m.createAtomic(p, /*overwriteIfPossible=*/ false)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }

  /** Every file and directory below `dir` (itself as ""), with its mode. */
  private def modes(dir: Path): Map[String, String] = {
    val base = Paths.get(dir.toUri)
    val walk = Files.walk(base)
    try walk.iterator.asScala.map(p => base.relativize(p).toString ->
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
    finally walk.close()
  }

  test("a no-overwrite createAtomic onto an existing file throws " +
      "FileAlreadyExistsException and keeps the file, as the default " +
      "manager does") {
    Seq[(String, Path => CheckpointFileManager)](
      "ours" -> (new ForkFreeCheckpointFileManager(_, hadoopConf)),
      "default" -> (new FileContextBasedCheckpointFileManager(_, hadoopConf)))
      .foreach { case (name, manager) =>
        val dir = freshDir(s"exists_$name")
        val m = manager(dir)
        m.mkdirs(dir)
        val log = new Path(dir, "0")
        write(m, log, "first")
        // HDFSMetadataLog reads this exception as a concurrent writer
        intercept[FileAlreadyExistsException](write(m, log, "second"))
        val in = m.open(log)
        try assert(new String(in.readAllBytes(), "UTF-8") === "first", name)
        finally in.close()
      }
  }

  test("cancel() leaves no temp file") {
    val dir = freshDir("cancel")
    val m = new ForkFreeCheckpointFileManager(dir, hadoopConf)
    m.mkdirs(dir)
    val out = m.createAtomic(new Path(dir, "0"), false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    assert(modes(dir).keySet === Set(""))
  }

  test("written logs carry .crc siblings and a flipped byte fails the read " +
      "with ChecksumException") {
    val dir = freshDir("crc")
    val m = new ForkFreeCheckpointFileManager(dir, hadoopConf)
    val log = new Path(dir, "0")
    write(m, log, "v1\n" + "{\"batchWatermarkMs\":0}\n" * 8)
    assert(Files.exists(Paths.get(new Path(dir, ".0.crc").toUri)))
    val raf = new java.io.RandomAccessFile(Paths.get(log.toUri).toFile, "rw")
    try { raf.seek(5); val b = raf.read(); raf.seek(5); raf.write(b ^ 0xff) }
    finally raf.close()
    val in = m.open(log)
    try intercept[ChecksumException](in.readAllBytes())
    finally in.close()
  }

  test("files and directories get the modes Spark's default manager " +
      "gives them") {
    Seq("022", "077").foreach { umask =>
      val conf = hadoopConf
      conf.set(FsPermission.UMASK_LABEL, umask)
      def layout(name: String, m: Path => CheckpointFileManager) = {
        val ckpt = new Path(freshDir(s"modes_$name$umask"), "ckpt")
        val fm = m(ckpt)
        fm.createCheckpointDirectory()
        Seq("offsets", "commits").foreach { log =>
          fm.mkdirs(new Path(ckpt, log))
          (0 to 1).foreach(i => write(fm, new Path(ckpt, s"$log/$i"), s"$i"))
        }
        modes(ckpt)
      }
      val ours = layout("ours",
        new ForkFreeCheckpointFileManager(_, conf))
      val default = layout("default",
        new FileContextBasedCheckpointFileManager(_, conf))
      assert(ours.contains("offsets/.1.crc"), ours)
      assert(ours === default, s"umask $umask")
    }
  }

  test("NioRawLocalFileSystem.setPermission yields the mode chmod yields") {
    val dir = freshDir("chmod")
    Files.createDirectories(Paths.get(dir.toUri))
    val conf = hadoopConf
    val chmod = new RawLocalFileSystem
    chmod.initialize(FsConstants.LOCAL_FS_URI, conf)
    val nio = new NioRawLocalFileSystem
    nio.initialize(FsConstants.LOCAL_FS_URI, conf)
    Seq(0x1a4 /*0644*/, 0x1ed /*0755*/, 0x1c0 /*0700*/, 0x180 /*0600*/)
      .foreach { mode =>
        val perm = new FsPermission(mode.toShort)
        Seq("file", "dir").foreach { kind =>
          def made(name: String) = {
            val p = Paths.get(new Path(dir, s"$kind-$name-$mode").toUri)
            if (kind == "dir") Files.createDirectory(p) else Files.createFile(p)
            new Path(p.toUri)
          }
          val (viaChmod, viaNio) = (made("chmod"), made("nio"))
          chmod.setPermission(viaChmod, perm)
          nio.setPermission(viaNio, perm)
          def modeOf(p: Path) = PosixFilePermissions.toString(
            Files.getPosixFilePermissions(Paths.get(p.toUri)))
          assert(modeOf(viaNio) === modeOf(viaChmod), s"$kind $perm")
          assert(modeOf(viaNio) === perm.toString, s"$kind $perm")
        }
      }
  }

  test("bounded streams scope the checkpoint manager and the shuffle " +
      "width, and restore both") {
    import spark.implicits._
    val key = Continuous.checkpointManagerKey
    val shuffle = "spark.sql.shuffle.partitions"
    val width = spark.conf.get(shuffle)
    def settings = (spark.conf.getOption(key), spark.conf.get(shuffle))
    try {
      // no manager named: the engine installs its own only for the run
      assert(spark.conf.getOption(key).isEmpty)
      spark.conf.set(shuffle, "16") // q88 lowers it to 8 for its run
      assert(Continuous.streamedWindowedCounts(spark, sfDir).count() > 0)
      assert(settings === (None, "16"))
      assert(Continuous.streamedCurationFunnel(spark, sfDir).count() > 0)
      assert(settings === (None, "16"))
      val in = "target/tmp/ckptmgr/fold_in"
      val src = Tables.events(spark, sfDir)
      src.limit(10).write.mode("overwrite").parquet(in)
      // while the stream is planned and runs the engine's manager is the
      // session's
      @volatile var inCommit: (Option[String], String) = null
      Continuous.onlineAggregate(spark, in, src.schema, { b =>
        inCommit = settings
        b.select($"event_type", lit(1L).as("n"))
      }, Seq("event_type"))
      assert(inCommit ===
        (Some(classOf[ForkFreeCheckpointFileManager].getName), "16"))
      assert(settings === (None, "16"))
      // a fold that throws: refused before its stream starts, and
      // refused inside its stream (a partial wider than the cap)
      intercept[IllegalArgumentException] {
        Continuous.onlineAggregate(spark, in, src.schema,
          _.groupBy($"event_type").agg(sum($"value").as("sum_v")),
          Seq("event_type"))
      }
      assert(settings === (None, "16"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Continuous.onlineAggregate(spark, in, src.schema,
          _.select($"event_type", lit(1L).as("n")),
          Seq("event_type"), maxSnapshotRows = 0)
      }
      assert(settings === (None, "16"))

      // a session that names a manager keeps it, for the stream's whole
      // life: the source log is built on the stream thread after start()
      val named = classOf[RecordingCheckpointFileManager].getName
      spark.conf.set(key, named)
      RecordingCheckpointFileManager.written.clear()
      assert(Continuous.streamedWindowedCounts(spark, sfDir).count() > 0)
      assert(settings === (Some(named), "16"))
      val logs = RecordingCheckpointFileManager.written.asScala.toSeq
      Seq("/sources/0/", "/offsets/", "/commits/").foreach(log =>
        assert(logs.exists(_.contains(log)), s"no $log write in $logs"))
      assert(Continuous.streamedCurationFunnel(spark, sfDir).count() > 0)
      assert(settings === (Some(named), "16"))
    } finally {
      spark.conf.unset(key)
      spark.conf.set(shuffle, width)
    }
  }

}
