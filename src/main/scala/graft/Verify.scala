package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session("graft.Verify", s"local[$cpus]", cpus.toInt)
    // Wipe any previous dump: stale per-query parquet from an earlier run
    // would make a failed query look like a pass to the differential check.
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete()
    }
    rmrf(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated name filter for local iteration on a few
    // queries (the driver leaves it unset and dumps everything).
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Record which queries this dump ATTEMPTED, so the differential can
    // tell "filtered out" (skip) from "crashed before writing anything"
    // (fail) — a plan-construction failure leaves no result dir at all,
    // and without this file a filtered-dump-aware checker would silently
    // absorb it as a skip. attempted.txt stays PURE query names (any
    // pre-existing parser keeps working); the sibling filtered.txt states
    // EXPLICITLY whether the run was name-filtered — inferring that from
    // len(attempted)<len(oracle) would misread an unfiltered run whose
    // queries map lost a key the oracle map still has, exactly the case
    // that must FAIL, not skip.
    Files.writeString(Paths.get(s"$outDir/attempted.txt"),
      attempted.keys.toSeq.sorted.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(s"$outDir/filtered.txt"),
      s"${only.isDefined}\n")
    attempted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
