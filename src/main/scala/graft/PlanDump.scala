package graft

import org.apache.spark.sql.execution.ExplainMode

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Dump `explain("formatted")` for declared queries to files — the
  * optimization-round evidence trail (`plans/rNN/<query>_<tag>.txt`).
  *
  * Usage: `runMain graft.PlanDump <outDir> <tag> [q1,q2,...]`
  * Data dir comes from `SPARK_GRAFT_SF_DIR` (default sf0.1), core count
  * from `SPARK_GRAFT_CPUS` — the same env contract as [[Bench]], so the
  * captured plans are the plans the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.lift(0).getOrElse("plans/r18")
    val tag = args.lift(1).getOrElse("before")
    val only = args.lift(2).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session("graft.PlanDump", s"local[$cpus]", cpus.toInt)
    Files.createDirectories(Paths.get(outDir))
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    ordered.foreach { case (name, fn) =>
      try {
        Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
          dump(fn(spark, sfDir)).getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] wrote $name")
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** `df`'s `explain("formatted")` text, [[normalized]]. */
  def dump(df: org.apache.spark.sql.DataFrame): String =
    normalized(df.queryExecution.explainString(
      ExplainMode.fromString("formatted")))

  private val runIds = Seq("""#(\d+)""", """plan_id=(\d+)""",
    """codegen id : (\d+)""", """\*\((\d+)\)""", """RDD\[(\d+)\]""",
    """\.scala:(\d+)""", """lambda x_(\d+)""").mkString("|").r

  /** A plan text with every id that varies run to run renumbered in
    * first-seen order, per kind: expression ids (`#N`), exchange plan
    * ids, whole-stage codegen ids, RDD ids and the source lines of the
    * checkpointed RDDs, lambda variable names, and each AQE query
    * stage's id (the `Arguments: N` line under a `QueryStage` node). One
    * tree then dumps identical text on every run, and a diff of two
    * trees' dumps shows only plan changes. */
  private[graft] def normalized(plan: String): String = {
    val seen = scala.collection.mutable.HashMap
      .empty[Int, scala.collection.mutable.HashMap[String, Int]]
    def renumber(kind: Int, id: String): String = {
      val ids =
        seen.getOrElseUpdate(kind, scala.collection.mutable.HashMap.empty)
      ids.getOrElseUpdate(id, ids.size + 1).toString
    }
    var inStage = false
    plan.linesIterator.map { line =>
      if (line.matches("""\(\d+\) .*"""))
        inStage = line.matches("""\(\d+\) \w*QueryStage\b.*""")
      if (inStage && line.matches("""Arguments: \d+""")) {
        inStage = false
        s"Arguments: ${renumber(0, line.drop("Arguments: ".length))}"
      } else runIds.replaceAllIn(line, m => {
        val kind = (1 to m.groupCount).find(m.group(_) != null).get
        scala.util.matching.Regex.quoteReplacement(m.matched.replace(
          m.group(kind), renumber(kind, m.group(kind))))
      })
    }.mkString("", "\n", "\n")
  }
}
