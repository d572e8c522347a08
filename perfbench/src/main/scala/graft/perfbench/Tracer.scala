package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** A span of the traced run. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Long, end: Long, attrs: Map[String, String] = Map.empty)

/** Listeners the benchmark registers on the session for a traced pass:
  * scheduler (jobs, stages, tasks), Catalyst (per-execution phase times
  * from `qe.tracker`) and Structured Streaming (per-commit progress). Events
  * are kept in memory; [[PassLayers]] windows them by pass afterwards. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Long] // completion times
  val tasks = ArrayBuffer.empty[Task]
  val plans = ArrayBuffer.empty[Plan]
  val commits = ArrayBuffer.empty[Commit]

  private val sparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      // properties is nullable on job start
      def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
      jobs += Job(js.jobId, js.time, -1L,
        prop("spark.job.description").getOrElse(""),
        js.stageInfos.map(_.numTasks).sum)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == je.jobId).foreach(_.end = je.time)
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += sc.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      val m = te.taskMetrics
      if (m != null) tasks += Task(te.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled)
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ms = qe.tracker.phases.valuesIterator.map(_.durationMs).sum
      plans += Plan(System.currentTimeMillis(), ms)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      // a progress event without a triggerExecution is not a commit
      d.get("triggerExecution").foreach { trig =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        commits += Commit(Option(p.name).getOrElse(p.id.toString), start,
          start + trig, d, p.numInputRows)
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Block until every queued listener event has been delivered. */
  def drain(): Unit = org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
}

object Tracer {
  final case class Job(id: Int, start: Long, var end: Long, label: String,
      tasks: Int)
  final case class Task(end: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      inputB: Long, shWriteB: Long, shReadB: Long, spillB: Long)
  final case class Plan(end: Long, planMs: Long)
  final case class Commit(query: String, start: Long, end: Long,
      durations: Map[String, Long], rows: Long)
}

/** Query timings of one pass, as measured around the layer calls. */
final case class QueryRun(name: String, start: Long, buildEnd: Long, end: Long,
    ok: Boolean, memo: graft.StageMemo.Stats) {
  def seconds: Double = (end - start) / 1000.0
}

/** Per-layer metrics of one traced pass over `[from, to)`. */
object PassLayers {
  private def mb(b: Long): Double = b / 1048576.0

  def metrics(t: Tracer, from: Long, to: Long, runs: Seq[QueryRun],
      cores: Int, stateBytes: Long): Seq[(String, Double, String)] = t.synchronized {
    def in(ts: Long) = ts >= from && ts < to
    val jobs = t.jobs.filter(j => in(j.start)).toSeq
    val tasks = t.tasks.filter(x => in(x.end)).toSeq
    val commits = t.commits.filter(c => in(c.start)).toSeq
    val wall = math.max(1L, to - from)
    val runMs = tasks.map(_.runMs).sum
    val memo = Arith.memoSum(runs.map(_.memo))
    val jobDur = jobs.filter(_.end >= 0).map(j => (j.end - j.start).toDouble)
    val commitMs = commits.map(c => (c.end - c.start).toDouble)
    val jobsInCommits = jobs.count(j => commits.exists(c => j.start >= c.start && j.start <= c.end))
    val tail = Arith.tail(commitMs)
    def dur(k: String) = commits.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    def perCommit(x: Double) = if (commits.isEmpty) 0.0 else x / commits.size
    Seq(
      ("build_ms", runs.map(r => (r.buildEnd - r.start).toDouble).sum, "ms"),
      ("exec_ms", runs.map(r => (r.end - r.buildEnd).toDouble).sum, "ms"),
      ("plan_ms", t.plans.filter(p => in(p.end)).map(_.planMs).sum.toDouble, "ms"),
      ("sql_execs", t.plans.count(p => in(p.end)).toDouble, "count"),
      ("jobs", jobs.size.toDouble, "count"),
      ("stages", t.stages.count(in).toDouble, "count"),
      ("tasks", tasks.size.toDouble, "count"),
      ("tasks_per_job", if (jobs.isEmpty) 0.0 else tasks.size.toDouble / jobs.size, "count"),
      ("job_ms_p50", if (jobDur.isEmpty) 0.0 else Arith.median(jobDur), "ms"),
      ("driver_idle_ms", Arith.idleLength(from, to,
        jobs.map(j => (j.start, if (j.end >= 0) j.end else to))).toDouble, "ms"),
      ("exec_run_ms", runMs.toDouble, "ms"),
      ("exec_cpu_ms", tasks.map(_.cpuNs).sum / 1e6, "ms"),
      ("gc_ms", tasks.map(_.gcMs).sum.toDouble, "ms"),
      ("cores_busy", runMs.toDouble / (wall.toDouble * cores), "ratio"),
      ("input_mb", mb(tasks.map(_.inputB).sum), "MB"),
      ("shuffle_write_mb", mb(tasks.map(_.shWriteB).sum), "MB"),
      ("shuffle_read_mb", mb(tasks.map(_.shReadB).sum), "MB"),
      ("spill_mb", mb(tasks.map(_.spillB).sum), "MB"),
      ("memo_hits", memo.hits.toDouble, "count"),
      ("memo_misses", memo.misses.toDouble, "count"),
      ("memo_build_ms", memo.buildMsTotal.toDouble, "ms"),
      ("memo_evictions", memo.evictions.toDouble, "count"),
      ("memo_hit_ratio",
        if (memo.hits + memo.misses == 0) 0.0
        else memo.hits.toDouble / (memo.hits + memo.misses), "ratio"),
      ("commits", commits.size.toDouble, "count"),
      ("add_batch_ms", dur("addBatch"), "ms"),
      ("query_planning_ms", dur("queryPlanning"), "ms"),
      ("wal_commit_ms", dur("walCommit"), "ms"),
      ("jobs_per_commit", perCommit(jobsInCommits.toDouble), "count"),
      ("rows_per_commit", perCommit(commits.map(_.rows).sum.toDouble), "count"),
      ("commit_p50_ms", if (commitMs.isEmpty) 0.0 else Arith.median(commitMs), "ms"),
      ("commit_tail_ms", tail.map(_._2).getOrElse(0.0), "ms"),
      ("commit_tail_pct", tail.map(_._1).getOrElse(0.0), "%"),
      ("state_dir_mb", mb(stateBytes), "MB"))
  }

  /** Spans of one traced pass: the pass, its queries with their build and
    * exec halves, and the Spark jobs and stream commits inside them. A job
    * or commit hangs under the innermost span whose interval contains its
    * start; a job also carries its job-description label. */
  def spans(t: Tracer, nextId: () => Int, runId: Int, pass: String,
      from: Long, to: Long, runs: Seq[QueryRun]): Seq[Span] = t.synchronized {
    val out = ArrayBuffer.empty[Span]
    val passId = nextId()
    out += Span(passId, runId, "pass", pass, from, to)
    val containers = ArrayBuffer.empty[Span]
    runs.foreach { r =>
      val q = Span(nextId(), passId, "query", r.name, r.start, r.end,
        Map("ok" -> r.ok.toString, "memo_hits" -> r.memo.hits.toString,
          "memo_misses" -> r.memo.misses.toString,
          "memo_build_ms" -> r.memo.buildMsTotal.toString))
      val b = Span(nextId(), q.id, "build", r.name, r.start, r.buildEnd)
      val e = Span(nextId(), q.id, "exec", r.name, r.buildEnd, r.end)
      out ++= Seq(q, b, e)
      containers ++= Seq(b, e)
    }
    def parentOf(ts: Long, among: Seq[Span]): Int =
      among.filter(s => ts >= s.start && ts <= s.end)
        .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(passId)
    val commitSpans = t.commits.filter(c => c.start >= from && c.start < to).map { c =>
      Span(nextId(), parentOf(c.start, containers.toSeq), "commit", c.query,
        c.start, c.end, Map("rows" -> c.rows.toString) ++
          c.durations.map { case (k, v) => k -> v.toString })
    }
    out ++= commitSpans
    t.jobs.filter(j => j.start >= from && j.start < to).foreach { j =>
      out += Span(nextId(), parentOf(j.start, containers.toSeq ++ commitSpans),
        "job", s"job ${j.id}", j.start, if (j.end >= 0) j.end else to,
        Map("label" -> j.label, "tasks" -> j.tasks.toString))
    }
    out.toSeq
  }
}
