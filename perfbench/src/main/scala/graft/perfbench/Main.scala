package graft.perfbench

import graft.{SparkEntry, StageMemo}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The benchmark's JVM side: one closed-loop client (this thread) drives
  * `SparkEntry.queries(name)(spark, dir)` and sinks each frame, the
  * `graft.Bench.runOnce` call pattern. The working directory is the run's
  * own directory, so the engine's relative state (`target/streamstage`,
  * `spark-warehouse`, `derby.log`) lands there.
  *
  * Protocol of one run:
  *  1. session with Bench's conf on `local[N]`, `StageMemo.eagerBuild`;
  *  2. priming pass in seed order: JIT warm-up, stream staging and memo
  *     builds; each result is written as parquet under `out/` for the
  *     oracle check; then untimed warm passes for `warmupMs` (set-up
  *     ends here, `setup_s`);
  *  3. warm passes, then cold passes (`StageMemo.clear()` before every
  *     query), each sinking to `noop`, while the `--seconds` budget lasts,
  *     at least `minPasses` of each;
  *  4. with `--trace 1` instead: untraced warm, traced warm, untraced
  *     warm, traced cold, the traced ones with the listeners of [[Tracer]]
  *     registered; spans go to `trace.jsonl`.
  * Results go to `result.json` in the working directory; run.py turns them
  * into the benchmark's output line.
  */
object Main {
  /** Few, cheap queries of distinct shapes, so that a run with its JVM
    * start and priming stays near a minute; README.md gives the reasons
    * and the queries left out. */
  val workloads: Map[String, Seq[String]] = Map(
    "neardup" -> Seq("q21_dedup_ngram", "q50_dedup_clusters",
      "q119_dedup_prefix", "q126_containment_sketch"),
    "stream_continuous" -> Seq("q51_stream_windows", "q52_stream_online"))

  /** The engine's on-disk streaming state roots whose size the traced run
    * reports (relative to the working directory). */
  val stateRoots = Seq("target/streamstage/funnel", "target/streamstage/lshindex",
    "target/streamstage/crossmodal")

  /** Fewest timed passes of each kind per run. */
  val minPasses = 2

  /** Wall time of the untimed warm passes that end set-up. */
  val warmupMs = 6000L

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def loadavg1: Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  private def dirBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    arg(args, "--dump-oracle") match {
      case Some(out) => dumpOracle(Paths.get(out)); return
      case None => ()
    }
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val queries = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val dataDir = arg(args, "--data").getOrElse(sys.error("--data is required"))
    val cores = Runtime.getRuntime.availableProcessors()
    // epoch ms at which the launcher started this run: set-up counts from
    // there, so JVM start is included
    val t0Ms = arg(args, "--t0-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

    val rng = new scala.util.Random(seed)
    def order(): Seq[String] = rng.shuffle(queries)

    val loadBefore = loadavg1
    val loadMax = new java.util.concurrent.atomic.AtomicReference[Double](loadBefore)
    val stopSampler = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sampler = new Thread(() =>
      try while (!stopSampler.get()) {
        val l = loadavg1
        loadMax.updateAndGet(m => math.max(m, l))
        Thread.sleep(1000)
      } catch { case _: InterruptedException => () }, "perfbench-load")
    sampler.setDaemon(true)
    sampler.start()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StageMemo.eagerBuild = true

    var attempted = 0
    val failures = ArrayBuffer.empty[String]

    /** One query: builder call, then the sink. Times are epoch ms. */
    def runQuery(name: String, sink: org.apache.spark.sql.DataFrame => Unit): QueryRun = {
      attempted += 1
      val before = StageMemo.statsSnapshot()
      val start = System.currentTimeMillis()
      var buildEnd = start
      val ok = try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        buildEnd = System.currentTimeMillis()
        sink(df)
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          failures += name
          false
      }
      val end = System.currentTimeMillis()
      QueryRun(name, start, if (ok) buildEnd else end, end, ok,
        Arith.memoDelta(before, StageMemo.statsSnapshot()))
    }
    val noop = (df: org.apache.spark.sql.DataFrame) =>
      df.write.mode("overwrite").format("noop").save()

    final case class Pass(kind: String, from: Long, to: Long, runs: Seq[QueryRun]) {
      def wallS: Double = (to - from) / 1000.0
    }
    def pass(kind: String): Pass = {
      val from = System.currentTimeMillis()
      val runs = order().map { q =>
        if (kind == "cold") StageMemo.clear()
        runQuery(q, noop)
      }
      Pass(kind, from, System.currentTimeMillis(), runs)
    }

    // priming pass: writes every result for the oracle check
    val primeRuns = order().map { q =>
      runQuery(q, df => df.write.mode("overwrite").parquet(s"out/$q"))
    }
    // untimed warm passes: the JIT keeps compiling the hot paths for
    // several executions after the first, and that drift would otherwise
    // land in the timed passes
    val warmupFrom = System.currentTimeMillis()
    while (System.currentTimeMillis() - warmupFrom < warmupMs) pass("warm")
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

    val passes = ArrayBuffer.empty[Pass]
    val layers = ArrayBuffer.empty[(String, Double, String)]
    val spans = ArrayBuffer.empty[Span]
    var nextSpan = 0
    val newId = () => { nextSpan += 1; nextSpan }
    val runSpanId = newId()
    val timedFrom = System.currentTimeMillis()
    if (!trace) {
      val budgetMs = (seconds * 1000).toLong
      def elapsed = System.currentTimeMillis() - timedFrom
      // warm passes get the first half of the budget, cold passes the rest;
      // each kind runs at least `minPasses` times, and a further pass
      // starts only if it should still fit
      def more(kind: String, until: Long): Unit = {
        val n0 = passes.size
        while (passes.size - n0 < minPasses ||
            elapsed + passes.last.wallS * 1000 <= until) passes += pass(kind)
      }
      more("warm", budgetMs / 2)
      more("cold", budgetMs)
    } else {
      val tracer = new Tracer(spark)
      def traced(kind: String): Pass = {
        val state0 = stateRoots.map(dirBytes).sum
        tracer.start()
        val p = try pass(kind) finally tracer.stop()
        val stateDelta = math.max(0L, stateRoots.map(dirBytes).sum - state0)
        val prefix = if (kind == "cold") "cold." else ""
        layers ++= PassLayers.metrics(tracer, p.from, p.to, p.runs, cores, stateDelta)
          .map { case (n, v, u) => (prefix + n, v, u) }
        spans ++= PassLayers.spans(tracer, newId, runSpanId, kind, p.from, p.to, p.runs)
        p.copy(kind = "traced_" + kind)
      }
      // the traced warm pass sits between two untraced ones; their mean is
      // the untraced lap the tracing overhead is taken against
      val u1 = pass("warm")
      val tw = traced("warm")
      layers += (("storage_mb", spark.sparkContext.getRDDStorageInfo
        .map(_.memSize).sum / 1048576.0, "MB"))
      val u2 = pass("warm")
      val tc = traced("cold")
      val untraced = (u1.wallS + u2.wallS) / 2
      layers ++= Seq(("lap_s_traced", tw.wallS, "s"), ("lap_s_untraced", untraced, "s"),
        ("trace_overhead_s", tw.wallS - untraced, "s"))
      passes ++= Seq(u1, tw, u2, tc)
    }
    val runEnd = System.currentTimeMillis()
    stopSampler.set(true)
    sampler.interrupt()
    sampler.join(2000)
    val loadAfter = loadavg1
    val loadPeak = math.max(loadMax.get(), loadAfter)

    val warm = passes.filter(_.kind == "warm")
    val cold = passes.filter(_.kind == "cold")
    // graft.Bench's protocol: the minimum of each query over the passes of
    // one kind, summed, damps the additive scheduling noise of a shared box
    def minLap(ps: Seq[Pass]): Double =
      Arith.minOfPasses(ps.map(_.runs.map(r => r.name -> r.seconds).toMap))
    val endToEnd = if (trace) Seq.empty else Seq(
      ("lap_s", minLap(warm.toSeq), "s"),
      ("cold_lap_s", minLap(cold.toSeq), "s"),
      ("setup_s", setupS, "s"))

    def metricsJson(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      s"${jstr(n)}:{${jstr("value")}:${jnum(v)},${jstr("unit")}:${jstr(u)}}"
    }.mkString("{", ",", "}")
    def timesJson(runs: Seq[QueryRun]) =
      runs.map(r => s"${jstr(r.name)}:${jnum(r.seconds)}").mkString("{", ",", "}")
    def passJson(p: Pass) =
      s"""{"kind":${jstr(p.kind)},"wall_s":${jnum(p.wallS)},"queries":${timesJson(p.runs)}}"""
    val heapMb = Runtime.getRuntime.maxMemory() >> 20
    val regime = Seq(
      "workload" -> jstr(workload), "seed" -> seed.toString,
      "cores" -> cores.toString, "local_n" -> cores.toString,
      "shuffle_partitions" -> cores.toString,
      "heap_mb" -> heapMb.toString,
      "heap_pinned" -> (math.abs(heapMb - 8192) <= 8192 * 0.15).toString,
      "spark_version" -> jstr(spark.version), "eager_build" -> StageMemo.eagerBuild.toString,
      "data" -> jstr(dataDir), "trace" -> trace.toString,
      "load_before" -> jnum(loadBefore), "load_max" -> jnum(loadPeak),
      "load_after" -> jnum(loadAfter),
      "contended" -> (loadPeak > 1.5 * cores).toString)
    val json = "{" + Seq(
      "regime" -> regime.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}"),
      "queries" -> queries.map(jstr).mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "failed_queries" -> failures.map(jstr).mkString("[", ",", "]"),
      "prime_s" -> timesJson(primeRuns),
      "passes" -> passes.map(passJson).mkString("[", ",", "]"),
      "end_to_end" -> metricsJson(endToEnd),
      "per_layer" -> metricsJson(layers.toSeq)
    ).map { case (k, v) => s"${jstr(k)}:$v" }.mkString(",") + "}"
    Files.write(Paths.get("result.json"), json.getBytes(UTF_8))
    if (trace) {
      val all = Span(runSpanId, 0, "run", workload, t0Ms, runEnd) +: spans.toSeq
      val lines = all.map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"kind":${jstr(s.kind)},""" +
          s""""name":${jstr(s.name)},"start":${s.start},"end":${s.end},""" +
          s""""attrs":${s.attrs.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")}}"""
      }
      Files.write(Paths.get("trace.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    spark.stop()
  }

  /** Write the DuckDB oracle SQL of every benchmarked query as JSON. */
  private def dumpOracle(out: Path): Unit = {
    val names = workloads.values.flatten.toSeq.sorted
    val json = names.map(n => s"  ${jstr(n)}: ${jstr(SparkEntry.oracleSql(n))}")
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(out, json.getBytes(UTF_8))
  }
}
