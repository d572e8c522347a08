package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Isolated-stage probe (scale-evidence harness): times ONE shared memoized
  * stage cold, N laps, outside any consuming operator — the attribution
  * tool behind the r11/r12 scale artifacts. End-to-end top-decade op laps
  * swing ±10% on the pair-stage build alone (SCALE_r11 line 9), so "did
  * this round's change move the dominant stage" is only answerable by
  * timing the stage in isolation, on one box, in one session.
  *
  * Usage:
  *   sbt "runMain graft.StageProbe [mode] [dir] [maxDf] [laps] [arg...]"
  * defaults: ngraminter target/scale/x30 3000 3
  *
  * Modes ([[modes]] is the accepted set):
  *  - `ngraminter` — the df-gated shingle-intersection chain (scan →
  *    shingle hash → df gate → posting-list pair explode → doc-length
  *    joins, the measured 85-95% term of the cluster family's 30×
  *    wall-time). Each extra arg is a variant, `default` or an integer
  *    `initialPartitionNum` (A/Bs AQE's initial slicing of the fat pair
  *    shuffle); several variants run in the SAME session (same JIT, same
  *    box load regime), one JSON row per variant. Each lap clears
  *    [[StageMemo]] and sinks the stage to the noop writer with an
  *    observe row counter, exactly like ScaleSmoke's protocol.
  *  - `containcand` — candidate-volume anatomy of the one-sided
  *    containment prefix path (q121/q122); arg: thresholdPpm.
  *  - `plancompare` — full vs sampled calibration of the q111 planner and
  *    the q108 accuracy audit in one session; arg: sample fraction.
  *  - `opjobs` — per-JOB anatomy of one declared query (arg: its name):
  *    duration, idle gaps and call site of every Spark job a lap runs —
  *    the streaming operators are chains of many small jobs, and this is
  *    the trace that says which links carry the wall clock.
  */
object StageProbe {
  /** A probe mode: (session, dir, maxDf, laps, extra args) — prints its
    * own JSON rows. */
  private type Mode = (SparkSession, String, Int, Int, Seq[String]) => Unit

  private val modes: Map[String, Mode] = Map(
    "ngraminter" -> ngramInter _,
    "containcand" -> containCand _,
    "plancompare" -> planCompare _,
    "opjobs" -> opJobs _)

  def main(args: Array[String]): Unit = {
    val stage = args.lift(0).getOrElse("ngraminter")
    val dir = args.lift(1).getOrElse("target/scale/x30")
    val maxDf = args.lift(2).map(_.toInt).getOrElse(3000)
    val laps = args.lift(3).map(_.toInt).getOrElse(3)
    val mode = modes.getOrElse(stage, throw new IllegalArgumentException(
      s"unknown stage: $stage (modes: ${modes.keys.toSeq.sorted
        .mkString(", ")})"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // same top-decade knob as ScaleSmoke: 32 reduce partitions over a 30×
    // pair shuffle spill-starve the per-task hash agg (measured: a full
    // threshold-sweep lap died UNABLE_TO_ACQUIRE_MEMORY at 32 parts where
    // an identical sweep ran at 128)
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode(spark, dir, maxDf, laps, args.drop(4).toSeq)
    finally { StageMemo.clear(); spark.stop() }
  }

  /** Per-job anatomy of ONE declared query: wall time, every Spark job's
    * duration, the idle gap before it, task count and call site. A
    * foreachBatch operator's cost is a CHAIN of many small jobs; only a
    * job-grain trace says which links carry the wall clock, which are
    * scheduler idle, and which are independent enough to overlap (guide
    * §2.6). One untraced warm lap first (JIT + fixture staging), then
    * `laps` traced laps — one JSON row per lap with the job list. maxDf
    * is ignored. */
  private def opJobs(spark: SparkSession, dir: String, maxDf: Int,
      laps: Int, rest: Seq[String]): Unit = {
    val qname = rest.headOption.getOrElse("q117_stream_crossmodal")
    val fn = SparkEntry.queries(qname)
    final case class J(id: Int, start: Long, var end: Long,
        var site: String, var ntasks: Int)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, J]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.synchronized {
          // properties is NULLABLE on SparkListenerJobStart — an NPE in
          // a listener is swallowed by the bus and silently drops the
          // job's row (ADVICE r18)
          def prop(k: String): Option[String] =
            Option(js.properties).flatMap(p => Option(p.getProperty(k)))
          jobs(js.jobId) = J(js.jobId, js.time, -1L,
            prop("spark.job.description")
              .orElse(prop("callSite.short"))
              .getOrElse("") + " | ex" +
              prop("spark.sql.execution.id").getOrElse("-"),
            js.stageInfos.map(_.numTasks).sum)
        }
      override def onJobEnd(
          je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(je.jobId).foreach(_.end = je.time); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    fn(spark, dir).write.mode("overwrite").format("noop").save()
    for (lap <- 1 to laps) {
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      fn(spark, dir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // the listener bus is async — drain it DETERMINISTICALLY before
      // snapshotting (the old fixed Thread.sleep(800) undercounted jobs
      // on a loaded driver, ADVICE r18)
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      jobs.synchronized {
        val done = jobs.values.filter(_.end > 0).toSeq
        // idle = wall the driver spent with NO job running (the
        // scheduling/plan/commit floor between chained actions);
        // overlapping jobs are merged interval-union style
        val iv = done.map(j => (j.start, j.end)).sortBy(_._1)
        val busyMs = iv.foldLeft((0L, 0L)) { case ((acc, hi), (s, e)) =>
          if (s > hi) (acc + (e - s), e)
          else (acc + math.max(0L, e - hi), math.max(hi, e))
        }._1
        val rows = done.map { j =>
          // JSON-safe label: descriptions can carry newlines/quotes
          val site = j.site.replaceAll("[\\\\\"]", "'")
            .replaceAll("\\s+", " ").take(80)
          s"""{"id":${j.id},"ms":${j.end - j.start},""" +
            s""""tasks":${j.ntasks},"site":"$site"}"""
        }
        println(s"""{"op":"opjobs","q":"$qname","dir":"$dir",""" +
          s""""lap":$lap,"wall_s":${Bench.fmt(wall, 2)},""" +
          s""""n_jobs":${done.size},""" +
          s""""busy_s":${Bench.fmt(busyMs / 1000.0, 2)},""" +
          s""""idle_s":${Bench.fmt(wall - busyMs / 1000.0, 2)},""" +
          s""""load_1m":${Bench.loadavg1},""" +
          s""""jobs":${rows.mkString("[", ",", "]")}}""")
      }
    }
  }

  /** Candidate-volume anatomy of the ONE-SIDED containment prefix path
    * (q121/q122) — the probe that priced the 0.5-threshold merge-verify
    * ENOSPC (SCALE_r14 sessions A/B) and decides decade feasibility
    * BEFORE paying for a lap. Counts, through the operator's own
    * private[graft] helpers: contained-side prefix rows, the RAW oriented
    * emission volume Σ|P_s|·(|F_s|−1) (computed from posting stats —
    * nothing materializes), emissions surviving the in-stage prune
    * (Generate→Filter→count: CPU only, no exchange), then — when the raw
    * volume permits — the distinct ordered candidates and each post-join
    * filter's survivors. thresholdPpm defaults to 500000, echoed. */
  private def containCand(spark: SparkSession, dir: String, maxDf: Int,
      laps: Int, rest: Seq[String]): Unit = {
    val tppm = rest.headOption.map(_.toLong).getOrElse(500000L)
    val sh = operators.Dedup.shinglesOf(Tables.documents(spark, dir))
    val (rankedRaw, docLenRaw) =
      operators.Dedup.containRanked(sh, tppm, maxDf)
    val ranked = rankedRaw.localCheckpoint()
    val docLen = docLenRaw.localCheckpoint()
    val prefixRows =
      ranked.filter(col("rem") >= col("alpha") - lit(1)).count()
    // sum over zero rows is SQL NULL — an empty prefix frame (nothing
    // passes the df gate) must report zeros, not NPE
    val rawPairs = Option(ranked
      .select(col("s"), (col("rem") >= col("alpha") - lit(1)).as("pfx"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"), count(when(col("pfx"), lit(1))).as("np"))
      .agg(sum(expr("np * (n - 1)"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val emisKept =
      if (rawPairs > 0 && rawPairs <= 40000000000L)
        operators.Dedup.containKeptEmissions(ranked, tppm).count()
      else if (rawPairs == 0) 0L else -1L
    val (candCnt, candLen, candPos) =
      if (emisKept > 0 && emisKept <= 4000000000L) {
        val cand = operators.Dedup.containKeptEmissions(ranked, tppm)
          .groupBy(col("dc"), col("dt"))
          .agg((max(col("minrem")) + lit(1L)).as("ub"))
          .join(docLen.select(col("doc_id").as("dc"), col("c").as("c1"))
            .hint("shuffle_hash"), Seq("dc"))
          .join(docLen.select(col("doc_id").as("dt"), col("c").as("c2"))
            .hint("shuffle_hash"), Seq("dt"))
          .localCheckpoint()
        val len = cand
          .filter(expr(s"${tppm}L * c1 <= 1000000L * c2"))
          .localCheckpoint()
        val pos = len
          .filter(expr(s"${tppm}L * c1 <= 1000000L * ub")).count()
        (cand.count(), len.count(), pos)
      } else {
        val none = if (emisKept == 0) 0L else -1L
        (none, none, none)
      }
    println(s"""{"op":"containcand_probe","dir":"$dir",""" +
      s""""maxDf":$maxDf,"thresholdPpm":$tppm,""" +
      s""""prefix_rows":$prefixRows,"raw_oriented_pairs":$rawPairs,""" +
      s""""emissions_kept":$emisKept,"cand":$candCnt,""" +
      s""""cand_len_filtered":$candLen,"cand_pos_filtered":$candPos,""" +
      s""""load_1m":${Bench.loadavg1}}""")
  }

  /** Full-vs-sampled calibration A/B for the full-frame consumers (q111
    * planner, q108 accuracy audit), both cold in one session at the same
    * dir/maxDf. Planner agreement per banding: the 1/f² estimate of
    * exp_candidates vs the full run's sum, within 3 stated standard
    * errors. Audit agreement: the sampled audit is an exact SUBSET by
    * construction (per-doc signatures), so the measured quantity is its
    * error-PROFILE fidelity — mean abs_err sampled vs full — plus the
    * pair coverage f² would predict. The fraction defaults to 0.1. */
  private def planCompare(spark: SparkSession, dir: String, maxDf: Int,
      laps: Int, rest: Seq[String]): Unit = {
    val f = rest.headOption.map(_.toDouble).getOrElse(0.1)
    def lap[A](body: => A): (Double, A) = {
      StageMemo.clear()
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val (fullPlanS, fullPlan) = lap(operators.Dedup.lshPlanner(
      spark, dir, maxDf = maxDf).collect())
    val (sampPlanS, sampPlan) = lap(operators.Dedup.lshPlannerSampled(
      spark, dir, maxDf = maxDf, sampleFraction = f).collect())
    val sampByBand = sampPlan.map(r => r.getInt(0) -> r).toMap
    for (r <- fullPlan) {
      val b = r.getInt(0)
      val (nFull, candFull) = (r.getLong(2), r.getDouble(4))
      val s = sampByBand.get(b)
      val est = s.map(_.getDouble(8)).getOrElse(0.0)
      val relErr = s.filter(!_.isNullAt(10)).map(_.getDouble(10))
        .getOrElse(Double.NaN)
      val relDelta =
        if (candFull > 0) math.abs(est / candFull - 1.0) else 0.0
      val within = !relErr.isNaN && relDelta <= 3.0 * relErr
      // a missed banding has no stated error — JSON null, never a bare NaN
      val relErrJson = if (relErr.isNaN) "null" else f"$relErr%.6f"
      println(f"""{"op":"plancompare","dir":"$dir","maxDf":$maxDf,""" +
        f""""fraction":$f,"bands":$b,"n_pairs_full":$nFull,""" +
        f""""exp_candidates_full":$candFull%.2f,""" +
        f""""exp_candidates_est":$est%.2f,"rel_err":$relErrJson,""" +
        f""""rel_delta":$relDelta%.6f,"within3se":$within}""")
    }
    // the audit A/B: profile fidelity + coverage. The audit's rows are
    // banded-candidate pairs; coverage should read ~f² of the full.
    def auditStats(rows: Array[org.apache.spark.sql.Row]) = {
      val n = rows.length
      val mean = if (n == 0) 0.0 else rows.map(_.getDouble(4)).sum / n
      (n, mean)
    }
    val (fullAudS, (nFull, errFull)) = lap(auditStats(
      operators.Dedup.minhashAccuracy(spark, dir).collect()))
    val (sampAudS, (nSamp, errSamp)) = lap(auditStats(
      operators.Dedup.minhashAccuracySampled(spark, dir,
        sampleFraction = f).collect()))
    val covExp = f * f
    val cov = if (nFull > 0) nSamp.toDouble / nFull else 0.0
    println(f"""{"op":"plancompare_audit","dir":"$dir",""" +
      f""""fraction":$f,"n_pairs_full":$nFull,"n_pairs_sampled":$nSamp,""" +
      f""""coverage":$cov%.6f,"coverage_expected":$covExp%.6f,""" +
      f""""mean_abs_err_full":$errFull%.6f,""" +
      f""""mean_abs_err_sampled":$errSamp%.6f}""")
    println(f"""{"op":"plancompare_cost","dir":"$dir","maxDf":$maxDf,""" +
      f""""fraction":$f,"planner_full_sec":$fullPlanS%.2f,""" +
      f""""planner_sampled_sec":$sampPlanS%.2f,""" +
      f""""audit_full_sec":$fullAudS%.2f,""" +
      f""""audit_sampled_sec":$sampAudS%.2f,""" +
      s""""load_1m":${Bench.loadavg1}}""")
  }

  /** Cold laps of the df-gated intersection stage ([[operators.Dedup.interCounts]]),
    * one JSON row per variant. */
  private def ngramInter(spark: SparkSession, dir: String, maxDf: Int,
      laps: Int, rest: Seq[String]): Unit = {
    // JIT/codegen warm-up at the smallest fixture (the Bench protocol) so
    // the first timed lap doesn't absorb JVM start-up
    val warmDir = "/root/testdata/sf0.001"
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmDir))) {
      StageMemo.clear()
      operators.Dedup.interCounts(spark, warmDir, 100)
        .write.mode("overwrite").format("noop").save()
    }
    val variants = if (rest.nonEmpty) rest else Seq("default")
    for (variant <- variants) {
      // "default" or an integer initialPartitionNum — A/Bs AQE's initial
      // slicing of the fat pair shuffle in the same session
      val initNConf = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
      if (variant == "default") spark.conf.unset(initNConf)
      else spark.conf.set(initNConf, variant)
      var rows = -1L
      val times = (1 to laps).map { _ =>
        StageMemo.clear() // cold: the lap pays scan + hash + gate + pairs
        val obs = org.apache.spark.sql.Observation()
        val t0 = System.nanoTime()
        operators.Dedup.interCounts(spark, dir, maxDf)
          .observe(obs, count(lit(1)).as("rows"))
          .write.mode("overwrite").format("noop").save()
        val s = (System.nanoTime() - t0) / 1e9
        rows = obs.get("rows") match { case l: Long => l; case _ => -1L }
        s
      }
      val lapsJson = times.map(t =>
        String.format(java.util.Locale.ROOT, "%.1f", Double.box(t)))
        .mkString("[", ",", "]")
      println(s"""{"op":"ngraminter_probe","dir":"$dir","maxDf":$maxDf,""" +
        s""""variant":"$variant",""" +
        s""""pairs":$rows,"cold_laps_sec":$lapsJson,""" +
        s""""load_1m":${Bench.loadavg1}}""")
    }
  }
}
