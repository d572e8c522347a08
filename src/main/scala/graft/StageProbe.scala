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
  *   sbt "runMain graft.StageProbe [stage] [dir] [maxDf] [laps] [variant...]"
  * defaults: ngraminter target/scale/x30 3000 3 default
  *
  * Stages:
  *  - `ngraminter` — the df-gated shingle-intersection chain (scan →
  *    shingle hash → df gate → posting-list pair explode → doc-length
  *    joins, the measured 85-95% term of the cluster family's 30×
  *    wall-time). A variant is `default` or an integer
  *    `initialPartitionNum` (A/Bs AQE's initial slicing of the fat pair
  *    shuffle). The r12 currency/emitter variants were retired with the
  *    differential twins themselves.
  *  - `prefixcand` — candidate-volume anatomy of the prefix pair path.
  *  - `funnelgate` — commit-body A/B of the q88 funnel's df gate
  *    (recomputed full-index aggregation vs the r16 maintained delta
  *    state): times incrementalPairsOf at the replay's FINAL commit in
  *    both gate shapes, interleaved in one session, after pinning the
  *    outputs identical.
  *  - `sweepcompare` — the full threshold sweep (q105) vs the sampled
  *    form (q123) in ONE session at the same dir/maxDf: per-rung rows
  *    carrying the full n_pairs, the sampled n_pairs_est, the stated
  *    rel_err, and whether the estimate lands within 3 standard errors —
  *    the measured is-the-calibration-contract-honest check at a decade
  *    where both still run. sampleFraction rides argv position 4
  *    (default 0.1), echoed in every row.
  *  - `funnelop` — WHOLE-OP A/B of the q88 funnel's gate shapes
  *    (maintained delta state vs the r15 full-index re-aggregation
  *    twin), interleaved, frames pinned identical before timing.
  *  - `commitgrowth` / `deltastate` — many-commit read-cost anatomy of
  *    the two persisted state families (index version trail, funnel
  *    delta stores), compaction OFF vs threshold-triggered, per-commit
  *    rows with read legs / file fan-in.
  *  - `sketchcal` — the MeasuredK recall ladder at decade scale plus an
  *    end-to-end self-sized sketch run.
  *  - `opjobs` — per-JOB anatomy of one declared query (argv position 4
  *    names it): duration, idle gaps and call site of every Spark job a
  *    lap runs — the streaming operators are chains of many small jobs,
  *    and this is the trace that says which links carry the wall clock.
  * Each lap clears [[StageMemo]] and sinks the stage to the noop writer
  * with an observe row counter, exactly like ScaleSmoke's protocol;
  * passing several variants A/Bs them in the SAME session (same JIT,
  * same box load regime), one JSON row per variant.
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val stage = args.lift(0).getOrElse("ngraminter")
    val dir = args.lift(1).getOrElse("target/scale/x30")
    val maxDf = args.lift(2).map(_.toInt).getOrElse(3000)
    val laps = args.lift(3).map(_.toInt).getOrElse(3)
    require(stage == "ngraminter" || stage == "prefixcand" ||
      stage == "containcand" ||
      stage == "sweepcompare" || stage == "plancompare" ||
      stage == "funnelgate" || stage == "commitgrowth" ||
      stage == "deltastate" ||
      stage == "funnelop" || stage == "sketchcal" ||
      stage == "opjobs",
      s"unknown stage: $stage")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // same top-decade knob as ScaleSmoke: 32 reduce partitions over a 30×
    // pair shuffle spill-starve the per-task hash agg (measured: the
    // sweepcompare full lap died UNABLE_TO_ACQUIRE_MEMORY at 32 parts
    // where session D's identical sweep ran at 128)
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
    if (stage == "opjobs") {
      // Per-job anatomy of ONE declared query: wall time, every Spark
      // job's duration, the idle gap before it, task count and call
      // site. A foreachBatch operator's cost is a CHAIN of many small
      // jobs; only a job-grain trace says which links carry the wall
      // clock, which are scheduler idle, and which are independent
      // enough to overlap (guide §2.6). argv:
      //   [opjobs] [dir] [ignored] [laps] [queryName]
      // One untraced warm lap first (JIT + fixture staging), then
      // `laps` traced laps — one JSON row per lap with the job list.
      val qname = args.lift(4).getOrElse("q117_stream_crossmodal")
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
      spark.stop()
      return
    }
    if (stage == "prefixcand") {
      // candidate-volume anatomy of the prefix-filtered pair path (q119):
      // prefix rows, the RAW pair volume its posting lists would emit
      // (sum C(n,2), computed from posting sizes — no pair materializes),
      // the distinct candidate count when the raw volume permits, and the
      // survivors of each of the operator's two integer-exact filters
      // (PPJoin length, PPJoin positional). This is the probe that
      // explains a verify-stage blowup without paying for one. The
      // threshold rides argv (position 4, default 0.8) and is echoed in
      // the JSON row so the probe's numbers are self-describing (r12
      // ADVICE: a hardcoded tn silently mismatched non-default runs).
      val threshold = args.lift(4).map(_.toDouble).getOrElse(0.8)
      val tn = math.round(threshold * 1e6)
      val sh = operators.Dedup.shinglesOf(Tables.documents(spark, dir))
      val prefix = operators.Dedup.prefixPostings(sh, threshold, maxDf)
        .localCheckpoint()
      val prefixRows = prefix.count()
      // sum over zero rows is SQL NULL — an empty prefix frame (nothing
      // passes the df gate) must report zeros, not NPE
      val rawPairs = Option(prefix.groupBy(col("s"))
        .agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) div 2"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      // the candidate frame is the probe's expensive job — build it ONCE
      // (checkpoint) and take every count from it
      val (emisKept, candPre, candLen, candPos, candSfx) =
        if (rawPairs > 0 && rawPairs <= 20000000000L) {
          // the EXACT filter predicates the operator applies — different
          // inequalities here would misprice the operator's verify volume
          val emissions = prefix.groupBy(col("s"))
            .agg(collect_list(struct(col("doc_id"), col("rem"), col("g")))
              .as("ds"))
            .select(graft.functions.TextFunctions.docIdRemPairs(col("ds"))
              .as(Seq("d1", "d2", "minrem", "gsum")))
            .filter(expr(
              s"${1000000L + tn - 1}L * (minrem + 1L) >= ${tn - 1}L * gsum"))
          // the per-pair emission count rides the same agg, so the kept-
          // emission total reads off the CHECKPOINTED frame instead of
          // re-running the generator stage a second time
          val cand = emissions
            .groupBy(col("d1"), col("d2"))
            .agg((max(col("minrem")) + lit(1L)).as("ub"),
              count(lit(1)).as("nem"))
            .localCheckpoint()
          val kept = Option(cand.agg(sum(col("nem"))).head().get(0))
            .map(_.asInstanceOf[Long]).getOrElse(0L)
          val docLen = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
            .localCheckpoint()
          val withLen = cand
            .join(docLen.select(col("doc_id").as("d1"), col("c").as("c1"))
              .hint("shuffle_hash"), Seq("d1"))
            .join(docLen.select(col("doc_id").as("d2"), col("c").as("c2"))
              .hint("shuffle_hash"), Seq("d2"))
            .filter(expr(
              s"${tn - 1}L * greatest(c1, c2) <= 1000000L * least(c1, c2)"))
            .localCheckpoint()
          val posF = withLen.filter(expr(
            s"${1000000L + tn - 1}L * ub >= ${tn - 1}L * (c1 + c2)"))
            .localCheckpoint()
          val pos = posF.count()
          // the r14 PREFIX-ARRAY SUFFIX BOUND's survivors — what the
          // merge verify actually ships a full array for (the operator's
          // own helpers build the array table and the `needed` bound, so
          // the probe can never disagree with the verify's inequality):
          // i ≤ |a1 ∩ pfx2| + sfx2, killed when that cannot reach needed
          val arrays = operators.Dedup
            .prefixVerifyArrays(sh, threshold, maxDf).localCheckpoint()
          val sfxKept = posF
            .join(arrays.select(col("doc_id").as("d2"),
              col("pfx").as("p2"), col("sfx").as("sfx2"))
              .hint("shuffle_hash"), Seq("d2"))
            .join(arrays.select(col("doc_id").as("d1"),
              col("arr").as("a1")).hint("shuffle_hash"), Seq("d1"))
            .withColumn("needed",
              operators.Dedup.jaccardNeededExpr(tn))
            .filter(graft.functions.TextFunctions.sortedIntersectAtLeast(
                col("a1"), col("p2"), col("needed") - col("sfx2")) >=
              col("needed") - col("sfx2"))
            .count()
          (kept, cand.count(), withLen.count(), pos, sfxKept)
        } else (if (rawPairs == 0) 0L else -1L,
          if (rawPairs == 0) 0L else -1L,
          if (rawPairs == 0) 0L else -1L,
          if (rawPairs == 0) 0L else -1L,
          if (rawPairs == 0) 0L else -1L)
      println(s"""{"op":"prefixcand_probe","dir":"$dir","maxDf":$maxDf,""" +
        s""""threshold":$threshold,""" +
        s""""prefix_rows":$prefixRows,"raw_prefix_pairs":$rawPairs,""" +
        s""""emissions_kept":$emisKept,"cand_g_pruned":$candPre,""" +
        s""""cand_len_filtered":$candLen,""" +
        s""""cand_pos_filtered":$candPos,""" +
        s""""cand_suffix_filtered":$candSfx,""" +
        s""""load_1m":${Bench.loadavg1}}""")
      spark.stop()
      return
    }
    if (stage == "containcand") {
      // candidate-volume anatomy of the ONE-SIDED containment prefix
      // path (q121/q122) — the probe that priced the 0.5-threshold
      // merge-verify ENOSPC (SCALE_r14 sessions A/B) and decides decade
      // feasibility BEFORE paying for a lap. Counts, through the
      // operator's own private[graft] helpers: contained-side prefix
      // rows, the RAW oriented emission volume Σ|P_s|·(|F_s|−1)
      // (computed from posting stats — nothing materializes), emissions
      // surviving the in-stage prune (Generate→Filter→count: CPU only,
      // no exchange), then — when the raw volume permits — the distinct
      // ordered candidates and each post-join filter's survivors.
      // thresholdPpm rides argv position 4 (default 500000), echoed.
      val tppm = args.lift(4).map(_.toLong).getOrElse(500000L)
      val sh = operators.Dedup.shinglesOf(Tables.documents(spark, dir))
      val (rankedRaw, docLenRaw) =
        operators.Dedup.containRanked(sh, tppm, maxDf)
      val ranked = rankedRaw.localCheckpoint()
      val docLen = docLenRaw.localCheckpoint()
      val prefixRows =
        ranked.filter(col("rem") >= col("alpha") - lit(1)).count()
      val rawPairs = Option(ranked
        .select(col("s"), (col("rem") >= col("alpha") - lit(1)).as("pfx"))
        .groupBy(col("s"))
        .agg(count(lit(1)).as("n"),
          count(org.apache.spark.sql.functions.when(col("pfx"), lit(1)))
            .as("np"))
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
        } else (if (emisKept == 0) 0L else -1L,
          if (emisKept == 0) 0L else -1L,
          if (emisKept == 0) 0L else -1L)
      println(s"""{"op":"containcand_probe","dir":"$dir",""" +
        s""""maxDf":$maxDf,"thresholdPpm":$tppm,""" +
        s""""prefix_rows":$prefixRows,"raw_oriented_pairs":$rawPairs,""" +
        s""""emissions_kept":$emisKept,"cand":$candCnt,""" +
        s""""cand_len_filtered":$candLen,"cand_pos_filtered":$candPos,""" +
        s""""load_1m":${Bench.loadavg1}}""")
      spark.stop()
      return
    }
    if (stage == "funnelop") {
      // WHOLE-OP A/B of the q88 funnel's gate swap (VERDICT r16 defect
      // #1: the isolated probe read the maintained gate -22% on the
      // changed stage, but the bench-grain q88 number never confirmed
      // it): the full streamed funnel — staging, commits, state
      // appends, emission — lapped in both gate shapes, interleaved in
      // one session. "maintained" pays two delta appends + delta-sum
      // reads per commit; "recomputed" (the r15 twin) re-aggregates the
      // full posting index per commit. The final frames must agree
      // (both converge to the batch funnel). argv: [dir] [maxDf] [laps].
      val C = graft.streaming.Continuous
      def finalRows(run: C.FunnelRun): Seq[Seq[Any]] =
        run.snapshots.last.rows.map(_.toSeq).toSeq
          .sortBy(_.head.toString)
      val pin = finalRows(C.runStreamedCurationFunnel(spark, dir,
        maxDf = maxDf))
      require(pin == finalRows(C.runStreamedCurationFunnel(spark, dir,
          maxDf = maxDf, gate = "recomputed")) &&
          pin == finalRows(C.runStreamedCurationFunnel(spark, dir,
            maxDf = maxDf, gate = "maintained")),
        s"gate shapes disagree at $dir maxDf=$maxDf")
      for (lap <- 1 to laps;
           shape <- Seq("auto", "maintained", "recomputed")) {
        val t0 = System.nanoTime()
        val run = C.runStreamedCurationFunnel(spark, dir, maxDf = maxDf,
          gate = shape)
        val s = (System.nanoTime() - t0) / 1e9
        println(f"""{"op":"funnelop_$shape","dir":"$dir",""" +
          f""""maxDf":$maxDf,"lap":$lap,"sec":$s%.2f,""" +
          s""""commits":${run.snapshots.size},"rows_match":true,""" +
          s""""load_1m":${Bench.loadavg1}}""")
        System.gc()
      }
      spark.stop()
      return
    }
    if (stage == "sketchcal") {
      // the MeasuredK sizing rule at decade scale (VERDICT r16 #3's
      // confirmation row): the sampled recall ladder over `dir`,
      // printed rung by rung with the probe's own wall time — the
      // measured justification for running the sketch below the
      // analytic k=8. argv: [dir] [maxDf] [laps(unused)] [fraction]
      // [recallTargetPpm].
      val f = args.lift(4).map(_.toDouble).getOrElse(0.02)
      val target = args.lift(5).map(_.toLong).getOrElse(995000L)
      val t0 = System.nanoTime()
      val lad = operators.Dedup.containmentSketchCalibration(spark, dir,
        maxDf = maxDf, sampleFraction = f, recallTargetPpm = target)
        .collect()
      val s = (System.nanoTime() - t0) / 1e9
      for (r <- lad) {
        val recall = if (r.isNullAt(3)) "null" else f"${r.getDouble(3)}%.6f"
        val lcb = if (r.isNullAt(4)) "null" else f"${r.getDouble(4)}%.6f"
        println(s"""{"op":"sketchcal","dir":"$dir","maxDf":$maxDf,""" +
          s""""fraction":$f,"target_ppm":$target,"k":${r.getInt(0)},""" +
          s""""n_pairs":${r.getLong(1)},"caught":${r.getLong(2)},""" +
          s""""recall":$recall,"recall_lcb":$lcb,""" +
          s""""chosen":${r.getBoolean(5)}}""")
      }
      println(f"""{"op":"sketchcal_cost","dir":"$dir","maxDf":$maxDf,""" +
        f""""fraction":$f,"sec":$s%.1f,"load_1m":${Bench.loadavg1}}""")
      // end-to-end measured mode: the operator sizes itself from the
      // same ladder and runs the sketch at the chosen width — rows_out
      // must equal the explicit-k run at that width
      StageMemo.clear()
      val obs = org.apache.spark.sql.Observation()
      val t1 = System.nanoTime()
      operators.Dedup.containmentSketch(spark, dir, 500000L, maxDf,
          k = operators.Dedup.MeasuredK, measureFraction = f,
          recallTargetPpm = target)
        .observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite").format("noop").save()
      val s2 = (System.nanoTime() - t1) / 1e9
      println(f"""{"op":"sketch_measured_e2e","dir":"$dir",""" +
        f""""maxDf":$maxDf,"fraction":$f,"sec":$s2%.1f,""" +
        s""""rows_out":${obs.get("rows")},""" +
        s""""load_1m":${Bench.loadavg1}}""")
      spark.stop()
      return
    }
    if (stage == "commitgrowth") {
      // many-commit read-cost anatomy of the persisted index family
      // (VERDICT r16 #1): drive N incremental cluster commits against a
      // fresh index per variant — compaction OFF (the r12–r16 layout:
      // every read unions base + one leg per commit, forever) vs
      // threshold-triggered compactDedupIndex — in ONE session, and
      // record each commit's wall seconds plus the read plan's leg
      // count. The flat-vs-linear delta at the tail commits is the read
      // cost compaction exists to bound. argv: [dir] [maxDf] [commits]
      // [compactEvery]; the corpus splits into commits+1 hash parts,
      // part `commits` seeds the index.
      val commits = args.lift(3).map(_.toInt).getOrElse(40)
      val every = args.lift(4).map(_.toInt).getOrElse(10)
      val D = operators.Dedup
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")).localCheckpoint()
      val part = pmod(col("doc_id"), lit(commits + 1))
      for ((label, ce) <- Seq("nocompact" -> 0, s"compact$every" -> every)) {
        val path = s"target/stateprobe/commitgrowth_$label"
        graft.streaming.Continuous.deleteRecursively(path)
        D.writeDedupIndex(docs.filter(part === commits), path)
        D.writeClusterForest(docs.filter(part === commits), path, 0.8, maxDf)
        for (i <- 0 until commits) {
          val t0 = System.nanoTime()
          val out = D.incrementalClustersAgainstIndex(spark, path,
            docs.filter(part === i), 0.8, maxDf, commit = true,
            compactEvery = ce)
          val rows = out.count()
          val s = (System.nanoTime() - t0) / 1e9
          val legs = 1 + (i + 1) -
            D.latestCompaction(path).map(_._2).getOrElse(0)
          println(f"""{"op":"commitgrowth_$label","dir":"$dir",""" +
            f""""maxDf":$maxDf,"commit":${i + 1},"sec":$s%.2f,""" +
            s""""rows_out":$rows,"read_legs":$legs,""" +
            s""""load_1m":${Bench.loadavg1}}""")
        }
        graft.streaming.Continuous.deleteRecursively(path)
      }
      spark.stop()
      return
    }
    if (stage == "deltastate") {
      // many-commit read-cost anatomy of the funnel's maintained df
      // gate state (VERDICT r16 #1): N increment-sized (s, dc) delta
      // appends into a DeltaState, timing the gate's sum-over-deltas
      // read after every append, compaction OFF vs every-K folding, one
      // session. The append stream is the q88 shape (per-commit
      // df deltas of a corpus slice); the read is exactly the gate's
      // aggregation input. argv: [dir] [maxDf(unused)] [commits]
      // [compactEvery].
      val commits = args.lift(3).map(_.toInt).getOrElse(60)
      val every = args.lift(4).map(_.toInt).getOrElse(8)
      val sh = operators.Dedup.shinglesOf(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        .localCheckpoint()
      val part = pmod(col("doc_id"), lit(commits))
      for ((label, ce) <- Seq("nocompact" -> 0, s"compact$every" -> every)) {
        val root = s"target/stateprobe/deltastate_$label"
        graft.streaming.Continuous.deleteRecursively(root)
        val st = new graft.streaming.Continuous.DeltaState(spark, root,
          _.groupBy(col("s")).agg(sum(col("dc")).as("dc")))
        var folded = 0
        for (i <- 0 until commits) {
          st.append(sh.filter(part === i).groupBy(col("s"))
            .agg(count(lit(1)).as("dc")).coalesce(2))
          folded += 1
          if (ce > 0 && folded >= ce) { folded = 0; st.compact() }
          val t0 = System.nanoTime()
          val n = st.read().groupBy(col("s")).agg(sum(col("dc")).as("df"))
            .count()
          val s = (System.nanoTime() - t0) / 1e9
          val files = new java.io.File(st.dir).listFiles()
            .count(_.getName.endsWith(".parquet"))
          println(f"""{"op":"deltastate_$label","dir":"$dir",""" +
            f""""commit":${i + 1},"gate_sec":$s%.3f,"gate_rows":$n,""" +
            s""""state_files":$files,"load_1m":${Bench.loadavg1}}""")
        }
        graft.streaming.Continuous.deleteRecursively(root)
      }
      spark.stop()
      return
    }
    if (stage == "funnelgate") {
      // commit-body A/B of the q88 funnel's df gate (VERDICT r15 #3 →
      // r16): the r15 anatomy measured the per-commit FULL-INDEX df
      // aggregation at 52% of the commit body; the maintained gate sums
      // increment-sized deltas instead. The probe times exactly the
      // changed stage — incrementalPairsOf over the accumulated index at
      // the replay's FINAL commit (the biggest gate input of the run) —
      // in both gate shapes, interleaved in one session, after pinning
      // the two outputs identical. The maintained variant's delta frames
      // are checkpointed OUTSIDE the timed window: they stand in for the
      // funnel's on-disk df/len state, a parquet read in production.
      import org.apache.spark.sql.graft.Bridge
      val D = operators.Dedup
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val sh = Bridge.dropOriginConstraints(
        D.shinglesOf(docs).localCheckpoint())
      val commits = 4 // q88's replay shape: 8 staged files, 2 per trigger
      val part = pmod(col("doc_id"), lit(commits))
      val newSh = sh.filter(part === commits - 1)
      val dfState = Bridge.dropOriginConstraints(
        (0 until commits).map(i => sh.filter(part === i)
            .groupBy(col("s")).agg(count(lit(1)).as("dc")))
          .reduce(_ unionByName _).localCheckpoint())
      val lenState = Bridge.dropOriginConstraints(
        (0 until commits).map(i => sh.filter(part === i)
            .groupBy(col("doc_id")).agg(count(lit(1)).as("c")))
          .reduce(_ unionByName _).localCheckpoint())
      def recompute = D.incrementalPairsOf(sh, newSh, 0.8, maxDf)
      def maintained = D.incrementalPairsOf(sh, newSh, 0.8, maxDf,
        docLenOpt = Some(lenState),
        dfOpt = Some(dfState.groupBy(col("s"))
          .agg(sum(col("dc")).as("df"))))
      // order-insensitive content digest — the convergence contract,
      // verified in-session before any timing is trusted
      def digest(df: org.apache.spark.sql.DataFrame): (Long, String) = {
        val r = df.agg(count(lit(1)),
          sum(xxhash64(col("d1"), col("d2"),
            col("jaccard").cast("string")).cast("decimal(38,0)"))).head()
        (r.getLong(0),
          if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString)
      }
      val dR = digest(recompute)
      require(digest(maintained) == dR,
        s"gate shapes disagree at $dir maxDf=$maxDf")
      for (lap <- 1 to laps;
           (name, mk) <- Seq("recompute" -> (() => recompute),
             "maintained" -> (() => maintained))) {
        val obs = org.apache.spark.sql.Observation()
        val t0 = System.nanoTime()
        mk().observe(obs, count(lit(1)).as("rows"))
          .write.mode("overwrite").format("noop").save()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"""{"op":"funnelgate_$name","dir":"$dir",""" +
          f""""maxDf":$maxDf,"lap":$lap,"sec":$s%.2f,""" +
          s""""rows_out":${obs.get("rows")},"pairs_match":true,""" +
          s""""load_1m":${Bench.loadavg1}}""")
        System.gc()
      }
      spark.stop()
      return
    }
    if (stage == "sweepcompare") {
      // full-vs-sampled calibration A/B (q105 vs q123), same session: the
      // r13 verdict's ask #6 needs the 30× claim "the sampled sweep lands
      // within its own stated error at a fraction of the cost" MEASURED,
      // not asserted from the 1× fixture spec. Both sweeps run cold
      // (StageMemo cleared — each pays its own intersection stage, the
      // honest cost the fraction is supposed to shrink); the result
      // frames are |ladder|-row tiny, so collecting them for the per-rung
      // join costs nothing. Agreement contract per rung: the unbiased
      // estimator's stated ~1/√n standard error should cover the true
      // rung at ~3σ (n_pairs ≳ 100 per the operator scaladoc's sizing
      // rule at the rungs that matter); a rung the sample misses entirely
      // reports est 0 with null rel_err and within3se false — absence is
      // an estimate of zero, not proof (the scaladoc's own caveat).
      val f = args.lift(4).map(_.toDouble).getOrElse(0.1)
      def lap(df: => org.apache.spark.sql.DataFrame)
          : (Double, Array[org.apache.spark.sql.Row]) = {
        StageMemo.clear()
        val t0 = System.nanoTime()
        val rows = df.collect()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val (fullS, full) = lap(operators.Dedup.thresholdSweep(
        spark, dir, maxDf = maxDf))
      val (sampS, samp) = lap(operators.Dedup.thresholdSweepSampled(
        spark, dir, maxDf = maxDf, sampleFraction = f))
      // rungs join on an integer ppm key, not raw Double equality: today
      // both sweeps share the same literal ladder so doubles happen to
      // match bit-for-bit, but a computed threshold would silently miss
      // every rung (est 0, within3se false) under == on Double (ADVICE r14)
      def ppm(t: Double): Long = math.round(t * 1e6)
      val sampByT = samp.map(r => ppm(r.getDouble(0)) -> r).toMap
      for (r <- full) {
        val t = r.getDouble(0)
        val nFull = r.getLong(1)
        val (est, relErr) = sampByT.get(ppm(t))
          .map(s => (s.getLong(4),
            if (s.isNullAt(5)) Double.NaN else s.getDouble(5)))
          .getOrElse((0L, Double.NaN))
        val relDelta =
          if (nFull > 0) math.abs(est.toDouble / nFull - 1.0) else 0.0
        val within = !relErr.isNaN && relDelta <= 3.0 * relErr
        // a missed rung has no stated error — JSON null, never a bare NaN
        val relErrJson = if (relErr.isNaN) "null"
          else f"$relErr%.6f"
        println(f"""{"op":"sweepcompare","dir":"$dir","maxDf":$maxDf,""" +
          f""""fraction":$f,"threshold":$t,"n_pairs_full":$nFull,""" +
          f""""n_pairs_est":$est,"rel_err":$relErrJson,""" +
          f""""rel_delta":$relDelta%.6f,"within3se":$within}""")
      }
      println(f"""{"op":"sweepcompare_cost","dir":"$dir","maxDf":$maxDf,""" +
        f""""fraction":$f,"full_sec":$fullS%.2f,"sampled_sec":$sampS%.2f,""" +
        s""""load_1m":${Bench.loadavg1}}""")
      spark.stop()
      return
    }
    if (stage == "plancompare") {
      // full-vs-sampled calibration A/B for the REMAINING full-frame
      // consumers (q111 planner, q108 accuracy audit — the r14 verdict's
      // ask #3 named them after the sweep got its twin): both run cold in
      // one session at the same dir/maxDf. Planner agreement per banding:
      // the 1/f² estimate of exp_candidates/exp_caught vs the full run's
      // sums, within 3 stated standard errors (the same contract
      // sweepcompare pinned for the sweep). Audit agreement: the sampled
      // audit is an exact SUBSET by construction (per-doc signatures), so
      // the measured quantity is its error-PROFILE fidelity — mean
      // abs_err sampled vs full — plus the pair coverage f² would
      // predict. fraction rides argv position 4 (default 0.1).
      val f = args.lift(4).map(_.toDouble).getOrElse(0.1)
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
        val mean = if (n == 0) 0.0
          else rows.map(_.getDouble(4)).sum / n
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
      spark.stop()
      return
    }
    // JIT/codegen warm-up at the smallest fixture (the Bench protocol) so
    // the first timed lap doesn't absorb JVM start-up
    val warmDir = "/root/testdata/sf0.001"
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmDir))) {
      StageMemo.clear()
      operators.Dedup.interCounts(spark, warmDir, 100)
        .write.mode("overwrite").format("noop").save()
    }
    val variants = if (args.length > 4) args.drop(4).toSeq else Seq("default")
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
      println(s"""{"op":"${stage}_probe","dir":"$dir","maxDf":$maxDf,""" +
        s""""variant":"$variant",""" +
        s""""pairs":$rows,"cold_laps_sec":$lapsJson,""" +
        s""""load_1m":${Bench.loadavg1}}""")
    }
    StageMemo.clear()
    spark.stop()
  }
}
