package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Continuous

class StreamingSpec extends SparkSpec {

  test("q51: streamed windowed counts equal the batch tumbling twin") {
    import spark.implicits._
    val streamed = Continuous.streamedWindowedCounts(spark, sfDir)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val batch = Tables.events(spark, sfDir)
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_v"))
      .select($"window.start", $"event_type", $"n", $"sum_v")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("q51 per-commit trigger duration stays under the pinned bound at sf0.1") {
    // The scale contract of the streaming tier: trigger/commit overhead is
    // FIXED per micro-batch (~0.55 s measured isolated at sf0.1), so the
    // four streaming queries' bench cost is lifecycle, not data. Pin the
    // FASTEST post-first commit's triggerExecution under 6 s (~10x the
    // measured steady state) — a fold or trigger regression (e.g. a
    // per-batch re-scan of the folded snapshot) slows every commit and
    // blows through the bound, while co-tenant noise inflating individual
    // commits in a shared test run does not. Listener-based so `sbt test` catches the
    // regression rather than a bench-drift investigation.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name != null && e.progress.name.startsWith("q51_stream"))
          progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    // sf0.1 by design (the bound is pinned at the bench scale factor), but
    // cancel rather than fail where that fixture isn't staged
    val sf01 = "/root/testdata/sf0.1"
    assume(new java.io.File(sf01, "events.parquet").exists(),
      s"sf0.1 fixture not staged at $sf01")
    spark.streams.addListener(listener)
    try {
      assert(Continuous.streamedWindowedCounts(spark, sf01)
        .collect().nonEmpty)
      // the listener bus is async — wait for the commit events to drain
      // (8 staged files / maxFilesPerTrigger=2 = 4 data batches)
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (progress.size < 4 && System.nanoTime() < deadline)
        Thread.sleep(100)
      import scala.jdk.CollectionConverters._
      val commits = progress.asScala.filter(_.numInputRows > 0).toSeq
      assert(commits.size >= 2,
        s"expected >=2 data commits, saw ${progress.size} progress events")
      // bound the minimum over commits AFTER THE FIRST: a snapshot-growth
      // regression (e.g. a per-batch re-scan of the folded snapshot) leaves
      // the first data commit fast (near-empty snapshot) and slows every
      // later one, so this statistic must move — while a single co-tenant
      // burst inflating one commit in a shared test run still cannot flake it
      val durations = commits.sortBy(_.batchId).map { p =>
        val ms = p.durationMs.get("triggerExecution")
        assert(ms != null, s"commit ${p.batchId} missing triggerExecution")
        ms.longValue
      }
      assert(durations.drop(1).min < 6000L,
        s"every post-first commit breached the 6s bound " +
          s"(${durations.mkString(",")}ms) " +
          "— fold or trigger regression (steady state is ~550ms)")
    } finally spark.streams.removeListener(listener)
  }

  test("q53: chained streaming pipeline equals the composed batch query") {
    import spark.implicits._
    val streamed = Continuous.streamedPipeline(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val batch = Tables.events(spark, sfDir)
      .filter($"event_type" =!= "view")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_v"))
      .orderBy($"event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(batch.nonEmpty && streamed.toSeq === batch.toSeq)
  }

  test("q54: fold-based cq statistics agree with built-in avg/stddev") {
    import spark.implicits._
    val got = Continuous.cqMonitor(spark, sfDir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getDouble(2), r.getInt(3))).toMap
    // naive twin with Spark's own avg/stddev_samp (order-dependent sums,
    // fine within a float tolerance)
    val pk = Tables.events(spark, sfDir)
      .groupBy(window($"ts", "5 minutes"), $"event_type".as("key"))
      .agg(avg($"value").as("avg_v"))
      .select($"window.start".as("w_start"), $"key", $"avg_v")
    val g = pk.groupBy($"w_start")
      .agg(avg($"avg_v").as("mu"),
        coalesce(stddev_samp($"avg_v"), lit(0.0)).as("sigma"))
    val want = pk.join(g, "w_start")
      .select($"w_start", $"key", $"avg_v",
        when($"avg_v" > $"mu" + lit(2.0) * $"sigma", 1).otherwise(0)
          .as("alert"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getDouble(2), r.getInt(3))).toMap
    assert(got.keySet === want.keySet && got.nonEmpty)
    got.foreach { case (k, (a, alert)) =>
      val (wa, wAlert) = want(k)
      assert(math.abs(a - wa) < 1e-9 * math.max(1.0, math.abs(wa)), s"avg at $k")
      assert(alert === wAlert, s"alert flag at $k")
    }
    // NB: zero alerts is a legitimate outcome — with ~5 type-averages per
    // window, mean+2σ is a high bar; the per-row flag agreement above is
    // the assertion that matters
  }

  test("q54: streamed cq monitor equals the batch twin") {
    val streamed = Continuous.streamedCqMonitor(spark, sfDir)
      .collect().map(_.toSeq)
    val batch = Continuous.cqMonitor(spark, sfDir)
      .collect().map(_.toSeq)
    // decimal sums + one double division on both paths → bit-equal frames
    assert(batch.nonEmpty && streamed.toSeq === batch.toSeq)
  }

  test("q52: intermediate snapshots match the batch answer on the same file prefix") {
    import spark.implicits._
    // Four chunk files with explicit, strictly increasing mtimes: the file
    // stream source processes oldest-first, so micro-batch k consumes
    // exactly chunks 0..k — every INTERMEDIATE snapshot (not just the final
    // frame) is reproducible and must equal the batch aggregate over that
    // known prefix. This is the HOP early-results contract (OutputFile.Type
    // SNAPSHOT at progress < 1), checked mid-stream.
    val dir = "target/tmp/online_prefix_in"
    rmrf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val src = Tables.events(spark, sfDir)
    val slices = (0 until 4).map(i => src.filter($"user_id" % 4 === i))
    val base = System.currentTimeMillis() - 600000
    slices.zipWithIndex.foreach { case (s, i) =>
      val tmp = s"target/tmp/online_prefix_tmp$i"
      s.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$dir/chunk$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
      rmrf(new java.io.File(tmp))
    }
    val partial = (df: org.apache.spark.sql.DataFrame) => df
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).as("sum_v"))
    val finish = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("sum_v", $"sum_v".cast("double"))
    val agg = partial.andThen(finish)
    val snaps = Continuous.onlineAggregate(spark, dir, src.schema, partial,
      Seq("event_type"), finish)
    assert(snaps.size === 4)
    def asSet(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    (1 to 4).foreach { k =>
      val want = asSet(agg(slices.take(k).reduce(_ union _)).collect().toSeq)
      assert(asSet(snaps(k - 1).rows) === want,
        s"snapshot $k/4 (progress ${snaps(k - 1).progress})")
    }
    assert(snaps(1).progress === 0.5, "the mid-stream snapshot is the 2/4 one")
  }

  test("q52: online aggregation final frame equals batch pricing summary") {
    val streamed = Continuous.streamedOnlineSummary(spark, sfDir)
      .collect().map(_.toSeq)
    val batch = graft.operators.Relational.pricingSummary(spark, sfDir)
      .collect().map(_.toSeq)
    assert(batch.nonEmpty && streamed.toSeq === batch.toSeq)
  }

  test("windowed streaming counts emit per-window aggregates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val query = Continuous.windowedCounts(events, "10 seconds")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    mem.addData((t(1), "click", 1.0), (t(2), "click", 2.0),
      (t(11), "click", 4.0), (t(12), "view", 8.0))
    query.processAllAvailable()
    val rows = spark.table("win_counts").collect()
      .map(r => (r.getAs[Timestamp]("w_start").toString,
        r.getString(1), r.getAs[Long]("n"), r.getAs[Double]("sum_v"))).toSet
    query.stop()
    assert(rows === Set(
      ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 00:00:10.0", "click", 1L, 4.0),
      ("2024-01-01 00:00:10.0", "view", 1L, 8.0)))
  }

  test("per-window aggregate is state-free (HOP C2 parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
    val q = Continuous.perWindowAggregate(
      mem.toDF().toDF("k", "v"),
      b => b.groupBy("k").count(),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) { (id, rows) =>
      frames.synchronized {
        frames += ((id, rows.map(r => r.getString(0) -> r.getLong(1)).toMap))
      }
    }
    mem.addData(("a", 1.0), ("a", 2.0), ("b", 1.0))
    q.processAllAvailable()
    mem.addData(("a", 3.0))
    q.processAllAvailable()
    q.stop()
    val nonEmpty = frames.filter(_._2.nonEmpty)
    assert(nonEmpty.length === 2)
    // window 2 counts ONLY its own input — no state carried from window 1
    assert(nonEmpty(0)._2 === Map("a" -> 2L, "b" -> 1L))
    assert(nonEmpty(1)._2 === Map("a" -> 1L))
  }

  test("streaming session windows match the batch sessionize (C13)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a small fixture slice through a real stream; a far-future sentinel
    // event advances the watermark so append mode flushes every session
    val rows = Tables.events(spark, sfDir)
      .filter($"user_id" <= 10)
      .select($"user_id", $"ts", $"value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sess = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "1 second")
      .groupBy($"user_id", session_window($"ts", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"w.start".as("s_start"), $"n")
    val q = sess.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    mem.addData(rows.toSeq: _*)
    q.processAllAvailable()
    val maxTs = rows.map(_._2.getTime).max
    mem.addData((999L, new Timestamp(maxTs + 86400000L), 0.0))
    q.processAllAvailable()
    val streamed = spark.table("sess_stream").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    q.stop()
    // batch twin: the SAME expression over the same rows
    val batch = rows.toSeq.toDF("user_id", "ts", "value")
      .groupBy($"user_id", session_window($"ts", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"w.start".as("s_start"), $"n")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("streaming sliding windows match the batch q37 twin (C13)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sfDir)
      .filter($"user_id" <= 10)
      .select($"ts", $"event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)))
    val mem = MemoryStream[(Timestamp, String)]
    val agg = mem.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "1 second")
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"event_type", $"n")
    val q = agg.writeStream.format("memory").queryName("slide_stream")
      .outputMode("append").start()
    mem.addData(rows.toSeq: _*)
    q.processAllAvailable()
    val maxTs = rows.map(_._1.getTime).max
    mem.addData((new Timestamp(maxTs + 86400000L), "sentinel"))
    q.processAllAvailable()
    val streamed = spark.table("slide_stream").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .filter(_._2 != "sentinel").toSet
    q.stop()
    val batch = rows.toSeq.toDF("ts", "event_type")
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("cq monitor flags the anomalous host") {
    import spark.implicits._
    val w = Timestamp.valueOf("2024-01-01 00:00:00")
    val batch = (1 to 9).flatMap(h =>
        Seq((w, s"host$h", 10.0), (w, s"host$h", 12.0))) ++
      Seq((w, "host-hot", 99.0), (w, "host-hot", 101.0))
    val alerts = Continuous.cqAlerts(
      batch.toDF("w_start", "key", "value")).collect()
    val hot = alerts.filter(_.getAs[Boolean]("alert")).map(_.getString(1))
    assert(hot.toSeq === Seq("host-hot"))
  }

  test("streaming dedup drops repeated fingerprints within the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val q = Continuous.streamingDedup(
      mem.toDF().toDF("ts", "fp"), "1 minute")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    mem.addData((t(1), "A"), (t(2), "A"), (t(3), "B"))
    q.processAllAvailable()
    mem.addData((t(4), "A"), (t(5), "C"))
    q.processAllAvailable()
    q.stop()
    val fps = spark.table("dedup_out").collect().map(_.getString(1)).sorted
    assert(fps.toSeq === Seq("A", "B", "C"), "duplicates dropped across batches")
  }

  test("streaming top-k twin matches the batch top-k (O8)") {
    import spark.implicits._
    val dir = "target/tmp/topk_in"
    val docs = Tables.documents(spark, sfDir).select($"text")
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val topk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.select(explode(split($"text", "\\s+")).as("word"))
        .filter($"word" =!= "")
        .groupBy($"word").agg(count(lit(1)).as("cnt"))
    val snaps = Continuous.onlineAggregate(spark, dir, docs.schema, topk,
      Seq("word"))
    def top3(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1)))
        .sortBy { case (w, c) => (-c, w) }.take(3)
    val streaming = top3(snaps.last.rows)
    val batch = top3(topk(docs).collect().toSeq)
    assert(streaming === batch)
    assert(snaps.size > 1, "expected intermediate snapshot top-k frames")
  }

  test("chained streaming queries pipeline stage outputs (C7)") {
    import spark.implicits._
    val in = "target/tmp/chain_in"
    rmrf(new java.io.File("target/tmp/chain_mid"))
    rmrf(new java.io.File("target/tmp/chain_ckpt"))
    val src = Tables.events(spark, sfDir)
    src.repartition(3).write.mode("overwrite").parquet(in)
    val out = Continuous.chainedQueries(
      spark, in, src.schema, "target/tmp/chain_mid", "target/tmp/chain_ckpt",
      df => df.filter($"value" > 10).select($"event_type", $"value"),
      df => df.groupBy($"event_type").agg(count(lit(1)).as("n")))
    val chained = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = src.filter($"value" > 10).groupBy($"event_type")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(chained === batch)
  }

  test("streaming recovers from its checkpoint without re-reading input (C14)") {
    // three restarts: both incarnations under Spark's default checkpoint
    // manager, then a checkpoint written by one manager resumed by the
    // other in each direction — the engine's bounded streams write theirs
    // through ForkFreeCheckpointFileManager
    val key = Continuous.checkpointManagerKey
    val ours = Some(classOf[graft.streaming.ForkFreeCheckpointFileManager].getName)
    Seq((None, None), (None, ours), (ours, None)).zipWithIndex.foreach {
      case ((first, second), run) =>
        val in = s"target/tmp/chk/run$run/in"
        val chk = s"target/tmp/chk/run$run/state"
        rmrf(new java.io.File(s"target/tmp/chk/run$run"))
        new java.io.File(in).mkdirs()
        def writeBatch(name: String, rows: Seq[String]): Unit =
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$in/$name"), rows.mkString("\n"))
        val received = scala.collection.mutable.ArrayBuffer.empty[String]
        def incarnation(manager: Option[String]): Unit = {
          manager.foreach(spark.conf.set(key, _))
          try {
            val q = spark.readStream.text(in)
              .writeStream.option("checkpointLocation", chk)
              .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
                received.synchronized { received ++= df.collect().map(_.getString(0)) }
                ()
              }.start()
            try q.processAllAvailable() finally q.stop()
          } finally spark.conf.unset(key)
        }
        writeBatch("a.txt", (0 until 50).map(i => s"row$i"))
        incarnation(first)
        assert(received.size === 50)
        // second incarnation resumes from the checkpoint: it must see ONLY
        // the new file — exactly-once over the union of both runs
        writeBatch("b.txt", (50 until 80).map(i => s"row$i"))
        incarnation(second)
        assert(received.sorted === (0 until 80).map(i => s"row$i").sorted,
          s"$first -> $second: got ${received.size} rows " +
            "(duplicates or loss across restart)")
    }
  }

  test("pii scan composes unchanged with a stream (per-row map, no state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "mail alice@example.com and 10.0.0.1"),
      (2L, "a perfectly clean row"),
      (3L, "call 555-123-4567"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.Curation.piiScanOf(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    mem.addData(rows.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("pii_stream").collect()
      .map(_.toSeq).toSet
    val batch = graft.operators.Curation.piiScanOf(
        rows.toDF("doc_id", "text")).collect().map(_.toSeq).toSet
    assert(batch.nonEmpty && streamed === batch,
      "the redaction map must be identical streamed and batch")
  }

  test("q117 per-commit trigger duration stays under the pinned bound at sf0.1") {
    // The cross-modal stream's scale contract: each commit pays the
    // BATCH's signature builds + three banded probes + one contraction
    // over (forest ∪ new edges) — measured ~2.5-3 s per commit at sf0.1
    // (13.7 s total over 4 commits + the ~3 s lifecycle floor). Two
    // regression classes this net catches: re-pairing the accumulated
    // corpus per commit (all-pairs instead of banded probes), and
    // contracting the accumulated PAIR LIST instead of the star forest —
    // both slow EVERY commit, so bounding the MINIMUM over post-first
    // commits at 10 s must trip; a single co-tenant burst cannot flake it.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name != null && e.progress.name.startsWith("q117_xmodal"))
          progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val sf01 = "/root/testdata/sf0.1"
    assume(new java.io.File(sf01, "documents.parquet").exists(),
      s"sf0.1 fixture not staged at $sf01")
    spark.streams.addListener(listener)
    try {
      val out = Continuous.streamedCrossModalDedup(spark, sf01)
      assert(out.count() > 0)
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (progress.size < 4 && System.nanoTime() < deadline)
        Thread.sleep(100)
      import scala.jdk.CollectionConverters._
      val commits = progress.asScala.filter(_.numInputRows > 0).toSeq
      assert(commits.size >= 2,
        s"expected >= 2 data commits, saw ${progress.size} progress events")
      val durations = commits.sortBy(_.batchId).map { p =>
        val ms = p.durationMs.get("triggerExecution")
        assert(ms != null, s"commit ${p.batchId} missing triggerExecution")
        ms.longValue
      }
      assert(durations.drop(1).min < 10000L,
        s"every post-first cross-modal commit breached the 10s bound " +
          s"(${durations.mkString(",")}ms) — per-commit work is no longer " +
          "batch-sized (steady state is ~3s)")
      // the growth-with-history class (contracting the accumulated PAIR
      // LIST instead of the star forest) shows most strongly in the FINAL
      // commit and can leave the minimum intact — bound the median (robust
      // to one co-tenant burst) and the last commit (looser: one burst CAN
      // land on it) separately
      val post = durations.drop(1).sorted
      assert(post(post.size / 2) < 10000L,
        s"median post-first commit breached 10s (${durations.mkString(",")}ms)" +
          " — per-commit cost is growing with history")
      assert(durations.last < 20000L,
        s"final commit breached 20s (${durations.mkString(",")}ms) — " +
          "per-commit cost is growing with accumulated history (the " +
          "accumulated-pair-list regression class)")
    } finally spark.streams.removeListener(listener)
  }

  test("q88 per-commit trigger duration stays under the pinned bound at sf0.1") {
    // The funnel's scale contract: each commit pays the INCREMENT's pair
    // join against the accumulated index (steady ~2.5 s per commit at
    // sf0.1 after the intersection rewrite — 11 s total over 4 commits +
    // lifecycle). A regression that re-pairs the accumulated corpus
    // per commit (the all-pairs mistake the incremental design exists to
    // avoid) slows EVERY commit, so bounding the MINIMUM over post-first
    // commits at 10 s must trip — while a single co-tenant burst in a
    // shared test run cannot flake it.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name != null && e.progress.name.startsWith("q88_funnel"))
          progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val sf01 = "/root/testdata/sf0.1"
    assume(new java.io.File(sf01, "documents.parquet").exists(),
      s"sf0.1 fixture not staged at $sf01")
    spark.streams.addListener(listener)
    try {
      val run = Continuous.freshRun("funnel")(
        Continuous.runStreamedCurationFunnel(spark, sf01, _, _))
      assert(run.snapshots.size >= 2)
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (progress.size < 4 && System.nanoTime() < deadline)
        Thread.sleep(100)
      import scala.jdk.CollectionConverters._
      val commits = progress.asScala.filter(_.numInputRows > 0).toSeq
      assert(commits.size >= 2,
        s"expected >=2 data commits, saw ${progress.size} progress events")
      val durations = commits.sortBy(_.batchId).map { p =>
        val ms = p.durationMs.get("triggerExecution")
        assert(ms != null, s"commit ${p.batchId} missing triggerExecution")
        ms.longValue
      }
      assert(durations.drop(1).min < 10000L,
        s"every post-first funnel commit breached the 10s bound " +
          s"(${durations.mkString(",")}ms) — the per-commit pair join is " +
          "no longer increment-sized (steady state is ~2.5s)")
    } finally spark.streams.removeListener(listener)
  }

  test("q88: streamed curation funnel converges to the batch funnel") {
    val run = Continuous.freshRun("funnel")(
      Continuous.runStreamedCurationFunnel(spark, sfDir, _, _))
    assert(run.snapshots.size >= 2,
      s"expected multiple funnel commits, got ${run.snapshots.size}")
    assert(run.snapshots.last.progress >= 1.0)
    // cumulative emission: per-source n_docs never shrinks across commits
    def bySource(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    run.snapshots.sliding(2).foreach {
      case Seq(a, b) =>
        val (ca, cb) = (bySource(a.rows), bySource(b.rows))
        ca.foreach { case (s, n) =>
          assert(cb.getOrElse(s, 0L) >= n, s"n_docs shrank for source $s") }
      case _ =>
    }
    // the final cumulative frame equals the batch funnel bit for bit: the
    // min-id exact rule and larger-id near-dup loser rule are arrival-
    // order-independent, and the fixture's dfs never reach the cap
    val streamed = run.snapshots.last.rows.map(_.toSeq)
      .sortBy(_.head.toString)
    val batch = graft.operators.Curation.curationFunnel(spark, sfDir)
      .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    assert(batch.nonEmpty && streamed === batch)
  }

  test("online aggregation emits progressive snapshots, final frame exact") {
    import spark.implicits._
    // stage the events table as a multi-file bounded input
    val dir = "target/tmp/online_in"
    val src = Tables.events(spark, sfDir)
    src.repartition(4).write.mode("overwrite").parquet(dir)
    val snaps = Continuous.onlineAggregate(
      spark, dir, src.schema,
      df => df.groupBy($"event_type").agg(count(lit(1)).as("n")),
      Seq("event_type"))
    assert(snaps.nonEmpty)
    assert(snaps.last.progress === 1.0)
    // monotone progress and monotone cumulative counts
    snaps.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a.progress <= b.progress)
        val ca = a.rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        val cb = b.rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        ca.foreach { case (k, v) => assert(cb.getOrElse(k, 0L) >= v) }
      case _ =>
    }
    // final snapshot == batch answer
    val batch = src.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fin = snaps.last.rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fin === batch)
  }

  /** q99's batch twin, directly from the band/digest definitions: one
    * (doc_id, exact_dup, band_dup, keep) row per incoming doc (doc_id % 10
    * == 0), ordered by doc_id. */
  private def q99Twin: Seq[(Long, Int, Int, Int)] = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val bands = graft.operators.Dedup.bandBuckets(
      graft.operators.Dedup.signaturesOf(
        graft.operators.Dedup.shinglesOf(docs)))
    def precedent = (col("o.doc_id") % 10 =!= 0) ||
      (col("o.doc_id") < col("n.doc_id"))
    val hx = docs.select($"doc_id", md5($"text").as("h"))
    val ex = hx.as("n").filter($"n.doc_id" % 10 === 0)
      .join(hx.as("o"), $"n.h" === $"o.h" &&
        $"n.doc_id" =!= $"o.doc_id" && precedent, "left_semi")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val bd = bands.as("n").filter($"n.doc_id" % 10 === 0)
      .join(bands.as("o"), $"n.band" === $"o.band" &&
        $"n.bh" === $"o.bh" && $"n.doc_id" =!= $"o.doc_id" && precedent,
        "left_semi")
      .select($"doc_id").distinct().collect().map(_.getLong(0)).toSet
    docs.filter($"doc_id" % 10 === 0).select($"doc_id").collect()
      .map(_.getLong(0)).toSeq.sorted.map { id =>
        val (e, b) = (if (ex(id)) 1 else 0, if (bd(id)) 1 else 0)
        (id, e, b, if (e + b > 0) 0 else 1)
      }
  }

  test("q99: streamed index dedup is batch-boundary-free and matches its batch twin") {
    def verdicts(chunks: Int) =
      Continuous.streamedIndexDedup(spark, sfDir, chunks = chunks)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    val streamed = verdicts(5)
    // chunk-boundary independence: the SAME verdict frame whatever the
    // replay's batch size — the per-doc-state design contract
    assert(verdicts(2) === streamed,
      "verdicts must not depend on micro-batch boundaries")
    val twin = q99Twin
    assert(streamed.map(_._1) === twin.map(_._1), "one row per incoming doc")
    streamed.zip(twin).foreach { case (got, want) =>
      assert(got === want, s"verdict (doc_id, exact_dup, band_dup, keep)") }
    assert(streamed.exists(_._4 == 0) && streamed.exists(_._4 == 1),
      "fixture must exercise both verdicts")
  }

  test("q99: an increment with no incoming docs returns an empty " +
      "verdict frame") {
    // a corpus with no doc_id % 10 == 0 row: every replay chunk is
    // empty, no commit writes kind=verdicts, and the final read must
    // degrade to the empty 4-column frame instead of path-not-found
    val fixture = "target/tmp/q99_no_increment"
    Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$fixture/documents.parquet")
    try {
      val out = Continuous.streamedIndexDedup(spark, fixture)
      assert(out.schema.map(f => f.name -> f.dataType.simpleString) ===
        Seq("doc_id" -> "bigint", "exact_dup" -> "int",
          "band_dup" -> "int", "keep" -> "int"))
      assert(out.collect().isEmpty)
    } finally rmrf(fixture)
  }

  test("q117: streamed cross-modal dedup converges to the batch twin " +
      "on any chunking") {
    def decisions(chunks: Int) =
      Continuous.streamedCrossModalDedup(spark, sfDir, chunks = chunks)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    val streamed = decisions(4)
    // batch-boundary independence: the star-forest state makes the final
    // frame a pure function of the edge UNION, so any chunking agrees
    assert(decisions(2) === streamed,
      "decisions must not depend on micro-batch boundaries")
    // and the edge union is the stream-tier batch twin's graph exactly
    val twin = graft.operators.Curation.crossModalStreamTwin(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    assert(streamed === twin, "final frame must equal the batch twin")
    // the fixture must exercise the machinery: drops, keeps, and paired
    // docs in each modality
    assert(streamed.exists(_._3 == 0) && streamed.exists(_._3 == 1))
    assert(streamed.exists(_._4 >= 1), "some doc must be paired somewhere")
    // clusters must be real merges (some representative owns >= 2 docs)
    val sizes = streamed.groupBy(_._2).view.mapValues(_.size)
    assert(sizes.values.max >= 2, "fixture must produce a non-trivial cluster")
  }

  test("q117: commits stay batch-sized and the stream makes >= 2 of them") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name != null && e.progress.name.startsWith("q117_xmodal"))
          progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val out = Continuous.streamedCrossModalDedup(spark, sfDir, chunks = 4)
      val n = out.count()
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (progress.size < 4 && System.nanoTime() < deadline)
        Thread.sleep(100)
      import scala.jdk.CollectionConverters._
      val commits = progress.asScala.filter(_.numInputRows > 0).toSeq
      assert(commits.size === 4,
        s"expected one data commit per staged chunk, saw " +
          commits.sortBy(_.batchId)
            .map(p => s"b${p.batchId}=${p.numInputRows}").mkString(","))
      // per-commit input must be CHUNK-sized, not corpus-sized — the
      // incremental contract (a trigger that merged the staged files
      // would blow this bound). The commit's plan references the streamed
      // batch TWICE by design (probe side ∪ index side), so the leaf
      // metric double-counts: bound at 2× chunk, not 1×.
      val perChunk = (n + 3) / 4
      commits.foreach(p => assert(p.numInputRows <= 2 * perChunk + 2,
        s"commit ${p.batchId} ingested ${p.numInputRows} rows " +
          s"(> 2x chunk ${2 * perChunk + 2})"))
    } finally spark.streams.removeListener(listener)
  }

  test("q88 funnel: trigger width is a knob (commit count and state-" +
      "write widths track it), losers under the batch keys") {
    // batch twin for the final frames (q88's oracle contract)
    val batch = graft.operators.Curation.curationFunnel(spark, sfDir)
      .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    def parquets(p: java.io.File) = {
      val fs = p.listFiles()
      if (fs == null) 0 else fs.count(_.getName.endsWith(".parquet"))
    }
    // the batch keys b<id> of a run and the loser files under each
    def loserFiles(root: String) =
      new java.io.File(root).listFiles().filter(_.getName.matches("b\\d+"))
        .map(k => k.getName ->
          parquets(new java.io.File(k, "state/kind=losers")))
        .toSeq.sortBy(_._1.drop(1).toInt)
    def funnel(filesPerTrigger: Int)(check: (Continuous.FunnelRun,
        Seq[(String, Int)]) => Unit): Unit =
      Continuous.freshRun("funnel") { (root, ckpt) =>
        val run = Continuous.runStreamedCurationFunnel(spark, sfDir, root,
          ckpt, filesPerTrigger = filesPerTrigger)
        check(run, loserFiles(root))
        // one df gate, re-aggregated from the index: no run keeps df/len
        // delta stores
        for (store <- Seq("df", "len"))
          assert(!new java.io.File(s"$root/$store").exists(),
            s"$store delta store under $root")
        assert(run.snapshots.last.rows.map(_.toSeq).toSeq
          .sortBy(_.head.toString) === batch)
      }
    // width 1 over the 8 staged chunks: 8 commits, each writing at most
    // ONE increment-width loser file under its own key — the write width
    // tracks the trigger knob, not the shuffle setting
    funnel(1) { (run, losers) =>
      assert(run.snapshots.size === 8)
      assert(losers.map(_._1) === (0 until 8).map(i => s"b$i"))
      assert(losers.forall(_._2 <= 1) && losers.exists(_._2 == 1),
        s"loser files per key: $losers")
    }
    // width 3: ceil(8/3) = 3 commits, at most 3 loser files per key
    funnel(3) { (run, losers) =>
      assert(run.snapshots.size === 3)
      assert(losers.map(_._1) === Seq("b0", "b1", "b2"))
      assert(losers.forall(_._2 <= 3), s"loser files per key: $losers")
    }
    // the default run
    funnel(2)((_, _) => ())
  }

  /** Runs `run` on fresh dirs, deletes the last commit-log entry — a crash
    * after the batch's body wrote its state, before Spark committed it —
    * lets `tamper` touch the state (root, uncommitted batch id), and runs
    * again on the same dirs, so Spark re-runs that batch. Returns both
    * runs' results. */
  private def rerunLastBatch[T](run: (String, String) => T,
      tamper: (String, Long) => Unit = (_, _) => ()): (T, T) = {
    val root = s"target/tmp/rerun${System.nanoTime()}"
    val ckpt = s"$root-ckpt"
    try {
      val first = run(root, ckpt)
      val commits = new java.io.File(ckpt, "commits")
      val last = commits.list().filter(_.matches("\\d+")).map(_.toLong).max
      assert(last >= 1, s"expected several commits, got ${last + 1}")
      new java.io.File(commits, last.toString).delete()
      new java.io.File(commits, s".$last.crc").delete()
      tamper(root, last)
      (first, run(root, ckpt))
    } finally { rmrf(root); rmrf(ckpt) }
  }

  test("streamed commits: a re-run batch overwrites its own key, a torn " +
      "write's stray file included") {
    import spark.implicits._
    val staged = s"target/tmp/commits_in${System.nanoTime()}"
    try {
      for (i <- 0 until 4)
        (i * 10L until i * 10L + 10).toDF("v").coalesce(1)
          .write.mode("append").parquet(staged)
      val schema = spark.read.parquet(staged).schema
      def total(root: String, ckpt: String) =
        Continuous.streamedCommits(spark, "commits_spec", staged, 1, root,
            ckpt) { c => c.write(1, "rows" -> c.batch) }
          .read("rows", schema).agg(count(lit(1)), sum($"v")).head()
          .toSeq
      val (first, rerun) = rerunLastBatch(total, (root, id) => {
        // a torn earlier attempt: an extra data file in the batch's key
        val dir = new java.io.File(s"$root/b$id/state/kind=rows")
        val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath,
          new java.io.File(dir, "part-stray.parquet").toPath)
      })
      assert(first === Seq(40L, 780L))
      assert(rerun === first, "the re-run batch must replace its key")
    } finally rmrf(staged)
  }

  test("q88: a re-run last batch leaves the final funnel unchanged") {
    val batch = graft.operators.Curation.curationFunnel(spark, sfDir)
      .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    val (first, rerun) = rerunLastBatch((root, ckpt) =>
      Continuous.runStreamedCurationFunnel(spark, sfDir, root, ckpt)
        .snapshots.last.rows.map(_.toSeq).sortBy(_.head.toString))
    assert(first === batch)
    assert(rerun === batch)
  }

  test("q99: a re-run last batch leaves the verdict frame unchanged") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    val (first, rerun) = rerunLastBatch((root, ckpt) =>
      rows(Continuous.runStreamedIndexDedup(spark, sfDir, root, ckpt)))
    assert(first === rows(Continuous.streamedIndexDedup(spark, sfDir)))
    assert(first === q99Twin)
    assert(rerun === q99Twin)
  }

  test("q117: a re-run last batch leaves the decision frame unchanged") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val twin = rows(
      graft.operators.Curation.crossModalStreamTwin(spark, sfDir))
    val (first, rerun) = rerunLastBatch((root, ckpt) =>
      rows(Continuous.runStreamedCrossModalDedup(spark, sfDir, root, ckpt)))
    assert(first === twin)
    assert(rerun === twin)
  }

  test("q51/q52/q54 fold their commits on the driver: 4 data commits, " +
      "no state operator") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val prefixes = Seq("q51_stream_", "q52_online_", "q54_cq_")
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name != null &&
            prefixes.exists(e.progress.name.startsWith)) progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    // jobs by job group: the replay's commits run on the stream thread
    // under the query's own group, so any job in the CALLER's group came
    // from the driver side of the fold (staging aside, which q51/q52 pay
    // first) — `finish` over the local relation must launch none
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    spark.streams.addListener(listener)
    spark.sparkContext.addSparkListener(jobs)
    try {
      assert(Continuous.streamedWindowedCounts(spark, sfDir).count() > 0)
      assert(Continuous.streamedOnlineSummary(spark, sfDir).count() > 0)
      spark.sparkContext.setJobGroup("fold-caller", "q54 fold")
      val q54 = try Continuous.streamedCqMonitor(spark, sfDir)
        finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.setJobGroup("fold-sentinel", "drain")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      // listener events arrive in order: once the sentinel is seen, every
      // job the fold started has been reported
      val drain = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (!groups.contains("fold-sentinel") && System.nanoTime() < drain)
        Thread.sleep(100)
      assert(groups.contains("fold-sentinel"))
      assert(!groups.contains("fold-caller"),
        "the fold's driver side (finish, final frame) launched a Spark job")
      assert(q54.count() > 0)
      import scala.jdk.CollectionConverters._
      def data(prefix: String) = progress.asScala.toSeq
        .filter(p => p.name.startsWith(prefix) && p.numInputRows > 0)
      // the listener bus is async — wait for every commit event to drain
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (prefixes.exists(data(_).size < 4) && System.nanoTime() < deadline)
        Thread.sleep(100)
      prefixes.foreach { prefix =>
        val commits = data(prefix)
        assert(commits.size === 4,
          s"$prefix: expected 4 data commits (8 staged files, 2 per trigger)")
        commits.foreach(p => assert(p.stateOperators.isEmpty,
          s"$prefix commit ${p.batchId} carries a state operator"))
      }
    } finally {
      spark.streams.removeListener(listener)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("the driver fold refuses a measure it cannot add exactly, naming it") {
    import spark.implicits._
    val dir = "target/tmp/fold_refuse_in"
    val src = Tables.events(spark, sfDir)
    src.limit(10).write.mode("overwrite").parquet(dir)
    val err = intercept[IllegalArgumentException] {
      Continuous.onlineAggregate(spark, dir, src.schema,
        _.groupBy($"event_type").agg(count(lit(1)).as("n"),
          sum($"value").as("sum_v")), Seq("event_type"))
    }
    assert(err.getMessage.contains("'sum_v'") &&
      err.getMessage.contains("double"), err.getMessage)
  }

  test("a fold over a replay dir with no data files is an empty frame " +
      "in the finished schema (q51- and q52-shaped)") {
    import spark.implicits._
    val dir = "target/tmp/fold_empty_in"
    rmrf(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    new java.io.File(dir, "_SUCCESS").createNewFile()
    def dec(c: String) = col(c).cast("decimal(18,2)")
    val q51 = Continuous.foldedFrame(spark, dir, Tables.events(spark, sfDir).schema,
      "fold_empty_q51",
      _.groupBy(window($"ts", "5 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"), sum(dec("value")).as("sum_v"))
        .select($"window.start".as("w_start"), $"event_type", $"n", $"sum_v"),
      Seq("w_start", "event_type"),
      _.withColumn("sum_v", $"sum_v".cast("double")))
    assert(q51.collect().isEmpty)
    assert(q51.schema.map(f => f.name -> f.dataType.simpleString) === Seq(
      "w_start" -> "timestamp", "event_type" -> "string", "n" -> "bigint",
      "sum_v" -> "double"))
    val q52 = Continuous.foldedFrame(spark, dir,
      Tables.lineitem(spark, sfDir).schema, "fold_empty_q52",
      _.groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum(dec("l_quantity")).as("sum_qty"),
          sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order")),
      Seq("l_returnflag", "l_linestatus"),
      _.withColumns(Seq("sum_qty", "sum_disc_price")
        .map(c => c -> col(c).cast("double")).toMap))
    assert(q52.collect().isEmpty)
    assert(q52.schema.map(f => f.name -> f.dataType.simpleString) === Seq(
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "sum_qty" -> "double", "sum_disc_price" -> "double",
      "count_order" -> "bigint"))
  }

  test("q51/q52/q54: every data commit is one labelled partial-aggregate " +
      "job of one stage that writes no shuffle bytes") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
    import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
    import scala.jdk.CollectionConverters._
    val prefixes = Seq("q51_stream_", "q52_online_", "q54_cq_")
    val progress =
      new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val queries = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name != null &&
            prefixes.exists(e.progress.name.startsWith)) progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    // a commit's jobs run on the stream thread under the query's own job
    // group (its runId), so the group ties every job to its stream
    final case class Job(group: String, desc: String, stages: Seq[Int])
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val shuffleWrite = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val scheduler = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties)
          .flatMap(p => Option(p.getProperty(k))).getOrElse("")
        jobs.add(Job(prop("spark.jobGroup.id"),
          prop("spark.job.description"), e.stageIds))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        shuffleWrite.put(e.stageInfo.stageId,
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    spark.streams.addListener(queries)
    spark.sparkContext.addSparkListener(scheduler)
    try {
      assert(Continuous.streamedWindowedCounts(spark, sfDir).count() > 0)
      assert(Continuous.streamedOnlineSummary(spark, sfDir).count() > 0)
      assert(Continuous.streamedCqMonitor(spark, sfDir).count() > 0)
      def data(prefix: String) = progress.asScala.toSeq
        .filter(p => p.name.startsWith(prefix) && p.numInputRows > 0)
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (prefixes.exists(data(_).size < 4) && System.nanoTime() < deadline)
        Thread.sleep(100)
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      prefixes.foreach { prefix =>
        val commits = data(prefix)
        assert(commits.size === 4, s"$prefix: expected 4 data commits")
        val name = commits.head.name
        val runIds = commits.map(_.runId.toString).distinct
        assert(runIds.size === 1, s"$name: one run")
        val streamJobs = jobs.asScala.toSeq.filter(_.group == runIds.head)
        assert(streamJobs.map(_.desc).distinct === Seq(
          s"$name: partial aggregate"), s"$name ran other jobs")
        assert(streamJobs.size === commits.size,
          s"$name: one job per data commit, got ${streamJobs.size}")
        streamJobs.foreach { j =>
          assert(j.stages.size === 1, s"$name: a commit job of ${j.stages}")
          assert(Option(shuffleWrite.get(j.stages.head)) === Some(0L),
            s"$name: stage ${j.stages.head} wrote shuffle bytes")
        }
      }
    } finally {
      spark.streams.removeListener(queries)
      spark.sparkContext.removeSparkListener(scheduler)
    }
  }

  test("a row-level partial and its groupBy form fold to identical " +
      "snapshots at every progress point (null and decimal(38,4) measures)") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dir = "target/tmp/fold_rows_in"
    rmrf(dir)
    new java.io.File(dir).mkdirs()
    def bd(s: String) = new java.math.BigDecimal(s)
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("price", DecimalType(18, 2)),
      StructField("disc", DecimalType(18, 2))))
    // four chunks, replayed oldest-first: "c" never has a price, "b" gets
    // its first price in chunk 2, "d" has a null discount (null product)
    val chunks = Seq(
      Seq(Row("a", bd("10.25"), bd("0.05")), Row("b", null, bd("0.10")),
        Row("c", null, null), Row("a", bd("1.00"), bd("0.50"))),
      Seq(Row("b", null, bd("0.02")), Row("c", null, bd("0.01")),
        Row("a", bd("9999999999999999.99"), bd("0.07"))),
      Seq(Row("b", bd("3.33"), bd("0.03")), Row("d", bd("0.01"), null)),
      Seq(Row("a", bd("0.01"), bd("0.99")), Row("b", bd("7.77"), bd("0.00")),
        Row("c", null, null)))
    val base = System.currentTimeMillis() - 600000
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"target/tmp/fold_rows_tmp$i"
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$dir/chunk$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
      rmrf(tmp)
    }
    val rowLevel = (df: DataFrame) => df.select(col("k"), lit(1L).as("n"),
      col("price").as("s"),
      (col("price") * (lit(1).cast("decimal(18,2)") - col("disc"))).as("p"))
    val grouped = rowLevel.andThen(_.groupBy(col("k"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        sum(col("p")).as("p")))
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      schema)
    assert(rowLevel(empty).schema("p").dataType === DecimalType(38, 4))
    val byRow = Continuous.onlineAggregate(spark, dir, schema, rowLevel,
      Seq("k"))
    val byGroup = Continuous.onlineAggregate(spark, dir, schema, grouped,
      Seq("k"))
    def asSet(rows: Seq[Row]) = rows.map(_.toSeq).toSet
    assert(byRow.size === 4 && byGroup.size === 4)
    byRow.zip(byGroup).foreach { case (r, g) =>
      assert(r.progress === g.progress)
      assert(asSet(r.rows) === asSet(g.rows), s"progress ${r.progress}")
    }
    val fin = byRow.last.rows.map(r => r.getString(0) -> r).toMap
    assert(fin("c").getLong(1) === 3L && fin("c").isNullAt(2) &&
      fin("c").isNullAt(3), "an all-null measure stays null")
    assert(fin("b").getDecimal(2) === bd("11.10"))
    assert(fin("d").isNullAt(3), "a null product adds nothing")
  }

  test("a task partial wider than maxRows fails the stream, naming the " +
      "query and the commit") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = "target/tmp/fold_cap_in"
    val schema = StructType(Seq(StructField("k", StringType)))
    // one file, so one task holds both keys
    spark.createDataFrame(java.util.Arrays.asList(Row("a"), Row("b")), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Continuous.onlineAggregate(spark, dir, schema,
        _.select(col("k"), lit(1L).as("n")), Seq("k"), maxSnapshotRows = 1)
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
      .mkString("\n")
    assert("""online_\d+ commit 0 partial exceeds maxRows=1""".r
      .findFirstIn(msgs).isDefined, msgs)
  }
}
