package graft

import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** A14 — the reference's Counters/Reporter.incrCounter surface
  * (mapred/Counters.java:51) on Spark primitives: accumulators for
  * user-code metrics, `Dataset.observe` for declarative per-query metrics. */
class ObservabilitySpec extends SparkSpec {

  test("accumulators count records flowing through user code") {
    import spark.implicits._
    val seen: LongAccumulator = spark.sparkContext.longAccumulator("seen")
    val bad: LongAccumulator = spark.sparkContext.longAccumulator("bad")
    val n = Tables.orders(spark, sfDir).select($"o_totalprice").as[Double]
      .map { p =>
        seen.add(1)
        if (p < 0) bad.add(1) // bad-record counting (SkipBadRecords shape)
        p
      }.filter(_ >= 0).count()
    assert(seen.value === Tables.orders(spark, sfDir).count())
    assert(bad.value === 0)
    assert(n === seen.value - bad.value)
  }

  test("observe attaches metrics to a query") {
    import spark.implicits._
    @volatile var observed: Option[(Long, Double)] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        qe.observedMetrics.get("order_metrics").foreach { row =>
          observed = Some((row.getAs[Long]("n"), row.getAs[Double]("max_price")))
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = Tables.orders(spark, sfDir)
        .observe("order_metrics", count(lit(1)).as("n"),
          max($"o_totalprice").as("max_price"))
      df.write.mode("overwrite").format("noop").save()
      var tries = 0
      while (observed.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(observed.nonEmpty, "observed metrics not delivered")
      assert(observed.get._1 === Tables.orders(spark, sfDir).count())
    } finally spark.listenerManager.unregister(listener)
  }

  test("StageProbe refuses modes it does not implement") {
    // the mode table is the accepted set: a retired mode name fails
    // before any session is built
    for (mode <- Seq("prefixcand", "sweepcompare", "commitgrowth",
        "deltastate", "sketchcal", "funnelgate", "funnelop")) {
      val e = intercept[IllegalArgumentException](
        StageProbe.main(Array(mode)))
      assert(e.getMessage.contains(s"unknown stage: $mode"))
    }
  }

  test("the priced pair pipeline labels its phases' jobs and restores " +
      "the caller's job description") {
    import scala.jdk.CollectionConverters._
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
        ()
      }
    }
    val sc = spark.sparkContext
    StageMemo.clear() // the frame build runs only on a memo miss
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      assert(graft.operators.Dedup.ngramJaccardPrefix(spark, sfDir)
        .count() >= 0)
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      val seen = descs.asScala.toSet
      Seq("frame build", "verify pricing").foreach(phase =>
        assert(seen.contains(s"ngramJaccardPrefix: $phase"), seen))
      assert(seen.contains("caller"),
        s"the returned frame's jobs run under the caller's label: $seen")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
