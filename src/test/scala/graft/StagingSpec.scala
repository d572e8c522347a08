package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit}

import graft.streaming.Continuous

/** The one fixture-staging rule ([[Staging]]): every staged artifact is
  * keyed by its derivation stamp plus the identity of the fixture tables
  * it derives from, and fixture schemas are cached per session under the
  * same identity. */
class StagingSpec extends SparkSpec {

  /** A private copy of the sf0.001 documents table, so rewriting it in
    * place touches nothing another spec reads. */
  private val fixture = "target/tmp/staging_fixture"
  private def writeDocuments(extra: Boolean): Unit = {
    val docs = Tables.documents(spark, sfDir)
    (if (extra) docs.withColumn("extra", lit(1)) else docs)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$fixture/documents.parquet")
  }

  private def artifact(name: String) =
    s"target/streamstage/${Staging.slug(fixture)}/$name"
  /** The fixture and every artifact staged from it. */
  private def cleanUp(): Unit = { rmrf(fixture); rmrf(artifact("")) }
  private def marker(name: String) =
    new String(Files.readAllBytes(Paths.get(artifact(name), "_GRAFT_STAGED")),
      UTF_8)
  /** A hidden file planted in an artifact dir: it survives exactly as
    * long as the artifact is not rebuilt. */
  private def plant(name: String): Unit = {
    Files.write(Paths.get(artifact(name), "_sentinel"), Array[Byte](1))
    ()
  }
  private def planted(name: String): Boolean =
    Files.exists(Paths.get(artifact(name), "_sentinel"))

  /** Spark jobs `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.sql.graft.Bridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  /** The four fixture-staged families over the fixture's documents: the
    * q88 replay copy, q99's seed and ordered chunks, and the q94 index. */
  private val families =
    Seq("replay_documents", "lshseed", "lshinc_c2", "mod10")
  private def stageAll(): Unit = {
    Continuous.replayOf(spark, fixture, "documents")
    Continuous.streamedIndexDedup(spark, fixture, chunks = 2)
    operators.Dedup.indexDedup(spark, fixture)
    ()
  }

  test("a fixture rewritten in place re-stages every artifact and " +
      "re-infers its schema; an unchanged one rebuilds nothing") {
    try {
      writeDocuments(extra = false)
      stageAll()
      assert(!Tables.documents(spark, fixture).columns.contains("extra"))
      val before = families.map(marker)
      families.foreach(plant)
      // unchanged fixture, unchanged derivations: nothing rebuilds, and a
      // fresh replay copy reads no fixture
      stageAll()
      assert(families.forall(planted), "an unchanged artifact was rebuilt")
      assert(families.map(marker) === before)
      assert(jobsOf(Continuous.replayOf(spark, fixture, "documents")) === 0)
      // the same table rewritten in place: every artifact restages under
      // the new identity, and the next read sees the new schema
      writeDocuments(extra = true)
      stageAll()
      val now = Staging.identity(fixture, "documents")
      for ((name, old) <- families.zip(before)) {
        assert(!planted(name), s"$name was not re-staged")
        assert(marker(name) !== old)
        assert(marker(name).endsWith(s"\n$now"), s"$name marker")
      }
      assert(Tables.documents(spark, fixture).columns.contains("extra"))
      assert(Continuous.replayOf(spark, fixture, "documents")
        .schema(spark).fieldNames.contains("extra"))
    } finally cleanUp()
  }

  test("a changed derivation stamp rebuilds the shipped fixture index") {
    try {
      writeDocuments(extra = false)
      val verdicts = operators.Dedup.indexDedup(spark, fixture).collect()
      val current = marker("mod10")
      plant("mod10")
      // the index as an older derivation of the index code staged it
      val (fs, p) = Engine.hfs(s"${artifact("mod10")}/_GRAFT_STAGED")
      val out = fs.create(p, true)
      try out.write(current.replaceFirst("^[^\n]*", "stale-v0").getBytes(UTF_8))
      finally out.close()
      assert(operators.Dedup.indexDedup(spark, fixture).collect() === verdicts)
      assert(!planted("mod10"), "a stale-derivation index was served")
      assert(marker("mod10") === current)
    } finally cleanUp()
  }

  test("staged keeps one dir per variant and rebuilds only on a new key") {
    try {
      writeDocuments(extra = false)
      val builds = new java.util.concurrent.atomic.AtomicInteger()
      def stage(derivation: String, variant: String) =
        Staging.staged(spark, fixture, "lshinc", derivation,
          variant = variant) { out =>
          builds.incrementAndGet()
          spark.range(3).write.parquet(s"$out/rows")
        }
      val a = stage("d1", "_a")
      val b = stage("d1", "_b")
      assert(a.path !== b.path)
      stage("d1", "_a"); stage("d1", "_b")
      assert(builds.get === 2, "a fresh artifact was rebuilt")
      stage("d2", "_a")
      assert(builds.get === 3, "a changed derivation must rebuild")
      stage("d1", "_b")
      assert(builds.get === 3, "another variant's dir must be untouched")
      intercept[IllegalArgumentException](
        Staging.staged(spark, fixture, "unregistered", "d1")(_ => ()))
    } finally cleanUp()
  }

  test("staging 5 ordered chunks runs the chunking window in one plan") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    import org.apache.spark.sql.execution.QueryExecution
    val out = "target/tmp/ordered_chunks_once"
    rmrf(out)
    val windowed = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.exists(_.isInstanceOf[Window])) {
          windowed.incrementAndGet(); ()
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val docs = Tables.documents(spark, sfDir)
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      Continuous.stageOrderedChunks(docs, 5)(out)
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    try {
      assert(windowed.get === 1, "plans with a Window node")
      val ids = (0 until 5).map(i => spark.read
        .parquet(s"$out/chunk$i.parquet").collect().map(_.getAs[Long]("doc_id"))
        .toSeq)
      assert(ids.flatten.sorted === docs.collect()
        .map(_.getAs[Long]("doc_id")).toSeq.sorted, "every doc, once")
      ids.sliding(2).foreach { case Seq(a, b) =>
        assert(a.max < b.min, "chunks ascend by doc_id") }
    } finally rmrf(out)
  }

  test("a second Tables.load of an unchanged fixture runs no Spark job") {
    try {
      writeDocuments(extra = false)
      Tables.documents(spark, fixture).schema
      assert(jobsOf {
        Tables.documents(spark, fixture).schema
        Tables.documents(spark, fixture).filter(col("doc_id") < 0)
          .queryExecution.optimizedPlan
        ()
      } === 0)
    } finally cleanUp()
  }
}
