package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.StageMemo.{Key, Stage, Stages}
import graft.operators.Dedup

/** StageMemo lifecycle: memoization, LRU eviction under the entry budget
  * (evicted stages are released, not leaked), dependency edges, fixture
  * identity, explicit clear(), and the stage registry. */
class StageMemoSpec extends SparkSpec {

  /** A test stage over no fixture table: its entries never go stale. */
  private val st = Stage("st", Nil)

  /** True once the checkpoint under `df` is no longer pinned. */
  private def released(df: DataFrame): Boolean = {
    val rdd = df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd }.get
    !spark.sparkContext.getPersistentRDDs.contains(rdd.id)
  }

  test("memoizes: the build runs once per key and stays pinned") {
    StageMemo.clear()
    import spark.implicits._
    var builds = 0
    def get() = StageMemo(spark, st("memo-once")) {
      builds += 1; Seq(1, 2, 3).toDF("x")
    }
    val a = get()
    val b = get()
    assert(builds === 1)
    assert(a eq b)
    assert(a.storageLevel.useMemory || a.storageLevel.useDisk)
    StageMemo.clear()
    assert(StageMemo.size === 0)
    assert(a.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("stats window: hits, misses, evictions, and exclusive nested build time") {
    import spark.implicits._
    StageMemo.clear()
    StageMemo.statsSnapshot(reset = true)
    def slowDf(k: String, ms: Long) = { Thread.sleep(ms); Seq(k).toDF("x") }
    // nested build: the outer stage builds the inner one inside its own
    // build expression (the intersection-builds-shingles shape)
    StageMemo(spark, st("outer")) {
      StageMemo(spark, st("inner"))(slowDf("i", 300))
      slowDf("o", 30)
    }
    StageMemo(spark, st("inner"))(slowDf("i", 300)) // memo hit — no sleep
    val s = StageMemo.statsSnapshot()
    assert(s.hits === 1 && s.misses === 2 && s.evictions === 0)
    val (innerN, innerMs) = s.builds("st:inner")
    val (outerN, outerMs) = s.builds("st:outer")
    assert(innerN === 1 && outerN === 1)
    assert(innerMs >= 300, s"inner build ms $innerMs")
    // exclusive attribution: the outer key must NOT absorb the nested
    // inner build (per-key ms then sum to the window's true build total)
    assert(outerMs < 300, s"outer exclusive ms $outerMs includes the child")
    assert(s.buildMsTotal >= 330 && s.buildMsTotal === innerMs + outerMs)
    val old = StageMemo.maxEntries
    StageMemo.maxEntries = 2
    try {
      StageMemo(spark, st("evictor"))(Seq("e").toDF("x"))
      val s2 = StageMemo.statsSnapshot(reset = true)
      assert(s2.evictions === 1, "the LRU eviction must count in the window")
    } finally {
      StageMemo.maxEntries = old
      StageMemo.clear()
      StageMemo.statsSnapshot(reset = true)
    }
  }

  test("eagerBuild materializes the frame at memo time") {
    import spark.implicits._
    StageMemo.clear()
    StageMemo.statsSnapshot(reset = true)
    val acc = spark.sparkContext.longAccumulator("eager-probe")
    StageMemo.eagerBuild = true
    try {
      val df = StageMemo(spark, st("eager")) {
        Seq(1, 2, 3).toDF("x").filter { _ => acc.add(1); true }
      }
      // the build job already ran: every cache partition is populated
      assert(acc.value === 3L)
      df.write.mode("overwrite").format("noop").save()
      assert(acc.value === 3L, "the consumer must read the cache, not rebuild")
    } finally {
      StageMemo.eagerBuild = false
      StageMemo.clear()
      StageMemo.statsSnapshot(reset = true)
    }
  }

  test("stage registry: typed keys, every stage used, derived budget") {
    val src = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(src), s"run from the repo root: $src")
    val stream = Files.walk(src)
    val sources =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p -> new String(Files.readAllBytes(p), UTF_8)).toMap
      finally stream.close()
    // typed keys: every memo entry point takes a Key, and no call site
    // passes a string, however the call is wrapped
    val entryPoints = StageMemo.getClass.getMethods.filter(m =>
      Set("apply", "checkpointed", "scalar").contains(m.getName))
    assert(entryPoints.length === 3)
    entryPoints.foreach(m =>
      assert(m.getParameterTypes()(1) === classOf[Key], m.toString))
    val stringKey = ("""(?:StageMemo(?:\.\w+)?\(\s*[\w.]+\s*,""" +
      """|(?:frames|dict|pairs)Key\s*=\s*Some\()\s*s?"""").r
    val offenders = sources.toSeq.flatMap { case (p, text) =>
      stringKey.findAllMatchIn(text).map(m => s"$p: ${m.matched}") }
    assert(offenders.isEmpty, s"string memo keys: $offenders")
    // one registry: no stage is made outside it, each is named once, and
    // each is used
    val adHoc = sources.toSeq.collect { case (p, text)
      if !p.endsWith("StageMemo.scala") && """\bStage\(""".r
        .findFirstIn(text).isDefined => p }
    assert(adHoc.isEmpty, s"stages made outside StageMemo.Stages: $adHoc")
    val names = Stages.all.map(_.name)
    assert(names.size >= 19 && names.distinct === names,
      s"registry scan looks broken: $names")
    val all = sources.values.mkString("\n")
    val unused = names.filterNot(n => s"""\\bStages\\.$n\\b""".r
      .findFirstIn(all).isDefined)
    assert(unused.isEmpty, s"registered stages no call site uses: $unused")
    // the budget: 2 bench corpora x every stage + 4 headroom
    assert(StageMemo.maxEntries === 2 * names.size + 4)
  }

  test("checkpointed tuples: one table, LRU budget, released on evict") {
    StageMemo.clear()
    import spark.implicits._
    val old = StageMemo.maxEntries
    StageMemo.maxEntries = 2
    try {
      var builds = Map.empty[String, Int].withDefaultValue(0)
      var frames = Map.empty[String, DataFrame] // each key's latest build
      def get(k: String) = StageMemo.checkpointed(spark, st(k)) {
        builds += k -> (builds(k) + 1)
        frames += k -> Seq(k).toDF("x").localCheckpoint()
        (frames(k), 42L)
      }
      def releasedSet =
        frames.collect { case (k, df) if released(df) => k }.toSet
      val (aDf, _) = get("fa")
      get("fb"); get("fa") // refresh fa: fb is now LRU
      get("fc") // evicts + releases fb
      assert(StageMemo.size === 2)
      assert(releasedSet === Set("fb"), "eviction must release the tuple")
      get("fb")
      assert(builds("fb") === 2, "an evicted tuple must rebuild")
      // after fc the order is fa, fc: fb's insert evicts fa
      assert(releasedSet === Set("fa"))
      // the released checkpoint's blocks are gone: an action on the dead
      // frame must fail (checkpoints have no recompute lineage)
      intercept[Exception] { aDf.count() }
      StageMemo.clear()
      assert(StageMemo.size === 0)
      assert(releasedSet === Set("fa", "fb", "fc"),
        "clear() must release every memoized tuple")
    } finally {
      StageMemo.maxEntries = old
      StageMemo.clear()
    }
  }

  test("evicting a checkpointed tuple evicts the entries built over it") {
    StageMemo.clear()
    import spark.implicits._
    val old = StageMemo.maxEntries
    StageMemo.maxEntries = 2
    try {
      var readerBuilds = 0
      def tuple() = StageMemo.checkpointed(spark, st("tuple")) {
        Tuple1((1 to 10).toDF("x").localCheckpoint())
      }
      // lazy (no eagerBuild): the persisted reader is not materialized,
      // so its first action reads the tuple's checkpoint blocks
      def reader() = StageMemo(spark, st("reader")) {
        readerBuilds += 1
        tuple()._1.filter($"x" % 2 === 0)
      }
      reader()
      assert(StageMemo.size === 2)
      StageMemo(spark, st("other"))(Seq(1).toDF("y")) // the tuple is LRU
      assert(StageMemo.size === 1, "the reader must go with its tuple")
      val rebuilt = reader()
      assert(readerBuilds === 2, "the reader's next lookup must rebuild")
      assert(rebuilt.count() === 5L)
    } finally {
      StageMemo.maxEntries = old
      StageMemo.clear()
    }
  }

  test("a fixture rewritten in place misses the memo") {
    import spark.implicits._
    val fixture = "target/tmp/stagememo_fixture"
    // written beside the fixture and moved in, the way another process
    // regenerates it: a write through this session would recache by path
    def writeDocuments(docs: (Long, String)*): Unit = {
      docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(s"$fixture/next")
      rmrf(s"$fixture/documents.parquet")
      Files.move(Paths.get(s"$fixture/next"),
        Paths.get(s"$fixture/documents.parquet"))
      ()
    }
    def pairs() = Dedup.ngramPairs(spark, fixture, 0.8, 100)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val dup = "the quick brown fox jumps over the lazy dog"
    try {
      writeDocuments(1L -> dup, 2L -> dup, 3L -> "one two three four five")
      assert(pairs() === Set((1L, 2L)))
      val pinned = StageMemo.size
      writeDocuments(1L -> "one two three four five", 2L -> dup, 3L -> dup)
      assert(pairs() === Set((2L, 3L)), "the memo served the old corpus")
      assert(StageMemo.size === pinned, "the stale entries must be released")
    } finally rmrf(fixture)
  }

  test("evicts least-recently-used beyond the budget and unpersists it") {
    StageMemo.clear()
    import spark.implicits._
    val old = StageMemo.maxEntries
    StageMemo.maxEntries = 2
    try {
      var builds = Map.empty[String, Int].withDefaultValue(0)
      def get(k: String) = StageMemo(spark, st(k)) {
        builds += k -> (builds(k) + 1); Seq(k).toDF("x")
      }
      val a = get("a"); get("b")
      get("a") // refresh a: b is now the LRU entry
      val c = get("c") // evicts b
      assert(StageMemo.size === 2)
      val b2 = get("b") // rebuilt, evicting a (LRU after c refresh... a)
      assert(builds("b") === 2, "evicted stage must rebuild")
      assert(builds("a") === 1 && builds("c") === 1)
      assert(StageMemo.size === 2)
      // the evicted frame was unpersisted, the retained ones stay pinned
      assert(a.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
      assert(c.storageLevel.useMemory || c.storageLevel.useDisk)
      assert(b2.storageLevel.useMemory || b2.storageLevel.useDisk)
    } finally {
      StageMemo.maxEntries = old
      StageMemo.clear()
    }
  }
}
