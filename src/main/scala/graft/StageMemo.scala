package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for shared pipeline stages (shingle frames, minhash
  * signatures, normalized embedding vectors). Multi-operator rounds reuse
  * the same expensive intermediate — memoizing the persisted frame means
  * the shuffle/scan runs once per session instead of once per caller, and
  * `persist` is called exactly once per plan (no "already cached" churn
  * across bench laps). Inputs are assumed immutable for the session (the
  * fixture contract); call [[clear]] after rewriting an input dir in place.
  *
  * Retention is bounded: at most [[maxEntries]] stages stay pinned, evicted
  * least-recently-used (the evicted frame is unpersisted — its plan still
  * works, it just recomputes). A long-lived session cycling through many
  * corpora therefore cannot accumulate unbounded pinned storage; [[clear]]
  * remains the explicit full release.
  *
  * The memo also keeps attribution counters ([[Stats]]): hits, misses,
  * evictions, and per-key build wall-ms. Without them a shared stage's
  * build cost lands silently on whichever consumer runs first — a bench
  * reader sees q21 "regress" 4× when it merely paid the seven-consumer
  * intersection build that every other query then rides for free. Bench
  * snapshots the counters per lap (and per query on the cold lap) and
  * emits them beside the load sentinel.
  */
private[graft] object StageMemo {

  /** Eviction budget: max stages kept pinned. The engine's distinct shared
    * frame stages per corpus are counted by StageMemoSpec from the main
    * sources (13 today: shingles, ngraminter, ngraminterS, incpairs,
    * minhash, bands, simhash, dupspan_grams, blockhash, bm25_topdocs,
    * vecs, lshpairs, kmeans — the ngram view was de-memoized in r19), and
    * the spec asserts
    * `2 × keys + 4 ≤ maxEntries` — a bench run pins a warm-up corpus
    * plus a measured corpus, and 4 headroom keeps a new stage from
    * silently evicting a live entry mid-lap. */
  @volatile private[graft] var maxEntries: Int = 32

  /** When true, a memo miss materializes the persisted frame immediately
    * (`count()` populates every cache partition) so the recorded build-ms
    * is the frame's real build cost, not just plan construction. Bench
    * turns this on: per-query laps then separate "built the shared stage"
    * from "consumed it", which is the whole point of the attribution
    * record. Library default stays lazy — a caller composing operators
    * should not pay for stages a downstream limit might never scan. */
  @volatile private[graft] var eagerBuild: Boolean = false

  /** One attribution window's counters. `builds` maps stage key →
    * (build count, total exclusive wall-ms): nested memo builds (e.g. the
    * intersection stage building the shingle stage) subtract child time,
    * so per-key ms sum to the window's total build time without double
    * counting. */
  final case class Stats(hits: Long, misses: Long, evictions: Long,
      builds: Map[String, (Long, Long)]) {
    def buildMsTotal: Long = builds.valuesIterator.map(_._2).sum
  }

  private var hitCount = 0L
  private var missCount = 0L
  private var evictCount = 0L
  private val buildLog =
    scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
  // exclusive-time bookkeeping for nested builds (single-threaded under the
  // memo lock, so a plain var is enough)
  private var childMs = 0L

  private val memo =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](
      16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean =
        if (this.size() > maxEntries) {
          e.getValue.unpersist(); evictCount += 1; true
        } else false
    }

  def apply(spark: SparkSession, key: String)(
      build: => DataFrame): DataFrame = memo.synchronized {
    val k = (spark, key)
    val cached = memo.get(k) // get() refreshes LRU order
    if (cached != null) { hitCount += 1; cached }
    else {
      missCount += 1
      val parentChild = childMs
      childMs = 0L
      val t0 = System.nanoTime()
      var df: DataFrame = null
      try {
        df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        if (eagerBuild) df.count() // materialize: build-ms is the real cost
        df
      } catch {
        case e: Throwable =>
          if (df != null) df.unpersist()
          throw e
      } finally {
        val totalMs = (System.nanoTime() - t0) / 1000000L
        val exclusiveMs = totalMs - childMs
        val (n, ms) = buildLog.getOrElse(key, (0L, 0L))
        buildLog.update(key, (n + 1, ms + exclusiveMs))
        // the parent's build "contains" this one: report our full time up
        childMs = parentChild + totalMs
      }
      memo.put(k, df)
      df
    }
  }

  /** Small scalar companion memo (e.g. the corpus count a budget gate
    * needs): same lifetime as the frames, cleared together. Keeps an eager
    * `count()` job from re-running on every warm invocation of a gated
    * operator. Unbounded by design — entries are a FEW BYTES (counts,
    * byte estimates, validation flags; anything holding pinned storage
    * belongs in [[frames]]) and keyed by the same per-corpus stage names
    * as the frame memo. Not counted in [[Stats]]: the frames are where
    * the build cost lives. */
  private val scalars =
    new java.util.HashMap[(SparkSession, String), Any]()

  def scalar[T](spark: SparkSession, key: String)(build: => T): T =
    memo.synchronized {
      val k = (spark, key)
      val cached = scalars.get(k)
      if (cached != null) cached.asInstanceOf[T]
      else { val v = build; scalars.put(k, v); v }
    }

  /** Eviction budget for [[frames]] tuples. The distinct framesKey
    * families the fixture entries stash per corpus are counted by
    * StageMemoSpec from the main sources (jprefix, cprefix, sketch,
    * sketchfp + its dict companion — 5 today); the spec asserts
    * `2 × families + 4 ≤ maxFrameTuples`, the same two-corpus-plus-
    * headroom arithmetic as [[maxEntries]]. */
  @volatile private[graft] var maxFrameTuples: Int = 16

  private val frameStash =
    new java.util.LinkedHashMap[(SparkSession, String), (Any, Any => Unit)](
      16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), (Any, Any => Unit)])
          : Boolean =
        if (this.size() > maxFrameTuples) {
          val (v, release) = e.getValue; release(v); true
        } else false
    }

  /** Bounded session stash for CHECKPOINTED frame tuples (the prefix/
    * sketch families' docLen/ranked/arrays sets). These are
    * localCheckpoints — already materialized, so the frame memo's
    * persist-on-top would be redundant — but they pin corpus-sized RDD
    * blocks, so unlike [[scalar]] entries they MUST be bounded and
    * released: eviction (least-recently-used past [[maxFrameTuples]])
    * and [[clear]] invoke `release`, which unpersists the tuple's
    * checkpointed RDDs (r18 stashed these on the scalar side, which is
    * unbounded and never unpersists — the ADVICE-r18 storage-budget
    * leak). A released tuple CANNOT be recomputed (checkpoints have no
    * lineage); callers must re-invoke the builder, which is what a
    * stash miss does. Frames DERIVED from a tuple (the consumers' plans,
    * and any [[apply]] entry built over them) are not released with it:
    * recomputed after the eviction they fail on the missing blocks. No
    * dependency edge records that yet — see the call sites' note at
    * `Dedup.cachedFrames`. */
  def frames[T](spark: SparkSession, key: String)(build: => T)(
      release: T => Unit): T =
    memo.synchronized {
      val k = (spark, key)
      val cached = frameStash.get(k) // get() refreshes LRU order
      if (cached != null) cached._1.asInstanceOf[T]
      else {
        val v = build
        frameStash.put(k, (v, release.asInstanceOf[Any => Unit]))
        v
      }
    }

  private[graft] def frameStashSize: Int =
    memo.synchronized(frameStash.size())

  /** Drop and unpersist every memoized stage. Counters survive — they are
    * windowed by [[statsSnapshot]], not by cache lifetime (the cold bench
    * lap clears the cache before every query and still wants one lap-wide
    * attribution record). */
  def clear(): Unit = memo.synchronized {
    memo.values().forEach(_.unpersist())
    memo.clear()
    scalars.clear()
    frameStash.values().forEach { case (v, release) => release(v) }
    frameStash.clear()
  }

  /** Read the counters accumulated since the last reset; `reset = true`
    * starts the next attribution window. */
  private[graft] def statsSnapshot(reset: Boolean = false): Stats =
    memo.synchronized {
      val s = Stats(hitCount, missCount, evictCount, buildLog.toMap)
      if (reset) {
        hitCount = 0L; missCount = 0L; evictCount = 0L
        buildLog.clear(); childMs = 0L
      }
      s
    }

  private[graft] def size: Int = memo.synchronized(memo.size())
}
