package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.Tables

/** Corpus-curation operators a large-scale training-data pipeline runs after
  * the per-document analyses ([[TextAnalysis]]) and pairwise dedup stages
  * ([[Dedup]]): benchmark decontamination, repetition quality signals,
  * per-source caps, incremental dedup of a new shard against an existing
  * corpus, and duplicate-cluster resolution.
  *
  * Scale contracts mirror the rest of the engine: every stage is a
  * shuffle-on-key plan with df/count gates before any list materializes,
  * O(corpus)-sized frames are never broadcast (joins pinned with
  * `shuffle_hash` where Catalyst could misestimate), and all hashing is md5
  * so the DuckDB oracle reproduces results bit-for-bit.
  */
object Curation {

  /** Word tokens of `text` — the shared engine-wide tokenizer
    * ([[TextAnalysis.tokens]]; one definition, oracle-parity contract). */
  private def tokens(c: Column): Column = TextAnalysis.tokens(c)

  // ---------------------------------------------------------------------
  // Benchmark decontamination
  // ---------------------------------------------------------------------

  /** Training-set decontamination: flag every training document that shares
    * at least one word 3-shingle with a held-out benchmark set (here the
    * deterministic fixture slice `doc_id % benchMod = benchRem`).
    *
    * The standard pipeline op before training: n-gram overlap against eval
    * benchmarks (the GPT-3 / Pile decontamination recipe, with the fixture's
    * 3-shingles standing in for the 13-grams used at production scale).
    *
    * Scale shape: the benchmark shingle set is distinct-projected FIRST
    * (benchmarks are tiny next to the corpus, but the semi-join is still
    * pinned to `shuffle_hash` — a misestimated broadcast of a big eval
    * suite would die at the driver); the corpus side then left-semi joins
    * on the 64-bit shingle key and aggregates a per-document overlap count.
    * One shuffle each side, no posting list ever materializes. */
  def decontaminate(spark: SparkSession, dir: String,
      benchMod: Int = 10, benchRem: Int = 7): DataFrame = {
    import spark.implicits._
    decontaminateOf(Tables.documents(spark, dir), Dedup.shingles(spark, dir),
      $"doc_id" % benchMod === benchRem)
  }

  /** [[decontaminate]] over an arbitrary `(doc_id, …)` frame and its
    * `(doc_id, s)` shingle frame, with `isBench` selecting the held-out
    * slice (evaluated against `doc_id`). */
  def decontaminateOf(docs: DataFrame, shingles: DataFrame,
      isBench: Column): DataFrame = {
    val benchShingles = shingles.filter(isBench).select(col("s")).distinct()
      .hint("shuffle_hash")
    val overlap = shingles.filter(!isBench)
      .join(benchShingles, Seq("s"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
    docs
      .filter(!isBench)
      .select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        when(col("n_overlap").isNotNull, 1).otherwise(0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // Repetition quality signals
  // ---------------------------------------------------------------------

  /** Per-document repetition signals (the Gopher/MassiveText repetition
    * filters, token-level): fraction of tokens belonging to a token type
    * that occurs ≥ 2 times, fraction taken by the single most frequent
    * token, and the same top-fraction over word bigrams. High values mark
    * boilerplate and degenerate (looping) text.
    *
    * Scale shape: explode → (doc_id, term) count → per-doc aggregate; both
    * aggregations partial-apply map-side and shuffle on (doc_id, term) /
    * doc_id — per-row state is O(1), no per-document list is ever held. */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame =
    repetitionSignalsOf(Tables.documents(spark, dir))

  /** [[repetitionSignals]] over an arbitrary `(doc_id, text)` frame. */
  def repetitionSignalsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // round-robin the raw docs first (like Dedup.shinglesOf): both explode
    // pipelines below inherit the scan's partitioning for their map sides,
    // and a few-file corpus would run them nearly serial otherwise
    val t = docs
      .repartition(docs.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt)
      .select($"doc_id", tokens($"text").as("t"))
    val tokStats = t.select($"doc_id", explode($"t").as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        sum(when($"c" >= 2, $"c").otherwise(0L)).as("n_dup"),
        max($"c").as("max_tok"))
    val biStats = t.select($"doc_id", explode(expr(
        """CASE WHEN size(t) >= 2 THEN
          |  transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))
          |ELSE cast(array() as array<string>) END""".stripMargin)).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_bigrams"), max($"c").as("max_bigram"))
    docs.select($"doc_id")
      .join(tokStats, Seq("doc_id"), "left")
      .join(biStats, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        round(coalesce($"n_dup" * lit(1.0) / $"n_tokens", lit(0.0)), 6)
          .as("dup_token_frac"),
        round(coalesce($"max_tok" * lit(1.0) / $"n_tokens", lit(0.0)), 6)
          .as("top_token_frac"),
        round(coalesce($"max_bigram" * lit(1.0) / $"n_bigrams", lit(0.0)), 6)
          .as("top_bigram_frac"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // Per-source document cap
  // ---------------------------------------------------------------------

  /** Keep at most `n` documents per source (largest `n_chars` first,
    * doc_id tie-break) — the per-domain cap a crawl pipeline applies so a
    * single giant host cannot dominate the training mix.
    *
    * Scale shape: a single window over `source` puts one source's entire
    * partition on one task — a hot domain with billions of rows stalls the
    * stage. So top-n runs in TWO stages: a partial top-n per
    * (source, salt) — `salts` deterministic salt buckets from the doc id —
    * leaves ≤ salts·n survivors per source, then the exact window runs on
    * that bounded frame. Stage 1 bounds every task; stage 2's worst key is
    * salts·n rows regardless of skew. Any global top-n member is its salt
    * bucket's top-n member, so the two-stage result is exactly the
    * one-stage result. */
  def sourceCap(spark: SparkSession, dir: String,
      n: Int = 10, salts: Int = 8): DataFrame =
    sourceCapOf(Tables.documents(spark, dir), n, salts)

  /** [[sourceCap]] over an arbitrary `(doc_id, source, n_chars)` frame. */
  def sourceCapOf(docsIn: DataFrame, n: Int, salts: Int): DataFrame = {
    import docsIn.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = docsIn.select($"doc_id", $"source", $"n_chars")
    val partial = Window.partitionBy($"source", $"doc_id" % salts)
      .orderBy($"n_chars".desc, $"doc_id")
    val exact = Window.partitionBy($"source")
      .orderBy($"n_chars".desc, $"doc_id")
    docs
      .withColumn("prn", row_number().over(partial))
      .filter($"prn" <= n)
      .withColumn("rn", row_number().over(exact))
      .filter($"rn" <= n)
      .select($"doc_id", $"source", $"n_chars", $"rn")
      .orderBy($"source", $"rn")
  }

  // ---------------------------------------------------------------------
  // Incremental dedup: new shard vs existing corpus
  // ---------------------------------------------------------------------

  /** Incremental near-dup detection of an incoming shard against a prior
    * corpus — the production shape of dedup: a new crawl is checked against
    * everything already ingested, not all-pairs against itself. Fixture
    * split: prior = `doc_id % priorMod = 0`, incoming = the rest. A document
    * is a duplicate iff it shares a MinHash LSH band bucket with any prior
    * document.
    *
    * Scale shape: the prior corpus collapses to its DISTINCT band-bucket
    * keys, compressed into a driver-built Bloom filter (1% fpp — ~1.2 MB
    * per million buckets) that broadcasts to every task. The incoming side
    * drops every non-matching row map-side — at 100 TB this eliminates
    * ~all of the shuffle for a mostly-novel shard — and only Bloom
    * survivors enter the exact semi-join that removes false positives, so
    * the result is exact (Bloom filters have no false negatives).
    *
    * The Bloom filter itself lives on the driver while it is built, so its
    * size is budgeted: when the prior corpus would need more than
    * `bloomBudgetBytes` (~1.2 bytes/key at 1% fpp), the map-side prefilter
    * is skipped and the shard goes straight to the exact semi-join — same
    * result, one driver bottleneck fewer (the same degrade-to-shuffle
    * shape as [[Dedup.ngramJaccardOfShingles]]'s df gate). */
  def bloomDedup(spark: SparkSession, dir: String,
      priorMod: Int = 3,
      bloomBudgetBytes: Long = 256L << 20): DataFrame = {
    import spark.implicits._
    val bands = Dedup.bands(spark, dir)
      .select($"doc_id",
        concat($"band".cast("string"), lit(":"), $"bh").as("bkey"))
    val isPrior = $"doc_id" % priorMod === 0
    // localCheckpoint materializes the distinct ONCE; the count, the Bloom
    // build, and the exact semi-join below all read the cached blocks
    // instead of re-shuffling the prior corpus's band keys three times.
    val priorKeys = bands.filter(isPrior).select($"bkey").distinct()
      .localCheckpoint()
    val nPrior = priorKeys.count()
    // optimal Bloom size at fpp 0.01 is n·ln(0.01)/ln(2)² ≈ 9.59 bits/key
    val estBloomBytes = nPrior * 12 / 10 + 1
    val incoming = bands.filter(!isPrior)
    val prefiltered =
      if (estBloomBytes > bloomBudgetBytes) incoming
      else {
        val bloom =
          priorKeys.stat.bloomFilter("bkey", math.max(nPrior, 1L), 0.01)
        val bloomBc = spark.sparkContext.broadcast(bloom)
        // native codegen probe — no Scala-UDF break in the prefilter stage
        incoming.filter(graft.functions.BloomFunctions.mightContain($"bkey", bloomBc))
      }
    val confirmed = prefiltered
      .join(priorKeys.hint("shuffle_hash"), Seq("bkey"), "left_semi")
      .select($"doc_id").distinct()
    Tables.documents(spark, dir)
      .filter(!isPrior)
      .select($"doc_id")
      .join(confirmed.withColumn("hit", lit(1)), Seq("doc_id"), "left")
      .select($"doc_id", when($"hit".isNotNull, 1).otherwise(0).as("is_dup"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // Duplicate-cluster resolution (connected components)
  // ---------------------------------------------------------------------

  /** Connected components over an undirected pair list `(d1, d2)` by
    * iterative min-label propagation: every vertex converges to the
    * smallest doc_id reachable from it. Deterministic; converges in
    * O(component diameter) rounds — fine for the shallow clusters near-dup
    * graphs produce, but an adversarial chain needs diameter rounds: use
    * [[connectedComponentsStar]] (O(log n) contraction) when diameters are
    * unbounded. [[dedupClusters]] ships on the star form.
    *
    * Each round is one shuffle join + one min-aggregate on the EDGE frame
    * only (vertices with no pair never enter the loop), localCheckpointed
    * so lineage stays flat across rounds. Convergence counts labels that
    * changed this round (a label-SUM fixpoint check would wrap Long at
    * billion-vertex/large-id scale and could alias two states). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2"), col("d1")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var converged = labels.isEmpty // empty pair list: nothing to propagate
    var it = 0
    while (!converged && it < maxIter) {
      val next = edges
        .join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
        .union(labels)
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"))
        .localCheckpoint()
      val changed = next.as("n")
        .join(labels.as("p"), col("n.id") === col("p.id"))
        .filter(col("n.label") =!= col("p.label"))
      converged = changed.limit(1).count() == 0L
      labels = next
      it += 1
    }
    edges.unpersist()
    labels
  }

  /** Open-addressed primitive long→long map (linear probing, power-of-two
    * capacity, 0.5 load factor) for the partition-local union-find: a boxed
    * `HashMap[Long, Long]` costs ~48 bytes/entry and a GC tax exactly where
    * the pre-contraction must be cheap — one task may hold a couple of
    * million vertices (a 128 MB edge split ≈ 8M edges). Two long arrays is
    * ~16 bytes/entry and zero allocation on the hot path.
    * `Long.MinValue` is the empty-slot sentinel; a real key equal to it is
    * routed through a scalar side field so the map stays total over the
    * full id domain. */
  private[graft] final class LongLongMap(initialCapacity: Int = 1 << 12) {
    private final val EMPTY = Long.MinValue
    private var cap = Integer.highestOneBit(
      math.max(initialCapacity - 1, 8)) << 1
    private var mask = cap - 1
    private var keys = Array.fill(cap)(EMPTY)
    private var vals = new Array[Long](cap)
    private var used = 0
    private var minKeyPresent = false
    private var minKeyValue = 0L
    def size: Int = used + (if (minKeyPresent) 1 else 0)
    private def slot(k: Long): Int = {
      // finalizer from splitmix64: full avalanche so sequential doc ids
      // don't cluster into one probe run
      var h = k
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      var i = ((h ^ (h >>> 31)).toInt) & mask
      while (keys(i) != EMPTY && keys(i) != k) i = (i + 1) & mask
      i
    }
    def getOrElse(k: Long, dflt: Long): Long = {
      if (k == EMPTY) return if (minKeyPresent) minKeyValue else dflt
      val i = slot(k)
      if (keys(i) == k) vals(i) else dflt
    }
    def put(k: Long, v: Long): Unit = {
      if (k == EMPTY) { minKeyPresent = true; minKeyValue = v; return }
      val i = slot(k)
      if (keys(i) == EMPTY) {
        keys(i) = k; vals(i) = v; used += 1
        if (used * 2 > cap) grow()
      } else vals(i) = v
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1; mask = cap - 1
      keys = Array.fill(cap)(EMPTY); vals = new Array[Long](cap); used = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != EMPTY) put(ok(i), ov(i))
        i += 1
      }
    }
    /** Iterate current (key, value) pairs. Values read live; safe under
      * concurrent `put` to EXISTING keys (path compression) because keys
      * never move without `grow`, which insertion-free iteration never
      * triggers. */
    def foreachEntry(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < keys.length) {
        if (keys(i) != EMPTY) f(keys(i), vals(i))
        i += 1
      }
      if (minKeyPresent) f(EMPTY, minKeyValue)
    }
  }

  /** Partition-local union-find over one task's edge slice: contracts every
    * LOCAL component to a star rooted at its minimum id and emits only the
    * (member, root) star edges — `members = vertices − local components`
    * rows, so a clique's C(N,2) edges collapse to N−1 in one narrow pass,
    * before any shuffle. Union-by-min + full path compression keeps every
    * root the minimum of its component, so emitted edges stay canonically
    * oriented (member > root) and the downstream star loop's min-id
    * labelling is exactly preserved (connectivity of a partition's edge set
    * equals connectivity of its spanning star forest; the union over
    * partitions preserves global connectivity). */
  private[graft] def partitionUnionFind(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new LongLongMap()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent.getOrElse(c, c); parent.put(c, r); c = n
      }
      r
    }
    it.foreach { case (u, v) =>
      val ru = find(u); val rv = find(v)
      if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
    }
    // entries are EXACTLY the non-root vertices (roots never acquire a
    // parent); find() during emission only rewrites existing entries, so
    // the map never grows mid-iteration. Keys snapshot into one primitive
    // array and the (member, root) rows stream lazily — a large slice
    // (millions of members) never holds its whole output boxed at once.
    val ks = new Array[Long](parent.size)
    var n = 0
    parent.foreachEntry((k, _) => { ks(n) = k; n += 1 })
    ks.iterator.map(k => (k, find(k)))
  }

  /** Connected components by alternating large-star / small-star contraction
    * — the O(log n)-round algorithm (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC 2014), diameter-independent: the
    * scale-safe form for adversarial chain-shaped clusters where
    * [[connectedComponents]] would need O(diameter) rounds.
    *
    * Edges are kept canonically oriented big→small. Large-star hangs every
    * neighbor larger than `u` off `u`'s minimum; small-star hangs `u` and
    * its (all smaller) neighbors off the minimum. Both are one groupBy-min
    * plus one join on the edge frame — no vertex ever materializes its
    * neighborhood as a list, so a hot vertex costs a shuffle key, not an
    * aggregation buffer. At the fixpoint the edge set is a union of stars
    * rooted at each component's minimum. Convergence = edge set unchanged,
    * checked with except+count (overflow-free). Returns (id, label) for
    * every vertex of `pairs`. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50,
      driverEdgeBudget: Long = 100000): DataFrame =
    starContract(pairs, maxIter, driverEdgeBudget)._1

  /** [[connectedComponentsStar]] plus the round count (spec evidence for
    * the O(log n) bound).
    *
    * Small graphs take a COUNT-GATED driver union-find instead of the
    * round loop: each distributed round is ~6 shuffles run strictly in
    * sequence, so a few-hundred-edge graph pays seconds of scheduling for
    * microseconds of work (the q50/q68 warm profile was dominated by it).
    * The gate is the measured edge count against `driverEdgeBudget`
    * (default 100k edges ≈ 1.6 MB — same bounded-driver-state discipline
    * as [[bloomDedup]]'s budget and SideData's broadcast guard); above it,
    * the O(log n) contraction runs exactly as before. Both paths emit the
    * identical min-id labelling (differential-tested).
    *
    * Graphs above the budget first take a PARTITION-LOCAL UNION-FIND
    * pre-contraction ([[partitionUnionFind]], `preContract = true`): one
    * narrow `mapPartitions` pass replaces each task's edge slice with its
    * spanning star forest, so the sequential ~6-shuffle rounds start from
    * near-spanning-tree size instead of the raw pair volume (a clique's
    * C(N,2) edges become N−1). Label-identical by construction and by
    * differential spec; `preContract = false` keeps the raw loop for
    * differential testing. */
  private[graft] def starContract(pairs: DataFrame,
      maxIter: Int = 50, driverEdgeBudget: Long = 100000,
      preContract: Boolean = true): (DataFrame, Int) = {
    // localCheckpoint with the origin constraints surgically removed, at
    // entry AND per round. A checkpointed frame's LogicalRDD still
    // CARRIES the origin plan's Catalyst constraints, whose attribute ids
    // are stale after the cut, and Spark 4.1's Union constraint rewrite
    // throws `key not found: u#N` on them — observed at the 10x scale
    // smoke when the pair input is itself a union (q86's text ∪ media
    // graph; q50's single-source input never trips it). The Bridge shim
    // drops exactly the stale constraints while KEEPING the checkpoint's
    // accurate size statistics — an earlier createDataFrame(rdd, schema)
    // rewrap discarded those too, which cost the loop its legitimate
    // late-round small-frame broadcasts (isolated 100x smoke: 168 s
    // stat-less vs ~100 s with stats). Broadcast election here is
    // evidence-based (real checkpointed sizes), never a fixture-scale
    // misestimate.
    def cleanCheckpoint(df: DataFrame): DataFrame =
      Bridge.dropOriginConstraints(df.localCheckpoint())
    // canonical big→small orientation, self-loops dropped
    var edges = cleanCheckpoint(pairs
      .select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    // one pass over the pair frame (explode), not two (select-d1 union
    // select-d2): everything below `pairs` — the LSH/ngram candidate
    // machinery above the memoized stages — would otherwise run twice
    // more just to list the vertex ids
    val vertices = pairs
      .select(explode(array(col("d1"), col("d2"))).as("id"))
      .distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      // (v, m) for v ∈ Γ(u), v > u; m ≤ u < v keeps orientation canonical
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      // (v, m) for v ∈ N(u) ∪ {u}; every v ≥ m keeps orientation canonical
      e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var it = 0
    var edgeCount = edges.count()
    // the driver fast path unions over Long ids, so it only admits
    // integral id columns; any other id type (string keys, decimals) keeps
    // the type-agnostic distributed contraction regardless of graph size
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}
    val idType = edges.schema("u").dataType
    val integralId = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // Partition-local union-find pre-contraction (r11): one narrow
    // mapPartitions pass replaces each task's edge slice with its spanning
    // star forest BEFORE the distributed loop, so a clique-heavy graph
    // (the near-dup corpora: q50/q68/q85/q86/q106) enters the ~6-shuffle
    // rounds at near-spanning-tree size instead of C(N,2) — at the 100x
    // media decade this is the difference between contracting 34.6M edges
    // and contracting ~1M. Labels are exactly preserved: a partition's star
    // forest has the same connectivity as its edge set, star edges stay
    // canonical (member > root, root = local min), and the vertex frame is
    // untouched (every vertex incident to an edge survives as a star
    // endpoint). Integral-id-gated like the driver path (the primitive map
    // is Long-keyed); non-integral graphs keep the type-agnostic loop.
    // The reduced set may now fit the driver budget — re-gating below lets
    // a formerly-large graph finish on the driver fast path.
    if (preContract && integralId && edgeCount > driverEdgeBudget) {
      val sess = pairs.sparkSession
      import sess.implicits._
      import org.apache.spark.sql.types.LongType
      val entry = edges
      edges = cleanCheckpoint(edges
        .select(col("u").cast(LongType).as("_1"),
          col("v").cast(LongType).as("_2"))
        .as[(Long, Long)]
        .mapPartitions(partitionUnionFind)
        .toDF("u", "v")
        .select(col("u").cast(idType).as("u"), col("v").cast(idType).as("v"))
        // two partitions can derive the same (member, root) star edge from
        // different original edges; the loop's convergence check counts
        // edges, so restore the distinct-set invariant here
        .distinct())
      edgeCount = edges.count()
      // the pre-contracted edges replace the entry checkpoint
      Bridge.releaseLocalCheckpoint(entry)
    }
    if (edgeCount <= driverEdgeBudget && integralId) {
      val spark = pairs.sparkSession
      val es = edges.collect().map(r =>
        (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      // nothing reads the checkpointed edges after this collect
      Bridge.releaseLocalCheckpoint(edges)
      // rebuild (id, lbl) in the INPUT id type, so the fast path's output
      // schema is indistinguishable from the distributed path's
      val narrow: Long => Any = idType match {
        case ByteType => (x: Long) => x.toByte
        case ShortType => (x: Long) => x.toShort
        case IntegerType => (x: Long) => x.toInt
        case _ => (x: Long) => x
      }
      // the whole edge set as one partition: (member, root) for every
      // non-root vertex, each root its component's minimum, so the
      // distributed path's min-id labels are reproduced exactly; roots
      // fall through to coalesce(lbl, id) below
      val labelRows = partitionUnionFind(es.iterator)
        .map { case (id, root) =>
          org.apache.spark.sql.Row(narrow(id), narrow(root)) }
        .toSeq
      import scala.jdk.CollectionConverters._
      // a driver-local list: LocalRelation (size known to Catalyst), not
      // an RDD-backed scan
      val comp = spark.createDataFrame(labelRows.asJava,
        StructType(Seq(StructField("id", idType), StructField("lbl", idType))))
      val out = vertices
        .join(comp, Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl"), col("id")).as("label"))
      return (out, 0)
    }
    var converged = edgeCount == 0L
    while (!converged && it < maxIter) {
      val next = cleanCheckpoint(smallStar(largeStar(edges)))
      // both sides distinct: equal counts + empty difference ⇔ equal sets;
      // the previous round's count is carried over, so each round pays one
      // count + one bounded except probe, not two counts
      val nextCount = next.count()
      converged = nextCount == edgeCount &&
        next.except(edges).limit(1).count() == 0L
      // `next` is materialized, so nothing reads the round it replaces
      Bridge.releaseLocalCheckpoint(edges)
      edges = next
      edgeCount = nextCount
      it += 1
    }
    require(converged, s"star contraction did not converge in $maxIter rounds")
    val labels = vertices
      .join(edges.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("label"))
    (labels, it)
  }

  /** Duplicate clusters over the fixture corpus: connected components of
    * the 3-shingle Jaccard ≥ 0.8 near-dup pair graph (q21's memoized pair
    * stage). One row per document: its cluster representative (smallest
    * doc_id in the component — singletons map to themselves) and the
    * keep/drop decision (keep iff representative). The cluster form is the
    * one real dedup pipelines ship: pairwise output alone can drop both
    * ends of a chain A~B~C. */
  def dedupClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxDf: Int = 100): DataFrame = {
    import spark.implicits._
    // maxDf is corpus-relative (a df gate tuned for N docs discards nearly
    // everything at 30N — ScaleSmoke scales it with the staged multiple)
    val pairs = Dedup.ngramPairs(spark, dir, threshold, maxDf)
      .select($"d1", $"d2")
    val comp = connectedComponentsStar(pairs)
    Tables.documents(spark, dir)
      .select($"doc_id")
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"label", $"doc_id").as("cluster"))
      .withColumn("keep", when($"cluster" === $"doc_id", 1).otherwise(0))
      .orderBy($"doc_id")
  }

  /** Cross-modal dedup decision over arbitrary per-modality pair graphs —
    * the building block behind [[crossModalClusters]] (q86). Components are
    * computed over the UNION of the edge sets: a document that
    * text-matches A and media-matches B glues A and B into one cluster,
    * which per-modality cluster passes run separately would never do. One
    * row per document of `docs`: cluster representative (smallest doc_id
    * in the joint component), `keep` iff representative, and
    * `n_modalities` = in how many of the two graphs the document has at
    * least one edge (0 for never-paired singletons).
    *
    * Scale shape: both inputs arrive df-/band-capped (no corpus clique can
    * reach this operator), the union is one distinct over edge lists, the
    * contraction is the shared O(log n) star machinery, and the modality
    * flags are pair-participant-sized distinct projections joined back on
    * doc_id. */
  def crossModalClustersOf(docs: DataFrame, textPairs: DataFrame,
      mediaPairs: DataFrame, driverEdgeBudget: Long = 100000): DataFrame = {
    val t = textPairs.select(col("d1"), col("d2"))
    val m = mediaPairs.select(col("d1"), col("d2"))
    val comp = connectedComponentsStar(t.union(m).distinct(),
      driverEdgeBudget = driverEdgeBudget)
    def participants(pairs: DataFrame, flag: String) = pairs
      .select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct()
      .withColumn(flag, lit(1))
    docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .join(participants(t, "in_text"), Seq("doc_id"), "left")
      .join(participants(m, "in_media"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster"),
        (coalesce(col("in_text"), lit(0)) + coalesce(col("in_media"), lit(0)))
          .as("n_modalities"))
      .withColumn("keep",
        when(col("cluster") === col("doc_id"), 1).otherwise(0))
      .select(col("doc_id"), col("cluster"), col("keep"), col("n_modalities"))
      .orderBy(col("doc_id"))
  }

  /** Fixture form (q86): the "duplicate in ANY modality" decision a real
    * pipeline ships — q50's text near-dup graph (3-shingle Jaccard ≥ 0.8)
    * unioned with q85's media near-dup graph (blockhash Hamming ≤ 3), one
    * star contraction, one keep/drop row per document. Both pair stages
    * ride their memoized frames, so a session that already ran q50/q85
    * pays only the union + contraction here. */
  def crossModalClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxDf: Int = 100,
      maxDist: Int = 3): DataFrame =
    crossModalClustersOf(Tables.documents(spark, dir),
      Dedup.ngramPairs(spark, dir, threshold, maxDf),
      Multimodal.blockhashPairs(spark, dir, maxDist))

  /** Batch twin of the STREAMED cross-modal dedup (q117,
    * [[graft.streaming.Continuous.streamedCrossModalDedup]]): the q86
    * decision shape over the STREAM-TIER pair graphs — text pairs from
    * MinHash band-bucket collisions (q22's 4×2 banding) plus exact-digest
    * matches (q99's per-document state tier: no corpus-relative df gate,
    * so a stream can sign each arrival independently of everything already
    * ingested), media pairs from the blockhash Hamming ≤ `maxDist` graph
    * (q84 — already per-document state). Because components and min-id
    * labels depend only on the edge UNION, the streamed job converges to
    * this frame bit-for-bit on any batch chunking — which is exactly what
    * the q117 oracle checks. */
  def crossModalStreamTwin(spark: SparkSession, dir: String,
      maxDist: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bands = Dedup.bands(spark, dir)
    val tBand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    // digest pairs are NOT subsumed by band pairs: a doc under 3 tokens
    // has no shingles, hence no signature and no bands, but two identical
    // short texts are still exact duplicates
    val hashes = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val tDigest = hashes.as("a").join(hashes.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    crossModalClustersOf(docs, tBand.union(tDigest).distinct(),
      Multimodal.blockhashPairs(spark, dir, maxDist))
  }

  // ---------------------------------------------------------------------
  // PII scan / redaction
  // ---------------------------------------------------------------------

  /** PII patterns, applied in declaration order. RE2-safe subset of regex
    * (no backrefs / lookaround), so Spark's Java engine and the DuckDB
    * oracle's RE2 agree on every match. The `entity` pattern ("customer"
    * followed by a word) stands in for a domain entity recognizer and is
    * the one pattern the synthetic fixture corpus actually contains —
    * email/IP/phone parity on real matches is pinned by crafted-input
    * specs (CurationSpec). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "ip" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b",
    "entity" -> "\\bcustomer [a-z]+")

  /** PII scan + redaction — the privacy pass every shipped training corpus
    * runs: count pattern hits per document and replace each hit with a
    * `[TYPE]` placeholder, reporting a fingerprint of the redacted text
    * (the downstream exact-dedup key: redaction BEFORE dedup collapses
    * docs that differ only in their PII).
    *
    * Pure per-row map — regexp count + replace chain, zero shuffles before
    * the presentation sort — so it runs at scan speed on any corpus size
    * and pushes nothing to the driver. */
  def piiScanOf(docs: DataFrame,
      patterns: Seq[(String, String)] = piiPatterns): DataFrame = {
    require(patterns.nonEmpty, "need at least one pattern")
    val counted = patterns.foldLeft(docs) { case (df, (name, pat)) =>
      df.withColumn(s"${name}_hits",
        size(regexp_extract_all(col("text"), lit(pat), lit(0))))
    }
    val redacted = patterns.foldLeft(col("text")) { case (c, (name, pat)) =>
      regexp_replace(c, pat, s"[${name.toUpperCase}]")
    }
    counted
      .withColumn("redacted", redacted)
      .select(col("doc_id") +:
        patterns.map { case (n, _) => col(s"${n}_hits") } :+
        md5(col("redacted")).as("redacted_fp") :+
        when(col("redacted") =!= col("text"), 1).otherwise(0).as("changed"): _*)
  }

  /** Fixture form (q61) — the presentation sort lives here, not in
    * [[piiScanOf]]: the Of-form is a pure per-row map, so it composes
    * UNCHANGED with a streaming frame (sorts are illegal on append-mode
    * streams; StreamingSpec pins the composition). */
  def piiScan(spark: SparkSession, dir: String): DataFrame =
    piiScanOf(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---------------------------------------------------------------------
  // Fractional-epoch source mixing
  // ---------------------------------------------------------------------

  /** Source mixing with fractional epochs — the data-recipe step that
    * UP-weights scarce high-quality sources and down-weights bulk ones
    * (the complement of [[Relational.stratifiedSample]]'s pure
    * downsampling): a source with weight 2.5 contributes every document
    * twice plus a deterministic 50% slice a third time; weight 0.5
    * contributes a 50% slice once. The fractional slice reuses q44's
    * content-derived md5 bucket, so the SAME documents are chosen on any
    * cluster, any partitioning, any rerun.
    *
    * Output: one row per (source, epoch) with the document count — epoch 0
    * is the full pass (weight ≥ 1), the last epoch is the fractional
    * slice. Scale shape: the weight policy joins broadcast (a mixing
    * recipe is a few dozen rows), copies explode map-side bounded by
    * ⌈weight⌉, and the only shuffle is the final (source, epoch)
    * partial-agg count. */
  def epochMixOf(docs: DataFrame, weights: DataFrame): DataFrame = {
    docs
      .join(broadcast(weights), Seq("wk"))
      .withColumn("bucket", splitBucket)
      .withColumn("copies",
        floor(col("weight")).cast("int") +
          when(col("bucket") <
            (col("weight") - floor(col("weight"))) * 1000, 1).otherwise(0))
      // copies = 0 rows must drop BEFORE the sequence-explode:
      // sequence(0, -1) descends and would fabricate a phantom epoch
      .filter(col("copies") > 0)
      .withColumn("epoch",
        explode(sequence(lit(0L), col("copies").cast("long") - 1)))
      .groupBy(col("source"), col("epoch"))
      .agg(max(col("weight")).as("weight"), count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("epoch"))
  }

  /** Fixture form (q62): weight class = numeric source suffix mod 4,
    * exercising up-weighting (2.5), identity (1.0), down-sampling (0.5)
    * and a fractional second epoch (1.25) in one corpus. */
  def epochMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weights = Seq(0 -> 2.5, 1 -> 1.0, 2 -> 0.5, 3 -> 1.25)
      .toDF("wk", "weight")
    epochMixOf(
      Tables.documents(spark, dir)
        .withColumn("wk", substring($"source", 4, 10).cast("int") % 4),
      weights)
  }

  // ---------------------------------------------------------------------
  // Deterministic train/val/test split
  // ---------------------------------------------------------------------

  /** Deterministic corpus split — train/val/test assignment every
    * downstream job can recompute instead of persisting a membership
    * table: the (source, doc_id) identity hashes to [[epochMixOf]]'s
    * md5 bucket and cumulative fraction thresholds carve the bucket
    * space. Adding documents never moves an existing document's split
    * (stable under corpus growth — the property a random split lacks),
    * and the assignment is identical on any cluster and partitioning.
    *
    * Pure per-row map, zero shuffles before the presentation sort. */
  /** The standard 80/10/10 recipe — q64's fixture form and the split q112
    * stamps on the manifest. */
  val defaultSplits: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** The content-derived 0–999 split bucket (q64's key; q62's fractional
    * slice reuses the same idiom). One definition — the split hash is an
    * oracle-parity contract shared by q62/q64/q112. */
  private[graft] val splitBucket: Column = expr(
    "cast(conv(substring(md5(concat(source, ':', cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 1000")

  /** Bucket → split name for cumulative `splits` fractions (reads the
    * `bucket` column); the last split takes the remainder so threshold
    * rounding can never leave a bucket unassigned. */
  private def splitOfBucket(splits: Seq[(String, Double)]): Column = {
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    splits.init.zip(cum).foldRight(lit(splits.last._1): Column) {
      case (((name, _), c), rest) =>
        when(col("bucket") < math.round(c * 1000).toInt, name).otherwise(rest)
    }
  }

  def assignSplitsOf(docs: DataFrame,
      splits: Seq[(String, Double)] = defaultSplits): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0) &&
      math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must be non-negative and sum to 1, got $splits")
    docs
      .withColumn("bucket", splitBucket)
      .select(col("doc_id"), col("source"), col("bucket"),
        splitOfBucket(splits).as("split"))
      .orderBy(col("doc_id"))
  }

  /** Fixture form (q64): the standard 80/10/10 recipe. */
  def assignSplits(spark: SparkSession, dir: String): DataFrame =
    assignSplitsOf(Tables.documents(spark, dir))

  /** Split-balance audit (q114) — the distribution-parity half of eval
    * hygiene (q72's leakage audit is the duplication half): per split,
    * the volume (docs/tokens), source coverage, language mix and
    * decimal-exact mean q29 quality. A content-hash split is unbiased BY
    * CONSTRUCTION, but the audit is what a pipeline owner actually ships
    * next to the split — a val set that under-represents a source or
    * skews quality means eval numbers won't transfer, and this one table
    * says so before any training run does. Split and quality formulas are
    * the shared q64/q29 definitions, so the audit can never drift from
    * the split it audits.
    *
    * Scale shape: per-row score/split maps, then ONE |splits|-row partial
    * agg — dataset card's shape keyed by split instead of source. */
  def splitBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.TextAnalysis.withQualityScore(
        Tables.documents(spark, dir))
      .withColumn("bucket", splitBucket)
      .withColumn("split", splitOfBucket(defaultSplits))
      .withColumn("n_tokens", TextAnalysis.wsTokenCount($"text"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        countDistinct($"source").as("n_sources"),
        round(sum(when($"lang" === "en", 1).otherwise(0)) * lit(1.0) /
          count(lit(1)), 6).as("pct_en"),
        (sum(round($"quality", 6).cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("avg_quality"))
      .orderBy($"split")
  }

  /** Split-leakage check — the eval-hygiene audit run after ANY split:
    * count near-dup pairs ([[Dedup.ngramJaccard]]'s graph) whose endpoints
    * land in different [[assignSplitsOf]] splits. A train/test near-dup
    * pair is test-set contamination the decontamination pass (q46) cannot
    * see, because the leak is WITHIN the corpus, not against an external
    * benchmark. The cross-split rows of this matrix are the leaks; the
    * fix is cluster-aware splitting (split by q50 cluster, not by doc).
    *
    * Scale shape: two broadcast-sized probes into the pair list — the
    * split frame is a per-row map over the corpus, so both joins shuffle
    * on doc_id at pair-list cardinality, then one tiny (split, split)
    * aggregate. */
  def splitLeakage(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    import spark.implicits._
    val pairs = Dedup.ngramPairs(spark, dir, threshold, maxDf = 100)
      .select($"d1", $"d2")
    val splits = assignSplits(spark, dir).select($"doc_id", $"split")
    // the split frame is one row per document — corpus-sized, like the
    // pair frame: neither side may broadcast at scale (fixture-scale
    // stats happily would), so both probes are pinned shuffled-hash
    pairs
      .join(splits.select($"doc_id".as("d1"), $"split".as("s1"))
        .hint("shuffle_hash"), Seq("d1"))
      .join(splits.select($"doc_id".as("d2"), $"split".as("s2"))
        .hint("shuffle_hash"), Seq("d2"))
      .select(least($"s1", $"s2").as("split_lo"),
        greatest($"s1", $"s2").as("split_hi"))
      .groupBy($"split_lo", $"split_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"split_lo", $"split_hi")
  }

  // ---------------------------------------------------------------------
  // Canonical document selection
  // ---------------------------------------------------------------------

  /** Canonical document selection — [[dedupClusters]] upgraded from
    * keep-smallest-id to keep-BEST: within each near-dup cluster the
    * surviving document is the one with the highest
    * [[TextAnalysis.qualityScore]] (doc_id breaks ties), which is the rule
    * real pipelines ship — dropping duplicates is only half the job,
    * KEEPING the cleanest copy is the other half.
    *
    * Scale shape: the cluster stage is q50's (pair graph + O(log n) star
    * contraction), the quality stage is a per-row map, and the selection
    * is one row_number window partitioned by cluster — clusters are
    * near-dup groups (small by construction; a df/bucket-capped pair
    * stage cannot emit a corpus-sized clique), so no window partition
    * degenerates to the whole corpus. */
  def canonicalDocs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val clusters = dedupClusters(spark, dir).select($"doc_id", $"cluster")
    val quality = TextAnalysis.qualityScore(spark, dir)
      .select($"doc_id", $"quality")
    val w = Window.partitionBy($"cluster")
      .orderBy($"quality".desc, $"doc_id")
    // quality is one row per document — corpus-sized; pin the join
    // shuffled-hash so fixture-scale stats can't elect a broadcast that
    // would not fit at corpus scale
    clusters.join(quality.hint("shuffle_hash"), Seq("doc_id"))
      .withColumn("keep", when(row_number().over(w) === 1, 1).otherwise(0))
      .select($"doc_id", $"cluster", $"quality", $"keep")
      .orderBy($"doc_id")
  }

  /** Temperature-based source resampling (q76) — the multinomial
    * p^α mixing recipe (multilingual-sampling style) at α = 0.5, the one
    * point of the p^α family that is sqrt-expressible and therefore
    * IEEE-exact cross-engine (any other α needs the ln/exp carve-out).
    * Per-source weight w_s = √(token_s); the token budget
    * (`budgetFrac` × corpus tokens) is split by normalized weight, giving
    * each source a keep-rate = min(1, share·budget / token_s) — sources
    * above their fair share are down-sampled hard, small sources are kept
    * whole. Sampling is the engine's deterministic content-hash
    * acceptance (q40/q44 family): keep iff md5(doc_id) bucket <
    * round(rate·10⁶) — the SAME rows survive on any cluster, any
    * partitioning, any rerun. One audit row per source: totals, share,
    * rate, and what survived.
    *
    * Determinism: token/doc counts are integer-exact; each √ is one IEEE
    * op quantized to DECIMAL(28,14) so the cross-source normalizer is an
    * order-independent decimal sum; the acceptance threshold is an
    * INTEGER compare. Scale shape: one per-source partial-agg shuffle,
    * one broadcast of the (sources × 5) rate frame back onto the corpus,
    * one conditional re-aggregate — no windows, no driver state beyond
    * the plan. A mega-source cannot skew: both aggregates partial-combine
    * map-side, so the shuffle carries one row per (partition, source). */
  def temperatureMix(spark: SparkSession, dir: String,
      budgetFrac: Double = 0.5): DataFrame =
    temperatureMixOf(Tables.documents(spark, dir), budgetFrac)

  /** [[temperatureMix]] over an arbitrary `(doc_id, source, text)` frame. */
  def temperatureMixOf(docs: DataFrame,
      budgetFrac: Double = 0.5): DataFrame = {
    import docs.sparkSession.implicits._
    require(budgetFrac > 0 && budgetFrac <= 1,
      s"budgetFrac must be in (0, 1], got $budgetFrac")
    val td = docs.select($"source", $"doc_id",
      size(tokens($"text")).as("tok"))
    val per = td.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("n_tokens"))
      .withColumn("wd", sqrt($"n_tokens".cast("double"))
        .cast("decimal(28,14)"))
    val tot = per.agg(sum($"wd").cast("double").as("sumw"),
      sum($"n_tokens").cast("double").as("tottok"))
    val rates = per.crossJoin(broadcast(tot))
      .withColumn("share", $"wd".cast("double") / $"sumw")
      .withColumn("rate", least(lit(1.0),
        ($"share" * ($"tottok" * lit(budgetFrac))) /
          $"n_tokens".cast("double")))
      .select($"source", $"n_docs", $"n_tokens", $"share", $"rate")
    val keep = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) " +
        "as bigint) % 1000000") <
      round($"rate" * lit(1000000.0)).cast("bigint")
    td.join(broadcast(rates), "source")
      .withColumn("k", when(keep, 1L).otherwise(0L))
      .groupBy($"source")
      .agg(first($"n_docs").as("n_docs"),
        first($"n_tokens").as("n_tokens"),
        round(first($"share"), 6).as("share"),
        round(first($"rate"), 6).as("rate"),
        sum($"k").as("kept_docs"),
        sum($"k" * $"tok").as("kept_tokens"))
      .orderBy($"source")
  }

  /** Curation funnel (q81) — the survival audit every pipeline owner reads
    * before shipping a data recipe: per source, how many documents survive
    * each curation stage CUMULATIVELY — exact dedup (keep the min-id copy
    * of identical texts), near-dup dedup (q35's min-id-representative rule
    * over the q21 pair graph), quality (q29 score ≥ `qualityMin`), and
    * language (= `lang`). The stage ORDER matters and mirrors production
    * practice: dedup before quality so a high-quality text duplicated 100×
    * counts once, quality before language so the language row reads "of
    * the good docs, how many are in-language".
    *
    * Determinism: stage flags are integer 0/1; the quality threshold
    * compares the q29 value, which is itself oracle-bit-equal, so the
    * boundary cannot diverge. Scale shape: one md5-groupBy shuffle for
    * exact keepers, the MEMOIZED q21 pair stage for near-dup losers, a
    * per-row map for quality/language, two doc_id joins pinned
    * shuffled-hash (keeper and loser lists are corpus-sized in the worst
    * case — broadcast would die), and one per-source partial agg. */
  def curationFunnel(spark: SparkSession, dir: String,
      qualityMin: Double = 0.5, lang: String = "en",
      maxDf: Int = 100): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    withGateFlags(spark, dir, docs.select($"doc_id", $"source", $"lang"),
        qualityMin, lang, 0.8, maxDf)
      .select($"source", $"f_ex", $"f_near", $"f_q", $"f_lang")
      .transform(funnelAgg)
  }

  /** The four funnel gate flags appended to `base` (any frame carrying
    * `doc_id` and `lang`), plus the q29 `quality` value they test. The gate
    * DEFINITIONS live here once — q81's rollup and q112's per-document
    * manifest must agree formula-for-formula, and their specs compare
    * totals, not formulas, so a second copy could silently diverge.
    * Keeper/loser/quality joins are doc-keyed and pinned shuffle_hash
    * (corpus-sized both sides); the loser side rides the memoized df-gated
    * pair stage. */
  private def withGateFlags(spark: SparkSession, dir: String,
      base: DataFrame, qualityMin: Double, lang: String,
      threshold: Double, maxDf: Int): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val keepers = docs.groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id", lit(1).as("f_ex"))
      .hint("shuffle_hash")
    val losers = Dedup.ngramPairs(spark, dir, threshold, maxDf)
      .select($"d2".as("doc_id")).distinct()
      .withColumn("is_loser", lit(1))
      .hint("shuffle_hash")
    val quality = TextAnalysis.qualityScore(spark, dir)
      .select($"doc_id", $"quality")
      .hint("shuffle_hash")
    base
      .join(keepers, Seq("doc_id"), "left")
      .join(losers, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"))
      .withColumn("f_ex", coalesce($"f_ex", lit(0)))
      .withColumn("f_near", when($"is_loser".isNull, 1).otherwise(0))
      .withColumn("f_q", when($"quality" >= qualityMin, 1).otherwise(0))
      .withColumn("f_lang", when($"lang" === lang, 1).otherwise(0))
      .drop("is_loser")
  }

  /** Token-weighted dedup yield per source (q92): the funnel (q81) counts
    * DOCUMENTS; training budgets count TOKENS. Joins the q35 keep/drop
    * decisions with per-doc whitespace token counts and reports, per
    * source, docs and tokens before/after near-dup dedup plus the
    * surviving-token fraction — the number a data recipe actually budgets
    * against ("how many tokens does source X contribute after dedup?").
    * A source can keep 95% of its docs but 60% of its tokens when its
    * duplicated docs are the long ones; the doc-count funnel can't see
    * that.
    *
    * Scale shape: decisions ride the memoized pair stage (q21's); the
    * token count is a per-row map; one per-source partial agg. The
    * decisions join is doc-keyed and pinned shuffled (both sides are
    * corpus-sized). */
  def tokenYield(spark: SparkSession, dir: String, threshold: Double = 0.8,
      maxDf: Int = 100): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        TextAnalysis.wsTokenCount($"text").as("n_tokens"))
    val decisions = Dedup.deduplicate(spark, dir, threshold,
      pairs = Some(Dedup.ngramPairs(spark, dir, threshold, maxDf)))
    toks.join(decisions.hint("shuffle_hash"), Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"keep").cast("bigint").as("n_kept"),
        sum($"n_tokens").as("tokens_total"),
        sum($"keep" * $"n_tokens").cast("bigint").as("tokens_kept"))
      .withColumn("token_yield", when($"tokens_total" > 0,
        round($"tokens_kept" * lit(1.0) / $"tokens_total", 6)))
      .orderBy($"source")
  }

  /** Per-source dataset card (q93) — the one-table summary a dataset
    * release ships: volume (docs, whitespace tokens, char range), language
    * makeup (distinct langs, English fraction), quality (decimal-exact
    * mean of the q29 score) and near-dup rate (q35 decisions). Pure
    * composition: every ingredient is an existing oracle-exact per-doc
    * frame; the card is one per-source partial agg on top.
    *
    * Determinism: the quality mean is a DECIMAL sum of the 6-dp-rounded
    * per-row scores with ONE double division (the q19 avg pattern) —
    * never a shuffled double sum. Scale shape: quality/token counts are
    * per-row maps, decisions ride the memoized pair stage, and the
    * doc-keyed joins are pinned shuffled (both sides corpus-sized). */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"lang", $"n_chars",
        TextAnalysis.wsTokenCount($"text").as("n_tokens"))
    val quality = TextAnalysis.qualityScore(spark, dir)
      .select($"doc_id", $"quality").hint("shuffle_hash")
    val decisions = Dedup.deduplicate(spark, dir).hint("shuffle_hash")
    docs
      .join(quality, Seq("doc_id"))
      .join(decisions, Seq("doc_id"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        countDistinct($"lang").as("n_langs"),
        round(sum(when($"lang" === "en", 1).otherwise(0)) * lit(1.0) /
          count(lit(1)), 6).as("pct_en"),
        (sum(round($"quality", 6).cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("avg_quality"),
        round((count(lit(1)) - sum($"keep")) * lit(1.0) / count(lit(1)), 6)
          .as("dup_rate"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"))
      .orderBy($"source")
  }

  /** Quality-ranked token-budget selection (q95) — the curation step that
    * turns a scored corpus into a training set of a FIXED token size: per
    * source, documents are ranked by the q29 quality score (best first,
    * doc_id tiebreak) and kept while the running whitespace-token total
    * stays within `budget`. The kept set is the maximal quality-first
    * prefix — the greedy answer to "give me the best `budget` tokens from
    * each source".
    *
    * Determinism: the rank order compares the q29 quality value, which is
    * oracle-bit-equal ([[TextAnalysis.qualityScoreOf]]), with an integer
    * doc_id tiebreak; the running total is an integer sum, so the budget
    * boundary cannot diverge between engines. Zero-token documents are
    * excluded up front (they carry no budget weight and an undefined
    * score).
    *
    * Scale shape: the per-source window is the op's hazard — a mega-source
    * would sort corpus-sized on one task. Because every candidate carries
    * ≥ 1 token, at most `budget` documents can ever be kept, so a salted
    * partial window (the [[sourceCapOf]] two-phase shape) first cuts each
    * (source, salt) slice to its top-`budget` rows; the exact window then
    * sees ≤ salts·budget rows per source REGARDLESS of corpus size. Both
    * windows spill-sort on (quality, doc_id); nothing corpus-sized lands
    * on a single task. */
  def tokenBudget(spark: SparkSession, dir: String,
      budget: Long = 500, salts: Int = 8): DataFrame =
    tokenBudgetOf(Tables.documents(spark, dir), budget, salts)

  /** [[tokenBudget]] over an arbitrary `(doc_id, source, text, n_chars)`
    * frame. */
  def tokenBudgetOf(docs: DataFrame, budget: Long, salts: Int): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, s"budget must be positive, got $budget")
    val scored = graft.operators.TextAnalysis.withQualityScore(docs)
      .select($"doc_id", $"source", $"quality",
        size(tokens($"text")).cast("bigint").as("n_tokens"))
      .filter($"n_tokens" > 0)
    val partial = Window.partitionBy($"source", $"doc_id" % salts)
      .orderBy($"quality".desc, $"doc_id")
    val exact = Window.partitionBy($"source")
      .orderBy($"quality".desc, $"doc_id")
    scored
      // ≥ 1 token per doc ⇒ the kept prefix has ≤ `budget` rows, and a
      // kept doc's salt-partition rank ≤ its exact rank ≤ budget: the
      // prune is lossless while bounding the exact window's input.
      .withColumn("prn", row_number().over(partial))
      .filter($"prn" <= budget)
      .withColumn("rn", row_number().over(exact))
      .withColumn("cum_tokens",
        sum($"n_tokens").over(exact.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .filter($"cum_tokens" <= budget)
      .select($"source", $"rn".cast("int").as("rn"), $"doc_id",
        $"n_tokens", $"cum_tokens", round($"quality", 6).as("quality"))
      .orderBy($"source", $"rn")
  }

  // ---------------------------------------------------------------------
  // Deterministic training order
  // ---------------------------------------------------------------------

  /** Deterministic training-data ordering (q96) — the "global shuffle" a
    * training run needs made reproducible: every document gets a shard
    * (md5 bucket mod `nShards`) and a position within its shard (rank of
    * the md5 order key). Any two runs — any cluster, any partitioning,
    * any restart — read the exact same sequence, and a training job can
    * seek to (shard, pos) to resume mid-epoch. The order key is salted
    * with `"ord:"` so it is independent of the q64 split hash — documents
    * adjacent here share no relationship with their split assignment.
    *
    * Scale shape: one hash exchange on `shard` plus a per-shard sort —
    * exactly the `repartition(shard).sortWithinPartitions` layout a
    * training-data writer wants. Shard count is the knob: pick
    * nShards ≈ corpus_bytes / target_shard_bytes so each shard's sort
    * fits one task's spill budget; the fixture uses 16. No window ever
    * sees more than corpus/nShards rows, and the md5 key spreads
    * uniformly so shards cannot skew. */
  def trainOrder(spark: SparkSession, dir: String,
      nShards: Int = 16): DataFrame =
    trainOrderOf(Tables.documents(spark, dir), nShards)

  /** q96's salted deterministic read-order key, and its shard derivation
    * (reads the `ord_key` column). One definition — the (shard, pos)
    * layout is an oracle-parity contract shared by q96 and q112. */
  private[graft] val ordKey: Column =
    md5(concat(lit("ord:"), col("doc_id").cast("string")))
  private def shardOfOrdKey(nShards: Int): Column =
    (expr("cast(conv(substring(ord_key, 1, 15), 16, 10) as bigint)")
      % nShards).cast("int")

  /** [[trainOrder]] over an arbitrary `(doc_id, source)` frame. */
  def trainOrderOf(docs: DataFrame, nShards: Int): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val keyed = docs.select($"doc_id", $"source", ordKey.as("ord_key"))
      .withColumn("shard", shardOfOrdKey(nShards))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy($"shard").orderBy($"ord_key", $"doc_id"))
        .cast("long"))
      .select($"shard", $"pos", $"doc_id", $"source")
      .orderBy($"shard", $"pos")
  }

  // ---------------------------------------------------------------------
  // Training manifest (the shippable per-document disposition)
  // ---------------------------------------------------------------------

  /** Training manifest (q112) — ONE row per document carrying the full
    * disposition a training run consumes, composed from the tiers the
    * engine already proves separately: the q81 funnel's keep/drop gates
    * (exact keeper → near-dup survivor → quality ≥ `qualityMin` → language)
    * collapsed to a `keep` bit plus the FIRST failing gate as
    * `drop_reason`; the q61 PII hit total (a redaction workload note, not
    * a drop gate); the q64 content-hash split; and, for KEPT documents
    * only, the q96 deterministic (shard, pos) read order within their
    * (split, shard) — dropped documents carry pos = 0. This is the
    * artifact the rest of the pipeline exists to produce: a trainer reads
    * `keep = 1` rows of its split in (shard, pos) order, an auditor reads
    * the drop_reason/pii histogram, and both get identical answers on any
    * cluster, any partitioning, any rerun.
    *
    * The kept-only position avoids a second pass: a running
    * `sum(keep) OVER (split, shard ORDER BY ord_key, doc_id)` counts kept
    * rows up to and including the current one, so multiplying by `keep`
    * yields the 1-based rank among kept documents (and 0 for drops) in one
    * window.
    *
    * Scale shape: the near-dup loser set rides the memoized df-gated pair
    * stage (q21's); the keeper/loser/quality joins are doc-keyed and
    * pinned shuffle_hash (corpus-sized both sides); PII counts, split and
    * shard are per-row maps; the one window sorts ~corpus/(splits·nShards)
    * rows per task — `nShards` is the knob, sized like q96's so each
    * shard's sort fits a task's spill budget. */
  def trainingManifest(spark: SparkSession, dir: String,
      qualityMin: Double = 0.5, lang: String = "en",
      threshold: Double = 0.8, maxDf: Int = 100,
      nShards: Int = 16): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    require(nShards > 0, s"nShards must be positive, got $nShards")
    // per-row columns: PII hit total (q61's pattern set), q64 split
    // bucket, q96 ord key + shard — all map-side, no extra shuffles; the
    // formulas are the shared splitBucket/splitOfBucket/ordKey helpers, so
    // the manifest cannot diverge from q62/q64/q96
    val piiHits = piiPatterns.map { case (_, pat) =>
      size(regexp_extract_all($"text", lit(pat), lit(0))) }.reduce(_ + _)
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"lang", piiHits.as("pii_hits"),
        splitBucket.as("bucket"), ordKey.as("ord_key"))
      .withColumn("split", splitOfBucket(defaultSplits))
      .withColumn("shard", shardOfOrdKey(nShards))
    // the gate flags are the shared q81 definitions (withGateFlags)
    val flagged = withGateFlags(spark, dir, base, qualityMin, lang,
        threshold, maxDf)
      .withColumn("keep", $"f_ex" * $"f_near" * $"f_q" * $"f_lang")
      .withColumn("drop_reason",
        when($"f_ex" === 0, "exact_dup").when($"f_near" === 0, "near_dup")
          .when($"f_q" === 0, "low_quality").when($"f_lang" === 0, "lang")
          .otherwise(""))
    val w = Window.partitionBy($"split", $"shard")
      .orderBy($"ord_key", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged
      .withColumn("pos", (sum($"keep").over(w) * $"keep").cast("long"))
      .select($"doc_id", $"source", $"split", $"keep", $"drop_reason",
        round($"quality", 6).as("quality"), $"pii_hits", $"shard", $"pos")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // Corpus snapshot diff
  // ---------------------------------------------------------------------

  /** Snapshot diff (q100) — the crawl-to-crawl delta report that drives
    * incremental reprocessing: given two corpus snapshots keyed on doc_id,
    * classify every changed identity as `added` (new id), `removed` (id
    * gone) or `changed` (id present in both, md5(text) differs) and emit
    * one row per non-identical document with both content fingerprints.
    * Downstream consumers re-embed/re-index exactly these rows instead of
    * the whole corpus — `unchanged` documents (the overwhelming majority
    * of a real delta) are filtered out BEFORE the presentation sort, so
    * the output is delta-sized, not corpus-sized.
    *
    * Scale shape: both sides project to (doc_id, md5(text)) map-side — 16
    * bytes of digest per doc crosses the wire, never text — then one full
    * outer join on doc_id, pinned shuffled (both sides corpus-sized), and
    * a per-row status map. No windows, no skew risk beyond genuine id
    * collisions (none: doc_id is the key). */
  def snapshotDiffOf(base: DataFrame, next: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val b = base.select($"doc_id", md5($"text").as("base_fp"))
      .hint("shuffle_hash")
    val n = next.select($"doc_id", md5($"text").as("next_fp"))
      .hint("shuffle_hash")
    b.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when($"base_fp".isNull, "added")
          .when($"next_fp".isNull, "removed")
          .when($"base_fp" =!= $"next_fp", "changed")
          .otherwise("unchanged"))
      .filter($"status" =!= "unchanged")
      .select($"doc_id", $"status",
        coalesce($"base_fp", lit("")).as("base_fp"),
        coalesce($"next_fp", lit("")).as("next_fp"))
      .orderBy($"doc_id")
  }

  /** Fixture form (q100): the "next crawl" is derived deterministically
    * from the base corpus — every 11th document (mod 3) disappears, every
    * 7th (mod 2) gets revised text, and every 13th (mod 5) spawns a new
    * document id one million above its parent — so both engines diff the
    * same pair of snapshots without a second fixture table. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
    val next = base.filter($"doc_id" % 11 =!= 3)
      .withColumn("text", when($"doc_id" % 7 === 2,
        concat($"text", lit(" rev2"))).otherwise($"text"))
      .unionByName(base.filter($"doc_id" % 13 === 5)
        .withColumn("doc_id", $"doc_id" + 1000000L)
        .withColumn("text", concat($"text", lit(" new"))))
    snapshotDiffOf(base, next)
  }

  /** Per-source cumulative-survival aggregation over a
    * `(source, f_ex, f_near, f_q, f_lang)` flag frame — the funnel's final
    * stage, shared by the batch form above (q81) and the streaming form
    * ([[graft.streaming.Continuous.streamedCurationFunnel]], q88). One
    * partial-agg shuffle keyed on source. */
  private[graft] def funnelAgg(flags: DataFrame): DataFrame =
    flags
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("f_ex")).cast("bigint").as("n_exact"),
        sum(col("f_ex") * col("f_near")).cast("bigint").as("n_neardup"),
        sum(col("f_ex") * col("f_near") * col("f_q")).cast("bigint")
          .as("n_quality"),
        sum(col("f_ex") * col("f_near") * col("f_q") * col("f_lang"))
          .cast("bigint").as("n_final"))
      .orderBy(col("source"))

  /** Near-dup cluster-size histogram (q106) — how many clusters of each
    * size the q50 contraction produced, singletons included: the one-line
    * duplication profile of a corpus (a heavy tail of large clusters means
    * boilerplate or mirror sites; a spike at size N means an N-way crawl
    * overlap). Reading it next to [[Dedup.thresholdSweep]] tells a
    * pipeline owner what the chosen threshold actually did.
    *
    * Scale shape: rides [[dedupClusters]] (memoized pair stage + the
    * O(log n) star contraction); two partial-agg shuffles collapse to a
    * cluster-count frame then a size-count frame — output is bounded by
    * the largest cluster size, never corpus-sized. */
  def clusterSizes(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxDf: Int = 100): DataFrame =
    dedupClusters(spark, dir, threshold, maxDf)
      .groupBy(col("cluster")).agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("size")).as("n_docs"))
      .orderBy(col("size"))

  /** Per-column expectations audit (q102) — the schema-level data-quality
    * pass a pipeline runs on every new corpus drop before any curation
    * logic touches it: for each column, the row count, null count,
    * distinct count, and min/max rendered as strings (one uniform report
    * schema across column types). A column whose null rate or value range
    * jumped between drops is the earliest possible corruption signal —
    * cheaper than any content-level check downstream.
    *
    * Scale shape: one single-pass aggregate PER COLUMN, each scanning only
    * its own column (parquet column pruning makes the N scans read the
    * same bytes one N-column scan would) — no expand-based
    * multi-countDistinct blowing up the shuffle row count; min/max/count
    * partial-aggregate map-side, countDistinct shuffles the column's
    * distinct values only. */
  def columnAudit(spark: SparkSession, dir: String): DataFrame =
    columnAuditOf(Tables.documents(spark, dir),
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** [[columnAudit]] over an arbitrary frame and column list. */
  def columnAuditOf(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "need at least one column to audit")
    columns.map { c =>
      df.select(col(c))
        .agg(
          count(lit(1)).as("n_rows"),
          coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
            .as("n_null"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("vmin"),
          max(col(c)).cast("string").as("vmax"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("vmin"), col("vmax"))
    }.reduce(_.unionAll(_)).orderBy(col("col_name"))
  }
}
