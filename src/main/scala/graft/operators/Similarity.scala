package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.StageMemo.Stages
import graft.functions.VectorFunctions.dot

/** Similarity search over the `embeddings` fixture (`Array[Float]`, dim 64).
  *
  * Dot products run through [[graft.functions.DotProduct]] — a native
  * Catalyst expression that compiles to a primitive loop inside whole-stage
  * codegen (the interpreted `zip_with`+`aggregate` formulation costs ~10×
  * on million-pair joins). Summation order is unchanged, so results stay
  * bit-identical to the DuckDB oracle.
  *
  * Scale story: [[bruteForceTopK]] broadcasts the small query side and
  * scans the corpus once (linear, perfectly parallel); [[cosineNearDup]]
  * is the quadratic all-pairs baseline (correct at fixture scale);
  * [[lshTopK]] is the 100 TB path — deterministic random-hyperplane
  * signatures bucket the corpus so each query only scans its own
  * Hamming-ball buckets.
  */
object Similarity {

  /** Embedding cast to double with precomputed L2 norm — memoized per
    * session ([[graft.StageMemo]]): every ANN query (q25–q27, q38) starts
    * from this narrow (vec_id, v, norm) frame, and each one references it
    * 2–4× (corpus side, query side, final score joins), so persisting it
    * once replaces up to 4 parquet scans + norm recomputations per query.
    * At corpus scale this is exactly the frame a production ANN pipeline
    * pins (MEMORY_AND_DISK: ~0.5 KB/row at dim 64 — a 1B-vector corpus
    * spreads ~500 GB over the cluster's storage tier). */
  private def vecs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.StageMemo(spark, Stages.vecs(dir)) {
      Tables.embeddings(spark, dir)
        .select($"vec_id", $"label",
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .withColumn("norm", sqrt(dot($"v", $"v")))
    }
  }

  /** Corpus size of [[vecs]], memoized with the vector frame: one job per
    * session, not one per invocation (the count is over the persisted
    * frame). */
  private def vecCount(spark: SparkSession, dir: String): Long =
    graft.StageMemo.scalar(spark, Stages.vecs_count(dir))(
      vecs(spark, dir).count())

  /** All-pairs cosine near-duplicates above `threshold` (embedding-cosine
    * near-dup dedup). Quadratic candidate set — correct baseline at fixture
    * scale; production path is [[lshTopK]]-style bucketing first.
    *
    * Budget-gated like [[Curation.bloomDedup]]: the all-pairs plan is the
    * BASELINE contract, so rather than silently submitting an O(n²) join
    * over an oversized corpus it refuses loudly above `maxCorpus` and names
    * the scale paths. (No silent fallback here — LSH/IVF change results, so
    * the switch must be the caller's.) The gate count reads the memoized
    * vector frame the query needs anyway. */
  def cosineNearDup(spark: SparkSession, dir: String,
      threshold: Double = 0.4, maxCorpus: Long = 2000000L): DataFrame = {
    import spark.implicits._
    val e = vecs(spark, dir)
    val n = vecCount(spark, dir)
    require(n <= maxCorpus,
      s"cosineNearDup is the all-pairs baseline: corpus size $n exceeds " +
        s"maxCorpus=$maxCorpus — use the LSH-bucketed near-dup path " +
        "(cosineNearDupLsh/q56: same semantics, measured sub-linear to " +
        "100x), sign-LSH ANN (lshTopK/q27), IVF (ivfTopK/q38), or " +
        "MinHash-LSH dedup (q22) at this scale")
    // The threshold lives INSIDE the join condition: the nested-loop join
    // then evaluates the (codegen'd) dot product per candidate pair and
    // materializes only survivors — never the O(n²) intermediate of wide
    // vector rows. Survivors recompute cos in the projection (identical
    // expression ⇒ identical value).
    def cos = round(dot($"a.v", $"b.v") / $"a.norm" / $"b.norm", 6)
    // stream side round-robined to full width: the nested-loop scan is the
    // quadratic cost, and a few-file corpus would run it nearly serial;
    // the build side broadcasts regardless, so only one side pays the
    // exchange (per-consumer, not on the shared memoized frame — the other
    // ANN paths are broadcast- or aggregate-shaped and don't need it)
    val wide = e.repartition(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    wide.as("a").join(broadcast(e.as("b")),
        $"a.vec_id" < $"b.vec_id" && cos >= threshold)
      .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"), cos.as("cos"))
      .orderBy($"v1", $"v2")
  }

  /** The shared q26/q79 scoring chain — ONE copy of the load-bearing
    * choices (query set `vec_id % 100 = 0`, 6-digit score rounding,
    * `(cos desc, neighbor)` tie-break, bounded rank window) so the exact
    * baseline and the hard-negative miner cannot silently diverge.
    * `negativesOnly` adds the label-mismatch join predicate and carries
    * the two label columns through. */
  private def queryCosTopK(e: DataFrame, k: Int,
      negativesOnly: Boolean): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val q = e.filter($"vec_id" % 100 === 0)
    val cond =
      if (negativesOnly) $"a.vec_id" =!= $"b.vec_id" && $"a.label" =!= $"b.label"
      else $"a.vec_id" =!= $"b.vec_id"
    val labelCols =
      if (negativesOnly) Seq($"a.label".as("q_label"), $"b.label".as("neg_label"))
      else Nil
    val scored = broadcast(q).as("a").join(e.as("b"), cond)
      .select(Seq($"a.vec_id".as("q_id"), $"b.vec_id".as("neighbor"),
        round(dot($"a.v", $"b.v") / $"a.norm" / $"b.norm", 6).as("cos")) ++
        labelCols: _*)
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"neighbor")
    val outCols =
      if (negativesOnly) Seq($"q_id", $"q_label", $"rank", $"neighbor", $"neg_label", $"cos")
      else Seq($"q_id", $"rank", $"neighbor", $"cos")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select(outCols: _*)
      .orderBy($"q_id", $"rank")
  }

  /** Brute-force cosine top-k neighbors for a deterministic query subset
    * (`vec_id % 100 = 0`) — the exact-ANN baseline. The small query side is
    * broadcast; the corpus is scanned once. */
  def bruteForceTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    queryCosTopK(vecs(spark, dir), k, negativesOnly = false)

  private val DIM = 64

  /** (vec_id, tbl, sig) sign-LSH signature frame of a (vec_id, v, …) frame:
    * the native [[graft.functions.SignLshSigs]] expression computes every
    * per-table signature in one codegen-resident kernel call per row (the
    * earlier `transform` + planes-literal formulation paid tables × bits
    * interpreted dot products per row — HOFs have no codegen). Shared by
    * the top-k probe path ([[lshTopKOf]]) and the near-dup pair path
    * ([[cosineNearDupLshOf]]) so both bucket identically — and identically
    * to the DuckDB oracles, which rebuild the same md5 planes
    * (differential-tested in DedupSimilaritySpec and gated by the
    * q27/q56 oracle rows). */
  /** Per-table sign-LSH signatures of an index frame. Vectors that are
    * NULL or carry a NULL ELEMENT are excluded here, by construction:
    * [[graft.functions.SignLshSigs]] would score a null element as a 0
    * contribution while an oracle's list_dot_product propagates NULL — the
    * only way both engines agree on such a vector's bucket is for neither
    * to index it (the q27/q56 oracles carry the matching predicate). */
  private def sigFrame(e: DataFrame, bits: Int, tables: Int): DataFrame =
    e.filter(not(coalesce(exists(col("v"), x => x.isNull), lit(true))))
      .select(col("vec_id"),
        posexplode(graft.functions.LshFunctions.lshSigs(col("v"), DIM, bits,
          tables)).as(Seq("tbl", "sig")))

  /** (tbl, sig) pairs of buckets at-or-under `maxBucket` members — the
    * hot-bucket gate: count first, semi-join, never materialize a list. */
  private def smallBucketsOf(sigs: DataFrame, maxBucket: Int): DataFrame =
    sigs.groupBy(col("tbl"), col("sig"))
      .agg(count(lit(1)).as("n")).filter(col("n") <= maxBucket)
      .select(col("tbl"), col("sig"))

  /** Multi-table sign-LSH approximate top-k over an arbitrary
    * `(vec_id, v: array<double>)` frame — the library form of [[lshTopK]].
    *
    * `tables` independent hash tables, each keyed by `bits` hyperplane sign
    * bits; a query probes its own bucket plus every Hamming-distance-1
    * bucket in every table. Scale shape:
    *  - bucket space is `2^bits` PER TABLE (configurable; use
    *    bits ≈ log2(corpus)+4 so buckets stay O(1)) — no small-key-space
    *    hot shuffle;
    *  - buckets larger than `maxBucket` are dropped by a count + semi-join
    *    gate BEFORE the probe join (a degenerate bucket — all-zero vectors,
    *    crawler boilerplate — never materializes a candidate explosion, the
    *    same df-gate shape as [[Dedup.ngramJaccardOf]]);
    *  - candidate generation moves only (table, sig, vec_id) triples; the
    *    wide vectors join in AFTER the distinct candidate set is formed.
    *
    * Sign-LSH recall is a function of pair cosine (per-bit agreement is
    * 1 − θ/π), so this operator is the NEAR-DUPLICATE scale path: at
    * cos ≥ 0.95 with 16-bit tables recall is ≳ 99% (asserted in
    * DedupSimilaritySpec on planted duplicates); for weakly-similar top-k
    * over unclustered corpora use [[ivfTopK]]. */
  /** XOR masks enumerating every signature within Hamming `probeDist` —
    * the multi-probe fanout shared by the top-k probe path ([[lshTopKOf]])
    * and the near-dup pair path ([[cosineNearDupLshOf]]):
    * 1 + bits + C(bits,2) masks at radius 2 (56 at the default 10 bits), a
    * fixed per-row fanout that buys recall without touching index size.
    * Radius > 2 explodes combinatorially for marginal lift — rejected. */
  private def probeFlips(bits: Int, probeDist: Int): Seq[Long] = {
    require(probeDist >= 0 && probeDist <= 2,
      s"probeDist must be 0..2, got $probeDist")
    Seq(0L) ++
      (if (probeDist >= 1) (0 until bits).map(b => 1L << b) else Nil) ++
      (if (probeDist >= 2)
        for { a <- 0 until bits; b <- (a + 1) until bits }
          yield (1L << a) | (1L << b)
      else Nil)
  }

  /** `bits` sentinel for [[lshTopKOf]]/[[cosineNearDupLshOf]] (their
    * DEFAULT since r14): size the signature width from a one-action
    * corpus count instead of a fixture constant. The r13 measurement
    * that forced this: the scaladoc's ⌈log2 n⌉+4 rule was a note the
    * caller had to read, and the fixture-fixed bits=10 default read
    * 480.2 s at the 30× staged corpus where hand-sizing read 73.5 s
    * (multi-probe; exponent 1.59 vs 1.15) — bucket occupancy n/2^bits
    * grows linearly with a corpus the default knows nothing about.
    * Passing an explicit width still pins it (the oracle-checked fixture
    * entries pin 10: the DuckDB oracle rebuilds the same signatures). */
  val AutoBits: Int = 0

  /** The corpus-sized signature width: `⌈log2 n⌉ + 4` — +4 holds
    * expected bucket occupancy at n/2^bits ≤ 1/16, so buckets stay O(1)
    * as the corpus grows — floored at the fixture default 10 (corpora
    * ≤ 64 vectors keep their current buckets), and with the occupancy
    * slack halved at probe radius 2, where the C(bits,2) mask fanout
    * makes each extra bit cost quadratically more probe rows (the r13
    * counter-measurement: oversizing is a mild LOSS when occupancy
    * isn't yet the bottleneck — sized 53.6 s vs fixed 47.3 s at the 30×
    * single-probe smoke — so the slack is spent only where the fanout
    * price is linear). */
  private[graft] def autoBitsFor(n: Long, probeDist: Int): Int = {
    val ceilLog2 = // ⌈log2 n⌉ for n ≥ 2; 0 and 1 fall into the floor
      if (n <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.max(10, ceilLog2 + 4 - (if (probeDist >= 2) 2 else 0))
  }

  /** Resolves the caller's `bits` against [[AutoBits]]: explicit widths
    * pass through validated; the sentinel pays ONE count action on the
    * corpus and applies [[autoBitsFor]]. */
  private def resolveBits(bits: Int, vecsDf: DataFrame,
      probeDist: Int): Int = {
    require(bits == AutoBits || (bits >= 4 && bits <= 48),
      s"bits must be AutoBits (corpus-sized) or in [4, 48], got $bits")
    if (bits == AutoBits) autoBitsFor(vecsDf.count(), probeDist) else bits
  }

  def lshTopKOf(vecsDf: DataFrame, isQuery: Column, k: Int = 5,
      bits: Int = AutoBits, tables: Int = 8, maxBucket: Int = 2048,
      probeDist: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizedBits = resolveBits(bits, vecsDf, probeDist)
    // multi-probe radius: every bucket within Hamming `probeDist` of the
    // query's signature, in every table
    val flips = probeFlips(sizedBits, probeDist)
    val e = vecsDf.select(col("vec_id"), col("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val sigs = sigFrame(e, sizedBits, tables)
    val idx = sigs.join(smallBucketsOf(sigs, maxBucket),
      Seq("tbl", "sig"), "left_semi")
    val probes = sigFrame(e.filter(isQuery), sizedBits, tables)
      .select(col("vec_id").as("q_id"), col("tbl"),
        explode(array(flips.map(lit): _*)).as("flip"),
        col("sig").as("qsig"))
      .select(col("q_id"), col("tbl"),
        expr("qsig ^ flip").as("sig"))
    val cand = probes.join(idx, Seq("tbl", "sig"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("neighbor"))
      .distinct()
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc,
      col("neighbor"))
    cand
      .join(e.select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qnorm")), "q_id")
      .join(e.select(col("vec_id").as("neighbor"), col("v").as("nv"),
        col("norm").as("nnorm")), "neighbor")
      .select(col("q_id"), col("neighbor"),
        round(dot(col("qv"), col("nv")) / col("qnorm") / col("nnorm"), 6)
          .as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("neighbor"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Fixture entry point for [[lshTopKOf]] (q27). The hyperplanes are
    * md5-deterministic precisely so another engine can rebuild the same
    * signatures — the DuckDB oracle reproduces the full multi-table
    * pipeline (planes → sign bits → bucket gate → Hamming-1 probes)
    * bit-for-bit; the recall contract is additionally spec-asserted. */
  def lshTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    // bits PINNED at 10, not AutoBits: the DuckDB oracle rebuilds these
    // exact signatures (planes → sign bits → buckets) from a static SQL
    // text, so the fixture entry must not re-bucket with the corpus
    lshTopKOf(vecs(spark, dir), col("vec_id") % 100 === 0, k, bits = 10)

  /** LSH-bucketed cosine near-dup pairs — the PRODUCTION-SCALE path for
    * [[cosineNearDup]]'s semantics (the operator its budget gate names).
    *
    * Candidates are pairs sharing a sign-LSH bucket in ANY of the `tables`
    * hash tables; each candidate is then verified with the exact codegen
    * dot product, so precision is 1 — every emitted pair genuinely clears
    * `threshold`, with the same rounded cosine [[cosineNearDup]] reports.
    * Recall is the multi-table sign-LSH collision probability
    * (1 − (1 − a^bits)^tables, a = 1 − θ/π per-bit agreement). At the
    * defaults (bits=10, tables=8) that is ≈ 0.97 at cos 0.95 and > 0.999
    * at cos 0.99 — the near-dup regime this operator targets, asserted on
    * planted duplicates in DedupSimilaritySpec at BOTH the defaults and
    * the sharper bits=16 banding. Recall is deliberately low for
    * weakly-similar pairs — those are top-k work ([[ivfTopK]]), not dedup.
    *
    * Scale shape (never quadratic, unlike the all-pairs baseline):
    *  - the pair join shuffles on (tbl, sig) — 2^bits keys per table — and
    *    the hot-bucket gate bounds every bucket to `maxBucket` members
    *    BEFORE pairing, so the worst key emits ≤ maxBucket²/2 pairs;
    *  - only (vec_id, tbl, sig) triples move through candidate generation;
    *    the wide vectors join in AFTER the distinct pair set is formed;
    *  - exact verification is linear in candidates, which the planted-dup
    *    regime keeps near-linear in corpus size. */
  def cosineNearDupLshOf(vecsDf: DataFrame, threshold: Double = 0.4,
      bits: Int = AutoBits, tables: Int = 8, maxBucket: Int = 2048,
      probeDist: Int = 0): DataFrame = {
    val sizedBits = resolveBits(bits, vecsDf, probeDist)
    val e = vecsDf.select(col("vec_id"), col("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val sigs = sigFrame(e, sizedBits, tables)
    val idx = sigs.join(smallBucketsOf(sigs, maxBucket),
      Seq("tbl", "sig"), "left_semi")
    // multi-probe (probeDist > 0): one side additionally probes every
    // bucket within Hamming `probeDist` of its signature, so a pair whose
    // signatures differ in ≤ probeDist bits in SOME table still collides
    // (flip = sig_a ^ sig_b works from either end, so probing one side
    // covers both orders). The fanout is the fixed |probeFlips| per index
    // row — candidate growth is bounded by fanout × the same maxBucket
    // gate, never corpus-shaped; the gate applies BEFORE probing, so a hot
    // bucket is dropped from both the probe and index sides. probeDist = 0
    // is the single-bucket r11 path, bit-identical (flip mask 0 only).
    val flips = probeFlips(sizedBits, probeDist)
    val probe =
      if (probeDist == 0) idx
      else idx
        .select(col("vec_id"), col("tbl"),
          explode(array(flips.map(lit): _*)).as("flip"), col("sig"))
        .select(col("vec_id"), col("tbl"), expr("sig ^ flip").as("sig"))
    val cand = probe.as("a").join(idx.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .distinct()
    def cos =
      round(dot(col("av.v"), col("bv.v")) / col("av.norm") / col("bv.norm"), 6)
    cand
      .join(e.as("av"), col("v1") === col("av.vec_id"))
      .join(e.as("bv"), col("v2") === col("bv.vec_id"))
      .select(col("v1"), col("v2"), cos.as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy(col("v1"), col("v2"))
  }

  /** Fixture entry point (q56): [[cosineNearDup]]'s threshold over the
    * embeddings corpus, via the bucketed path. Same output shape as q25;
    * on the near-uniform fixture the weak 0.4 threshold recalls only the
    * bucket-colliding subset (the oracle reproduces the full pipeline, so
    * the driver checks pipeline fidelity; the recall CONTRACT at the
    * operator's target regime is the planted-duplicate spec). */
  def cosineNearDupLsh(spark: SparkSession, dir: String,
      threshold: Double = 0.4, probeDist: Int = 0): DataFrame =
    // memoized like Dedup.ngramPairs: the verified pair frame is shared by
    // the pair query (q56) and the cluster form (q68) in one session
    graft.StageMemo(spark, Stages.lshpairs(dir, threshold, probeDist)) {
      // bits PINNED at 10 for the static oracle SQL, like lshTopK
      cosineNearDupLshOf(vecs(spark, dir), threshold, bits = 10,
        probeDist = probeDist)
    }

  /** Per-(label, dimension) centroid coordinate of a (label, v) frame —
    * the embedding-quality diagnostic behind [[labelCentroids]] and
    * [[centroidOutliers]]. Per-dim sums run over DECIMAL(28,14) casts so
    * the result is shuffle-order-independent (the README bit-equality
    * rule), converted to double exactly once before the single division.
    *
    * Scale shape: `posexplode` generates 64 (label, d, x) rows per vector,
    * but the map-side partial aggregate collapses them to (labels × 64)
    * accumulators per partition BEFORE the single exchange (PlanSpec pins
    * one hash shuffle) — so shuffle volume is labels × 64 × partitions,
    * independent of corpus size; per-group state is a decimal accumulator,
    * O(1). No collect, no driver state. */
  private[graft] def centroidCoords(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("label"), col("d"))
      .agg((sum(col("x").cast("decimal(28,14)")).cast("double") /
        count(lit(1))).as("c"),
        count(lit(1)).as("n"))

  /** Per-label centroid coordinates (q58): one row per (label, dim) —
    * the relational form, so downstream filters/joins see scalar columns
    * and the driver oracle compares exactly. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    centroidCoords(vecs(spark, dir))
      .select(col("label"), col("d").cast("int").as("dim"),
        round(col("c"), 6).as("c"), col("n"))
      .orderBy(col("label"), col("dim"))

  /** Top-k farthest vectors from their own label's centroid (q59) —
    * mislabeled-cluster / outlier detection. Distance uses the identity
    * |x−c|² = x·x − 2·x·c + c·c with every dot product running the native
    * codegen [[graft.functions.DotProduct]] in index order, so DuckDB's
    * `list_dot_product` reproduces the exact IEEE sequence.
    *
    * Scale shape: centroids reassemble to one 64-element array per label
    * (collect_list bounded by DIM, not corpus), join back on label (tiny
    * side broadcasts under Catalyst stats), and the per-label top-k is a
    * window rank — a label holding most of the corpus would skew that
    * window; at that shape use the salted two-stage top-n of
    * [[Curation.sourceCap]] instead. */
  def centroidOutliersOf(e: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = centroidCoords(e)
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("cv"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist").desc, col("vec_id"))
    // NULL vectors are excluded like centroidCoords excludes them — without
    // this, greatest(0, null-dot) would report a null vector as sitting
    // exactly AT its centroid (dist 0), the opposite of what an outlier
    // diagnostic should say about a row it cannot score
    e.filter(col("v").isNotNull).join(cent, "label")
      .select(col("vec_id"), col("label"),
        // |x−c|² is mathematically ≥ 0 but the three independently-summed
        // dots carry rounding noise: a vector AT its centroid (singleton
        // label, or byte-identical duplicates) can compute fractionally
        // negative — Spark would emit NaN (which sorts FIRST desc) and
        // DuckDB's sqrt throws. Clamp on both sides.
        round(sqrt(greatest(lit(0.0),
          dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("cv"))
            + dot(col("cv"), col("cv")))), 6).as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("label"), col("rank"), col("vec_id"), col("dist"))
      .orderBy(col("label"), col("rank"))
  }

  /** Fixture entry point (q59). */
  def centroidOutliers(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    centroidOutliersOf(vecs(spark, dir), k)

  /** IVF (inverted-file) approximate top-k — the scale path for top-k over
    * weakly-clustered corpora, where sign-LSH recall collapses (per-bit
    * agreement ~0.6 at cos 0.35).
    *
    * Coarse quantizer: every `pivotMod`-th vector is a pivot (deterministic,
    * data-dependent — no RNG state); each corpus vector is assigned to its
    * nearest pivot by cosine via a broadcast pivot table + map-side
    * `max_by` aggregate (the n×P candidate frame collapses to one row per
    * vector BEFORE any shuffle). A query probes its `nprobe` nearest cells;
    * cells larger than `maxCell` are dropped by a count gate. At corpus
    * scale pick P ≈ √n pivots (pivotMod ≈ n/√n) so cells stay O(√n) and the
    * probe join shuffles on a P-wide key space.
    *
    * Defaults are tuned for the near-uniform synthetic fixture (recall
    * 0.92 vs [[bruteForceTopK]], spec-asserted ≥ 0.9); real embedding
    * corpora cluster, which is what makes nprobe ≪ P recall-safe there. */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 5,
      pivotMod: Int = 16, nprobe: Int = 20, maxCell: Int = 65536): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = vecs(spark, dir)
    val piv = e.filter($"vec_id" % pivotMod === 1)
      .select($"vec_id".as("pid"), $"v".as("pv"), $"norm".as("pnorm"))
    // nearest pivot per vector: max_by over a broadcast cross join — the
    // aggregate partial-applies map-side, so nothing P-wide ever shuffles
    val assign = e.crossJoin(broadcast(piv))
      .select($"vec_id",
        struct((dot($"v", $"pv") / $"norm" / $"pnorm").as("c"),
          (-$"pid").as("np")).as("key"),
        $"pid")
      .groupBy($"vec_id")
      .agg(max_by($"pid", $"key").as("pid"))
    val cells = assign.groupBy($"pid").agg(count(lit(1)).as("n"))
      .filter($"n" <= maxCell).select($"pid")
    val gated = assign.join(cells, Seq("pid"), "left_semi")
    val wProbe = Window.partitionBy($"q_id")
      .orderBy((dot($"qv", $"pv") / $"qnorm" / $"pnorm").desc, $"pid")
    val probes = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"norm".as("qnorm"))
      .crossJoin(broadcast(piv))
      .withColumn("rk", row_number().over(wProbe))
      .filter($"rk" <= nprobe)
      .select($"q_id", $"pid")
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"neighbor")
    probes.join(gated, "pid")
      .filter($"q_id" =!= $"vec_id")
      .select($"q_id", $"vec_id".as("neighbor"))
      .join(e.select($"vec_id".as("q_id"), $"v".as("qv"),
        $"norm".as("qnorm")), "q_id")
      .join(e.select($"vec_id".as("neighbor"), $"v".as("nv"),
        $"norm".as("nnorm")), "neighbor")
      .select($"q_id", $"neighbor",
        round(dot($"qv", $"nv") / $"qnorm" / $"nnorm", 6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"q_id", $"rank", $"neighbor", $"cos")
      .orderBy($"q_id", $"rank")
  }

  /** Symmetric int8 quantization audit — the embedding-compression step
    * (4× smaller index for the ANN paths) with its acceptance stats: per
    * vector, the quantization scale's numerator `max_abs`, the count of
    * saturated codes (|q| = 127, always ≥ the argmax element), and the
    * integer code sums a dequantization consumer can checksum against.
    * All-zero vectors are excluded — they have no scale (and nothing to
    * quantize).
    *
    * Every output except `max_abs` is an INTEGER derived from
    * `round(x·127/max_abs)` — one double multiply-divide-round per
    * element, no cross-element float accumulation — so the DuckDB oracle
    * reproduces the values bit-exactly (`max_abs` itself is an
    * order-independent max over exactly-representable float→double casts).
    * Pure per-row map, zero shuffles before the presentation sort. */
  def quantizeInt8Of(embeddings: DataFrame): DataFrame =
    embeddings
      .filter(col("v").isNotNull &&
        not(coalesce(exists(col("v"), x => x.isNull), lit(true))))
      .withColumn("max_abs",
        expr("aggregate(v, cast(0.0 as double), (a, x) -> greatest(a, abs(x)))"))
      .filter(col("max_abs") > 0)
      .withColumn("q",
        expr("transform(v, x -> cast(round(x * 127.0 / max_abs) as int))"))
      .select(col("vec_id"), col("max_abs"),
        expr("size(filter(q, x -> abs(x) = 127))").as("n_sat"),
        expr("aggregate(q, 0L, (a, x) -> a + x)").as("sum_q"),
        expr("aggregate(q, 0L, (a, x) -> a + cast(x as bigint) * x)")
          .as("sum_q2"))
      .orderBy(col("vec_id"))

  /** Fixture form (q67). */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    quantizeInt8Of(Tables.embeddings(spark, dir)
      .select($"vec_id",
        expr("transform(embedding, x -> cast(x as double))").as("v")))
  }

  /** Embedding dedup CLUSTERS — the cluster form of [[cosineNearDupLsh]],
    * mirroring what [[Curation.dedupClusters]] is to the n-gram pair list:
    * connected components of the cosine ≥ threshold near-dup graph, one
    * row per vector with its cluster representative (smallest vec_id) and
    * the keep/drop decision. Pairwise output alone can drop both ends of
    * a chain A~B~C; the cluster form is what a pipeline ships.
    *
    * Scale shape: the pair stage is the LSH-bucketed candidate join
    * (bounded buckets, exact verify) and the contraction is the same
    * O(log n)-round large-star/small-star loop as q50 — vectors that
    * never pair (including null/null-element vectors the index excludes)
    * surface as singletons via the left join, so the output covers the
    * whole table. */
  def embeddingDedupClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.4,
      driverEdgeBudget: Long = 100000): DataFrame = {
    import spark.implicits._
    val pairs = cosineNearDupLsh(spark, dir, threshold)
      .select($"v1".as("d1"), $"v2".as("d2"))
    val comp = Curation.connectedComponentsStar(pairs,
      driverEdgeBudget = driverEdgeBudget)
    Tables.embeddings(spark, dir)
      .select($"vec_id")
      .join(comp.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select($"vec_id",
        coalesce($"label", $"vec_id").as("cluster"))
      .withColumn("keep", when($"cluster" === $"vec_id", 1).otherwise(0))
      .orderBy($"vec_id")
  }

  /** Unit-normalized valid vectors `(vec_id, u)` — the k-means working
    * frame: NULL vectors, vectors carrying a null element, and zero-norm
    * vectors are excluded (none of them has a defined direction), matching
    * the LSH index's exclusion rule. Element-wise division by the norm is
    * one IEEE double op per coordinate, so DuckDB's
    * `list_transform(v, x -> x / norm)` reproduces `u` bit for bit. */
  private def unitVecs(spark: SparkSession, dir: String): DataFrame =
    unitVecsOf(vecs(spark, dir))

  /** [[unitVecs]] over an arbitrary `(vec_id, v, norm)` frame. */
  private def unitVecsOf(e: DataFrame): DataFrame =
    e.filter(col("v").isNotNull &&
        not(coalesce(exists(col("v"), x => x.isNull), lit(true))) &&
        col("norm") > 0)
      .select(col("vec_id"), expr("transform(v, x -> x / norm)").as("u"))

  /** Score-and-argmin against a FIXED center list — the map-side half of a
    * Lloyd iteration. Centers arrive as driver-held literals (the model
    * state, k × dim doubles), so assignment is a pure projection: each row
    * evaluates k codegen'd [[graft.functions.DotProduct]] kernels against
    * literal arrays and takes `array_min` over (score, cluster) structs —
    * no join, no shuffle, no HOF lambda in the hot path. `score` is the
    * squared-distance surrogate c·c − 2·u·c (|u| = 1, so the shared +1
    * cannot reorder the argmin); ties break toward the lower cluster id
    * via the struct ordering. */
  private def assignToCenters(valid: DataFrame,
      centers: Seq[(Int, Seq[Double])]): DataFrame = {
    val cand = centers.map { case (cl, c) =>
      // ss on the driver is the same left-to-right IEEE sum the oracle's
      // list_dot_product(c, c) executes
      val ss = c.foldLeft(0.0)((a, x) => a + x * x)
      struct(
        (lit(ss) - lit(2.0) * dot(col("u"), typedLit(c))).as("score"),
        lit(cl).as("cluster"))
    }
    valid.withColumn("best", array_min(array(cand: _*)))
      .select(col("vec_id"), col("u"),
        col("best.cluster").as("cluster"), col("best.score").as("score"))
  }

  /** Final k-means assignment frame `(vec_id, u, cluster, score)` after
    * `iters` Lloyd iterations from a deterministic seed (the `k`
    * lowest-id valid vectors) — memoized per session, shared by
    * [[kmeansAssign]] (q73) and [[semDedup]] (q74).
    *
    * Spark-first shape (the same loop MLlib's KMeans runs): centers are
    * DRIVER state — k × dim doubles, a model parameter, not data — so each
    * iteration is one codegen'd map-side assignment pass plus one
    * decimal-mean aggregate whose shuffle volume is k × dim × partitions
    * (map-side partial combine, corpus-size-independent), collected back
    * as the next iteration's literals. Nothing corpus-sized ever reaches
    * the driver; `require(k * DIM <= 1 << 20)` bounds the model state.
    *
    * Cross-engine determinism: per-dim means run over DECIMAL(28,14)
    * sums (order-independent) converted to double by one exact division;
    * every dot product is the same index-order IEEE sequence on both
    * engines; a cluster that empties keeps its previous center. */
  private def kmeansFrame(spark: SparkSession, dir: String,
      k: Int, iters: Int): DataFrame =
    graft.StageMemo(spark, Stages.kmeans(dir, k, iters)) {
      kmeansOf(unitVecs(spark, dir), k, iters)
    }

  /** The Lloyd loop over an arbitrary unit-vector frame `(vec_id, u)` —
    * the library form behind [[kmeansAssign]]/[[semDedup]]; returns the
    * final `(vec_id, u, cluster, score)` assignment. */
  private[graft] def kmeansOf(valid: DataFrame, k: Int,
      iters: Int): DataFrame = {
    require(k > 0 && iters > 0, s"need positive k/iters, got $k/$iters")
    require(k * DIM <= (1 << 20),
      s"k=$k x dim=$DIM exceeds the driver-held model-state budget")
    var centers: Seq[(Int, Seq[Double])] =
      valid.orderBy(col("vec_id")).limit(k).collect().toSeq
        .zipWithIndex.map { case (r, i) =>
          (i, r.getSeq[Double](r.fieldIndex("u")))
        }
    if (centers.isEmpty) {
      // no valid vectors ⇒ no seeds: return the empty assignment with the
      // contract schema (array_min over zero center candidates would fail
      // analysis, not return empty)
      return valid.select(col("vec_id"), col("u"),
        lit(0).as("cluster"), lit(0.0).as("score"))
    }
    for (_ <- 1 to iters) {
      val means = assignToCenters(valid, centers)
        .select(col("cluster"), posexplode(col("u")).as(Seq("d", "x")))
        .groupBy(col("cluster"), col("d"))
        .agg((sum(col("x").cast("decimal(28,14)")).cast("double") /
          count(lit(1))).as("c"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cl, rows) =>
          cl -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      centers = centers.map { case (cl, old) =>
        (cl, means.getOrElse(cl, old))
      }
    }
    assignToCenters(valid, centers)
  }

  /** Distributed Lloyd's k-means over unit-normalized embeddings (q73) —
    * the clustering step under corpus maps, SemDeDup-style pruning, and
    * IVF index builds. One row per valid vector: its cluster and the
    * rounded squared distance to the final centroid. */
  def kmeansAssign(spark: SparkSession, dir: String,
      k: Int = 8, iters: Int = 3): DataFrame =
    kmeansFrame(spark, dir, k, iters)
      .select(col("vec_id"), col("cluster"),
        // |u - c|^2 = 1 + score; clamp the FP-negative a vector AT its
        // centroid can compute (same guard as centroidOutliersOf)
        round(greatest(lit(0.0), lit(1.0) + col("score")), 6).as("d2"))
      .orderBy(col("vec_id"))

  /** SemDeDup (q74): semantic near-duplicate pruning WITHIN k-means
    * clusters — the SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus, then drop any vector with a lower-id cosine
    * near-duplicate in its own cluster, keeping the lowest id as
    * canonical. One row per clustered vector with the keep/drop decision
    * and the duplicate it loses to (−1 when kept).
    *
    * Scale shape: the pairwise stage is quadratic only WITHIN a cluster —
    * the whole point of clustering first. The fixture runs k=8; a
    * production corpus MUST size k ≈ √N: Lloyd assignment costs O(N·k)
    * and the within-cluster pairs O(N²/k), so √ sizing balances both at
    * O(N^1.5). ScaleSmoke measured all three policies to 150k vectors —
    * fixed k=8 exponent 0.86 (pair term not yet dominant, heads to 2),
    * k ∝ N exponent 1.98 (assignment itself goes quadratic — more
    * clusters is NOT free), k ∝ √N exponent 1.46 ≈ the theoretical 1.5.
    * √ sizing also keeps the cluster-keyed self-join's key space wide —
    * at k=8 the join shuffles on 8 keys, fine for 500 vectors, a hot-key
    * shuffle at scale. The threshold compares the ROUNDED cosine like
    * q56, so the boundary is engine-stable. */
  def semDedup(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, threshold: Double = 0.4): DataFrame =
    semDedupFromAssign(kmeansFrame(spark, dir, k, iters), threshold)

  /** [[semDedup]] with the measured production sizing applied for the
    * caller: k = ⌈√corpus⌉ (from the memoized vector count, so no extra
    * job on a warm session). This makes the √N rule the Scaladoc above
    * derives — and ScaleSmoke measures — executable instead of advisory:
    * callers who don't know the corpus size cannot accidentally run the
    * fixed-k (pair-quadratic) or k ∝ N (assignment-quadratic) shapes. */
  def semDedupAuto(spark: SparkSession, dir: String,
      iters: Int = 3, threshold: Double = 0.4): DataFrame = {
    val n = vecCount(spark, dir)
    val k = math.max(1, math.sqrt(n.toDouble).round.toInt)
    semDedup(spark, dir, k, iters, threshold)
  }

  /** [[semDedup]] over an arbitrary `(vec_id, u, cluster, ...)` k-means
    * assignment frame. */
  private[graft] def semDedupFromAssign(assign: DataFrame,
      threshold: Double): DataFrame = {
    // the assignment frame is one row per vector — corpus-sized on BOTH
    // sides of the within-cluster self-join: pin it shuffled-hash (on the
    // cluster key) so fixture-scale stats can't elect a broadcast
    val dupOf = assign.as("a").join(assign.hint("shuffle_hash").as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id") &&
          round(dot(col("a.u"), col("b.u")), 6) >= threshold)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("a.vec_id")).as("dup_of"))
    assign.join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("dup_of").isNotNull, 1).otherwise(0).as("dropped"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
      .orderBy(col("vec_id"))
  }

  /** Hard-negative mining (q79) — the contrastive-training companion of
    * [[bruteForceTopK]]: for each query vector, the top-`k` most similar
    * vectors carrying a DIFFERENT label. Those maximally-confusing
    * negatives are what embedding-model training samples against each
    * (anchor, positive) pair; random negatives are too easy to shape the
    * loss. Same query set, score rounding, and broadcast plan as q26 —
    * the only change is the label-mismatch predicate in the join, so the
    * per-query candidate set shrinks to the other labels' vectors.
    *
    * Scale shape: the bounded query side broadcasts; scoring is a
    * codegen'd map over the corpus; the per-query top-k window partitions
    * on q_id. The production path at corpus scale swaps the brute-force
    * scorer for [[lshTopK]]'s bucket gate exactly as q26 → q27. */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    queryCosTopK(vecs(spark, dir), k, negativesOnly = true)

  /** Reciprocal-rank-fusion hybrid retrieval (q80) — the standard way a
    * retrieval pipeline combines a lexical ranker and a vector ranker
    * (Cormack et al., SIGIR 2009): fuse [[TextAnalysis.bm25TopDocs]]'s
    * top-`n` list with the cosine top-`n` of a designated query vector,
    * scoring each doc `Σ 1/(c + rank)` over the lists it appears in
    * (absent ⇒ contributes 0) at the conventional c = 60. The fusion
    * score is computed in scaled INTEGER arithmetic — `1e12 div
    * (c + rank)` per list, summed — so ordering and values are bit-equal
    * on any engine (the true rational 1/(60+r) has no finite decimal
    * form).
    *
    * The fixture corpus keys documents and embeddings by the same id
    * space (doc_id = vec_id), which is how a production multi-view corpus
    * is laid out. Query vector = vec 0; BM25 query = its default
    * top-df terms.
    *
    * Scale shape: both input rankers end in bounded top-`n` heaps
    * (TakeOrdered), so the fusion join touches ≤ 2n rows regardless of
    * corpus size; the cosine side is one broadcast row scored in a
    * codegen'd map over the corpus — no window over the corpus, no extra
    * shuffle beyond what the two rankers already pay. */
  def rrfFusion(spark: SparkSession, dir: String, n: Int = 20,
      k: Int = 10, c: Int = 60): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    require(n >= k && k > 0, s"need n >= k > 0, got n=$n k=$k")
    val e = vecs(spark, dir)
    val q = e.filter($"vec_id" === 0)
    val cosTop = e.as("b").join(broadcast(q).as("a"),
        $"a.vec_id" =!= $"b.vec_id")
      .select($"b.vec_id".as("doc_id"),
        round(dot($"a.v", $"b.v") / $"a.norm" / $"b.norm", 6).as("cos"))
      .orderBy($"cos".desc, $"doc_id").limit(n)
      .withColumn("cos_rank",
        row_number().over(Window.orderBy($"cos".desc, $"doc_id")))
      .select($"doc_id", $"cos_rank")
    val bm25Top = TextAnalysis.bm25TopDocs(spark, dir)
      .filter($"rank" <= n)
      .select($"doc_id", $"rank".as("bm25_rank"))
    bm25Top.join(cosTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr(s"1000000000000 div ($c + bm25_rank)"), lit(0L)) +
          coalesce(expr(s"1000000000000 div ($c + cos_rank)"), lit(0L)))
      .orderBy($"rrf_score".desc, $"doc_id").limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy($"rrf_score".desc, $"doc_id")))
      .select($"rank", $"doc_id", $"bm25_rank", $"cos_rank", $"rrf_score")
      .orderBy($"rank")
  }

  /** Per-dimension embedding statistics (q97) — the calibration audit run
    * before quantization (q67) or whitening: for every dimension, count,
    * zero count, min/max, the |max| that seeds a per-CHANNEL int8 scale
    * (vs q67's per-vector scale), the mean, and the RMS. A dimension with
    * max_abs 100× its RMS is an outlier channel that per-tensor
    * quantization would crush — exactly what this table exists to catch.
    *
    * Determinism: min/max/max_abs compare exact float→double casts
    * (order-free); mean and RMS use the engine's decimal-sum rule — each
    * element (or its square, exact in a double: 24-bit float mantissa
    * squares into 48 ≤ 53 bits) is quantized to a DECIMAL once, the sum
    * is order-independent, and ONE double division/sqrt finishes — never
    * a shuffled double sum.
    *
    * Scale shape: posexplode fans each vector into `dim` rows, but the
    * aggregate partial-combines map-side, so the shuffle carries one row
    * per (partition, dimension) — dimension-count-sized, corpus-size
    * independent, like the count-min grid. No windows, no driver state. */
  def dimStats(spark: SparkSession, dir: String): DataFrame =
    dimStatsOf(vecs(spark, dir))

  /** [[dimStats]] over an arbitrary `(vec_id, v: array<double>)` frame. */
  def dimStatsOf(embeddings: DataFrame): DataFrame = {
    import embeddings.sparkSession.implicits._
    embeddings
      .filter($"v".isNotNull &&
        not(coalesce(exists($"v", x => x.isNull), lit(true))))
      .select(posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"dim")
      .agg(
        count(lit(1)).as("n"),
        sum(when($"x" === 0.0, 1L).otherwise(0L)).as("n_zero"),
        min($"x").as("vmin"),
        max($"x").as("vmax"),
        max(abs($"x")).as("max_abs"),
        (sum($"x".cast("decimal(28,14)")).cast("double") / count(lit(1)))
          .as("mean_raw"),
        (sum(($"x" * $"x").cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("msq_raw"))
      .select($"dim", $"n", $"n_zero", $"vmin", $"vmax", $"max_abs",
        round($"mean_raw", 6).as("mean"),
        round(sqrt($"msq_raw"), 6).as("rms"))
      .orderBy($"dim")
  }

  /** ANN recall audit (q109) — per query vector, recall@k of BOTH scale
    * paths (q27's multi-table sign-LSH and q38's IVF) against the q26
    * exact top-k: the acceptance evidence for replacing the brute-force
    * scan at 100 TB. Production reads the recall distribution (min/median)
    * before routing a workload to a bucketed index — the embedding twin of
    * [[Dedup.minhashAccuracy]]. On the fixture the table shows the
    * documented regime split numerically: IVF carries generic top-k
    * (macro recall ≥ 0.9), while sign-LSH's recall is low there BY DESIGN
    * — its buckets only co-locate the high-cosine near-dup regime q56
    * uses it for. Routing a weak-similarity workload to the LSH path is
    * exactly the mistake this audit catches. The `recall_mp` column is
    * the mitigation knob priced in the same table: Hamming-2 MULTI-PROBE
    * over the very same LSH index (wider per-query probe fanout, zero
    * index growth), which dominates `recall_lsh` pointwise
    * (candidates(H2) ⊇ candidates(H1)) and narrows the regime split.
    *
    * Scale shape: all four inputs are (queries × k)-bounded frames riding
    * the memoized vector stage; the intersections are semi-joins on
    * (q_id, neighbor) pinned shuffled (the frames are corpus/100-sized —
    * fixture-scale stats must not elect a broadcast that dies at 100×),
    * and the rollup is one partial agg per side. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE truth reference: hit markers left-join onto the truth list
    // (1:≤1, no fanout — (q_id, neighbor) is unique on both sides) and a
    // single groupBy yields n_true and both hit counts. The earlier
    // semi-join-per-path form referenced `truth` three times, so the
    // whole brute-force chain re-executed per reference.
    def marked(approx: DataFrame, flag: String) = approx
      .select($"q_id", $"neighbor").withColumn(flag, lit(1))
      .hint("shuffle_hash")
    // the Hamming-2 MULTI-PROBE row: same index, same tables — only the
    // per-query probe fanout widens (56 probes/table vs 11), so the audit
    // shows what the cheap knob buys in the generic top-k regime where
    // single-probe sign-LSH recall is low by design (its H1 candidates
    // need near-identical signatures, which weakly-similar true
    // neighbors rarely have; candidates(H2) ⊇ candidates(H1), so this
    // recall dominates recall_lsh pointwise — spec-asserted)
    val mp = lshTopKOf(vecs(spark, dir), $"vec_id" % 100 === 0,
      bits = 10, probeDist = 2) // pinned for the static oracle, like q27
    bruteForceTopK(spark, dir).select($"q_id", $"neighbor")
      .join(marked(lshTopK(spark, dir), "h_lsh"),
        Seq("q_id", "neighbor"), "left")
      .join(marked(ivfTopK(spark, dir), "h_ivf"),
        Seq("q_id", "neighbor"), "left")
      .join(marked(mp, "h_mp"), Seq("q_id", "neighbor"), "left")
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"h_lsh", lit(0))).cast("bigint").as("n_hit_lsh"),
        sum(coalesce($"h_ivf", lit(0))).cast("bigint").as("n_hit_ivf"),
        sum(coalesce($"h_mp", lit(0))).cast("bigint").as("n_hit_mp"))
      .withColumn("recall_lsh",
        round($"n_hit_lsh" * lit(1.0) / $"n_true", 6))
      .withColumn("recall_ivf",
        round($"n_hit_ivf" * lit(1.0) / $"n_true", 6))
      .withColumn("recall_mp",
        round($"n_hit_mp" * lit(1.0) / $"n_true", 6))
      .orderBy($"q_id")
  }

  /** Dim-truncation recall audit (q115) — per-query recall@k of serving
    * nearest neighbors from the FIRST `keepDims` embedding dimensions
    * against the full-width exact top-k: the acceptance evidence for
    * prefix-truncated (matryoshka-style) storage tiers, where a 4× smaller
    * index is worth it exactly when this table says recall holds. The
    * q104 JL projection answers the same storage question with a random
    * transform; this audits the simpler "just keep the prefix" policy —
    * which only works when the embedding model front-loads information,
    * which is precisely what the audit measures. Embedding twin of q109
    * (which audits the bucketing approximations at full width).
    *
    * Scale shape: two broadcast-query-side scans of the memoized vector
    * frame (the q26 chain at both widths — truncation is a per-row
    * `slice`), bounded top-k heaps, one semi-join of two k-row-per-query
    * lists. Vectors whose truncated prefix is all-zero are absent from the
    * truncated index (no direction to rank by — unservable from this
    * tier, mirroring [[quantizationRecall]]'s max_abs > 0 exclusion), so
    * truth neighbors among them read as misses. */
  def truncationRecall(spark: SparkSession, dir: String, keepDims: Int = 16,
      k: Int = 5): DataFrame = {
    import spark.implicits._
    require(keepDims > 0 && keepDims <= DIM,
      s"keepDims must be in [1, $DIM], got $keepDims")
    // a nonzero vector whose first keepDims dims are all zero has no
    // direction in the truncated space — unservable from this tier, same
    // exclusion (and miss accounting) as quantizationRecall's max_abs > 0;
    // without the filter its cosine is an engine-dependent 0/0
    val trunc = vecs(spark, dir)
      .select($"vec_id", $"label", slice($"v", 1, keepDims).as("v"))
      .withColumn("norm", sqrt(dot($"v", $"v")))
      .filter($"norm" > 0)
    // one truth reference (q109's single-pass marker shape): the hit flag
    // left-joins onto the truth list (1:≤1, no fanout) and one groupBy
    // yields n_true and n_hit together
    bruteForceTopK(spark, dir, k).select($"q_id", $"neighbor")
      .join(queryCosTopK(trunc, k, negativesOnly = false)
        .select($"q_id", $"neighbor").withColumn("hit", lit(1))
        .hint("shuffle_hash"),
        Seq("q_id", "neighbor"), "left")
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0))).cast("bigint").as("n_hit"))
      .withColumn("recall", round($"n_hit" * lit(1.0) / $"n_true", 6))
      .orderBy($"q_id")
  }

  /** Quantization recall audit (q116) — per-query recall@k of serving
    * nearest neighbors from int8-quantized-then-dequantized embeddings
    * (q67's per-vector max-abs scheme) against the full-precision exact
    * top-k. Completes the storage-tier acceptance TRIO: q109 audits the
    * bucketing approximations, q115 the width cut, this the precision
    * cut — the three knobs a 100 TB vector index actually turns, each
    * with the same per-query recall table as its evidence. q67 audits the
    * quantized VALUES (saturation, moments); this audits what the
    * retrieval consumer cares about.
    *
    * Scale shape: q115's — two broadcast-query scans of the memoized
    * vector frame (full precision and dequantized; quantization is a
    * per-row map), bounded top-k heaps, one shuffled marker join.
    * Unquantizable vectors (null elements, all-zero) are absent from the
    * dequantized index — exactly production, where they cannot be served
    * from the int8 tier — so truth neighbors among them read as misses. */
  def quantizationRecall(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    import spark.implicits._
    val deq = vecs(spark, dir)
      .filter($"v".isNotNull &&
        not(coalesce(exists($"v", x => x.isNull), lit(true))))
      .withColumn("max_abs",
        expr("aggregate(v, cast(0.0 as double), (a, x) -> greatest(a, abs(x)))"))
      .filter($"max_abs" > 0)
      .withColumn("v", expr("transform(v, x -> " +
        "cast(round(x * 127.0 / max_abs) as int) * max_abs / 127.0)"))
      .withColumn("norm", sqrt(dot($"v", $"v")))
      .select($"vec_id", $"label", $"v", $"norm")
    bruteForceTopK(spark, dir, k).select($"q_id", $"neighbor")
      .join(queryCosTopK(deq, k, negativesOnly = false)
        .select($"q_id", $"neighbor").withColumn("hit", lit(1))
        .hint("shuffle_hash"),
        Seq("q_id", "neighbor"), "left")
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0))).cast("bigint").as("n_hit"))
      .withColumn("recall", round($"n_hit" * lit(1.0) / $"n_true", 6))
      .orderBy($"q_id")
  }

  /** Johnson–Lindenstrauss random projection (q104) — compress each
    * embedding to `outDim` dimensions with a deterministic ±1 sign matrix
    * (Achlioptas' database-friendly JL variant: s(j,d) = ±1 from the md5
    * of (j, d), scaled by 1/√outDim). The dimensionality-reduction step a
    * pipeline runs before ANN indexing or clustering when the full width
    * is too expensive — JL guarantees pairwise distances survive within
    * (1±ε) at outDim = O(ln n / ε²), and the sign matrix needs no stored
    * model: any executor regenerates any entry from the hash.
    *
    * Determinism: each product x·s(j,d) is quantized to DECIMAL(28,14)
    * before the order-free per-(vector, j) sum (the q97 protocol), ONE
    * double division by √outDim, 6-dp round.
    *
    * Scale shape: the dim × outDim explode fans each vector into
    * 64·outDim rows, but the aggregate partial-combines map-side to
    * `outDim` rows per vector before the one shuffle — corpus-linear with
    * a constant factor, no model state, no driver collect. Long-form
    * output (vec_id, j, y) keeps the schema width-independent. */
  def jlProjection(spark: SparkSession, dir: String,
      outDim: Int = 16): DataFrame =
    jlProjectionOf(vecs(spark, dir), outDim)

  /** [[jlProjection]] over an arbitrary `(vec_id, v: array<double>)`
    * frame. */
  def jlProjectionOf(embeddings: DataFrame, outDim: Int = 16): DataFrame = {
    import embeddings.sparkSession.implicits._
    require(outDim > 0, s"need positive outDim, got $outDim")
    val exploded = embeddings
      .filter($"v".isNotNull &&
        not(coalesce(exists($"v", x => x.isNull), lit(true))))
      .select($"vec_id", posexplode($"v").as(Seq("d", "x")))
    // the ±1 sign matrix is inDim × outDim DATA-INDEPENDENT values —
    // materialize it once per input dimension (a dim-count frame, model-
    // fixed, broadcast-safe at any corpus size) instead of recomputing
    // md5(j:d) once per (vector, dimension, j) row: at sf0.1 the inline
    // form paid 5.12M md5 calls for 1,024 distinct values, and md5
    // dominated the operator's measured cost. Dimension indices come
    // from sequence(0, max width - 1) over a one-row max-size aggregate
    // — a v-column-only scan with no explode, no distinct shuffle (the
    // first cut re-exploded the corpus just to enumerate ~64 values);
    // ragged widths are safe, the join drops generated d's no row carries
    val signs = embeddings
      .select(size($"v").as("n"))
      .agg(max($"n").as("n"))
      .select(explode(expr("sequence(0, n - 1)")).as("d"))
      .select($"d", array((0 until outDim).map(j =>
        when(substring(md5(concat(lit(j), lit(":"), $"d")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), lit(1.0))
          .otherwise(lit(-1.0))): _*).as("s"))
    // one aggregation ROW per vector with outDim decimal accumulators,
    // not one row per (vector, j): exploding j multiplied the agg input
    // 16x (153.6M rows at the 30x smoke) for no information — the j sums
    // are independent columns of the same group. The stack afterwards is
    // presentation over the already-reduced vector-count frame. Decimal
    // sums are order-independent, so the emitted values are bit-identical
    // to the exploded form's.
    val accs = (0 until outDim).map(j =>
      sum(($"x" * $"s".getItem(j)).cast("decimal(28,14)")).as(s"a$j"))
    val stackExpr = (0 until outDim).map(j => s"$j, a$j").mkString(", ")
    exploded
      .join(broadcast(signs), "d")
      .groupBy($"vec_id")
      .agg(accs.head, accs.tail: _*)
      .select($"vec_id",
        expr(s"stack($outDim, $stackExpr)").as(Seq("j", "acc")))
      .select($"vec_id", $"j",
        round($"acc".cast("double") / math.sqrt(outDim), 6).as("y"))
      .orderBy($"vec_id", $"j")
  }
}
