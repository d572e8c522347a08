package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine.{hfs, labeled}
import graft.{StageMemo, Staging, Tables}
import graft.StageMemo.Stages

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * All hash primitives are md5-based so results are portable across engines
  * (the DuckDB oracle reproduces every pipeline bit-for-bit) and every stage
  * is a plain shuffle-on-key plan — no driver-side state, no O(n²) step
  * without a blocking/banding bound, so each pipeline survives a 100 TB
  * corpus on a real cluster:
  *
  *  - exact: hash-groupBy on the raw text digest (one shuffle);
  *  - ngramJaccard: inverted shingle index self-join with a document-
  *    frequency cap on shingles (bounds join fan-out under skew);
  *  - minhashLsh: constant-size signatures (k md5 minima) → banded bucket
  *    join — candidate generation never compares non-colliding docs;
  *  - simhash: 60-bit fingerprints; near-dup pairs via pigeonhole band
  *    blocking (4×15-bit bands ⇒ exact for hamming distance ≤ 3).
  */
object Dedup {

  /** Word tokens of `text` — the shared engine-wide tokenizer
    * ([[TextAnalysis.tokens]]; one definition, oracle-parity contract).
    * (InvertedIndex's LOWERCASED variant is deliberately separate — Lucene
    * analyzer semantics, not this tokenizer.) */
  private def tokens(c: Column): Column = TextAnalysis.tokens(c)

  /** Distinct word 3-shingles of a `(doc_id, text)` frame: (doc_id, s)
    * with `s` the engine's shingle-key currency — the first 8 md5 digest
    * bytes folded big-endian into one SIGNED 64-bit long (bit-for-bit
    * the 16-hex-char md5 prefix parsed as an unsigned 64-bit integer; the
    * bijection is spec-pinned against the portable SQL hex form as the
    * regression fence). Fixed 8-byte keys: the shingle frame, the df
    * keep-list, and the posting-list groupBy — the fattest shuffles in
    * the engine (the r11 isolated probes pinned this stage at 85-95% of
    * the cluster family's top-decade wall-time) — hash/compare one word
    * instead of a 16-byte UTF8 string. (The conf-selected 16-hex STRING
    * twin was retired in r13 after two rounds of differential validation;
    * the one consumer of the key's VALUE, the minhash sigCol,
    * reconstructs the exact hex form pre-shuffle, so the oracle SQL never
    * sees the currency.) Hashing before the distinct/groupBy shuffles
    * caps per-record shuffle width regardless of shingle text length —
    * at corpus scale the shuffle volume is the cost that matters. 64-bit
    * prefix collisions are ~n²/2⁶⁵ (negligible), and the oracle hashes
    * the same md5 prefix so results stay bit-equal.
    *
    * The per-shingle hash runs in the native
    * [[graft.functions.ShingleHashLongs]] expression — one digest pass
    * per shingle, no intermediate concat/hex/substring strings — over
    * exactly the bytes of the portable SQL
    * `substring(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 16)` the
    * DuckDB oracle runs (differential-tested in DedupSimilaritySpec).
    * Documents with fewer than 3 tokens yield NO shingles (empty array →
    * explode drops the row). */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = {
    val hashArr = graft.functions.TextFunctions.shingleHashLongs(col("t"), 3)
    docs
      // round-robin the RAW docs so the explode+hash stage fans out to full
      // parallelism even from a few-file scan, and doc-length skew spreads.
      // This exchanges text bytes once — less data than the exploded
      // shingle frame (8-16 hash bytes per token vs ~5 text bytes per
      // token), which is what the global .distinct() here used to shuffle.
      .repartition(docs.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"),
        // per-document shingle dedup is array_distinct BEFORE the explode —
        // per-row, no shuffle; a global .distinct() cost a full exchange of
        // the fattest frame in the pipeline for the same (doc_id, s) set
        // (rows are unique per doc already)
        explode(array_distinct(hashArr)).as("s"))
  }

  /** Memoized shingle stage over the fixture corpus — the input of BOTH the
    * ngram-pair pipeline (q21/q35) and the minhash signature build (q22), so
    * one verify/bench round scans + shuffles the shingle frame once, not
    * once per consumer. */
  private[graft] def shingles(spark: SparkSession, dir: String): DataFrame =
    StageMemo(spark, Stages.shingles(dir))(
      shinglesOf(Tables.documents(spark, dir)))

  /** Exact dedup: group identical texts by digest, keep the smallest doc_id
    * (SURVEY north-star op; hash-groupBy — one shuffle, no skew risk beyond
    * genuinely identical texts). */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .select($"keeper", $"n_copies", $"h")
      .orderBy($"keeper")
  }

  /** Normalized ("fuzzy-exact") dedup (q110) — [[exact]]'s hash-groupBy
    * over a CANONICALIZED text: lowercase, non-alphanumerics folded to
    * space, whitespace runs collapsed, edges trimmed. This is the standard
    * pre-step of the C4/CCNet lineage: trivially-reformatted copies
    * (capitalization, punctuation, line-wrapping) hash apart under q20's
    * raw digest but together here, and the gap between the two is exactly
    * what `n_variants` reports — the number of DISTINCT raw digests each
    * normalized group collapses (a group with `n_variants > 1` is a dup
    * family raw exact dedup would have shipped twice). It deliberately
    * sits between q20 (raw digest) and q21 (shingle Jaccard): cheaper than
    * any pair stage, catches the reformatting tier of duplication.
    *
    * Scale shape: identical to [[exact]] — a per-row normalize + digest
    * map, then ONE hash-groupBy shuffle carrying a 16-byte key per doc.
    * No pair stage, no skew risk beyond genuinely identical normal forms.
    * The normalization is regex-only (no Unicode tables beyond `lower`) so
    * the DuckDB oracle reproduces every digest bit-for-bit. */
  def normalizedDedup(spark: SparkSession, dir: String): DataFrame =
    normalizedDedupOf(Tables.documents(spark, dir))

  /** The canonical form [[normalizedDedup]] hashes — exposed so callers
    * composing their own dedup (and the spec) use the exact normalization
    * the operator groups by. */
  private[graft] def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** [[normalizedDedup]] over an arbitrary `(doc_id, text)` frame. */
  private[graft] def normalizedDedupOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text")).as("raw_h"),
        md5(normalizeText(col("text"))).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"),
        countDistinct(col("raw_h")).as("n_variants"))
      .select(col("keeper"), col("n_copies"), col("n_variants"), col("h"))
      .orderBy(col("keeper"))

  /** Unordered N-gram Jaccard near-dup pairs over an arbitrary
    * `(doc_id, text)` frame — the library building block behind
    * [[ngramJaccard]] and [[deduplicate]].
    *
    * Scale shape: per-shingle document frequency is computed with a plain
    * `count` aggregate FIRST, and only shingles with `2 ≤ df ≤ maxDf`
    * survive (left-semi join) before any posting list materializes — a
    * stopword-grade hot shingle never enters an aggregation buffer, it is
    * discarded as a (shingle, count) pair. Posting-list pair generation then
    * groups the gated index once per shingle and emits all doc pairs
    * (bounded by maxDf ⇒ ≤ maxDf²/2 pairs per shingle), halving the shuffle
    * volume of the classic index self-join with a bounded worst key. */
  def ngramJaccardOf(docs: DataFrame, threshold: Double = 0.8,
      maxDf: Int = 100): DataFrame =
    ngramJaccardOfShingles(shinglesOf(docs), threshold, maxDf)

  /** [[ngramJaccardOf]] over an already-built `(doc_id, s)` shingle frame —
    * lets the fixture entry points share the memoized shingle stage with the
    * minhash pipeline instead of re-scanning the corpus. */
  /** The df-gated inverted-index intersection stage — the REAL shared
    * intermediate of the whole shingle-pair family: (d1, d2) unordered
    * candidate pairs with the intersection count `i` and both documents'
    * distinct-shingle counts (c1, c2). Jaccard (q21) and containment
    * (q78) are both one projection away, so memoizing THIS frame (rather
    * than each thresholded view) runs the expensive posting-list
    * explode+count once per session for every consumer. One emission
    * shape for every doc-id type: bigint ids run it directly, others
    * through the fingerprint dictionary ([[docIdRoute]]). */
  private[graft] def interCountsOfShingles(sh: DataFrame,
      maxDf: Int): DataFrame = {
    // non-bigint ids (library callers with string/int keys) map onto the
    // engine's currency at the one boundary, so every caller takes the
    // generator path below; c1/c2 swap with their docs on the way back
    val route = docIdRoute(sh, "ngramJaccardOf/containmentOf")
    val fp = route.frame
    val docLen = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    // the keep-list is O(distinct shingles) — at corpus scale broadcasting
    // it kills the driver (observed at a 10x staged smoke), so pin the
    // semi-join to a shuffled hash join: both sides are already hashed on
    // `s` and the per-partition build side stays bounded
    val keep = fp.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select(col("s"))
      .hint("shuffle_hash")
    // r19 shape (§2.3/§2.4): each doc's FULL length rides the posting
    // entry, and the [[graft.functions.DocIdLenPairs]] generator emits
    // it with the pair — lazily, O(df) peak per posting list — so
    // Jaccard's denominator falls out of the count aggregation itself.
    // The r18 shape joined the PAIR frame back to docLen twice (exchange
    // by d1, again by d2 — the stage's two largest exchanges: 34.5 +
    // 43.1 MiB vs 117 KiB of docLen at sf0.1, both pinned shuffled
    // because docLen is O(corpus docs) and a broadcast dies at scale);
    // attaching c on the GATED index costs one idx-sized exchange
    // (6 MiB) plus two longs on the count agg's partial rows. The
    // imbalance grows with scale: at the df cap, pair volume runs up to
    // maxDf/2 × posting volume. docLen stays a shuffled join — its agg
    // output is already hashed by doc_id. A pair sharing k shingles is
    // emitted k times, so the groupBy count IS the intersection count.
    route.unordered(fp.join(keep, Seq("s"), "left_semi")
      .join(docLen.hint("shuffle_hash"), Seq("doc_id"))
      .groupBy(col("s"))
      .agg(collect_list(struct(col("doc_id"), col("c"))).as("ds"))
      .select(graft.functions.TextFunctions.docIdLenPairs(col("ds"))
        .as(Seq("d1", "d2", "c1", "c2")))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("i"),
        // c1/c2 are functions of d1/d2 — min is just the agg that rides
        // the same partial aggregation as the count
        min(col("c1")).as("c1"), min(col("c2")).as("c2"))
      .select(col("d1"), col("d2"), col("i"), col("c1"), col("c2")),
      "c1" -> "c2")
  }

  /** Memoized intersection stage over the fixture corpus. */
  private[graft] def interCounts(spark: SparkSession, dir: String,
      maxDf: Int): DataFrame =
    StageMemo(spark, Stages.ngraminter(dir, maxDf)) {
      interCountsOfShingles(shingles(spark, dir), maxDf)
    }

  /** Memoized SAMPLED intersection stage over the md5-bucket doc sample —
    * the shared intermediate of the sampled calibration family
    * (q123/q125). Unpersisted, each consumer re-ran the whole sampled
    * chain, and worse: a single sweep/planner plan consumes the pair
    * frame through several aggregation branches (pairs, docs-union,
    * losers), each re-executing the unpersisted subtree — the memo's
    * persist collapses those to one build per session, exactly like the
    * full stage's. */
  private[graft] def interCountsSampled(spark: SparkSession, dir: String,
      sppm: Long, capS: Int): DataFrame =
    StageMemo(spark, Stages.ngraminterS(dir, sppm, capS)) {
      interCountsOfShingles(
        shingles(spark, dir).filter(docSamplePred(sppm)), capS)
    }

  private def jaccardOfInter(inter: DataFrame,
      threshold: Double): DataFrame =
    inter.select(col("d1"), col("d2"),
        round(col("i") * lit(1.0) / (col("c1") + col("c2") - col("i")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

  private[graft] def ngramJaccardOfShingles(sh: DataFrame,
      threshold: Double, maxDf: Int): DataFrame =
    jaccardOfInter(interCountsOfShingles(sh, maxDf), threshold)

  /** Thresholded pair view over the memoized [[interCounts]] stage —
    * shared by [[ngramJaccard]] (q21), [[deduplicate]] (q35) and the
    * cluster family, which [[containment]] (q78) shares through the same
    * inter stage. NOT memoized itself (r19): the view is one
    * filter+projection over the persisted inter frame (an
    * InMemoryTableScan per consumer — no recompute), and persisting it
    * separately materialized a SECOND pair-sized cache copy whose build
    * charged every consuming query's cold lap ~0.75 s (13 redundant
    * builds / 9.7 s of the r19-baseline cold lap) for no warm win. */
  private[graft] def ngramPairs(spark: SparkSession, dir: String,
      threshold: Double, maxDf: Int): DataFrame =
    jaccardOfInter(interCounts(spark, dir, maxDf), threshold)

  /** N-gram (3-shingle) Jaccard near-dup pairs via a df-gated inverted
    * shingle index. `maxDf` drops shingles present in more than that many
    * docs — the standard frequency cap that keeps the candidate join linear
    * in corpus size instead of quadratic in the hottest shingle. */
  def ngramJaccard(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxDf: Int = 100): DataFrame =
    ngramPairs(spark, dir, threshold, maxDf).orderBy(col("d1"), col("d2"))

  /** PREFIX-FILTERED n-gram Jaccard near-dup pairs (q119) — the exact
    * same output as [[ngramJaccard]] (q21: same gate, same intersection
    * semantics, same rounded filter — q119 ships q21's oracle SQL
    * verbatim) computed WITHOUT materializing the full candidate frame.
    *
    * Why it exists: the shared intersection stage is output-bound at the
    * df gate's candidate volume — the r12 isolated probe counts 1.02
    * BILLION candidate pairs at the 30× df-3000 gate, of which 2.39M
    * (0.23%) survive the J ≥ 0.8 filter. Prefix filtering (Bayardo et
    * al., "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et al.,
    * PPJoin) prunes candidate GENERATION: under any global total order
    * on shingles, a qualifying pair must share a shingle within each
    * side's first `g − α + 1` gated shingles (g = gated count, α = the
    * pair-independent overlap lower bound below), so posting lists are
    * built over per-doc PREFIXES only and the full lists are consulted
    * only to verify the surviving candidates exactly.
    *
    * The bound, derived for q21's exact semantics (i counts GATED shared
    * shingles; c1/c2 are FULL distinct-shingle counts; the filter is
    * `round(i/(c1+c2−i), 6) ≥ t`): a qualifying pair has true
    * J ≥ t − 5e-7 (6-dp rounding can admit just-under pairs), and
    * J ≥ t' with c_partner ≥ i forces i ≥ t'·c_x for EACH side x. α is
    * computed in exact integer arithmetic as
    * `max(1, (tn−1)·c div 1e6)` with `tn = round(t·1e6)` — a floor of a
    * valid lower bound, so it can only LENGTHEN the prefix (more
    * candidates), never drop a qualifying pair; float `ceil(t·c)` at a
    * boundary (0.8·35 = 28.000…004) would do the opposite. A doc whose
    * gated count falls below α cannot reach the threshold with any
    * partner and contributes no prefix rows at all.
    *
    * Global order: ascending df, tie-broken by the shingle key — rarest
    * first, the standard choice that minimizes prefix-posting overlap
    * (hot shingles land at the ends of prefixes, so the pair fan-out
    * concentrates on rare shingles with short posting lists).
    *
    * Scale shape: one window over the gated shingle frame (doc-keyed
    * rank + gated count in the same exchange), prefix posting-list pair
    * generation carrying PPJoin's positional payload
    * ([[graft.functions.DocIdRemPairs]] — the same bounded-worst-key
    * contract as the full stage, over far fewer rows), then a ladder of
    * integer-exact candidate filters before any verification work: an
    * EMISSION-LEVEL positional prune on gated counts
    * (`(1e6+tn−1)·(minrem+1) ≥ (tn−1)·(g1+g2)`, valid because gated ≤
    * full — applied inside the generator's stage, BEFORE the pair
    * exchange, so neither the candidate shuffle nor the doc-length
    * joins ever move a pair that cannot qualify), the PPJoin length
    * filter
    * (`(tn−1)·max(c1,c2) ≤ 1e6·min(c1,c2)`), and the exact PPJoin
    * POSITIONAL filter — the pair's overlap upper bound from its first
    * shared prefix shingle, `ub = 1 + min(g1−r1, g2−r2)` (computed as
    * `max(minrem) + 1` over the pair's shared prefix shingles; see
    * [[graft.functions.DocIdRemPairs]] for why the max IS the
    * first-match bound), kept only when
    * `(1e6 + tn − 1)·ub ≥ (tn−1)·(c1 + c2)` — the exact integer form of
    * `ub ≥ t′·(c1+c2)/(1+t′)`, the overlap a qualifying pair MUST reach.
    * Survivors verify exactly against per-doc sorted gated-shingle
    * arrays with the native early-exit merge kernel
    * ([[graft.functions.SortedIntersectAtLeast]]: the merge aborts the
    * moment the running count plus the shorter unconsumed remainder
    * cannot reach the qualifying overlap — non-qualifying candidates,
    * 4.6× of the true pairs at the r13 100× smoke, cost O(abort point)
    * instead of O(array length); the partial count an abort returns
    * fails the threshold filter exactly like the true count would, so
    * the output is bit-identical), in one of two verify shapes
    * (`verify` param):
    *  - `broadcast` — arrays broadcast once, map-side intersect, no
    *    per-candidate shuffle. Budget-gated on MEASURED bytes (total
    *    gated cells × 8 + per-doc overhead, × 2 — Spark plans one
    *    broadcast exchange per join side), not doc counts: a corpus of
    *    long documents can't OOM the driver with the gate passed.
    *  - `merge` — NO broadcast anywhere: candidates co-partitioned with
    *    the array table per side (shuffled hash joins). Shuffle volume =
    *    surviving candidates × array width — the positional filter is
    *    what makes this affordable (it kills the ENOSPC row-fan-out
    *    class the r12 first cut hit). PPJoin+'s suffix filter, re-priced
    *    as a prefix-array bound ahead of the d2 array join, was retired:
    *    it costs one extra exchange of the whole candidate frame, and on
    *    this corpus's narrow arrays (~370 B/doc) the same-session 100×
    *    A/B read 331.7 s with it vs 276.9 s without, identical 27.11M rows.
    *  - `auto` (default) — measure the array table once (one aggregate
    *    action), broadcast under `maxBroadcastBytes`, merge past it.
    * The r12 `maxBroadcastDocs` refusal is RETIRED: past the budget the
    * operator now demotes to the merge verify instead of falling back
    * to the 8×-slower classic stage.
    *
    * Measured (SCALE_r13.jsonl, same-session final-code A/B at the 30×
    * staged clique corpus): merge verify 17.6 s / auto 15.0 s / forced
    * broadcast 11.8 s vs the classic stage's 276.8 s — 15.8× with no
    * broadcast anywhere — identical 2,387,400-row output, growth
    * exponents 0.47–0.61 vs 1.38. Candidate anatomy (SCALE_r13):
    * 137.5M raw prefix emissions → 21.9M past the emission-level prune →
    * 11.25M verified candidates → 2.39M true pairs. At the 100× decade
    * (500k docs) the merge path completes in 156 s (27.1M true pairs,
    * exponent 0.68 over two decades) while the classic stage's ~11B
    * pair emissions exceed a single box's disk entirely — measured
    * ENOSPC, documented in SCALE_r13. Deliberately NOT memo-shared with
    * [[interCounts]]: q78/q105/q111 read the full candidate frame at
    * other thresholds; this is the fixed-threshold fast path a
    * production dedup (which runs ONE threshold) would choose. */
  def ngramJaccardPrefix(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxDf: Int = 100): DataFrame =
    jaccardPrefixFixture(spark, dir, threshold, maxDf, "auto")

  /** [[ngramJaccardPrefix]] with the verify stage FORCED to the
    * no-broadcast co-partitioned merge shape (q120) — the verify the
    * operator runs past the broadcast budget, pinned in the correctness
    * gate against q21's oracle so the at-scale path is oracle-proven,
    * not just plan-proven. */
  def ngramJaccardPrefixMerge(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxDf: Int = 100): DataFrame =
    jaccardPrefixFixture(spark, dir, threshold, maxDf, "merge")

  /** The fixture form of both verify shapes: one frames key per gate. */
  private def jaccardPrefixFixture(spark: SparkSession, dir: String,
      threshold: Double, maxDf: Int, verify: String): DataFrame =
    ngramJaccardPrefixOfShingles(shingles(spark, dir), threshold, maxDf,
        verify, framesKey = Some(Stages.jprefix(dir, threshold, maxDf)))
      .orderBy(col("d1"), col("d2"))

  /** [[ngramJaccardPrefix]] over an arbitrary `(doc_id, text)` frame.
    * `maxBroadcastBytes` prices BOTH broadcast relations of the verify
    * against the measured array-table size (the default is deliberately
    * conservative — safe on an 8 GB driver; a cluster with executor/driver
    * headroom should raise it, the broadcast verify is ~2× the merge
    * verify at the 30× smoke). `verifyChunks` = 0 (the default)
    * AUTO-PRICES the merge verify's exchange against `diskBudgetBytes`
    * (the per-slice local-disk share, scaladoc at the pricing constants)
    * and slices it to fit — or refuses loudly naming the bytes — so a
    * disk-bounded box never discovers the volume by ENOSPC; explicit
    * values ≥ 1 are honored verbatim (on a cluster with aggregate
    * shuffle disk, pass 1). */
  def ngramJaccardPrefixOf(docs: DataFrame, threshold: Double = 0.8,
      maxDf: Int = 100, verify: String = "auto",
      maxBroadcastBytes: Long = 256L << 20,
      verifyChunks: Int = 0,
      diskBudgetBytes: Long = defaultDiskBudgetBytes): DataFrame = {
    // string/UUID-keyed corpora ride the SAME scale path through the
    // fingerprint dictionary, re-oriented by the ORIGINAL ids
    // ([[docIdRoute]])
    val route = docIdRoute(docs, "ngramJaccardPrefix")
    route.unordered(ngramJaccardPrefixOfShingles(shinglesOf(route.frame),
        threshold, maxDf, verify, maxBroadcastBytes, verifyChunks,
        diskBudgetBytes))
      .orderBy(col("d1"), col("d2"))
  }

  /** Jaccard's pair-independent overlap lower bound α (the prefix
    * length's complement): `max(1, (tn−1)·c div 1e6)` in exact integer
    * arithmetic — a floor of a valid bound, so it can only lengthen the
    * prefix, never drop a qualifying pair (scaladoc at
    * [[ngramJaccardPrefix]]). */
  private def jaccardAlpha(tn: Long): Column =
    expr(s"greatest(1L, (${tn - 1}L * c) div 1000000L)")

  /** The per-doc global-order rank core shared by the prefix posting
    * frame and the verify's array table: each gated `(doc_id, s, df)`
    * row with `rem` (gated shingles ranked after it in its doc under the
    * global ascending-(df, s) order), `g` (the doc's gated count) and
    * the doc's overlap bound `alpha` (an expression over the full count
    * `c` — Jaccard's and containment's bounds differ). One window
    * exchange produces both consumers' inputs; the caller checkpoints
    * the result so they share it across Spark actions. */
  private def rankedOfGated(gated: DataFrame, docLen: DataFrame,
      alpha: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id"))
    gated
      .join(docLen.hint("shuffle_hash"), Seq("doc_id"))
      .withColumn("r",
        row_number().over(byDoc.orderBy(col("df"), col("s"))))
      .withColumn("g", count(lit(1)).over(byDoc))
      .withColumn("alpha", alpha)
      .select(col("doc_id"), col("s"), (col("g") - col("r")).as("rem"),
        col("g"), col("alpha"))
  }

  /** A [[rankedOfGated]] row's prefix flag: rank ≤ g − α + 1, i.e.
    * `rem ≥ α − 1`. */
  private val prefixFlag: Column = col("rem") >= col("alpha") - lit(1)

  /** A doc's prefix rows of a [[rankedOfGated]] frame —
    * `(doc_id, s, rem, g)`, PPJoin's positional payload. */
  private def prefixOfRanked(ranked: DataFrame): DataFrame =
    ranked.filter(prefixFlag)
      .select(col("doc_id"), col("s"), col("rem"), col("g"))

  /** The verify's per-doc array table off a ranked frame: `(doc_id, arr)`,
    * the doc's full sorted gated-shingle array. */
  private def arraysOfRanked(ranked: DataFrame): DataFrame =
    ranked.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("s"))).as("arr"))

  /** The overlap every qualifying Jaccard pair MUST reach, per candidate
    * row carrying full counts (c1, c2) — the exact integer ceiling of
    * the positional filter's bound: qualifying ⇒ (1e6+tn−1)·i ≥
    * (tn−1)·(c1+c2) ⇒ i ≥ this. Floored at 1 (any qualifying pair at
    * t > 0 intersects at least once) so the verify kernel's early exit
    * stays live at low thresholds. */
  private def jaccardNeededExpr(tn: Long): Column =
    expr(s"greatest(1L, (${tn - 1}L * (c1 + c2) + " +
      s"${1000000L + tn - 2}L) div ${1000000L + tn - 1}L)")

  /** The per-shingle posting frame of the Jaccard pair generator, built
    * apart from the candidate stage so the exchange pricing can build
    * this groupBy ONCE (disk-checkpointed), count the kept emissions off
    * it, and then run the candidate stage over the same frame. */
  private[graft] def jaccardPostingsOf(prefix: DataFrame): DataFrame =
    prefix.groupBy(col("s"))
      .agg(collect_list(struct(col("doc_id"), col("rem"), col("g")))
        .as("ds"))

  /** Generator + emission-level prune over a posting frame — the rows
    * that actually enter the pair exchange ([[candidatesOfKeptEmissions]]'
    * input, and exactly what the exchange price counts).
    *
    * gsum's job ends at the emission filter below — the post-join
    * filters use true counts — so it is dropped before the pair
    * exchange rather than aggregated and carried through the
    * doc-length joins for nothing.
    * EMISSION-LEVEL positional prune, BEFORE the pair exchange:
    * qualifying ⇒ i ≥ t′·(c1+c2)/(1+t′) ≥ t′·(g1+g2)/(1+t′)
    * (gated ≤ full) and i ≤ ub = max(minrem)+1 — so an emission with
    * (1e6+tn−1)·(minrem+1) < (tn−1)·gsum cannot witness a qualifying
    * pair's max bound. Dropping it either leaves the pair's max
    * intact (the max-witnessing emission passes the same test
    * whenever the pair can qualify) or removes a pair whose ub falls
    * short anyway — integer-exact, zero false dismissals, and it
    * runs INSIDE the generator's stage (Generate → Filter, whole-
    * stage codegen) so the pair exchange only ever carries
    * qualifying-capable emissions. At the 100× staged smoke this is
    * the difference between a ~50 GB emission-shaped exchange
    * (measured ENOSPC on one box) and a few-GB one; ub computed from
    * the survivors equals the true first-match bound for every
    * surviving pair. */
  private[graft] def jaccardKeptEmissionsOfPostings(postings: DataFrame,
      tn: Long): DataFrame = postings
    .select(graft.functions.TextFunctions.docIdRemPairs(col("ds"))
      .as(Seq("d1", "d2", "minrem", "gsum")))
    .filter(expr(
      s"${1000000L + tn - 1}L * (minrem + 1L) >= ${tn - 1}L * gsum"))

  /** Jaccard candidate pairs off the kept emissions, POSITION- and
    * LENGTH-filtered, with both docs' full counts attached — the shared
    * candidate stage of both verify shapes. One groupBy over the
    * streamed positional pairs computes pair-distinctness AND the
    * first-match overlap bound in one shuffle; the emission-level prune
    * has already disqualified most candidates before the doc-length
    * joins shuffle them (at the 100× staged smoke the un-pruned
    * candidate frame's two join exchanges alone exceed local disk). */
  private def candidatesOfKeptEmissions(emissions: DataFrame,
      docLen: DataFrame, tn: Long): DataFrame = {
    emissions
      .groupBy(col("d1"), col("d2"))
      .agg((max(col("minrem")) + lit(1L)).as("ub"))
      .join(docLen.select(col("doc_id").as("d1"), col("c").as("c1"))
        .hint("shuffle_hash"), Seq("d1"))
      .join(docLen.select(col("doc_id").as("d2"), col("c").as("c2"))
        .hint("shuffle_hash"), Seq("d2"))
      // PPJoin length filter: qualifying ⇒ i ≥ t′·max(c1,c2) and
      // i ≤ min(c1,c2), so (tn−1)·max ≤ 1e6·min — integer-exact
      .filter(expr(
        s"${tn - 1}L * greatest(c1, c2) <= 1000000L * least(c1, c2)"))
      // PPJoin positional filter, exact form over FULL counts:
      // (1e6 + tn − 1)·ub ≥ (tn−1)·(c1+c2)
      .filter(expr(s"${1000000L + tn - 1}L * ub >= ${tn - 1}L * (c1 + c2)"))
      .select(col("d1"), col("d2"), col("c1"), col("c2"))
  }

  /** Containment's pair-independent overlap lower bound α on the
    * CONTAINED side: qualifying ⇔ `1e6·i ≥ t′ppm·c` (the exact integer
    * form of the classic stage's `i·1e6 div c ≥ t′ppm` floor-division
    * filter) ⇔ `i ≥ ⌈t′ppm·c / 1e6⌉` — computed exactly, ≥ 1
    * automatically (t′ppm ≥ 1, c ≥ 1). One-sided: the container's size
    * never lower-bounds the overlap, so only the contained side gets a
    * prefix (scaladoc at [[containmentPrefix]]). */
  private def containAlpha(tppm: Long): Column =
    expr(s"((${tppm}L * c) + 999999L) div 1000000L")

  /** [[containAlpha]] over a candidate row's contained-side full count
    * `c1` — the `needed` bound of containment's verify (see
    * [[verifyPrefixCandidates]]). */
  private def containNeededExpr(tppm: Long): Column =
    expr(s"((${tppm}L * c1) + 999999L) div 1000000L")

  /** The generator + emission-prune stage of [[containPrefixCandidates]]
    * — split out (private[graft]) so the candidate-anatomy probe
    * ([[graft.StageProbe]] `containcand`) counts EXACTLY the frame the
    * operator shuffles, never a reimplementation that could drift. */
  private[graft] def containKeptEmissions(ranked: DataFrame,
      tppm: Long): DataFrame =
    containKeptEmissionsOfPostings(containPostings(ranked), tppm)

  /** The per-shingle posting frame of the oriented generator: the WHOLE
    * gated list per shingle, each member carrying its prefix flag. */
  private[graft] def containPostings(ranked: DataFrame): DataFrame = ranked
    .select(col("s"), struct(col("doc_id"), col("rem"), col("g"),
      prefixFlag.as("pfx")).as("p"))
    .groupBy(col("s"))
    .agg(collect_list(col("p")).as("ds"))

  /** Generator + emission prune over an already-built posting frame —
    * split from [[containPostings]] so the candidate-stage chunk loop
    * builds the posting shuffle ONCE (disk-checkpointed) and re-slices
    * it per chunk with a cheap per-row array transform, instead of
    * paying the groupBy(s) exchange once per slice. */
  private[graft] def containKeptEmissionsOfPostings(postings: DataFrame,
      tppm: Long): DataFrame = postings
    .select(graft.functions.TextFunctions.docIdRemContainPairs(col("ds"))
      .as(Seq("dc", "dt", "minrem", "gc")))
    .filter(expr(s"1000000L * (minrem + 1L) >= ${tppm}L * gc"))

  /** `postings` with each member's prefix flag masked to a contained-doc
    * hash slice — the generator then starts pairs only from slice
    * members, partitioning the emission (and hence candidate) volume
    * disjointly while every slice still probes the full container side:
    * the candidate-stage chunking the 100× t′=0.8 decade forced (the pair
    * exchange alone exceeded one box's disk in BOTH verify shapes,
    * SCALE_r14 session F). A per-row array map, no exchange. */
  private def slicePostings(postings: DataFrame, sl: Slice): DataFrame =
    postings.select(col("s"), expr(
      s"""transform(ds, p -> struct(p.doc_id AS doc_id, p.rem AS rem,
         |  p.g AS g,
         |  (p.pfx AND pmod(xxhash64(p.doc_id), ${sl.k}) = ${sl.i}) AS pfx))"""
        .stripMargin).as("ds"))

  /** Containment's checkpointed ranked frame plus the docs-sized length
    * frame, for the probe ([[graft.StageProbe]] `containcand`) — built by
    * the same [[prefixFrames]] call q121/q122 rank and price, so the
    * probe cannot drift from the operator. */
  private[graft] def containRanked(sh: DataFrame, thresholdPpm: Long,
      maxDf: Int): (DataFrame, DataFrame) = {
    val fr = prefixFrames(sh, maxDf, containAlpha(thresholdPpm))
    (fr.ranked, fr.docLen)
  }

  /** ORDERED (contained, container) candidate pairs of a containment
    * [[rankedOfGated]] frame — [[candidatesOfKeptEmissions]]' one-sided twin.
    * Postings carry the WHOLE gated list per shingle with a prefix flag
    * (the one-sided bound needs prefix(contained) × full-gated
    * (container) — see [[graft.functions.DocIdRemContainPairs]]); the
    * generator starts pairs only from prefix members, so the emission
    * fan-out is |prefix| × df per shingle, not df². The same
    * integer-exact filter ladder follows, re-derived for the one-sided
    * bound: an EMISSION-LEVEL prune on the contained side's gated count
    * (`1e6·(minrem+1) ≥ t′ppm·gc`, valid since gated ≤ full — inside
    * the generator's stage, before the pair exchange), the one-sided
    * length filter (`t′ppm·c1 ≤ 1e6·c2`: the overlap needs i ≥
    * ⌈t′ppm·c1/1e6⌉ yet i ≤ c2), and the positional filter
    * (`t′ppm·c1 ≤ 1e6·ub`) — max-of-min over surviving emissions IS
    * the first-match bound for qualifying pairs by [[DocIdRemPairs]]'
    * orientation-blind argument. Output renames to the verify engine's
    * (d1=contained, d2=container, c1, c2) currency. */
  private def containPrefixCandidates(postings: DataFrame,
      docLen: DataFrame, tppm: Long): DataFrame = {
    containKeptEmissionsOfPostings(postings, tppm)
      .groupBy(col("dc"), col("dt"))
      .agg((max(col("minrem")) + lit(1L)).as("ub"))
      .join(docLen.select(col("doc_id").as("dc"), col("c").as("c1"))
        .hint("shuffle_hash"), Seq("dc"))
      .join(docLen.select(col("doc_id").as("dt"), col("c").as("c2"))
        .hint("shuffle_hash"), Seq("dt"))
      .filter(expr(s"${tppm}L * c1 <= 1000000L * c2"))
      .filter(expr(s"${tppm}L * c1 <= 1000000L * ub"))
      .select(col("dc").as("d1"), col("dt").as("d2"), col("c1"), col("c2"))
  }

  private[graft] def ngramJaccardPrefixOfShingles(sh: DataFrame,
      threshold: Double, maxDf: Int, verify: String = "auto",
      maxBroadcastBytes: Long = 256L << 20,
      verifyChunks: Int = 0,
      diskBudgetBytes: Long = defaultDiskBudgetBytes,
      framesKey: Option[StageMemo.Key] = None): DataFrame = {
    val tn = math.round(threshold * 1e6)
    require(tn >= 1 && tn <= 1000000,
      s"threshold must be in (0, 1], got $threshold")
    // no candChunks knob: an explicit verifyChunks pins the candidate
    // stage unsliced (both knobs explicit — pricing bypassed)
    pricedPairs(sh, "ngramJaccardPrefix",
        "ngramJaccardOf (the shared co-occurrence stage)", framesKey,
        prefixFrames(sh, maxDf, jaccardAlpha(tn)), verify,
        maxBroadcastBytes, verifyChunks, if (verifyChunks >= 1) 1 else 0,
        diskBudgetBytes) { (fr, _) =>
      PairFamily(jaccardPostingsOf(prefixOfRanked(fr.ranked)),
        kept = Some(jaccardKeptEmissionsOfPostings(_, tn)),
        // slices cut at the EMISSION level: every emission of a pair
        // carries the same (d1, d2), so a pair-hash filter before the
        // groupBy partitions the pair exchange disjointly (ub is still
        // the max over ALL of the pair's emissions — they share a slice),
        // and it sits in the Generate stage, so non-slice emissions never
        // reach an exchange
        candidates = { (p, slice) =>
          val e = jaccardKeptEmissionsOfPostings(p, tn)
          candidatesOfKeptEmissions(
            slice.fold(e)(sl => e.filter(sl.of(col("d1"), col("d2")))),
            fr.docLen, tn)
        },
        starts = prefixFlag, oriented = false,
        zeroJobBytes = fr.rows * maxDf * emissionRowBytes / 2,
        // the verify kernel early-exits a merge the moment this bound is
        // unreachable; the partial count it returns is < needed, so the
        // threshold filter drops it exactly as the true count would
        needed = jaccardNeededExpr(tn), score = jaccardOfInter(_, threshold),
        remedy = "Raise the threshold, lower maxDf, raise diskBudgetBytes " +
          "(cluster aggregate disk), or pass explicit verifyChunks to " +
          "bypass pricing.")
    }
  }

  /** Eager local checkpoint at StorageLevel.DISK_ONLY — for the CHUNK
    * LOOPS' frames (the sliced candidate frame, the shared posting
    * frame), which exist only in decade regimes where chunking is on at
    * all. The default MEMORY_AND_DISK level unrolls every partition IN
    * MEMORY before (maybe) spilling its bytes: at the 100× staged decade
    * that unroll — 32 concurrent tasks × ~230 MiB partitions — plus the
    * verify's execution memory OOM'd the single-box heap (SCALE_r14
    * session E, reproduced solo). DISK_ONLY streams blocks through the
    * serializer to disk with no unroll; the sequential re-reads are the
    * cheap side of that trade at chunking scale. Fixture-scale frames
    * take [[scaleCheckpoint]] instead, which picks the level from a
    * measured size estimate. */
  private def diskCheckpoint(df: DataFrame): DataFrame =
    df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)

  /** Deserialized bytes per ranked-shingle row for the unroll estimate:
    * MEMORY_AND_DISK caches RDD partitions as JAVA OBJECT rows, not
    * UnsafeRow bytes — the r14 session-E OOM measured ~230 MiB partitions
    * for a frame whose serialized row is ~48 B, i.e. ~150-200 B per row
    * live. The constant prices the UNROLL (the thing that OOMs), so it
    * deliberately reads high vs on-disk size. */
  private val unrollRowBytes = 150L

  /** Size-adaptive eager checkpoint for the prefix paths' corpus-scale
    * frame set (ranked shingles + the per-doc array table): DISK_ONLY
    * exists to kill a 100×-scale unroll OOM (see [[diskCheckpoint]]), but
    * r14 applied it UNCONDITIONALLY and taxed q119–q122 with disk streams
    * at fixture scale — the bench's largest attributable warm regressions
    * (+19-24%, VERDICT r14 defect #2). The level now follows the frame's
    * measured size: `estBytes` (gated-shingle row count × the unroll
    * constant, from one cheap agg over the already-checkpointed docs-sized
    * length frame) against a quarter of the live heap — past it, partitions
    * stream straight to disk with no unroll; under it, the frame stays in
    * memory and the fixture pays no disk round-trip. */
  private def scaleCheckpoint(df: DataFrame, estBytes: Long): DataFrame = {
    val level =
      if (estBytes > Runtime.getRuntime.maxMemory() / 4)
        org.apache.spark.storage.StorageLevel.DISK_ONLY
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    df.localCheckpoint(true, level)
  }

  /** The checkpointed frame set one at-scale pair family runs on: the
    * docs-sized length frame `(doc_id, c)`, the ranked gated frame, the
    * verify's array table `(doc_id, arr)`, the total shingle rows and the
    * doc count (≥ 1). */
  private final case class PairFrames(docLen: DataFrame, ranked: DataFrame,
      arrays: DataFrame, rows: Long, nDocs: Long)

  /** Builds [[PairFrames]] over a `(doc_id, s)` shingle frame; `rank`
    * maps the df-gated rows and the length frame to the ranked frame.
    * Several Spark actions consume these frames (the broadcast pricing,
    * the exchange pricing, the candidate and verify jobs), so each is
    * checkpointed ONCE and the shingle scan and df aggregation never
    * re-execute per action or per join side. The ranked frame and the
    * array table are corpus-×-shingles sized and size-adaptive
    * ([[scaleCheckpoint]]): the unroll estimate is the total shingle
    * rows (an upper bound on both) from one agg over the checkpointed
    * length frame, which also yields the doc count the pricing reads.
    * dropOriginConstraints: checkpointed frames keep their stats but
    * shed the stale origin constraints Spark 4.1 chokes on (the q50
    * contraction lesson). */
  private def pairFrames(sh: DataFrame, maxDf: Int)(
      rank: (DataFrame, DataFrame) => DataFrame): PairFrames = {
    import org.apache.spark.sql.graft.Bridge
    val docLen = Bridge.dropOriginConstraints(
      sh.groupBy(col("doc_id")).agg(count(lit(1)).as("c")).localCheckpoint())
    val keep = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .hint("shuffle_hash")
    val m = docLen.agg(sum(col("c")), count(lit(1))).head()
    val rows = if (m.isNullAt(0)) 0L else m.getLong(0)
    val est = rows * unrollRowBytes
    val ranked = Bridge.dropOriginConstraints(
      scaleCheckpoint(rank(sh.join(keep, Seq("s")), docLen), est))
    PairFrames(docLen, ranked, scaleCheckpoint(arraysOfRanked(ranked), est),
      rows, math.max(1L, m.getLong(1)))
  }

  /** The prefix paths' frames: ONE window exchange ranks the gated frame
    * ([[rankedOfGated]]) for both the prefix postings and the array
    * table; Jaccard and containment differ only by the overlap bound
    * `alpha`. */
  private def prefixFrames(sh: DataFrame, maxDf: Int,
      alpha: Column): PairFrames =
    pairFrames(sh, maxDf)(rankedOfGated(_, _, alpha))

  // ---------------------------------------------------------------------
  // Up-front exchange pricing (VERDICT r14 #2: five mid-job ENOSPC/OOM
  // deaths were diagnosed AFTER the fact by the containcand probe, whose
  // counting aggs are one cheap job the operator itself can run — ENOSPC
  // hours into a job is the one failure mode a 100-TB operator must not
  // have. The prefix paths now price their two big exchanges BEFORE
  // launching them and auto-set the chunk knobs, or refuse loudly naming
  // the bytes and the knobs.)
  // ---------------------------------------------------------------------

  /** Serialized shuffle bytes per generator-emission row (a handful of
    * longs + record framing). Calibrated against SCALE_r14 session F: the
    * containment t8/100× kept-emission exchange filled ~78 GB of disk at
    * an estimated ~1.6-2B emissions (~40-48 B/row live on disk including
    * the groupBy's spill files). Prices the EXCHANGE footprint, so it
    * reads the shuffle-file side, not the in-memory side. */
  private val emissionRowBytes = 48L

  /** Per-candidate fixed bytes in the merge verify's exchanges (the
    * narrow (d1, d2, c1, c2, needed) row shipped alongside each array). */
  private val candRowBytes = 48L

  /** The per-JOB live-exchange budget the auto-chunking slices against:
    * one slice's shuffle files live on local disk at once (a finished
    * slice's files are reclaimed before the next peaks — the chunk loops'
    * eager-release discipline), so this is the per-box disk share ONE
    * slice may claim, not the job's total volume. Configurable via
    * `SPARK_GRAFT_DISK_BUDGET_GB`; the 8 GiB default leaves a 78 GB box
    * room for the checkpointed posting/ranked/array frames plus one
    * slice's exchange at ~2× safety (SCALE_r14 session F's working
    * containment decade ran ~2.5 GB/slice live; its failed 8-slice
    * attempt ~10 GB/slice PLUS per-slice postings rebuilds that no
    * longer exist). On a cluster, aggregate shuffle disk takes this
    * budget's place — raise it (or pass explicit chunks = 1). */
  private[graft] def defaultDiskBudgetBytes: Long =
    sys.env.get("SPARK_GRAFT_DISK_BUDGET_GB")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .map(_ << 30).getOrElse(8L << 30)

  /** Auto-chunk refusal rails: more candidate slices than this means the
    * candidate exchange is >64× the per-slice budget — re-plan (raise
    * the threshold, lower maxDf, use a cluster), don't grind. */
  private val maxAutoCandChunks = 64L

  /** Total-jobs rail: candChunks × verifyChunks bounds the number of
    * verify jobs an auto-priced run may launch. 256 jobs ≈ the measured
    * t8/100× decade's work envelope with an order of headroom; past it
    * the run is the t′=0.5/100× regime SCALE_r14 session C priced as
    * structurally infeasible for one box (580M candidates for 4.8M true
    * pairs), and the operator should say so up front instead of running
    * for days. */
  private val maxAutoJobs = 256L

  /** ONE aggregate over the checkpointed ranked frame pricing the
    * generator's RAW emission volume (before the emission-level prune —
    * an upper bound on what enters the pair exchange) plus the gated row
    * count (the array table's cell count, for the verify-shipment
    * estimate). `starts` flags the rows that start pairs (the prefix, or
    * the sketch's bottom-k). `oriented`: each start pairs with every
    * other posting member, |starts|×(df−1) per posting list (containment,
    * the sketch); otherwise starts pair among themselves, C(|starts|, 2)
    * (Jaccard). The containment rule is exactly the containcand probe's
    * counting rule — kept in the operator so the price and the probe can
    * never drift. */
  private def postingStats(ranked: DataFrame, starts: Column,
      oriented: Boolean): (Long, Long) = {
    val volExpr =
      if (oriented) expr("np * (n - 1)") else expr("np * (np - 1) div 2")
    val m = ranked
      .select(col("s"), starts.as("pfx"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"), count(when(col("pfx"), lit(1))).as("np"))
      .agg(sum(volExpr), sum(col("n"))).head()
    (if (m.isNullAt(0)) 0L else m.getLong(0),
      if (m.isNullAt(1)) 0L else m.getLong(1))
  }

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  /** One WARN line when auto-pricing RESOLVES chunking (scale sessions
    * run at log level WARN, and a SCALE_r15 decade completed with an
    * unrecorded chunk count because nothing surfaced the resolution) —
    * the measured volumes and the knobs the operator chose, in the same
    * currency the refusal messages use. Silent when nothing slices. */
  private lazy val priceLog =
    org.slf4j.LoggerFactory.getLogger("graft.ExchangePricing")
  private def logResolvedChunks(opName: String, kept: Long,
      candChunks: Long, verifyChunks: Long): Unit =
    if (candChunks > 1 || verifyChunks > 1)
      priceLog.warn(s"$opName: priced $kept kept emissions " +
        s"(~${kept * emissionRowBytes} exchange bytes) -> " +
        s"candChunks=$candChunks verifyChunks=$verifyChunks")

  /** Hash slice `i` of `k`: one of a slice loop's disjoint partitions. */
  private final case class Slice(i: Int, k: Int) {
    def of(keys: Column*): Column = pmod(xxhash64(keys: _*), lit(k)) === i
  }

  /** What one at-scale pair family hands [[pricedPairs]] — everything
    * the Jaccard prefix, containment prefix and containment sketch
    * families do NOT share.
    *  - `postings`: the candidate stage's input frame, unsliced.
    *  - `kept`: the emissions a posting frame sends into the pair
    *    exchange. Given, the pricing builds `postings` once on disk and
    *    counts them; None prices on the raw volume and slices `postings`
    *    as is.
    *  - `candidates`: the `(d1, d2, c1, c2)` candidate frame off a
    *    posting frame, restricted to a slice when one is given.
    *  - `starts`, `oriented`: the raw-volume rule ([[postingStats]]).
    *  - `zeroJobBytes`: a bound on the raw emission bytes that needs no
    *    Spark job.
    *  - `needed`, `score`: the verify's bound and output
    *    ([[verifyPrefixCandidates]]).
    *  - `remedy`: what a refusal tells the caller to change. */
  private final case class PairFamily(postings: DataFrame,
      kept: Option[DataFrame => DataFrame],
      candidates: (DataFrame, Option[Slice]) => DataFrame,
      starts: Column, oriented: Boolean, zeroJobBytes: Long,
      needed: Column, score: DataFrame => DataFrame, remedy: String)

  /** The one priced pair pipeline of the at-scale pair families (q119–
    * q122, q126/q127): knob checks, the checkpointed frame set (session-
    * cached under `framesKey` — [[graft.StageMemo.checkpointed]]), the
    * verify shape, the exchange pricing, and the slice loop; `family`
    * supplies what differs, given the frames and the resolved verify
    * mode.
    *
    * EXCHANGE PRICING (scaladoc at the pricing constants): a 0 chunk knob
    * is resolved from measured volume BEFORE the exchange launches —
    * never discovered by ENOSPC (the r14 sessions A/B/F4/F5/F6 failure
    * mode) — in EVERY verify shape, since the candidate exchange runs
    * before any array ships. Both knobs explicit bypasses it (a cluster
    * with aggregate disk passes 1 and pays zero pricing actions). The
    * ladder, cheapest first:
    *  (1) the family's zero-job bound on the raw emission bytes —
    *      fixture-scale runs resolve here for free;
    *  (2) one posting-stats agg prices the exact raw volume — still
    *      nothing materializes;
    *  (3) past that, the emissions are counted (kept after the emission
    *      prune off postings built once on disk — a Generate→Filter→count
    *      pass, CPU only — or the raw volume), and the knobs follow:
    *      candChunks from the emission bytes against a QUARTER of the
    *      budget (the emission exchange re-expands inside every
    *      downstream stage of its slice — groupBy spill, length joins,
    *      verify exchanges — so its own share is kept small; the r15
    *      form priced only the verify shipment, leaving the pair
    *      exchange itself unsliced, ADVICE r15; the factors reproduce
    *      SCALE_r14 session F's measured-good 32-slice/2-verify-chunk
    *      decade), and verifyChunks from per-slice candidates × the
    *      two-array shipment against 2× the budget (broadcast mode ships
    *      nothing per candidate and stays at 1). Past the slice or job
    *      rails it refuses, naming the bytes and the knobs. The job rail
    *      fires whenever ANY knob was auto-resolved: explicit candChunks
    *      = 1 with an auto verifyChunks could otherwise silently resolve
    *      thousands of verify jobs (ADVICE r15). */
  private def pricedPairs(sh: DataFrame, opName: String,
      alternative: String, framesKey: Option[StageMemo.Key],
      frames: => PairFrames, verify: String, maxBroadcastBytes: Long,
      verifyChunks: Int, candChunks: Int, diskBudgetBytes: Long)(
      family: (PairFrames, String) => PairFamily): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    require(verify == "auto" || verify == "broadcast" || verify == "merge",
      s"verify must be 'auto', 'broadcast' or 'merge', got '$verify'")
    require(verifyChunks >= 0,
      s"verifyChunks must be >= 1, or 0 for auto-priced: $verifyChunks")
    require(candChunks >= 0,
      s"candChunks must be >= 1, or 0 for auto-priced: $candChunks")
    require(diskBudgetBytes > 0,
      s"diskBudgetBytes must be positive: $diskBudgetBytes")
    // the pair generators' currency is bigint doc ids; refuse other id
    // types loudly (a plan-time AnalysisException would otherwise surface
    // from deep inside a generator) and name the id-agnostic path
    require(sh.schema("doc_id").dataType ==
        org.apache.spark.sql.types.LongType,
      s"$opName requires bigint doc ids (the pair generators' currency); " +
        s"got ${sh.schema("doc_id").dataType.simpleString} — use " +
        s"$alternative for other doc-id types")
    // each phase's jobs carry a `<opName>: <phase>` description; the
    // unsliced pair frame's own jobs run in the caller's action
    def phase[T](name: String)(body: => T): T =
      labeled(sh.sparkSession, s"$opName: $name")(body)
    val fr = phase("frame build") {
      framesKey.fold(frames)(
        StageMemo.checkpointed(sh.sparkSession, _)(frames))
    }
    // resolved ONCE: the pricing aggregate is slice-invariant (ADVICE r14:
    // 32 slices re-priced it 32×)
    val mode = phase("verify pricing") {
      resolveVerifyMode(fr.arrays, verify, maxBroadcastBytes, opName) }
    val f = phase("family setup")(family(fr, mode))
    def onDisk(p: DataFrame) = phase("posting build") {
      Bridge.dropOriginConstraints(diskCheckpoint(p)) }
    val autoCand = candChunks == 0
    val autoVerify = verifyChunks == 0
    val unsliced: (Int, Int, Option[DataFrame]) =
      (math.max(1, candChunks), math.max(1, verifyChunks), None)
    val (kc, vc, pricedPostings) =
      if (!autoCand && !autoVerify) (candChunks, verifyChunks, None)
      else if (f.zeroJobBytes <= diskBudgetBytes) unsliced
      else {
        val (raw, gatedRows) = phase("posting stats") {
          postingStats(fr.ranked, f.starts, f.oriented) }
        if (raw * emissionRowBytes <= diskBudgetBytes) unsliced
        else {
          val postings = f.kept.map(_ => onDisk(f.postings))
          val n = f.kept.zip(postings).fold(raw) { case (kept, p) =>
            phase("emission count")(kept(p).count()) }
          val bytes = n * emissionRowBytes
          val emissions = if (f.kept.isDefined) "kept" else "raw"
          val k =
            if (!autoCand) candChunks.toLong
            else ceilDiv(bytes, math.max(1L, diskBudgetBytes / 4)).max(1L)
          require(!autoCand || k <= maxAutoCandChunks,
            s"$opName: the candidate distinct exchange prices at ~$bytes " +
              s"exchange bytes ($n $emissions emissions) — $k slices of " +
              s"the per-slice budget (diskBudgetBytes=$diskBudgetBytes / " +
              s"4), past the $maxAutoCandChunks-slice rail. ${f.remedy}")
          val perCand = 2L * (gatedRows * 8L / fr.nDocs) + candRowBytes
          val vc =
            if (!autoVerify) verifyChunks.toLong
            else if (mode == "broadcast") 1L
            else ceilDiv(ceilDiv(n, k) * perCand, 2L * diskBudgetBytes)
              .max(1L)
          require(k * vc <= maxAutoJobs,
            s"$opName: auto-pricing resolves $k candidate slices × $vc " +
              s"verify chunks = ${k * vc} jobs ($n $emissions emissions, " +
              s"~$perCand B/candidate verify shipment) — past the " +
              s"$maxAutoJobs-job rail. ${f.remedy}")
          logResolvedChunks(opName, n, k, vc)
          (k.toInt, vc.toInt, postings)
        }
      }
    def verified(cand: DataFrame, label: String): DataFrame =
      verifyPrefixCandidates(cand, fr.arrays, f.needed, mode, vc, label)(
        f.score)
    if (kc <= 1)
      verified(f.candidates(pricedPostings.getOrElse(f.postings), None),
        opName)
    else {
      // candidate-stage chunking: the slices share one posting frame
      // (built on disk once when the family counts kept emissions), and
      // each slice runs generator → filters → verify in its own jobs
      val shared = pricedPostings.getOrElse(
        if (f.kept.isDefined) onDisk(f.postings) else f.postings)
      unionOfSlices(sh.sparkSession, s"$opName: candidate slice", kc) { sl =>
        verified(f.candidates(shared, Some(sl)),
          s"$opName: candidate slice ${sl.i + 1}/$kc") }
    }
  }

  /** Runs `slice` over the `k` hash slices, each in its OWN jobs
    * (labelled `<label> i/k`) whose ≥-threshold survivors (the only rows
    * that outlive it) are checkpointed eagerly — a finished slice's
    * shuffle files lose their last reference and the context cleaner
    * reclaims them before the next slice peaks — and unions the outputs.
    * Exactness is by partition: every candidate lands in exactly one
    * slice, so the union IS the single-job output (spec-pinned). */
  private def unionOfSlices(spark: SparkSession, label: String, k: Int)(
      slice: Slice => DataFrame): DataFrame =
    (0 until k).map { i =>
      val kept = labeled(spark, s"$label ${i + 1}/$k") {
        org.apache.spark.sql.graft.Bridge.dropOriginConstraints(
          slice(Slice(i, k)).localCheckpoint())
      }
      System.gc() // let the cleaner reclaim the finished slice's shuffles
      kept
    }.reduce(_ unionByName _)

  // ---------------------------------------------------------------------
  // Doc-id fingerprint dictionary (VERDICT r14 #4: the pair generators
  // deal in bigint doc ids, but real corpora key by URL/UUID strings. A
  // stable 64-bit fingerprint puts every id type on the one currency.)
  // ---------------------------------------------------------------------

  /** Maps an arbitrary-typed doc id onto the pair generators' bigint
    * currency: `xxhash64(doc_id)` — STABLE (the same id maps to the same
    * fingerprint on any cluster layout, any rerun, unlike zipWithIndex)
    * — with a collision COUNT action up front: one agg comparing
    * distinct ids to distinct fingerprints, refusing loudly on any
    * collision (at 64 bits the birthday bound keeps corpora under ~10⁸
    * docs collision-free with probability ~1 − 3·10⁻⁴; a collision would
    * silently MERGE two documents' shingle sets, so it must never pass).
    * Returns the distinct (orig_id, doc_id) dictionary for the join back
    * — `docs` may be a document frame or a `(doc_id, s)` shingle frame. */
  private[graft] def docIdFingerprints(docs: DataFrame,
      opName: String): DataFrame = {
    val m = docs.agg(countDistinct(col("doc_id")),
      countDistinct(xxhash64(col("doc_id")))).head()
    require(m.getLong(0) == m.getLong(1),
      s"$opName: the 64-bit doc-id fingerprint dictionary collided " +
        s"(${m.getLong(0)} distinct ids -> ${m.getLong(1)} distinct " +
        "fingerprints). Two documents would silently merge; re-key this " +
        "corpus with unique bigint doc ids.")
    docs.select(col("doc_id").as("orig_id"),
      xxhash64(col("doc_id")).as("doc_id")).distinct()
  }

  /** `frame` with its doc ids replaced by their fingerprints. */
  private def fingerprinted(frame: DataFrame): DataFrame =
    frame.withColumn("doc_id", xxhash64(col("doc_id")))

  /** One operator run's doc-id currency, resolved by [[docIdRoute]]:
    * `frame` is the input in bigint currency, `dict` the fingerprint
    * dictionary when the ids had to be mapped (None: bigint input passes
    * through, and so do the outputs). */
  private final case class DocIdRoute(frame: DataFrame,
      dict: Option[DataFrame]) {
    /** An unordered `(d1 < d2)` output in original ids, re-oriented by
      * them; each `sides` pair names two per-side columns that swap with
      * their docs when the original order reverses the fingerprint one. */
    def unordered(out: DataFrame, sides: (String, String)*): DataFrame =
      dict.fold(out)(pairsToOriginal(out, _, sides = sides))

    /** An oriented `(contained, container)` output in original ids —
      * orientation is role-based, so the ids just map. */
    def oriented(out: DataFrame): DataFrame =
      dict.fold(out)(pairsToOriginal(out, _, ("contained", "container"),
        reorient = false))
  }

  /** The doc-id currency boundary — the ONE place an operator decides its
    * doc-id type. A bigint `doc_id` frame passes through untouched (the
    * bigint plan is exactly the operator body's); any other type maps to
    * fingerprints behind the collision guard, the operator runs its
    * bigint body on [[DocIdRoute.frame]], and the route joins the output
    * ids back to the original ones. `dictKey` caches the guard's
    * corpus-sized validation action with the session's checkpointed
    * frames (under `dictKey.dict`); the dictionary frame itself stays
    * lazy. */
  private def docIdRoute(frame: DataFrame, opName: String,
      dictKey: Option[StageMemo.Key] = None): DocIdRoute =
    if (frame.schema("doc_id").dataType ==
        org.apache.spark.sql.types.LongType) DocIdRoute(frame, None)
    else DocIdRoute(fingerprinted(frame),
      Some(dictKey.fold(docIdFingerprints(frame, opName))(k =>
        StageMemo.checkpointed(frame.sparkSession, k.dict)(
          docIdFingerprints(frame, opName)))))

  /** Resolves the verify SHAPE once per operator run: 'merge' passes
    * through; 'auto'/'broadcast' price the broadcast with ONE aggregate
    * action — measured cells, not assumed bytes-per-doc (ADVICE r12:
    * maxDf caps a shingle's df, not a doc's length — doc counts misprice
    * long-doc corpora by 20×), and BOTH relations (Spark plans one
    * broadcast exchange per join side; ReusedExchange may dedup them, but
    * the budget must hold when it doesn't). Hoisted out of the verify
    * engine so chunked callers (the candChunks loop) pay the pricing
    * action once, not once per slice (ADVICE r14). */
  private def resolveVerifyMode(arrays: DataFrame, verify: String,
      maxBroadcastBytes: Long, opName: String): String =
    if (verify == "merge") "merge"
    else {
      val m = arrays.agg(count(lit(1)).as("n"),
        sum(size(col("arr"))).as("cells")).head()
      val nDocs = m.getLong(0)
      val cells = if (m.isNullAt(1)) 0L else m.getLong(1)
      val bytes = 2L * (cells * 8L + nDocs * 32L)
      if (bytes <= maxBroadcastBytes) "broadcast"
      else {
        require(verify != "broadcast",
          s"$opName(verify=broadcast): the per-doc shingle-" +
            s"array table measures ~$bytes bytes across both broadcast " +
            s"relations ($nDocs docs, $cells cells), over " +
            s"maxBroadcastBytes=$maxBroadcastBytes. Use verify='merge' " +
            "(the no-broadcast co-partitioned verify) or raise the " +
            "budget if the cluster can hold the table.")
        "merge"
      }
    }

  /** The shared verify engine of the prefix-filtered pair family
    * (Jaccard q119/q120, containment q121/q122, sketch q126): exact
    * verification of a `(d1, d2, c1, c2)` candidate frame against the
    * per-doc sorted-array table ([[arraysOfRanked]]), in the broadcast
    * or no-broadcast co-partitioned merge shape (scaladoc at
    * [[ngramJaccardPrefix]]), with the early-exit merge kernel under
    * `needed` — the exact overlap every qualifying candidate must reach,
    * as an expression over (c1, c2) (Jaccard's and containment's bounds
    * differ). `score` maps the verified `(d1, d2, i, c1, c2)` frame to
    * the operator's output and MUST discard every row with
    * `i < needed` — that filter is what makes the kernel's early-exit
    * partial counts unobservable. `label` prefixes the job descriptions
    * of the chunked merge's eager jobs. */
  private def verifyPrefixCandidates(cand: DataFrame, arrays: DataFrame,
      needed: Column, mode: String, verifyChunks: Int, label: String)(
      score: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    require(mode == "broadcast" || mode == "merge",
      s"resolved verify mode must be 'broadcast' or 'merge', got '$mode'")
    // the merge shape ships one full gated array per surviving candidate
    // and side; the wide arrays cross an exchange once each per candidate
    def mergeVerify(c: DataFrame): DataFrame = c
      .join(arrays.select(col("doc_id").as("d1"), col("arr").as("a1"))
        .hint("shuffle_hash"), Seq("d1"))
      .withColumn("needed", needed)
      .join(arrays.select(col("doc_id").as("d2"), col("arr").as("a2"))
        .hint("shuffle_hash"), Seq("d2"))
      .select(col("d1"), col("d2"),
        graft.functions.TextFunctions
          .sortedIntersectAtLeast(col("a1"), col("a2"), col("needed"))
          .as("i"),
        col("c1"), col("c2"))
    if (mode == "broadcast") {
      // broadcast verify: nothing ships per candidate, and the early-exit
      // kernel still cuts the merge work on the ~4.6× non-qualifying
      // candidates
      val verified = cand
        .join(broadcast(arrays.select(col("doc_id").as("d1"),
          col("arr").as("a1"))), Seq("d1"))
        .join(broadcast(arrays.select(col("doc_id").as("d2"),
          col("arr").as("a2"))), Seq("d2"))
        .select(col("d1"), col("d2"),
          graft.functions.TextFunctions
            .sortedIntersectAtLeast(col("a1"), col("a2"), needed).as("i"),
          col("c1"), col("c2"))
      score(verified)
    } else if (verifyChunks <= 1)
      score(mergeVerify(cand))
    else {
      // CHUNKED merge verify: the merge shape's one irreducible cost is
      // shipping one gated-shingle array per surviving candidate across
      // the d2 exchange — shuffle volume = candidates × array width, all
      // of it live on disk at once in a single job. Where executor-local
      // disk bounds that (the 100× single-box smoke: ~124M candidates ×
      // ~370 B measured ENOSPC), the candidates hash-partition into
      // `verifyChunks` disjoint slices, each verified in its own jobs
      // ([[unionOfSlices]]). On a cluster with aggregate disk this knob
      // stays at 1.
      // DISK_ONLY: at the decades where chunking is on at all, the
      // candidate frame is the ~100M-row one whose in-memory unroll
      // competes with the verify joins for heap (the session-E OOM)
      val spark = cand.sparkSession
      val candCk = labeled(spark, s"$label: candidate build") {
        Bridge.dropOriginConstraints(diskCheckpoint(cand)) }
      unionOfSlices(spark, s"$label: verify chunk", verifyChunks)(sl =>
        score(mergeVerify(candCk.filter(sl.of(col("d1"), col("d2"))))))
    }
  }

  /** Per-document boilerplate ratio (q98) — the line-dedup signal of the
    * CCNet/RefinedWeb lineage at shingle granularity: a 3-shingle is
    * "boilerplate" when it appears in ≥ `minDf` distinct documents
    * (headers, footers, license blurbs, navigation chrome), and each
    * document reports what fraction of its distinct shingles are such
    * corpus-common text. High-ratio documents are template pages a
    * quality filter should drop; the ratio is also the per-doc evidence
    * behind q21's maxDf gate ("how much of this doc is text the pair
    * stage ignores").
    *
    * Scale shape: rides the MEMOIZED shingle stage (q21/q22's); one
    * (shingle → df) partial agg, one join back on the 64-bit shingle key
    * — pinned shuffled, both sides are corpus-sized — then a per-doc
    * partial agg. No posting list materializes and no per-shingle group
    * exceeds the df count pair. Documents under 3 tokens have no
    * shingles and are absent, like the rest of the shingle family. */
  def boilerplate(spark: SparkSession, dir: String,
      minDf: Int = 3): DataFrame =
    boilerplateOfShingles(shingles(spark, dir), minDf)

  /** [[boilerplate]] over an already-built `(doc_id, s)` shingle frame. */
  private[graft] def boilerplateOfShingles(sh: DataFrame,
      minDf: Int): DataFrame = {
    require(minDf >= 2, s"minDf below 2 marks unique text common: $minDf")
    val dfF = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .hint("shuffle_hash")
    sh.join(dfF, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_grams"), col("n_common"),
        round(col("n_common") * lit(1.0) / col("n_grams"), 6)
          .as("boilerplate_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Dedup threshold calibration sweep (q105) — the pair/doc counts at a
    * ladder of Jaccard thresholds, from ONE pass over the memoized
    * intersection stage: how many pairs, how many involved documents, and
    * how many would-be losers (the q35 min-id rule's d2 side) each
    * candidate threshold implies. This is the curve a pipeline owner reads
    * to pick the dedup threshold — run the expensive candidate stage once,
    * see every policy's yield before committing one.
    *
    * Scale shape: rides [[interCounts]] (built once per session for the
    * whole shingle family); each surviving pair explodes into at most
    * |thresholds| tagged rows (a constant), then two partial-agg shuffles
    * to a |thresholds|-row frame. Nothing new touches the corpus. */
  def thresholdSweep(spark: SparkSession, dir: String,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9),
      maxDf: Int = 100): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    require(thresholds.distinct.size == thresholds.size,
      s"duplicate thresholds double-count the ladder: $thresholds")
    // the 6-dp Jaccard rounding is the oracle-parity contract shared by
    // the whole shingle family — one definition (jaccardOfInter), not
    // per-caller copies
    val jd = jaccardOfInter(interCounts(spark, dir, maxDf), thresholds.min)
    sweepOfPairs(jd, thresholds).orderBy(col("threshold"))
  }

  /** The ladder-tagging tail of [[thresholdSweep]] over an already-built
    * thresholded pair frame — shared with the sampled form (q123), which
    * feeds it a doc-sampled pair frame instead of the memoized full one.
    * Unsorted; callers order. */
  private def sweepOfPairs(jd: DataFrame,
      thresholds: Seq[Double]): DataFrame = {
    val arr = thresholds.sorted.map(t => s"${t}D").mkString(",")
    val tagged = jd.select(col("d1"), col("d2"),
      explode(expr(s"filter(array($arr), t -> jaccard >= t)"))
        .as("threshold"))
    val pairsAgg = tagged.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("d2")).as("n_losers"))
    val docsAgg = tagged.select(col("threshold"), col("d1").as("doc"))
      .union(tagged.select(col("threshold"), col("d2")))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("doc")).as("n_docs"))
    pairsAgg.join(docsAgg, Seq("threshold"))
      .select(col("threshold"), col("n_pairs"), col("n_docs"),
        col("n_losers"))
  }

  /** SAMPLED calibration sweep (q123) — [[thresholdSweep]] over a
    * deterministic hash-sample of DOCUMENTS, the 100-TB contract for the
    * full-candidate-frame calibration family (q105/q108/q111): those
    * operators read every candidate pair at every threshold, which is
    * the right contract at fixture scale but rides the classic
    * co-occurrence stage the r13 100× smoke measured ENOSPC-dead. A
    * calibration answer does not need every pair — it needs the CURVE,
    * and a doc-sample preserves it.
    *
    * Why docs, not pairs: sampling pairs from the full candidate frame
    * would still have to BUILD the full frame. Hash-sampling documents
    * (md5-bucket, the engine-independent q112 idiom — reproducible on
    * any cluster layout, any rerun) shrinks the stage's INPUT, and the
    * similarity structure inside the sample is the true structure: a
    * pair survives iff both endpoints do (p = f²), independent of its
    * Jaccard, so `n_pairs_est = n_pairs / f²` is unbiased per rung.
    *
    * Error bars, stated honestly:
    *  - `rel_err` ≈ 1/√n_pairs is the binomial-ish relative standard
    *    error of `n_pairs_est`. A rung NO sampled pair clears is ABSENT
    *    (q105's own contract): absence estimates 0 without proving the
    *    full rung empty. Size the fraction so the rungs you care about
    *    keep n_pairs ≳ 100 (rel_err ≲ 10%).
    *  - the df gate is emulated, not exact: a shingle's sampled df is
    *    ~f·df, so the gate cap scales to round(f·maxDf) (floor 2). Gate
    *    noise near the cap adds error the 1/√n term does not price.
    *  - `n_docs`/`n_losers` are reported RAW (sampled counts, no `_est`
    *    column): doc-level survival in the pair graph thins by
    *    f·(1 − (1−f)^degree), which has no unbiased per-row scaling —
    *    scaling them 1/f² would overstate, 1/f would understate.
    * Scale shape: identical to [[thresholdSweep]]'s but over an f-sized
    * corpus — candidate volume shrinks ~f² (the quadratic term is the
    * one that kills the full frame at the decade). */
  def thresholdSweepSampled(spark: SparkSession, dir: String,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9),
      maxDf: Int = 100, sampleFraction: Double = 0.5): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    require(thresholds.distinct.size == thresholds.size,
      s"duplicate thresholds double-count the ladder: $thresholds")
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val sppm = math.round(sampleFraction * 1e6)
    val capS = math.max(2L, math.round(sampleFraction * maxDf)).toInt
    val jd = jaccardOfInter(interCountsSampled(spark, dir, sppm, capS),
      thresholds.min)
    // 1/f² as the exact double n_pairs·1e12/sppm² — at the default
    // f = 0.5 the factor is exactly 4.0; round() half-up cases need a
    // non-terminating factor AND a half-integer product, which no ppm
    // fraction of a bigint count produces
    sweepOfPairs(jd, thresholds)
      .withColumn("n_pairs_est", expr(
        s"cast(round(n_pairs * 1e12 / (${sppm}e0 * ${sppm}e0)) as bigint)"))
      .withColumn("rel_err",
        when(col("n_pairs") > 0, round(lit(1.0) / sqrt(col("n_pairs")), 6)))
      .orderBy(col("threshold"))
  }

  /** The md5-bucket document-sample predicate shared by the sampled
    * calibration family (q123/q124/q125) — engine-independent (md5 of the
    * decimal doc id, first 15 hex digits as a bigint, ppm bucket), so the
    * SAME documents survive on any cluster layout, any rerun, and in the
    * DuckDB oracle. */
  private def docSamplePred(sppm: Long): Column = expr(
    "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) " +
      s"as bigint) % 1000000 < ${sppm}L")

  /** MinHash-LSH parameter planner (q111) — the (bands, rows-per-band)
    * calibration curve for a K-permutation signature, computed ANALYTICALLY
    * from the corpus's true pair-similarity profile: for every banding of
    * K = 8 (1×8, 2×4, 4×2, 8×1) and every candidate pair with true Jaccard
    * j (from the memoized intersection stage, down to `floor`), the
    * detection probability is the textbook S-curve 1 − (1 − jʳ)ᵇ. Summing
    * it over pairs gives the expected candidate count (the cost a banding
    * implies) and, over pairs at or above `threshold`, the expected catch —
    * so `recall` vs `exp_candidates` is the exact precision/recall trade a
    * pipeline owner reads before committing a 100 TB LSH pass. q22's
    * shipped 4×2 banding is one row of this output; q105 is the same
    * planner idea one level up (which THRESHOLD), this is which SKETCH
    * CONFIG clears it.
    *
    * `exp_candidates` is a FLOOR-TRUNCATED LOWER BOUND on candidate
    * volume: the sum runs only over pairs with true Jaccard ≥ `floor`
    * that also share a df-gated shingle, yet sub-floor pairs still
    * collide with p = 1 − (1 − jʳ)ᵇ > 0. On a corpus where low-j pairs
    * dominate (most of a 100 TB crawl), size the pass off this number
    * plus headroom — or lower `floor` until the marginal contribution is
    * negligible — never off the bound alone. `recall` is NULL (with an
    * explicit `when`) when no pair clears `threshold`: an undefined ratio
    * is reported as undefined, not as an engine-specific /0 artifact.
    *
    * Determinism: jʳ and (1−jʳ)ᵇ are LEFT-ASSOCIATED multiply chains over
    * the rounded Jaccard (never `pow` — libm and java.lang.Math disagree in
    * the last ulp), per-pair probabilities are rounded and summed as
    * decimals, so the oracle hash-checks every column.
    *
    * Scale shape: rides [[interCounts]] (built once per session for the
    * whole shingle family); each pair explodes into exactly 4 config rows,
    * then one partial-agg shuffle to a 4-row frame. Nothing new touches
    * the corpus. */
  def lshPlanner(spark: SparkSession, dir: String, threshold: Double = 0.8,
      floor: Double = 0.1, maxDf: Int = 100): DataFrame = {
    require(floor <= threshold, s"floor $floor above threshold $threshold")
    lshPlannerOfJd(jaccardOfInter(interCounts(spark, dir, maxDf), floor),
      threshold)
  }

  /** SAMPLED LSH parameter planner (q125) — [[lshPlanner]] over the
    * md5-bucket doc sample (the q123 idiom: candidate volume shrinks
    * ~f², the quadratic term that kills the full frame at the decade),
    * with the 1/f² estimates attached. Every planner column is a SUM
    * over pairs, and a pair survives the doc sample at p = f²
    * independent of its Jaccard — so `n_pairs_est = n_pairs/f²`,
    * `exp_candidates_est` and `exp_caught_est` are unbiased per banding.
    * `recall` is a RATIO of two such sums (a ratio estimator): reported
    * raw, consistent but not exactly unbiased at small n — read it with
    * the stated `rel_err` ≈ 1/√n_pairs. The df gate is emulated at
    * round(f·maxDf) (floor 2), q123's caveat applies. */
  def lshPlannerSampled(spark: SparkSession, dir: String,
      threshold: Double = 0.8, floor: Double = 0.1, maxDf: Int = 100,
      sampleFraction: Double = 0.5): DataFrame = {
    require(floor <= threshold, s"floor $floor above threshold $threshold")
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val sppm = math.round(sampleFraction * 1e6)
    val capS = math.max(2L, math.round(sampleFraction * maxDf)).toInt
    // 1/f² as the exact double 1e12/sppm² (exactly 4.0 at the default
    // f = 0.5), applied to the ALREADY-ROUNDED planner columns with the
    // same double ops the oracle runs — deterministic, hash-checkable
    lshPlannerOfJd(
        jaccardOfInter(interCountsSampled(spark, dir, sppm, capS), floor),
        threshold)
      .withColumn("n_pairs_est", expr(
        s"cast(round(n_pairs * 1e12 / (${sppm}e0 * ${sppm}e0)) as bigint)"))
      .withColumn("exp_candidates_est", round(expr(
        s"exp_candidates * 1e12 / (${sppm}e0 * ${sppm}e0)"), 6))
      .withColumn("exp_caught_est", round(expr(
        s"exp_caught * 1e12 / (${sppm}e0 * ${sppm}e0)"), 6))
      .withColumn("rel_err",
        when(col("n_pairs") > 0, round(lit(1.0) / sqrt(col("n_pairs")), 6)))
      .orderBy(col("bands"))
  }

  private def lshPlannerOfJd(jd: DataFrame, threshold: Double): DataFrame = {
    // left-associated integer power: bit-identical to the SQL chain
    // x*x*...*x (SQL `*` is left-associative too)
    def ipow(x: Column, n: Int): Column = Seq.fill(n)(x).reduce(_ * _)
    val configs = Seq((1, 8), (2, 4), (4, 2), (8, 1))
    val perConfig = configs.map { case (b, r) =>
      val p = lit(1.0) - ipow(lit(1.0) - ipow(col("jaccard"), r), b)
      struct(lit(b).as("bands"), lit(r).as("rows_per_band"), p.as("p"))
    }
    val dec = "decimal(28,9)"
    jd.select(col("jaccard"), explode(array(perConfig: _*)).as("c"))
      .select(col("c.bands").as("bands"),
        col("c.rows_per_band").as("rows_per_band"),
        col("jaccard"), round(col("c.p"), 9).cast(dec).as("p"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("p")).cast("double").as("candidates_d"),
        sum(when(col("jaccard") >= threshold, 1L).otherwise(0L))
          .as("n_target"),
        sum(when(col("jaccard") >= threshold, col("p"))
          .otherwise(lit(0).cast(dec))).cast("double").as("caught_d"))
      .select(col("bands"), col("rows_per_band"), col("n_pairs"),
        col("n_target"),
        round(col("candidates_d"), 6).as("exp_candidates"),
        round(col("caught_d"), 6).as("exp_caught"),
        // DELIBERATE null when no pair clears `threshold`: recall over an
        // empty target pool is undefined, and an explicit when() says so
        // on purpose instead of leaking engine-specific /0 semantics
        when(col("n_target") > 0,
          round(col("caught_d") / col("n_target"), 6)).as("recall"))
      .orderBy(col("bands"))
  }

  /** End-to-end dedup decisions: one row per document with `keep` ∈ {0,1}.
    * A document is dropped iff it near-duplicates (3-shingle Jaccard ≥
    * `threshold`) a smaller-id document — the greedy min-id-representative
    * rule over the pair list (identical texts have Jaccard 1, so exact dups
    * are subsumed). This is the operator a pipeline user actually calls;
    * the building blocks above are its stages. Pass `pairs` to reuse an
    * already-computed pair frame; by default the memoized stage shared with
    * [[ngramJaccard]] is used, so running both in one session computes the
    * shingle pipeline once. */
  def deduplicate(spark: SparkSession, dir: String,
      threshold: Double = 0.8, pairs: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val p = pairs.getOrElse(ngramPairs(spark, dir, threshold, 100))
    val losers = p.select($"d2".as("doc_id")).distinct()
    Tables.documents(spark, dir)
      .select($"doc_id")
      .join(losers.withColumn("drop", lit(1)), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"drop".isNotNull, 0).otherwise(1).as("keep"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // Incremental dedup (the daily-increment production pattern)
  // ---------------------------------------------------------------------

  /** Near-dup pairs INVOLVING the increment only. Candidates are generated
    * by joining the increment's df-gated shingles (`newSh`) against the
    * df-gated FULL index (`index` = existing ∪ incoming shingles), so
    * per-increment cost is O(increment × bounded posting lists) — never the
    * corpus self-join a full re-dedup pays, and independent of how many
    * increments shipped before. Exact Jaccard is then computed from both
    * docs' gated shingle sets with [[interCountsOfShingles]]'s arithmetic
    * (gated intersection over full-set sizes), so a candidate's verdict is
    * bit-identical to what the all-pairs batch pipeline (q21) emits for
    * that pair. Emits (d1 = min id, d2 = max id, jaccard ≥ threshold). */
  private[graft] def incrementalPairsOf(index: DataFrame, newSh: DataFrame,
      threshold: Double, maxDf: Int): DataFrame = {
    // full-set sizes: Jaccard's denominator counts every shingle, gated or
    // not, exactly like interCountsOfShingles' docLen
    val docLen = index.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    // df over the FULL index — the same gate the batch pipeline applies, so
    // candidate generation and intersection counts agree with it exactly.
    // O(distinct shingles) — pinned shuffled like interCountsOfShingles
    val gate = index.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select(col("s"))
      .hint("shuffle_hash")
    val gatedIdx = index.join(gate, Seq("s"), "left_semi")
    val gatedNew = newSh.join(gate, Seq("s"), "left_semi")
    // per-shingle postings bounded by maxDf, new side bounded by the
    // increment — the join can't melt even when the accumulated index is
    // the whole shipped corpus. The co-occurrence rows this join emits
    // ARE the intersection evidence: (d1, d2, s) per shared gated
    // shingle, so the exact intersection count is one dedup + count away
    // — no second pass over the index. A both-new pair arrives twice
    // (once with each side as "n"), which the triple distinct collapses.
    val inter = gatedNew.as("n")
      .join(gatedIdx.as("a").hint("shuffle_hash"),
        col("n.s") === col("a.s") && col("n.doc_id") =!= col("a.doc_id"))
      .select(least(col("n.doc_id"), col("a.doc_id")).as("d1"),
        greatest(col("n.doc_id"), col("a.doc_id")).as("d2"),
        col("n.s").as("ss"))
      .distinct()
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("i"))
    inter
      .join(docLen.as("ca").hint("shuffle_hash"),
        col("d1") === col("ca.doc_id"))
      .join(docLen.as("cb").hint("shuffle_hash"),
        col("d2") === col("cb.doc_id"))
      .select(col("d1"), col("d2"),
        round(col("i") * lit(1.0) / (col("ca.c") + col("cb.c") - col("i")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental dedup verdicts over an arbitrary corpus frame: `docs`
    * split by the `isIncoming` predicate (a boolean Column over `doc_id`)
    * into the already-shipped corpus and the new increment; one row per
    * incoming doc. Verdict rules — the production semantics, not plain
    * min-id:
    *  - `exact_dup` = 1 iff the text digest matches an existing doc (ANY
    *    id — the shipped corpus always wins) or a smaller-id incoming doc
    *    (min-id rule within the increment);
    *  - `near_dup` = 1 iff 3-shingle Jaccard ≥ `threshold` with an
    *    existing doc (any id) or a smaller-id incoming doc;
    *  - `keep` = 1 iff neither.
    * The shipped-corpus-wins rule is what makes the operator incremental:
    * existing docs are immutable (already trained on / published), so a
    * new doc duplicating one is dropped even when its id sorts first. */
  def incrementalDedupOf(docs: DataFrame, isIncoming: Column,
      threshold: Double = 0.8, maxDf: Int = 100): DataFrame = {
    val sh = shinglesOf(docs)
    val pairs = incrementalPairsOf(sh,
      sh.withColumn("inc", isIncoming.cast("int"))
        .filter(col("inc") === 1).drop("inc"),
      threshold, maxDf)
    incrementalVerdicts(docs, pairs, isIncoming)
  }

  /** Verdict assembly from an already-computed near-dup pair frame (every
    * pair must involve ≥ 1 incoming doc; extra all-existing pairs are
    * harmless — existing docs never receive verdict rows). */
  private def incrementalVerdicts(docs: DataFrame, pairs: DataFrame,
      isIncoming: Column): DataFrame = {
    // the predicate references doc_id by name so it resolves against every
    // frame in scope; evaluate it once per frame via a marker column
    def marked(df: DataFrame) = df.withColumn("inc", isIncoming.cast("int"))
    val hashes = marked(docs.select(col("doc_id"), md5(col("text")).as("h")))
    // exact: incoming digest vs existing digests ∪ smaller-id incoming.
    // Digest-keyed join — both sides corpus-sized, pinned shuffled
    val exDup = hashes.filter(col("inc") === 1).as("n")
      .join(hashes.as("o").hint("shuffle_hash"),
        col("n.h") === col("o.h") &&
          (col("o.inc") === 0 || col("o.doc_id") < col("n.doc_id")))
      .select(col("n.doc_id")).distinct()
    // pair loser: d2 when incoming (covers both-incoming min-id and the
    // existing-d1-wins case); otherwise d1 — when IT is the incoming side
    // the existing d2 wins regardless of id order, and when neither side
    // is incoming the row dies in the verdict join below
    val nearDup = marked(pairs.select(col("d2").as("doc_id"), col("d1")))
      .select(when(col("inc") === 1, col("doc_id")).otherwise(col("d1"))
        .as("doc_id"))
      .distinct()
    marked(docs.select(col("doc_id"))).filter(col("inc") === 1)
      .select(col("doc_id"))
      .join(exDup.withColumn("ex", lit(1)).hint("shuffle_hash"),
        Seq("doc_id"), "left")
      .join(nearDup.withColumn("nd", lit(1)).hint("shuffle_hash"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex").isNotNull, 1).otherwise(0).as("exact_dup"),
        when(col("nd").isNotNull, 1).otherwise(0).as("near_dup"))
      .withColumn("keep",
        when(col("exact_dup") + col("near_dup") > 0, 0).otherwise(1))
      .orderBy(col("doc_id"))
  }

  /** Persist a corpus's dedup INDEX — the shingle postings (ungated: the
    * df gate is corpus-relative, so it applies at query time over
    * index ∪ increment) and text digests — so later increments dedup
    * against FILES instead of rescanning the shipped corpus
    * ([[incrementalDedupAgainstIndex]]).
    * This is what makes the daily-batch pattern operational: the index is
    * the only state carried between runs (the q88 streaming funnel keeps
    * the same footprint in its per-commit state dirs), and it is ~16
    * bytes per (doc, shingle) plus one digest row per doc — never the
    * corpus text. */
  def writeDedupIndex(docs: DataFrame, path: String): Unit = {
    // string/UUID-keyed corpora persist in FINGERPRINT currency: the
    // positional generators' bigint currency AND the index's ~16-byte
    // posting contract (a URL key would widen every (doc, shingle) row
    // ~5×), with the (orig_id, doc_id) dictionary persisted NEXT TO the
    // state it translates. Increments and the base agree with no
    // coordination — xxhash64 is layout- and rerun-stable — and the
    // collision guard re-runs over dictionary ∪ increment at every
    // commit ([[resolveIncomingCurrency]]). The dict lands FIRST: a
    // dict-less index reads as bigint-keyed, so the dict must exist
    // before hashes/_SUCCESS makes the index look complete.
    // a REBUILD over a path carrying committed increment/compaction state
    // must clear that state first: inc/vN markers survive data-part GC (they
    // are the committed trail), so a fresh base under surviving markers
    // reads as committedVersion = old N, and latestCompaction keeps
    // accepting the stale covers:N generation — every reader then silently
    // serves the PRE-REBUILD compacted corpus while the fresh base is never
    // read (ADVICE r17). The forest is derived from the old corpus's pairs,
    // equally stale. Owned here because arbitrary callers rebuild through
    // this entry point.
    val (pfs, _) = hfs(path)
    for (sub <- Seq("inc", "compact", "forest"))
      pfs.delete(new org.apache.hadoop.fs.Path(s"$path/$sub"), true)
    val route = docIdRoute(docs, "writeDedupIndex")
    route.dict match {
      case Some(dict) => dict.write.mode("overwrite").parquet(s"$path/dict")
      // a bigint rebuild over a formerly string-keyed index path must also
      // remove the old dictionary: a surviving dict/ dir makes
      // indexHasDict misread the bigint rebuild as fingerprint-keyed —
      // bigint increments get refused with a misleading message, string
      // increments get fingerprinted and probed against raw-bigint
      // postings where every dictionary join-back silently drops the
      // pair (ADVICE r16).
      case None =>
        pfs.delete(new org.apache.hadoop.fs.Path(s"$path/dict"), true)
    }
    val d = route.frame
    shinglesOf(d).write.mode("overwrite").parquet(s"$path/shingles")
    d.select(col("doc_id"), md5(col("text")).as("h"))
      .write.mode("overwrite").parquet(s"$path/hashes")
    // protocol stamp, written LAST: [[latestForestVersion]] refuses any
    // UNSTAMPED index carrying forest versions above v0. A pre-staged-
    // protocol blind-append index with exactly ONE appended commit used
    // to be indistinguishable from a legitimate torn commit (both show
    // fmax = committed + 1) and was silently served as v0, mis-clustering
    // its appended docs — the stamp makes the distinction persistent
    // instead of leaving it to scaladoc (ADVICE r13).
    val stamp = pfs.create(
      new org.apache.hadoop.fs.Path(path, "_graft_protocol"), true)
    try stamp.write(protocolStamp.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally stamp.close()
  }

  /** Stamp content naming the commit-protocol generation an index was
    * written under (staged version-keyed overwrites + marker-last). */
  private val protocolStamp = "graft-dedup-index-protocol:1\n"

  /** The digest a committed increment's marker carries, or None when the
    * marker is missing, EMPTY or unreadable. An empty marker is the
    * torn-write state of a crash between marker creation and content
    * flush and MUST read as uncommitted: gating visibility on bare
    * existence made the torn marker flip vN visible while the digest
    * retry guard mismatched, re-opening the exact double-append window
    * the digest was added to close (ADVICE r13). Markers written by
    * [[writeMarkerAtomic]] land via an atomic rename, so the torn state
    * can only come from a pre-r14 writer or a truncated copy. */
  private def markerDigest(path: String, v: Int): Option[String] =
    dirMarkerContent(s"$path/inc/v$v")

  /** A directory's committed-marker content, or None when the marker is
    * missing, EMPTY or unreadable (the torn-write rule of
    * [[markerDigest]], shared with compaction generations). */
  private def dirMarkerContent(dir: String): Option[String] = {
    val (fs, _) = hfs(dir)
    val m = new org.apache.hadoop.fs.Path(dir, "_graft_commit")
    try {
      val len = fs.getFileStatus(m).getLen
      if (len == 0L || len > (1L << 20)) None
      else {
        val in = fs.open(m)
        try {
          val buf = new Array[Byte](len.toInt)
          in.readFully(buf)
          Some(new String(buf, java.nio.charset.StandardCharsets.UTF_8))
        } finally in.close()
      }
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Write an increment's commit marker ATOMICALLY: content lands in a
    * same-directory temp file first, then renames onto `_graft_commit` —
    * on every Hadoop filesystem rename is atomic (local FS delegates to
    * File.renameTo; HDFS renames in the namenode), so readers observe
    * either no marker or the complete digest, never a created-but-
    * unflushed marker. The pre-r14 plain Files.write could crash between
    * file creation and content flush, leaving an existing-but-empty
    * marker (ADVICE r13); [[markerDigest]]'s empty-is-uncommitted rule
    * covers markers that old writers already tore. */
  private def writeMarkerAtomic(path: String, v: Int,
      digest: String): Unit =
    writeDirMarkerAtomic(s"$path/inc/v$v", digest)

  /** The atomic-rename marker write shared by increment commits and
    * compaction generations ([[compactDedupIndex]]): content lands in a
    * same-directory temp file, then renames onto `_graft_commit` — on
    * every Hadoop filesystem that rename is atomic, so readers observe
    * no marker or the complete content, never a torn one. */
  private[graft] def writeDirMarkerAtomic(dir: String,
      content: String): Unit = {
    val (fs, _) = hfs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, "._graft_commit.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(dir, "_graft_commit")
    // a retry over a pre-r14 torn marker must replace it; the delete
    // window only ever widens "uncommitted", never exposes torn content
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst),
      s"atomic commit-marker rename failed under $dir")
  }

  /** Version-numbered `<prefix>N` subdirectories of `base` (`vN`
    * increments / forests, `gN` compaction generations), via the index's
    * own filesystem. */
  private def versionDirs(path: String, sub: String,
      prefix: String = "v"): Seq[Int] = {
    val (fs, _) = hfs(path)
    val dir = new org.apache.hadoop.fs.Path(s"$path/$sub")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.matches(prefix + "\\d+"))
      .map(_.getPath.getName.drop(prefix.length).toInt)
  }

  /** Highest COMMITTED increment version of a persisted index (0 = the
    * [[writeDedupIndex]] base only). An increment version N ≥ 1 is
    * committed iff its marker file `inc/vN/_graft_commit` exists AND is
    * non-empty (an empty marker is a torn pre-r14 write — uncommitted,
    * see [[markerDigest]]) — the marker is the LAST write of
    * [[incrementalClustersAgainstIndex]]'s commit sequence, so a crash
    * anywhere before it leaves every reader serving version N−1 (never a
    * torn N) and a re-run overwrites the staged files idempotently.
    * Versions are contiguous by protocol (commit N starts only after
    * N−1's marker); a committed version above a gap is state the
    * protocol cannot produce, refused loudly. */
  private[graft] def committedVersion(path: String): Int = {
    val incs = versionDirs(path, "inc")
      .filter(v => markerDigest(path, v).isDefined)
      .sorted
    var latest = 0
    for (v <- incs) if (v == latest + 1) latest = v
    require(incs.isEmpty || incs.last == latest,
      s"dedup index at $path has a committed increment v${incs.last} above " +
        s"a gap (contiguous committed max is v$latest) — the index is " +
        "corrupt; rebuild it with writeDedupIndex")
    latest
  }

  /** Highest committed COMPACTION generation of a persisted index and
    * the increment version it covers, or None for a never-compacted
    * index. A generation `compact/gN` is committed iff its
    * `_graft_commit` marker exists, is non-empty, and parses as
    * `covers:<v>` with v ≤ the committed increment trail — a torn
    * compaction (crash before the marker) is invisible and readers keep
    * serving the prior state, exactly the increment protocol's rule. */
  private[graft] def latestCompaction(path: String): Option[(Int, Int)] = {
    val covers = "covers:(\\d+)".r
    val v = committedVersion(path)
    versionDirs(path, "compact", "g").sorted.reverse.iterator.flatMap {
      g =>
        dirMarkerContent(s"$path/compact/g$g").map(_.trim).collect {
          case covers(n) if n.toInt <= v => (g, n.toInt)
        }
    }.nextOption()
  }

  /** A reader's resolution of the persisted-state layout: the BASE
    * component location (the latest committed compaction generation when
    * one exists, the [[writeDedupIndex]] base otherwise) plus the
    * committed increment versions still to union on top. This is what
    * bounds read cost under long commit trails (VERDICT r16 #1): without
    * compaction every read plan grows one union leg and one file listing
    * per commit, forever. Versions above [[committedVersion]] are
    * invisible even when their files exist (staged by an in-flight or
    * crashed commit). */
  private def indexReadPlan(path: String): (String => String, Range) = {
    val v = committedVersion(path)
    latestCompaction(path) match {
      case Some((g, covered)) =>
        ((what: String) => s"$path/compact/g$g/$what", (covered + 1) to v)
      case None =>
        ((what: String) => s"$path/$what", 1 to v)
    }
  }

  /** One component (`shingles`/`hashes`/`dict`) of the committed index
    * state: the resolved base plus every still-uncompacted committed
    * increment part. */
  private def readIndexComponent(spark: SparkSession, path: String,
      what: String): DataFrame = {
    val (base, legs) = indexReadPlan(path)
    legs.map(v => spark.read.parquet(s"$path/inc/v$v/$what"))
      .foldLeft(spark.read.parquet(base(what)))(_ unionByName _)
  }

  /** Read a persisted index's shingle frame (base + committed increments),
    * REFUSING a key-type mismatch: the engine hashes an increment's
    * shingles to 64-bit longs, and Spark's set-operation coercion would
    * widen a bigint∪string union to STRING — the long keys print as
    * decimal digits that can never equal a legacy index's 16-hex keys, so
    * every cross-index probe silently finds nothing and each incoming doc
    * reads as novel. This guard covers the PUBLIC path where the caller
    * hands an arbitrary (possibly pre-r12, hex-keyed) index location. */
  private def readIndexShingles(spark: SparkSession,
      indexPath: String): DataFrame = {
    val idxSh = readIndexComponent(spark, indexPath, "shingles")
    val got = idxSh.schema("s").dataType
    require(got == org.apache.spark.sql.types.LongType,
      s"persisted dedup index at $indexPath stores ${got.simpleString} " +
        "shingle keys but the engine hashes increments to bigint — " +
        "rebuild the index with writeDedupIndex (legacy hex-keyed " +
        "indexes predate the r12 key currency)")
    idxSh
  }

  /** Read a persisted index's digest frame (resolved base + committed
    * increments). */
  private def readIndexHashes(spark: SparkSession,
      indexPath: String): DataFrame =
    readIndexComponent(spark, indexPath, "hashes")

  /** Whether a persisted index carries the doc-id fingerprint dictionary
    * — i.e. was written from a string/UUID-keyed corpus and stores its
    * shingles/hashes/forest in fingerprint currency. */
  private def indexHasDict(path: String): Boolean = {
    val (fs, _) = hfs(path)
    // resolve through the read plan, NOT the writeDedupIndex base: once a
    // compaction commits, the GC drops the superseded base components, so
    // the dict's existence witness lives wherever the current base does
    // (the r18 base-path probe is why the GC had to RETAIN the dead base)
    val (base, _) = indexReadPlan(path)
    fs.exists(new org.apache.hadoop.fs.Path(base("dict")))
  }

  /** Read a dict-backed index's dictionary (resolved base + committed
    * increments) — one `(orig_id, doc_id)` row per doc ever committed,
    * the exact id set of [[readIndexHashes]] in both currencies. */
  private def readIndexDict(spark: SparkSession, path: String): DataFrame =
    readIndexComponent(spark, path, "dict")

  /** COMPACT a persisted index's committed state (VERDICT r16 #1): fold
    * the resolved base plus every committed increment part into ONE new
    * compaction generation per component (`compact/gN/shingles`,
    * `/hashes`, `/dict` on dict-backed indexes), made visible by the
    * same atomic content marker the increment protocol uses (content
    * `covers:<v>`, the committed version the generation folds in).
    * Without this, [[readIndexShingles]]/[[readIndexHashes]]/
    * [[readIndexDict]] union one leg and list one directory per commit
    * FOREVER — at daily-commit cadence, thousands of plan legs within a
    * few years, re-growing in file-listing form the read cost the
    * maintained structures removed.
    *
    * Crash-safety is the increment protocol's: the generation's files
    * are staged overwrites, invisible until the marker lands (a torn
    * compaction serves the PRIOR state exactly); a retry overwrites the
    * staged files idempotently; a crash after the marker re-enters
    * through the early return and finishes the garbage collection.
    * After the marker, superseded state is dropped — the original
    * [[writeDedupIndex]] base components (the read plan resolves
    * compact/gN from the first committed generation on), older
    * compaction generations, the covered increments' data parts, and
    * forest versions below the committed tail — while every increment's
    * `_graft_commit` marker is KEPT: the markers are the committed
    * trail ([[committedVersion]] contiguity) and the replay-refusal
    * digest set, and they are bytes, not data. The forest seed `v0` is
    * kept as the [[latestForestVersion]] protocol witness.
    *
    * Returns the covered version. Compacting a never-incremented index
    * (v = 0) is a no-op — the base IS the compact form. */
  def compactDedupIndex(spark: SparkSession, path: String): Int = {
    val v = committedVersion(path)
    val cur = latestCompaction(path)
    if (v == 0 && cur.isEmpty) return 0
    if (cur.exists(_._2 == v)) { gcCompacted(path); return v }
    val g = cur.map(_._1 + 1).getOrElse(1)
    val dst = s"$path/compact/g$g"
    readIndexShingles(spark, path)
      .write.mode("overwrite").parquet(s"$dst/shingles")
    readIndexHashes(spark, path)
      .write.mode("overwrite").parquet(s"$dst/hashes")
    if (indexHasDict(path))
      readIndexDict(spark, path)
        .write.mode("overwrite").parquet(s"$dst/dict")
    writeDirMarkerAtomic(dst, s"covers:$v")
    gcCompacted(path)
    v
  }

  /** Drop state a committed compaction superseded (idempotent — also the
    * recovery path for a crash between the compaction marker and this
    * GC): older compaction generations, covered increments' data parts
    * (markers kept — they are the committed trail and the replay digest
    * set), and forest versions strictly between the v0 seed witness and
    * the committed tail (only the tail is ever read). */
  private def gcCompacted(path: String): Unit = {
    val (fs, _) = hfs(path)
    def rm(p: String): Unit = {
      fs.delete(new org.apache.hadoop.fs.Path(p), true); ()
    }
    latestCompaction(path).foreach { case (g, covered) =>
      for (m <- versionDirs(path, "compact", "g") if m < g)
        rm(s"$path/compact/g$m")
      // the writeDedupIndex base is superseded the moment ANY compaction
      // commits (the read plan resolves compact/gN from then on): drop
      // its data components too — r18 retained them forever because
      // indexHasDict probed the base dict path (since fixed to resolve
      // through the read plan)
      for (sub <- Seq("shingles", "hashes", "dict"))
        rm(s"$path/$sub")
      for (k <- 1 to covered; sub <- Seq("shingles", "hashes", "dict"))
        rm(s"$path/inc/v$k/$sub")
      val tail = committedVersion(path)
      for (fv <- versionDirs(path, "forest") if fv > 0 && fv < tail)
        rm(s"$path/forest/v$fv")
    }
  }

  /** Resolve an increment's id currency against a persisted index's:
    * a dict-backed index fingerprints the incoming ids and RE-RUNS the
    * collision guard over dictionary ∪ increment — a collision would
    * silently merge two documents' state, and the increment's ids were
    * not visible when the seed's guard ran, so the guard is per-commit,
    * never only at seed time (VERDICT r15 #1) — while a dict-less index
    * requires bigint increments. Returns the increment in the index's
    * WORKING currency plus, on the dict path, (dictionary ∪ increment
    * for translating outputs back to original ids, the increment's own
    * dictionary rows for version-keyed staging). */
  private def resolveIncomingCurrency(spark: SparkSession,
      indexPath: String, incoming: DataFrame, opName: String)
      : (DataFrame, Option[(DataFrame, DataFrame)]) = {
    val incIsLong = incoming.schema("doc_id").dataType ==
      org.apache.spark.sql.types.LongType
    if (!indexHasDict(indexPath)) {
      require(incIsLong,
        s"$opName: the dedup index at $indexPath is bigint-keyed but " +
          s"the increment's doc ids are ${incoming.schema("doc_id")
            .dataType.simpleString} — fingerprint-dictionary indexes " +
          "are created by writeDedupIndex over the string-keyed corpus " +
          "itself; rebuild the index from the original corpus")
      (incoming, None)
    } else {
      require(!incIsLong,
        s"$opName: the dedup index at $indexPath is fingerprint-keyed " +
          "(built from a string/UUID-keyed corpus) but the increment's " +
          "doc ids are bigint — a raw bigint is indistinguishable from " +
          "a fingerprint; ship the increment in the corpus's original " +
          "id currency")
      val incDict = docIdFingerprints(incoming, opName)
      val dictU = readIndexDict(spark, indexPath)
        .unionByName(incDict).distinct()
      val m = dictU.agg(countDistinct(col("orig_id")),
        countDistinct(col("doc_id"))).head()
      require(m.getLong(0) == m.getLong(1),
        s"$opName: the doc-id fingerprint dictionary collided across " +
          s"index ∪ increment (${m.getLong(0)} distinct ids -> " +
          s"${m.getLong(1)} distinct fingerprints) — two documents " +
          "would silently merge; this increment cannot be committed " +
          "to this index")
      (fingerprinted(incoming), Some((dictU, incDict)))
    }
  }

  /** Translate a fingerprint-currency pair frame's id columns `ids` back
    * to original ids. With `reorient` (an unordered pair frame) the pair
    * is RE-CANONICALIZED so d1 = the smaller ORIGINAL id: fingerprint
    * order is arbitrary in original-id order, and every min-id verdict
    * rule downstream compares original ids; each `sides` pair names two
    * per-side columns that swap with their docs when the order flips.
    * Without it (an oriented frame) the ids just map. Dictionary joins
    * pinned shuffled — the dictionary is corpus-sized at 100 TB. Other
    * columns pass through, in the frame's column order.
    *
    * The joins are LEFT + loud-on-null, not inner: a fingerprint absent
    * from the dictionary (state skew — a partially copied index, a
    * legacy stale dict) must fail the job, never silently drop the pair
    * — an inner join here was the mechanism turning dictionary gaps
    * into silent recall loss (ADVICE r16). `raise_error` keeps the
    * check zero-extra-actions: it rides the translate projection
    * itself. */
  private[graft] def pairsToOriginal(pairs: DataFrame, dict: DataFrame,
      ids: (String, String) = ("d1", "d2"), reorient: Boolean = true,
      sides: Seq[(String, String)] = Nil): DataFrame = {
    val (a, b) = ids
    def checked(o: Column, d: Column): Column =
      when(o.isNull, raise_error(concat(
        lit("dedup fingerprint dictionary has no entry for pair " +
          "endpoint "), d.cast("string"),
        lit(" — the index's dict/ state is incomplete (partial copy or " +
          "stale dictionary); rebuild the index with writeDedupIndex"))))
        .otherwise(o)
    def orig(id: String, o: String): DataFrame =
      dict.select(col("doc_id").as(id), col("orig_id").as(o))
        .hint("shuffle_hash")
    val swaps = (sides ++ sides.map(_.swap)).toMap
    val o1 = col("o1")
    val o2 = col("o2")
    pairs
      .join(orig(a, "o1"), Seq(a), "left")
      .join(orig(b, "o2"), Seq(b), "left")
      .select(pairs.columns.map(col).toSeq ++ Seq(
        checked(o1, col(a)).as("o1"), checked(o2, col(b)).as("o2")): _*)
      .select(pairs.columns.toSeq.map {
        case `a` => (if (reorient) least(o1, o2) else o1).as(a)
        case `b` => (if (reorient) greatest(o1, o2) else o2).as(b)
        case c => swaps.get(c).fold(col(c))(other =>
          when(o1 < o2, col(c)).otherwise(col(other)).as(c))
      }: _*)
  }

  /** Dedup an `incoming` increment against a [[writeDedupIndex]]-persisted
    * corpus plus itself — [[incrementalDedupOf]]'s verdict rules
    * (shipped-corpus-wins; min-id within the increment) with the shipped
    * side read from the index files. The candidate join still touches
    * only increment-vs-postings; df is computed over index ∪ increment,
    * exactly the full-corpus gate the batch pipeline applies. */
  /** The increment-vs-index near-dup pair stage shared by the read-only
    * fixture twins (q94's verdicts and q118's clusters both fold the
    * SAME mod-10 increment against the SAME shipped index, so their
    * pair frames are content-identical): with a `pairsKey` the frame
    * rides the stage memo like every other shared stage — one candidate
    * join per session, cold laps still pay their own. Never keyed on a
    * commit path: an appending caller's index mutates under the plan. */
  private def incPairsVsIndex(spark: SparkSession, indexPath: String,
      idxSh: DataFrame, newSh: DataFrame, threshold: Double, maxDf: Int,
      pairsKey: Option[StageMemo.Key]): DataFrame = pairsKey match {
    // the index's committed version stamps the memo key: correctness no
    // longer rests on the comment-level convention that every caller
    // sharing a pairsKey probes content-identical index files — a future
    // caller reusing a key against an index that has since taken a
    // commit misses instead of silently reading the stale pair frame
    // (ADVICE r18; one cheap marker listing per memoized call).
    case Some(k) => StageMemo(spark,
      k :+ s"v${committedVersion(indexPath)}")(
      incrementalPairsOf(idxSh.unionByName(newSh), newSh, threshold,
        maxDf))
    case None =>
      incrementalPairsOf(idxSh.unionByName(newSh), newSh, threshold,
        maxDf)
  }

  def incrementalDedupAgainstIndex(spark: SparkSession, indexPath: String,
      incoming: DataFrame, threshold: Double = 0.8,
      maxDf: Int = 100, pairsKey: Option[StageMemo.Key] = None): DataFrame = {
    // string/UUID-keyed corpora run the POSTING machinery in fingerprint
    // currency (the index's stored currency — resolveIncomingCurrency
    // fingerprints the increment and re-runs the collision guard), while
    // the digests and every min-id tiebreak below stay in ORIGINAL
    // currency, the only currency "smaller id wins" is defined in: the
    // digest probes key on `h` alone, and the near-dup pairs join back
    // through the dictionary re-canonicalized by original id before the
    // loser rule reads them
    val (incW, dictOpt) = resolveIncomingCurrency(spark, indexPath,
      incoming, "incrementalDedupAgainstIndex")
    val idxSh = readIndexShingles(spark, indexPath)
    val idxHashes = readIndexHashes(spark, indexPath)
    val newSh = shinglesOf(incW)
    val newHashes = incoming.select(col("doc_id"), md5(col("text")).as("h"))
    val pairsW = incPairsVsIndex(spark, indexPath, idxSh, newSh,
      threshold, maxDf, pairsKey)
    val pairs = dictOpt.map { case (dictU, _) =>
      pairsToOriginal(pairsW, dictU) }.getOrElse(pairsW)
    val incIds = incoming.select(col("doc_id"))
    // exact: digest in the shipped index (any id) or a smaller-id
    // incoming doc — both probes digest-keyed, pinned shuffled
    val exDup = newHashes.as("n")
      .join(idxHashes.as("o").hint("shuffle_hash"),
        col("n.h") === col("o.h"), "left_semi")
      .select(col("doc_id"))
      .unionByName(newHashes.as("n")
        .join(newHashes.as("o").hint("shuffle_hash"),
          col("n.h") === col("o.h") && col("o.doc_id") < col("n.doc_id"),
          "left_semi")
        .select(col("doc_id")))
      .distinct()
    // near-dup loser: the incoming side of each pair; both-incoming pairs
    // drop the larger id (d2). Membership = semi/anti probes against the
    // increment's id list (bounded by the increment)
    val nearDup = pairs.select(col("d1"), col("d2"))
      .join(incIds.withColumnRenamed("doc_id", "d2")
        .withColumn("d2inc", lit(1)).hint("shuffle_hash"),
        Seq("d2"), "left")
      .select(when(col("d2inc").isNotNull, col("d2")).otherwise(col("d1"))
        .as("doc_id"))
      .distinct()
    incIds
      .join(exDup.withColumn("ex", lit(1)).hint("shuffle_hash"),
        Seq("doc_id"), "left")
      .join(nearDup.withColumn("nd", lit(1)).hint("shuffle_hash"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex").isNotNull, 1).otherwise(0).as("exact_dup"),
        when(col("nd").isNotNull, 1).otherwise(0).as("near_dup"))
      .withColumn("keep",
        when(col("exact_dup") + col("near_dup") > 0, 0).otherwise(1))
      .orderBy(col("doc_id"))
  }

  /** A shipped fixture index as a [[graft.Staging.staged]] artifact: the
    * [[writeDedupIndex]] state of `shipped` and, with `forest = Some((t,
    * maxDf))`, its [[writeClusterForest]] star forest v0 (the shipped
    * side of q94/q118 and ScaleSmoke's forest lap). A forest index keeps
    * its own dir per gate ([[variant]]), so an index with and one without
    * a forest never rebuild each other's. */
  private[graft] final case class ShippedIndex(shipped: DataFrame,
      forest: Option[(Double, Int)] = None, forestVerifyChunks: Int = 1) {
    /** Bump when shinglesOf / writeDedupIndex (or, for a forest,
      * writeClusterForest's pair stage and contraction) change. */
    def derivation: String =
      "shingle-index-v1" + forest.fold("")(_ => "+prefix-star-forest-v1")
    def variant: String =
      forest.fold("") { case (t, maxDf) => s"_t${t}_df$maxDf" }
    def build(path: String): Unit = {
      writeDedupIndex(shipped, path)
      forest.foreach { case (t, maxDf) => writeClusterForest(shipped, path,
        t, maxDf, verifyChunks = forestVerifyChunks) }
    }
  }

  /** Fixture form (q94): [[incrementalDedupAgainstIndex]] with the q87
    * split — the shipped 90% persisted once per fixture identity
    * ([[ShippedIndex]], staged like the streaming tier's replay chunks),
    * the mod-10 increment deduped against the files. Same oracle as q87:
    * the two operating modes must produce identical verdicts. */
  def indexDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxDf: Int = 100): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isInc = pmod(col("doc_id"), lit(10)) === 0
    val idx = ShippedIndex(docs.filter(!isInc))
    val path = Staging.staged(spark, dir, "mod10", idx.derivation,
      variant = idx.variant)(idx.build).path
    // pairsKey: q94 and q118 fold the SAME increment against the SAME
    // shipped content (their fixture indexes differ only in whether a
    // forest sits beside them), so the pair stage is one shared memo
    incrementalDedupAgainstIndex(spark, path, docs.filter(isInc),
      threshold, maxDf,
      pairsKey = Some(mod10PairsKey(dir, threshold, maxDf)))
  }

  // ---------------------------------------------------------------------
  // Durable cluster state (star forest) for the incremental pattern
  // ---------------------------------------------------------------------

  /** Persist the durable CLUSTER state next to a [[writeDedupIndex]] index:
    * the star FOREST of the corpus's near-dup pair graph — one
    * `(d1 = member, d2 = root)` edge per non-root clustered doc (singletons
    * are absent; roots are component min-ids). A forest preserves its
    * graph's connectivity, so a later increment can contract
    * (forest ∪ new edges) and get components identical to contracting
    * every pair ever emitted — the q117 streaming tier's identity
    * ([[graft.streaming.Continuous.streamedCrossModalDedup]]) applied to
    * the daily-batch tier: cluster membership is derived from pairs ONCE,
    * here, and never re-derived per increment. State size is ≤ one edge
    * per clustered doc (~16 bytes) — far under the pair list it stands in
    * for on clique-heavy corpora. */
  def writeClusterForest(docs: DataFrame, path: String,
      threshold: Double = 0.8, maxDf: Int = 100,
      verifyChunks: Int = 0): Unit = {
    // the seed's pair stage rides the PREFIX path in EVERY currency:
    // identical pairs to the classic stage (q119 ≡ q21, oracle-proven
    // row for row) and the only shape that completes the 100× decade on
    // one box — the classic stage's ~11B emissions ENOSPC'd there
    // (SCALE_r13 session G), re-measured as THIS seed's own failure when
    // the 100× forest pre-stage died through it (SCALE_r14 session G).
    // String/UUID-keyed corpora seed in FINGERPRINT currency — matching
    // the state writeDedupIndex persists for them, so the forest's edges
    // and the later increments' pair frames share one currency (the r15
    // fallback to the classic stage was the one seed shape that cannot
    // run decades, VERDICT r15 #2). The collision guard re-runs here:
    // the forest may be seeded later than the index.
    val pairs = ngramJaccardPrefixOfShingles(
      shinglesOf(docIdRoute(docs, "writeClusterForest").frame), threshold,
      maxDf, verifyChunks = verifyChunks)
    val labels = Curation.connectedComponentsStar(
      pairs.select(col("d1"), col("d2")))
    labels.filter(col("id") =!= col("label"))
      .select(col("id").as("d1"), col("label").as("d2"))
      .write.mode("overwrite").parquet(s"$path/forest/v0")
  }

  /** Highest committed forest version under `path/forest` (v0 = the
    * [[writeClusterForest]] seed; each [[incrementalClustersAgainstIndex]]
    * commit adds one). Visibility is gated on the increment's commit
    * MARKER, not the forest directory: a forest `vN` written by a crashed
    * commit (the first write of the sequence) is invisible until the
    * marker lands, so readers never serve a forest whose edges the index
    * can't re-derive. */
  private[graft] def latestForestVersion(path: String): Int = {
    val (fs, _) = hfs(path)
    val v0IsDir =
      try fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$path/forest/v0")).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    require(v0IsDir,
      s"no persisted cluster forest under $path/forest" +
        " — seed one with writeClusterForest")
    val committed = committedVersion(path)
    // pre-r13 (blind-append) indexes persisted forest v1..vN with the
    // increments appended into the BASE shingle/hash files and no inc/
    // markers — serving them as v0 would silently mis-cluster every
    // appended doc and a later commit would overwrite their edges. The
    // staged protocol can leave at most ONE forest version above the
    // committed trail (the torn-commit state, correctly served as
    // `committed`); two or more is detectably legacy state, refused.
    val fmax = versionDirs(path, "forest").max
    // a blind-append legacy index with exactly ONE commit shows the same
    // fmax = committed + 1 shape as a legitimate torn commit — the
    // protocol STAMP ([[writeDedupIndex]]) is what tells them apart:
    // every staged-protocol index is stamped at creation, so forest
    // versions above v0 on an UNSTAMPED index can only be legacy
    // appends, refused instead of served as v0 (ADVICE r13).
    require(fmax == 0 || fs.exists(
        new org.apache.hadoop.fs.Path(path, "_graft_protocol")),
      s"dedup index at $path carries forest versions up to v$fmax but no " +
        "protocol stamp — it predates the staged commit protocol (its " +
        "increments were blind-appended) and its forest edges cannot be " +
        "trusted. Rebuild it with writeDedupIndex + writeClusterForest")
    require(fmax <= committed + 1,
      s"dedup index at $path has forest versions up to v$fmax above its " +
        s"committed increment trail (v$committed) — the staged commit " +
        "protocol cannot produce this; it looks like a pre-r13 " +
        "blind-append index. Rebuild it with writeDedupIndex + " +
        "writeClusterForest")
    committed
  }

  /** Order-insensitive content digest of an increment — the idempotency
    * token [[incrementalClustersAgainstIndex]] writes into each commit
    * marker, so a retry of an ALREADY-COMMITTED increment (crash landed
    * after the marker, the caller never saw success) is detected and
    * re-served instead of double-appended. One small aggregate action. */
  private def incrementDigest(incoming: DataFrame): String = {
    // the per-row hashes sum in DECIMAL(38,0): a long accumulator
    // overflows under ANSI arithmetic after a few rows of full-range
    // xxhash64 values
    val r = incoming
      .agg(count(lit(1)), sum(xxhash64(col("doc_id"), md5(col("text")))
        .cast("decimal(38,0)")))
      .head()
    val h = if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString
    s"v2:${r.getLong(0)}:$h"
  }

  /** Relabel a `(orig_id, root)` membership frame by each component's
    * min ORIGINAL id: fingerprint-currency forest roots are arbitrary in
    * original-id order, and the cluster contract (q50/q118) is
    * representative = component min-id — in the corpus's OWN currency.
    * Deterministic across commits: membership is a pure function of the
    * edge union, so the relabel never flips except when components
    * merge (which legitimately revises verdicts, the q117 contract). */
  private def relabelByMinOriginal(memb: DataFrame): DataFrame = {
    val reps = memb.groupBy(col("root"))
      .agg(min(col("orig_id")).as("cluster"))
    memb.join(reps.hint("shuffle_hash"), Seq("root"))
      .select(col("orig_id").as("doc_id"), col("cluster"))
  }

  /** The cluster frame of a COMMITTED index state (forest version `v`):
    * every seen doc with its component representative — min original id
    * through the dictionary on dict-backed indexes (the forest's
    * fingerprint roots never surface), the forest's min-id roots (= min
    * original, same currency) on bigint ones. */
  private def assembleClusters(spark: SparkSession, indexPath: String,
      v: Int, dictOpt: Option[DataFrame]): DataFrame = {
    val forest = spark.read.parquet(s"$indexPath/forest/v$v")
      .withColumnRenamed("d1", "doc_id")
    dictOpt match {
      case None =>
        readIndexHashes(spark, indexPath).select(col("doc_id"))
          .join(forest.hint("shuffle_hash"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("d2"), col("doc_id")).as("cluster"))
      case Some(dict) =>
        relabelByMinOriginal(dict
          .join(forest.hint("shuffle_hash"), Seq("doc_id"), "left")
          .select(col("orig_id"),
            coalesce(col("d2"), col("doc_id")).as("root")))
    }
  }

  /** Incremental CLUSTER commit against a persisted index + star forest —
    * the q87/q94 daily-increment pattern upgraded from pairwise verdicts
    * to the cluster form real pipelines ship (q50's): one row per doc
    * seen so far with its cluster representative (component min-id) and
    * keep/drop. Candidate pairs are increment-vs-index only
    * ([[incrementalPairsOf]]: df gated over index ∪ increment, bounded
    * posting lists); membership comes from contracting
    * (persisted star forest ∪ new pairs) — never the accumulated pair
    * list, so per-commit contraction input stays near-forest-sized no
    * matter how many increments shipped before (the q117 forest identity
    * across time; differential-spec'd against the pair-state
    * re-derivation in DedupSimilaritySpec).
    *
    * With `commit = true` the call is a CRASH-SAFE state transition: the
    * new forest version and the increment's shingles/digests are staged
    * under version-keyed paths (`forest/v(N+1)`, `inc/v(N+1)/shingles`,
    * `inc/v(N+1)/hashes` — each an idempotent overwrite), and visibility
    * flips with ONE marker file (`inc/v(N+1)/_graft_commit`) written
    * last. A crash between any two writes leaves every reader
    * ([[latestForestVersion]], [[readIndexShingles]], the df gate of the
    * next increment) serving version N exactly; re-running the same
    * commit overwrites the staged files and completes — never a torn
    * index or a double-appended increment (the r12 blind-append form
    * could do both). The marker carries the increment's content digest
    * ([[incrementDigest]]), so the OTHER crash window — the caller dies
    * AFTER the marker landed and retries a commit that actually
    * succeeded — is detected and re-served from the committed state
    * instead of shipping the same increment twice. The digest is checked
    * against EVERY committed marker, not only the tail: an increment
    * matching a mid-trail marker is a replayed upstream delivery (not a
    * crash retry) and is refused loudly — appending it would inflate the
    * df gate and silently drift every later increment's verdicts. The
    * marker itself lands via an atomic same-directory rename
    * ([[writeMarkerAtomic]]), and the incoming frame is checkpointed
    * once at entry so the digest and both staged writes read one
    * materialization. `commit = false` is
    * the read-only fixture form (q118) — same output frame, no
    * mutation, idempotent across verify/bench laps.
    *
    * `compactEvery = N ≥ 1` bounds long-trail read cost: once ≥ N
    * committed increments sit above the last compaction, the commit
    * triggers [[compactDedupIndex]] (after its own marker — the commit
    * is durable first), so every reader's union stays ≤ N + 1 legs no
    * matter how many increments ever shipped. 0 (the default) never
    * compacts — the r12–r16 behavior. */
  def incrementalClustersAgainstIndex(spark: SparkSession, indexPath: String,
      incoming: DataFrame, threshold: Double = 0.8, maxDf: Int = 100,
      commit: Boolean = true, compactEvery: Int = 0,
      pairsKey: Option[StageMemo.Key] = None): DataFrame = {
    require(compactEvery >= 0,
      s"compactEvery must be >= 1 commits, or 0 to disable: $compactEvery")
    val v = latestForestVersion(indexPath)
    // in commit mode, ONE deterministic materialization of the incoming
    // frame: the digest, the replay scan and both staged writes below all
    // read this checkpoint. Without it the frame evaluates up to three
    // times, and a non-deterministic source (a fresh sample, a
    // re-evaluated clock) could stage inc files whose content differs
    // from the digest recorded in their own marker (ADVICE r13). The
    // read-only fixture form skips the checkpoint — nothing is written,
    // so determinism across sub-reads is not load-bearing there.
    val inc = if (!commit) incoming
      else org.apache.spark.sql.graft.Bridge.dropOriginConstraints(
        incoming.select(col("doc_id"), col("text")).localCheckpoint())
    val dig = if (commit) incrementDigest(inc) else ""
    // currency resolution sits AFTER the digest (the digest hashes the
    // ORIGINAL ids — a crash retry must reproduce it) and BEFORE the
    // replay scan, whose early return assembles committed state through
    // the dictionary. On dict-backed indexes this fingerprints the
    // increment and re-runs the collision guard — per commit, the
    // increment's ids were invisible to the seed's guard.
    val (incW, dictOpt) = resolveIncomingCurrency(spark, indexPath, inc,
      "incrementalClustersAgainstIndex")
    if (commit) {
      // scan EVERY committed marker, not only the tail: a replayed
      // upstream queue can re-ship increment N−1 after N committed, and
      // the latest-only check would blind-append it — the df gate then
      // shifts and every later increment's verdicts drift silently
      // (ADVICE r13 / r13 verdict defect #1). The markers are tiny and
      // already listed by committedVersion, so this is one directory
      // listing + v small reads.
      (1 to v).find(k => markerDigest(indexPath, k).contains(dig)) match {
        case Some(k) if k == v =>
          // the latest committed increment IS this one (a retry after a
          // crash that landed past the marker): serve the committed
          // state, write nothing. dictOpt's union dict equals the
          // committed dictionary here — the increment's rows are already
          // in it.
          return assembleClusters(spark, indexPath, v, dictOpt.map(_._1))
            .withColumn("keep",
              when(col("cluster") === col("doc_id"), 1).otherwise(0))
            .orderBy(col("doc_id"))
        case Some(k) =>
          throw new IllegalArgumentException(
            s"increment was already committed as v$k below the current " +
              s"tail v$v of the dedup index at $indexPath — re-shipping " +
              "it would double-append (df inflation, silent verdict " +
              "drift on every later increment). This is a replayed " +
              "upstream delivery, not a crash retry; drop it upstream")
        case None => ()
      }
    }
    val idxSh = readIndexShingles(spark, indexPath)
    val newSh = shinglesOf(incW)
    // materialize the pair probe once (checkpoint): the contraction and its
    // vertex frame both consume it, and in commit mode nothing downstream
    // may lazily re-read index files the appends below are about to grow
    // (the df gate would silently shift under the plan). On dict-backed
    // indexes this frame — like the forest it contracts into — is
    // fingerprint currency throughout; original ids surface only in the
    // assembled output.
    // in read-only mode with a pairsKey, the memoized shared stage (its
    // persist) provides the single materialization; otherwise the
    // checkpoint does
    val pairs = (if (commit) None else pairsKey) match {
      case Some(_) =>
        incPairsVsIndex(spark, indexPath, idxSh, newSh, threshold, maxDf,
          pairsKey).select(col("d1"), col("d2"))
      case None =>
        org.apache.spark.sql.graft.Bridge.dropOriginConstraints(
          incrementalPairsOf(idxSh.unionByName(newSh), newSh, threshold,
            maxDf)
            .select(col("d1"), col("d2"))
            .localCheckpoint())
    }
    val prev = spark.read.parquet(s"$indexPath/forest/v$v")
    val labels = Curation.connectedComponentsStar(
      prev.unionByName(pairs).distinct())
    val assembled =
      if (commit) {
        // the crash-safe write sequence (scaladoc above): the staged
        // OVERWRITES under version-keyed paths (plus the increment's
        // dictionary rows on dict-backed indexes), then the single
        // marker that makes v+1 visible. Any prefix of this sequence is
        // invisible to readers and harmlessly overwritten by a re-run.
        val incDir = s"$indexPath/inc/v${v + 1}"
        labels.filter(col("id") =!= col("label"))
          .select(col("id").as("d1"), col("label").as("d2"))
          .write.mode("overwrite").parquet(s"$indexPath/forest/v${v + 1}")
        newSh.write.mode("overwrite").parquet(s"$incDir/shingles")
        incW.select(col("doc_id"), md5(col("text")).as("h"))
          .write.mode("overwrite").parquet(s"$incDir/hashes")
        dictOpt.foreach { case (_, incDict) =>
          incDict.write.mode("overwrite").parquet(s"$incDir/dict") }
        writeMarkerAtomic(indexPath, v + 1, dig)
        // THRESHOLD-TRIGGERED COMPACTION (VERDICT r16 #1), sitting AFTER
        // the marker (the commit is durable either way — a crash inside
        // the compaction leaves a torn, invisible generation) and BEFORE
        // the assembled frame is built, so the returned plan reads the
        // post-compaction layout and can never lazily touch increment
        // parts the GC below it just dropped.
        if (compactEvery > 0 && v + 1 -
            latestCompaction(indexPath).map(_._2).getOrElse(0) >=
            compactEvery)
          compactDedupIndex(spark, indexPath)
        // assemble from the committed files: hashes/dict now carry every
        // seen doc id, the forest file is this commit's contraction. The
        // dictionary is RE-READ from the committed state rather than
        // reusing the lazy pre-commit union (identical content — the
        // commit staged the increment's dict rows), so its read plan
        // resolves against the post-compaction layout instead of
        // increment parts the GC above may have just dropped.
        assembleClusters(spark, indexPath, v + 1,
          dictOpt.map(_ => readIndexDict(spark, indexPath)))
      } else {
        val labeled = labels.withColumnRenamed("id", "doc_id")
        dictOpt match {
          case None =>
            readIndexHashes(spark, indexPath).select(col("doc_id"))
              .unionByName(incW.select(col("doc_id")))
              .join(labeled.hint("shuffle_hash"), Seq("doc_id"), "left")
              .select(col("doc_id"),
                coalesce(col("label"), col("doc_id")).as("cluster"))
          case Some((dictU, _)) =>
            // dictU = committed dictionary ∪ increment — exactly the
            // read-only world's seen-doc set, in both currencies
            relabelByMinOriginal(dictU
              .join(labeled.hint("shuffle_hash"), Seq("doc_id"), "left")
              .select(col("orig_id"),
                coalesce(col("label"), col("doc_id")).as("root")))
        }
      }
    assembled
      .withColumn("keep",
        when(col("cluster") === col("doc_id"), 1).otherwise(0))
      .orderBy(col("doc_id"))
  }

  /** Fixture form (q118): [[incrementalClustersAgainstIndex]] read-only
    * over the q87 split — the shipped 90%'s index AND cluster star forest
    * persisted once per fixture dir, the mod-10 increment folded in
    * (`commit = false`: idempotent across laps). The oracle recomputes the
    * exact edge generations the state path performs — shipped-internal
    * pairs df-gated on the shipped corpus alone (forest v0's world) plus
    * increment-involving pairs df-gated on index ∪ increment (the q87
    * gate) — and takes connected components over their union. */
  def indexClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxDf: Int = 100): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isInc = pmod(col("doc_id"), lit(10)) === 0
    val idx = ShippedIndex(docs.filter(!isInc), Some((threshold, maxDf)))
    val path = Staging.staged(spark, dir, "mod10", idx.derivation,
      variant = idx.variant)(idx.build).path
    incrementalClustersAgainstIndex(spark, path, docs.filter(isInc),
      threshold, maxDf, commit = false,
      pairsKey = Some(mod10PairsKey(dir, threshold, maxDf)))
  }

  /** q94's and q118's shared pair-stage key. */
  private def mod10PairsKey(dir: String, threshold: Double, maxDf: Int) =
    Stages.incpairs(dir, "mod10", threshold, maxDf)

  /** Fixture form (q87): the increment is every 10th document
    * (doc_id ≡ 0 mod 10, ~10% of the corpus — a daily batch against the
    * shipped 90%). Pair source: the session's memoized all-pairs stage
    * (q21's) — DedupSimilaritySpec proves the incremental candidate path
    * emits exactly the batch pairs involving an incoming doc, so a
    * session already running the shingle family gets incremental verdicts
    * for one cheap filter instead of a second candidate join. The
    * PRODUCTION incremental path — only the increment's shingles are new,
    * no all-pairs stage exists — is [[incrementalDedupOf]], whose
    * fixed-increment cost ScaleSmoke measures separately. */
  def incrementalDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxDf: Int = 100): DataFrame =
    incrementalVerdicts(Tables.documents(spark, dir),
      ngramPairs(spark, dir, threshold, maxDf),
      pmod(col("doc_id"), lit(10)) === 0)

  private val K = 8 // minhash signature length
  private def sigCol(i: Int): Column =
    min(md5(concat(lit(s"$i:"), col("sx")))).as(s"s$i")

  /** Per-document MinHash signatures — k independent md5-keyed minima
    * over the shingle set — of an arbitrary `(doc_id, s)` shingle frame:
    * per-doc state only (no corpus-relative gate), which is what lets the
    * streaming index dedup ([[graft.streaming.Continuous]], q99) sign each
    * micro-batch independently of everything already ingested.
    *
    * The signature hash is the ONE place that consumes the shingle key's
    * VALUE (md5 of "i:" + key), so the exact 16-hex form is reconstructed
    * per row BEFORE the per-doc partial aggregation
    * (`lower(lpad(hex(s), 16, '0'))` inverts the big-endian fold
    * bit-for-bit; spec-pinned) — signatures, band buckets, and every
    * estimate built on them match the oracle's `md5('i:' || s)` over the
    * hex CTE unchanged. The map-side partial agg collapses to K minima
    * per doc before the shuffle, so the reconstruction never widens an
    * exchange. A library frame whose `s` is already a string signs as-is
    * (the non-long branch). */
  private[graft] def signaturesOf(sh: DataFrame): DataFrame = {
    val sx = sh.schema("s").dataType match {
      case org.apache.spark.sql.types.LongType =>
        lower(lpad(hex(col("s")), 16, "0"))
      case _ => col("s")
    }
    sh.withColumn("sx", sx)
      .groupBy(col("doc_id"))
      .agg(sigCol(0), (1 until K).map(sigCol): _*)
  }

  /** Memoized unordered signature stage (used 3× inside [[minhashLsh]],
    * and by [[Curation.bloomDedup]]'s incremental band-membership check). */
  private[graft] def signatures(spark: SparkSession, dir: String): DataFrame =
    StageMemo(spark, Stages.minhash(dir))(signaturesOf(shingles(spark, dir)))

  /** MinHash+LSH near-dup candidates: 4 bands × 2 rows; docs sharing any
    * band bucket become candidates; estimated Jaccard = matching signature
    * fraction. The band join only ever touches colliding buckets — the
    * scale path for near-dedup at 100 TB. */
  /** LSH band buckets of a signature frame: (doc_id, band, bh) — K/2 bands
    * of 2 signature rows each, bucket key = md5 of the concatenated rows.
    * Shared by [[minhashLsh]] (all-pairs candidates) and
    * [[Curation.bloomDedup]] (incremental membership vs a prior corpus). */
  private[graft] def bandBuckets(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array(
      (0 until K / 2).map(b =>
        struct(lit(b).as("band"),
          md5(concat(col(s"s${2 * b}"), col(s"s${2 * b + 1}"))).as("bh"))): _*
    )).as("e")).select(col("doc_id"), col("e.band"), col("e.bh"))

  /** Memoized band-bucket stage over the fixture corpus — shared by
    * [[minhashLsh]] (q22) and [[Curation.bloomDedup]] (q49), so one
    * verify/bench round runs the signature explode+md5 pass once. */
  private[graft] def bands(spark: SparkSession, dir: String): DataFrame =
    StageMemo(spark, Stages.bands(dir))(bandBuckets(signatures(spark, dir)))

  def minhashLsh(spark: SparkSession, dir: String,
      minEstJaccard: Double = 0.5): DataFrame = {
    import spark.implicits._
    val sig = signatures(spark, dir)
    val bands = this.bands(spark, dir)
    val cand = bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
    val matches = (0 until K)
      .map(i => when(col(s"sa.s$i") === col(s"sb.s$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sig.as("sa"), $"d1" === $"sa.doc_id")
      .join(sig.as("sb"), $"d2" === $"sb.doc_id")
      .select($"d1", $"d2", (matches / lit(K.toDouble)).as("est_jaccard"))
      .filter($"est_jaccard" >= minEstJaccard)
      .orderBy($"d1", $"d2")
  }

  /** MinHash estimation-accuracy audit (q108) — every banded candidate
    * pair with BOTH its 8-permutation signature estimate and the true
    * shingle Jaccard, plus the absolute error: the sketch-quality evidence
    * a pipeline owner reads before trusting q22's estimates to gate a
    * 100 TB dedup (if the error at the chosen threshold is too wide, raise
    * K or verify candidates exactly like q56 does). Unlike q22, no
    * estimate floor is applied — the full error profile including the
    * collision-only tail is the point.
    *
    * Scale shape: candidates come from the memoized band stage (bounded by
    * bucket occupancy, never all-pairs); the exact side intersects
    * shingles ONLY for candidate docs (two shuffled joins bounded by
    * candidate count × doc shingles, the q84-verify pattern); corpus-sized
    * sides are pinned shuffle_hash throughout. */
  def minhashAccuracy(spark: SparkSession, dir: String): DataFrame =
    minhashAccuracyOf(spark, signatures(spark, dir), bands(spark, dir),
      shingles(spark, dir))

  /** SAMPLED MinHash accuracy audit (q124) — [[minhashAccuracy]] over the
    * md5-bucket DOC sample (the q112/q123 idiom), the 100-TB contract for
    * the audit: the full audit reads every banded candidate pair plus two
    * shingle joins per pair, and candidate volume is the quadratic term.
    * Sampling documents shrinks it by f² while leaving every surviving
    * row EXACT — a doc's signature, bands, and shingle set depend on that
    * doc alone, so the sampled audit's rows are bit-identical to the full
    * audit's rows for pairs whose BOTH endpoints survive the sample
    * (spec-pinned). A pair survives at p = f² independent of its
    * similarity, so the sample is an unbiased subsample of the error
    * PROFILE — the thing the audit exists to show; profile statistics
    * read off it carry ~1/√n_pairs relative standard error, and rows are
    * deliberately NOT scaled (each is exact per-pair evidence, not a
    * count). */
  def minhashAccuracySampled(spark: SparkSession, dir: String,
      sampleFraction: Double = 0.5): DataFrame = {
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val p = docSamplePred(math.round(sampleFraction * 1e6))
    minhashAccuracyOf(spark, signatures(spark, dir).filter(p),
      bands(spark, dir).filter(p), shingles(spark, dir).filter(p))
  }

  private def minhashAccuracyOf(spark: SparkSession, sig: DataFrame,
      bandsF: DataFrame, sh: DataFrame): DataFrame = {
    import spark.implicits._
    val cand = bandsF.as("a").join(bandsF.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
    val docLen = sh.groupBy($"doc_id").agg(count(lit(1)).as("c"))
    val inter = cand
      .join(sh.as("x").hint("shuffle_hash"), $"d1" === $"x.doc_id")
      .join(sh.as("y").hint("shuffle_hash"),
        $"d2" === $"y.doc_id" && $"x.s" === $"y.s")
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("i"))
    val matches = (0 until K)
      .map(i => when(col(s"sa.s$i") === col(s"sb.s$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sig.as("sa"), $"d1" === $"sa.doc_id")
      .join(sig.as("sb"), $"d2" === $"sb.doc_id")
      .select($"d1", $"d2", (matches / lit(K.toDouble)).as("est_jaccard"))
      .join(inter.hint("shuffle_hash"), Seq("d1", "d2"), "left")
      .join(docLen.as("ca").hint("shuffle_hash"), $"d1" === $"ca.doc_id")
      .join(docLen.as("cb").hint("shuffle_hash"), $"d2" === $"cb.doc_id")
      .select($"d1", $"d2", $"est_jaccard",
        round(coalesce($"i", lit(0L)) * lit(1.0) /
          ($"ca.c" + $"cb.c" - coalesce($"i", lit(0L))), 6).as("jaccard"))
      .withColumn("abs_err", round(abs($"est_jaccard" - $"jaccard"), 6))
      .orderBy($"d1", $"d2")
  }

  /** 60-bit SimHash fingerprint per document: md5 of each distinct token
    * gives a 60-bit hash; fingerprint bit j is the sign of the per-bit vote
    * sum. One shuffle-free pass via the native [[graft.functions.Simhash]]
    * expression (the relational formulation exploded 60× per token — same
    * bits, 60× the shuffle). */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    fingerprints(spark, dir).orderBy(col("doc_id"))

  /** Memoized unordered fingerprint stage (self-joined in
    * [[simhashPairs]]). */
  private def fingerprints(spark: SparkSession, dir: String): DataFrame =
    StageMemo(spark, Stages.simhash(dir)) {
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.simhash(tokens(col("text")))
            .as("simhash"))
    }

  /** SimHash near-dup pairs with pigeonhole band blocking: 4 bands of 15
    * bits — any pair at hamming distance ≤ 3 must agree on ≥ 1 band, so the
    * blocked join is exact for that threshold while never forming the full
    * cross product. Output is inherently quadratic in the size of a
    * duplicate CLUSTER (k identical docs → k²/2 pairs); run [[exact]] dedup
    * first in a production pipeline so clusters collapse to representatives
    * before near-dup pairing. */
  def simhashPairs(spark: SparkSession, dir: String,
      maxDist: Int = 3): DataFrame =
    bandedHammingPairs(fingerprints(spark, dir), "simhash", maxDist)

  /** Banded Hamming near-dup pairs over ANY 60-bit fingerprint frame
    * `(doc_id, <fpCol>)` — the pigeonhole machinery shared by the token
    * simhash (q24) and the media blockhash (q84): 4 bands of 15 bits, so
    * any pair at distance ≤ 3 must agree on ≥ 1 band and the blocked join
    * is EXACT for that threshold while never forming the cross product.
    * `maxDist` beyond 3 would silently under-report (a distance-4 pair can
    * differ in all four bands) — rejected. */
  private[graft] def bandedHammingPairs(fp: DataFrame, fpCol: String,
      maxDist: Int): DataFrame = {
    val spark = fp.sparkSession
    import spark.implicits._
    require(maxDist >= 0 && maxDist <= 3,
      s"4x15 banding is exact only for maxDist <= 3, got $maxDist")
    val bands = fp.select(col("doc_id"), col(fpCol), explode(array(
      (0 until 4).map(b => struct(lit(b).as("band"),
        expr(s"($fpCol div cast(pow(2, ${15 * b}) as bigint)) % 32768")
          .as("bh"))): _*
    )).as("e")).select(col("doc_id"), col(fpCol), $"e.band", $"e.bh")
    bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        expr(s"bit_count(a.$fpCol ^ b.$fpCol)").as("dist"))
      .distinct()
      .filter($"dist" <= maxDist)
      .orderBy($"d1", $"d2")
  }

  /** Passage-level exact dedup — boilerplate detection BELOW document
    * granularity: chop every document into non-overlapping `chunkTokens`-
    * token passages ([[TextAnalysis.chunkDocuments]] with overlap 0),
    * digest each passage, and report every digest occurring more than once
    * with its spread (occurrences, distinct documents, doc-id range).
    * Catches the license headers / navigation chrome / template text that
    * document-level dedup ([[exact]]) misses because the surrounding text
    * differs.
    *
    * Scale shape: per-row explode (no shuffle) → ONE partial-agg shuffle
    * on the 16-byte digest → HAVING count > 1. Per-group state is four
    * counters; the duplicated-passage result is output-bounded the same
    * way q20 is. */
  def passageDedupOf(docs: DataFrame, chunkTokens: Int = 30): DataFrame =
    TextAnalysis.chunkDocuments(docs, chunkTokens, overlap = 0)
      .select(col("doc_id"), md5(col("chunk_text")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n_occurrences") > 1)
      .orderBy(col("fp"))

  /** Fixture form (q63). */
  def passageDedup(spark: SparkSession, dir: String): DataFrame =
    passageDedupOf(Tables.documents(spark, dir))

  /** Cross-source duplication matrix — which sources copy from which: for
    * every source pair (s1 < s2), the number of distinct
    * [[passageDedupOf]]-style passages appearing in both. The matrix is
    * what a data-recipe owner reads before setting [[Curation.epochMixOf]]
    * weights: two sources sharing half their passages should not both get
    * full weight.
    *
    * Scale shape: the per-passage source set is bounded by the NUMBER OF
    * SOURCES — a recipe-level constant (dozens), not a corpus dimension —
    * so `collect_set(source)` per digest is O(sources) state and the pair
    * explode is O(sources²) per duplicated digest, never O(docs). One
    * distinct + one groupBy shuffle, both keyed on the 16-byte digest;
    * no digest self-join, so a boilerplate passage in every source costs
    * sources² rows once, not a join fan-out. */
  def sourceOverlapOf(docs: DataFrame, chunkTokens: Int = 30): DataFrame =
    TextAnalysis.chunkDocuments(docs, chunkTokens, overlap = 0,
        carry = Seq("source"))
      .select(col("source"), md5(col("chunk_text")).as("fp"))
      .distinct()
      .groupBy(col("fp"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) > 1)
      // ss is sorted and distinct, so s1 < s2 picks each unordered pair once
      .select(col("ss"), explode(col("ss")).as("s1"))
      .select(col("s1"), explode(col("ss")).as("s2"))
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("shared_passages"))
      .orderBy(col("s1"), col("s2"))

  /** Fixture form (q65). */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(Tables.documents(spark, dir))

  /** Per-document shingle NOVELTY (q91) — the data-valuation signal next
    * to dedup's keep/drop: for each document, how many of its distinct
    * 3-shingles appear in NO smaller-id document (`first_doc = doc_id`
    * under the global min-id first-seen rule), and the novel fraction.
    * A near-dup has novelty ≈ 0 without ever being paired; boilerplate-
    * heavy docs score low even when no single document duplicates them —
    * the signal pair-based dedup structurally misses.
    *
    * Scale shape: rides the memoized shingle stage; one groupBy(s) min
    * aggregate (partial map-side), one shingle-keyed join with EXACTLY one
    * first-seen row per (doc, s) — no fan-out — and one per-doc aggregate.
    * All shuffles are keyed on the 16-hex digest or doc_id; no pair join
    * anywhere, so a 100× corpus costs 100× rows, never pairs. */
  def shingleNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir)
    val firstSeen = sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    val per = sh
      .join(firstSeen.hint("shuffle_hash"), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") === col("doc_id"), 1).otherwise(0))
          .cast("bigint").as("n_nov"))
    Tables.documents(spark, dir).select(col("doc_id"))
      // both sides are corpus-sized — pinned shuffled like q81's doc joins
      .join(per.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_shingles"),
        coalesce(col("n_nov"), lit(0L)).as("n_novel"))
      .withColumn("novelty", when(col("n_shingles") > 0,
        round(col("n_novel") * lit(1.0) / col("n_shingles"), 6)))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // Exact-substring duplication audit (sliding window)
  // ---------------------------------------------------------------------

  /** Exact-substring duplication audit (q77) — the sliding-window form of
    * passage dedup (the ExactSubstr recipe of Lee et al. 2021,
    * arXiv:2107.06499): every `n`-token window is fingerprinted, windows
    * occurring in ≥ `minDocs` DISTINCT documents mark their start
    * positions, and each document reports how much of itself is covered by
    * duplicated spans. [[passageDedupOf]]'s fixed chunk grid (q63) misses a
    * duplicated passage that straddles a chunk boundary; the sliding
    * window catches it at every offset. Coverage is the interval UNION of
    * the hit windows (overlapping hits are not double-counted): with hit
    * starts sorted per document, each start contributes
    * `min(next_start − start, n)` tokens — the standard sorted-interval
    * sweep as one `lead` window.
    *
    * Determinism: fingerprints are md5 prefixes of the joined token
    * window, counts and the ppm ratio are integer arithmetic (`div`) —
    * bit-equal on any engine. Scale shape: the gram frame is ≤ one row per
    * corpus token (linear); the df count and the semi-join back are
    * shuffles keyed on the 8-byte fingerprint; the coverage window partitions
    * by doc_id, bounded by document length — no corpus-sized partition,
    * no driver state. A boilerplate window in EVERY document costs one
    * df row and |docs| hit rows — fan-out bounded by the hit list itself
    * (the join is a semi-join, never a pair join). */
  def duplicatedSpansOf(docs: DataFrame, n: Int = 8,
      minDocs: Int = 2): DataFrame =
    duplicatedSpansFrom(spanGramsOf(docs, n), docs, n, minDocs)

  /** (doc_id, pos, g) token-window fingerprints — the expensive stage of
    * the span audit (one md5 per window position). Both the df gate and
    * the hit probe consume it, so the fixture form memoizes it per corpus
    * ([[graft.StageMemo]]) the way q21 memoizes its shingle stage.
    *
    * `g` is an 8-byte bigint since r13 (the native
    * [[graft.functions.SpanGramLongs]] kernel — the first 8 md5 digest
    * bytes folded big-endian, bijective with the prior 16-hex STRING
    * form, spec-pinned): the gram frame feeds a df-gate groupBy and a
    * semi-join probe keyed on `g`, the same fattest-shuffle shape whose
    * width the 3-shingle family halved in r12. The fingerprint never
    * reaches any query output (q77 reports per-doc coverage), so the
    * oracle SQL is untouched. A document under `n` tokens (or with NULL
    * text) yields no windows — the kernel returns an empty array (or
    * null), which explode drops, exactly like the prior guarded-sequence
    * SQL. */
  private[graft] def spanGramsOf(docs: DataFrame, n: Int): DataFrame =
    docs
      .repartition(docs.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.spanGramLongs(col("t"), n))
          .as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.g").as("g"))

  private[graft] def duplicatedSpansFrom(grams: DataFrame, docs: DataFrame,
      n: Int, minDocs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2 && minDocs >= 2,
      s"need window n >= 2 and minDocs >= 2, got $n/$minDocs")
    // dup fingerprints: windows seen in >= minDocs distinct docs. The list
    // is O(distinct duplicated windows) — broadcast dies at corpus scale,
    // so pin the semi-join to shuffled hash like ngram's keep-list.
    val dup = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("g"))
      .hint("shuffle_hash")
    val hits = grams.join(dup, Seq("g"), "left_semi")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cover = hits
      .withColumn("nxt", lead(col("pos"), 1).over(w))
      .select(col("doc_id"),
        least(coalesce(col("nxt") - col("pos"), lit(n)), lit(n)).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_spans"), sum(col("c")).cast("bigint").as("dup_tokens"))
    // per-doc token counts straight off the scan (null text → 0 tokens:
    // split of NULL is NULL, size of NULL is NULL) — NOT through the gram
    // stage's repartition, so this side is one pushdown projection and the
    // gram frame is consumed only by the df gate and the hit probe
    val counts = docs.select(col("doc_id"),
      coalesce(size(tokens(col("text"))).cast("bigint"), lit(0L))
        .as("n_tokens"))
    // cover is one row per document WITH duplicated content — corpus-sized
    // in the worst case, so the doc join is pinned shuffled-hash like the
    // fingerprint gate (fixture-scale stats would happily broadcast it;
    // a 100 TB corpus would not fit)
    counts
      .join(cover.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_ppm",
        when(col("n_tokens") > 0,
          expr("dup_tokens * 1000000 div n_tokens")).otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  /** Fixture form (q77): the gram stage rides the session memo, so the df
    * gate and the hit probe pay its scan/repartition/md5 work once per
    * corpus instead of once per consumer. */
  def duplicatedSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    duplicatedSpansFrom(
      StageMemo(spark, Stages.dupspan_grams(dir, 8))(spanGramsOf(docs, 8)),
      docs, n = 8, minDocs = 2)
  }

  // ---------------------------------------------------------------------
  // Shingle containment (asymmetric near-dup)
  // ---------------------------------------------------------------------

  /** Shingle-containment audit (q78) — ASYMMETRIC near-dup detection:
    * containment C(A→B) = |A ∩ B| / |A| over 3-shingle sets. A short
    * document quoted verbatim inside a much longer one has containment ≈ 1
    * but Jaccard ≈ |A|/|B| — [[ngramJaccard]] (q21) structurally cannot
    * see it, and quote-inclusion is a dominant dup mode in web corpora.
    * One row per ordered (contained, container) pair at
    * `cont_ppm ≥ thresholdPpm`, with the intersection and set sizes kept
    * for audit.
    *
    * Shares the SAME memoized shingle stage and df-gated inverted-index
    * candidate machinery as q21 (candidates are generated once per
    * UNORDERED pair, then both orientations are scored), so a session
    * running both pays the shingle scan/shuffle once. All arithmetic is
    * integer (`div` ppm) — oracle bit-equal. Scale: identical candidate
    * bound to q21 (df-capped posting lists), plus one union of two
    * orientation projections. */
  def containmentOf(sh: DataFrame, thresholdPpm: Long = 500000L,
      maxDf: Int = 100): DataFrame =
    containmentOfInter(interCountsOfShingles(sh, maxDf), thresholdPpm)

  private def containmentOfInter(inter: DataFrame,
      thresholdPpm: Long): DataFrame = {
    require(thresholdPpm > 0 && thresholdPpm <= 1000000L,
      s"thresholdPpm must be in (0, 1e6], got $thresholdPpm")
    val fwd = inter.select(col("d1").as("contained"), col("d2").as("container"),
      col("i").as("n_shared"), col("c1").as("n_shingles"))
    val rev = inter.select(col("d2").as("contained"), col("d1").as("container"),
      col("i").as("n_shared"), col("c2").as("n_shingles"))
    fwd.union(rev)
      .withColumn("cont_ppm", expr("n_shared * 1000000 div n_shingles"))
      .filter(col("cont_ppm") >= thresholdPpm)
      .orderBy(col("contained"), col("container"))
  }

  /** The classic stage's exact integer containment score over a verified
    * `(d1, d2, i, c1, c2)` frame — floor ppm ≥ threshold ⇔ i ≥ needed,
    * so the verify kernel's early-exit partials never pass. Shared by
    * the exact prefix path (q121/q122) and the sketch-gated path
    * (q126). */
  private def containmentScoreOf(v: DataFrame,
      thresholdPpm: Long): DataFrame =
    v.select(col("d1").as("contained"), col("d2").as("container"),
        col("i").as("n_shared"), col("c1").as("n_shingles"))
      .withColumn("cont_ppm",
        expr("n_shared * 1000000 div n_shingles"))
      .filter(col("cont_ppm") >= thresholdPpm)

  /** SKETCH-GATED shingle containment (q126) — the LOW-THRESHOLD scale
    * path the exact prefix path cannot offer. At containment's default
    * t′ = 0.5 the exact one-sided prefix is HALF of every document, and
    * SCALE_r14 session C priced the consequence: 580M candidates for
    * 4.8M true pairs at 30× — no pair-enumerating one-box design fits
    * the 100× decade, because the filters are structurally powerless
    * (one early rare shared shingle satisfies ub ≥ c1/2).
    *
    * The sketch caps the contained side's candidate-starting set at its
    * `k` BOTTOM-BY-HASH gated shingles instead (bottom-k sketch in the
    * Broder/Cohen lineage, deterministic md5 order so the DuckDB oracle
    * replays it bit-for-bit): a uniform random sample of the doc's
    * gated shingles, independent of what any container holds. A
    * qualifying pair (containment ≥ t′) is enumerated unless ALL k
    * sampled shingles fall in the non-shared fraction — miss
    * probability ≤ (1 − t′)^k per pair (t′ = 0.5, k = 8 → ≤ 0.4%;
    * k = 16 → ≤ 1.5·10⁻⁵), and every enumerated candidate is verified
    * EXACTLY through the shared engine, so precision is 1 and recall
    * ≥ 1 − (1−t′)^k. k ≥ the max gated doc length degenerates to the
    * full co-occurrence candidate set — the spec pins that identity.
    * THE trade vs q121: candidate volume is k·df per posting list —
    * independent of the threshold and of doc length — instead of
    * |prefix|·df with a half-doc prefix; the false-negative budget is
    * stated, bounded, and chosen by k. k defaults to [[AutoK]]: sized
    * from the threshold and `recallTargetPpm` (the stated per-pair
    * recall floor) by [[autoKFor]] — 8 at the default 0.995 × t′ = 0.5.
    *
    * Scale shape: one window exchange ranks each doc's gated shingles
    * by hash (the rankedOfGated pattern), the bottom-k rows join the
    * full gated index on the shingle key (posting lists df-capped), one
    * distinct-pair shuffle, then the shared broadcast/merge verify with
    * `needed = ⌈t′ppm·c1/1e6⌉`. */
  /** `k` sentinel for [[containmentSketch]] (its DEFAULT since r16):
    * size the bottom-k sketch from the threshold and a stated per-pair
    * recall floor instead of a hand constant (the [[Similarity.AutoBits]]
    * pattern — explicit k still pins it verbatim). */
  val AutoK: Int = 0

  /** `k` sentinel for [[containmentSketch]]: size the sketch from a
    * MEASURED sampled recall ladder instead of the analytic per-pair
    * floor (VERDICT r16 #3 — the measured 30× ladder showed the floor
    * loose by orders of magnitude in miss rate: k=2's stated 75% floor
    * against an observed 0.99988, so [[AutoK]]'s k=8 overpays 4× in
    * candidate volume on corpora whose true containment overlaps sit
    * far above t′, which is most of them). The ladder
    * ([[containmentSketchCalibration]]) hash-samples contained docs at
    * `measureFraction` (the q123 md5-bucket idiom), computes their TRUE
    * qualifying pairs exactly (the k = ∞ candidate set restricted to
    * the sample, verified through the shared engine), reads each pair's
    * minimal catching rank, and picks the smallest k whose Wilson lower
    * confidence bound (z = 2, ~97.7% one-sided) on recall clears the
    * target — never above the analytic k, which remains the worst case
    * the measurement refines. Honest caveats: the bound is binomial
    * over sampled PAIRS while the sample clusters by contained doc
    * (pairs sharing a contained doc survive together), and a sample too
    * small to clear the bound at any k falls back to the analytic
    * width. */
  val MeasuredK: Int = -1

  /** The recall-sized sketch width: the smallest k with
    * 1 − (1−t′)^k ≥ target, i.e. k = ⌈ln(1−target) / ln(1−t′)⌉.
    * Unlike [[Similarity.autoBitsFor]] this pays ZERO pricing actions —
    * the sketch's miss bound is PER-PAIR (a qualifying pair is missed
    * only when all k uniformly-sampled shingles fall in its non-shared
    * fraction, probability ≤ (1−t′)^k regardless of corpus size or doc
    * length), so no corpus count enters the sizing; the corpus-size
    * lever is the exchange budget the pricing ladder below already
    * holds. At the default target 0.995 × t′ = 0.5 this resolves to
    * k = 8 — the hand constant every r15 measurement ran, so q126 is
    * unchanged — and the measured 30× ladder (SCALE_r16) anchors what
    * the floor buys: k=8 found the FULL true pair set (recall 1.0 vs
    * its ≥ 0.996 floor) because real containment overlaps sit far above
    * t′. t′ = 1 needs k = 1 (any sampled shingle of a fully-contained
    * doc is shared). */
  private[graft] def autoKFor(thresholdPpm: Long,
      recallTargetPpm: Long): Int = {
    require(recallTargetPpm >= 1 && recallTargetPpm < 1000000L,
      "recallTargetPpm must be in [1, 1e6) — a 1.0 floor needs the " +
        s"exact path (containmentPrefix), got $recallTargetPpm")
    val missPpm = 1000000L - thresholdPpm
    if (missPpm == 0L) 1
    else {
      val target = recallTargetPpm / 1e6
      def recallAt(n: Int) = 1.0 - math.pow(missPpm / 1e6, n)
      // the log ratio's fp noise can land a few ulps on EITHER side of
      // an exact integer boundary ((1−t′)^(k−1) = 1−target): overshoot
      // returns k+1, undershoot returns a k whose stated floor is
      // silently violated. Correct in both directions — step down while
      // the floor still holds at k−1, then step up until it holds at k
      // (ADVICE r16: the r16 form only stepped down) — so the returned
      // k is the MINIMAL width clearing the stated floor regardless of
      // fp rounding direction.
      var k = math.max(1, math.ceil(
        math.log(1.0 - target) / math.log(missPpm / 1e6)).toInt)
      while (k > 1 && recallAt(k - 1) >= target) k -= 1
      while (recallAt(k) < target) k += 1
      k
    }
  }

  /** The measured recall ladder behind [[MeasuredK]] (q128): one row per
    * candidate sketch width k = 1..kMax. Ground truth is the sampled
    * contained docs' TRUE qualifying pair set — the k = ∞ candidate set
    * restricted to the md5-bucket doc sample (complete: a qualifying
    * pair shares ≥ 1 gated shingle), verified exactly through the
    * shared engine — so per pair the smallest catching rank `rmin` (the
    * minimal hash rank among the contained side's shared gated
    * shingles) decides the WHOLE ladder in one pass: a bottom-k sketch
    * enumerates the pair iff rmin ≤ k. Every rung reports the sampled
    * pair count, the caught count, recall, and its Wilson lower
    * confidence bound at z = 2; `chosen` marks the minimal k whose
    * bound clears the target (false everywhere when none does — the
    * caller falls back to the analytic width). Deterministic end to end
    * (md5 sample, md5 rank order), so DuckDB replays it bit-for-bit.
    * Probe cost rides `sampleFraction` × the EXACT path's candidate
    * volume — size f so that cost fits (the measured saving repays it
    * on every later run of the sized sketch). */
  private def sketchLadderOf(spark: SparkSession, fr: PairFrames,
      mode: String, thresholdPpm: Long, sampleFraction: Double, kMax: Int,
      recallTargetPpm: Long): DataFrame = {
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val sppm = math.round(sampleFraction * 1e6)
    val ranked = fr.ranked
    val truePairs = verifyPrefixCandidates(
      sketchCandOf(ranked, fr.docLen, thresholdPpm, Int.MaxValue,
        docSamplePred(sppm)),
      fr.arrays, containNeededExpr(thresholdPpm), mode, 1,
      "containmentSketch: recall ladder")(
      containmentScoreOf(_, thresholdPpm))
    val rmin = truePairs.select(col("contained"), col("container"))
      .join(ranked.select(col("doc_id").as("contained"), col("s"),
        (col("g") - col("rem")).as("r")), Seq("contained"))
      .join(ranked.select(col("doc_id").as("container"), col("s"))
        .hint("shuffle_hash"), Seq("container", "s"), "left_semi")
      .groupBy(col("contained"), col("container"))
      .agg(min(col("r")).as("rmin"))
    val stats = rmin
      .select(explode(sequence(lit(1), lit(kMax))).as("k"), col("rmin"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("rmin") <= col("k"), lit(1))).as("caught"))
    import org.apache.spark.sql.expressions.Window
    spark.range(1, kMax + 1L).select(col("id").cast("int").as("k"))
      .join(stats, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("caught"), lit(0L)).as("caught"))
      .withColumn("recall", when(col("n_pairs") > 0,
        round(col("caught") * lit(1.0) / col("n_pairs"), 6)))
      // Wilson lower bound at z = 2 (z² = 4 exact in doubles):
      // (x + z²/2 − z·√(x(n−x)/n + z²/4)) / (n + z²) — the plain normal
      // bound reads lcb = 1 at p̂ = 1 regardless of n, exactly the
      // small-sample overconfidence a sizing rule must not have
      .withColumn("recall_lcb", when(col("n_pairs") > 0, round(
        (col("caught") + lit(2.0) - lit(2.0) *
          sqrt(col("caught") * (col("n_pairs") - col("caught")) /
            col("n_pairs") + lit(1.0))) /
          (col("n_pairs") + lit(4.0)), 6)))
      .withColumn("chosen", coalesce(
        col("k") === min(when(col("recall_lcb") >=
            lit(recallTargetPpm / 1e6), col("k")))
          .over(Window.partitionBy()),
        lit(false)))
  }

  /** Sampled sketch-width calibration (q128) — the [[MeasuredK]] sizing
    * rule as a first-class, oracle-checkable frame: the recall ladder
    * [[sketchLadderOf]] over the fixture corpus at the q123 sample
    * fraction. A pipeline owner reads it to claim the ladder's measured
    * saving (run the sketch at the `chosen` width) WITHOUT trusting the
    * engine: every column replays in DuckDB. */
  def containmentSketchCalibration(spark: SparkSession, dir: String,
      thresholdPpm: Long = 500000L, maxDf: Int = 100,
      sampleFraction: Double = 0.5, recallTargetPpm: Long = 995000L,
      verify: String = "auto",
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    // same frames key as containmentSketch (q126): the ladder reads
    // exactly the sketch's hash-ranked frames, so one build serves both
    val fr = StageMemo.checkpointed(spark, sketchKey(dir, thresholdPpm,
      maxDf))(sketchFrames(shingles(spark, dir), maxDf))
    val mode = resolveVerifyMode(fr.arrays, verify, maxBroadcastBytes,
      "containmentSketchCalibration")
    sketchLadderOf(spark, fr, mode, thresholdPpm, sampleFraction,
        autoKFor(thresholdPpm, recallTargetPpm), recallTargetPpm)
      .orderBy(col("k"))
  }

  def containmentSketch(spark: SparkSession, dir: String,
      thresholdPpm: Long = 500000L, maxDf: Int = 100, k: Int = AutoK,
      verify: String = "auto", maxBroadcastBytes: Long = 256L << 20,
      verifyChunks: Int = 0,
      diskBudgetBytes: Long = defaultDiskBudgetBytes,
      recallTargetPpm: Long = 995000L,
      measureFraction: Double = 0.1): DataFrame =
    containmentSketchOfShingles(shingles(spark, dir), thresholdPpm, maxDf,
        k, verify, maxBroadcastBytes, verifyChunks, diskBudgetBytes,
        recallTargetPpm, measureFraction,
        framesKey = Some(sketchKey(dir, thresholdPpm, maxDf)))
      .orderBy(col("contained"), col("container"))

  private def sketchKey(dir: String, thresholdPpm: Long, maxDf: Int) =
    Stages.sketch(dir, thresholdPpm, maxDf)

  /** [[containmentSketch]] over an arbitrary `(doc_id, text)` frame —
    * knobs as in [[containmentSketchOfShingles]]. String/UUID-keyed
    * corpora ride the SAME scale path through the fingerprint
    * dictionary ([[docIdRoute]]): the bottom-k sample is a hash rank
    * over the SHINGLE values — doc-id-independent — so fingerprinting
    * the ids changes neither the sample nor any candidate, and the
    * oriented pairs just join back (pinned shuffled — the dictionary is
    * corpus-sized at 100 TB) to the original ids; orientation is
    * role-based, so no re-ordering step. The r15 form refused string
    * ids and pointed callers at the classic stage that cannot run
    * decades — yet URL-keyed web corpora at low thresholds are exactly
    * the sketch's home regime (VERDICT r15 #1). */
  def containmentSketchOf(docs: DataFrame, thresholdPpm: Long = 500000L,
      maxDf: Int = 100, k: Int = AutoK, verify: String = "auto",
      maxBroadcastBytes: Long = 256L << 20, verifyChunks: Int = 0,
      diskBudgetBytes: Long = defaultDiskBudgetBytes,
      recallTargetPpm: Long = 995000L,
      measureFraction: Double = 0.1,
      framesKey: Option[StageMemo.Key] = None): DataFrame = {
    // the dictionary's collision-guard action is corpus-sized — cached
    // with the frames when the caller supplies a session key
    val route = docIdRoute(docs, "containmentSketch", framesKey)
    route.oriented(containmentSketchOfShingles(shinglesOf(route.frame),
        thresholdPpm, maxDf, k, verify, maxBroadcastBytes, verifyChunks,
        diskBudgetBytes, recallTargetPpm, measureFraction, framesKey))
      .orderBy(col("contained"), col("container"))
  }

  /** The sketch family's frames over a `(doc_id, s)` shingle frame: the
    * gated rows RANKED per doc by hash. The rank is md5 of the
    * 16-lowercase-hex shingle form — the exact string the oracle's
    * shingle CTE carries, so DuckDB replays the same bottom-k sample;
    * ties break on the shingle key, so the order is total in practice.
    * The array table's `arr` is sort_array — rank-order-independent. */
  private def sketchFrames(sh: DataFrame, maxDf: Int): PairFrames =
    pairFrames(sh, maxDf) { (gated, docLen) =>
      import org.apache.spark.sql.expressions.Window
      val byDoc = Window.partitionBy(col("doc_id"))
      gated
        .join(docLen.hint("shuffle_hash"), Seq("doc_id"))
        .withColumn("hx", md5(lower(lpad(hex(col("s")), 16, "0"))))
        .withColumn("r",
          row_number().over(byDoc.orderBy(col("hx"), col("s"))))
        .withColumn("g", count(lit(1)).over(byDoc))
        .select(col("doc_id"), col("s"), (col("g") - col("r")).as("rem"),
          col("g"))
    }

  /** The sketch's candidate stage: the contained side's bottom-`kCap`
    * rows (rank ≤ k ⇔ rem ≥ g − k) probe the FULL gated index on the
    * shingle key; one distinct-pair shuffle; the one-sided length filter
    * (a qualifying pair needs i ≥ ⌈t′c1⌉ yet i ≤ c2) prunes before the
    * verify. `slice` restricts which CONTAINED docs start candidates —
    * the chunking lever of the priced path AND the doc-sample lever of
    * the recall ladder; `kCap = Int.MaxValue` degenerates to the full
    * co-occurrence candidate set (the ladder's ground-truth source). */
  private def sketchCandOf(ranked: DataFrame, docLen: DataFrame,
      thresholdPpm: Long, kCap: Int, slice: Column): DataFrame = ranked
    .filter(col("rem") >= col("g") - lit(kCap) && slice)
    .select(col("doc_id").as("d1"), col("s"))
    .join(ranked.select(col("doc_id").as("d2"), col("s"))
      .hint("shuffle_hash"), Seq("s"))
    .filter(col("d1") =!= col("d2"))
    .select(col("d1"), col("d2")).distinct()
    .join(docLen.select(col("doc_id").as("d1"), col("c").as("c1"))
      .hint("shuffle_hash"), Seq("d1"))
    .join(docLen.select(col("doc_id").as("d2"), col("c").as("c2"))
      .hint("shuffle_hash"), Seq("d2"))
    .filter(expr(s"${thresholdPpm}L * c1 <= 1000000L * c2"))

  private[graft] def containmentSketchOfShingles(sh: DataFrame,
      thresholdPpm: Long, maxDf: Int, k: Int = AutoK,
      verify: String = "auto",
      maxBroadcastBytes: Long = 256L << 20,
      verifyChunks: Int = 0,
      diskBudgetBytes: Long = defaultDiskBudgetBytes,
      recallTargetPpm: Long = 995000L,
      measureFraction: Double = 0.1,
      framesKey: Option[StageMemo.Key] = None): DataFrame = {
    require(thresholdPpm > 0 && thresholdPpm <= 1000000L,
      s"thresholdPpm must be in (0, 1e6], got $thresholdPpm")
    require(k >= MeasuredK,
      s"sketch size k must be >= 1, AutoK (0) for recall-sized, or " +
        s"MeasuredK (-1) for sample-measured: $k")
    // no candChunks knob, as on the Jaccard path
    pricedPairs(sh, "containmentSketch",
        "containmentSketchOf (the fingerprint-dictionary route)", framesKey,
        sketchFrames(sh, maxDf), verify, maxBroadcastBytes, verifyChunks,
        if (verifyChunks >= 1) 1 else 0, diskBudgetBytes) { (fr, mode) =>
      // the sketch width: explicit k verbatim; AutoK = the analytic
      // per-pair floor; MeasuredK = the sampled recall ladder's minimal k
      // whose Wilson lower bound clears the target (never above the
      // analytic k — the measurement can only SAVE candidate volume, the
      // analytic floor is the worst case it refines; VERDICT r16 #3)
      val sk =
        if (k >= 1) k
        else if (k == AutoK) autoKFor(thresholdPpm, recallTargetPpm)
        else {
          val kA = autoKFor(thresholdPpm, recallTargetPpm)
          val ladder = sketchLadderOf(sh.sparkSession, fr, mode,
            thresholdPpm, measureFraction, kA, recallTargetPpm)
          val chosen = ladder.filter(col("chosen"))
            .agg(min(col("k"))).head()
          if (chosen.isNullAt(0)) kA else math.min(chosen.getInt(0), kA)
        }
      // the raw-volume rule is Σ|bottom-k ∩ s|·(|full_s|−1); no kept
      // count, the candidate distinct exchange prices on it (measured:
      // at 100×/t′=0.5 the unsliced distinct exchange alone filled the
      // box — SCALE_r15 session F). Slices are contained-doc hash slices;
      // the predicate evaluates on the bottom-k frame BEFORE the d1
      // rename, so it keys on doc_id.
      PairFamily(fr.ranked, kept = None,
        candidates = (p, slice) => sketchCandOf(p, fr.docLen, thresholdPpm,
          sk, slice.fold(lit(true))(_.of(col("doc_id")))),
        starts = col("rem") >= col("g") - lit(sk), oriented = true,
        // the candidate-starting set is the bottom-k rows — at most
        // min(total rows, k·nDocs) of them — and EACH emits up to
        // (df−1) < maxDf candidates regardless of k (the r15 form
        // multiplied rows by min(k, maxDf), which under-prices
        // short-doc/high-df corpora, ADVICE r15)
        zeroJobBytes = math.min(fr.rows, sk.toLong * fr.nDocs) *
          maxDf.toLong * emissionRowBytes,
        needed = containNeededExpr(thresholdPpm),
        score = containmentScoreOf(_, thresholdPpm),
        remedy = "Lower k, raise diskBudgetBytes (cluster aggregate " +
          "disk), or pass explicit verifyChunks to bypass pricing.")
    }
  }

  /** Fixture form (q78): containment over the memoized intersection stage
    * — the SAME persisted frame q21/q35/q50's pair chain rides, so a warm
    * session scores containment as two projections over cached pairs. */
  def containment(spark: SparkSession, dir: String,
      thresholdPpm: Long = 500000L, maxDf: Int = 100): DataFrame =
    containmentOfInter(interCounts(spark, dir, maxDf), thresholdPpm)

  /** PREFIX-FILTERED shingle containment (q121) — [[containment]]'s
    * exact output (same gate, same integer floor-division score — q121
    * ships q78's oracle SQL verbatim) WITHOUT the full co-occurrence
    * candidate frame. q78 was the last fixed-threshold pair operator
    * riding the classic [[interCounts]] stage, which the r13 100×
    * single-box smoke measured ENOSPC-dead (~11B pair emissions); this
    * path drops containment onto the same prefix/postings/verify
    * machinery that completed that decade in 156 s for Jaccard.
    *
    * The bound is ONE-SIDED (the structural difference from q119): a
    * qualifying ordered pair (x contained in y) needs `1e6·i ≥
    * t′ppm·c_x` — a bound on the contained side alone, the container's
    * size never lower-bounds the overlap. So only the CONTAINED role
    * gets a prefix (`g − ⌈t′ppm·c/1e6⌉ + 1` gated shingles under the
    * global rarest-first order), and candidates are prefix(contained) ×
    * FULL-gated(container) per shingle — the oriented generator
    * ([[graft.functions.DocIdRemContainPairs]]) starts pairs only from
    * prefix members, keeping the emission fan-out |prefix| × df per
    * posting list. Both orientations of a doc pair are generated and
    * scored independently, like the classic stage's fwd/rev union.
    *
    * The filter ladder and verify are the Jaccard path's, re-derived
    * for the one-sided bound (exact integer forms at
    * [[containPrefixCandidates]]); verification runs through the shared
    * [[verifyPrefixCandidates]] engine — broadcast under a measured
    * byte budget or the no-broadcast co-partitioned merge, early-exit
    * kernel under `needed = ⌈t′ppm·c1/1e6⌉` (the retired prefix-array
    * suffix bound never paid here: its slack `⌈t′c1⌉ − ⌈t′c2⌉ + 1` is
    * non-positive for every short-into-long candidate, and the 30×
    * smoke measured its half-width prefix shipment ENOSPC-ing the merge
    * verify for zero pruning, SCALE_r14 session A). Honest
    * weakness vs Jaccard: at the default t′ = 0.5 the contained-side
    * prefix is half the doc (vs a fifth at J ≥ 0.8) — the ladder's work
    * here is done mostly by the emission prune and the positional
    * filter, and the candidate stage, not the verify, dominates
    * (measured ≈ the classic stage's wall-time at 30×/t′0.5; the
    * prefix path's decade claim is COMPLETION where classic cannot
    * run, and speed where t′ is high). For the low-threshold regime
    * itself, [[containmentSketch]] (q126) is the designed scale path:
    * bottom-k sketch candidates with stated recall ≥ 1 − (1−t′)^k and
    * the same exact verify — 2× under this path at 30×/t′=0.5, with
    * both paths now refusing up front (bytes and knobs named) where a
    * decade exceeds the disk budget instead of ENOSPCing into it. */
  def containmentPrefix(spark: SparkSession, dir: String,
      thresholdPpm: Long = 500000L, maxDf: Int = 100): DataFrame =
    containmentPrefixFixture(spark, dir, thresholdPpm, maxDf, "auto")

  /** [[containmentPrefix]] with the verify FORCED to the no-broadcast
    * co-partitioned merge shape (q122) — the at-scale verify
    * oracle-pinned against q78's SQL, mirroring q120's role for q119. */
  def containmentPrefixMerge(spark: SparkSession, dir: String,
      thresholdPpm: Long = 500000L, maxDf: Int = 100): DataFrame =
    containmentPrefixFixture(spark, dir, thresholdPpm, maxDf, "merge")

  /** The fixture form of both verify shapes: one frames key per gate. */
  private def containmentPrefixFixture(spark: SparkSession, dir: String,
      thresholdPpm: Long, maxDf: Int, verify: String): DataFrame =
    containmentPrefixOfShingles(shingles(spark, dir), thresholdPpm, maxDf,
        verify, framesKey = Some(Stages.cprefix(dir, thresholdPpm, maxDf)))
      .orderBy(col("contained"), col("container"))

  /** [[containmentPrefix]] over an arbitrary `(doc_id, text)` frame —
    * knobs as in [[ngramJaccardPrefixOf]], plus `candChunks`: disjoint
    * contained-doc hash slices of the CANDIDATE stage itself. The
    * oriented generator's fan-out is |prefix| × df per shingle — an
    * order bigger than Jaccard's prefix×prefix — and at the 100×
    * staged decade the kept-emission pair EXCHANGE alone exceeded one
    * box's disk in both verify shapes, at t′ = 0.8 as well as 0.5
    * (measured ENOSPC, SCALE_r14 sessions B/F). Slicing which contained
    * docs may START pairs partitions that exchange disjointly (each
    * slice still probes every container), each slice is verified in its
    * own job whose ≥-threshold survivors alone outlive it, and the
    * union is exactly the unchunked output (spec-pinned). On a cluster
    * with aggregate disk both chunk knobs stay 1. */
  def containmentPrefixOf(docs: DataFrame, thresholdPpm: Long = 500000L,
      maxDf: Int = 100, verify: String = "auto",
      maxBroadcastBytes: Long = 256L << 20,
      verifyChunks: Int = 0, candChunks: Int = 0,
      diskBudgetBytes: Long = defaultDiskBudgetBytes): DataFrame = {
    // string/UUID-keyed corpora ride the fingerprint dictionary
    // ([[docIdRoute]]); containment pairs are ORIENTED, so the ids map
    // back with no re-ordering step
    val route = docIdRoute(docs, "containmentPrefix")
    route.oriented(containmentPrefixOfShingles(shinglesOf(route.frame),
        thresholdPpm, maxDf, verify, maxBroadcastBytes, verifyChunks,
        candChunks, diskBudgetBytes))
      .orderBy(col("contained"), col("container"))
  }

  private[graft] def containmentPrefixOfShingles(sh: DataFrame,
      thresholdPpm: Long, maxDf: Int, verify: String = "auto",
      maxBroadcastBytes: Long = 256L << 20,
      verifyChunks: Int = 0, candChunks: Int = 0,
      diskBudgetBytes: Long = defaultDiskBudgetBytes,
      framesKey: Option[StageMemo.Key] = None): DataFrame = {
    require(thresholdPpm > 0 && thresholdPpm <= 1000000L,
      s"thresholdPpm must be in (0, 1e6], got $thresholdPpm")
    pricedPairs(sh, "containmentPrefix",
        "containmentOf (the shared co-occurrence stage)", framesKey,
        prefixFrames(sh, maxDf, containAlpha(thresholdPpm)), verify,
        maxBroadcastBytes, verifyChunks, candChunks,
        diskBudgetBytes) { (fr, _) =>
      // candidate-stage slices (scaladoc at [[containmentPrefixOf]]) mask
      // the shared posting frame per contained-doc hash slice with a
      // per-row array map instead of re-paying the groupBy(s) exchange
      PairFamily(containPostings(fr.ranked),
        kept = Some(containKeptEmissionsOfPostings(_, thresholdPpm)),
        candidates = (p, slice) => containPrefixCandidates(
          slice.fold(p)(slicePostings(p, _)), fr.docLen, thresholdPpm),
        starts = prefixFlag, oriented = true,
        zeroJobBytes = fr.rows * maxDf * emissionRowBytes,
        needed = containNeededExpr(thresholdPpm),
        score = containmentScoreOf(_, thresholdPpm),
        remedy = "This is the pair-dense regime (low threshold × big " +
          "corpus) no pair-enumerating one-box plan fits: raise " +
          "thresholdPpm, lower maxDf, raise diskBudgetBytes (cluster " +
          "aggregate disk), or pass BOTH chunk knobs (candChunks, " +
          "verifyChunks) explicitly to override.")
    }
  }
}
