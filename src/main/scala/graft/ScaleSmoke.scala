package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-linearity smoke: stages N× copies of the sf dir (key-shifted
  * unions, so joins/dedup see real cardinality growth, not repeated keys)
  * and times representative operators at 1× and each N×. An operator whose
  * time grows super-linearly here would melt at 100 TB — this is the
  * measure-don't-guess check behind README's scale numbers.
  *
  * Usage: `sbt "runMain graft.ScaleSmoke [mult ...]"` (default 10; several
  * mults give the exponent fit more than one decade — e.g. `10 30`). Reads
  * `SPARK_GRAFT_SF_DIR` (default sf0.1), stages under `target/scale/`.
  * `SPARK_GRAFT_SCALE_OPS` (comma list) restricts the op set — the
  * superlinear-risk family lap is
  * `SPARK_GRAFT_SCALE_OPS=ngram_jaccard,dedup_clusters,neardup_lsh,tfidf`.
  *
  * After the timing laps, every op measured at ≥ 2 scales gets a fitted
  * growth exponent: the least-squares slope of log(sec) vs log(mult)
  * (1 = linear in corpus size, 2 = quadratic; sub-linear values mean fixed
  * overhead still dominates at these sizes).
  */
object ScaleSmoke {

  /** Fingerprint of the STAGING LOGIC (key-shift scheme, text perturbation,
    * embedding sign-flip pattern): the staged copies' derivation stamp.
    * Bump whenever `scaled`/`stageAll` change, so a code change can never
    * silently reuse stale staged data and skew the fitted exponents. */
  private val stagingFingerprint =
    "v3:keyshift-max+1,text-uniq-suffix,emb-xxhash64-signflip"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dedupe + sort + reject degenerate mults: a duplicated or <2 mult makes
    // log(m2/m1) zero/negative and the per-step exponent non-finite, which
    // used to print bare Infinity/NaN tokens and break the JSON tail parse
    val mults = {
      val (ok, bad) = (if (args.isEmpty) Seq(10) else args.map(_.toInt).toSeq)
        .distinct.sorted.partition(_ >= 2)
      bad.foreach(m => System.err.println(s"[scale] ignoring mult $m (< 2)"))
      if (ok.isEmpty) { System.err.println("[scale] no valid mults; using 10"); Seq(10) }
      else ok
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shuffle-partition override for top-decade laps: a 1B-key aggregation
    // over cpus=32 reduce partitions spills ~30M keys per task to disk and
    // the SPILL files (not the exchange itself) are what fill a single
    // box — 256 partitions keep the per-task hash agg in memory, and AQE
    // coalesces the small ones back down after the exchange. On a real
    // cluster this is just "size your shuffle partitions" (the guide
    // rule); the env knob exists so one box can run the decade.
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus)
    val spark = Engine.session("graft.ScaleSmoke", s"local[$cpus]",
      parts.toInt)
    import spark.implicits._
    // attribution mode (Bench's protocol): memo misses materialize eagerly
    // so build_s is the stage's real cost, not plan construction
    StageMemo.eagerBuild = true

    // a fixture table of `sfDir` staged as `staged/<table>.parquet` by
    // Staging's rule: staged copies persist across invocations (a 30x
    // staging is minutes of write) and re-stage when the source table or
    // the staging logic (the fingerprint) changes
    def stage(staged: String, table: String)(
        derive: DataFrame => DataFrame): Unit = {
      Staging.stageAt(spark, s"$staged/$table.parquet", stagingFingerprint,
        Seq(Staging.identity(sfDir, table))) { out =>
        derive(Tables.load(spark, sfDir, table))
          .write.mode("overwrite").parquet(out)
      }
      ()
    }
    // key-shift mult copies; `perturb` runs with the copy index `_i` still
    // in scope so per-copy transforms (near-dup text, decorrelated vectors)
    // stay next to the staging they modify
    def scaled(staged: String, mult: Int, table: String,
        keyCols: Seq[String], perturb: DataFrame => DataFrame = identity)
        : Unit = stage(staged, table) { src =>
      val maxKeys = keyCols.map(k =>
        k -> (src.agg(max(col(k))).head().getLong(0) + 1L)).toMap
      val copies = src.withColumn("_i",
        explode(lit((0 until mult).toArray)))
      val shifted = keyCols.foldLeft(copies) { (df, k) =>
        df.withColumn(k, col(k) + col("_i") * maxKeys(k))
      }
      perturb(shifted).drop("_i")
    }
    def stageAll(staged: String, mult: Int): Unit = {
      scaled(staged, mult, "lineitem", Seq("l_orderkey"))
      scaled(staged, mult, "orders", Seq("o_orderkey"))
      // perturb text so N× docs are near-dups of their source, not exact
      // clones (exact clones would just re-test the 1× structure)
      scaled(staged, mult, "documents", Seq("doc_id"), _.withColumn("text",
        concat($"text", lit(" uniq"), $"_i")))
      scaled(staged, mult, "events", Seq("event_id", "user_id"))
      // embeddings: flip a per-(copy, dim) pseudo-random sign pattern so
      // copies are near-orthogonal to their source — near-dup pair structure
      // then grows linearly with mult (exact clones would grow the pair
      // output quadratically, which is the exact-dedup regime, and would
      // re-test bucket skew rather than corpus growth)
      scaled(staged, mult, "embeddings", Seq("vec_id"), _.withColumn(
        "embedding", expr(
          """transform(embedding, (x, d) ->
            |  CASE WHEN _i = 0 OR pmod(xxhash64(_i * 64 + d), 2) = 0
            |       THEN x ELSE -x END)""".stripMargin)))
      for (t <- Seq("customer", "supplier", "part", "nation", "region"))
        stage(staged, t)(identity)
    }

    // production LSH bit sizing (the operator scaladoc's rule): bits ≈
    // log2(corpus) + 4, with corpus = 5000 fixture docs/vectors per sf0.1
    // unit × mult — holds expected bucket occupancy O(1) as the corpus
    // grows
    def sizedBits(m: Int): Int =
      (math.log(5000.0 * m) / math.log(2)).ceil.toInt + 4
    // per-op extra JSON fields: the LSH rows carry their bit sizing so a
    // SCALE reader can tell the fixture-fixed rows (bits=10 at every
    // decade — the what-if-you-don't-resize datapoint) from the sized rows
    // without reverse-engineering the op lambda
    def extraFields(name: String, mult: Int): String = name match {
      case "neardup_lsh_sized" | "neardup_lsh_mp_sized" =>
        s""""bits":${sizedBits(mult)},"""
      case "neardup_lsh" | "neardup_lsh_mp" => """"bits":10,"""
      case _ => ""
    }

    // incr_clusters_forest's shipped side (ids >= 2500): its index and
    // cluster star forest v0, staged per fixture dir
    def lt2500Index(d: String, m: Int): String = {
      val idx = operators.Dedup.ShippedIndex(
        Tables.documents(spark, d).filter(col("doc_id") >= 2500),
        Some((0.8, 100 * m)), forestVerifyChunks = if (m >= 50) 8 else 1)
      Staging.staged(spark, d, "lt2500", idx.derivation,
        variant = idx.variant)(idx.build).path
    }

    // (name, per-dir frame): `mult` parameterizes corpus-relative knobs —
    // df caps scale with the corpus so the 1× rare-shingle structure
    // survives the N-fold df inflation of staged copies
    val ops: Seq[(String, (String, Int) => DataFrame)] = Seq(
      "pricing_summary" -> ((d, _) => operators.Relational.pricingSummary(spark, d)),
      "global_sort" -> ((d, _) => operators.Relational.globalSort(spark, d)),
      "join_revenue" -> ((d, _) => operators.Relational.revenueByNation(spark, d)),
      "md5_sample" -> ((d, _) => operators.Relational.md5Sample(spark, d)),
      "simhash" -> ((d, _) => operators.Dedup.simhash(spark, d)),
      "asof_join" -> ((d, _) => operators.TemporalJoins.eventsAsofClicks(spark, d)),
      "range_join" -> ((d, _) => operators.TemporalJoins.eventsInPurchaseHour(spark, d)),
      "sessionize" -> ((d, _) => operators.Relational.sessionize(spark, d)),
      // streaming shape at scale: trigger/commit overhead is fixed per
      // micro-batch, so the 1× -> N× delta must track data volume only
      // (the key space — windows x event types — is unchanged by staging)
      "stream_windows" -> ((d, _) => streaming.Continuous.streamedWindowedCounts(spark, d)),
      // streamed cross-modal dedup (q117): whole-corpus replay in 4
      // commits over PER-DOC state only (minhash bands, digests, blockhash
      // fingerprints) + the star-forest contraction — no df-gated stage
      // anywhere, so growth must track the banded candidate volume plus
      // the fixed per-commit trigger overhead, never corpus pairs
      "stream_xmodal" -> ((d, _) =>
        streaming.Continuous.streamedCrossModalDedup(spark, d)),
      // prefix-filtered twin (q119): identical output to ngram_jaccard by
      // construction — this row prices what PPJoin-style candidate
      // pruning is worth against the same gate at the same scale. Listed
      // BEFORE the classic row so a top-decade lap records the prefix
      // numbers even if the classic stage dies on disk (the r12 ENOSPC
      // class); auto verify picks broadcast or merge off the measured
      // byte budget
      "ngram_prefix" -> ((d, m) => operators.Dedup.ngramJaccardPrefixOf(
        Tables.documents(spark, d), maxDf = 100 * m)),
      // the FORCED no-broadcast verify (q120's shape): the same candidates
      // co-partitioned against the array table — this row is the
      // past-the-broadcast-budget contract measured deterministically,
      // whatever the auto row picked
      // verifyChunks bounds the verify's live shuffle footprint on ONE
      // box (cands × array width; ~46 GB in one job at 100×) — chunked
      // only at the decades where a single job exceeds local disk
      "ngram_prefix_merge" -> ((d, m) => operators.Dedup.ngramJaccardPrefixOf(
        Tables.documents(spark, d), maxDf = 100 * m, verify = "merge",
        verifyChunks = if (m >= 50) 8 else 1)),
      // the FORCED broadcast verify with the budget opened: decomposes an
      // auto-row delta into verify shape vs candidate stage within one
      // session (auto silently picks a mode off the measured bytes)
      "ngram_prefix_bcast" -> { (d, m) =>
        operators.Dedup.ngramJaccardPrefixOfShingles(
          operators.Dedup.shinglesOf(Tables.documents(spark, d)),
          threshold = 0.8, maxDf = 100 * m, verify = "broadcast",
          maxBroadcastBytes = Long.MaxValue)
          .orderBy(col("d1"), col("d2"))
      },
      "ngram_jaccard" -> ((d, m) => operators.Dedup.ngramJaccardOf(
        Tables.documents(spark, d), maxDf = 100 * m)),
      // sliding-window substring audit: grams ≤ 1/token and hits ≤ tokens,
      // so output is corpus-LINEAR even over the staged N-clique corpus
      // (unlike the pair family); the df gate shuffles at gram cardinality
      "dup_spans" -> ((d, _) => operators.Dedup.duplicatedSpans(spark, d)),
      // containment's ONE-SIDED prefix path (q121): identical output to
      // the classic row by construction — listed BEFORE it so a
      // top-decade lap records the prefix numbers even when the classic
      // co-occurrence stage dies on disk (measured at 100×, r13)
      "containment_prefix" -> ((d, m) => operators.Dedup
        .containmentPrefixOf(Tables.documents(spark, d), maxDf = 100 * m)),
      // the FORCED no-broadcast merge verify (q122's shape), chunked at
      // the decades where one verify job exceeds local disk — same knob
      // as ngram_prefix_merge
      // chunking starts a decade earlier than ngram's: at the default
      // t' = 0.5 the contained-side prefix is HALF the doc, so both the
      // candidate count and the per-candidate array width run bigger
      // than Jaccard-0.8's at the same decade
      "containment_prefix_merge" -> ((d, m) => operators.Dedup
        .containmentPrefixOf(Tables.documents(spark, d), maxDf = 100 * m,
          verify = "merge",
          verifyChunks = if (m >= 50) 8 else if (m >= 30) 4 else 1)),
      // the same A/B at t' = 0.8, where the one-sided prefix is a fifth
      // of the doc instead of half: the threshold-dependence of the
      // prefix path's advantage, measured in one session (the classic
      // stage's cost is threshold-INdependent — it builds every
      // co-occurring pair first and thresholds last)
      // candChunks at the top decade: the 100× kept-emission pair
      // EXCHANGE alone exceeded one box's disk in both verify shapes
      // (measured ENOSPC, session F) — contained-doc hash slices bound
      // the exchange per job
      "containment_prefix_merge_t8" -> ((d, m) => operators.Dedup
        .containmentPrefixOf(Tables.documents(spark, d),
          thresholdPpm = 800000L, maxDf = 100 * m, verify = "merge",
          verifyChunks = if (m >= 100) 2 else if (m >= 50) 8 else 1,
          candChunks = if (m >= 100) 32 else 1)),
      // the t' = 0.8 AUTO shape (broadcast verify under the measured byte
      // budget, merge past it): the session-D 30× reading had classic
      // (247 s) BEAT the forced merge (343 s) at t8 — this row records
      // what the operator actually picks when not forced, the number a
      // user gets by default
      "containment_prefix_t8" -> ((d, m) => operators.Dedup
        .containmentPrefixOf(Tables.documents(spark, d),
          thresholdPpm = 800000L, maxDf = 100 * m,
          candChunks = if (m >= 100) 32 else 1)),
      // the r15 contract row: NO hand-set chunk knobs anywhere — the
      // operator prices its own exchanges (posting-stats agg → kept-
      // emission count → candChunks/verifyChunks from the per-slice
      // budget) and must complete the same decades the hand-tuned rows
      // needed candChunks=32/verifyChunks=2 for (SCALE_r14 session F)
      "containment_prefix_t8_auto" -> ((d, m) => operators.Dedup
        .containmentPrefixOf(Tables.documents(spark, d),
          thresholdPpm = 800000L, maxDf = 100 * m)),
      // ngram's auto twin: merge verify forced (the broadcast shape
      // prices out at the decades anyway), chunk count auto-priced
      "ngram_prefix_merge_auto" -> ((d, m) => operators.Dedup
        .ngramJaccardPrefixOf(Tables.documents(spark, d),
          maxDf = 100 * m, verify = "merge")),
      // the UNSLICED comparator (explicit verifyChunks bypasses pricing,
      // candidate exchange unsliced — the r15 auto shape): same-day A/B
      // against the auto row, attributing the candidate-slicing premium
      "ngram_prefix_merge_vc3" -> ((d, m) => operators.Dedup
        .ngramJaccardPrefixOf(Tables.documents(spark, d),
          maxDf = 100 * m, verify = "merge", verifyChunks = 3)),
      // the sketch-gated LOW-threshold path (q126): candidates start
      // only from each contained doc's bottom-8-by-hash gated shingles
      // (miss prob <= (1-t')^k per qualifying pair; verify exact) — the
      // scale shape for the t'=0.5 regime where the EXACT prefix is half
      // the doc and session-C r14 priced the decade pair-dense-infeasible
      "containment_sketch" -> ((d, m) => operators.Dedup
        .containmentSketchOfShingles(operators.Dedup.shinglesOf(
          Tables.documents(spark, d)), 500000L, 100 * m, k = 8)),
      // the r16 k-LADDER rows: AutoK's refusal advice ("lower k") rests
      // on the stated floor 1−(1−t′)^k — these rows MEASURE the floor's
      // slack (rows_out vs the exact path's true pair count at the same
      // decade: recall ≥ 75% at k=2, ≥ 93.75% at k=4 stated)
      "containment_sketch_k4" -> ((d, m) => operators.Dedup
        .containmentSketchOfShingles(operators.Dedup.shinglesOf(
          Tables.documents(spark, d)), 500000L, 100 * m, k = 4)),
      "containment_sketch_k2" -> ((d, m) => operators.Dedup
        .containmentSketchOfShingles(operators.Dedup.shinglesOf(
          Tables.documents(spark, d)), 500000L, 100 * m, k = 2)),
      "containment_t8" -> ((d, m) => operators.Dedup.containmentOf(
        operators.Dedup.shinglesOf(Tables.documents(spark, d)),
        thresholdPpm = 800000L, maxDf = 100 * m)),
      // asymmetric containment shares ngram's candidate machinery and its
      // C(N,2) output contract — df cap corpus-relative like ngram's
      "containment" -> ((d, m) => operators.Dedup.containmentOf(
        operators.Dedup.shinglesOf(Tables.documents(spark, d)),
        maxDf = 100 * m)),
      // curation five — their 100 TB claims get measured, not just planned
      "decontaminate" -> ((d, _) => operators.Curation.decontaminate(spark, d)),
      "repetition" -> ((d, _) => operators.Curation.repetitionSignals(spark, d)),
      "source_cap" -> ((d, _) => operators.Curation.sourceCap(spark, d)),
      "bloom_dedup" -> ((d, _) => operators.Curation.bloomDedup(spark, d)),
      // budget-exceeded path: the Bloom prefilter is skipped and the shard
      // goes straight to the exact semi-join
      "bloom_fallback" -> ((d, _) => operators.Curation.bloomDedup(spark, d,
        bloomBudgetBytes = 1L)),
      // df cap is corpus-relative here too, like ngram_jaccard's — the
      // unscaled cap at 30× discards nearly every shingle and "measures"
      // an empty pipeline
      "dedup_clusters" -> ((d, m) => operators.Curation.dedupClusters(spark, d,
        maxDf = 100 * m)),
      // the q25-semantics scale path: candidate join bounded by the bucket
      // gate, so 1× -> N× must track the (linearized) pair structure.
      // Fixture-fixed bits=10: bucket occupancy grows with the corpus, so
      // random collisions inflate the candidate set at large N — kept as
      // the what-if-you-don't-resize datapoint
      "neardup_lsh" -> ((d, _) => operators.Similarity.cosineNearDupLsh(spark, d)),
      // production sizing (bits ≈ log2(corpus)+4) holds bucket occupancy
      // O(1) as the corpus grows — the exponent THIS row observes is the
      // operator's real scale contract
      "neardup_lsh_sized" -> { (d, m) =>
        import org.apache.spark.sql.functions.{col, expr}
        operators.Similarity.cosineNearDupLshOf(
          spark.read.parquet(s"$d/embeddings.parquet").select(col("vec_id"),
            expr("transform(embedding, x -> cast(x as double))").as("v")),
          bits = sizedBits(m))
      },
      // multi-probe variant of the near-dup pair path (r12): radius-1
      // probing multiplies candidate generation by the fixed 11-mask
      // fanout — this row pins that growth stays fanout-bounded (same
      // exponent shape as neardup_lsh, a constant-factor higher), never
      // corpus-shaped
      "neardup_lsh_mp" -> ((d, _) => operators.Similarity.cosineNearDupLsh(
        spark, d, probeDist = 1)),
      // multi-probe at PRODUCTION bit sizing (bits ≈ log2(corpus)+4, the
      // operator's own scaladoc rule): the r12 fixture-fixed mp row read
      // exponent 1.54 at 30×, but bucket occupancy grows with the corpus
      // when bits stay fixed — this row (with neardup_lsh_sized) separates
      // that occupancy artifact from the operator's real growth. The
      // `bits` field in each JSON row records the sizing.
      "neardup_lsh_mp_sized" -> { (d, m) =>
        import org.apache.spark.sql.functions.{col, expr}
        operators.Similarity.cosineNearDupLshOf(
          spark.read.parquet(s"$d/embeddings.parquet").select(col("vec_id"),
            expr("transform(embedding, x -> cast(x as double))").as("v")),
          bits = sizedBits(m), probeDist = 1)
      },
      // the r14 AUTO default (bits = AutoBits: one count action, then
      // ⌈log2 n⌉+4 with the radius-2 fanout cap): this row must land in
      // the hand-sized row's bracket — the operator now applies its own
      // sizing rule instead of documenting it for the caller
      "neardup_lsh_mp_auto" -> { (d, m) =>
        import org.apache.spark.sql.functions.{col, expr}
        operators.Similarity.cosineNearDupLshOf(
          spark.read.parquet(s"$d/embeddings.parquet").select(col("vec_id"),
            expr("transform(embedding, x -> cast(x as double))").as("v")),
          probeDist = 1)
      },
      "tfidf" -> ((d, _) => operators.TextAnalysis.tfidfTopTerms(spark, d)),
      // training-layout tier: all four are contractually linear (per-row
      // map / explode + one partial-agg shuffle / per-source window) —
      // these rows pin that the contract holds under real growth
      "seq_packing" -> ((d, _) => operators.TextAnalysis.packSequences(spark, d)),
      "pii_scan" -> ((d, _) => operators.Curation.piiScan(spark, d)),
      "epoch_mix" -> ((d, _) => operators.Curation.epochMix(spark, d)),
      "passage_dedup" -> ((d, _) => operators.Dedup.passageDedup(spark, d)),
      // corpus-audit tier: the vocab join (perplexity), the trigram
      // first-seen aggregate (vocab_growth), the bounded per-digest source
      // sets (source_overlap), and a pure-map control (quantize_int8).
      // The cluster compositions (q68/q69) are excluded on purpose: their
      // pair stages ARE the already-measured ngram/LSH rows.
      "perplexity" -> ((d, _) => operators.TextAnalysis.perplexity(spark, d)),
      "vocab_growth" -> ((d, _) => operators.TextAnalysis.vocabGrowth(spark, d)),
      "source_overlap" -> ((d, _) => operators.Dedup.sourceOverlap(spark, d)),
      "quantize_int8" -> ((d, _) => operators.Similarity.quantizeInt8(spark, d)),
      // retrieval/clustering tier: k-means is iters × (map-side assign +
      // k-row centroid agg) — contractually linear at any k; BM25 is the
      // tf shuffle + a broadcast vocabulary; count-min is a fixed
      // width×depth cell grid partial-aggregated map-side; temperature mix
      // is one per-source agg + a broadcast of the rate frame
      "kmeans" -> ((d, _) => operators.Similarity.kmeansAssign(spark, d)),
      // fixture-fixed k=8: cluster populations grow with the corpus, so the
      // within-cluster pair stage is the C(N/k,2) what-if-you-don't-resize
      // datapoint (SemDeDup's own recipe sizes k with N)
      "semdedup" -> ((d, _) => operators.Similarity.semDedup(spark, d)),
      // production sizing k ∝ √corpus (k = 8·√mult): Lloyd assignment is
      // O(N·k) and the within-cluster pair stage is O(N²/k), so √ sizing
      // balances both at O(N^1.5) — the paper's own rule. A measured k ∝ N
      // lap demonstrated the wrong-sizing failure mode: assignment itself
      // went quadratic (exp 1.98 at the top decade, 382 s at 30×)
      "semdedup_sized" -> ((d, m) =>
        operators.Similarity.semDedup(spark, d,
          k = (8 * math.sqrt(m.toDouble)).round.toInt)),
      "bm25" -> ((d, _) => operators.TextAnalysis.bm25TopDocs(spark, d)),
      "countmin_topk" -> ((d, _) => operators.TextAnalysis.countMinTopTokens(spark, d)),
      "temperature_mix" -> ((d, _) => operators.Curation.temperatureMix(spark, d)),
      // composition tier: the funnel rides the ngram pair stage (df cap
      // corpus-relative, like dedup_clusters' — the fixed cap would
      // discard nearly every shingle at 30×) plus per-row maps and one
      // per-source agg; cluster labeling rides k-means plus a (cluster,
      // term) partial agg — both must track their dominant input stage
      "curation_funnel" -> ((d, m) =>
        operators.Curation.curationFunnel(spark, d, maxDf = 100 * m)),
      "cluster_terms" -> ((d, _) => operators.TextAnalysis.clusterTerms(spark, d)),
      // media tier: the perceptual fingerprint is a per-char explode
      // partial-combined to <= 60 rows/doc — corpus-linear by contract;
      // the banded pair join rides it, and its output follows the staged
      // corpus's collision structure (reported via rows_out)
      "media_phash" -> ((d, _) => operators.Multimodal.blockhash(spark, d)),
      "media_neardup" -> ((d, _) => operators.Multimodal.blockhashPairs(spark, d)),
      // cluster form: star contraction over the banded pair output — the
      // edge list is the C(N,2)-shaped input the exponent must mirror
      "media_clusters" -> ((d, _) => operators.Multimodal.blockhashClusters(spark, d)),
      // cross-modal decision (q86): union of the ngram and blockhash pair
      // graphs, one contraction — df cap corpus-relative like the text rows
      "crossmodal_dedup" -> ((d, m) => operators.Curation.crossModalClusters(
        spark, d, maxDf = 100 * m)),
      // incremental dedup (q87): increment PROPORTIONAL to the corpus
      // (every 10th doc) — tracks the corpus-relative pair structure
      "incremental_dedup" -> ((d, m) => operators.Dedup.incrementalDedupOf(
        Tables.documents(spark, d), pmod(col("doc_id"), lit(10)) === 0,
        maxDf = 100 * m)),
      // the operator's REAL production contract: a FIXED-size increment
      // (the ~2500 copy-0 docs with doc_id < 2500, constant at every mult)
      // against a GROWING shipped index — cost must track the index
      // scan/df-gate (linear in corpus), never increment×corpus pairs
      "incremental_fixed" -> ((d, m) => operators.Dedup.incrementalDedupOf(
        Tables.documents(spark, d), col("doc_id") < 2500,
        maxDf = 100 * m)),
      // forest-state incremental CLUSTERS (q118's production shape): the
      // same fixed increment against a growing shipped index whose durable
      // cluster state is the star FOREST, seeded OUTSIDE the timed lap
      // (the amortized shipped-corpus build — see the pre-stage block).
      // Timed work = the increment's bounded candidate probe + the
      // (forest ∪ new pairs) contraction + the seen-docs assembly; cost
      // must track the df-gate scan (corpus-linear), never the
      // accumulated pair list the forest replaces (dedup_clusters is the
      // pair-state re-derivation this row is read against)
      "incr_clusters_forest" -> { (d, m) =>
        operators.Dedup.incrementalClustersAgainstIndex(spark,
          lt2500Index(d, m),
          Tables.documents(spark, d).filter(col("doc_id") < 2500),
          maxDf = 100 * m, commit = false)
      },
      // scene cuts (q90): same per-char explode volume contract as
      // media_phash, plus the frame-bounded lag window
      "scene_cuts" -> ((d, _) => operators.Multimodal.sceneCuts(spark, d)),
      // token merges (q89): pair explode + one partial-agg shuffle +
      // bounded top-k — must stay agg-linear like vocab_growth
      "token_merges" -> ((d, _) => operators.TextAnalysis.tokenPairMerges(
        spark, d)),
      // drift/audit tier (q101-q108): term drift is a (source, token)
      // partial agg + a shuffled vocab join — agg-linear like perplexity;
      // PMI's window explode emits <= 2 pairs/token (corpus-linear) with a
      // bounded top-k; JL projection is a pure explode + map-side-combined
      // rollup (the zero-shuffle-ish control like quantize_int8); the
      // minhash audit rides the band stage and must track its candidate
      // output; the threshold sweep re-reads the intersection frame at a
      // constant |ladder| fanout — exponent must mirror the ngram row's
      "term_drift" -> ((d, _) => operators.TextAnalysis.termDrift(spark, d)),
      "pmi_cooc" -> ((d, _) => operators.TextAnalysis.pmiCooc(spark, d)),
      "jl_projection" -> ((d, _) => operators.Similarity.jlProjection(spark, d)),
      "minhash_accuracy" -> ((d, _) => operators.Dedup.minhashAccuracy(spark, d)),
      "threshold_sweep" -> ((d, m) => operators.Dedup.thresholdSweep(
        spark, d, maxDf = 100 * m)),
      // the sampled calibration form (q123): the same curve from a 10%
      // doc sample — candidate volume shrinks ~f², so this is the
      // calibration row that still runs at decades where the full
      // intersection frame cannot; compare its n_pairs_est per rung
      // against threshold_sweep's n_pairs within the stated rel_err
      "threshold_sweep_sampled" -> ((d, m) => operators.Dedup
        .thresholdSweepSampled(spark, d, maxDf = 100 * m,
          sampleFraction = 0.1)),
      "cluster_sizes" -> ((d, m) => operators.Curation.clusterSizes(
        spark, d, maxDf = 100 * m)),
      // q110: one per-row canonicalize + digest groupBy — must be
      // agg-linear like exact dedup (the control row for the pair family)
      "normalized_dedup" -> ((d, _) => operators.Dedup.normalizedDedup(
        spark, d)),
      // q111: rides the intersection stage at a constant 4-config fanout —
      // exponent must mirror the ngram row's, output fixed at 4 rows
      "lsh_planner" -> ((d, m) => operators.Dedup.lshPlanner(
        spark, d, maxDf = 100 * m)),
      // q112: the funnel's joins + per-row maps + one (split, shard)
      // window — output is one row per doc (out-exponent 1.00); time must
      // track the pair stage it rides plus a corpus-linear window sort
      "training_manifest" -> ((d, m) => operators.Curation.trainingManifest(
        spark, d, maxDf = 100 * m)),
      // q113: per-row score + constant-fanout explode + one partial-agg
      // rollup — must stay agg-linear like pii_scan (output fixed at
      // |ladder| rows)
      "quality_sweep" -> ((d, _) => operators.TextAnalysis.qualitySweep(
        spark, d)),
      // q114: the same shape keyed by split — per-row score/split maps +
      // one 3-row partial agg
      "split_balance" -> ((d, _) => operators.Curation.splitBalance(
        spark, d)),
    )
    val only = sys.env.get("SPARK_GRAFT_SCALE_OPS")
      .map(_.split(',').map(_.trim).toSet)
    val selected = ops.filter { case (n, _) => only.forall(_.contains(n)) }

    // timed noop write + an `observe` row counter in the SAME pass: the
    // output count rides the plan as a CollectMetrics accumulator, so the
    // per-pair throughput contract is measured without a second job (a
    // separate count() would re-run a 5-minute 30x pipeline) and without
    // letting Catalyst prune the plan the way a bare count() would.
    // Each row also carries the op's STAGE SPLIT (build_s = memoized
    // shared-stage builds, eager-materialized like Bench's attribution
    // mode; consume_s = the rest): end-to-end top-decade laps swing ±10%
    // on the pair-stage build alone (r11's variance probe), so a <1.3x
    // delta is only attributable with the split in the same lap. Ops that
    // ride no memoized stage report build_s 0 and consume_s = sec.
    def time(op: String, label: String, df: => DataFrame,
        extra: String = ""): (Double, Long) = {
      StageMemo.clear() // each op pays its own shared stages — honest scaling
      StageMemo.statsSnapshot(reset = true) // open this op's window
      val obs = org.apache.spark.sql.Observation()
      val t0 = System.nanoTime()
      df.observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite").format("noop").save()
      val s = (System.nanoTime() - t0) / 1e9
      val rows = obs.get("rows") match { case l: Long => l; case _ => -1L }
      val stats = StageMemo.statsSnapshot(reset = true)
      // shuffle files live until the driver GCs their dependencies
      // (ContextCleaner is reference-triggered): in a multi-op 30× session
      // the dead shuffles accumulate tens of GB and the LAST op pays
      // ENOSPC (observed: 1B-pair shuffles from earlier ops starved a
      // later op's spill). An explicit GC outside the timed window lets
      // the cleaner reclaim them between ops.
      System.gc()
      val buildS = stats.buildMsTotal / 1000.0
      val consumeS = math.max(s - buildS, 0.0)
      val topBuilds = stats.builds.toSeq.sortBy(-_._2._2).take(4)
        .map { case (k, (_, ms)) =>
          "\"" + k.replace(sfDir, "sf").replace("target/scale/", "") +
            "\":" + ms }
        .mkString("{", ",", "}")
      println(f"""{"op":"${op}_$label","sec":$s%.2f,"rows_out":$rows,""" +
        extra +
        f""""build_s":$buildS%.2f,"consume_s":$consumeS%.2f,""" +
        s""""builds_ms":$topBuilds}""")
      (s, rows)
    }

    val timings = collection.mutable.Map.empty[String, List[(Int, Double, Long)]]
    val laps = ("1x", sfDir, 1) +: mults.map(m =>
      (s"${m}x", s"target/scale/x$m", m))
    mults.foreach(m => stageAll(s"target/scale/x$m", m))
    // pre-stage incr_clusters_forest's persisted state (index + forest v0
    // over the shipped side) OUTSIDE the timed laps: the one-time shipped-
    // corpus build is amortized production cost, not per-increment cost —
    // the staging check inside the op lambda then reduces to one listing
    // and one marker read
    if (selected.exists(_._1 == "incr_clusters_forest"))
      for ((_, dir, m) <- laps) lt2500Index(dir, m)
    // warm-up lap at the smallest sf (JIT + codegen + catalog caches, same
    // protocol as Bench) — otherwise the first timed op absorbs ~5 s of JVM
    // warm-up and the 1x point biases every exponent low
    val warmDir = "/root/testdata/sf0.001"
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmDir)))
      selected.foreach { case (_, fn) =>
        StageMemo.clear()
        fn(warmDir, 1).write.mode("overwrite").format("noop").save()
      }
    for ((label, dir, mult) <- laps) {
      println(s"== $label ($dir)")
      selected.foreach { case (name, fn) =>
        val (s, rows) =
          time(name, label, fn(dir, mult), extraFields(name, mult))
        timings(name) = timings.getOrElse(name, Nil) :+ ((mult, s, rows))
      }
    }
    // fitted growth exponent per op: least-squares slope of log(sec) over
    // log(mult) across every measured scale, PLUS the per-step exponent
    // between consecutive scales — a straight-line fit can smooth a
    // top-decade blowup into a comfortable-looking average, and the
    // largest step is the one that predicts the next decade. Alongside the
    // TIME exponent: the OUTPUT exponent (slope of log rows_out) and
    // per-scale sec_per_1k_out, so "the exponent-2 rows are output-bound,
    // per-pair throughput is flat" is harness output, not hand arithmetic.
    // Every numeric token goes through jnum — a ~0 s timing or an empty
    // output must print null, never Infinity/NaN (which breaks the JSON
    // tail parse downstream).
    def jnum(v: Double): String =
      if (java.lang.Double.isFinite(v))
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      else "null"
    def fit(pts: Seq[(Double, Double)]): Double = {
      val n = pts.size
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }
    println("== exponents")
    selected.foreach { case (name, _) =>
      val ts = timings(name)
      if (ts.size >= 2) {
        val slope = fit(ts.map { case (m, s, _) =>
          (math.log(m.toDouble), math.log(s)) })
        val outPts = ts.collect { case (m, _, r) if r > 0 =>
          (math.log(m.toDouble), math.log(r.toDouble)) }
        val outSlope = if (outPts.size >= 2) fit(outPts) else Double.NaN
        val series = ts.map { case (m, s, _) => s""""${m}x":${jnum(s)}""" }
          .mkString(",")
        val steps = ts.sliding(2).collect {
          case Seq((m1, s1, _), (m2, s2, _)) =>
            s""""exp_${m1}x_${m2}x":${jnum(
              math.log(s2 / s1) / math.log(m2.toDouble / m1))}"""
        }.mkString(",")
        val emitted = ts.map { case (m, _, r) => s""""${m}x":$r""" }
          .mkString(",")
        val perK = ts.map { case (m, s, r) =>
          s""""${m}x":${jnum(if (r > 0) s * 1000.0 / r else Double.NaN)}"""
        }.mkString(",")
        // `mults` names the lap configuration: the same op measured at
        // "10,30" and later "10,100" appends two records, and an op-keyed
        // reader needs the field to keep both instead of silently
        // last-wins-ing one series
        println(s"""{"op":"$name","mults":"${mults.mkString(",")}",""" +
          s""""exponent":${jnum(slope)},""" +
          s""""out_exponent":${jnum(outSlope)},$steps,""" +
          s""""pairs_emitted":{$emitted},"sec_per_1k_out":{$perK},$series}""")
      }
    }
    spark.stop()
  }
}
