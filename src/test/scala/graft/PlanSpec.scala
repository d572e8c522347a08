package graft

import graft.operators.{CompositeJoin, Dedup, Relational, Similarity}

/** Physical-plan regression tests: the properties that decide whether a
  * plan survives a 100× scale-up. A green correctness run with a wrong
  * plan (unpruned scan, shuffled dim join, sort-before-count elision) is
  * exactly the failure mode these pin down. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01 scan prunes columns and pushes the date filter") {
    val p = plan(Relational.pricingSummary(spark, sfDir))
    val scan = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(scan.contains("l_shipdate"), "filter column read")
    assert(!scan.contains("l_orderkey"),
      s"unused column not pruned from scan: $scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      scan.contains("PushedFilters"), "pushdown expected")
  }

  test("q02 pushes both predicates to the scan") {
    val p = plan(Relational.selectFilter(spark, sfDir))
    assert(p.contains("PushedFilters") &&
      p.contains("o_totalprice") && p.contains("o_orderstatus"))
  }

  test("q03 joins dimensions by broadcast, never shuffle") {
    val p = plan(Relational.revenueByNation(spark, sfDir))
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) === 3)
    assert(!p.contains("SortMergeJoin"),
      "dim joins must not sort-merge at any scale")
  }

  test("q05 global sort range-partitions (TotalOrderPartitioner shape)") {
    val p = plan(Relational.globalSort(spark, sfDir))
    assert(p.contains("rangepartitioning"),
      s"expected sampled range partitioning:\n$p")
  }

  test("aggregations plan partial + final (combiner semantics)") {
    val p = plan(Relational.wordCount(spark, sfDir))
    assert(p.contains("HashAggregate(keys="))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "expected map-side partial aggregate before the shuffle")
  }

  test("similarity join keeps the native dot product in the plan") {
    val p = plan(Similarity.cosineNearDup(spark, sfDir))
    assert(p.contains("graft_dot"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "small corpus side should broadcast for the quadratic baseline")
  }

  test("q56 LSH near-dup never plans the quadratic join q25 declares") {
    val p = plan(Similarity.cosineNearDupLsh(spark, sfDir))
    // the scale path's whole point: candidates come from a bounded
    // (tbl, sig) equi-join, never a nested-loop scan of vector pairs
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"near-dup scale path must stay equi-join shaped:\n$p")
    assert(p.contains("graft_dot"),
      "exact verify must run the native codegen dot product")
    assert(p.contains("graft_lsh_sigs"),
      "signature build must run the native kernel, not interpreted HOFs")
  }

  test("q57 tf-idf broadcasts only the one-row corpus count") {
    val p = plan(graft.operators.TextAnalysis.tfidfTopTerms(spark, sfDir))
    // the single nested-loop join is the broadcast one-row N frame; the
    // vocabulary join must stay an equi-join (shuffled or broadcast-hash)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) === 1,
      s"exactly the one-row count may nest-loop:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      "tf and df aggregates must both plan partial+final")
  }

  test("q58 centroids pay one hash shuffle for the per-dim aggregate") {
    val p = plan(graft.operators.Similarity.labelCentroids(spark, sfDir))
    assert(p.contains("partial_sum"),
      s"map-side partial decimal sum expected before the exchange:\n$p")
    // one hashpartitioning exchange for (label, d); the trailing orderBy
    // adds its rangepartitioning — nothing else may shuffle
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning")) === 1,
      s"exactly one hash shuffle for the centroid aggregate:\n$p")
  }

  test("q38 IVF broadcasts the pivot table on both assignment and probe") {
    val p = plan(Similarity.ivfTopK(spark, sfDir))
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) >= 2,
      "pivot cross joins must broadcast the small pivot side")
    // nearest-cell assignment is an aggregate (map-side partial), not a
    // window over the pivot-wide frame
    assert(p.contains("max_by"), s"expected max_by assignment:\n$p")
  }

  test("q39 composite join plans broadcast for the small keyed sources") {
    val p = plan(CompositeJoin.ordersComposite(spark, sfDir))
    assert(!p.contains("CartesianProduct"),
      "composite join must never plan a cartesian product")
    assert(p.contains("FullOuter") || p.contains("full_outer") ||
      p.contains("FullOuterJoin") || p.contains("SortMergeJoin FullOuter"),
      s"outer node must plan a real full outer join:\n$p")
  }

  test("q54 cq monitor plans no cartesian product and bounded collect_list") {
    val p = plan(graft.streaming.Continuous.cqMonitor(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cq monitor must join per-key and global frames on w_start:\n$p")
    // collect_list only appears AFTER the per-(window, key) aggregate, so
    // its buffer is bounded by event-type cardinality, not stream volume
    assert(p.contains("collect_list") || p.contains("sort_array"))
  }

  test("q55 percentile plans one partial buffer before the shuffle") {
    val p = plan(graft.operators.TextAnalysis.lengthQuantiles(spark, sfDir))
    // map-side partial aggregation (combiner) must run before the exchange,
    // and the array-of-percentages form must keep ONE value buffer per
    // group — four separate percentile calls would quadruple agg state
    assert(p.contains("partial_percentile"), s"expected partial agg:\n$p")
    assert("partial_percentile".r.findAllIn(p).size === 1,
      "one buffered percentile call, not one per quantile")
    val scan = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(scan.contains("source") && scan.contains("n_chars") &&
      !scan.contains("text"), s"scan must prune to (source, n_chars): $scan")
  }

  test("partitioned table prunes to the one filtered ds directory (input_part1)") {
    // the reference's PartitionPruner (ql/parse/PartitionPruner.java:49)
    // plans only matching ds= partitions; Spark-first that is partition
    // discovery + PartitionFilters on the scan. writePartitionedByKey (S15)
    // is the layout mechanism.
    import org.apache.spark.sql.functions._
    val out = "target/tmp/events_ds_part"
    rmrf(out)
    val src = Tables.events(spark, sfDir)
      .withColumn("ds", date_format(col("ts"), "yyyy-MM-dd"))
    graft.sources.IO.writePartitionedByKey(
      src.select(col("event_id"), col("event_type"), col("value"), col("ds")),
      "ds", out)
    val dsDirs = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("ds="))
    assert(dsDirs >= 2, "fixture must fan out to multiple ds partitions")
    val q = spark.read.parquet(out)
      .filter(col("ds") === "2024-01-03")
      .select(col("event_id"), col("event_type"))
    val rows = q.collect()
    // correctness: identical to the date filter over the unpartitioned source
    val twin = src.filter(col("ds") === "2024-01-03")
      .select(col("event_id"), col("event_type")).collect()
    assert(rows.map(_.toSeq).toSet === twin.map(_.toSeq).toSet && rows.nonEmpty)
    val p = q.queryExecution.executedPlan
    assert(p.toString.contains("PartitionFilters") &&
      p.toString.contains("2024-01-03"),
      s"ds predicate must become a partition filter on the scan:\n$p")
    // pruned FILE count: the scan's file index, narrowed by its partition
    // filters, must list exactly the one ds directory
    val scan = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val pruned = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters)
    assert(pruned.length === 1,
      s"expected exactly 1 pruned partition, got ${pruned.length} of $dsDirs")
  }

  test("bucketed catalog tables join with zero exchanges (J1 CLUSTERED BY form)") {
    // Hive.g:222 CLUSTERED BY ... INTO n BUCKETS: co-bucketed layout makes
    // the join shuffle-free — the catalog-table twin of the path-based
    // composite join. Broadcast disabled so the plan must prove it with a
    // sort-merge join over the bucketed scans, not by broadcasting.
    import org.apache.spark.sql.functions._
    Seq("bkt_orders", "bkt_customer").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rmrf(s"spark-warehouse/$t")
    }
    graft.sources.IO.writeBucketedTable(
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "bkt_orders", "o_custkey", 4)
    graft.sources.IO.writeBucketedTable(
      Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_nationkey")),
      "bkt_customer", "c_custkey", 4)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val j = spark.table("bkt_orders")
        .join(spark.table("bkt_customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey"), col("o_totalprice"))
      val rows = j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$p")
      assert(p.contains("SelectedBucketsCount"),
        s"both scans must read bucketed:\n$p")
      // correctness twin: same join over the raw (unbucketed) tables
      val twin = Tables.orders(spark, sfDir)
        .join(Tables.customer(spark, sfDir),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey"), col("o_totalprice"))
        .collect()
      assert(rows.map(_.toSeq).toSet === twin.map(_.toSeq).toSet
        && rows.nonEmpty)
    } finally {
      spark.conf.set(key, old)
      Seq("bkt_orders", "bkt_customer").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("ngram pair stage gates the index with a semi-join before aggregating") {
    val p = Dedup.ngramJaccardOf(
      Tables.documents(spark, sfDir)).queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), "df gate must survive into the physical plan")
    val semiIdx = p.indexOf("LeftSemi")
    val collectIdx = p.indexOf("collect_list")
    assert(collectIdx >= 0 && semiIdx > collectIdx,
      "collect_list (printed above its semi-join input) must consume the gated index")
  }

  test("ngram pair emission runs the streaming generator, not the HOF chain") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    StageMemo.clear() // cached AQE plans render Initial+Final sections
    val docs = Tables.documents(spark, sfDir)
    // a string-keyed corpus takes the same generator, through the
    // fingerprint dictionary
    val stringKeyed = plan(Dedup.ngramJaccardOf(docs.select(
      concat(lit("doc-"), col("doc_id").cast("string")).as("doc_id"),
      col("text"))))
    val p = plan(Dedup.ngramJaccardOf(docs))
    for (q <- Seq(p, stringKeyed)) {
      assert(q.contains("graft_doc_id_len_pairs"),
        s"the DocIdLenPairs generator must carry the pair explode:\n$q")
      assert(!q.contains("slice("),
        s"the interpreted HOF pair chain must be gone from the plan:\n$q")
    }
    // the r19 shape: doc lengths ride the emission, so the pair frame is
    // joined back to docLen ZERO times (the r18 plan exchanged the pair
    // frame by d1 and again by d2 against a tiny pinned-shuffled side)
    val joins = "ShuffledHashJoin".r.findAllIn(p).size
    assert(joins <= 2,
      s"expected only the df-gate semi-join and the docLen-on-postings " +
        s"join, got $joins shuffled joins:\n$p")
  }

  test("q119 prefix path: broadcast array verify, no cartesian, gated gen") {
    StageMemo.clear()
    val p = plan(Dedup.ngramJaccardPrefix(spark, sfDir))
    // the verify joins are the BROADCAST the operator's byte budget prices
    // (auto mode picks broadcast at fixture scale)
    assert(p.contains("BroadcastHashJoin"),
      s"array verify must be a broadcast hash join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no unkeyed join anywhere in the prefix path:\n$p")
    // candidate generation streams through the POSITIONAL generator over
    // the prefix postings, and the df gate survives to the physical plan
    assert(p.contains("graft_doc_id_rem_pairs"),
      s"positional generator expected:\n$p")
    assert(p.contains("graft_sorted_intersect_at_least"),
      s"native early-exit merge kernel expected in the verify:\n$p")
  }

  test("q120 prefix merge verify: zero broadcast relations anywhere") {
    StageMemo.clear()
    val p = plan(Dedup.ngramJaccardPrefixMerge(spark, sfDir))
    // the no-broadcast contract IS the operator: past the byte budget
    // this is the shape that runs, and it must never smuggle a broadcast
    // back in via AQE or join reordering
    assert(!p.contains("BroadcastExchange") &&
      !p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"merge verify must plan NO broadcast relation:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unkeyed join:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"co-partitioned array joins must be shuffled hash joins:\n$p")
    assert(p.contains("graft_doc_id_rem_pairs"),
      s"positional generator expected:\n$p")
    // the early-exit kernel runs the final merge verify
    assert(p.contains("graft_sorted_intersect_at_least"),
      s"native early-exit merge kernel expected in the verify:\n$p")
  }

  test("q122 containment merge verify: zero broadcast, oriented generator") {
    StageMemo.clear()
    val p = plan(Dedup.containmentPrefixMerge(spark, sfDir))
    // same at-scale contract as q120, on the one-sided containment path
    assert(!p.contains("BroadcastExchange") &&
      !p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"containment merge verify must plan NO broadcast relation:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unkeyed join:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"co-partitioned array joins must be shuffled hash joins:\n$p")
    // candidates stream through the ORIENTED generator (prefix members
    // start pairs against the full gated posting list)
    assert(p.contains("graft_doc_id_rem_contain_pairs"),
      s"oriented containment generator expected:\n$p")
    assert(p.contains("graft_sorted_intersect_at_least"),
      s"native early-exit merge kernel expected in the verify:\n$p")
  }

  test("q126 sketch containment merge verify: zero broadcast, " +
      "early-exit kernel, no unkeyed join") {
    StageMemo.clear()
    val p = plan(operators.Dedup.containmentSketchOfShingles(
      operators.Dedup.shinglesOf(Tables.documents(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))),
      500000L, 100, k = 8, verify = "merge", verifyChunks = 1))
    // the sketch path's at-scale contract mirrors q122's: candidates
    // from the bottom-k join (keyed, shuffled), no broadcast anywhere in
    // the forced-merge shape, exact verify through the native kernel
    assert(!p.contains("BroadcastExchange") &&
      !p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"sketch merge verify must plan NO broadcast relation:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unkeyed join:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"co-partitioned joins must be shuffled hash joins:\n$p")
    assert(p.contains("graft_sorted_intersect_at_least"),
      s"native early-exit merge kernel expected in the verify:\n$p")
  }

  test("q127 dictionary route keeps the sketch's merge shape: dict " +
      "join-backs shuffled, no broadcast, no unkeyed join") {
    StageMemo.clear()
    import org.apache.spark.sql.functions.{col, concat, lit, lpad}
    // the string-keyed route adds two corpus-sized dictionary join-backs
    // after the verify — they are hinted shuffle_hash (the dictionary is
    // corpus-sized at 100 TB; a silently-dropped hint would broadcast or
    // sort-merge it) and nothing in the route may introduce a broadcast
    // or an unkeyed join into the forced-merge shape
    val docs = Tables.documents(spark, sfDir).select(
      concat(lit("doc-"), lpad(col("doc_id").cast("string"), 9, "0"))
        .as("doc_id"), col("text"))
    val p = plan(operators.Dedup.containmentSketchOf(docs, k = 8,
      verify = "merge", verifyChunks = 1))
    assert(!p.contains("BroadcastExchange") &&
      !p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dict route must plan NO broadcast relation:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unkeyed join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"dict join-backs must stay shuffled hash, not sort-merge:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"co-partitioned joins must be shuffled hash joins:\n$p")
  }

  test("q128 calibration ladder plans keyed joins only — no unkeyed " +
      "join, no corpus-sized broadcast") {
    StageMemo.clear()
    // the ladder's ground-truth stage is the sketch's candidate/verify
    // machinery (already plan-disciplined); the ladder-specific joins —
    // the rmin rank join and its container left_semi — are keyed and
    // the semi side is hinted shuffled (corpus-sized at 100 TB). The
    // only permissible broadcast is the 8-row k frame.
    val p = plan(operators.Dedup.containmentSketchCalibration(
      spark, sfDir, verify = "merge"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ladder must plan no unkeyed join:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"the rmin/semi joins must stay shuffled hash:\n$p")
  }

  private def exchanges(p: String): Seq[String] =
    p.linesIterator.filter(_.contains("Exchange")).toSeq

  test("per-row-map tier plans exactly one exchange: the presentation sort") {
    // pii scan, hash split, and the quantization audit are contractually
    // zero-shuffle maps — the ONLY exchange each may plan is the
    // rangepartitioning of its final orderBy
    for ((name, df) <- Seq(
        "pii_scan" -> operators.Curation.piiScan(spark, sfDir),
        "hash_split" -> operators.Curation.assignSplits(spark, sfDir),
        "quantize_int8" -> operators.Similarity.quantizeInt8(spark, sfDir))) {
      val ex = exchanges(plan(df))
      assert(ex.size == 1 && ex.head.contains("rangepartitioning"),
        s"$name should shuffle only for the output sort, planned:\n${ex.mkString("\n")}")
    }
  }

  test("q60 sequence packing pays one hash shuffle for the per-source window") {
    val p = plan(operators.TextAnalysis.packSequences(spark, sfDir))
    val ex = exchanges(p)
    assert(ex.count(_.contains("hashpartitioning")) == 1,
      s"exactly one window shuffle expected:\n${ex.mkString("\n")}")
    assert(ex.size == 2, s"window + sort only:\n${ex.mkString("\n")}")
  }

  test("q62 epoch mix broadcasts the weight policy, never shuffles it") {
    val p = plan(operators.Curation.epochMix(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      "mixing recipe must join broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"no shuffled join for a few-row policy:\n$p")
  }

  test("q65 source overlap plans no join at all — set state, not fan-out") {
    val p = plan(operators.Dedup.sourceOverlap(spark, sfDir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "the bounded collect_set form must not plan the digest self-join")
  }

  test("q70 perplexity broadcasts only the one-row total, vocab join stays equi") {
    val p = plan(operators.TextAnalysis.perplexity(spark, sfDir))
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) === 1,
      s"exactly the one-row corpus total may nest-loop:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q71 count-min sketch cells aggregate partial before the shuffle") {
    val p = plan(operators.TextAnalysis.countMinTopTokens(spark, sfDir))
    // partial+final pairs for the cell counts and the exact audit side —
    // the sketch's map-side state is d x w cells, which is the whole point
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"cell and exact aggregates must both plan partial+final:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the exact-audit top-k is a BOUNDED heap (orderBy.limit → TakeOrdered,
    // the bm25/pmi/token-merges sibling pattern), never a row_number window
    // over the full vocabulary that sorts it in one partition (r11 verdict:
    // that shape leaned on Spark's InferWindowGroupLimit rescue)
    assert(p.contains("TakeOrderedAndProject"),
      s"the vocabulary top-k must plan as a bounded heap:\n$p")
  }

  test("q73 k-means assignment plans as a pure map: no exchange, no join") {
    import spark.implicits._
    // centers are driver-held literals, so scoring+argmin must compile to
    // a projection over the scan — the property that makes each Lloyd
    // iteration one pass at any corpus size
    val docs = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(64)(d => if (d == i % 4) 1.0 else 0.0)))
      .toDF("vec_id", "u")
    val p = plan(Similarity.kmeansOf(docs, k = 4, iters = 1))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"assignment must stay map-side:\n$p")
  }

  test("q75 bm25 top-k takes ordered, never globally sorts the corpus") {
    // pin the freshly-built plan: an already-materialized memo entry would
    // render its cached AQE plan with BOTH Final and Initial sections,
    // double-counting the operators asserted below
    StageMemo.clear()
    val p = plan(operators.TextAnalysis.bm25TopDocs(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must plan a bounded heap:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the 5-term query side must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 2,
      s"only the one-row totals may nest-loop:\n$p")
  }

  test("q77 dup spans: semi-join gate, per-doc window, no pair join") {
    val p = plan(operators.Dedup.duplicatedSpans(spark, sfDir))
    // the audit must never pair documents: the dup gate is a semi-join on
    // the window fingerprint and coverage is a doc-partitioned window
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"pair-free plan expected:\n$p")
    assert(p.contains("LeftSemi"), s"df gate must stay a semi-join:\n$p")
    // the dup-fingerprint list grows with the corpus: broadcast would die
    // at scale, so the semi-join must stay a shuffled hash join
    assert(!p.contains("BroadcastHashJoin"),
      s"fingerprint keep-list must not broadcast:\n$p")
    // the scan must read only the two columns the audit touches
    val scan = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(scan.contains("doc_id") && scan.contains("text") &&
      !scan.contains("source") && !scan.contains("n_chars"),
      s"scan must prune to (doc_id, text): $scan")
  }

  test("q78 containment reuses q21's gated candidate shape") {
    val p = plan(operators.Dedup.containment(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // both the df keep-list and the docLen joins are corpus-sized: pinned
    // shuffled-hash like q21 (broadcast dies at a 10x staged smoke)
    assert(p.contains("ShuffledHashJoin"), s"shuffle_hash pin expected:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge in the chain:\n$p")
  }

  test("q79 hard negatives broadcast the query side like q26") {
    val p = plan(operators.Similarity.hardNegatives(spark, sfDir))
    // non-equi predicate (id + label mismatch) over a bounded broadcast
    // query side — exactly one nested-loop, never a cartesian
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) === 1,
      s"one broadcast nest-loop for the bounded query side:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q80 rrf fusion joins two bounded top-k heaps only") {
    StageMemo.clear() // fresh memo — see the q75 note
    val p = plan(operators.Similarity.rrfFusion(spark, sfDir))
    // both rankers end in TakeOrdered heaps; the fusion join touches <= 2n
    // rows regardless of corpus size
    assert(p.contains("TakeOrderedAndProject"),
      s"bounded heaps expected:\n$p")
    assert(!p.contains("CartesianProduct"))
    // nest-loops allowed: bm25's one-row totals (<= 2) and the one-row
    // broadcast query vector — never a corpus × corpus loop
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 3,
      s"only one-row frames may nest-loop:\n$p")
  }

  test("q81 curation funnel pins every corpus-sized join shuffled-hash") {
    val p = plan(operators.Curation.curationFunnel(spark, sfDir))
    // keeper list, loser list, and quality frame are all corpus-sized:
    // none may broadcast, and nothing may pair documents
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("ShuffledHashJoin"), s"shuffle_hash pins expected:\n$p")
    assert(!p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
      l.contains("doc_id")), s"corpus-sized doc joins must not broadcast:\n$p")
  }

  test("q82 cluster terms joins the corpus-sized assignment shuffled") {
    val p = plan(operators.TextAnalysis.clusterTerms(spark, sfDir))
    assert(!p.contains("CartesianProduct"))
    // the assignment frame is one row per vector — shuffled-hash pinned;
    // only the k-row population frame may broadcast
    assert(p.contains("ShuffledHashJoin"),
      s"assignment join must stay shuffled:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) <= 1,
      s"only the k-row population frame may broadcast:\n$p")
  }

  test("q63 passage dedup is aggregate-only: no join anywhere in the plan") {
    val p = plan(operators.Dedup.passageDedup(spark, sfDir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"passage dedup must be a pure two-level aggregate:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "expected map-side partial aggregate before the shuffle")
  }

  test("q66 vocab growth runs its only single-partition stage over bins") {
    val p = plan(operators.TextAnalysis.vocabGrowth(spark, sfDir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"))
    // the cumulative window is the one SinglePartition exchange, and it
    // consumes the per-BIN aggregate (corpus/binDocs rows), never terms
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) === 1,
      s"exactly the bin cumsum may single-partition:\n$p")
    assert(p.contains("windowspecdefinition(bin#"),
      s"the window must run over bin rows:\n$p")
  }

  test("q68 embed clusters plan no pair explosion on either contraction path") {
    // Both contraction paths are checked for the hazards that would fail
    // at scale: a cartesian/nested-loop pair join. The label joins are
    // size-based equi-joins over frames whose stats Catalyst SEES (the
    // driver path's labels are a LocalRelation bounded by the edge gate;
    // the distributed path's ride a localCheckpointed edge frame), so a
    // fixture-scale broadcast there is the optimizer working with accurate
    // sizes — at corpus scale the same stats forbid it. Only the shapeless
    // hazards are pinned.
    for (budget <- Seq(0L, 100000L)) {
      val p = plan(operators.Similarity.embeddingDedupClusters(spark, sfDir,
        driverEdgeBudget = budget))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"pair explosion at driverEdgeBudget=$budget:\n$p")
    }
  }

  test("q69 canonical docs pin the corpus-sized quality join shuffled") {
    val p = plan(operators.Curation.canonicalDocs(spark, sfDir))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("ShuffledHashJoin"),
      s"quality join must stay shuffled (one row per doc on both sides):\n$p")
    // the keep window partitions by cluster — never a global window
    assert(p.contains("windowspecdefinition(cluster#"),
      s"row_number must partition by cluster:\n$p")
  }

  test("q72 split leakage pins both corpus-sized split probes shuffled") {
    val p = plan(operators.Curation.splitLeakage(spark, sfDir))
    assert(!p.contains("CartesianProduct"))
    assert(p.linesIterator.count(_.contains("ShuffledHashJoin")) >= 2,
      s"both split probes (one row per doc) must stay shuffled:\n$p")
  }

  test("q74 semdedup shuffles the within-cluster self-join on the cluster key") {
    val p = plan(operators.Similarity.semDedup(spark, sfDir))
    assert(!p.contains("CartesianProduct"))
    assert(p.linesIterator.exists(l => l.contains("ShuffledHashJoin") &&
      l.contains("cluster#")),
      s"the assignment self-join (corpus-sized both sides) must shuffle:\n$p")
  }

  test("q83 blockhash is a pure per-row map: no join, no shuffle at all") {
    val p = plan(operators.Multimodal.blockhashOf(
      Tables.documents(spark, sfDir)))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"fingerprinting must not join:\n$p")
    // the native kernel computes the whole fingerprint in-row — the old
    // explode/agg/window chain shuffled n_chars rows three times
    assert(!p.contains("Exchange") && !p.contains("HashAggregate") &&
      !p.contains("Window"),
      s"the native kernel leaves nothing to shuffle:\n$p")
    assert(p.contains("graft_blockhash"),
      s"the codegen kernel expression drives the scan:\n$p")
  }

  test("q84 media near-dup joins bands only, never the cross product") {
    val p = plan(operators.Multimodal.blockhashPairs(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"banded join only:\n$p")
  }

  test("q85 media clusters plan no pair explosion on either contraction path") {
    for (budget <- Seq(0L, 100000L)) {
      val p = plan(operators.Multimodal.blockhashClusters(spark, sfDir,
        driverEdgeBudget = budget))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"pair explosion at driverEdgeBudget=$budget:\n$p")
    }
  }

  test("q87 incremental dedup pins every corpus-sized join shuffled") {
    StageMemo.clear()
    val p = plan(operators.Dedup.incrementalDedup(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no pair explosion:\n$p")
    // digest self-join, loser probe, and verdict joins are all one-row-
    // per-doc on both sides
    assert(p.contains("ShuffledHashJoin"), s"shuffle_hash pins expected:\n$p")
  }

  test("q87's production path gates candidates before the posting join") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val p = plan(operators.Dedup.incrementalDedupOf(docs,
      pmod(col("doc_id"), lit(10)) === 0))
    // the df gate is a semi-join BEFORE any posting list pairs up, and
    // nothing in the plan forms a cross product
    assert(p.contains("LeftSemi"), s"df-gate semi-join expected:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no pair explosion:\n$p")
  }

  test("q89 token merges end in a bounded heap; unigrams join post-cut") {
    StageMemo.clear()
    val p = plan(operators.TextAnalysis.tokenPairMerges(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"bounded top-k heap expected:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the vocabulary-sized unigram frame is SEMI-joined down to <= 2k
    // winning terms before any broadcast — so every broadcast in the plan
    // is of a k-bounded frame
    assert(p.contains("LeftSemi"),
      s"the unigram cut must be a semi-join:\n$p")
  }

  test("q90 scene cuts: join-free, windows bounded by doc/frame keys") {
    val p = plan(operators.Multimodal.sceneCuts(spark, sfDir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"fingerprint + lag must not join:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no global single-partition stage:\n$p")
    assert(p.contains("windowspecdefinition(doc_id#"),
      s"windows must partition by document:\n$p")
  }

  test("q91 shingle novelty plans no pair join, doc joins pinned shuffled") {
    StageMemo.clear()
    val p = plan(operators.Dedup.shingleNovelty(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no pair join:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"first-seen and coverage joins must stay shuffled:\n$p")
  }

  test("q92/q93 pin the corpus-sized composition joins shuffled") {
    StageMemo.clear()
    for (df <- Seq(operators.Curation.tokenYield(spark, sfDir),
        operators.Curation.datasetCard(spark, sfDir))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"no pair explosion:\n$p")
      assert(p.contains("ShuffledHashJoin"),
        s"decision/quality joins (one row per doc both sides) shuffled:\n$p")
    }
  }

  test("q95 token budget windows on source, no join, no global window") {
    val p = plan(operators.Curation.tokenBudget(spark, sfDir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"pure scan + windows, no join:\n$p")
    assert(p.contains("windowspecdefinition(source#"),
      s"exact window must partition by source:\n$p")
    assert(p.contains("(doc_id#") && p.contains("% 8"),
      s"salted partial window must precede the exact one:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-partition stage before the presentation sort:\n$p")
  }

  test("q96 train order exchanges on shard only, sorts within shard") {
    val p = plan(operators.Curation.trainOrder(spark, sfDir))
    assert(!p.contains("Join"), s"pure map + per-shard window:\n$p")
    assert(p.contains("windowspecdefinition(shard#"),
      s"window must partition by shard:\n$p")
    assert(p.contains("hashpartitioning(shard#"),
      s"the one data exchange hashes on shard:\n$p")
  }

  test("q97 dim stats partial-aggregates the exploded frame map-side") {
    val p = plan(operators.Similarity.dimStats(spark, sfDir))
    assert(!p.contains("Join"), s"per-dim rollup joins nothing:\n$p")
    assert(p.contains("Generate posexplode"),
      s"dims fan out via posexplode:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_count")),
      s"aggregate must partial-combine before the dim shuffle:\n$p")
  }

  test("q98 boilerplate pins the df join shuffled over the shingle key") {
    StageMemo.clear()
    val p = plan(operators.Dedup.boilerplate(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no pair explosion:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"df-side is corpus-sized: the shingle join must stay shuffled:\n$p")
  }

  test("q100 snapshot diff ships digests, not text, into the outer join") {
    val p = plan(operators.Curation.snapshotDiff(spark, sfDir))
    assert(p.contains("ShuffledHashJoin") && p.contains("FullOuter"),
      s"corpus-sized sides full-outer join shuffled:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // the md5 projection must be below the exchange: no `text` column may
    // cross the wire
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(ex.nonEmpty && !p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("text#")),
      s"only (doc_id, fp) may shuffle:\n$p")
  }

  test("q76 temperature mix broadcasts rates, nest-loops only the totals") {
    val p = plan(operators.Curation.temperatureMix(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      "per-source rates must broadcast back onto the corpus")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) === 1,
      s"exactly the one-row normalizer may nest-loop:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("q101 term drift joins the vocab frame shuffled, totals broadcast") {
    val p = plan(operators.TextAnalysis.termDrift(spark, sfDir))
    assert(p.contains("ShuffledHashJoin"),
      s"the corpus-term frame is vocabulary-sized — never broadcast:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) === 1,
      s"exactly the one-row corpus total may nest-loop:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("q102 column audit is join-free and prunes each scan to one column") {
    val p = plan(operators.Curation.columnAudit(spark, sfDir))
    assert(!p.contains("Join"), s"independent per-column aggregates:\n$p")
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.size === 5, s"one scan per audited column:\n$p")
    scans.foreach { l =>
      val schema = l.substring(l.indexOf("ReadSchema: struct<"))
      assert(!schema.takeWhile(_ != '>').contains(","),
        s"scan must read exactly its own column: $l")
    }
  }

  test("q103 PMI joins only k-bounded frames; totals nest-loop one row each") {
    val p = plan(operators.TextAnalysis.pmiCooc(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) === 2,
      s"exactly the two one-row totals may nest-loop:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a bounded heap, not a global sort:\n$p")
  }

  test("q104 JL projection broadcasts only the sign matrix; partial agg") {
    val p = plan(operators.Similarity.jlProjection(spark, sfDir))
    // the one join is the dim-count sign-matrix broadcast (model-fixed,
    // never corpus-sized); the corpus side must not shuffle for it
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) === 1,
      s"exactly the sign-matrix broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus side never shuffles for the sign join:\n$p")
    assert(p.contains("Generate posexplode"),
      s"dims fan out via posexplode:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_sum")),
      s"the (vec, j) sum must partial-combine before its shuffle:\n$p")
  }

  test("q105 threshold sweep rides the gated index; corpus joins shuffled") {
    StageMemo.clear()
    val p = plan(operators.Dedup.thresholdSweep(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no pair explosion:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"keep-list/docLen joins stay shuffled like q21's:\n$p")
    assert(p.contains("Generate explode"),
      s"ladder rungs come from the per-pair threshold explode:\n$p")
  }

  test("q110 normalized dedup: one hash-groupBy, no joins") {
    val p = plan(Dedup.normalizedDedup(spark, sfDir))
    assert(!p.contains("Join"),
      s"a per-row canonicalize + digest groupBy must not join:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_")),
      s"the digest groupBy must partial-combine map-side:\n$p")
    val scan = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(scan.contains("doc_id") && scan.contains("text") &&
      !scan.contains("source"),
      s"scan reads only the two consumed columns: $scan")
  }

  test("q111 lsh planner rides the gated index; rollup partial-combines") {
    StageMemo.clear()
    val p = plan(Dedup.lshPlanner(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no pair explosion:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"keep-list/docLen joins stay shuffled like q21's:\n$p")
    assert(p.contains("Generate explode"),
      s"config rows come from the per-pair banding explode:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_")),
      s"the 4-row rollup must partial-combine before its shuffle:\n$p")
  }

  test("q113 quality sweep: ONE corpus scan, join-free, partial rollup") {
    val p = plan(operators.TextAnalysis.qualitySweep(spark, sfDir))
    // the sentinel-rung design makes the totals part of the same rollup:
    // no join of any kind, and the corpus is scanned exactly once
    assert(!p.contains("Join"), s"the sweep must not join:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) === 1,
      s"one corpus scan only (the docstring's single-pass claim):\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_")),
      s"the rung rollup must partial-combine before its shuffle:\n$p")
  }

  test("q114 split balance: one scan, join-free, partial rollup") {
    val p = plan(operators.Curation.splitBalance(spark, sfDir))
    assert(!p.contains("Join"), s"per-row maps + one rollup, no join:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) === 1,
      s"one corpus scan only:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_")),
      s"the split rollup must partial-combine before its shuffle:\n$p")
  }

  test("q112 training manifest: shuffled doc joins, partitioned window") {
    StageMemo.clear()
    val p = plan(operators.Curation.trainingManifest(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no pair explosion:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"keeper/loser/quality joins pinned shuffled:\n$p")
    // the read-order window must be (split, shard)-partitioned — a global
    // window would single-task the corpus
    val win = p.linesIterator.find(_.contains("windowspecdefinition")).get
    assert(win.contains("split") && win.contains("shard"),
      s"window partitioned by (split, shard): $win")
  }

  test("q106 cluster sizes: agg chain only, no pair explosion") {
    StageMemo.clear()
    val p = plan(operators.Curation.clusterSizes(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no pair explosion:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_count")),
      s"both rollups must partial-combine:\n$p")
  }

  test("q107 confusion matrix joins only the langs-bounded totals") {
    val p = plan(operators.TextAnalysis.langIdConfusion(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"),
      s"nothing corpus-sized survives to the join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"row totals broadcast onto the cells:\n$p")
  }

  test("q108 minhash accuracy pins the shingle-side joins shuffled") {
    StageMemo.clear()
    val p = plan(operators.Dedup.minhashAccuracy(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"no pair explosion:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"the candidate-x-shingle intersection joins stay shuffled:\n$p")
  }

  test("q109 ann recall: single truth pass, marker joins shuffled") {
    StageMemo.clear()
    val p = plan(operators.Similarity.annRecall(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"no all-pairs explosion:\n$p")
    // the hit markers left-join onto ONE truth list; the joined sides are
    // corpus/100-sized lists, pinned shuffled
    assert(p.linesIterator.exists(l => l.contains("ShuffledHashJoin") &&
      l.contains("LeftOuter")),
      s"the (q_id, neighbor) marker joins must stay shuffled:\n$p")
    // one brute-force chain, not one per audited path: the full-width
    // query-vs-corpus scan (the only non-equi BNLJ — the lsh/ivf chains'
    // Cross nest-loops are their documented one-row/√n broadcasts)
    // appears exactly once
    assert(p.linesIterator.count(l => l.contains("BroadcastNestedLoopJoin")
      && l.contains("NOT (vec_id")) === 1,
      s"truth computed once:\n$p")
  }

  test("q116 quantization recall: two query scans, shuffled marker join") {
    StageMemo.clear()
    val p = plan(operators.Similarity.quantizationRecall(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"no all-pairs explosion:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) === 2,
      s"two broadcast-query scans (full + dequantized):\n$p")
    assert(p.linesIterator.exists(l => l.contains("ShuffledHashJoin") &&
      l.contains("LeftOuter")),
      s"the top-k marker join stays shuffled like q109's:\n$p")
  }

  test("q117 stream twin: every pair tier is a banded equi-join") {
    StageMemo.clear()
    val p = plan(operators.Curation.crossModalStreamTwin(spark, sfDir))
    // three pair tiers (minhash bands, digests, blockhash bands) are all
    // keyed self-joins — nothing in the twin may fall back to an
    // all-pairs or non-equi plan at any scale
    assert(!p.contains("CartesianProduct"), s"no all-pairs explosion:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"every pair tier must join on its band/digest key:\n$p")
  }

  test("q115 truncation recall: two query scans, shuffled marker join") {
    StageMemo.clear()
    val p = plan(operators.Similarity.truncationRecall(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"no all-pairs explosion:\n$p")
    // both widths run the q26 shape EXACTLY ONCE: the 1%-query side
    // broadcasts against the corpus scan, never the reverse, and the
    // single-pass marker join keeps the truth chain from re-executing
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) === 2,
      s"two broadcast-query scans (full + truncated):\n$p")
    assert(p.linesIterator.exists(l => l.contains("ShuffledHashJoin") &&
      l.contains("LeftOuter")),
      s"the top-k marker join stays shuffled like q109's:\n$p")
  }
}
