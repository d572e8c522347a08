package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {

  test("exact dedup partitions the corpus") {
    val res = Dedup.exact(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(res.map(_.getAs[Long]("n_copies")).sum === nDocs)
    val keepers = res.map(_.getAs[Long]("keeper"))
    assert(keepers.distinct.length === keepers.length)
  }

  test("minhash LSH finds the planted near-duplicates") {
    val ngram = Dedup.ngramJaccard(spark, sfDir, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ngram.nonEmpty, "fixtures should contain planted near-dups")
    // LSH with 4 bands x 2 rows at jaccard>=0.9: collision prob per band
    // is ~0.81, overall ~1-(1-0.81)^4 > 0.998 — demand most are recalled.
    val recall = ngram.count(lsh.contains).toDouble / ngram.size
    assert(recall >= 0.8, s"LSH recall $recall too low (found ${lsh.size})")
  }

  test("dedup decisions drop exactly the near-dup pair losers") {
    val pairs = Dedup.ngramJaccard(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val losers = pairs.map(_._2).toSet
    val decisions = Dedup.deduplicate(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(decisions.size === Tables.documents(spark, sfDir).count())
    losers.foreach(d => assert(decisions(d) === 0, s"doc $d should drop"))
    assert(decisions.count(_._2 == 0) === losers.size)
    // the kept side of every pair survives unless itself a loser elsewhere
    pairs.foreach { case (d1, _) =>
      if (!losers.contains(d1)) assert(decisions(d1) === 1)
    }
  }

  test("hot shingles are df-gated before any posting list forms") {
    import spark.implicits._
    // Every doc shares the stopword-grade shingle "the quick fox"; only
    // docs 1 and 2 share rare shingles. With maxDf=3 the hot shingle
    // (df=6) must be discarded as a (shingle, count) pair — never collected.
    val docs = Seq(
      (1L, "the quick fox alpha beta gamma delta"),
      (2L, "the quick fox alpha beta gamma delta"),
      (3L, "the quick fox zeta eta theta"),
      (4L, "the quick fox iota kappa lambda"),
      (5L, "the quick fox mu nu xi"),
      (6L, "the quick fox omicron pi rho")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardOf(docs, threshold = 0.5, maxDf = 3)
    // docs 1,2: 5 shingles each, 4 survive the gate -> j = 4/(5+5-4) = 0.667
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)))
    // plan shape: the df semi-join gates the index BEFORE the collect_list
    // aggregation (the round-1 OOM hazard was collecting first).
    val plan = pairs.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected df semi-join gate in:\n$plan")
  }

  test("documents with fewer than 3 tokens produce no shingles or pairs") {
    import spark.implicits._
    val docs = Seq(
      (1L, ""), (2L, ""), (3L, "one two"), (4L, "one two"),
      (5L, "solo token here"), (6L, "solo token here")).toDF("doc_id", "text")
    // empty/short docs must NOT pair (unguarded sequence() fabricated
    // shingles for them, pairing empty docs at jaccard 1.0)
    val got = Dedup.ngramJaccardOf(docs, threshold = 0.1, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((5L, 6L)))
  }

  test("simhash pairs respect the blocking guarantee") {
    val pairs = Dedup.simhashPairs(spark, sfDir).collect()
    pairs.foreach { r =>
      assert(r.getAs[Long]("d1") < r.getAs[Long]("d2"))
      assert(r.getAs[Int]("dist") <= 3)
    }
    // pigeonhole exactness: blocked result == brute force at dist<=3
    val fp = Dedup.simhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (d1, h1) <- fp; (d2, h2) <- fp if d1 < d2
      dist = java.lang.Long.bitCount(h1 ^ h2) if dist <= 3
    } yield (d1, d2)).toSet
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === brute)
  }

  test("native shingle hashes are bit-identical to the portable SQL formula") {
    import spark.implicits._
    // the exact expression the DuckDB oracle runs, over the fixture corpus,
    // reinterpreted through the hex<->long BIJECTION (parse the 16-hex key
    // as an unsigned 64-bit integer = the big-endian fold of the same 8
    // digest bytes) — the contract that lets the long currency ship with
    // the oracle SQL untouched
    def hexToLong(h: String): Long = java.lang.Long.parseUnsignedLong(h, 16)
    val sqlForm = Tables.documents(spark, sfDir)
      .selectExpr("doc_id",
        "filter(split(text, '\\\\s+'), t -> t <> '') AS t")
      .selectExpr("doc_id",
        """explode(CASE WHEN size(t) >= 3 THEN
          |  transform(sequence(0, size(t)-3),
          |    i -> substring(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 16))
          |ELSE cast(array() as array<string>) END) AS s""".stripMargin)
      .distinct()
      .collect().map(r => (r.getLong(0), hexToLong(r.getString(1)))).toSet
    val native = Dedup.shingles(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native === sqlForm && native.nonEmpty)
    // unicode + short-doc edges: multi-byte tokens hash over UTF-8 bytes,
    // <3 tokens yield nothing
    val edge = Seq((1L, "héllo wörld ünïcode têst"), (2L, "too short"))
      .toDF("doc_id", "text")
    val e1 = graft.operators.Dedup.shinglesOf(edge)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e2 = edge
      .selectExpr("doc_id", "filter(split(text, '\\\\s+'), t -> t <> '') AS t")
      .selectExpr("doc_id",
        """explode(CASE WHEN size(t) >= 3 THEN
          |  transform(sequence(0, size(t)-3),
          |    i -> substring(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 16))
          |ELSE cast(array() as array<string>) END) AS s""".stripMargin)
      .distinct().collect()
      .map(r => (r.getLong(0), hexToLong(r.getString(1)))).toSet
    assert(e1 === e2)
    assert(e1.forall(_._1 == 1L), "2-token doc must produce no shingles")
  }

  test("shingle key fold regression fence: hex reconstruction inverts the " +
      "fold; signatures match a hand-built hex-keyed frame") {
    // the conf-selected hex currency twin was retired in r13; this fence
    // pins the two facts the retirement relies on — the long key IS the
    // hex key (bijection, already pinned vs the SQL form in the kernel
    // test above), and the minhash sigCol's pre-shuffle reconstruction
    // inverts the fold bit-for-bit, so signatures (the one key-VALUE
    // consumer) are what a hex-keyed pipeline would produce
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val longSh = Dedup.shinglesOf(docs)
    val asLong = longSh.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recon = longSh
      .select($"doc_id", lower(lpad(hex($"s"), 16, "0")).as("s"))
      .collect()
      .map(r => (r.getLong(0),
        java.lang.Long.parseUnsignedLong(r.getString(1), 16))).toSet
    assert(recon === asLong && asLong.nonEmpty)
    // signatures over the long frame == signatures over the equivalent
    // STRING-keyed frame (signaturesOf's non-long branch signs as-is)
    val hexFrame = longSh
      .select($"doc_id", lower(lpad(hex($"s"), 16, "0")).as("s"))
    def sigs(df: org.apache.spark.sql.DataFrame) =
      Dedup.signaturesOf(df).collect()
        .map(r => (r.getLong(0), (1 to 8).map(r.getString).mkString("|")))
        .toSet
    assert(sigs(longSh) === sigs(hexFrame))
  }

  test("interCounts: the length-carrying generator path equals the " +
      "fingerprint-dictionary route row for row") {
    import spark.implicits._
    // doc ids kept single-digit so the string route's lexicographic
    // (d1, d2) orientation matches the numeric one
    val shL = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 11L),
      (3L, 10L), (3L, 13L), (4L, 13L), (4L, 10L), (4L, 11L), (5L, 99L))
      .toDF("doc_id", "s")
    val viaGen = Dedup.interCountsOfShingles(shL, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val viaDict = Dedup.interCountsOfShingles(
      shL.select($"doc_id".cast("string").as("doc_id"), $"s"), maxDf = 10)
      .collect().map(r => (r.getString(0).toLong, r.getString(1).toLong,
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(viaGen === viaDict)
    assert(viaGen.nonEmpty)
    // spot-pin the carried lengths: doc 1 has 3 shingles total, doc 2
    // has 2, sharing {10, 11} -> (1, 2, i=2, c1=3, c2=2)
    assert(viaGen.contains((1L, 2L, 2L, 3L, 2L)))
  }

  test("pair generator golden fence: streams sorted pairs, " +
      "multiset-identical to the inline HOF formulation") {
    import spark.implicits._
    // the HOF pair emission is retired from the engine (every doc-id type
    // reaches the generator, non-bigint ids through the fingerprint
    // dictionary); this fence pins the generator's semantics against the
    // HOF FORMULATION inline: pairs are emitted d1 < d2 whatever the
    // posting-list order, duplicates pair like positional pairs, short
    // lists yield nothing, and each doc's count rides with its id
    val lists = Seq(
      (1L, Seq(5L -> 50L, 3L -> 30L, 9L -> 90L, 1L -> 10L)),
      // duplicate id: C(3,2) pairs incl. (7,7)
      (2L, Seq(7L -> 70L, 7L -> 70L, 2L -> 20L)),
      (3L, Seq(4L -> 40L)), // singleton: no pairs
      (4L, Seq.empty[(Long, Long)]))
      .toDF("k", "ps")
      .selectExpr("k",
        "transform(ps, p -> named_struct('doc_id', p._1, 'c', p._2)) AS ds")
    def multiset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val emitted = multiset(lists.select(graft.functions.TextFunctions
      .docIdLenPairs($"ds").as(Seq("d1", "d2", "c1", "c2"))))
    val hofTwin = multiset(lists.selectExpr(
        """inline(flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |    y -> IF(x.doc_id <= y.doc_id,
          |      struct(x.doc_id AS d1, y.doc_id AS d2, x.c AS c1, y.c AS c2),
          |      struct(y.doc_id AS d1, x.doc_id AS d2, y.c AS c1,
          |        x.c AS c2))))))""".stripMargin))
    assert(emitted === hofTwin)
    assert(emitted((1L, 9L, 10L, 90L)) == 1 &&
      emitted((7L, 7L, 70L, 70L)) == 1)
    assert(emitted.keys.forall { case (a, b, _, _) => a <= b })
    // c1/c2 are carried with their ids: every doc's count is 10 × its id
    assert(emitted.keys.forall { case (a, b, c1, c2) =>
      c1 == 10 * a && c2 == 10 * b })
    // the dictionary route: a STRING-keyed doc-id frame pairs through the
    // same generator with identical semantics (shingle 3 has df 1 and
    // dies at the gate; docLen still counts it)
    val viaLib = Dedup.interCountsOfShingles(
      Seq(("x", 1L), ("x", 2L), ("x", 3L), ("y", 1L), ("y", 2L))
        .toDF("doc_id", "s"), maxDf = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(viaLib === Set(("x", "y", 2L, 3L, 2L)))
  }

  test("prefix-filtered pairs reproduce the classic pair stage exactly, " +
      "including the rounding boundary") {
    import spark.implicits._
    // 1. fixture differential: q119's frame == q21's frame, row for row,
    //    in order (both orderBy(d1, d2))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val classic = rows(Dedup.ngramJaccard(spark, sfDir))
    val viaPrefix = rows(Dedup.ngramJaccardPrefix(spark, sfDir))
    assert(viaPrefix === classic && classic.nonEmpty)
    // both verify shapes produce the same frame: the broadcast fast path
    // (auto picks it at fixture scale) and the no-broadcast merge verify
    // (q120 — the past-budget shape)
    val viaMerge = rows(Dedup.ngramJaccardPrefixMerge(spark, sfDir))
    assert(viaMerge === classic)
    // and the CHUNKED merge verify (the disk-bounded single-box knob):
    // hash-disjoint chunks, union of chunk outputs == the single job
    val viaChunked = rows(Dedup.ngramJaccardPrefixOf(
      Tables.documents(spark, sfDir), verify = "merge", verifyChunks = 3))
    assert(viaChunked === classic)
    // 2. the exact-boundary pair: 9 distinct shingles each, 8 shared
    //    (tokens 1..11 with the last differing) -> J = 8/(9+9-8) = 0.8
    //    EXACTLY; the α floor must not prune it. The third doc shares 7
    //    -> 7/11 ≈ 0.636364, excluded by both paths.
    val toks = (1 to 11).map(i => s"tok$i")
    val docs = Seq(
      (1L, toks.mkString(" ")),
      (2L, (toks.init :+ "tokB").mkString(" ")),
      (3L, (toks.take(9) :+ "tokC" :+ "tokD").mkString(" ")))
      .toDF("doc_id", "text")
    val exact = rows(Dedup.ngramJaccardOf(docs).orderBy($"d1", $"d2"))
    val pref = rows(Dedup.ngramJaccardPrefixOf(docs))
    assert(pref === exact)
    assert(pref.exists { case (d1, d2, j) => d1 == 1L && d2 == 2L && j == 0.8 },
      s"boundary pair (1,2) @ 0.8 must survive prefix filtering: $pref")
    assert(!pref.exists { case (d1, d2, _) => d2 == 3L || d1 == 3L },
      s"sub-threshold pairs with doc 3 must stay excluded: $pref")
    // 3. threshold parameter sanity: at 0.6 the (1,3)/(2,3)-style pairs
    //    enter for both paths identically
    val exact06 = rows(Dedup.ngramJaccardOf(docs, threshold = 0.6)
      .orderBy($"d1", $"d2"))
    val pref06 = rows(Dedup.ngramJaccardPrefixOf(docs, threshold = 0.6))
    assert(pref06 === exact06 && pref06.size > pref.size)
  }

  test("sorted-intersect kernel counts like array_intersect on sorted input") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val df = Seq(
      (Array(1L, 3L, 5L, 7L), Array(3L, 4L, 5L, 9L)), // 2 shared
      (Array(1L, 2L), Array(3L, 4L)), // disjoint
      (Array.empty[Long], Array(1L)), // empty side
      (Array(2L, 2L, 5L), Array(2L, 5L))) // dup in input: merge advances both
      .toDF("a", "b")
    val got = df.select(TextFunctions.sortedIntersectCount($"a", $"b"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L, 0L, 0L, 2L))
    // differential vs the built-in on distinct sorted arrays (the
    // operator's inputs are sort_array(collect_list) over distinct
    // (doc_id, s) rows, so distinct-sorted is the real contract)
    val rnd = new scala.util.Random(7)
    val rand = Seq.fill(50)((
      rnd.shuffle((1L to 40L).toList).take(rnd.nextInt(20)).sorted.toArray,
      rnd.shuffle((1L to 40L).toList).take(rnd.nextInt(20)).sorted.toArray))
      .toDF("a", "b")
    val kernel = rand.select(TextFunctions.sortedIntersectCount($"a", $"b"))
      .collect().map(_.getLong(0)).toSeq
    val builtin = rand.selectExpr("size(array_intersect(a, b))")
      .collect().map(_.getInt(0).toLong).toSeq
    assert(kernel === builtin)
    // past the measured byte budget: auto mode DEMOTES to the merge
    // verify (same output, no broadcast), while an explicit
    // verify='broadcast' refuses loudly, quoting measured bytes and
    // naming the merge path — the caller demanded a shape that would
    // OOM the driver
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val demoted = Dedup.ngramJaccardPrefixOfShingles(
        Dedup.shinglesOf(docs), 0.8, 100, maxBroadcastBytes = 1L)
      .orderBy($"d1", $"d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val classic = Dedup.ngramJaccardOf(docs).orderBy($"d1", $"d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(demoted === classic && classic.nonEmpty)
    val e = intercept[IllegalArgumentException](
      Dedup.ngramJaccardPrefixOfShingles(Dedup.shinglesOf(docs), 0.8, 100,
        verify = "broadcast", maxBroadcastBytes = 1L))
    assert(e.getMessage.contains("merge") && e.getMessage.contains("bytes"))
    // and the verify parameter rejects typos instead of silently defaulting
    val t = intercept[IllegalArgumentException](
      Dedup.ngramJaccardPrefixOfShingles(Dedup.shinglesOf(docs), 0.8, 100,
        verify = "bcast"))
    assert(t.getMessage.contains("verify"))
  }

  test("early-exit intersect kernel: exact at or above the bound, " +
      "strictly below the bound when unreachable") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // the verify contract: under a filter that discards results below
    // `needed`, countAtLeast is indistinguishable from the exact count —
    // (a) full >= needed  ⇒ identical value; (b) full < needed ⇒ SOME
    // value < needed (so the filter drops it exactly like the truth)
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(200)((
      rnd.shuffle((1L to 60L).toList).take(rnd.nextInt(30)).sorted.toArray,
      rnd.shuffle((1L to 60L).toList).take(rnd.nextInt(30)).sorted.toArray,
      rnd.nextInt(25).toLong - 2L)) // needed in [-2, 22]: non-positive too
    val df = rows.toDF("a", "b", "k")
    val got = df.select(
      TextFunctions.sortedIntersectCount($"a", $"b").as("full"),
      TextFunctions.sortedIntersectAtLeast($"a", $"b", $"k").as("early"),
      $"k").collect()
    got.foreach { r =>
      val (full, early, k) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (full >= k) assert(early === full,
        s"reachable bound must return the exact count: $full/$early/$k")
      else assert(early < k && early <= full,
        s"unreachable bound must return below it: $full/$early/$k")
    }
    assert(got.exists(r => r.getLong(1) != r.getLong(0)),
      "the fixture must exercise at least one actual early exit")
  }

  test("positional pair generator: PPJoin first-match bound, d1 < d2, " +
      "rems carried; the bound never under-prunes a qualifying pair") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // emission semantics: pairs sorted by id with the folded positional
    // payload (minrem = least of the two rems, gsum = g1 + g2) carried
    // alongside; short/empty lists yield nothing; null elements rejected
    // upstream by construction (collect_list drops nulls)
    val lists = Seq(
      (1L, Seq((5L, 7L, 10L), (3L, 9L, 12L), (9L, 2L, 4L))), // 3 ids
      (2L, Seq((4L, 1L, 2L))), // singleton: no pairs
      (3L, Seq.empty[(Long, Long, Long)]))
      .toDF("k", "raw")
      .selectExpr("k",
        "transform(raw, x -> struct(x._1 AS doc_id, x._2 AS rem, " +
          "x._3 AS g)) AS ds")
    val emitted = lists.select(TextFunctions.docIdRemPairs($"ds")
        .as(Seq("d1", "d2", "minrem", "gsum")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(emitted === Set(
      (3L, 5L, 7L, 22L), (3L, 9L, 2L, 16L), (5L, 9L, 2L, 14L)))
    // end-to-end soundness of max(least(rem1, rem2)) + 1 as the overlap
    // bound: on a corpus where every true pair's exact intersection is
    // known (the classic stage), the prefix path with the positional
    // filter must lose nothing — across thresholds, including one where
    // prefixes are long (low t) and one where they are short (high t)
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    for (t <- Seq(0.5, 0.9)) {
      val exact = Dedup.ngramJaccardOf(docs, threshold = t)
        .orderBy($"d1", $"d2").collect().map(_.toSeq).toSeq
      val pref = Dedup.ngramJaccardPrefixOf(docs, threshold = t)
        .collect().map(_.toSeq).toSeq
      assert(pref === exact, s"threshold $t")
    }
  }

  test("prefix-filtered containment reproduces the classic stage exactly " +
      "in both orientations, all verify shapes") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // 1. fixture differential: q121's frame == q78's frame, row for row
    //    (both orderBy(contained, container)), across auto / forced
    //    merge / chunked verify shapes
    val classic = rows(Dedup.containment(spark, sfDir))
    assert(classic.nonEmpty)
    assert(rows(Dedup.containmentPrefix(spark, sfDir)) === classic)
    assert(rows(Dedup.containmentPrefixMerge(spark, sfDir)) === classic)
    assert(rows(Dedup.containmentPrefixOf(Tables.documents(spark, sfDir),
      verify = "merge", verifyChunks = 3)) === classic)
    // 2. the asymmetric shape the one-sided bound exists for: a short
    //    doc quoted verbatim inside a much longer one — containment
    //    flags (quoted → container) at 1e6 ppm while the reverse stays
    //    below threshold, and the prefix path must agree exactly
    val quoted = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(
      (1L, quoted),
      (2L, s"pre1 pre2 pre3 $quoted post1 post2 post3 post4 post5 post6"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8")
    ).toDF("doc_id", "text")
    val exact = rows(Dedup.containmentOf(Dedup.shinglesOf(docs)))
    val pref = rows(Dedup.containmentPrefixOf(docs))
    assert(pref === exact)
    assert(pref.map(r => (r._1, r._2)) === Seq((1L, 2L)),
      s"only the quoted->container orientation qualifies at 0.5: $pref")
    // 3. threshold sweep, including the ppm boundaries: the reverse
    //    orientation (8/17 ≈ 470588 ppm) enters EXACTLY at its floor
    //    ppm and not one above — floor-division parity with the oracle
    for (t <- Seq(300000L, 470588L, 470589L, 800000L, 1000000L)) {
      val e = rows(Dedup.containmentOf(Dedup.shinglesOf(docs),
        thresholdPpm = t))
      val p = rows(Dedup.containmentPrefixOf(docs, thresholdPpm = t))
      assert(p === e, s"thresholdPpm $t")
    }
    // 4. the INNER shingle-currency engine still refuses non-bigint ids
    //    loudly (the generators' contract), naming the classic stage
    val s = intercept[IllegalArgumentException](
      Dedup.containmentPrefixOfShingles(Dedup.shinglesOf(
        docs.select($"doc_id".cast("string").as("doc_id"), $"text")),
        500000L, 100))
    assert(s.getMessage.contains("containmentOf"))
  }

  test("string-keyed corpora ride the prefix paths through the " +
      "fingerprint dictionary, classic-stage-identical") {
    import spark.implicits._
    // URL-style string ids (the real-corpus shape the r14 verdict named):
    // the prefix path must produce EXACTLY the classic stage's pairs,
    // original ids restored, order/orientation derived from the ORIGINAL
    // ids (not fingerprint order, which is arbitrary)
    val docs = Tables.documents(spark, sfDir)
      .select(concat(lit("https://example.com/doc/"),
        $"doc_id".cast("string")).as("doc_id"), $"text")
    val classicJ = Dedup.ngramJaccardOf(docs).orderBy($"d1", $"d2")
      .collect().map(_.toSeq).toSeq
    val prefJ = Dedup.ngramJaccardPrefixOf(docs)
      .collect().map(_.toSeq).toSeq
    assert(prefJ === classicJ && classicJ.nonEmpty)
    val classicC = Dedup.containmentOf(Dedup.shinglesOf(docs))
      .collect().map(_.toSeq).toSeq
    val prefC = Dedup.containmentPrefixOf(docs)
      .collect().map(_.toSeq).toSeq
    assert(prefC === classicC && classicC.nonEmpty)
    // the classic stage shares the dictionary route, so pin it against
    // an independent reference: the BIGINT corpus's rows with ids mapped,
    // unordered pairs re-oriented by the mapped (string) ids
    def url(id: Any) = s"https://example.com/doc/$id"
    val longDocs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val classicJLongMapped = Dedup.ngramJaccardOf(longDocs).collect()
      .map { r =>
        val (a, b) = (url(r.get(0)), url(r.get(1)))
        Seq[Any](Seq(a, b).min, Seq(a, b).max, r.get(2))
      }.toSet
    assert(classicJ.toSet === classicJLongMapped)
    val classicCLongMapped = Dedup.containmentOf(Dedup.shinglesOf(longDocs))
      .collect().map(r => Seq[Any](url(r.get(0)), url(r.get(1)),
        r.get(2), r.get(3), r.get(4))).toSet
    assert(classicC.toSet === classicCLongMapped)
    // the SKETCH path rides the same dictionary route (r16 — the r15
    // form refused string ids and routed callers to the classic stage
    // that cannot run decades): degenerate k equals the classic stage
    // on the STRING corpus, the sized default is an exact-verified
    // subset, and the string twin's rows are the long corpus's rows
    // with ids mapped — the bottom-k sample is shingle-hash-ranked,
    // doc-id-independent
    val skFullS = Dedup.containmentSketchOf(docs, k = 1 << 20)
      .collect().map(_.toSeq).toSeq
    assert(skFullS === classicC)
    val skS = Dedup.containmentSketchOf(docs)
      .collect().map(_.toSeq).toSet
    assert(skS.subsetOf(classicC.toSet) && skS.nonEmpty)
    val skLongMapped = Dedup.containmentSketchOf(
        Tables.documents(spark, sfDir).select($"doc_id", $"text"))
      .collect().map(r => Seq[Any](
        s"https://example.com/doc/${r.get(0)}",
        s"https://example.com/doc/${r.get(1)}",
        r.get(2), r.get(3), r.get(4))).toSet
    assert(skS === skLongMapped)
    // the dictionary itself: one stable row per doc (an engineered
    // xxhash64 collision is not constructible, so the refusal's require
    // is covered by the count action running on every dictionary build)
    val dict = Dedup.docIdFingerprints(docs, "spec")
    assert(dict.count() === docs.count())
    assert(dict.select("doc_id").distinct().count() === docs.count())
    val twice = Dedup.docIdFingerprints(docs, "spec")
      .orderBy($"orig_id").collect().map(_.toSeq).toSeq
    assert(twice === dict.orderBy($"orig_id").collect().map(_.toSeq).toSeq,
      "the fingerprint mapping must be stable across builds")
  }

  test("oriented containment pair generator: prefix members start pairs, " +
      "both orientations, contained-side payload carried") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // emission semantics: one ordered (contained, container) row per
    // (prefix member, other member) with minrem = least of the two rems
    // and gc = the CONTAINED side's gated count; non-prefix members
    // never start a pair; self pairs skipped; short lists yield nothing
    val lists = Seq(
      (1L, Seq((5L, 7L, 10L, true), (3L, 9L, 12L, false),
        (9L, 2L, 4L, true))),
      (2L, Seq((4L, 1L, 2L, true))), // singleton: no pairs
      (3L, Seq((6L, 1L, 3L, false), (7L, 2L, 5L, false))), // no prefixes
      (4L, Seq.empty[(Long, Long, Long, Boolean)]))
      .toDF("k", "raw")
      .selectExpr("k",
        "transform(raw, x -> struct(x._1 AS doc_id, x._2 AS rem, " +
          "x._3 AS g, x._4 AS pfx)) AS ds")
    val emitted = lists.select(TextFunctions.docIdRemContainPairs($"ds")
        .as(Seq("dc", "dt", "minrem", "gc")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(emitted === Set(
      (5L, 3L, 7L, 10L), (5L, 9L, 2L, 10L),
      (9L, 5L, 2L, 4L), (9L, 3L, 2L, 4L)))
    // end-to-end soundness of the one-sided ladder (emission prune,
    // length filter, positional filter, suffix bound, early-exit
    // verify): against the classic stage's known-exact output the
    // prefix path must lose nothing, at a low threshold (long
    // prefixes) and a high one (short prefixes)
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    for (t <- Seq(250000L, 900000L)) {
      val exact = Dedup.containmentOf(Dedup.shinglesOf(docs),
        thresholdPpm = t).collect().map(_.toSeq).toSeq
      val pref = Dedup.containmentPrefixOf(docs, thresholdPpm = t)
        .collect().map(_.toSeq).toSeq
      assert(pref === exact, s"thresholdPpm $t")
    }
    // candidate-stage chunking (the 100× decade's disk bound): disjoint
    // contained-doc hash slices, each generated + verified in its own
    // jobs — the union must be EXACTLY the unchunked frame (slices
    // partition the contained side; every slice probes all containers)
    val exact5 = Dedup.containmentOf(Dedup.shinglesOf(docs))
      .collect().map(_.toSeq).toSeq
    val sliced = Dedup.containmentPrefixOf(docs, candChunks = 3)
      .collect().map(_.toSeq).toSeq
    assert(sliced === exact5)
    // and composed with the verify's own chunking (the two knobs nest)
    val sliced2 = Dedup.containmentPrefixOf(docs, verify = "merge",
      verifyChunks = 2, candChunks = 2).collect().map(_.toSeq).toSeq
    assert(sliced2 === exact5)
  }

  test("sketch-gated containment: exact-verified subset with bounded " +
      "misses; degenerates to the full candidate set at large k") {
    import spark.implicits._
    val sh = Dedup.shinglesOf(Tables.documents(spark, sfDir)
      .select($"doc_id", $"text"))
    val exact = Dedup.containmentOf(sh).collect().map(_.toSeq).toSeq
    assert(exact.nonEmpty)
    // 1. PRECISION 1: every sketch row is verified exactly, so the
    //    sketch output is a SUBSET of the exact output, row-identical
    val sk8 = Dedup.containmentSketchOfShingles(sh, 500000L, 100, k = 8)
      .orderBy($"contained", $"container").collect().map(_.toSeq).toSeq
    assert(sk8.toSet.subsetOf(exact.toSet))
    // 2. RECALL: miss prob <= (1-t')^k per qualifying pair (0.4% at
    //    t'=0.5, k=8) — and most fixture pairs sit far above t', where
    //    the bound collapses toward 0; allow a generous margin
    assert(sk8.size >= (exact.size * 0.95).toInt,
      s"sketch recall ${sk8.size}/${exact.size} below the fixture floor")
    // 3. k >= every doc's gated size ⇒ bottom-k IS the whole doc ⇒ the
    //    candidate set equals the full co-occurrence set ⇒ output
    //    IDENTICAL to the exact stage (the determinism anchor)
    val skAll = Dedup.containmentSketchOfShingles(sh, 500000L, 100,
        k = 1000000)
      .orderBy($"contained", $"container").collect().map(_.toSeq).toSeq
    assert(skAll === exact)
    // 4. verify-shape independence: forced merge == auto, like q121/q122
    val skM = Dedup.containmentSketchOfShingles(sh, 500000L, 100, k = 8,
        verify = "merge", verifyChunks = 2)
      .orderBy($"contained", $"container").collect().map(_.toSeq).toSeq
    assert(skM === sk8)
    // 5. domain refusals (below the MeasuredK sentinel, -1, since r17)
    //    — and the AutoK sentinel (k = 0, the r16 default) resolves the
    //    recall-sized width: 8 at t′ = 0.5 × target 0.995, so q126's
    //    output is unchanged by the default flip
    val e = intercept[IllegalArgumentException](
      Dedup.containmentSketchOfShingles(sh, 500000L, 100, k = -2))
    assert(e.getMessage.contains("k"))
    val skAuto = Dedup.containmentSketchOfShingles(sh, 500000L, 100)
      .orderBy($"contained", $"container").collect().map(_.toSeq).toSeq
    assert(skAuto === sk8)
  }

  test("AutoK sizes the sketch from the threshold and the stated " +
      "per-pair recall floor, minimally") {
    assert(Dedup.autoKFor(500000L, 995000L) === 8) // q126's regime
    assert(Dedup.autoKFor(800000L, 995000L) === 4)
    assert(Dedup.autoKFor(500000L, 750000L) === 2)
    // t′ = 1: one sampled shingle of a fully-contained doc is shared
    assert(Dedup.autoKFor(1000000L, 995000L) === 1)
    // the floor 1 − (1−t′)^k ≥ target holds at the resolved k, and k−1
    // would not clear it (minimality), across a threshold × target grid
    for (tp <- Seq(100000L, 300000L, 500000L, 800000L, 990000L);
         rt <- Seq(500000L, 900000L, 995000L, 999900L)) {
      val k = Dedup.autoKFor(tp, rt)
      val recallAt = (n: Int) => 1.0 - math.pow(1.0 - tp / 1e6, n)
      assert(recallAt(k) >= rt / 1e6 - 1e-12,
        s"floor fails at t'=$tp target=$rt k=$k")
      if (k > 1) assert(recallAt(k - 1) < rt / 1e6,
        s"k not minimal at t'=$tp target=$rt k=$k")
    }
    // a 1.0 floor is the exact path's contract, refused by name
    val e = intercept[IllegalArgumentException](
      Dedup.autoKFor(500000L, 1000000L))
    assert(e.getMessage.contains("exact path"))
  }

  test("randomized corpora: prefix paths equal the classic stages and " +
      "the sketch stays an exact-verified subset, across seeds") {
    import spark.implicits._
    // generated corpora with PLANTED pair structure (mutated copies +
    // verbatim quotes — random-token corpora alone rarely pair), so the
    // differential exercises qualifying pairs, near-misses at the
    // threshold, and asymmetric containment on shapes no fixture chose
    for (seed <- Seq(7, 23, 91)) {
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 40).map(i => s"w$i")
      def text(n: Int) =
        Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val base = (0L until 20L).map(i => (i, text(8 + rnd.nextInt(20))))
      val mutated = base.take(8).map { case (i, t) =>
        val toks = t.split(" ").toVector
        val j = rnd.nextInt(toks.size)
        (100L + i, toks.updated(j, vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }
      val quotes = base.slice(8, 12).map { case (i, t) =>
        (200L + i, s"${text(3)} $t ${text(2 + rnd.nextInt(6))}")
      }
      val docs = (base ++ mutated ++ quotes).toDF("doc_id", "text")
      val sh = Dedup.shinglesOf(docs)
      val classicJ = Dedup.ngramJaccardOf(docs, threshold = 0.5)
        .orderBy($"d1", $"d2").collect().map(_.toSeq).toSeq
      val prefJ = Dedup.ngramJaccardPrefixOf(docs, threshold = 0.5)
        .collect().map(_.toSeq).toSeq
      assert(prefJ === classicJ, s"jaccard prefix != classic at seed $seed")
      assert(classicJ.nonEmpty, s"seed $seed planted no jaccard pairs")
      val classicC = Dedup.containmentOf(sh).collect().map(_.toSeq).toSeq
      val prefC = Dedup.containmentPrefixOf(docs)
        .collect().map(_.toSeq).toSeq
      assert(prefC === classicC,
        s"containment prefix != classic at seed $seed")
      assert(classicC.nonEmpty, s"seed $seed planted no containment pairs")
      val sk = Dedup.containmentSketchOfShingles(sh, 500000L, 100, k = 6)
        .collect().map(_.toSeq).toSet
      assert(sk.subsetOf(classicC.toSet),
        s"sketch produced a non-exact row at seed $seed")
      val skFull = Dedup.containmentSketchOfShingles(sh, 500000L, 100,
          k = 1 << 20)
        .orderBy($"contained", $"container").collect().map(_.toSeq).toSeq
      assert(skFull === classicC, s"large-k sketch != classic at seed $seed")
    }
  }

  test("exchange pricing: auto knobs slice to a tiny budget exactly, " +
      "and refuse past the rails naming the bytes and the knobs") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    // 1. AUTO-PRICED chunking under a budget small enough to force
    //    multi-slice resolution at fixture scale: the output must be
    //    EXACTLY the classic stage's (the r15 contract — the operator
    //    sets its own knobs from measured volume, the driver never
    //    hand-sets candChunks/verifyChunks)
    val exact = Dedup.containmentOf(Dedup.shinglesOf(docs))
      .collect().map(_.toSeq).toSeq
    val auto = Dedup.containmentPrefixOf(docs, verify = "merge",
      diskBudgetBytes = 128L << 10).collect().map(_.toSeq).toSeq
    assert(auto === exact && exact.nonEmpty)
    val exactJ = Dedup.ngramJaccardOf(docs).orderBy($"d1", $"d2")
      .collect().map(_.toSeq).toSeq
    val autoJ = Dedup.ngramJaccardPrefixOf(docs, verify = "merge",
      diskBudgetBytes = 64L << 10).collect().map(_.toSeq).toSeq
    assert(autoJ === exactJ && exactJ.nonEmpty)
    // 2. a budget no slicing can satisfy REFUSES BEFORE any pair
    //    exchange launches (the r14 failure mode was ENOSPC hours in),
    //    naming the measured bytes, the budget, and the override knobs
    val ec = intercept[IllegalArgumentException](
      Dedup.containmentPrefixOf(docs, diskBudgetBytes = 64L))
    assert(ec.getMessage.contains("exchange bytes") &&
      ec.getMessage.contains("diskBudgetBytes") &&
      ec.getMessage.contains("candChunks"))
    val ej = intercept[IllegalArgumentException](
      Dedup.ngramJaccardPrefixOf(docs, verify = "merge",
        diskBudgetBytes = 64L))
    assert(ej.getMessage.contains("exchange bytes") &&
      ej.getMessage.contains("diskBudgetBytes"))
    val es = intercept[IllegalArgumentException](
      Dedup.containmentSketchOfShingles(Dedup.shinglesOf(docs), 500000L,
        100, k = 8, verify = "merge", diskBudgetBytes = 64L))
    assert(es.getMessage.contains("candidate distinct exchange") &&
      es.getMessage.contains("diskBudgetBytes"))
    // and the sketch's auto chunks stay output-identical under a small
    // budget that forces multi-chunk resolution
    val skAuto = Dedup.containmentSketchOfShingles(Dedup.shinglesOf(docs),
      500000L, 100, k = 8, verify = "merge",
      diskBudgetBytes = 128L << 10)
      .collect().map(_.toSeq.mkString(",")).sorted.toSeq
    val skOne = Dedup.containmentSketchOfShingles(Dedup.shinglesOf(docs),
      500000L, 100, k = 8, verify = "merge", verifyChunks = 1)
      .collect().map(_.toSeq.mkString(",")).sorted.toSeq
    assert(skAuto === skOne && skAuto.nonEmpty)
    // 3. explicit chunk knobs bypass the pricing entirely (a cluster
    //    with aggregate disk passes 1 and pays zero pricing actions) —
    //    one code path for all three families: containment's two knobs,
    //    and the one verifyChunks knob of Jaccard and the sketch
    val explicit = Dedup.containmentPrefixOf(docs, verify = "merge",
      verifyChunks = 1, candChunks = 1, diskBudgetBytes = 64L)
      .collect().map(_.toSeq).toSeq
    assert(explicit === exact)
    val explicitJ = Dedup.ngramJaccardPrefixOf(docs, verify = "merge",
      verifyChunks = 1, diskBudgetBytes = 64L).collect().map(_.toSeq).toSeq
    assert(explicitJ === exactJ)
    val explicitS = Dedup.containmentSketchOfShingles(Dedup.shinglesOf(docs),
      500000L, 100, k = 8, verify = "merge", verifyChunks = 1,
      diskBudgetBytes = 64L)
      .collect().map(_.toSeq.mkString(",")).sorted.toSeq
    assert(explicitS === skOne)
    // 4. the total-jobs rail fires when ANY knob was auto-resolved: an
    //    explicit candChunks=1 with an AUTO verifyChunks at an impossible
    //    budget must refuse, not silently resolve thousands of verify
    //    jobs (ADVICE r15 — the r15 rail required both knobs auto)
    val eo = intercept[IllegalArgumentException](
      Dedup.containmentPrefixOf(docs, verify = "merge",
        candChunks = 1, diskBudgetBytes = 64L))
    assert(eo.getMessage.contains("job rail") &&
      eo.getMessage.contains("BOTH chunk knobs"))
  }

  test("persisted index refuses legacy string-keyed shingles loudly") {
    // a pre-r12 hex-keyed index read by a long-keyed session would union
    // bigint∪string — Spark coerces to STRING and the long keys print as
    // decimal digits that never equal the 16-hex index keys, so every
    // cross-index probe silently finds nothing. The guard turns that
    // silent wrong-verdict mode into a refusal naming the rebuild path.
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "unrelated text entirely here")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_currency_guard").toString
    try {
      // a legacy index: the engine's long keys re-encoded as the 16-hex
      // strings the retired hex currency persisted
      Dedup.shinglesOf(docs.filter($"doc_id" <= 2))
        .select($"doc_id", lower(lpad(hex($"s"), 16, "0")).as("s"))
        .write.mode("overwrite").parquet(s"$dir/shingles")
      docs.filter($"doc_id" <= 2)
        .select($"doc_id", md5($"text").as("h"))
        .write.mode("overwrite").parquet(s"$dir/hashes")
      val e = intercept[IllegalArgumentException](
        Dedup.incrementalDedupAgainstIndex(spark, dir,
          docs.filter($"doc_id" === 3)))
      assert(e.getMessage.contains("writeDedupIndex") &&
        e.getMessage.contains("string"))
      // a rebuilt (long-keyed) index works against the same corpus
      Dedup.writeDedupIndex(docs.filter($"doc_id" <= 2), dir)
      val ok = Dedup.incrementalDedupAgainstIndex(spark, dir,
        docs.filter($"doc_id" === 3)).collect()
      assert(ok.length == 1)
    } finally rmrf(dir)
  }

  test("shingle and simhash kernels skip null tokens like concat_ws") {
    // null-bearing token arrays are legal input (ArrayType(..,
    // containsNull=true)); the kernels must match the portable SQL
    // formulation, whose concat_ws drops nulls separator-and-all — and
    // must not NPE (the pre-fix behavior)
    import spark.implicits._
    import graft.functions.TextFunctions
    val df = Seq(
      (1L, Seq("a", null, "b", "c")),
      (2L, Seq(null, null, "x", "y", "z")),
      (3L, Seq[String]("p", "q", "r")))
      .toDF("id", "t")
    val sqlForm = df.selectExpr("id",
      """CASE WHEN size(t) >= 3 THEN transform(sequence(0, size(t)-3),
        |  i -> substring(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 16))
        |ELSE cast(array() as array<string>) END AS s""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)
        .map(java.lang.Long.parseUnsignedLong(_, 16)))).toSet
    val native = df.select($"id",
        TextFunctions.shingleHashLongs($"t", 3).as("s"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(native === sqlForm && native.nonEmpty)
    // the span-gram kernel (q77's currency): same null handling, and
    // positions/values match the prior guarded-sequence SQL form parsed
    // through the hex→long bijection
    val spanSql = df.selectExpr("id",
      """transform(
        |  slice(sequence(1, greatest(size(t) - 2, 1)),
        |        1, greatest(coalesce(size(t) - 2, 0), 0)),
        |  i -> struct(i AS pos,
        |    substring(md5(concat_ws(' ', slice(t, i, 3))), 1, 16) AS g))
        |AS w""".stripMargin)
      .selectExpr("id", "inline(w)")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        java.lang.Long.parseUnsignedLong(r.getString(2), 16))).toSet
    val spanNative = df.select($"id",
        explode(TextFunctions.spanGramLongs($"t", 3)).as("w"))
      .select($"id", $"w.pos", $"w.g")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(spanNative === spanSql && spanNative.nonEmpty)
    // simhash: null tokens contribute nothing, same as filtering them out
    val withNulls = df.select($"id", TextFunctions.simhash($"t").as("f"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val filtered = df.selectExpr("id", "filter(t, x -> x IS NOT NULL) AS t")
      .select($"id", TextFunctions.simhash($"t").as("f"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withNulls === filtered)
  }

  test("all-pairs cosine baseline refuses an over-budget corpus loudly") {
    // The refusal is load-bearing docs-in-an-exception: q25 is the declared
    // quadratic BASELINE, and the message must hand the user the
    // same-semantics production path (cosineNearDupLsh, the q56 operator)
    // plus the ANN alternatives — pin every naming so it cannot rot.
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.cosineNearDup(spark, sfDir, maxCorpus = 10L)
    }
    assert(e.getMessage.contains("all-pairs baseline"))
    assert(e.getMessage.contains("maxCorpus=10"), "must state the budget")
    assert(e.getMessage.contains("cosineNearDupLsh") &&
      e.getMessage.contains("q56"),
      "must name the same-semantics scale path (q56)")
    assert(e.getMessage.contains("lshTopK") && e.getMessage.contains("q27") &&
      e.getMessage.contains("ivfTopK") && e.getMessage.contains("q38") &&
      e.getMessage.contains("q22"), "must name the ANN/dedup alternatives")
  }

  test("LSH recalls planted near-duplicates with 16-bit multi-table banding") {
    import spark.implicits._
    // 400 noise vectors + 20 planted near-copies (ids 1000+i copies id i
    // with 1% perturbation -> cos >= 0.99). Sign-LSH per-bit agreement at
    // cos 0.99 is ~0.95; 8 tables x 16 bits with Hamming-1 probes gives
    // recall > 99.9% analytically — demand >= 0.9.
    val rnd = new scala.util.Random(42)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val noise = (0 until 400).map(i => (i.toLong, vec()))
    val planted = (0 until 20).map { i =>
      (1000L + i, noise(i)._2.map(x => x + 0.01 * rnd.nextGaussian()))
    }
    val docs = (noise ++ planted).toDF("vec_id", "v")
    val res = Similarity.lshTopKOf(docs, col("vec_id") >= 1000, k = 1,
      bits = 16, tables = 8, maxBucket = 1024).collect()
    val top1 = res.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val recalled = (0 until 20).count(i => top1.get(1000L + i).contains(i.toLong))
    assert(recalled >= 18, s"planted recall $recalled/20 too low")
  }

  test("LSH default bucket space exceeds the round-1 256-key hot shuffle") {
    // default 8 tables x 10 bits -> 8192 (table, sig) keys; at scale the
    // bits parameter grows with log2(corpus) so buckets stay O(1)
    assert(8 * (1 << 10) > 256)
    val res = Similarity.lshTopK(spark, sfDir).collect()
    assert(res.nonEmpty, "q27 must return rows at fixture scale")
  }

  test("Hamming-2 multi-probe dominates single-probe LSH recall per query") {
    // candidates(H2) ⊇ candidates(H1) and a true top-5 member present in
    // a candidate set can never be outranked past position 5 (at most
    // rank-1 vectors beat it anywhere) — so recall_mp >= recall_lsh must
    // hold POINTWISE, and on the fixture's generic-top-k regime the wider
    // probe fanout must lift macro recall strictly (the regime-split
    // mitigation q109 prices).
    val audit = Similarity.annRecall(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(5), r.getDouble(7)))
    assert(audit.nonEmpty)
    audit.foreach { case (q, lsh, mp) =>
      assert(mp >= lsh, s"query $q: recall_mp $mp < recall_lsh $lsh")
    }
    val (macroLsh, macroMp) =
      (audit.map(_._2).sum / audit.size, audit.map(_._3).sum / audit.size)
    assert(macroMp > macroLsh,
      s"multi-probe must lift macro recall ($macroMp vs $macroLsh)")
  }

  test("IVF ANN reaches 0.9 recall vs brute force on the fixture") {
    val brute = Similarity.bruteForceTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.9, s"IVF recall $recall below 0.9")
  }

  test("LSH near-dup pairs recall planted duplicates with exact cosines") {
    import spark.implicits._
    // same planted-duplicate construction as the top-k recall test: the
    // near-dup regime (cos >= 0.99) is the operator's contract
    val rnd = new scala.util.Random(42)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val noise = (0 until 400).map(i => (i.toLong, vec()))
    val planted = (0 until 20).map { i =>
      (1000L + i, noise(i)._2.map(x => x + 0.01 * rnd.nextGaussian()))
    }
    val docs = (noise ++ planted).toDF("vec_id", "v")
    val res = Similarity.cosineNearDupLshOf(docs, threshold = 0.9,
      bits = 16, tables = 8, maxBucket = 1024).collect()
    val pairs = res.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalled = (0 until 20).count(i => pairs.contains((i.toLong, 1000L + i)))
    assert(recalled >= 18, s"planted near-dup recall $recalled/20 too low")
    res.foreach(r => assert(r.getDouble(2) >= 0.9,
      "every emitted pair must clear the exact-cosine verify"))
  }

  test("LSH near-dup pairs are a subset of the baseline with equal cosines") {
    val exact = Similarity.cosineNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.cosineNearDupLsh(spark, sfDir).collect()
    assert(lsh.nonEmpty, "q56 must return rows at fixture scale")
    // precision 1: every bucketed pair appears in the all-pairs baseline
    // with the identical rounded cosine (same scoring expression)
    lsh.foreach { r =>
      val c = exact.get((r.getLong(0), r.getLong(1)))
      assert(c.contains(r.getDouble(2)),
        s"pair (${r.getLong(0)},${r.getLong(1)}) missing from the baseline")
    }
  }

  test("multi-probe near-dup pairs dominate single-probe at bounded growth") {
    import spark.implicits._
    // harder regime than the 16-bit recall test: two tables only, wider
    // perturbation — the single-probe path misses some planted pairs, so
    // radius-1 probing has measurable headroom to recover them
    val rnd = new scala.util.Random(7)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val noise = (0 until 400).map(i => (i.toLong, vec()))
    val planted = (0 until 40).map { i =>
      (1000L + i, noise(i)._2.map(x => x + 0.1 * rnd.nextGaussian()))
    }
    val docs = (noise ++ planted).toDF("vec_id", "v")
    def pairsAt(pd: Int): Set[(Long, Long)] =
      Similarity.cosineNearDupLshOf(docs, threshold = 0.9,
        bits = 16, tables = 2, maxBucket = 1024, probeDist = pd).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p0 = pairsAt(0)
    val p1 = pairsAt(1)
    def recall(p: Set[(Long, Long)]): Int =
      (0 until 40).count(i => p.contains((i.toLong, 1000L + i)))
    // radius-1 collisions include every radius-0 collision (flip mask 0)
    assert(p0.subsetOf(p1), "multi-probe must be a superset of single-probe")
    assert(recall(p1) > recall(p0),
      s"radius-1 recall ${recall(p1)}/40 must beat single-probe" +
        s" ${recall(p0)}/40 in this regime")
    assert(recall(p1) >= 38, s"radius-1 recall ${recall(p1)}/40 too low")
    // growth is bounded by the fixed probe fanout (1 + bits masks at
    // radius 1), never corpus-shaped: nowhere near the all-pairs count
    assert(p1.size <= p0.size * 17,
      "candidate growth must stay within the probe fanout bound")
    assert(p1.size < 440 * 439 / 4, "multi-probe must not approach all-pairs")
  }

  test("forest-state incremental cluster commits equal the pair-state " +
      "re-derivation") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val part = pmod($"doc_id", lit(3))
    val shipped = docs.filter(part === 0)
    val inc1 = docs.filter(part === 1)
    val inc2 = docs.filter(part === 2)
    val path = s"target/testidx/forestdiff${System.nanoTime()}"
    try {
      Dedup.writeDedupIndex(shipped, path)
      Dedup.writeClusterForest(shipped, path)
      // two state-transition commits: each contracts (previous forest ∪
      // its increment's pairs) and appends the increment to the index, so
      // commit 2's df gate and candidate probe see commit 1's docs
      Dedup.incrementalClustersAgainstIndex(spark, path, inc1).collect()
      val out =
        Dedup.incrementalClustersAgainstIndex(spark, path, inc2).collect()
      assert(new java.io.File(s"$path/forest/v2").isDirectory,
        "each commit must persist a new forest version")
      // pair-state twin: re-derive the SAME three edge generations the
      // commits performed (shipped-internal at the shipped gate, each
      // increment at its index ∪ increment gate) and contract their
      // ACCUMULATED union once — the re-derivation the forest replaces
      val e0 = Dedup.ngramJaccardOf(shipped).select($"d1", $"d2")
      val e1 = Dedup.incrementalPairsOf(
        Dedup.shinglesOf(shipped.unionByName(inc1)), Dedup.shinglesOf(inc1),
        0.8, 100).select($"d1", $"d2")
      val e2 = Dedup.incrementalPairsOf(
        Dedup.shinglesOf(docs), Dedup.shinglesOf(inc2),
        0.8, 100).select($"d1", $"d2")
      val labels = operators.Curation.connectedComponentsStar(
        e0.union(e1).union(e2).distinct())
      val twin = docs.select($"doc_id")
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"label", $"doc_id").as("cluster"))
        .withColumn("keep", when($"cluster" === $"doc_id", 1).otherwise(0))
        .orderBy($"doc_id").collect()
      assert(out.toSeq === twin.toSeq,
        "forest-state and pair-state cluster frames must be identical")
      assert(out.exists(_.getInt(2) == 0),
        "the fixture's planted near-dups must produce at least one drop")
    } finally rmrf(path)
  }

  test("string-keyed corpora ride the persisted index/forest family in " +
      "fingerprint currency, long-twin-identical under the id bijection") {
    import spark.implicits._
    // ORDER-PRESERVING string twin (zero-padded): the min-id tiebreaks
    // and cluster representatives must map under the bijection, so the
    // long fixture's results translate row for row — the differential
    // that pins verdicts AND cluster labels in original-id currency
    def mapped(id: Long) = f"doc-$id%09d"
    val docsL = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val docsS = docsL.select(
      concat(lit("doc-"), lpad($"doc_id".cast("string"), 9, "0"))
        .as("doc_id"), $"text")
    val isIncL = pmod($"doc_id", lit(10)) === 0
    val isIncS = substring($"doc_id", -1, 1) === "0"
    val base = s"target/testidx/fp${System.nanoTime()}"
    val pathS = s"$base/s"
    val pathL = s"$base/l"
    try {
      // 1. verdict family: index the shipped 90%, dedup the mod-10
      //    increment — string verdicts == long verdicts with ids mapped
      Dedup.writeDedupIndex(docsS.filter(!isIncS), pathS)
      Dedup.writeDedupIndex(docsL.filter(!isIncL), pathL)
      val vS = Dedup.incrementalDedupAgainstIndex(spark, pathS,
        docsS.filter(isIncS)).collect().map(_.toSeq).toSeq
      val vL = Dedup.incrementalDedupAgainstIndex(spark, pathL,
        docsL.filter(isIncL)).collect()
        .map(r => Seq[Any](mapped(r.getLong(0)), r.get(1), r.get(2),
          r.get(3))).toSeq
      assert(vS === vL && vS.nonEmpty)
      assert(vS.exists(_(3) == 0), "planted dups must drop something")
      // the persisted state is FINGERPRINT currency (the 16-byte posting
      // contract — a URL key would widen every posting row) + the dict
      val lt = org.apache.spark.sql.types.LongType
      assert(spark.read.parquet(s"$pathS/shingles")
        .schema("doc_id").dataType === lt)
      assert(spark.read.parquet(s"$pathS/hashes")
        .schema("doc_id").dataType === lt)
      assert(spark.read.parquet(s"$pathS/dict").count() ===
        docsS.filter(!isIncS).count())
      // 2. cluster family: forest seed (prefix path, fingerprint
      //    currency) + one COMMIT — long-twin-identical, and the staged
      //    inc/v1 carries the dict rows and fingerprint shingles/hashes
      Dedup.writeClusterForest(docsS.filter(!isIncS), pathS)
      Dedup.writeClusterForest(docsL.filter(!isIncL), pathL)
      // the read-only form first (q118's shape — must run BEFORE the
      // commit: a committed increment joins the df gate's world)
      val roS = Dedup.incrementalClustersAgainstIndex(spark, pathS,
        docsS.filter(isIncS), commit = false)
        .collect().map(_.toSeq).toSeq
      val roL = Dedup.incrementalClustersAgainstIndex(spark, pathL,
        docsL.filter(isIncL), commit = false).collect()
        .map(r => Seq[Any](mapped(r.getLong(0)), mapped(r.getLong(1)),
          r.get(2))).toSeq
      assert(roS === roL && roS.nonEmpty)
      val cS = Dedup.incrementalClustersAgainstIndex(spark, pathS,
        docsS.filter(isIncS)).collect().map(_.toSeq).toSeq
      val cL = Dedup.incrementalClustersAgainstIndex(spark, pathL,
        docsL.filter(isIncL)).collect()
        .map(r => Seq[Any](mapped(r.getLong(0)), mapped(r.getLong(1)),
          r.get(2))).toSeq
      assert(cS === cL && cS.nonEmpty)
      assert(cS === roS,
        "the read-only form must equal the commit it previews")
      assert(spark.read.parquet(s"$pathS/inc/v1/dict").count() ===
        docsS.filter(isIncS).count())
      assert(spark.read.parquet(s"$pathS/inc/v1/shingles")
        .schema("doc_id").dataType === lt)
      // 3. retry idempotency through the dictionary path: re-committing
      //    the same increment re-serves the committed state unchanged
      val cS2 = Dedup.incrementalClustersAgainstIndex(spark, pathS,
        docsS.filter(isIncS)).collect().map(_.toSeq).toSeq
      assert(cS2 === cS)
      assert(Dedup.committedVersion(pathS) === 1)
      // 4. currency mismatches refuse loudly in both directions
      val e1 = intercept[IllegalArgumentException](
        Dedup.incrementalDedupAgainstIndex(spark, pathS,
          docsL.filter(isIncL)))
      assert(e1.getMessage.contains("fingerprint-keyed"))
      val e2 = intercept[IllegalArgumentException](
        Dedup.incrementalDedupAgainstIndex(spark, pathL,
          docsS.filter(isIncS)))
      assert(e2.getMessage.contains("bigint-keyed"))
    } finally rmrf(base)
  }

  test("q118 commit is crash-safe: every torn write prefix serves the " +
      "prior version and a re-run completes idempotently") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val part = pmod($"doc_id", lit(3))
    val shipped = docs.filter(part === 0)
    val inc1 = docs.filter(part === 1)
    def freshIndex(): String = {
      val p = s"target/testidx/crash${System.nanoTime()}"
      Dedup.writeDedupIndex(shipped, p)
      Dedup.writeClusterForest(shipped, p)
      p
    }
    // golden run: the v0-world verdicts BEFORE any commit, then a clean
    // commit's cluster frame and reader state
    val goldPath = freshIndex()
    try {
      val v0Verdicts = Dedup.incrementalDedupAgainstIndex(spark, goldPath,
        inc1).collect().map(_.toSeq).toSeq
      val golden = Dedup.incrementalClustersAgainstIndex(spark, goldPath,
        inc1).collect().map(_.toSeq).toSeq
      assert(Dedup.latestForestVersion(goldPath) == 1)
      // the post-marker crash window: the caller dies AFTER the marker
      // landed and retries a commit that actually succeeded — the
      // content digest in the marker detects it, the committed state is
      // re-served, and the increment is NOT shipped twice (no v2)
      val retried = Dedup.incrementalClustersAgainstIndex(spark, goldPath,
        inc1).collect().map(_.toSeq).toSeq
      assert(retried === golden,
        "retrying an already-committed increment must re-serve it")
      assert(Dedup.latestForestVersion(goldPath) == 1 &&
        !new java.io.File(s"$goldPath/inc/v2").exists(),
        "a retried commit must not double-append the increment")
      // the commit writes, IN ORDER: (1) forest/v1, (2) inc/v1/shingles,
      // (3) inc/v1/hashes, (4) the marker — so a crash between any two
      // writes leaves exactly a prefix, and every torn state is a
      // completed commit minus a suffix. Build each torn state and prove
      // (a) all readers serve v0 exactly — the torn v1 is invisible to
      // the forest version, the shingle index, AND the digest frame —
      // and (b) re-running the same commit completes and reproduces the
      // clean-run golden (idempotent overwrites, no double-append).
      for (crashAfter <- Seq("hashes", "shingles", "forest")) {
        val p = freshIndex()
        try {
          Dedup.incrementalClustersAgainstIndex(spark, p, inc1).collect()
          rmrf(s"$p/inc/v1/_graft_commit")
          if (crashAfter != "hashes") rmrf(s"$p/inc/v1/hashes")
          if (crashAfter == "forest") rmrf(s"$p/inc/v1/shingles")
          assert(Dedup.latestForestVersion(p) == 0,
            s"crash after $crashAfter must leave readers on v0")
          val torn = Dedup.incrementalDedupAgainstIndex(spark, p, inc1)
            .collect().map(_.toSeq).toSeq
          assert(torn === v0Verdicts,
            s"crash after $crashAfter: index probes must see the v0 world")
          val rerun = Dedup.incrementalClustersAgainstIndex(spark, p, inc1)
            .collect().map(_.toSeq).toSeq
          assert(rerun === golden,
            s"re-run after a crash after $crashAfter must match the " +
              "clean-run golden")
          assert(Dedup.latestForestVersion(p) == 1)
        } finally rmrf(p)
      }
      // an EMPTY marker is the torn state of a pre-r14 non-atomic
      // writer (created but never flushed) — it must read as
      // UNCOMMITTED, not flip its version visible with a digest the
      // retry guard can never match (ADVICE r13)
      val tornDir = new java.io.File(s"$goldPath/inc/v2")
      tornDir.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$goldPath/inc/v2/_graft_commit"),
        Array.emptyByteArray)
      assert(Dedup.latestForestVersion(goldPath) == 1,
        "an empty (torn) marker must leave its version uncommitted")
      rmrf(s"$goldPath/inc/v2")
      // a committed version above a gap is protocol-impossible state —
      // refused loudly instead of silently serving a hole
      val gapDir = new java.io.File(s"$goldPath/inc/v3")
      gapDir.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$goldPath/inc/v3/_graft_commit"),
        "v2:9:12345".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val e = intercept[IllegalArgumentException](
        Dedup.latestForestVersion(goldPath))
      assert(e.getMessage.contains("gap"))
    } finally rmrf(goldPath)
    // a pre-r13 blind-append index (forest versions committed with no
    // inc/ markers) must be refused, not silently served as v0: two or
    // more forest versions above the committed trail cannot be produced
    // by the staged protocol (exactly one IS the legitimate torn-commit
    // state, served as the prior version — covered above)
    val legacy = freshIndex()
    try {
      new java.io.File(s"$legacy/forest/v1").mkdirs()
      new java.io.File(s"$legacy/forest/v2").mkdirs()
      val e2 = intercept[IllegalArgumentException](
        Dedup.latestForestVersion(legacy))
      assert(e2.getMessage.contains("blind-append") &&
        e2.getMessage.contains("Rebuild"))
    } finally rmrf(legacy)
  }

  test("a replayed mid-trail increment is refused, not double-appended") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val part = pmod($"doc_id", lit(3))
    val path = s"target/testidx/replay${System.nanoTime()}"
    try {
      Dedup.writeDedupIndex(docs.filter(part === 0), path)
      Dedup.writeClusterForest(docs.filter(part === 0), path)
      Dedup.incrementalClustersAgainstIndex(spark, path,
        docs.filter(part === 1)).collect()
      Dedup.incrementalClustersAgainstIndex(spark, path,
        docs.filter(part === 2)).collect()
      assert(Dedup.latestForestVersion(path) == 2)
      // the upstream queue re-delivers increment 1 AFTER increment 2
      // committed: the digest matches a marker BELOW the tail, so this
      // is a replay, not a crash retry — appending it would inflate the
      // df gate and drift every later increment's verdicts silently
      val e = intercept[IllegalArgumentException](
        Dedup.incrementalClustersAgainstIndex(spark, path,
          docs.filter(part === 1)).collect())
      assert(e.getMessage.contains("already committed") &&
        e.getMessage.contains("v1"),
        s"replay must be refused naming the committed version: $e")
      assert(Dedup.latestForestVersion(path) == 2 &&
        !new java.io.File(s"$path/inc/v3").exists(),
        "a refused replay must write nothing")
    } finally rmrf(path)
  }

  test("rebuilding over committed increment/compaction state serves the fresh base") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val part = pmod($"doc_id", lit(3))
    val path = s"target/testidx/rebuild${System.nanoTime()}"
    try {
      Dedup.writeDedupIndex(docs.filter(part === 0), path)
      Dedup.writeClusterForest(docs.filter(part === 0), path)
      Dedup.incrementalClustersAgainstIndex(spark, path,
        docs.filter(part === 1)).collect()
      // compaction GCs the increment's data parts but KEEPS its marker
      // (the committed trail); a rebuild that only rewrites the base would
      // leave committedVersion = 1 and the covers:1 generation accepted —
      // every reader silently serving the pre-rebuild corpus (ADVICE r17)
      Dedup.compactDedupIndex(spark, path)
      assert(Dedup.committedVersion(path) == 1)
      val fresh = docs.filter(part === 2)
      Dedup.writeDedupIndex(fresh, path)
      assert(Dedup.committedVersion(path) == 0,
        "rebuild must clear surviving increment markers")
      assert(Dedup.latestCompaction(path).isEmpty,
        "rebuild must clear stale compaction generations")
      assert(!new java.io.File(s"$path/forest").exists(),
        "rebuild must clear the stale forest")
      // functional witness: the rebuilt index serves EXACTLY the fresh
      // corpus's digests, not the compacted pre-rebuild state
      val served = spark.read.parquet(s"$path/hashes")
      assert(served.count() == fresh.count())
    } finally rmrf(path)
  }

  test("forest versions above v0 on an unstamped index are refused") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val shipped = docs.filter(pmod($"doc_id", lit(3)) === 0)
    val path = s"target/testidx/unstamped${System.nanoTime()}"
    try {
      Dedup.writeDedupIndex(shipped, path)
      Dedup.writeClusterForest(shipped, path)
      Dedup.incrementalClustersAgainstIndex(spark, path,
        docs.filter(pmod($"doc_id", lit(3)) === 1)).collect()
      // strip the protocol stamp: the index now looks like a pre-staged-
      // protocol blind-append with one commit — the shape that used to
      // be indistinguishable from a torn commit and silently served as
      // v0, mis-clustering the appended docs (ADVICE r13)
      rmrf(s"$path/_graft_protocol")
      val e = intercept[IllegalArgumentException](
        Dedup.latestForestVersion(path))
      assert(e.getMessage.contains("protocol stamp") &&
        e.getMessage.contains("Rebuild"))
    } finally rmrf(path)
  }

  test("prefix path refuses non-bigint doc ids, naming the classic stage") {
    import spark.implicits._
    val sh = Seq(("x", 1L), ("x", 2L), ("y", 1L)).toDF("doc_id", "s")
    val e = intercept[IllegalArgumentException](
      Dedup.ngramJaccardPrefixOfShingles(sh, 0.8, 100))
    assert(e.getMessage.contains("bigint") &&
      e.getMessage.contains("ngramJaccardOf"))
  }

  test("near-dup hot buckets are gated before pairing") {
    import spark.implicits._
    // a degenerate corpus (one shared direction) collides into ONE bucket
    // per table; with maxBucket below the corpus size the gate must drop
    // those buckets and emit zero pairs — never a quadratic bucket join
    val docs = (0 until 50).map(i => (i.toLong, Array.fill(64)(1.0)))
      .toDF("vec_id", "v")
    val res = Similarity.cosineNearDupLshOf(docs, threshold = 0.0,
      maxBucket = 10).collect()
    assert(res.isEmpty, "over-budget buckets must be dropped before pairing")
  }

  test("label centroids average exactly, independent of partitioning") {
    import spark.implicits._
    val e = Seq(
      (1L, 0, Array(1.0, 3.0)),
      (2L, 0, Array(3.0, 5.0)),
      (3L, 1, Array(-1.0, 0.5))
    ).toDF("vec_id", "label", "v")
    // repartition shuffles the rows arbitrarily; the decimal sum makes the
    // per-dim average identical regardless
    val got = Similarity.centroidCoords(e.repartition(7)).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(got((0, 0)) === ((2.0, 2L)) && got((0, 1)) === ((4.0, 2L)))
    assert(got((1, 0)) === ((-1.0, 1L)) && got((1, 1)) === ((0.5, 1L)))
  }

  test("centroid outliers rank the planted far point first") {
    import spark.implicits._
    // label 0: three points near the origin plus one planted at (10, 0) —
    // centroid (2.5, 0), so the far point sits at distance 7.5
    val e = Seq(
      (1L, 0, Array(0.0, 0.0)),
      (2L, 0, Array(0.0, 0.0)),
      (3L, 0, Array(0.0, 0.0)),
      (4L, 0, Array(10.0, 0.0))
    ).toDF("vec_id", "label", "v")
    val res = Similarity.centroidOutliersOf(e, k = 2).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(res((0, 1)) === ((4L, 7.5)))
    // ties among the origin points break by vec_id
    assert(res((0, 2)) === ((1L, 2.5)))
  }

  test("centroid outliers clamp the FP-negative distance of exact duplicates") {
    import spark.implicits._
    // byte-identical vectors with a 15-decimal-digit coordinate: the
    // centroid rounds at DECIMAL(28,14), so x·x − 2x·c + c·c carries
    // rounding noise around 0 — without the clamp this emitted NaN (which
    // sorts FIRST desc) on the Spark side and crashed DuckDB's sqrt
    val x = 0.123456789012345
    val e = Seq(
      (1L, 0, Array.fill(64)(x)),
      (2L, 0, Array.fill(64)(x)),
      (3L, 0, Array.fill(64)(x))
    ).toDF("vec_id", "label", "v")
    val res = Similarity.centroidOutliersOf(e, k = 3).collect()
    assert(res.length === 3)
    res.foreach { r =>
      assert(!r.getDouble(3).isNaN, "clamped distance must never be NaN")
      assert(r.getDouble(3) === 0.0)
    }
    // rank ties among identical members break by vec_id
    assert(res.map(_.getLong(2)).toSeq === Seq(1L, 2L, 3L))
  }

  test("native LSH signatures equal the relational planes formulation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the HOF formulation the native kernel replaced, rebuilt inline: the
    // md5-parity planes literal, per-plane sign bits via the codegen dot,
    // per-table bit assembly — signatures must match bit for bit
    // first-BYTE parity (= the oracle's substr(md5, 1, 2)::INT % 2), not
    // first-hex-digit parity — the nibble variant silently agreed with a
    // same-bug kernel while the oracle disagreed (caught by check.py)
    def planeComponent(p: Int, d: Int): Double =
      if ((java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$d".getBytes("UTF-8"))(0) & 1) == 1) 1.0 else -1.0
    val (dim, bits, tables) = (64, 10, 8)
    val planes = typedLit((0 until tables * bits).map(p =>
      (0 until dim).map(d => planeComponent(p, d))))
    val v = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id",
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val signs = transform(planes,
      p => when(graft.functions.VectorFunctions.dot($"v", p) > 0, 1L)
        .otherwise(0L))
    def sigBits(t: Int) = (0 until bits).map(b =>
      element_at(col("signs"), t * bits + b + 1) * (1L << b)).reduce(_ + _)
    val expected = v.withColumn("signs", signs)
      .select($"vec_id", array((0 until tables).map(sigBits): _*).as("sigs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = v.select($"vec_id",
        graft.functions.LshFunctions.lshSigs($"v", dim, bits, tables).as("sigs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.nonEmpty && native === expected)
  }

  test("LSH near-dup pairs recall planted duplicates at DEFAULT parameters") {
    import spark.implicits._
    // Same planted construction as the bits=16 test, at the operator's
    // defaults (bits=10, tables=8): per-bit agreement at cos 0.99 is
    // a ≈ 0.955, so analytic recall is 1-(1-a^10)^8 ≈ 0.9997 — the doc's
    // stated contract at the defaults. Demand >= 18/20.
    val rnd = new scala.util.Random(7)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val noise = (0 until 400).map(i => (i.toLong, vec()))
    val planted = (0 until 20).map { i =>
      (1000L + i, noise(i)._2.map(x => x + 0.01 * rnd.nextGaussian()))
    }
    val docs = (noise ++ planted).toDF("vec_id", "v")
    val pairs = Similarity.cosineNearDupLshOf(docs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalled = (0 until 20).count(i => pairs.contains((i.toLong, 1000L + i)))
    assert(recalled >= 18, s"default-params recall $recalled/20 too low")
  }

  test("LSH bit width sizes itself from the corpus count by default") {
    import spark.implicits._
    // the sizing rule, exact: ⌈log2 n⌉ + 4 (expected occupancy ≤ 1/16),
    // floored at the fixture default 10 (corpora ≤ 64 vectors keep
    // their buckets), occupancy slack halved at probe radius 2 where
    // the C(bits,2) mask fanout prices each extra bit quadratically
    assert(Similarity.autoBitsFor(0, 0) === 10)
    assert(Similarity.autoBitsFor(64, 0) === 10)
    assert(Similarity.autoBitsFor(65, 0) === 11)
    assert(Similarity.autoBitsFor(500, 1) === 13)
    assert(Similarity.autoBitsFor(150000, 1) === 22)
    assert(Similarity.autoBitsFor(150000, 2) === 20)
    assert(Similarity.autoBitsFor(1L << 30, 0) === 34)
    // the AutoBits default IS the formula: bit-identical to passing the
    // formula's value explicitly, for both operators
    val rnd = new scala.util.Random(3)
    val docs = (0 until 100)
      .map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian())))
      .toDF("vec_id", "v")
    val sized = Similarity.autoBitsFor(100, 0)
    assert(sized === 11, "the fixture must exercise a non-floor width")
    assert(Similarity.cosineNearDupLshOf(docs, threshold = 0.0)
        .collect().toSeq ===
      Similarity.cosineNearDupLshOf(docs, threshold = 0.0, bits = sized)
        .collect().toSeq)
    val sizedTopK = Similarity.autoBitsFor(100, 1)
    assert(Similarity.lshTopKOf(docs, col("vec_id") < 10, k = 3)
        .collect().toSeq ===
      Similarity.lshTopKOf(docs, col("vec_id") < 10, k = 3,
        bits = sizedTopK).collect().toSeq)
    // out-of-range explicit widths refuse loudly (0 is the sentinel)
    val e = intercept[IllegalArgumentException](
      Similarity.cosineNearDupLshOf(docs, bits = 2))
    assert(e.getMessage.contains("bits"))
  }

  test("vectors carrying a null element are excluded from the LSH index") {
    import spark.implicits._
    // A null element would score 0 in the native kernel but propagate NULL
    // through an oracle's list_dot_product — the index drops such vectors
    // on both engines by construction. Doc 3 is a byte-copy of 1 and 2
    // except for one null element; doc 4 is a NULL vector.
    val clean = Seq(
      (1L, Array.fill(16)(0.5)),
      (2L, Array.fill(16)(0.5))).toDF("vec_id", "v")
    val dirty = spark.sql(
      """SELECT CAST(3 AS BIGINT) AS vec_id,
        |  transform(array_repeat(0.5d, 16), (x, i) ->
        |    CASE WHEN i = 7 THEN CAST(NULL AS DOUBLE) ELSE x END) AS v
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), CAST(NULL AS ARRAY<DOUBLE>)""".stripMargin)
    val pairs = Similarity.cosineNearDupLshOf(clean.union(dirty),
        threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)),
      s"only the clean identical pair should surface, got $pairs")
  }

  test("k-means recovers two well-separated blobs") {
    import spark.implicits._
    // two tight blobs around orthogonal axes: the clustering is
    // unambiguous, so Lloyd's must map each blob to one cluster
    val rnd = new scala.util.Random(11)
    def unit(axis: Int): Array[Double] = {
      val v = Array.tabulate(64)(d =>
        (if (d == axis) 10.0 else 0.0) + 0.05 * rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val docs = ((0 until 30).map(i => (i.toLong, unit(0))) ++
      (0 until 30).map(i => (100L + i, unit(32)))).toDF("vec_id", "u")
    val assign = Similarity.kmeansOf(docs, k = 2, iters = 4)
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ca = (0 until 30).map(i => assign(i.toLong)).distinct
    val cb = (0 until 30).map(i => assign(100L + i)).distinct
    assert(ca.length === 1 && cb.length === 1 && ca.head != cb.head,
      s"blobs should land in two distinct clusters, got $ca / $cb")
  }

  test("SemDeDup drops in-cluster duplicates toward the lowest id") {
    import spark.implicits._
    // hand-built assignment: cluster 0 holds three byte-identical unit
    // vectors (1,2,3) plus an orthogonal singleton (4); cluster 7 holds an
    // identical pair (10,11). Duplicates lose to the lowest id in their
    // cluster; nothing crosses clusters.
    def e(axis: Int): Array[Double] =
      Array.tabulate(64)(d => if (d == axis) 1.0 else 0.0)
    val assign = Seq(
      (1L, e(0), 0), (2L, e(0), 0), (3L, e(0), 0), (4L, e(5), 0),
      (10L, e(0), 7), (11L, e(0), 7)).toDF("vec_id", "u", "cluster")
    val res = Similarity.semDedupFromAssign(assign, threshold = 0.4)
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3))).toMap
    assert(res === Map(
      1L -> ((0, -1L)), 2L -> ((1, 1L)), 3L -> ((1, 1L)), 4L -> ((0, -1L)),
      10L -> ((0, -1L)), 11L -> ((1, 10L))))
  }

  test("embedding fixture honors the dim-64 oracle contract") {
    // The q58/q59 oracles walk range(64) per vector while posexplode walks
    // the full array — the compare is only exact because every non-null
    // fixture embedding is exactly 64-dimensional. Pin that generator
    // contract so a regenerated fixture can't silently violate it.
    val dims = Tables.embeddings(spark, sfDir)
      .filter(col("embedding").isNotNull)
      .agg(min(size(col("embedding"))).as("lo"),
        max(size(col("embedding"))).as("hi")).head()
    assert(dims.getInt(0) === 64 && dims.getInt(1) === 64,
      s"expected every embedding to be dim-64, got [${dims.getInt(0)}, ${dims.getInt(1)}]")
  }

  test("LSH ANN matches brute force on recalled neighbors") {
    val brute = Similarity.bruteForceTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = Similarity.lshTopK(spark, sfDir).collect()
    assert(lsh.nonEmpty)
    // approximate: every LSH cosine must match brute force when the same
    // pair appears there (same scoring path), never exceed rank-1 cosine
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      brute.get(key).foreach(c => assert(c === r.getDouble(3)))
    }
  }

  test("int8 quantization audit: codes, saturation, and exclusions") {
    val frame = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(1.0D, -0.5D, 0.25D, 0.0D)),
        |  (2L, cast(null as array<double>)),
        |  (3L, array(cast(null as double), 1.0D)),
        |  (4L, array(0.0D, 0.0D)),
        |  (5L, array(-2.0D, 2.0D))
        |AS t(vec_id, v)""".stripMargin)
    val out = Similarity.quantizeInt8Of(frame).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    // vec 1: q = [127, -64, 32, 0] (round-half-away: -63.5 -> -64,
    // 31.75 -> 32); one saturated code
    assert(out(1L) === ((1.0, 1, 95L, 21249L)))
    // vec 5: both elements hit the scale -> both saturate, sum cancels
    assert(out(5L) === ((2.0, 2, 0L, 32258L)))
    assert(!out.contains(2L), "null vector excluded")
    assert(!out.contains(3L), "null-element vector excluded")
    assert(!out.contains(4L), "all-zero vector has no scale")
    // reconstruction error bound: |x - q*scale| <= scale/2 per element
    val v = Seq(1.0, -0.5, 0.25, 0.0)
    val scale = 1.0 / 127
    val q = Seq(127, -64, 32, 0)
    v.zip(q).foreach { case (x, c) =>
      assert(math.abs(x - c * scale) <= scale / 2 + 1e-12) }
  }

  test("embedding dedup clusters agree with the pair graph") {
    val clusters = Similarity.embeddingDedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val all = Tables.embeddings(spark, sfDir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(clusters.keySet === all, "every vector is assigned")
    // both endpoints of every verified near-dup pair share a cluster
    val pairs = Similarity.cosineNearDupLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture should contain near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 === clusters(b)._1,
        s"pair ($a, $b) split across clusters") }
    // representative = smallest member; keep flags mark exactly the reps
    clusters.groupBy(_._2._1).foreach { case (rep, members) =>
      assert(rep === members.keys.min,
        s"cluster $rep is not its smallest member")
      assert(members.count(_._2._2 == 1) === 1 &&
        members(rep)._2 === 1, s"cluster $rep keep flags wrong")
    }
  }

  test("duplicated spans: interval union counts overlapping hits once") {
    import spark.implicits._
    // d1/d2 share the 8-run a..h (one window each); d3 is clean;
    // d4/d5 share a 9-run p..x → TWO overlapping windows whose interval
    // union must count 9 tokens, not 16
    val docs = Seq(
      (1L, "a b c d e f g h x y"),
      (2L, "z w a b c d e f g h"),
      (3L, "k1 k2 k3 k4 k5 k6 k7 k8 k9"),
      (4L, "p q r s t u v w x"),
      (5L, "p q r s t u v w x tail1 tail2")
    ).toDF("doc_id", "text")
    val res = Dedup.duplicatedSpansOf(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(res(1L) === ((10L, 1L, 8L, 800000L)))
    assert(res(2L) === ((10L, 1L, 8L, 800000L)))
    assert(res(3L) === ((9L, 0L, 0L, 0L)))
    assert(res(4L) === ((9L, 2L, 9L, 1000000L)))
    assert(res(5L) === ((11L, 2L, 9L, 818181L)))
  }

  test("containment flags the quoted doc but not its container") {
    import spark.implicits._
    val quoted = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(
      (1L, quoted),
      (2L, s"pre1 pre2 pre3 $quoted post1 post2 post3 post4 post5 post6"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8")
    ).toDF("doc_id", "text")
    val rows = Dedup.containmentOf(Dedup.shinglesOf(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // all 8 of doc1's shingles occur in doc2 → containment 1e6 ppm; the
    // reverse direction is 8/17 ≈ 470588 ppm, below the 0.5 threshold
    assert(rows.keySet === Set((1L, 2L)))
    assert(rows((1L, 2L)) === ((8L, 8L, 1000000L)))
  }

  test("containment subsumes every symmetric Jaccard pair") {
    // C(A→B) = i/|A| >= i/(|A|+|B|−i) = J, so every q21 pair (J >= 0.8)
    // must surface in BOTH orientations at the 0.5 ppm threshold
    val cont = Dedup.containment(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(jac.nonEmpty, "fixtures should contain planted near-dups")
    jac.foreach { case (d1, d2) =>
      assert(cont.contains((d1, d2)) && cont.contains((d2, d1)),
        s"jaccard pair ($d1, $d2) missing from containment audit")
    }
  }

  test("semDedupAuto applies the sqrt-N sizing rule exactly") {
    val n = Tables.embeddings(spark, sfDir).count()
    val k = math.max(1, math.sqrt(n.toDouble).round.toInt)
    // the auto form must equal the explicit form at the derived k
    val auto = Similarity.semDedupAuto(spark, sfDir).collect()
    val explicitK = Similarity.semDedup(spark, sfDir, k = k).collect()
    assert(auto.toSeq === explicitK.toSeq)
    // and the derived k must actually differ from the fixture default,
    // so this test cannot silently pass through the k=8 path
    assert(k !== 8, s"fixture corpus should derive k=$k != 8")
  }

  test("hard negatives exclude the query's own label and rank by cosine") {
    val rows = Similarity.hardNegatives(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("q_label") !== r.getAs[Int]("neg_label"),
        s"same-label neighbor leaked: $r")
    }
    // per query: ranks are 1..k and cosines are non-increasing
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).toSeq === (1 to rs.length))
      val cosines = byRank.map(_.getAs[Double]("cos")).toSeq
      assert(cosines === cosines.sorted.reverse, s"query $q not sorted")
    }
  }

  test("rrf fusion score is the scaled-integer sum of both rank terms") {
    val rows = Similarity.rrfFusion(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    def term(rank: Any): Long = rank match {
      case null => 0L
      case r: Int => 1000000000000L / (60L + r)
    }
    val scores = rows.map { r =>
      assert(term(r.get(2)) + term(r.get(3)) === r.getLong(4),
        s"fusion arithmetic wrong: $r")
      r.getLong(4)
    }
    assert(scores.toSeq === scores.sorted.reverse.toSeq, "not rank-ordered")
    // a doc appearing in both rank lists must outscore one appearing in
    // neither list's top spot alone at equal rank — sanity: top row has a
    // score of at least one full rank-1 term
    assert(scores.head >= 1000000000000L / 61L)
  }

  test("incremental dedup verdicts follow the shipped-corpus-wins rules") {
    import spark.implicits._
    // 12-token texts; a one-token tail change keeps 9 of 10 shingles
    // shared -> jaccard 9/11 = 0.818 >= 0.8
    def t(p: String, last: String) =
      (1 to 11).map(i => s"$p$i").mkString(" ") + " " + last
    val docs = Seq(
      (5L, t("a", "x")),   // existing
      (10L, t("a", "y")),  // incoming near-dups existing 5 -> drop
      (20L, t("b", "x")),  // incoming near-dups existing 25 (LARGER id):
      (25L, t("b", "y")),  //   shipped corpus wins, 20 drops anyway
      (30L, t("c", "x")),  // incoming pair: min-id rule keeps 30...
      (40L, t("c", "y")),  //   ...and drops 40
      (7L, t("d", "x")),   // existing
      (50L, t("d", "x")),  // incoming exact-dups existing 7 -> drop
      (60L, t("e", "x")),  // incoming exact pair: 60 is min -> keep
      (70L, t("e", "x")),  //   70 drops (exact AND jaccard-1 near)
      (80L, t("f", "x"))   // untouched incoming -> keep
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedupOf(docs, pmod($"doc_id", lit(10)) === 0)
      .collect().map(r =>
        r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got.keySet === Set(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L),
      "one verdict row per incoming doc, none for existing docs")
    assert(got(10L) === ((0, 1, 0)), "near-dup of an existing doc drops")
    assert(got(20L) === ((0, 1, 0)),
      "shipped corpus wins even when the incoming id is smaller")
    assert(got(30L) === ((0, 0, 1)), "min-id survivor within the increment")
    assert(got(40L) === ((0, 1, 0)), "min-id loser within the increment")
    assert(got(50L) === ((1, 1, 0)), "exact dup of an existing doc")
    assert(got(60L) === ((0, 0, 1)), "min-id exact survivor in the increment")
    assert(got(70L) === ((1, 1, 0)), "exact+near loser within the increment")
    assert(got(80L) === ((0, 0, 1)), "untouched doc keeps")
  }

  test("persisted-index dedup equals the in-memory incremental verdicts") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val isInc = pmod($"doc_id", lit(10)) === 0
    // write the shipped 90% as an index, dedup the increment against the
    // FILES — must equal the single-frame incremental path verdict for
    // verdict (and q87's oracle therefore gates both)
    val path = "target/tmp/dedupindex_spec"
    rmrf(new java.io.File(path))
    Dedup.writeDedupIndex(docs.filter(!isInc), path)
    val viaIndex = Dedup.incrementalDedupAgainstIndex(spark, path,
      docs.filter(isInc)).collect().map(_.toSeq)
    val inMemory = Dedup.incrementalDedupOf(docs, isInc)
      .collect().map(_.toSeq)
    assert(inMemory.nonEmpty && viaIndex.toSeq === inMemory.toSeq)
  }

  test("shingle novelty: every shingle is novel in exactly its first doc") {
    import spark.implicits._
    val rows = Dedup.shingleNovelty(spark, sfDir).collect()
    assert(rows.length.toLong === Tables.documents(spark, sfDir).count())
    // sum of novel counts == distinct shingles (each first-seen once)
    val nDistinct = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
      .transform(d => graft.operators.Dedup.shinglesOf(d))
      .select($"s").distinct().count()
    assert(rows.map(_.getLong(2)).sum === nDistinct)
    rows.foreach { r =>
      val (n, nov) = (r.getLong(1), r.getLong(2))
      assert(nov >= 0 && nov <= n, s"novel count out of range at $r")
      if (n > 0) {
        val f = r.getDouble(3)
        assert(f >= 0.0 && f <= 1.0, s"novelty out of [0,1] at $r")
      } else assert(r.isNullAt(3), "novelty must be NULL for shingle-less docs")
    }
    // the smallest doc_id carrying shingles is fully novel by definition
    val first = rows.filter(_.getLong(1) > 0).minBy(_.getLong(0))
    assert(first.getDouble(3) === 1.0)
  }

  test("incremental dedup agrees with the all-pairs batch pipeline") {
    import spark.implicits._
    // the incremental candidate join must find EXACTLY the batch (q21)
    // pairs that involve an incoming doc — same df gate, same arithmetic
    val pairs = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def inc(d: Long) = d % 10 == 0
    val wantNear = pairs.collect {
      case (_, d2) if inc(d2) => d2
      case (d1, d2) if inc(d1) && !inc(d2) => d1
    }.toSet
    val got = Dedup.incrementalDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val gotNear = got.collect { case (d, _, 1, _) => d }.toSet
    assert(gotNear === wantNear,
      s"near-dup sets differ: extra=${gotNear -- wantNear} " +
        s"missing=${wantNear -- gotNear}")
    val nInc = Tables.documents(spark, sfDir)
      .filter(pmod($"doc_id", lit(10)) === 0).count()
    assert(got.length.toLong === nInc, "one row per incoming doc")
    got.foreach { case (d, ex, nd, keep) =>
      assert(keep === (if (ex + nd > 0) 0 else 1), s"keep rule at doc $d")
    }
  }

  test("dim stats match hand computation and skip invalid vectors") {
    import spark.implicits._
    val vs = Seq(
      (1L, Some(Seq(Some(1.0), Some(-2.0)))),
      (2L, Some(Seq(Some(0.0), Some(4.0)))),
      (3L, Some(Seq(Some(3.0), Some(0.0)))),
      (4L, None),                            // null vector: excluded
      (5L, Some(Seq(Some(9.0), None)))       // null element: excluded
    ).toDF("vec_id", "v")
    val out = Similarity.dimStatsOf(vs).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(out.keySet === Set(0, 1))
    val d0 = out(0)
    assert(d0.getLong(1) === 3L && d0.getLong(2) === 1L) // n, n_zero
    assert(d0.getDouble(3) === 0.0 && d0.getDouble(4) === 3.0) // min, max
    assert(d0.getDouble(5) === 3.0)                      // max_abs
    assert(d0.getDouble(6) === (4.0 / 3 * 1e6).round / 1e6)   // mean
    assert(d0.getDouble(7) ===
      (math.sqrt(10.0 / 3) * 1e6).round / 1e6)           // rms
    val d1 = out(1)
    assert(d1.getDouble(3) === -2.0 && d1.getDouble(5) === 4.0)
    // fixture: 64 dims, every dimension sees every valid vector
    val fix = Similarity.dimStats(spark, sfDir).collect()
    assert(fix.length === 64)
    assert(fix.map(_.getLong(1)).distinct.length === 1,
      "all dims must count the same vector population")
    fix.foreach { r =>
      assert(r.getDouble(5) >= math.abs(r.getDouble(6)), "max_abs >= |mean|")
      assert(r.getDouble(5) >= r.getDouble(7) - 1e-9, "max_abs >= rms")
    }
  }

  test("boilerplate ratio counts df-common shingles per doc") {
    import spark.implicits._
    val sh = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"),
      (3L, "a")
    ).toDF("doc_id", "s")
    val out = Dedup.boilerplateOfShingles(sh, minDf = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def rd(x: Double) = (x * 1e6).round / 1e6
    assert(out.toSeq === Seq(
      (1L, 3L, 2L, rd(2.0 / 3)), // a(df=3), b(df=2) common; c unique
      (2L, 2L, 2L, 1.0),
      (3L, 1L, 1L, 1.0)))
    intercept[IllegalArgumentException] {
      Dedup.boilerplateOfShingles(sh, minDf = 1)
    }
    // fixture: one row per shingle-carrying doc, ratios in [0,1], and the
    // ratio agrees with an independent df recount
    val fix = Dedup.boilerplate(spark, sfDir).collect()
    val withGrams = Dedup.shinglesOf(Tables.documents(spark, sfDir))
      .select($"doc_id").distinct().count()
    assert(fix.length.toLong === withGrams)
    val dfOf = Dedup.shinglesOf(Tables.documents(spark, sfDir))
      .groupBy($"s").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val grams = Dedup.shinglesOf(Tables.documents(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    fix.foreach { r =>
      val (id, n, c, ratio) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(n.toInt === grams(id).length, s"gram count at doc $id")
      assert(c.toInt === grams(id).count(dfOf(_) >= 3), s"common at $id")
      assert(ratio === rd(c.toDouble / n), s"ratio at doc $id")
    }
  }

  test("threshold sweep is monotone and its 0.8 rung equals the q21 pairs") {
    import spark.implicits._
    val sweep = Dedup.thresholdSweep(spark, sfDir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(sweep.nonEmpty)
    // raising the threshold can only shrink every count
    sweep.sliding(2).foreach {
      case Array((t1, p1, d1, l1), (t2, p2, d2, l2)) =>
        assert(t1 < t2 && p1 >= p2 && d1 >= d2 && l1 >= l2,
          s"sweep not monotone between $t1 and $t2")
      case _ =>
    }
    // the 0.8 rung must agree with the fixed-threshold operator exactly
    val pairs08 = Dedup.ngramJaccard(spark, sfDir, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    sweep.find(_._1 == 0.8).foreach { case (_, p, d, l) =>
      assert(p === pairs08.length.toLong)
      assert(d === pairs08.flatMap(x => Seq(x._1, x._2)).distinct.length.toLong)
      assert(l === pairs08.map(_._2).distinct.length.toLong)
    }
    assert(sweep.exists(_._1 == 0.8), "default ladder must include 0.8")
  }

  test("sampled threshold sweep estimates the full sweep within its " +
      "stated error") {
    val full = Dedup.thresholdSweep(spark, sfDir).collect()
      .map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // f = 1 IS the full sweep: same raw rows, estimate == count,
    // error bar defined on every (necessarily non-empty) rung
    val f1 = Dedup.thresholdSweepSampled(spark, sfDir,
      sampleFraction = 1.0).collect()
    assert(f1.map(r => r.getDouble(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap === full)
    f1.foreach { r =>
      assert(r.getLong(4) === r.getLong(1))
      assert(!r.isNullAt(5) && r.getDouble(5) > 0)
    }
    // f = 0.5 (deterministic md5 doc sample): the 1/f² estimate is the
    // exact integer arithmetic (×4 here), and per present rung it must
    // sit within 4 stated standard errors of the full count (±4 pairs
    // absolute floor for near-empty rungs — the estimator's own
    // granularity at this fraction)
    val s = Dedup.thresholdSweepSampled(spark, sfDir,
      sampleFraction = 0.5).collect()
    assert(s.nonEmpty, "the half-sample must keep some planted pairs")
    s.foreach { r =>
      val (t, n, est) = (r.getDouble(0), r.getLong(1), r.getLong(4))
      assert(est === math.round(n * 4.0))
      val fullN = full.get(t).map(_._1).getOrElse(0L)
      val slack = math.max(4.0 * r.getDouble(5) * est, 16.0)
      assert(math.abs(est - fullN) <= slack,
        s"rung $t: est $est vs full $fullN exceeds slack $slack")
    }
    // fraction domain is validated loudly
    val e = intercept[IllegalArgumentException](
      Dedup.thresholdSweepSampled(spark, sfDir, sampleFraction = 0.0))
    assert(e.getMessage.contains("sampleFraction"))
  }

  test("sampled minhash accuracy audit is an exact row subset of the " +
      "full audit; sampled planner scales its sums by 1/f² exactly") {
    import spark.implicits._
    // q124's contract: signatures/bands/shingles are per-doc, so the
    // sampled audit's rows must be BIT-IDENTICAL to the full audit's
    // rows for pairs whose both endpoints survive the md5-bucket sample
    // — no approximation anywhere in a surviving row
    val sampledDocs = Tables.documents(spark, sfDir)
      .filter(expr("cast(conv(substring(md5(cast(doc_id as string)), " +
        "1, 15), 16, 10) as bigint) % 1000000 < 500000"))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(sampledDocs.nonEmpty)
    val full = Dedup.minhashAccuracy(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq).toMap
    val samp = Dedup.minhashAccuracySampled(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq).toMap
    assert(samp.nonEmpty, "the half-sample must keep some banded pairs")
    val expected = full.filter { case ((d1, d2), _) =>
      sampledDocs.contains(d1) && sampledDocs.contains(d2) }
    assert(samp === expected)
    // coverage ≈ f² — the probe contract the 30× sessions measured
    // (1.0025% vs 1.0000% predicted at f = 0.1, SCALE_r15), pinned at
    // fixture scale as the regression net: a pair survives iff both
    // endpoints do, p = f² = 0.25 at the default f, within 4 binomial
    // standard errors of the full candidate count
    val cov = samp.size.toDouble / full.size
    assert(full.nonEmpty &&
      math.abs(cov - 0.25) <= 4 * math.sqrt(0.25 * 0.75 / full.size),
      s"pair coverage $cov strays from f²=0.25 (${samp.size}/${full.size})")
    // f = 1 is the full audit verbatim
    val f1 = Dedup.minhashAccuracySampled(spark, sfDir,
      sampleFraction = 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq).toMap
    assert(f1 === full)
    // q125: the estimate columns are the already-rounded planner sums
    // scaled by exactly 1/f² (4.0 at f = 0.5), the error bar is
    // 1/sqrt(n_pairs), and the base columns equal the full planner run
    // over the sampled sub-corpus (capS = 50)
    val p = Dedup.lshPlannerSampled(spark, sfDir).collect()
    assert(p.length === 4)
    p.foreach { r =>
      val n = r.getLong(2)
      assert(r.getLong(7) === math.round(n * 4.0))
      assert(math.abs(r.getDouble(8) -
        BigDecimal(r.getDouble(4) * 4.0)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
      if (n > 0) assert(math.abs(r.getDouble(10) - BigDecimal(1.0 /
        math.sqrt(n.toDouble)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
    // agreement within stated error — the estimator contract the 30×
    // probe sessions proved (every banding within 3 standard errors,
    // SCALE_r15), pinned at fixture scale: per banding, the 1/f²-scaled
    // candidate expectation sits within 4 stated standard errors of the
    // FULL planner's (absolute floor for near-empty rungs)
    val fullP = Dedup.lshPlanner(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(4)).toMap
    p.foreach { r =>
      val key = (r.getInt(0), r.getInt(1))
      val est = r.getDouble(8)
      val relErr = if (r.isNullAt(10)) 1.0 else r.getDouble(10)
      val slack = math.max(4.0 * relErr * math.max(est, fullP(key)), 16.0)
      assert(math.abs(est - fullP(key)) <= slack,
        s"banding $key: est $est vs full ${fullP(key)} exceeds $slack")
    }
    // fraction domain validated loudly on both twins
    val e1 = intercept[IllegalArgumentException](
      Dedup.minhashAccuracySampled(spark, sfDir, sampleFraction = 1.5))
    assert(e1.getMessage.contains("sampleFraction"))
    val e2 = intercept[IllegalArgumentException](
      Dedup.lshPlannerSampled(spark, sfDir, sampleFraction = 0.0))
    assert(e2.getMessage.contains("sampleFraction"))
  }

  test("normalized dedup merges reformatted copies raw dedup keeps apart") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO-WORLD."),
      (4L, "a different document"),
      (5L, "a different document")).toDF("doc_id", "text")
    val res = Dedup.normalizedDedupOf(docs).collect()
    assert(res.length === 2, "five docs collapse to two canonical forms")
    // 1/2/3 share a canonical form but carry three distinct raw digests —
    // the tier q20 ships three times and q110 ships once
    val g = res.find(_.getAs[Long]("keeper") == 1L).get
    assert(g.getAs[Long]("n_copies") === 3L)
    assert(g.getAs[Long]("n_variants") === 3L)
    // 4/5 are raw-identical: q20 already merges them, n_variants stays 1
    val g2 = res.find(_.getAs[Long]("keeper") == 4L).get
    assert(g2.getAs[Long]("n_copies") === 2L)
    assert(g2.getAs[Long]("n_variants") === 1L)
    assert(res.map(_.getAs[Long]("n_copies")).sum === 5L, "partition")
  }

  test("normalized dedup refines raw exact dedup on the fixture") {
    val raw = Dedup.exact(spark, sfDir).collect()
    val norm = Dedup.normalizedDedup(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    // both partition the corpus; normalization can only merge groups
    assert(norm.map(_.getAs[Long]("n_copies")).sum === nDocs)
    assert(norm.length <= raw.length)
    // every raw group lands whole inside one normalized group: the
    // variant counts sum back to the raw group count
    assert(norm.map(_.getAs[Long]("n_variants")).sum === raw.length.toLong)
    // keepers are minimal per group, so the global min doc survives
    assert(norm.map(_.getAs[Long]("keeper")).min ===
      raw.map(_.getAs[Long]("keeper")).min)
  }

  test("truncation recall is exact at full width and bounded below it") {
    // identity check: "truncating" to the full 64 dims must reproduce the
    // exact top-k, so every query reads recall 1.0 — any disagreement
    // means the two chains' arithmetic has drifted apart
    val full = Similarity.truncationRecall(spark, sfDir, keepDims = 64)
      .collect()
    assert(full.nonEmpty)
    full.foreach(r => assert(r.getAs[Double]("recall") === 1.0,
      s"full-width identity at ${r.getAs[Long]("q_id")}"))
    // the audited policy: recall well-defined per query, k truths each
    val r16 = Similarity.truncationRecall(spark, sfDir).collect()
    assert(r16.length === full.length, "same query population")
    r16.foreach { r =>
      assert(r.getAs[Long]("n_true") === 5L)
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(rec === r.getAs[Long]("n_hit") / 5.0)
    }
  }

  test("quantization recall is near-lossless where truncation is not") {
    // int8 per-vector quantization perturbs each coordinate by <= 1/254
    // of the vector's max-abs — cosine RANKS survive; pin a high floor
    val q = Similarity.quantizationRecall(spark, sfDir).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      assert(r.getAs[Long]("n_true") === 5L)
      assert(r.getAs[Double]("recall") >= 0.8,
        s"int8 should be near-lossless: $r")
    }
    // the discriminating contrast the audit trio exists to surface: on
    // embeddings that do NOT front-load information (this fixture's), the
    // precision cut is free while the width cut is catastrophic — a
    // pipeline owner reading both tables picks int8, not truncation
    val t = Similarity.truncationRecall(spark, sfDir).collect()
    val qMacro = q.map(_.getAs[Double]("recall")).sum / q.length
    val tMacro = t.map(_.getAs[Double]("recall")).sum / t.length
    assert(qMacro > tMacro,
      s"int8 macro $qMacro must beat 4x truncation's $tMacro here")
  }

  test("lsh planner brackets q22's banding with a monotone trade") {
    val rows = Dedup.lshPlanner(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_target"),
        r.getAs[Double]("exp_candidates"), r.getAs[Double]("exp_caught"),
        r.getAs[Double]("recall"))).sortBy(_._1)
    assert(rows.map(x => (x._1, x._2)).toSeq ===
      Seq((1, 8), (2, 4), (4, 2), (8, 1)), "every banding of K=8 present")
    // every config is scored against the same pair profile
    assert(rows.map(_._3).distinct.length === 1)
    assert(rows.map(_._4).distinct.length === 1)
    assert(rows.head._4 > 0, "fixture must contain target pairs")
    rows.foreach { r =>
      assert(r._7 >= 0.0 && r._7 <= 1.0, s"recall in [0,1]: $r")
      assert(r._6 <= r._5 + 1e-9, s"caught is a subset of candidates: $r")
      assert(r._5 <= r._3 + 1e-9, s"p <= 1 bounds candidates by pairs: $r")
    }
    // more bands (fewer rows per band) = looser curve: candidate volume
    // and recall both rise together — the trade the planner exists to show
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._5 <= b._5 + 1e-9, s"candidates monotone in bands: $a $b")
        assert(a._7 <= b._7 + 1e-9, s"recall monotone in bands: $a $b")
      case _ =>
    }
    // hand-checkable endpoint: 8 bands x 1 row catches a j>=0.8 pair with
    // p >= 1-(0.2)^8 > 0.999997 — the recall average can't read below it
    assert(rows.last._7 >= 0.999, s"8x1 endpoint recall: ${rows.last}")
  }

  test("lsh planner's 4x2 prediction brackets the shipped banding's catch") {
    // the planner is analytic (S-curve over true Jaccards); q108's audit
    // is the REALITY of the shipped 4-band sketch (every banded candidate
    // with its true Jaccard). The md5 "permutations" are one fixed draw,
    // so the realization won't equal the expectation — but an S-curve
    // that's wrong by construction would miss by far more than 2x.
    // population note: q108's true Jaccard is UNGATED while the planner's
    // target pool rides the df-gated intersection stage — the fixture's
    // max shingle df is 9 (well under the 100 cap), so the two agree
    // here, but `actual <= n_target` is NOT a general invariant and is
    // deliberately not asserted.
    val actualCaught = Dedup.minhashAccuracy(spark, sfDir).collect()
      .count(_.getAs[Double]("jaccard") >= 0.8).toLong
    val row = Dedup.lshPlanner(spark, sfDir).collect()
      .find(_.getAs[Int]("bands") == 4).get
    val expCaught = row.getAs[Double]("exp_caught")
    assert(actualCaught >= 0.5 * expCaught &&
      actualCaught <= 2.0 * expCaught,
      s"actual $actualCaught vs predicted $expCaught")
  }

  test("cluster-size histogram partitions the corpus") {
    import graft.operators.Curation
    val hist = Curation.clusterSizes(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = Tables.documents(spark, sfDir).count()
    // every document lands in exactly one cluster of exactly one size
    assert(hist.map(_._3).sum === nDocs)
    hist.foreach { case (size, nc, nd) =>
      assert(nd === size * nc, s"size $size row inconsistent")
    }
    // docs in size>=2 clusters are exactly the pair participants
    val paired = Dedup.ngramJaccard(spark, sfDir, 0.8).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.length.toLong
    assert(hist.filter(_._1 >= 2).map(_._3).sum === paired)
  }

  test("minhash accuracy audit covers q22's pairs and bounds exact-dup error") {
    val audit = Dedup.minhashAccuracy(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(audit.nonEmpty)
    // estimates are multiples of 1/8 and the error column is consistent
    audit.values.foreach { case (est, j, err) =>
      assert((est * 8).isWhole && est >= 0.0 && est <= 1.0)
      assert(math.abs(err - math.abs(est - j)) < 1e-6)
    }
    // q22 = exactly the audit rows clearing the 0.5 estimate floor
    val q22 = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(q22.map(_._1).toSet ===
      audit.filter(_._2._1 >= 0.5).keySet)
    q22.foreach { case (k, est) => assert(audit(k)._1 === est) }
    // a true exact duplicate (jaccard 1.0) must estimate 1.0: all 8 mins
    // are minima of the SAME shingle set
    audit.values.filter(_._2 == 1.0).foreach { case (est, _, err) =>
      assert(est === 1.0 && err === 0.0)
    }
  }

  test("ANN recall audit equals a direct recomputation from the three paths") {
    val truth = Similarity.bruteForceTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val lsh = Similarity.lshTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val audit = Similarity.annRecall(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5),
          r.getDouble(6)))).toMap
    val byQ = truth.groupBy(_._1)
    assert(audit.keySet === byQ.keySet, "one audit row per truth query")
    byQ.foreach { case (q, rows) =>
      val (nTrue, hitL, hitI, recL, recI) = audit(q)
      assert(nTrue === rows.length.toLong)
      assert(hitL === rows.count(lsh.contains).toLong, s"lsh hits at q=$q")
      assert(hitI === rows.count(ivf.contains).toLong, s"ivf hits at q=$q")
      assert(math.abs(recL - hitL.toDouble / nTrue) < 1e-6)
      assert(math.abs(recI - hitI.toDouble / nTrue) < 1e-6)
    }
    // the documented regime split, visible as one table: IVF is the
    // weak-similarity top-k path (q38's 0.9-recall fixture contract);
    // sign-LSH targets the HIGH-cosine near-dup regime, so its recall on
    // generic top-5 queries is low BY DESIGN — the audit existing to show
    // exactly this is why a pipeline owner reads it before routing
    val macroL = audit.values.map(_._4).sum / audit.size
    val macroI = audit.values.map(_._5).sum / audit.size
    assert(macroI >= 0.8, s"IVF macro recall $macroI below the fixture floor")
    assert(macroL < macroI,
      s"sign-LSH ($macroL) must trail IVF ($macroI) on generic top-k — " +
        "if it doesn't, the fixture stopped exercising the regime split")
  }

  test("JL projection is linear, deterministic, and norm-preserving on average") {
    import spark.implicits._
    val base = Seq(0.5, -1.25, 2.0, 0.0, 3.5, -0.75, 1.0, -2.0)
    val twice = base.map(_ * 2.0)
    val vs = Seq((1L, base), (2L, twice), (3L, base))
      .toDF("vec_id", "v")
    val out = Similarity.jlProjectionOf(vs, outDim = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out.size === 12)
    (0 until 4).foreach { j =>
      // deterministic sign matrix: identical vectors project identically,
      // and scaling the input scales the output (inputs chosen so the
      // decimal quantization is exact and 2x stays within 6-dp rounding)
      assert(out((1L, j)) === out((3L, j)), s"determinism at j=$j")
      assert(math.abs(out((2L, j)) - 2.0 * out((1L, j))) < 1e-9,
        s"linearity at j=$j")
    }
    // JL contract on the fixture: squared-norm ratio concentrates around 1
    val proj = Similarity.jlProjection(spark, sfDir, outDim = 16)
      .groupBy($"vec_id").agg(sum($"y" * $"y").as("p2"))
    val orig = Tables.embeddings(spark, sfDir)
      .filter($"embedding".isNotNull &&
        not(coalesce(exists($"embedding", x => x.isNull), lit(true))))
      .select($"vec_id",
        aggregate($"embedding", lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")).as("n2"))
    val ratios = proj.join(orig, Seq("vec_id"))
      .select(($"p2" / $"n2").as("r")).collect().map(_.getDouble(0)).sorted
    assert(ratios.nonEmpty)
    val median = ratios(ratios.length / 2)
    assert(median > 0.4 && median < 2.5,
      s"median norm ratio $median outside the JL band")
    val mean = ratios.sum / ratios.length
    assert(mean > 0.6 && mean < 1.6, s"mean norm ratio $mean drifted")
  }

  test("index compaction folds committed state bit-identically — torn " +
      "generations invisible, retries idempotent, the replay trail " +
      "preserved, superseded parts dropped") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val part = pmod($"doc_id", lit(4))
    val path = s"target/testidx/compact${System.nanoTime()}"
    try {
      Dedup.writeDedupIndex(docs.filter(part === 0), path)
      Dedup.writeClusterForest(docs.filter(part === 0), path)
      Dedup.incrementalClustersAgainstIndex(spark, path,
        docs.filter(part === 1)).collect()
      Dedup.incrementalClustersAgainstIndex(spark, path,
        docs.filter(part === 2)).collect()
      // the UNCOMPACTED read-world, all three consumer families
      def verdicts() = Dedup.incrementalDedupAgainstIndex(spark, path,
        docs.filter(part === 3)).collect().map(_.toSeq).toSeq
      def clustersRO() = Dedup.incrementalClustersAgainstIndex(spark, path,
        docs.filter(part === 3), commit = false)
        .collect().map(_.toSeq).toSeq
      val v0 = verdicts()
      val c0 = clustersRO()
      assert(v0.nonEmpty && c0.nonEmpty)
      // a TORN compaction (crash before the marker: files staged, no
      // _graft_commit) must be invisible — readers keep the r16 layout
      docs.filter(part === 0).limit(1)
        .select($"doc_id", xxhash64($"text").as("s"))
        .write.mode("overwrite").parquet(s"$path/compact/g1/shingles")
      assert(Dedup.latestCompaction(path) === None)
      assert(verdicts() === v0, "a torn compaction must serve prior state")
      // the real compaction: covers the committed tail, read-world
      // unchanged bit for bit
      assert(Dedup.compactDedupIndex(spark, path) === 2)
      assert(Dedup.latestCompaction(path) === Some((1, 2)))
      assert(verdicts() === v0)
      assert(clustersRO() === c0)
      // superseded state dropped, protocol witnesses kept: increment
      // data parts gone, their markers (the committed trail + replay
      // digest set) kept; forest v0 seed + committed tail kept, the
      // mid-version gone
      for (k <- 1 to 2) {
        assert(!new java.io.File(s"$path/inc/v$k/shingles").exists())
        assert(!new java.io.File(s"$path/inc/v$k/hashes").exists())
        assert(new java.io.File(s"$path/inc/v$k/_graft_commit").isFile)
      }
      // the original writeDedupIndex base is superseded by the committed
      // generation (the read plan resolves compact/g1): its data parts
      // must be GC'd too, not retained forever (ADVICE r18 deferred low)
      assert(!new java.io.File(s"$path/shingles").exists(),
        "a committed compaction must drop the superseded base shingles")
      assert(!new java.io.File(s"$path/hashes").exists(),
        "a committed compaction must drop the superseded base hashes")
      assert(new java.io.File(s"$path/forest/v0").isDirectory)
      assert(!new java.io.File(s"$path/forest/v1").exists())
      assert(new java.io.File(s"$path/forest/v2").isDirectory)
      // retry idempotency (a crash after the marker re-enters here)
      assert(Dedup.compactDedupIndex(spark, path) === 2)
      assert(verdicts() === v0)
      // the replay-refusal digest scan must survive compaction: the data
      // parts are gone but the marker digests are the refusal evidence
      val e = intercept[IllegalArgumentException](
        Dedup.incrementalClustersAgainstIndex(spark, path,
          docs.filter(part === 1)))
      assert(e.getMessage.contains("already committed"))
      // a LATER commit rides the compacted base: threshold-triggered
      // compaction (compactEvery = 1) folds it immediately, and the
      // committed-cluster frame equals the read-only preview taken over
      // the uncompacted layout
      val c3 = Dedup.incrementalClustersAgainstIndex(spark, path,
        docs.filter(part === 3), compactEvery = 1)
        .collect().map(_.toSeq).toSeq
      assert(c3 === c0,
        "commit output must equal its read-only preview across compaction")
      assert(Dedup.latestCompaction(path) === Some((2, 3)))
      assert(!new java.io.File(s"$path/compact/g1").exists(),
        "the superseded compaction generation must be dropped")
      assert(!new java.io.File(s"$path/inc/v3/shingles").exists())
    } finally rmrf(path)
  }

  test("dict-backed index compaction keeps the dictionary next to the " +
      "folded state, string-twin-identical") {
    import spark.implicits._
    val docsS = Tables.documents(spark, sfDir).select(
      concat(lit("doc-"), lpad($"doc_id".cast("string"), 9, "0"))
        .as("doc_id"), $"text")
    val isInc = substring($"doc_id", -1, 1) === "0"
    val path = s"target/testidx/compactfp${System.nanoTime()}"
    try {
      Dedup.writeDedupIndex(docsS.filter(!isInc), path)
      Dedup.writeClusterForest(docsS.filter(!isInc), path)
      val c1 = Dedup.incrementalClustersAgainstIndex(spark, path,
        docsS.filter(isInc)).collect().map(_.toSeq).toSeq
      val v1 = Dedup.incrementalDedupAgainstIndex(spark, path,
        docsS.filter(isInc)).collect().map(_.toSeq).toSeq
      assert(Dedup.compactDedupIndex(spark, path) === 1)
      // the folded dictionary carries EVERY seen doc (base + increment)
      // in fingerprint currency — the collision guard's and the
      // join-back's world
      val dict = spark.read.parquet(s"$path/compact/g1/dict")
      assert(dict.count() === docsS.count())
      assert(dict.schema("doc_id").dataType ===
        org.apache.spark.sql.types.LongType)
      // the superseded base dict is GC'd with the base — the dict-ness
      // witness must resolve through the read plan (the commits below
      // would throw a "bigint increments" refusal if it read the dead
      // base path and misread this index as dict-less)
      assert(!new java.io.File(s"$path/dict").exists(),
        "a committed compaction must drop the superseded base dict")
      // retry of the compacted commit re-serves the same frame; the
      // verdict family reads the same world
      val c2 = Dedup.incrementalClustersAgainstIndex(spark, path,
        docsS.filter(isInc)).collect().map(_.toSeq).toSeq
      assert(c2 === c1)
      assert(Dedup.incrementalDedupAgainstIndex(spark, path,
        docsS.filter(isInc)).collect().map(_.toSeq).toSeq === v1)
    } finally rmrf(path)
  }

  test("a bigint rebuild over a formerly string-keyed index path clears " +
      "the stale dictionary (no silent cross-currency probes)") {
    import spark.implicits._
    val docsL = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val docsS = docsL.select(concat(lit("doc-"),
      lpad($"doc_id".cast("string"), 9, "0")).as("doc_id"), $"text")
    val isIncL = pmod($"doc_id", lit(10)) === 0
    val isIncS = substring($"doc_id", -1, 1) === "0"
    val path = s"target/testidx/rebuild${System.nanoTime()}"
    try {
      Dedup.writeDedupIndex(docsS.filter(!isIncS), path)
      // string-keyed world: bigint increments refused
      val e1 = intercept[IllegalArgumentException](
        Dedup.incrementalDedupAgainstIndex(spark, path,
          docsL.filter(isIncL)))
      assert(e1.getMessage.contains("fingerprint-keyed"))
      // REBUILD with a bigint corpus at the same path (ADVICE r16: the
      // r16 form left dict/ behind — bigint increments were refused
      // with a misleading message and string increments silently lost
      // every cross-index pair through the dictionary join)
      Dedup.writeDedupIndex(docsL.filter(!isIncL), path)
      assert(!new java.io.File(s"$path/dict").exists(),
        "the stale dictionary must be removed by the rebuild")
      val v = Dedup.incrementalDedupAgainstIndex(spark, path,
        docsL.filter(isIncL)).collect()
      assert(v.nonEmpty && v.exists(_.getInt(3) == 0))
      val e2 = intercept[IllegalArgumentException](
        Dedup.incrementalDedupAgainstIndex(spark, path,
          docsS.filter(isIncS)))
      assert(e2.getMessage.contains("bigint-keyed"))
    } finally rmrf(path)
  }

  test("dictionary gaps fail pair translation loudly instead of " +
      "dropping pairs") {
    import spark.implicits._
    val pairs = Seq((11L, 22L), (33L, 44L)).toDF("d1", "d2")
    val dict = Seq((11L, "a"), (22L, "b"), (33L, "c"))
      .toDF("doc_id", "orig_id") // 44 missing: a partial copy / stale dict
    val full = dict.unionByName(Seq((44L, "d")).toDF("doc_id", "orig_id"))
    assert(Dedup.pairsToOriginal(pairs, full).collect().length === 2)
    val e = intercept[Exception](
      Dedup.pairsToOriginal(pairs, dict).collect())
    assert(e.getMessage.contains("no entry for pair endpoint") ||
      Option(e.getCause).exists(
        _.getMessage.contains("no entry for pair endpoint")))
  }

  test("MeasuredK sizes the sketch from the sampled recall ladder — " +
      "never above the analytic width, falling back when the sample " +
      "cannot certify the target") {
    import spark.implicits._
    val sh = Dedup.shingles(spark, sfDir)
    // the ladder frame (q128's): one row per k up to the analytic
    // width; n_pairs constant across rungs; recall non-decreasing;
    // Wilson bound strictly below the point estimate
    val lad = Dedup.containmentSketchCalibration(spark, sfDir)
      .collect()
    assert(lad.length === Dedup.autoKFor(500000L, 995000L))
    assert(lad.map(_.getLong(1)).distinct.length === 1)
    val recalls = lad.map(_.getDouble(3))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b })
    lad.foreach(r => assert(r.getDouble(4) < r.getDouble(3) ||
      r.getLong(1) == 0))
    // at the fixture's sample size the z=2 Wilson bound cannot certify
    // 0.995 at ANY k (34 pairs, all caught -> lcb 34/38 ~0.895), so
    // chosen is all-false and measured mode falls back to the analytic
    // width: output == AutoK's
    assert(lad.forall(!_.getBoolean(5)))
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.orderBy($"contained", $"container").collect().map(_.toSeq).toSeq
    val auto = rows(Dedup.containmentSketchOfShingles(sh, 500000L, 100))
    val measured = rows(Dedup.containmentSketchOfShingles(sh, 500000L, 100,
      k = Dedup.MeasuredK, measureFraction = 0.5))
    assert(measured === auto)
    // a target the sample CAN certify (0.6 < the fixture's lcb 0.895 at
    // k = 1) picks the measured minimal width — the sketch then runs at
    // k = 1, bit-identical to the explicit-k call, 2x under the
    // analytic width for that target
    val ladLow = Dedup.containmentSketchCalibration(spark, sfDir,
      recallTargetPpm = 600000L).collect()
    assert(ladLow.length === Dedup.autoKFor(500000L, 600000L))
    assert(ladLow.count(_.getBoolean(5)) === 1)
    val chosen = ladLow.find(_.getBoolean(5)).get.getInt(0)
    val mLow = rows(Dedup.containmentSketchOfShingles(sh, 500000L, 100,
      k = Dedup.MeasuredK, recallTargetPpm = 600000L,
      measureFraction = 0.5))
    val kLow = rows(Dedup.containmentSketchOfShingles(sh, 500000L, 100,
      k = chosen))
    assert(mLow === kLow)
    // the measured width's output stays an exact-verified SUBSET of the
    // exact path (misses only, no false positives)
    val exact = rows(Dedup.containmentPrefixOfShingles(sh, 500000L, 100))
    assert(mLow.forall(exact.contains))
  }
}
