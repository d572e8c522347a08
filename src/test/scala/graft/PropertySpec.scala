package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.Aggregators
import graft.pipeline.MrPipeline

/** Property-based checks (the robustness layer the reference lacked —
  * SURVEY §5 notes "no property-based tests"). */
class PropertySpec extends SparkSpec {

  private def holds(prop: Prop, runs: Int = 100): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(runs), prop)
    assert(res.passed, res.status.toString)
  }

  test("partition-local union-find preserves components on any partitioning") {
    // the pre-contraction identity starContract (and q117's forest state)
    // rests on: for ANY edge list chopped into ANY partitions, the union
    // of per-partition star forests has exactly the components of the
    // original graph — checked against a reference union-find, driverless
    val gen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(0, 80)
      edges <- Gen.listOfN(m, Gen.zip(
        Gen.choose(0L, n.toLong), Gen.choose(0L, n.toLong)))
      parts <- Gen.choose(1, 6)
      seed <- Gen.choose(0, Int.MaxValue)
    } yield (edges.filter(e => e._1 != e._2), parts, seed)
    def components(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        r
      }
      es.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      es.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
    }
    holds(Prop.forAll(gen) { case (edges, parts, seed) =>
      val rnd = new scala.util.Random(seed)
      val slices = edges.groupBy(_ => rnd.nextInt(parts)).values.toSeq
      val forest = slices.flatMap(s =>
        graft.operators.Curation.partitionUnionFind(s.iterator))
      // same components AND same min-id labels as the raw edge list; the
      // forest is bounded by the edges processed (each entry is one
      // successful union) and stays canonically oriented
      components(forest) == components(edges) &&
        forest.size <= edges.size &&
        forest.forall { case (mem, root) => mem > root }
    })
  }

  test("simhash is invariant under token order and duplication") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gen = for {
      toks <- Gen.nonEmptyListOf(Gen.oneOf(
        "spark", "table", "row", "key", "merge", "batch", "window", "graft"))
      shuffled <- Gen.const(scala.util.Random.shuffle(toks))
    } yield (toks, shuffled ++ toks.take(1))
    // evaluate via the engine's SQL function on literal arrays
    GraftExtensions.register(spark)
    holds(Prop.forAll(gen) { case (a, b) =>
      def fp(ts: List[String]): Long = {
        val arr = ts.map(t => s"'${t}'").mkString(",")
        spark.sql(s"SELECT graft_simhash(array($arr))").head().getLong(0)
      }
      fp(a) == fp(b) && fp(a) >= 0 && fp(a) < (1L << 60)
    }, runs = 15)
  }

  test("text normalization is idempotent and case/punct/space-insensitive") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    val gen = Gen.nonEmptyListOf(word).map(_.mkString(" "))
    holds(Prop.forAll(gen) { s =>
      def norm(xs: String*): Seq[String] = xs.zipWithIndex
        .map { case (x, i) => (i.toLong, x) }
        .toDF("doc_id", "text")
        .select(graft.operators.Dedup.normalizeText(col("text")))
        .collect().map(_.getString(0)).toSeq
      // the q110 group key must not move under a second normalization,
      // re-casing, punctuation insertion, or whitespace inflation — that
      // is exactly the dup tier the operator exists to collapse
      val Seq(base) = norm(s)
      norm(base, s.toUpperCase,
        s.replace(" ", ", "), "  " + s.replace(" ", "\t \t") + " ")
        .forall(_ == base)
    }, runs = 20)
  }

  test("secondarySorted equals in-memory group-sort for arbitrary data") {
    import spark.implicits._
    val gen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 5L), Gen.choose(-100, 100)))
    holds(Prop.forAll(gen) { data =>
      data.isEmpty || {
        val ds = spark.createDataset(data)
        val got = MrPipeline.secondarySorted(
          ds, 3, (t: (Long, Int)) => t._1,
          Ordering.by[(Long, Int), Int](_._2))(
          (k, it) => Iterator.single(k -> it.toList.map(_._2)))
          .collect().toMap
        val want = data.groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).sorted }
        got == want
      }
    }, runs = 8)
  }

  test("UniqValueCount merge is associative with reduce") {
    val agg = new Aggregators.UniqValueCount(1000)
    val gen = Gen.listOf(Gen.alphaStr.map(_.take(4)))
    holds(Prop.forAll(Gen.zip(gen, gen)) { case (a, b) =>
      val whole = (a ++ b).foldLeft(agg.zero)(agg.reduce)
      val parts = agg.merge(
        a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce))
      agg.finish(whole) == agg.finish(parts)
    })
  }

  test("splitKeyVal partitions any line losslessly at the right separator") {
    val tok = Gen.stringOf(Gen.alphaNumChar).map(_.take(6))
    val gen = Gen.zip(Gen.nonEmptyListOf(tok), Gen.choose(1, 5))
    holds(Prop.forAll(gen) { case (fields, n) =>
      val line = fields.mkString("\t")
      val (k, v) = MrPipeline.splitKeyVal(line, "\t", n)
      val expectKey = fields.take(n).mkString("\t")
      if (fields.size > n)
        k == expectKey && v == fields.drop(n).mkString("\t") &&
          k + "\t" + v == line
      else k == line && v == ""
    })
  }

  test("md5 filter frequencies partition the keyspace consistently") {
    import spark.implicits._
    import graft.sources.IO
    // freq=1 accepts everything; every accepted key of freq f*g is
    // accepted by freq f (divisibility is monotone under factors)
    val keys = (0 until 300).map(i => s"k$i")
    val df = keys.toDF("key")
    val all = IO.md5KeyFilter(df, "key", 1).count()
    assert(all === 300)
    val f6 = IO.md5KeyFilter(df, "key", 6).collect().map(_.getString(0)).toSet
    val f2 = IO.md5KeyFilter(df, "key", 2).collect().map(_.getString(0)).toSet
    val f3 = IO.md5KeyFilter(df, "key", 3).collect().map(_.getString(0)).toSet
    assert(f6.subsetOf(f2) && f6.subsetOf(f3))
    assert((f2 intersect f3) === f6)
  }

  test("composite inner join row counts equal the per-key product") {
    import spark.implicits._
    import graft.operators.CompositeJoin
    val gen = Gen.zip(
      Gen.listOfN(30, Gen.choose(0, 5)), Gen.listOfN(30, Gen.choose(0, 5)))
    holds(Prop.forAll(gen) { case (ka, kb) =>
      val a = ka.zipWithIndex.map { case (k, i) => (k, s"a$i") }
      val b = kb.zipWithIndex.map { case (k, i) => (k, s"b$i") }
      val got = CompositeJoin.run("inner(a, b)",
        Map("a" -> a.toDF("k", "v"), "b" -> b.toDF("k", "v")), "k").count()
      val ca = a.groupBy(_._1).view.mapValues(_.size)
      val cb = b.groupBy(_._1).view.mapValues(_.size)
      val want = (ca.keySet & cb.keySet).toSeq
        .map(k => ca(k).toLong * cb(k)).sum
      got == want
    }, runs = 6)
  }

  test("star contraction equals label propagation on arbitrary graphs") {
    import spark.implicits._
    val gen = Gen.listOfN(20,
      Gen.zip(Gen.choose(0L, 24L), Gen.choose(0L, 24L)))
      .map(_.filter(p => p._1 != p._2))
    holds(Prop.forAll(gen) { edges =>
      edges.isEmpty || {
        val pairs = edges.toDF("d1", "d2")
        val star = graft.operators.Curation.connectedComponentsStar(pairs)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val prop = graft.operators.Curation.connectedComponents(pairs, 60)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        star == prop
      }
    }, runs = 6)
  }

  test("hash split partitions any corpus exhaustively and stably") {
    import spark.implicits._
    val gen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 10000L), Gen.oneOf("s0", "s1", "s2")))
      .map(_.distinctBy(_._1))
    holds(Prop.forAll(gen) { docs =>
      docs.isEmpty || {
        val df = docs.map { case (id, s) => (id, s, s"text $id") }
          .toDF("doc_id", "source", "text")
        val out = graft.operators.Curation.assignSplitsOf(df).collect()
          .map(r => r.getLong(0) -> r.getString(3)).toMap
        // exhaustive, and removing half the corpus moves nobody
        val half = docs.take(docs.length / 2)
        val sub = graft.operators.Curation.assignSplitsOf(
          half.map { case (id, s) => (id, s, s"text $id") }
            .toDF("doc_id", "source", "text")).collect()
          .map(r => r.getLong(0) -> r.getString(3)).toMap
        out.size == docs.length &&
          sub.forall { case (id, split) => out(id) == split }
      }
    }, runs = 6)
  }

  test("sequence packing conserves the token stream for arbitrary corpora") {
    import spark.implicits._
    val gen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 500L), Gen.choose(0, 40)))
      .map(_.distinctBy(_._1))
    holds(Prop.forAll(gen) { docs =>
      docs.isEmpty || {
        val df = docs.map { case (id, n) =>
          (id % 3 match { case 0 => "a"; case 1 => "b"; case _ => "c" },
            id, (1 to n).map(i => s"w$i").mkString(" "))
        }.toDF("source", "doc_id", "text")
        val rows = graft.operators.TextAnalysis.packSequencesOf(df, ctx = 16)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
        // per source in doc_id order: each doc starts exactly where the
        // previous ended (bin arithmetic = one contiguous token stream)
        rows.groupBy(_._1).forall { case (_, rs) =>
          val sorted = rs.sortBy(_._2)
          sorted.zip(sorted.scanLeft(0L)(_ + _._3)).forall {
            case ((_, _, _, bin, pos), start) =>
              bin == start / 16 && pos == start % 16
          }
        }
      }
    }, runs = 6)
  }

  test("count-min estimates never undercount, for arbitrary corpora") {
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(
      Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h"))
    holds(Prop.forAll(Gen.zip(gen, Gen.oneOf(2, 4, 16))) {
      case (toks, width) =>
        val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
        val out = graft.operators.TextAnalysis
          .countMinTopTokensOf(df, width = width).collect()
        out.nonEmpty && out.forall(r => r.getLong(3) >= r.getLong(2))
    }, runs = 8)
  }

  test("histogram report is consistent for arbitrary values") {
    val agg = new Aggregators.ValueHistogram()
    val gen = Gen.nonEmptyListOf(Gen.choose(-1e6, 1e6))
    holds(Prop.forAll(gen) { vs =>
      val r = agg.finish(vs.foldLeft(agg.zero)(agg.reduce))
      r.count == vs.length &&
        r.min == vs.min && r.max == vs.max &&
        r.median >= r.min && r.median <= r.max &&
        math.abs(r.avg - vs.sum / vs.length) < 1e-6 * math.max(1, math.abs(r.avg)) &&
        r.stddev >= 0
    })
  }

  test("duplicated spans equal the brute-force interval union on any corpus") {
    import spark.implicits._
    // tiny vocab + short docs force heavy window sharing, duplicate grams
    // at multiple positions, and adjacent/overlapping hit runs — the edge
    // cases of the sorted-interval sweep
    val n = 8
    val docGen = Gen.listOfN(12, Gen.choose(0, 3).map(i => s"w$i"))
    val gen = Gen.listOfN(6, docGen)
    holds(Prop.forAll(gen) { texts =>
      val docs = texts.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = operators.Dedup.duplicatedSpansOf(docs, n = n).collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
      // brute force: every n-gram string by (doc, pos); dup = in >= 2 docs;
      // coverage = size of the union of [pos, pos+n) over hit positions
      val grams = texts.zipWithIndex.flatMap { case (ts, i) =>
        ts.sliding(n).zipWithIndex.collect {
          case (w, p) if w.length == n => (i.toLong, p, w.mkString(" ")) }
      }
      val dup = grams.groupBy(_._3)
        .filter(_._2.map(_._1).distinct.size >= 2).keySet
      val want = texts.indices.map { i =>
        val hits = grams.filter(g => g._1 == i && dup(g._3)).map(_._2)
        val covered = hits.flatMap(p => p until p + n).distinct.size
        i.toLong -> (hits.size.toLong, covered.toLong)
      }.toMap
      got == want
    }, runs = 12)
  }

  test("containment matches brute-force shingle-set arithmetic") {
    import spark.implicits._
    val docGen = Gen.listOfN(8, Gen.choose(0, 4).map(i => s"w$i"))
    val gen = Gen.listOfN(5, docGen)
    holds(Prop.forAll(gen) { texts =>
      def containment(docs: org.apache.spark.sql.DataFrame) = operators.Dedup
        .containmentOf(operators.Dedup.shinglesOf(docs),
          thresholdPpm = 1L, maxDf = 100)
        .collect()
      val got = containment(texts.zipWithIndex
          .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
          .toDF("doc_id", "text"))
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(4)))
        .toMap
      // string ids whose lexicographic order disagrees with the numeric
      // one ("d10" < "d8"): the fingerprint-dictionary route must carry
      // each doc's length with its doc through the re-orientation
      val gotS = containment(texts.zipWithIndex
          .map { case (ts, i) => (s"d${8 + i}", ts.mkString(" ")) }
          .toDF("doc_id", "text"))
        .map(r => (r.getString(0).drop(1).toLong - 8,
          r.getString(1).drop(1).toLong - 8) -> (r.getLong(2), r.getLong(4)))
        .toMap
      val sets = texts.map(_.sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet)
      val want = (for {
        a <- texts.indices; b <- texts.indices
        if a != b && sets(a).nonEmpty
        i = (sets(a) intersect sets(b)).size
        if i > 0
      } yield (a.toLong, b.toLong) ->
        (i.toLong, i.toLong * 1000000L / sets(a).size)).toMap
      got == want && gotS == want
    }, runs = 12)
  }

  test("banded Hamming pairs are EXACTLY the brute-force dist<=3 set") {
    import spark.implicits._
    // the pigeonhole claim, machine-checked: over arbitrary 60-bit
    // fingerprints (with planted near-dups — random fps alone almost
    // never land within distance 3), the 4x15 band join recovers every
    // pair at distance <= maxDist and nothing else
    val fpGen = Gen.choose(0L, (1L << 60) - 1)
    val maskGen = for {
      k <- Gen.choose(0, 4) // 4: just past the exact bound, must NOT pair
      bits <- Gen.listOfN(k, Gen.choose(0, 59))
    } yield bits.distinct.foldLeft(0L)((m, b) => m | (1L << b))
    val gen = for {
      base <- Gen.listOfN(5, fpGen)
      masks <- Gen.listOfN(5, maskGen)
    } yield base ++ base.zip(masks).map { case (f, m) => f ^ m }
    holds(Prop.forAll(gen) { fps =>
      val fp = fps.zipWithIndex.map { case (f, i) => (i.toLong, f) }
        .toDF("doc_id", "phash")
      val got = operators.Dedup.bandedHammingPairs(fp, "phash", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        a <- fps.indices; b <- fps.indices if a < b
        d = java.lang.Long.bitCount(fps(a) ^ fps(b)) if d <= 3
      } yield (a.toLong, b.toLong, d)).toSet
      got == want
    }, runs = 12)
  }
}
