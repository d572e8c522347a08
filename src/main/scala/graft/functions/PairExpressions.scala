package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator,
  GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Streams the C(n,2) unordered doc pairs of one posting list as
  * `(d1, d2, c1, c2)` rows with `d1 < d2`, WITHOUT materializing the pair
  * array, where each input element is a `struct<doc_id: bigint, c:
  * bigint>` and `c1`/`c2` (each doc's FULL, ungated shingle count) ride
  * with their (sorted) ids.
  *
  * This is the pair-emission step inside the df-gated
  * shingle-intersection stage (`Dedup.interCountsOfShingles`) — the
  * engine's measured dominant top-decade cost. The SQL form it replaced
  * (an exploded, flattened nested `transform` over `slice`s of the list,
  * one struct per pair) runs on Catalyst's higher-order functions, which
  * are CodegenFallback: for a posting list of df docs it interprets ~df²
  * lambda calls and materializes df sliced arrays, df nested arrays, one
  * flattened array and df²/2 boxed structs PER ROW before the explode
  * even starts — at the 30× smoke's maxDf 3000 gate that is a
  * ~4.5M-element array built eagerly for one hot shingle. The generator
  * sorts the list once (so `d1 < d2` needs no per-pair least/greatest)
  * and hands each pair to `GenerateExec` lazily; peak memory per row
  * drops from O(df²) to O(df).
  *
  * Carrying the counts is what lets the intersection stage compute
  * Jaccard's denominator WITHOUT joining the pair frame back to the
  * doc-length table twice: the r18 shape exchanged the corpus-pair frame
  * by d1 and again by d2 (the two largest exchanges of the stage — 34.5 +
  * 43.1 MiB at sf0.1 against a 117 KiB join side that scale-safety pins
  * to a shuffled join) purely to attach two longs; attaching them on the
  * posting entry costs one idx-sized exchange (6 MiB) plus two longs on
  * the count aggregation's partial rows instead (guide §2.3/§2.4 — and
  * the imbalance grows with scale: pair volume is ~maxDf/2 × the posting
  * volume at the cap).
  *
  * Emission-order note: the pair MULTISET over value pairs {a_i, a_j},
  * i < j is invariant under permuting the input array, so sorting first
  * changes nothing downstream (the consumer is an unordered groupBy
  * count) — spec-pinned against the HOF twin. Null elements cannot occur
  * in posting lists built by `collect_list` (it drops nulls); a null slot
  * in a hand-built array is rejected loudly rather than miscounted. */
case class DocIdLenPairs(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("d1", LongType, nullable = false),
    StructField("d2", LongType, nullable = false),
    StructField("c1", LongType, nullable = false),
    StructField("c2", LongType, nullable = false)))

  override def prettyName: String = "graft_doc_id_len_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _), StructField(_, LongType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "graft_doc_id_len_pairs requires array<struct<bigint, bigint>>, " +
        s"got ${other.simpleString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return Iterator.empty
    val ids = new Array[Long](n)
    val cs = new Array[Long](n)
    val order = new Array[Integer](n)
    var i = 0
    while (i < n) {
      require(!arr.isNullAt(i),
        "graft_doc_id_len_pairs: null element in posting list")
      val s = arr.getStruct(i, 2)
      require(!s.isNullAt(0) && !s.isNullAt(1),
        "graft_doc_id_len_pairs: null doc id or count in posting list")
      ids(i) = s.getLong(0)
      cs(i) = s.getLong(1)
      order(i) = i
      i += 1
    }
    java.util.Arrays.sort(order,
      (a: Integer, b: Integer) => java.lang.Long.compare(ids(a), ids(b)))
    new scala.collection.AbstractIterator[InternalRow] {
      private var x = 0
      private var y = 1
      override def hasNext: Boolean = y < n
      override def next(): InternalRow = {
        val (ox, oy) = (order(x), order(y))
        val r = new GenericInternalRow(Array[Any](ids(ox), ids(oy),
          cs(ox), cs(oy)))
        y += 1
        if (y == n) { x += 1; y = x + 1 }
        r
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** [[DocIdLenPairs]] with a PPJoin positional payload: streams the C(n,2)
  * unordered doc pairs of one PREFIX posting list as
  * `(d1, d2, minrem, gsum)` rows, where each input element is a
  * `struct<doc_id: bigint, rem: bigint, g: bigint>` — `rem` is the doc's
  * count of gated shingles ranked AFTER this posting under the global
  * (df, s) order (`g − r`), `g` its total gated count. `minrem =
  * least(rem1, rem2)` and `gsum = g1 + g2` are folded IN the generator:
  * the consumer only ever aggregates the min (and gsum is
  * pair-constant), so two longs travel instead of four.
  *
  * The consumer (`Dedup.ngramJaccardPrefixOfShingles`) aggregates
  * `max(minrem) + 1` per pair — PPJoin's position-based overlap upper
  * bound (Xiao et al., WWW'08 §3.2): at the pair's FIRST shared prefix
  * shingle no earlier shingle can be shared (both docs' gated sets are
  * ranked by the SAME global order, so a shared shingle ranked before
  * the match in one doc ranks before it in the other — it would itself
  * be an earlier prefix match), hence
  * `overlap ≤ 1 + min(g1 − r1, g2 − r2)` there; both `rem`s are maximal
  * at that first match, so the max-of-min aggregate equals the
  * first-match bound exactly. `gsum` feeds the PRE-JOIN positional
  * prune: gated counts never exceed full counts (g ≤ c), so
  * `(1e6 + tn − 1)·ub < (tn − 1)·(g1 + g2)` already disqualifies a pair
  * WITHOUT the doc-length join — at the 100× smoke this is the
  * difference between the candidate frame fitting on local disk and
  * ENOSPC (the exact c-based filters still apply after the join).
  *
  * Same contracts as [[DocIdLenPairs]]: sorts by doc id once (d1 < d2 with
  * the payload carried alongside), O(df) peak per posting list, null
  * elements rejected loudly. */
case class DocIdRemPairs(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("d1", LongType, nullable = false),
    StructField("d2", LongType, nullable = false),
    StructField("minrem", LongType, nullable = false),
    StructField("gsum", LongType, nullable = false)))

  override def prettyName: String = "graft_doc_id_rem_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _), StructField(_, LongType, _, _),
        StructField(_, LongType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "graft_doc_id_rem_pairs requires array<struct<bigint, bigint, " +
        "bigint>>, got " + other.simpleString)
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return Iterator.empty
    val ids = new Array[Long](n)
    val rems = new Array[Long](n)
    val gs = new Array[Long](n)
    val order = new Array[Integer](n)
    var i = 0
    while (i < n) {
      require(!arr.isNullAt(i),
        "graft_doc_id_rem_pairs: null element in posting list")
      val s = arr.getStruct(i, 3)
      require(!s.isNullAt(0) && !s.isNullAt(1) && !s.isNullAt(2),
        "graft_doc_id_rem_pairs: null doc id, rem or g in posting list")
      ids(i) = s.getLong(0)
      rems(i) = s.getLong(1)
      gs(i) = s.getLong(2)
      order(i) = i
      i += 1
    }
    java.util.Arrays.sort(order,
      (a: Integer, b: Integer) => java.lang.Long.compare(ids(a), ids(b)))
    new scala.collection.AbstractIterator[InternalRow] {
      private var x = 0
      private var y = 1
      override def hasNext: Boolean = y < n
      override def next(): InternalRow = {
        val (ox, oy) = (order(x), order(y))
        val r = new GenericInternalRow(Array[Any](ids(ox), ids(oy),
          math.min(rems(ox), rems(oy)), gs(ox) + gs(oy)))
        y += 1
        if (y == n) { x += 1; y = x + 1 }
        r
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** [[DocIdRemPairs]]' ORIENTED twin for asymmetric containment
  * (`Dedup.containmentPrefixOfShingles`): streams the ordered
  * (contained → container) doc pairs of one posting list as
  * `(dc, dt, minrem, gc)` rows, where each input element is a
  * `struct<doc_id: bigint, rem: bigint, g: bigint, pfx: boolean>` —
  * `pfx` marks postings inside the doc's CONTAINMENT prefix (the first
  * `g − α + 1` gated shingles under the global (df, s) order, with
  * `α = ⌈t′·c⌉` the overlap a contained doc must reach).
  *
  * Why orientation changes the emission rule: containment's prefix
  * bound is ONE-SIDED. A qualifying ordered pair (x contained in y)
  * needs `i ≥ α_x` — a bound on x alone — so its first shared gated
  * shingle provably lies in x's prefix (were it deeper, fewer than α_x
  * shingles of x could still match), but may sit ANYWHERE in y's gated
  * list (y's size never bounds i from below). Candidates are therefore
  * prefix(x) × full-gated(y): for each posting the generator emits one
  * ordered row per (prefix member, other member) — a pair of prefix
  * members yields both orientations, a (prefix, non-prefix) pair only
  * the one where the prefix member is contained. `minrem =
  * least(rem_c, rem_t)` feeds the same max-of-min first-match overlap
  * bound as the Jaccard generator (the argument in [[DocIdRemPairs]]'
  * scaladoc is orientation-blind: ranks live in ONE global order);
  * `gc` — the CONTAINED side's gated count — feeds the pre-join
  * emission prune `1e6·(minrem+1) ≥ t′ppm·gc` (valid since g ≤ c).
  *
  * Iteration cost per posting list is |prefix members| × df, not df²:
  * non-prefix members never start a pair, so a high threshold shortens
  * prefixes and cuts the emission fan-out at the source. Same contracts
  * as [[DocIdLenPairs]]: O(df) peak memory, nulls rejected loudly. */
case class DocIdRemContainPairs(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("dc", LongType, nullable = false),
    StructField("dt", LongType, nullable = false),
    StructField("minrem", LongType, nullable = false),
    StructField("gc", LongType, nullable = false)))

  override def prettyName: String = "graft_doc_id_rem_contain_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _), StructField(_, LongType, _, _),
        StructField(_, LongType, _, _),
        StructField(_, BooleanType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "graft_doc_id_rem_contain_pairs requires array<struct<bigint, " +
        "bigint, bigint, boolean>>, got " + other.simpleString)
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return Iterator.empty
    val ids = new Array[Long](n)
    val rems = new Array[Long](n)
    val gs = new Array[Long](n)
    val pfxIdx = new Array[Int](n)
    var nPfx = 0
    var i = 0
    while (i < n) {
      require(!arr.isNullAt(i),
        "graft_doc_id_rem_contain_pairs: null element in posting list")
      val s = arr.getStruct(i, 4)
      require(!s.isNullAt(0) && !s.isNullAt(1) && !s.isNullAt(2) &&
          !s.isNullAt(3),
        "graft_doc_id_rem_contain_pairs: null field in posting list")
      ids(i) = s.getLong(0)
      rems(i) = s.getLong(1)
      gs(i) = s.getLong(2)
      if (s.getBoolean(3)) { pfxIdx(nPfx) = i; nPfx += 1 }
      i += 1
    }
    if (nPfx == 0) return Iterator.empty
    new scala.collection.AbstractIterator[InternalRow] {
      private var px = 0 // index into pfxIdx (the contained side)
      private var y = 0 // index into the full list (the container side)
      advance()
      private def advance(): Unit =
        while (px < nPfx && y == pfxIdx(px)) { // skip the self pair
          y += 1
          if (y == n) { px += 1; y = 0 }
        }
      override def hasNext: Boolean = px < nPfx
      override def next(): InternalRow = {
        val x = pfxIdx(px)
        val r = new GenericInternalRow(Array[Any](ids(x), ids(y),
          math.min(rems(x), rems(y)), gs(x)))
        y += 1
        if (y == n) { px += 1; y = 0 }
        advance()
        r
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Exact intersection size of two SORTED bigint arrays — one merge pass,
  * no allocation. The verify kernel of the prefix-filtered pair path
  * (q119): candidates stream map-side past broadcast per-doc sorted
  * shingle arrays, and this counts |gated(x) ∩ gated(y)| per candidate
  * without materializing the intersection. Null inputs count 0 (a doc
  * absent from the gated index shares nothing). Inputs MUST be sorted
  * ascending — the operator sorts once at array build time; an unsorted
  * input silently undercounts, which is why the builder (`sort_array`)
  * and this kernel live next to each other. */
object SortedIntersectKernel {
  def count(a: ArrayData, b: ArrayData): Long = {
    val (n, m) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** [[count]] with PPJoin+'s suffix-filter idea folded in as an
    * early-exit threshold (Xiao et al. §4's Hamming-bound role, merged
    * into the verify itself): the merge aborts the moment the running
    * count plus the SHORTER unconsumed remainder — the tightest overlap
    * still reachable — falls below `needed`. The caller's contract:
    * `needed` is a lower bound every QUALIFYING pair's intersection must
    * reach, so an aborted merge returns its partial count, which is
    * `< needed` by construction and therefore fails the caller's
    * threshold filter exactly like the true count would have — outputs
    * are bit-identical to [[count]] (spec-pinned property), only the
    * wasted merge work on non-qualifying candidates is skipped. At the
    * 100× smoke 78% of verified candidates are non-qualifying, and most
    * fail early (one rare shared prefix shingle, little else). */
  def countAtLeast(a: ArrayData, b: ArrayData, needed: Long): Long = {
    val (n, m) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      // remaining-possible bound: every future match consumes one slot
      // of each side, so c can grow by at most min(n - i, m - j)
      if (c + math.min(n - i, m - j) < needed) return c
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** [[SortedIntersectKernel.countAtLeast]] as a native codegen
  * expression: exact intersection count when it reaches `needed`,
  * otherwise SOME value strictly below `needed` (the partial count at
  * the abort point). Use only under a filter that discards every result
  * below `needed` — there the output is indistinguishable from
  * [[SortedIntersectCount]] and the non-qualifying merges cost O(abort
  * point) instead of O(n + m). */
case class SortedIntersectAtLeast(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_at_least"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "graft_sorted_intersect_at_least requires (array<bigint>, " +
          s"array<bigint>, bigint), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any, k: Any): Any =
    SortedIntersectKernel.countAtLeast(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      k.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, k) =>
      s"${ev.value} = graft.functions.SortedIntersectKernel" +
        s".countAtLeast($a, $b, $k);")

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** [[SortedIntersectKernel]] as a native codegen expression. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_sorted_intersect_count requires two array<bigint>, got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectKernel.count(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedIntersectKernel.count($a, $b);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}
