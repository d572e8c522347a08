package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Single-pass SimHash kernel, shared by interpreted eval and generated
  * code (the generated stage calls this static method — the expression
  * stays inside whole-stage codegen without inlining the md5 loop). */
object SimhashKernel {
  def compute(arr: ArrayData): Long = {
    val md = MessageDigest.getInstance("MD5")
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](60)
    var idx = 0
    while (idx < arr.numElements()) {
      // null tokens are skipped, like the portable SQL formulation (whose
      // explode+filter drops them before hashing)
      val tok = if (arr.isNullAt(idx)) "" else arr.getUTF8String(idx).toString
      if (tok.nonEmpty && seen.add(tok)) {
        val d = md.digest(tok.getBytes("UTF-8")) // digest() resets md
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
        h = h >>> 4 // keep the first 15 hex chars = top 60 bits
        var j = 0
        while (j < 60) {
          votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      idx += 1
    }
    var fp = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) fp |= 1L << j; j += 1 }
    fp
  }
}

/** 60-bit SimHash of a token array as a single-pass native expression.
  *
  * Replaces the relational formulation (explode tokens × explode 60 bit
  * positions → two aggregations ≈ a 60× row blow-up through the shuffle)
  * with one per-row pass: md5 each distinct token, accumulate per-bit votes
  * locally, emit the fingerprint. No shuffle at all, and codegen-friendly
  * (the generated stage calls [[SimhashKernel.compute]] directly).
  *
  * Bit-compatible with the portable SQL definition used by the oracle:
  * token hash = first 15 hex chars of md5 (== the top 60 bits of the first
  * 8 digest bytes), fingerprint bit j set iff the vote sum over distinct
  * tokens is positive.
  */
case class Simhash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.{ArrayType, StringType}
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_simhash requires array<string>, got ${other.simpleString}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    SimhashKernel.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimhashKernel.compute($c);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Single-pass word-shingle hashing kernel shared by interpreted eval and
  * generated code: for each window of `n` tokens, the first 8 md5 digest
  * bytes of the space-joined shingle, folded big-endian into one SIGNED
  * 64-bit long — bit-for-bit the value obtained by parsing the portable
  * SQL form's 16-hex-char key
  * (`substring(md5(concat_ws(' ', t[i], …, t[i+n-1])), 1, 16)`, the form
  * the DuckDB oracle runs) as an unsigned 64-bit integer. The bijection
  * is spec-pinned against that SQL form as the regression fence. This is
  * the engine's shingle currency since r12: the shingle frame, the df
  * keep-list semi-join, and the posting-list groupBy are the fattest
  * shuffles in the whole engine, and an 8-byte fixed-width key halves
  * their width versus the 16-byte variable-length UTF8 hex form (and
  * compares/hashes as one word). The conf-selected hex STRING twin was
  * retired in r13 after the r12 differential round. */
object ShingleLongKernel {
  def shingleHashLongs(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    val count = if (m >= n) m - n + 1 else 0
    val out = new Array[Any](count)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < count) {
      md.reset()
      // null tokens vanish (separator included), exactly like concat_ws
      var j = 0
      var emitted = false
      while (j < n) {
        if (!arr.isNullAt(i + j)) {
          if (emitted) md.update(' '.toByte)
          md.update(arr.getUTF8String(i + j).getBytes)
          emitted = true
        }
        j += 1
      }
      val d = md.digest()
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Signed-64-bit md5 shingle keys of a token array ([[ShingleLongKernel]])
  * as a native expression. Fewer than `n` tokens yield an empty array. */
case class ShingleHashLongs(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hash_longs"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.{ArrayType, StringType}
    child.dataType match {
      case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_shingle_hash_longs requires array<string> and n >= 1, got " +
          s"${other.simpleString}, n=$n")
    }
  }

  override def nullSafeEval(input: Any): Any =
    ShingleLongKernel.shingleHashLongs(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleLongKernel.shingleHashLongs($c, $n);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Sliding n-token window fingerprint kernel for the exact-substring
  * duplication audit (q77): for each 1-based window start position, the
  * first 8 md5 digest bytes of the space-joined window folded big-endian
  * into one SIGNED 64-bit long — the [[ShingleLongKernel]] fold applied
  * to n-token windows, with the position carried in a
  * `struct<pos: int, g: bigint>` (the coverage sweep downstream needs
  * the start offsets). Bit-for-bit the value obtained by parsing the
  * prior SQL form's key
  * (`substring(md5(concat_ws(' ', slice(t, i, n))), 1, 16)`) as an
  * unsigned 64-bit integer — the same 8-byte-vs-16-byte shuffle-width
  * lever the 3-shingle family pulled in r12, applied to the gram df
  * gate and the hit semi-join (spec-pinned against the SQL hex form). */
object SpanGramLongKernel {
  def spanGramLongs(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    val count = if (m >= n) m - n + 1 else 0
    val out = new Array[Any](count)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < count) {
      md.reset()
      // null tokens vanish (separator included), exactly like concat_ws
      var j = 0
      var emitted = false
      while (j < n) {
        if (!arr.isNullAt(i + j)) {
          if (emitted) md.update(' '.toByte)
          md.update(arr.getUTF8String(i + j).getBytes)
          emitted = true
        }
        j += 1
      }
      val d = md.digest()
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      out(i) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](i + 1, h))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** (pos, g) window fingerprints of a token array ([[SpanGramLongKernel]])
  * as a native expression. Fewer than `n` tokens yield an empty array. */
case class SpanGramLongs(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("g", LongType,
          nullable = false))),
      containsNull = false)
  override def prettyName: String = "graft_span_gram_longs"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.{ArrayType, StringType}
    child.dataType match {
      case ArrayType(StringType, _) if n >= 2 => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_span_gram_longs requires array<string> and n >= 2, got " +
          s"${other.simpleString}, n=$n")
    }
  }

  override def nullSafeEval(input: Any): Any =
    SpanGramLongKernel.spanGramLongs(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SpanGramLongKernel.spanGramLongs($c, $n);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Single-pass blockhash kernel: positional block sums of a payload's
  * codepoint values, mean-tested into a `blocks`-bit fingerprint — the
  * whole q83 chain (per-char explode → (doc, blk) partial agg → per-doc
  * total window → fingerprint assembly, three shuffles of n_chars rows)
  * in one in-row pass. Bit-identical to the portable SQL chain on the
  * engine's pinned ASCII payload domain, and codepoint-faithful to the
  * DuckDB oracle (per-position `ord`) beyond it: block of position p is
  * floor(p·blocks/n) over n codepoints, value is the codepoint, bit b set
  * iff blocks·sum(b) > total. */
object BlockhashKernel {
  def compute(text: org.apache.spark.unsafe.types.UTF8String,
      blocks: Int): Long = {
    val s = text.toString
    val n = s.codePointCount(0, s.length).toLong
    if (n == 0) return 0L // operators filter empties; defensive identity
    val sums = new Array[Long](blocks)
    var total = 0L
    var i = 0
    var pos = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      sums(((pos * blocks) / n).toInt) += cp
      total += cp
      i += Character.charCount(cp)
      pos += 1L
    }
    var fp = 0L
    var b = 0
    while (b < blocks) {
      if (blocks.toLong * sums(b) > total) fp |= 1L << b
      b += 1
    }
    fp
  }
}

/** Per-FRAME blockhash kernel ([[BlockhashKernel]] at frame granularity,
  * q90's fingerprint stage): one in-row pass over the payload's codepoints
  * emits a `blocks`-bit fingerprint per `frameChars`-codepoint frame (the
  * last frame is shorter; its block grid stretches over the ACTUAL frame
  * length, exactly like the relational chain's
  * `least(n - f·frameChars, frameChars)` denominator). Positions are
  * consumed in order, so each frame's sums accumulate in one fixed
  * `blocks`-long buffer and flush at the frame boundary — no per-char
  * rows, no (doc, frame, blk) shuffle. */
object FrameBlockhashKernel {
  def compute(text: org.apache.spark.unsafe.types.UTF8String,
      frameChars: Int, blocks: Int): ArrayData = {
    val s = text.toString
    val n = s.codePointCount(0, s.length).toLong
    val nFrames = ((n + frameChars - 1) / frameChars).toInt
    val out = new Array[Any](nFrames)
    val sums = new Array[Long](blocks)
    var total = 0L
    var frame = 0
    def flush(): Unit = {
      var fp = 0L
      var b = 0
      while (b < blocks) {
        if (blocks.toLong * sums(b) > total) fp |= 1L << b
        b += 1
      }
      out(frame) = fp
      java.util.Arrays.fill(sums, 0L)
      total = 0L
    }
    var i = 0
    var pos = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val f = (pos / frameChars).toInt
      if (f != frame) { flush(); frame = f }
      val fn = math.min(n - f.toLong * frameChars, frameChars.toLong)
      sums((((pos % frameChars) * blocks) / fn).toInt) += cp
      total += cp
      i += Character.charCount(cp)
      pos += 1L
    }
    if (n > 0) flush()
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Per-frame blockhash fingerprints of a string payload as a single-pass
  * native expression (see [[FrameBlockhashKernel]]). */
case class FrameBlockhashes(child: Expression, frameChars: Int, blocks: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_frame_blockhashes"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.StringType
    child.dataType match {
      case StringType if frameChars > 0 && blocks > 0 && blocks <= 60 =>
        TypeCheckResult.TypeCheckSuccess
      case StringType => TypeCheckResult.TypeCheckFailure(
        s"graft_frame_blockhashes needs frameChars > 0 and 1..60 blocks, " +
          s"got $frameChars/$blocks")
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_frame_blockhashes requires string, got ${other.simpleString}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    FrameBlockhashKernel.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      frameChars, blocks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.FrameBlockhashKernel.compute(" +
        s"$c, $frameChars, $blocks);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `blocks`-bit blockhash fingerprint of a string payload as a single-pass
  * native expression (see [[BlockhashKernel]]). */
case class BlockhashFp(child: Expression, blocks: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_blockhash"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.StringType
    child.dataType match {
      case StringType if blocks > 0 && blocks <= 60 =>
        TypeCheckResult.TypeCheckSuccess
      case StringType => TypeCheckResult.TypeCheckFailure(
        s"graft_blockhash needs 1..60 blocks, got $blocks")
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_blockhash requires string, got ${other.simpleString}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    BlockhashKernel.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], blocks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BlockhashKernel.compute($c, $blocks);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object TextFunctions {
  /** SimHash fingerprint of an array<string> token column. */
  def simhash(tokens: Column): Column =
    Bridge.column(Simhash(Bridge.expression(tokens)))

  /** Signed-64-bit md5-prefix hashes of all `n`-token shingles — the
    * (half-width) shuffle currency of the shingle family. */
  def shingleHashLongs(tokens: Column, n: Int = 3): Column =
    Bridge.column(ShingleHashLongs(Bridge.expression(tokens), n))

  /** (pos, g) signed-64-bit window fingerprints of all `n`-token sliding
    * windows — the q77 span-audit gram currency. */
  def spanGramLongs(tokens: Column, n: Int): Column =
    Bridge.column(SpanGramLongs(Bridge.expression(tokens), n))

  /** Streaming C(n,2) pair generator over an array<struct<doc_id, c>>
    * posting list — yields `(d1, d2, c1, c2)` rows, `d1 < d2`, each
    * doc's count carried alongside its id; alias with
    * `.as(Seq("d1", "d2", "c1", "c2"))`. */
  def docIdLenPairs(postings: Column): Column =
    Bridge.column(DocIdLenPairs(Bridge.expression(postings)))

  /** Streaming C(n,2) pair generator over an
    * array<struct<doc_id, rem, g>> prefix posting list — yields
    * `(d1, d2, minrem, gsum)` rows, `d1 < d2`; alias with
    * `.as(Seq("d1", "d2", "minrem", "gsum"))`. */
  def docIdRemPairs(postings: Column): Column =
    Bridge.column(DocIdRemPairs(Bridge.expression(postings)))

  /** Streaming ORIENTED (contained → container) pair generator over an
    * array<struct<doc_id, rem, g, pfx>> containment posting list —
    * yields `(dc, dt, minrem, gc)` rows, one per (prefix member, other
    * member); alias with `.as(Seq("dc", "dt", "minrem", "gc"))`. */
  def docIdRemContainPairs(postings: Column): Column =
    Bridge.column(DocIdRemContainPairs(Bridge.expression(postings)))

  /** Exact intersection size of two SORTED bigint array columns. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(
      Bridge.expression(a), Bridge.expression(b)))

  /** [[sortedIntersectCount]] with an early-exit threshold: exact when
    * the count reaches `needed`, otherwise some value < `needed` — use
    * only under a filter discarding results below `needed`. */
  def sortedIntersectAtLeast(a: Column, b: Column, needed: Column): Column =
    Bridge.column(SortedIntersectAtLeast(
      Bridge.expression(a), Bridge.expression(b),
      Bridge.expression(needed)))

  /** Blockhash fingerprint of a string payload column. */
  def blockhashFp(text: Column, blocks: Int = 60): Column =
    Bridge.column(BlockhashFp(Bridge.expression(text), blocks))

  /** Per-frame blockhash fingerprints of a string payload column. */
  def frameBlockhashes(text: Column, frameChars: Int,
      blocks: Int = 60): Column =
    Bridge.column(FrameBlockhashes(Bridge.expression(text), frameChars,
      blocks))
}
