package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass signature kernels for the dedup pipeline.
  *
  * Semantics are EXACTLY the column-algebra definitions they replace (and
  * the DuckDB oracle twins documented in SparkEntry): tokens are lowercase
  * maximal `[a-z0-9]+` runs, shingles are `k` consecutive tokens
  * space-joined, and every hash is the seeded PolyHash fold over the
  * shingle's UTF-8 bytes. The win is execution shape: Catalyst evaluates
  * higher-order-function lambdas interpreted and re-evaluates any expression
  * referenced inside a nested lambda once per outer element — the original
  * `transform(seq(0..n), j -> array_min(transform(shingles, s -> hash(s, j))))`
  * rebuilt every shingle string once per seed (~32x). These expressions
  * tokenize once, hash each shingle's bytes once, and derive all seeds
  * algebraically:
  *
  *   PolyHash(s, j) = (PolyHash(s, 0) + j * 31^len(s)) mod p
  *
  * so the per-seed work is one modular add. CodegenFallback is deliberate:
  * the whole document-level loop is a single JVM call, so there is no
  * per-element virtual dispatch left for codegen to remove.
  */
private[graft] object SignatureKernel {
  private val Mod = PolyHash.Mod
  private val TokenRe = java.util.regex.Pattern.compile("[^a-z0-9]+")

  /** Spark `array_remove(split(lower(text), "[^a-z0-9]+"), "")` twin. */
  def tokenize(text: String): Array[String] =
    TokenRe.split(text.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)

  /** (PolyHash(shingle, 0), 31^bytelen mod p) for one shingle. */
  private def baseHash(s: String): (Long, Long) = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0L
    var pow = 1L
    var i = 0
    while (i < bytes.length) {
      h = (h * 31L + (bytes(i) & 0xffL)) % Mod
      pow = (pow * 31L) % Mod
      i += 1
    }
    (h, pow)
  }

  /** The sign-critical SRP accumulation, shared by [[SrpBucket]] and
    * [[SrpDots]] so the two can never drift: per-plane dot products with
    * the deterministic ±1 hyperplanes r_k[i] = +1 iff
    * ((1103515245·(k·131 + i + 1) + 12345) mod 2^31) is even (i 0-based;
    * the SQL oracle's 1-based i aligns via the +1).
    */
  def srpDots(a: org.apache.spark.sql.catalyst.util.ArrayData,
      floatElems: Boolean, planes: Int): Array[Double] = {
    val n = a.numElements()
    val dots = new Array[Double](planes)
    var i = 0
    while (i < n) {
      val x = if (floatElems) a.getFloat(i).toDouble else a.getDouble(i)
      var k = 0
      while (k < planes) {
        val mix = (1103515245L * (k.toLong * 131L + i + 1L) + 12345L) % 2147483648L
        dots(k) += (if (mix % 2 == 0) x else -x)
        k += 1
      }
      i += 1
    }
    dots
  }

  /** Shared analysis-time check: these expressions are SQL-registered via
    * GraftExtensions, so misuse (`minhash_sig(array(...))`) must fail in the
    * analyzer, not as a ClassCastException mid-job.
    */
  def requireString(fn: String, child: Expression): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects a string column, got ${child.dataType.catalogString}")

  /** MinHash signature: for seed j, min over shingles of PolyHash(sh, j);
    * null (None) when the document has fewer than k tokens.
    */
  def minhash(text: String, shingleK: Int, numHashes: Int): Option[Array[Long]] = {
    val toks = tokenize(text)
    if (toks.length < shingleK) return None
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - shingleK) {
      sb.setLength(0)
      var t = 0
      while (t < shingleK) {
        if (t > 0) sb.append(' ')
        sb.append(toks(i + t))
        t += 1
      }
      val (h0, pow) = baseHash(sb.toString)
      var h = h0
      var j = 0
      while (j < numHashes) {
        if (h < sig(j)) sig(j) = h
        h += pow
        if (h >= Mod) h -= Mod
        j += 1
      }
      i += 1
    }
    Some(sig)
  }

  /** SimHash over shingle hashes: bit i of the result is set iff more
    * shingle hashes have bit i set than clear; None below k tokens.
    */
  def simhash(text: String, shingleK: Int, bits: Int): Option[Long] = {
    val toks = tokenize(text)
    if (toks.length < shingleK) return None
    val balance = new Array[Int](bits)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - shingleK) {
      sb.setLength(0)
      var t = 0
      while (t < shingleK) {
        if (t > 0) sb.append(' ')
        sb.append(toks(i + t))
        t += 1
      }
      val (h0, _) = baseHash(sb.toString)
      var b = 0
      while (b < bits) {
        if (((h0 >> b) & 1L) == 1L) balance(b) += 1 else balance(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (balance(b) > 0) sig |= (1L << b)
      b += 1
    }
    Some(sig)
  }

  /** Wide SimHash: `seeds` independent 30-bit SimHashes (seed j uses
    * PolyHash(shingle, j), derived algebraically like [[minhash]]:
    * h_j = (h_0 + j·31^len) mod p), packed contiguously little-endian into
    * 64-bit words — seed j's signature occupies bits [30j, 30j+30) of the
    * `seeds`·30-bit result. One tokenize + one byte-fold per shingle, one
    * modular add per extra seed; None below k tokens.
    */
  def simhashWide(text: String, shingleK: Int, seeds: Int): Option[Array[Long]] = {
    val toks = tokenize(text)
    if (toks.length < shingleK) return None
    val bits = seeds * 30
    val balance = new Array[Int](bits)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - shingleK) {
      sb.setLength(0)
      var t = 0
      while (t < shingleK) {
        if (t > 0) sb.append(' ')
        sb.append(toks(i + t))
        t += 1
      }
      val (h0, pow) = baseHash(sb.toString)
      var h = h0
      var j = 0
      while (j < seeds) {
        val base = 30 * j
        var b = 0
        while (b < 30) {
          if (((h >> b) & 1L) == 1L) balance(base + b) += 1 else balance(base + b) -= 1
          b += 1
        }
        h += pow
        if (h >= Mod) h -= Mod
        j += 1
      }
      i += 1
    }
    val words = new Array[Long]((bits + 63) / 64)
    var b = 0
    while (b < bits) {
      if (balance(b) > 0) words(b >> 6) |= (1L << (b & 63))
      b += 1
    }
    Some(words)
  }

  /** k-token shingle strings in one pass — the
    * `shingles(tokens(text), k)` column algebra (optionally wrapped in
    * `array_distinct` / `array_sort(array_distinct(...))`) without the
    * interpreted per-gram transform+slice+array_join lambdas. `distinct`
    * keeps first occurrences (array_distinct order); `sorted` adds binary
    * UTF8 order (array_sort's StringType ordering — tokens are ASCII so
    * code-unit and byte order coincide). Empty below k tokens AND for null
    * text: the HOF chain's `when(size(null) >= k)` falls to the
    * `.otherwise(array())` branch, so null text yields an EMPTY array, not
    * null — the expression must match at non-exploded call sites
    * (Jaccard-verify shingle sets).
    */
  def shingleStrings(text: String, shingleK: Int, distinct: Boolean,
      sorted: Boolean): Array[UTF8String] = {
    val toks = tokenize(text)
    if (toks.length < shingleK) return Array.empty[UTF8String]
    val n = toks.length - shingleK + 1
    val sb = new java.lang.StringBuilder
    if (!distinct) {
      val out = new Array[UTF8String](n)
      var i = 0
      while (i < n) {
        sb.setLength(0)
        var t = 0
        while (t < shingleK) {
          if (t > 0) sb.append(' ')
          sb.append(toks(i + t))
          t += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      out
    } else {
      val set: java.util.Set[UTF8String] =
        // explicit binaryCompare ordering: natural ordering is compareTo,
        // whose Spark-4 isTesting() getenv guard costs per comparison and
        // throws under SPARK_TESTING; the byte order is identical
        if (sorted) new java.util.TreeSet[UTF8String](
          new java.util.Comparator[UTF8String] {
            override def compare(a: UTF8String, b: UTF8String): Int =
              a.binaryCompare(b)
          })
        else new java.util.LinkedHashSet[UTF8String]
      var i = 0
      while (i < n) {
        sb.setLength(0)
        var t = 0
        while (t < shingleK) {
          if (t > 0) sb.append(' ')
          sb.append(toks(i + t))
          t += 1
        }
        set.add(UTF8String.fromString(sb.toString))
        i += 1
      }
      val out = new Array[UTF8String](set.size)
      val it = set.iterator()
      var o = 0
      while (it.hasNext) { out(o) = it.next(); o += 1 }
      out
    }
  }

  /** Position-encode capacity for winnowing fingerprints — the authority
    * for `TextOps.WinnowPosCap` (pipeline depends on functions, not the
    * reverse). Encoded fp `e = gh·cap + (cap−1−pos)` stays injective and
    * min-ordered only while every gram position is below it.
    */
  val WinnowPosCap: Long = 1L << 21

  /** Winnowing fingerprints, still encoded: the distinct trailing-window
    * minima of `e(pos) = PolyHash(shingle_pos, 0)·cap + (cap−1−pos)` —
    * exactly the exploded-gram + doc-partitioned rolling-window-MIN column
    * algebra of `TextOps.winnowFingerprints`, in one pass per document
    * (monotone-deque rolling min, O(grams)). Full windows only, except a
    * short document keeps its final partial window; the `cap−1−pos` term
    * implements robust winnowing's rightmost-min tie rule. Ascending
    * order. Empty below k tokens; throws (like the column version's
    * raise_error, minus the doc id the kernel cannot see) past the
    * position capacity.
    */
  def winnowEncoded(text: String, shingleK: Int, window: Int): Array[Long] = {
    val cap = WinnowPosCap
    val toks = tokenize(text)
    if (toks.length < shingleK) return Array.emptyLongArray
    val n = toks.length - shingleK + 1
    if (n > cap) throw new RuntimeException(
      s"winnowFingerprints: gram position >= $cap")
    val e = new Array[Long](n)
    val sb = new java.lang.StringBuilder
    var pos = 0
    while (pos < n) {
      sb.setLength(0)
      var t = 0
      while (t < shingleK) {
        if (t > 0) sb.append(' ')
        sb.append(toks(pos + t))
        t += 1
      }
      e(pos) = baseHash(sb.toString)._1 * cap + (cap - 1L - pos)
      pos += 1
    }
    val start = math.min(window - 1, n - 1)
    val seen = new java.util.TreeSet[java.lang.Long]
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    pos = 0
    while (pos < n) {
      // e values are injective in pos, so strict/equal eviction coincide
      while (tail > head && e(dq(tail - 1)) >= e(pos)) tail -= 1
      dq(tail) = pos
      tail += 1
      if (dq(head) <= pos - window) head += 1
      if (pos >= start) seen.add(e(dq(head)))
      pos += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }

  /** Per-document frozen-logreg logit in ONE pass: tokenize (the
    * `array_remove(split(lower(text)))` twin), bucket-count each token's
    * `PolyHash(t, 0) % dims` into a dims-wide array, then
    * `z = bias + Σ_b ((c_b − μ_b)/σ_b)·w_b` with the dot accumulated in
    * bucket order BEFORE the bias add — the exact float-op sequence of
    * the hashed-counts → densify → [[VecDot]] column algebra it replaces
    * (`(c−μ)/σ` per bucket, `acc += x·w` ascending, `bias + acc`), so the
    * kernel is bit-identical to that plan. None for no-token docs — the
    * training-side exclusion.
    */
  def logregLogit(text: String, w: Array[Double], mu: Array[Double],
      sd: Array[Double], bias: Double): Option[Double] = {
    val dims = w.length
    val toks = tokenize(text)
    if (toks.isEmpty) return None
    val counts = new Array[Double](dims)
    var i = 0
    while (i < toks.length) {
      counts((PolyHash.hash(toks(i), 0L) % dims).toInt) += 1.0
      i += 1
    }
    var acc = 0.0
    var b = 0
    while (b < dims) {
      acc += (counts(b) - mu(b)) / sd(b) * w(b)
      b += 1
    }
    Some(bias + acc)
  }
}

/** [[SignatureKernel.logregLogit]] as an expression: the 100 TB
  * curation-filter scoring shape — the whole tokenize → hash-count →
  * standardize → dot pipeline is one JVM call per document with the
  * frozen model as expression parameters (driver literals), so frozen
  * scoring is a NARROW map: zero shuffles, zero joins. Model params are
  * Seq (structural equality for Catalyst plan canonicalization) and
  * pre-flattened to arrays off the hot path.
  */
case class LogregLogit(child: Expression, w: Seq[Double], mu: Seq[Double],
    sd: Seq[Double], bias: Double)
    extends UnaryExpression with CodegenFallback {
  require(w.nonEmpty && mu.length == w.length && sd.length == w.length,
    s"logreg model arrays must share one positive length, got " +
      s"w=${w.length} mu=${mu.length} sd=${sd.length}")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    SignatureKernel.requireString("logreg_logit", child)
  @transient private lazy val wArr = w.toArray
  @transient private lazy val muArr = mu.toArray
  @transient private lazy val sdArr = sd.toArray
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else SignatureKernel.logregLogit(v.toString, wArr, muArr, sdArr, bias)
      .map(java.lang.Double.valueOf).orNull
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class MinHashSig(child: Expression, shingleK: Int, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    SignatureKernel.requireString("minhash_sig", child)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else SignatureKernel.minhash(v.asInstanceOf[UTF8String].toString, shingleK, numHashes)
      .map(a => new GenericArrayData(a)).orNull
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Scan-side shingle strings — see [[SignatureKernel.shingleStrings]].
  * Null text evaluates to an EMPTY array (not null), matching the
  * `shingles(tokens(text), k)` HOF chain it replaces bit-for-bit at
  * non-exploded call sites.
  */
case class ShingleStrings(child: Expression, shingleK: Int,
    distinct: Boolean, sorted: Boolean)
    extends UnaryExpression with CodegenFallback {
  require(shingleK >= 1, s"shingle k must be >= 1, got $shingleK")
  require(distinct || !sorted, "sorted shingles require distinct")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    SignatureKernel.requireString("shingle_strings", child)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val arr =
      if (v == null) Array.empty[UTF8String]
      else SignatureKernel.shingleStrings(
        v.asInstanceOf[UTF8String].toString, shingleK, distinct, sorted)
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Scan-side winnowing fingerprints — see [[SignatureKernel.winnowEncoded]];
  * the producer for `TextOps.winnowFingerprints` and its consumers.
  */
case class WinnowEncoded(child: Expression, shingleK: Int, window: Int)
    extends UnaryExpression with CodegenFallback {
  require(shingleK >= 1 && window >= 1,
    s"need k >= 1, window >= 1; got k=$shingleK window=$window")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    SignatureKernel.requireString("winnow_encoded", child)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else new GenericArrayData(SignatureKernel.winnowEncoded(
      v.asInstanceOf[UTF8String].toString, shingleK, window))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SimHashSig(child: Expression, shingleK: Int, bits: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    SignatureKernel.requireString("simhash_sig", child)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else SignatureKernel.simhash(v.asInstanceOf[UTF8String].toString, shingleK, bits)
      .map(Long.box).orNull
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Multi-seed wide SimHash signature as little-endian 64-bit words — see
  * [[SignatureKernel.simhashWide]]; the scan-side producer for
  * [[graft.pipeline.Dedup.hammingNearDupsWide]].
  */
case class SimHashSigWide(child: Expression, shingleK: Int, seeds: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    SignatureKernel.requireString("simhash_sig_wide", child)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else SignatureKernel.simhashWide(v.asInstanceOf[UTF8String].toString, shingleK, seeds)
      .map(a => new GenericArrayData(a)).orNull
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact Jaccard similarity of two SORTED distinct arrays (string or long
  * elements) via a single merge-walk: |A∩B| counted in one O(m+n) pass,
  * |A∪B| = m+n−|A∩B|. Replaces `size(array_intersect)/size(array_union)`
  * in pairwise loops — those build two hash sets per invocation; at
  * millions of candidate pairs the allocation cost dominates the join.
  * Inputs MUST be sorted and deduplicated; 0/0 yields NaN like the
  * column-algebra division it replaces.
  *
  * Codegen-real: [[doGenCode]] emits the same merge-walk (binaryCompare
  * for strings — never compareTo, see the eval comment), so the
  * candidate-verify joins keep whole-stage codegen with bit-equal
  * results (KernelCodegenSpec).
  */
case class SortedArrayJaccard(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  /** Both sides array<string> or both array<long> — anything else (int
    * arrays, mismatched element types) fails at analysis, since the eval
    * walk reads elements by the LEFT side's type.
    */
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _))     => TypeCheckResult.TypeCheckSuccess
    case (ArrayType(StringType, _), ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      "sorted_jaccard expects both sides array<string> or both array<bigint>, " +
        s"got ${l.catalogString} and ${r.catalogString}")
  }

  private lazy val longElements = left.dataType match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val m = a.numElements()
    val n = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    if (longElements) {
      while (i < m && j < n) {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    } else {
      while (i < m && j < n) {
        // binaryCompare, NOT compareTo: Spark 4's compareTo prepends a
        // SparkEnvUtils.isTesting() check that does a System.getenv PER
        // CALL (and throws under SPARK_TESTING) — measured dominating the
        // quadratic pair-scoring loops via jstack
        val c = a.getUTF8String(i).binaryCompare(b.getUTF8String(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    inter.toDouble / (m + n - inter).toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val walk = if (longElements) {
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        s"""
           |while ($i < $m && $j < $n) {
           |  long $x = $a.getLong($i);
           |  long $y = $b.getLong($j);
           |  if ($x == $y) { $inter++; $i++; $j++; }
           |  else if ($x < $y) $i++;
           |  else $j++;
           |}
         """.stripMargin
      } else {
        val c = ctx.freshName("c")
        s"""
           |while ($i < $m && $j < $n) {
           |  int $c = $a.getUTF8String($i).binaryCompare($b.getUTF8String($j));
           |  if ($c == 0) { $inter++; $i++; $j++; }
           |  else if ($c < 0) $i++;
           |  else $j++;
           |}
         """.stripMargin
      }
      s"""
         |int $m = $a.numElements();
         |int $n = $b.numElements();
         |int $i = 0;
         |int $j = 0;
         |int $inter = 0;
         |$walk
         |${ev.value} = (double) $inter / (double) ($m + $n - $inter);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sorted distinct character-n-gram CODES of the token-normalized text.
  * The normalized alphabet is exactly `[a-z0-9 ]` — 37 symbols — so an
  * n-gram encodes bijectively into a Long (base-37 digits), and Jaccard
  * over code arrays equals Jaccard over the gram strings while the
  * pairwise merge-walk compares longs instead of UTF8 strings and the
  * shuffled arrays shrink ~3x.
  */
case class CharNgramCodes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1 && n <= 12, s"n-gram length $n does not fit a base-37 Long")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    SignatureKernel.requireString("char_ngram_codes", child)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val norm = SignatureKernel.tokenize(v.asInstanceOf[UTF8String].toString).mkString(" ")
    if (norm.length < n) return new GenericArrayData(Array.empty[Long])
    val codes = new java.util.TreeSet[java.lang.Long]()
    // base-37 digit: 'a'..'z' -> 0..25, '0'..'9' -> 26..35, ' ' -> 36
    def digit(c: Char): Long =
      if (c == ' ') 36L else if (c <= '9') 26L + (c - '0') else (c - 'a').toLong
    var code = 0L
    var i = 0
    while (i <= norm.length - n) {
      code = 0L
      var t = 0
      while (t < n) { code = code * 37L + digit(norm.charAt(i + t)); t += 1 }
      codes.add(code)
      i += 1
    }
    val out = new Array[Long](codes.size)
    val it = codes.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hashed unigram+bigram bucket ids of the token-normalized text in ONE
  * pass — the DSIR feature extraction: for every token `t` the bucket
  * `PolyHash(t, 0) % dims`, and for every adjacent pair the bucket of the
  * space-joined bigram `"t1 t2"`. Bit-identical to the column-algebra form
  * it replaces (`explode(concat(tokens, transform(sequence(...), i ->
  * concat(element_at...))))` + `PolyHash % dims`): same tokenizer twin
  * ([[SignatureKernel.tokenize]]), and the bigram hash folds t1's bytes,
  * one 0x20 space byte, then t2's bytes — exactly PolyHash of the
  * concatenated string — without materializing the bigram strings or
  * running the interpreted per-token `transform` lambda. Output order is
  * unigrams then bigrams (the concat order); every consumer aggregates, so
  * order is immaterial. CodegenFallback is deliberate: the whole document
  * is one JVM call (the MinHashSig rationale).
  */
case class TokenGramBuckets(child: Expression, dims: Int)
    extends UnaryExpression with CodegenFallback {
  require(dims > 0, s"token_gram_buckets needs dims > 0, got $dims")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    SignatureKernel.requireString("token_gram_buckets", child)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val toks = SignatureKernel.tokenize(v.asInstanceOf[UTF8String].toString)
    val n = toks.length
    val out = new Array[Long](if (n >= 2) 2 * n - 1 else n)
    val mod = PolyHash.Mod
    // unigram hashes, kept un-bucketed for the bigram folds
    val uh = new Array[Long](n)
    var i = 0
    while (i < n) {
      val bytes = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var h = 0L
      var b = 0
      while (b < bytes.length) { h = (h * 31L + (bytes(b) & 0xffL)) % mod; b += 1 }
      uh(i) = h
      out(i) = h % dims
      i += 1
    }
    i = 0
    while (i + 1 < n) {
      // PolyHash("t1 t2", 0) = fold(t2 bytes, fold(' ', fold(t1 bytes, 0)))
      var h = (uh(i) * 31L + 0x20L) % mod
      val bytes = toks(i + 1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var b = 0
      while (b < bytes.length) { h = (h * 31L + (bytes(b) & 0xffL)) % mod; b += 1 }
      out(n + i) = h % dims
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cosine similarity of two numeric vectors in ONE pass: the three
  * sequential left-folds (a·b, a·a, b·b) of the column-algebra version it
  * replaces, evaluated in the same element order and double precision —
  * bit-identical results — without 3×dim interpreted lambda invocations
  * per pair. Elements may be float or double (cast per element like the
  * original `x.cast(double)`).
  *
  * Codegen-real (not CodegenFallback): this expression sits inside the
  * join predicates/projections of every cosine hot path (brute top-k,
  * PQ re-rank, semantic dedup verify), where a fallback would put an
  * eval-boundary row copy in the middle of a WholeStageCodegen span.
  * [[doGenCode]] emits the SAME scalar loop — identical double-op
  * sequence — so codegen and interpreted results are bit-equal
  * (pinned by KernelCodegenSpec).
  */
case class VecCosine(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"vec_cosine expects array<float|double> on both sides, got ${l.catalogString} and ${r.catalogString}")
  }

  private def floatElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case ArrayType(org.apache.spark.sql.types.DoubleType, _) => false
    case other => throw new IllegalArgumentException(s"vec_cosine expects array<float|double>, got $other")
  }
  private lazy val leftFloat = floatElems(left)
  private lazy val rightFloat = floatElems(right)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    // norms fold over the FULL vector like dot(a, a) did
    var j = n
    while (j < a.numElements()) {
      val x = if (leftFloat) a.getFloat(j).toDouble else a.getDouble(j); na += x * x; j += 1
    }
    j = n
    while (j < b.numElements()) {
      val y = if (rightFloat) b.getFloat(j).toDouble else b.getDouble(j); nb += y * y; j += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val getA = if (leftFloat) s"(double) $a.getFloat" else s"$a.getDouble"
      val getB = if (rightFloat) s"(double) $b.getFloat" else s"$b.getDouble"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $getA($i);
         |  double $y = $getB($i);
         |  $dot += $x * $y;
         |  $na += $x * $x;
         |  $nb += $y * $y;
         |}
         |for (int $i = $n; $i < $a.numElements(); $i++) {
         |  double $x = $getA($i); $na += $x * $x;
         |}
         |for (int $i = $n; $i < $b.numElements(); $i++) {
         |  double $y = $getB($i); $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product in ONE pass — the left-to-right
  * `aggregate(zip_with(a, b, x·y), 0.0, +)` fold it replaces, same element
  * order and double precision (bit-identical), without per-element
  * interpreted lambda dispatch. Null semantics match the fold: a null
  * element or a length mismatch (zip_with pads with nulls) nulls the
  * whole accumulation.
  *
  * Codegen-real: [[doGenCode]] emits the same loop (same double-op
  * order, same mid-loop null-out), so the ADC/logit hot paths stay
  * inside one WholeStageCodegen span with bit-equal results
  * (KernelCodegenSpec).
  */
case class VecDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  // null even on non-null inputs (length mismatch / null element)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float|double> on both sides, got ${l.catalogString} and ${r.catalogString}")
  }

  private def floatElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case ArrayType(org.apache.spark.sql.types.DoubleType, _) => false
    case other => throw new IllegalArgumentException(s"vec_dot expects array<float|double>, got $other")
  }
  private lazy val leftFloat = floatElems(left)
  private lazy val rightFloat = floatElems(right)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getA = if (leftFloat) s"(double) $a.getFloat" else s"$a.getDouble"
      val getB = if (rightFloat) s"(double) $b.getFloat" else s"$b.getDouble"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $getA($i) * $getB($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance in ONE pass — the left-to-right
  * `aggregate(zip_with(a, b, (x-y)²), 0.0, +)` fold it replaces, evaluated
  * in the same element order and double precision, so distances are
  * bit-identical to the column-algebra version (and to the SQL oracle
  * twins that unroll the same fold) without a per-element interpreted
  * lambda invocation. Null semantics also match the fold: a null element
  * anywhere, or a length mismatch (zip_with pads with nulls), nulls the
  * whole accumulation.
  *
  * Codegen-real: [[doGenCode]] emits the same loop (same double-op
  * order, same mid-loop null-out), keeping kmeans assignment and ADC
  * table builds inside WholeStageCodegen with bit-equal results
  * (KernelCodegenSpec).
  */
case class VecSqDist(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  // null even on non-null inputs (length mismatch / null element)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"vec_sqdist expects array<float|double> on both sides, got ${l.catalogString} and ${r.catalogString}")
  }

  private def floatElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case ArrayType(org.apache.spark.sql.types.DoubleType, _) => false
    case other => throw new IllegalArgumentException(s"vec_sqdist expects array<float|double>, got $other")
  }
  private lazy val leftFloat = floatElems(left)
  private lazy val rightFloat = floatElems(right)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val t = x - y
      acc += t * t
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val t = ctx.freshName("t")
      val getA = if (leftFloat) s"(double) $a.getFloat" else s"$a.getDouble"
      val getB = if (rightFloat) s"(double) $b.getFloat" else s"$b.getDouble"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $t = $getA($i) - $getB($i);
         |    $acc += $t * $t;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid assignment against a FROZEN (driver-literal) centroid
  * matrix in ONE pass: returns struct(cluster, dist) where `dist` is the
  * squared L2 distance accumulated EXACTLY like [[VecSqDist]] (element
  * order, double precision) and ties break to the LOWEST cluster id —
  * `centroids` arrive sorted by cluster id and the strict `<` keeps the
  * first minimum, which is bit-identical to the
  * `min(struct(dist, cluster))` partial aggregate over a
  * crossJoin(broadcast(cents)) that this kernel replaces. The replaced
  * form exploded k candidate rows per vector (each materializing the
  * vector array) through a sort-based struct-min aggregate and one
  * shuffle; this is a narrow map, zero shuffle, k·dim flops per row.
  * Null semantics: an empty model, a length-mismatched vector, a null
  * element, or a vector no centroid is strictly nearer than +Inf to (a
  * NaN or infinite element) yields NULL (the well-formed corpus never hits
  * these; the degenerate struct-with-null-dist ordering of the aggregate
  * form was never reachable for the same reason).
  *
  * Codegen-real (not CodegenFallback): this projection IS the k-means /
  * PQ / IVF assignment hot path — a fallback put a virtual `eval` and an
  * eval-boundary row copy on every corpus vector and dropped the
  * projection out of whole-stage codegen. [[doGenCode]] emits the SAME
  * double-op loop over the SAME centroid matrix (referenced, not
  * inlined into source — plan/source size stays O(1) in k·dim), same
  * strict `<` tie-break, same null-outs — bit-equal to `eval`
  * (KernelCodegenSpec parity).
  */
case class ArgminSqDist(child: Expression, clusters: Seq[Long],
    centroids: Seq[Seq[Double]])
    extends UnaryExpression {
  require(clusters.length == centroids.length,
    s"argmin_sqdist needs matching clusters/centroids, got " +
      s"${clusters.length}/${centroids.length}")
  require(clusters.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
    "argmin_sqdist centroids must be sorted by strictly increasing cluster id")

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cluster", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("dist", DoubleType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"argmin_sqdist expects array<float|double>, got ${other.catalogString}")
  }

  private lazy val floatElems = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }
  private lazy val ids: Array[Long] = clusters.toArray
  private lazy val mat: Array[Array[Double]] = centroids.map(_.toArray).toArray

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    var c = 0
    var best = -1
    var bestD = Double.PositiveInfinity
    while (c < mat.length) {
      val cv = mat(c)
      if (cv.length != n) return null
      var d = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) return null
        val x = if (floatElems) a.getFloat(i).toDouble else a.getDouble(i)
        val t = x - cv(i)
        d += t * t
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    if (best < 0) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](ids(best), bestD))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val matRef = ctx.addReferenceObj("argminMat", mat, "double[][]")
      val idsRef = ctx.addReferenceObj("argminIds", ids, "long[]")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val cv = ctx.freshName("cv")
      val d = ctx.freshName("d")
      val t = ctx.freshName("t")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val getA = if (floatElems) s"(double) $a.getFloat" else s"$a.getDouble"
      // same loop as eval: centroid order, left-to-right element fold,
      // strict < keeps the first (lowest-id) minimum; any null element or
      // length mismatch nulls the whole result mid-loop, and no centroid
      // below +Inf (NaN/Inf distances, empty model) leaves best at -1: null
      s"""
         |int $n = $a.numElements();
         |int $best = -1;
         |double $bestD = Double.POSITIVE_INFINITY;
         |for (int $c = 0; $c < $matRef.length && !${ev.isNull}; $c++) {
         |  double[] $cv = $matRef[$c];
         |  if ($cv.length != $n) { ${ev.isNull} = true; break; }
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $t = $getA($i) - $cv[$i];
         |    $d += $t * $t;
         |  }
         |  if (!${ev.isNull} && $d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |if (!${ev.isNull} && $best < 0) ${ev.isNull} = true;
         |if (!${ev.isNull}) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] { $idsRef[$best], $bestD });
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Johnson–Lindenstrauss sign projection of one vector in ONE pass:
  * `rp[o] = (±v[0] ± v[1] ± … ± v[dIn−1]) / √dOut`, with the seeded signs
  * of [[RpProject.rpSign]].
  *
  * Fold contract (bit-identical to the DuckDB twin that spells the chain
  * out, and to the column-chain reference in SimilaritySpec): a float
  * element widens to double; each component starts from its term 0 (not
  * `0.0 +`, which would turn a leading −0.0 into +0.0), adds `(±x)` left
  * to right, then divides by `√dOut`. A null element nulls every
  * component (a null term nulls each sum); a vector that is not exactly
  * `dIn` wide raises `randomProject: expected dim <dIn>, got <n>`.
  *
  * Codegen-real: the sign matrix is referenced, not inlined, so the plan
  * and the generated source stay O(1) in dOut·dIn. [[doGenCode]] emits
  * the same loop as `eval` (KernelCodegenSpec parity).
  */
case class RpProject(child: Expression, dOut: Int, dIn: Int)
    extends UnaryExpression {
  require(dOut >= 1, s"dOut must be positive, got $dOut")
  require(dIn >= 1, s"dIn must be positive, got $dIn")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rp_project expects array<float|double>, got ${other.catalogString}")
  }

  private lazy val floatElems = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  private lazy val signs: Array[Array[Double]] =
    Array.tabulate(dOut, dIn)(RpProject.rpSign)
  private lazy val scale = math.sqrt(dOut.toDouble)

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    if (n != dIn) throw RpProject.widthError(dIn, n)
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return new GenericArrayData(new Array[Any](dOut))
      x(i) = if (floatElems) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    val out = new Array[Double](dOut)
    var o = 0
    while (o < dOut) {
      val s = signs(o)
      var acc = s(0) * x(0)
      i = 1
      while (i < n) { acc += s(i) * x(i); i += 1 }
      out(o) = acc / scale
      o += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val signsRef = ctx.addReferenceObj("rpSigns", signs, "double[][]")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val hasNull = ctx.freshName("hasNull")
      val scale = ctx.freshName("scale")
      val out = ctx.freshName("out")
      val o = ctx.freshName("o")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val getA = if (floatElems) s"(double) $a.getFloat" else s"$a.getDouble"
      val arrayData = classOf[GenericArrayData].getName
      s"""
         |int $n = $a.numElements();
         |if ($n != $dIn) throw graft.functions.RpProject$$.MODULE$$.widthError($dIn, $n);
         |double[] $x = new double[$n];
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $n && !$hasNull; $i++) {
         |  if ($a.isNullAt($i)) $hasNull = true; else $x[$i] = $getA($i);
         |}
         |if ($hasNull) {
         |  ${ev.value} = new $arrayData(new Object[$dOut]);
         |} else {
         |  double $scale = java.lang.Math.sqrt((double) $dOut);
         |  double[] $out = new double[$dOut];
         |  for (int $o = 0; $o < $dOut; $o++) {
         |    double[] $s = $signsRef[$o];
         |    double $acc = $s[0] * $x[0];
         |    for (int $i = 1; $i < $n; $i++) $acc += $s[$i] * $x[$i];
         |    $out[$o] = $acc / $scale;
         |  }
         |  ${ev.value} = new $arrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RpProject {

  /** Fixed seeded ±1 sign for cell (o, i) of the random-projection matrix
    * — plain integer avalanche computed on the JVM, so the kernel and the
    * SQL twin's sign literals come from this one function (no cross-engine
    * hash replication needed).
    */
  private[graft] def rpSign(o: Int, i: Int): Double = {
    var h = o * 0x9E3779B9 + i * 0x85EBCA6B
    h ^= h >>> 16; h *= 0x7FEB352D; h ^= h >>> 15
    if ((h & 1) == 0) 1.0 else -1.0
  }

  def widthError(dIn: Int, n: Int): IllegalArgumentException =
    new IllegalArgumentException(s"randomProject: expected dim $dIn, got $n")
}

/** Hamming distance of two packed signature word arrays in ONE pass —
  * the per-candidate-pair
  * `aggregate(zip_with(a, b, bit_count(x xor y)), 0, +)` fold of the
  * wide pigeonhole join ([[graft.pipeline.Dedup.hammingNearDupsWide]])
  * without the two interpreted lambdas and the intermediate popcount
  * array: integer arithmetic, so results are identical by construction.
  * Null semantics match the fold it replaces: zip_with pads a length
  * mismatch with nulls and `bit_count(null)` nulls the accumulator, so a
  * mismatch or a null element yields null. Codegen-real — the fold sits
  * inside the candidate-verify join of every wide-fingerprint family
  * (audio/video/image/simhash), where a fallback would break the
  * WholeStageCodegen span per pair (KernelCodegenSpec parity).
  */
case class HammingWords(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  // null even on non-null inputs (length mismatch / null element)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"hamming_words expects array<bigint> on both sides, got ${l.catalogString} and ${r.catalogString}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  int $acc = 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** SRP-LSH bucket id in one pass: bit k of the result is set iff
  * dot(vec, r_k) ≥ 0 for `planes` deterministic ±1 hyperplanes, where
  * r_k[i] = +1 iff ((1103515245·(k·131 + i + 1) + 12345) mod 2^31) is even
  * (i 0-based). Replaces `planes` separate transform+aggregate chains whose
  * interpreted lambdas re-walk the vector once per plane; per-plane
  * accumulation order matches the sequential fold it replaces, so buckets
  * are bit-identical to the column-algebra version and to the SQL oracle
  * twin (which uses 1-based i, aligned by the +1 here).
  */
case class SrpBucket(child: Expression, planes: Int)
    extends UnaryExpression with CodegenFallback {
  require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"srp_bucket expects array<float|double>, got ${other.catalogString}")
  }

  private lazy val floatElems = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override protected def nullSafeEval(v: Any): Any = {
    val dots = SignatureKernel.srpDots(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], floatElems, planes)
    var bucket = 0L
    var k = 0
    while (k < planes) {
      if (dots(k) >= 0) bucket |= (1L << k)
      k += 1
    }
    bucket
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-plane SRP dot products in one vector pass — the margin vector that
  * multiprobe ANN ranks bit-flips by. Same hyperplane sign derivation and
  * accumulation order as [[SrpBucket]], so `dots(k) >= 0` reproduces its
  * bucket bits exactly.
  */
case class SrpDots(child: Expression, planes: Int)
    extends UnaryExpression with CodegenFallback {
  require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"srp_dots expects array<float|double>, got ${other.catalogString}")
  }

  private lazy val floatElems = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(SignatureKernel.srpDots(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], floatElems, planes))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Signatures {
  def srpBucket(vec: Column, planes: Int): Column =
    GraftBridge.column(SrpBucket(GraftBridge.expression(vec), planes))

  def srpDots(vec: Column, planes: Int): Column =
    GraftBridge.column(SrpDots(GraftBridge.expression(vec), planes))

  def vecCosine(a: Column, b: Column): Column =
    GraftBridge.column(VecCosine(GraftBridge.expression(a), GraftBridge.expression(b)))

  def vecSqDist(a: Column, b: Column): Column =
    GraftBridge.column(VecSqDist(GraftBridge.expression(a), GraftBridge.expression(b)))

  def vecDot(a: Column, b: Column): Column =
    GraftBridge.column(VecDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  def rpProject(vec: Column, dOut: Int, dIn: Int): Column =
    GraftBridge.column(RpProject(GraftBridge.expression(vec), dOut, dIn))

  def argminSqDist(vec: Column, clusters: Seq[Long],
      centroids: Seq[Seq[Double]]): Column =
    GraftBridge.column(ArgminSqDist(GraftBridge.expression(vec), clusters,
      centroids))

  def hammingWords(a: Column, b: Column): Column =
    GraftBridge.column(HammingWords(GraftBridge.expression(a), GraftBridge.expression(b)))

  def sortedJaccard(a: Column, b: Column): Column =
    GraftBridge.column(SortedArrayJaccard(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  def charNgramCodes(text: Column, n: Int): Column =
    GraftBridge.column(CharNgramCodes(GraftBridge.expression(text), n))

  def tokenGramBuckets(text: Column, dims: Int): Column =
    GraftBridge.column(TokenGramBuckets(GraftBridge.expression(text), dims))

  def minhashSig(text: Column, shingleK: Int, numHashes: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(text), shingleK, numHashes))

  def winnowEncoded(text: Column, shingleK: Int, window: Int): Column =
    GraftBridge.column(WinnowEncoded(GraftBridge.expression(text), shingleK, window))

  def shingleStrings(text: Column, shingleK: Int, distinct: Boolean = false,
      sorted: Boolean = false): Column =
    GraftBridge.column(ShingleStrings(GraftBridge.expression(text), shingleK, distinct, sorted))

  def simhashSig(text: Column, shingleK: Int, bits: Int): Column =
    GraftBridge.column(SimHashSig(GraftBridge.expression(text), shingleK, bits))

  def simhashSigWide(text: Column, shingleK: Int, seeds: Int): Column =
    GraftBridge.column(SimHashSigWide(GraftBridge.expression(text), shingleK, seeds))

  def logregLogit(text: Column, w: Seq[Double], mu: Seq[Double],
      sd: Seq[Double], bias: Double): Column =
    GraftBridge.column(LogregLogit(GraftBridge.expression(text), w, mu, sd, bias))
}
