package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch expressions for the dedup family.
  *
  * Why custom expressions (SURVEY §2.10 preference order (b)): the
  * declarative formulations — 32 `aggregate` folds per row for MinHash, 64
  * `filter` passes per row for SimHash — run through Catalyst's
  * higher-order-function interpreter (HOFs are CodegenFallback), costing
  * tens of millions of boxed lambda steps per million tokens. Each
  * expression below is ONE primitive JVM loop per row over the token/
  * shingle array. The xxhash64-seeded defaults are engine-internal (their
  * gated queries use the portable md5 forms instead); determinism is
  * required everywhere — seeds are fixed, and results are identical at
  * any parallelism.
  *
  * Token hashing defaults to the same XXH64 core as Spark's `xxhash64`
  * (seed 42); each sketch also has a PORTABLE form over the md5-derived
  * [[Sketches.hashTokenPortable]] so the MinHash/SimHash queries carry
  * full DuckDB oracles (q31/q32/q104). Null elements hash like empty
  * strings rather than being skipped, keeping the loop branch-light;
  * fixture corpora carry no null tokens.
  */
/** Test seam counting SKETCH-KERNEL evaluations (one per document whose
  * tokens are shingle-hashed: MinHashSig / MinHashSigSize / MinHashSigSet /
  * ShingleSet) — the instrument behind the "one kernel pass per wave"
  * claim of the streaming writers (the pre-fix shape ran the pass 4× per
  * wave: twice inside admission, twice re-sketching for the ledger
  * writes). Off by default: the guard is a single volatile read per DOC
  * (not per token), invisible next to the per-token hashing it meters.
  * Counts are JVM-wide, which local-mode tests share with their
  * executors; enable around an isolated run and diff.
  */
object KernelCounter {
  @volatile var enabled: Boolean = false
  private val evals = new java.util.concurrent.atomic.LongAdder

  private[functions] def inc(): Unit = if (enabled) evals.increment()

  def count: Long = evals.sum()
  def reset(): Unit = evals.reset()
}

object Sketches {

  /** splitmix64 — public-domain PRNG step, used for seed-derived coeffs. */
  private[functions] def splitmix(state: Long): (Long, Long) = {
    val x = state + 0x9e3779b97f4a7c15L
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (x, z ^ (z >>> 31))
  }

  private[functions] def hashToken(s: UTF8String, seed: Long): Long =
    if (s == null) XXH64.hashLong(0L, seed)
    else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** PORTABLE 60-bit hash: the first 15 hex digits of md5(UTF-8 bytes),
    * i.e. the big-endian first-8-bytes word `>>> 4`. md5 is the one hash
    * both engines share (`md5()` in Spark AND DuckDB), so sketches built
    * on it are reproducible in the oracle:
    * DuckDB `('0x' || substr(md5(s), 1, 15))::BIGINT` yields this exact
    * value. 15 hex digits (not 16) keep the value inside a SIGNED 64-bit
    * BIGINT on both sides. The xxhash64-seeded variants stay the default
    * hot path — md5 costs ~3× per token — the portable forms exist so the
    * MinHash/SimHash QUERIES can be oracle-hash-gated end to end.
    */
  private[functions] def hashTokenPortable(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(if (s == null) Array.emptyByteArray else s.getBytes)
    java.nio.ByteBuffer.wrap(d).getLong >>> 4
  }

  def minhash(shingles: Column): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig", shingles)

  /** MinHash over word n-gram shingles built INSIDE the loop from the token
    * array — no intermediate shingle-array column (the declarative
    * `transform(sequence, slice, concat_ws)` shingle builder is interpreted
    * and was the measured bottleneck of the MinHash pipeline).
    */
  def minhashTokens(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("minhash_tokens", tokens)

  def simhash(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", tokens)

  /** PORTABLE (md5-hashed, oracle-reproducible) forms — see
    * [[hashTokenPortable]]. Same algorithms, the one substitution being the
    * token/shingle hash, so the oracle can re-derive signatures exactly.
    */
  def minhashTokensPortable(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("minhash_tokens_md5", tokens)

  /** One-pass struct(sig, sz) — see [[MinHashSigSize]]. */
  def minhashSigSize(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig_size", tokens)

  def minhashSigSizePortable(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig_size_md5", tokens)

  /** One-pass struct(sig, sset) — see [[MinHashSigSet]]. */
  def minhashSigSet(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig_set", tokens)

  def minhashSigSetPortable(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig_set_md5", tokens)

  def shingleSetPortable(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("shingle_set_md5", tokens)

  def simhashPortable(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash60_md5", tokens)

  /** Merge-scan |A ∩ B| over sorted distinct long arrays. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("sorted_intersect_count", a, b)

  /** Positional agreement count of two signature arrays — agreement/32
    * is the unbiased MinHash jaccard estimate. See [[SigAgreement]].
    */
  def sigAgreement(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("sig_agreement", a, b)

  /** [[sortedIntersectCount]] with a Jaccard-threshold early exit — for
    * consumers that filter `inter / (|A|+|B| − inter) >= t`: survivors
    * get their exact count, sub-threshold pairs may return an undercount
    * (still sub-threshold). See [[SortedIntersectBounded]].
    */
  def sortedIntersectBounded(a: Column, b: Column, t: Double): Column =
    org.apache.spark.sql.functions.call_function("sorted_intersect_bounded",
      a, b, org.apache.spark.sql.functions.lit(t))

  /** Token array → SORTED DISTINCT xxhash64 hashes of its word 3-gram
    * shingles — the set form consumed by [[sortedIntersectCount]].
    */
  def shingleSet(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("shingle_set", tokens)

  /** [[shingleSet]] with an explicit shingle width — the native gram
    * builder for the n-gram membership operators (decontaminate's
    * 5-grams, crossDocShared's 8-grams), replacing the interpreted
    * `transform(sequence, …, concat_ws)` + `array_distinct` + `xxhash64`
    * chain (measured at the 100× tier: the string-gram builder dominated
    * those operators' CPU). NOTE: for token arrays SHORTER than `n` the
    * loop emits one sub-width shingle — callers wanting "no grams for
    * short docs" semantics must filter `size(tokens) >= n` first.
    */
  def shingleSetN(tokens: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function("shingle_set_n", tokens,
      org.apache.spark.sql.functions.lit(n))

  private[graft] def arity(name: String, n: Int)(
      exprs: Seq[Expression]): Seq[Expression] = {
    require(exprs.length == n, s"$name expects $n argument(s), got ${exprs.length}")
    exprs
  }

  /** Single source of truth for every native function the engine exposes:
    * (name, usage, arity, builder). Consumed by BOTH registrars —
    * [[register]] (programmatic sessions via GraftSession.tune) and
    * [[graft.GraftExtensions]] (spark.sql.extensions deployments) — so the
    * two surfaces cannot drift.
    */
  val registry: Seq[(String, String, Int, Seq[Expression] => Expression)] = Seq(
    ("float_vec_dot", "_FUNC_(a, b) - double dot product of two float vectors",
      2, es => FloatVecDot(es.head, es(1))),
    ("minhash_sig", "_FUNC_(shingles) - 32-long minhash signature",
      1, es => MinHashSig(es.head)),
    ("minhash_tokens", "_FUNC_(tokens) - minhash over in-loop 3-gram shingles",
      1, es => MinHashSig(es.head, shingleN = 3)),
    ("simhash64", "_FUNC_(tokens) - 64-bit simhash",
      1, es => SimHash64(es.head)),
    ("minhash_tokens_md5",
      "_FUNC_(tokens) - minhash over md5-hashed 3-gram shingles (portable)",
      1, es => MinHashSig(es.head, shingleN = 3, portable = true)),
    ("minhash_sig_size",
      "_FUNC_(tokens) - struct(minhash sig, shingle-set size), one pass",
      1, es => MinHashSigSize(es.head)),
    ("minhash_sig_size_md5",
      "_FUNC_(tokens) - portable struct(minhash sig, shingle-set size)",
      1, es => MinHashSigSize(es.head, portable = true)),
    ("minhash_sig_set",
      "_FUNC_(tokens) - struct(minhash sig, sorted shingle set), one pass",
      1, es => MinHashSigSet(es.head)),
    ("minhash_sig_set_md5",
      "_FUNC_(tokens) - portable struct(minhash sig, sorted shingle set)",
      1, es => MinHashSigSet(es.head, portable = true)),
    ("shingle_set_md5",
      "_FUNC_(tokens) - sorted distinct md5-hashed 3-gram shingles (portable)",
      1, es => ShingleSet(es.head, portable = true)),
    ("simhash60_md5",
      "_FUNC_(tokens) - 60-bit simhash over md5 token hashes (portable)",
      1, es => SimHash64(es.head, portable = true)),
    ("sorted_intersect_count", "_FUNC_(a, b) - merge-scan intersection count",
      2, es => SortedIntersectCount(es.head, es(1))),
    ("sig_agreement",
      "_FUNC_(a, b) - count of positionally-equal elements (minhash estimator)",
      2, es => SigAgreement(es.head, es(1))),
    ("sorted_intersect_bounded",
      "_FUNC_(a, b, t) - intersection count with jaccard-threshold early exit",
      3, es => es(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(t: Double, DoubleType) =>
          SortedIntersectBounded(es.head, es(1), t)
        case other => throw new IllegalArgumentException(
          s"sorted_intersect_bounded: t must be a double literal, got $other")
      }),
    ("shingle_set", "_FUNC_(tokens) - sorted distinct hashed 3-gram shingles",
      1, es => ShingleSet(es.head)),
    ("shingle_set_n",
      "_FUNC_(tokens, n) - sorted distinct hashed n-gram shingles",
      2, es => es(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(n: Int, IntegerType) =>
          ShingleSet(es.head, shingleN = n)
        case other => throw new IllegalArgumentException(
          s"shingle_set_n: n must be an int literal, got $other")
      }),
    ("int8_vec_dot", "_FUNC_(a, b) - exact int64 dot of two int8 vectors",
      2, es => Int8VecDot(es.head, es(1))),
    ("ivf_argmax_cell", "_FUNC_(v, cells, centroids) - argmax-cosine cell id",
      3, es => IvfArgmaxCell(es.head, es(1), es(2))),
    ("ivf_probe_cells",
      "_FUNC_(v, cells, centroids, nProbe) - nProbe nearest cell ids",
      4, es => es(3) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(n: Int, IntegerType) =>
          IvfProbeCells(es.head, es(1), es(2), n)
        case other => throw new IllegalArgumentException(
          s"ivf_probe_cells: nProbe must be an int literal, got $other")
      }),
    ("lsh_band_keys",
      "_FUNC_(v, planes, bits) - banded sign-projection bucket keys",
      3, es => es(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(b: Int, IntegerType) =>
          LshBandKeys(es.head, es(1), b)
        case other => throw new IllegalArgumentException(
          s"lsh_band_keys: bits must be an int literal, got $other")
      }),
    ("bpe_encode", "_FUNC_(text, merges) - byte-level BPE token ids",
      2, es => BpeEncode(es.head, es(1))),
    ("bpe_decode", "_FUNC_(ids, merges) - text from byte-level BPE token ids",
      2, es => BpeDecode(es.head, es(1))),
    // Spark ships BloomFilterMightContain for its internal runtime-filter
    // rewrite but does not register it for users; expose it so operators
    // can request an explicit bloom prefilter (decontaminate's map-side
    // benchmark-gram pruning) with the bloom as a lazy scalar subquery.
    ("bloom_might_contain",
      "_FUNC_(bloom, value) - bloom-filter membership probe",
      2, es => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(es.head, es(1))),
    ("bloom_filter_build",
      "_FUNC_(value, items, bits) - serialized bloom filter aggregate",
      3, es => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(es.head, es(1), es(2))
        .toAggregateExpression()))

  /** Register the [[registry]] functions the session does not have yet.
    * Runs on every `GraftSession.tune`; names already present (an earlier
    * call, or [[graft.GraftExtensions]]) are left alone, so repeat calls
    * neither rebuild them nor log Spark's "replaced a previously registered
    * function" warning.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registry.foreach { case (name, _, n, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name,
          exprs => build(arity(name, n)(exprs)), "built-in")
    }
  }

  /** Iterate n-gram shingle hashes of a token array — THE shingle
    * construction, shared by [[MinHashSig]] (candidates) and [[ShingleSet]]
    * (exact verification); the Jaccard pipeline is only correct while both
    * hash the same strings.
    */
  private[functions] def foreachShingleHash(arr: ArrayData, shingleN: Int,
      seed: Long, portable: Boolean = false)(f: Long => Unit): Unit = {
    val n = arr.numElements()
    val count = math.max(1, n - shingleN + 1)
    // Build each shingle's UTF-8 BYTES directly into a reusable scratch
    // buffer instead of the former StringBuilder → String → UTF8String →
    // getBytes chain (per shingle: 3 UTF-8 decodes, 2 re-encodes, ~5
    // allocations — measured as the bulk of the kernel's time, the md5
    // itself being ~40%). Byte-identity: tokens are UTF8Strings, i.e.
    // already UTF-8; concatenating their byte sequences with 0x20
    // separators IS the UTF-8 encoding of the space-joined string, so
    // both hash paths (md5 for portable, XXH64 otherwise) see exactly
    // the bytes the old path produced — the oracle parity specs pin it.
    var buf = new Array[Byte](64)
    val md = if (portable) md5Local.get() else null
    val out = if (portable) new Array[Byte](16) else null
    var i = 0
    while (i < count) {
      var len = 0
      var k = 0
      while (k < shingleN && i + k < n) {
        val t = arr.getUTF8String(i + k)
        val tb = if (t == null) 0 else t.numBytes
        if (len + tb + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf,
            math.max(len + tb + 1, buf.length * 2))
        if (k > 0) { buf(len) = ' '; len += 1 }
        if (t != null) {
          t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
          len += tb
        }
        k += 1
      }
      val h =
        if (portable) {
          md.reset()
          md.update(buf, 0, len)
          try md.digest(out, 0, 16)
          catch { case e: java.security.DigestException =>
            throw new IllegalStateException(e) } // 16 = md5 length, cannot happen
          // big-endian first 8 digest bytes >>> 4 — identical to the
          // former ByteBuffer.wrap(digest).getLong >>> 4
          (((out(0) & 0xffL) << 56) | ((out(1) & 0xffL) << 48) |
            ((out(2) & 0xffL) << 40) | ((out(3) & 0xffL) << 32) |
            ((out(4) & 0xffL) << 24) | ((out(5) & 0xffL) << 16) |
            ((out(6) & 0xffL) << 8) | (out(7) & 0xffL)) >>> 4
        } else {
          XXH64.hashUnsafeBytes(buf,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, seed)
        }
      f(h)
      i += 1
    }
  }
}

/** Count of common elements between two SORTED long arrays (strictly
  * increasing, i.e. distinct) — a zero-allocation merge scan. The pair-join
  * inner loop of set-similarity operators: `array_intersect` builds a hash
  * set PER PAIR, which dominates O(n²) candidate verification; this walks
  * two pointers instead.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects array<bigint>, got $l / $r")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    java.lang.Integer.valueOf(c)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** [[SortedIntersectCount]] with a Jaccard-threshold EARLY EXIT — the
  * candidate-verification inner loop of the exact near-dup operators. At
  * tight thresholds most banding/prefix candidates are false positives
  * (measured at the 100× tier: q33 verifies 3.7·10⁷ candidates for
  * 4.9·10⁵ survivors, 75:1), yet the plain merge scan walks both arrays
  * to the end for every one. Here the scan bails as soon as even a
  * perfect suffix match cannot reach the threshold.
  *
  * Exactness contract for consumers filtering
  * `inter / (|A|+|B| − inter) >= t`: the bail predicate computes the max
  * reachable count's jaccard with the SAME double formula the consumer
  * uses, and IEEE division is monotone in the numerator / antitone in
  * the denominator — so a bail implies the consumer's predicate is false
  * for the true count, and any pair the consumer would keep runs the
  * scan to completion and gets its EXACT count (survivors' jaccard
  * values are bit-identical to the unbounded kernel's). On a bail the
  * current (under-)count is returned, which keeps the consumer's
  * jaccard below the exact value and therefore below t. The bound only
  * tightens on mismatches (a match leaves count+min(remaining)
  * unchanged), so the check costs nothing on the match-dense survivor
  * path. Codegen (not CodegenFallback): this expression is the hot loop
  * of pair-verify stages — interpreted evaluation also broke
  * whole-stage codegen around the verify filter.
  */
case class SortedIntersectBounded(left: Expression, right: Expression,
    threshold: Double)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_bounded expects array<bigint>, got $l / $r")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val sum = nx + ny
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else {
        if (xv < yv) i += 1 else j += 1
        val remX = nx - i
        val remY = ny - j
        val mx = c + (if (remX < remY) remX else remY)
        if (mx.toDouble / (sum - mx).toDouble < threshold) {
          return java.lang.Integer.valueOf(c)
        }
      }
    }
    java.lang.Integer.valueOf(c)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val sum = ctx.freshName("sum")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val remX = ctx.freshName("remX"); val remY = ctx.freshName("remY")
      val mx = ctx.freshName("mx")
      val t = java.lang.Double.toString(threshold)
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $sum = $nx + $ny;
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else {
         |    if ($xv < $yv) $i++; else $j++;
         |    int $remX = $nx - $i;
         |    int $remY = $ny - $j;
         |    int $mx = $c + ($remX < $remY ? $remX : $remY);
         |    if ((double) $mx / (double) ($sum - $mx) < ${t}D) break;
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectBounded =
    copy(left = newLeft, right = newRight)
}

/** Count of positionally-equal elements of two long arrays — the MinHash
  * similarity ESTIMATOR's inner loop (agreement/numHashes is the unbiased
  * jaccard estimate). The declarative `aggregate(zip_with(...))` form is a
  * higher-order function — CodegenFallback, interpreted per CANDIDATE
  * PAIR, and it breaks whole-stage codegen around the estimate filter;
  * this is one primitive loop over 32 longs.
  */
case class SigAgreement(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"sig_agreement expects array<bigint>, got $l / $r")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    var c = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    java.lang.Integer.valueOf(c)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigAgreement =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature: `numHashes` universal-hash minima — h_i(x) =
  * (a_i·x32 + b_i) mod 2^32, x32 = low 32 bits of XXH64(shingle). Long
  * multiply wraps mod 2^64 and 2^32 | 2^64, so the masked result is exact
  * (no overflow hazard).
  *
  * With `shingleN = 0` the input elements are hashed as-is (pre-built
  * shingles); with `shingleN = n > 0` the input is a TOKEN array and word
  * n-gram shingles are built inside the loop (space-joined), never
  * materializing a shingle column.
  */
case class MinHashSig(child: Expression, numHashes: Int = 32, seed: Long = 42L,
    shingleN: Int = 0, portable: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  private val Mask = 0xffffffffL

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_sig expects array<string>, got $t")
  }

  private lazy val coeffs: Array[(Long, Long)] =
    MinHashSig.coefficients(numHashes, seed)

  override def nullSafeEval(input: Any): Any = {
    KernelCounter.inc()
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    def update(h32: Long): Unit = {
      var j = 0
      while (j < numHashes) {
        val v = (coeffs(j)._1 * h32 + coeffs(j)._2) & Mask
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }
    if (shingleN <= 0) {
      var i = 0
      while (i < n) {
        val h =
          if (portable) Sketches.hashTokenPortable(arr.getUTF8String(i))
          else Sketches.hashToken(arr.getUTF8String(i), seed)
        update(h & Mask)
        i += 1
      }
    } else {
      // word n-gram shingles built in-loop (shared construction — see
      // Sketches.foreachShingleHash); a document shorter than n tokens
      // contributes its single whole-text shingle
      Sketches.foreachShingleHash(arr, shingleN, seed, portable)(h =>
        update(h & Mask))
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** [[MinHashSig]] and the SIZE of [[ShingleSet]] in ONE shingle traversal:
  * struct(sig: array<long>, sz: int). The band-ledger writer
  * ([[graft.dedup.Dedup.MinHashLsh.bandsFor]]) needs both per document,
  * and the shingle HASHING pass (md5 at ~3×/token in portable mode) is
  * the dominant cost — computing them as two expressions paid that pass
  * twice per doc (measured: q104 sf0.1 0.92 → 1.81 s when the sz column
  * was first added via a second `size(shingle_set(...))` pass). The set
  * VALUES are not materialized — sz is a sort + distinct-count over the
  * collected hashes — so this stays band-row-shaped; exact verification
  * still reads [[ShingleSet]] from the sset ledger.
  */
case class MinHashSigSize(child: Expression, numHashes: Int = 32,
    seed: Long = 42L, shingleN: Int = 3, portable: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  private val Mask = 0xffffffffL

  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sz", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig_size expects array<string>, got $t")
  }

  private lazy val coeffs: Array[(Long, Long)] =
    MinHashSig.coefficients(numHashes, seed)

  override def nullSafeEval(input: Any): Any = {
    KernelCounter.inc()
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val count = math.max(1, n - shingleN + 1)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val hs = new Array[Long](count)
    var w0 = 0
    Sketches.foreachShingleHash(arr, shingleN, seed, portable) { h =>
      hs(w0) = h; w0 += 1
      val h32 = h & Mask
      var j = 0
      while (j < numHashes) {
        val v = (coeffs(j)._1 * h32 + coeffs(j)._2) & Mask
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }
    java.util.Arrays.sort(hs)
    var sz = 0
    var r = 0
    while (r < count) {
      if (r == 0 || hs(r) != hs(r - 1)) sz += 1
      r += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(new GenericArrayData(mins), sz)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSigSize =
    copy(child = c)
}

/** [[MinHashSig]] and the full [[ShingleSet]] VALUES in ONE shingle
  * traversal: struct(sig: array<long>, sset: array<long>). The batch
  * near-dup pipeline ([[graft.dedup.Dedup.MinHashLsh.nearDupPairs]] —
  * q31, and q76 through it) needs the signature for banding AND the
  * sorted set for exact verification of every document in the SAME
  * frame, and the shingle HASHING pass (md5 at ~3×/token in portable
  * mode) dominates the sketch stage — computing them as two expressions
  * paid that pass twice per doc ([[MinHashSigSize]]'s measured 2×).
  * [[MinHashSigSize]] remains the band-LEDGER form (sz only — band rows
  * must not carry set payloads); this is the batch form, where the
  * verification sets ride the sketch frame anyway.
  */
case class MinHashSigSet(child: Expression, numHashes: Int = 32,
    seed: Long = 42L, shingleN: Int = 3, portable: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  private val Mask = 0xffffffffL

  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sset", ArrayType(LongType, containsNull = false), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig_set expects array<string>, got $t")
  }

  private lazy val coeffs: Array[(Long, Long)] =
    MinHashSig.coefficients(numHashes, seed)

  override def nullSafeEval(input: Any): Any = {
    KernelCounter.inc()
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val count = math.max(1, n - shingleN + 1)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val hs = new Array[Long](count)
    var w0 = 0
    Sketches.foreachShingleHash(arr, shingleN, seed, portable) { h =>
      hs(w0) = h; w0 += 1
      val h32 = h & Mask
      var j = 0
      while (j < numHashes) {
        val v = (coeffs(j)._1 * h32 + coeffs(j)._2) & Mask
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }
    java.util.Arrays.sort(hs)
    // dedupe in place on the sorted array (ShingleSet's representation:
    // strictly increasing — what SortedIntersectCount consumes)
    var w = 0
    var r = 0
    while (r < count) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(new GenericArrayData(mins),
      new GenericArrayData(java.util.Arrays.copyOf(hs, w)))
  }

  override protected def withNewChildInternal(c: Expression): MinHashSigSet =
    copy(child = c)
}

object MinHashSig {
  private val Mask = 0xffffffffL

  /** The universal-hash coefficients (a odd, b) derived from `seed` via
    * splitmix64 — PUBLIC so the oracle-SQL generator can embed the exact
    * values as literals: `h_j(x) = (a_j·x + b_j) mod 2^32` is plain
    * integer arithmetic DuckDB reproduces with HUGEINT intermediates.
    */
  def coefficients(numHashes: Int, seed: Long): Array[(Long, Long)] = {
    var st = seed
    Array.fill(numHashes) {
      val (s1, a) = Sketches.splitmix(st)
      val (s2, b) = Sketches.splitmix(s1)
      st = s2
      ((a & Mask) | 1L, b & Mask)
    }
  }
}

/** Token array → sorted distinct xxhash64 hashes of its word n-gram
  * shingles (space-joined, same construction as [[MinHashSig]] with
  * `shingleN > 0`): the exact-verification counterpart of the minhash
  * candidates, in the representation [[SortedIntersectCount]] consumes.
  */
case class ShingleSet(child: Expression, shingleN: Int = 3, seed: Long = 42L,
    portable: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"shingle_set expects array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    KernelCounter.inc()
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val count = math.max(1, n - shingleN + 1)
    val hs = new Array[Long](count)
    var w0 = 0
    Sketches.foreachShingleHash(arr, shingleN, seed, portable) { h => hs(w0) = h; w0 += 1 }
    java.util.Arrays.sort(hs)
    // dedupe in place on the sorted array
    var w = 0
    var r = 0
    while (r < count) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }

  override protected def withNewChildInternal(c: Expression): ShingleSet = copy(child = c)
}

/** SimHash: bit b set iff ≥ half the token hashes have bit b set. Default
  * = 64 bits over xxhash64 token hashes; `portable = true` = 60 bits over
  * the md5-derived [[Sketches.hashTokenPortable]] (60 because the portable
  * hash IS 60 bits — first 15 md5 hex digits), making the sketch
  * bit-reproducible in DuckDB SQL and the query oracle-hash-gatable.
  * Hamming-≤3 blocking stays lossless either way: 4 chunks of 16 bits
  * cover 60- and 64-bit sketches alike (the top chunk just carries fewer
  * live bits).
  */
case class SimHash64(child: Expression, seed: Long = 42L,
    portable: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  private val nBits = if (portable) 60 else 64

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash64 expects array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](nBits)
    var i = 0
    while (i < n) {
      val h =
        if (portable) Sketches.hashTokenPortable(arr.getUTF8String(i))
        else Sketches.hashToken(arr.getUTF8String(i), seed)
      var b = 0
      while (b < nBits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < nBits) {
      if (counts(b) * 2 >= n) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}
