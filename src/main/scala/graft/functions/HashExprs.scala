package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expressions for the signature computations that
  * are hot paths of the dedup pipeline.
  *
  * The composed-builtins form (`transform`/`array_min` nests) makes
  * Catalyst inline the shingle-hash subtree into every one of the `n`
  * permutation branches — O(n·|shingles|) recomputation per row plus
  * interpreted-mode lambda dispatch; measured 654 s for the sf0.1
  * minhash query. These expressions take the shingle-hash array once
  * and run one tight generated loop: same math, same results,
  * ~constant-factor hundreds faster.
  */
object HashExprs {

  /** Column API: minhash signature from an `array<long>` of
    * element hashes. Identical semantics to the composed form:
    * `sig[j] = min over h of (a_j·(h mod p) + b_j) mod p`, p = 2^31-1.
    */
  def minhashSig(hashes: Column, n: Int): Column = {
    val coefs = graft.operators.Dedup.minhashCoefs(n)
    Bridge.column(MinHashSigExpr(Bridge.expression(hashes),
      coefs.map(_._1).toArray, coefs.map(_._2).toArray))
  }

  /** Column API: simhash-64 from an `array<long>` of token hashes. */
  def simhash64(hashes: Column): Column =
    Bridge.column(SimHash64Expr(Bridge.expression(hashes)))

  /** Column API: fused tokenize + mod-p md5 token hashes of a STRING
    * — one byte-level pass replacing
    * `transform(tokens(text), tokenHashP)` (bit-identical output; a
    * spec pins the parity). The composed form is the dedup map pass's
    * dominant cost at corpus scale: `transform`/`filter` are
    * higher-order functions, which Catalyst CANNOT codegen
    * (CodegenFallback), so every token pays interpreted expression
    * dispatch plus an md5 HEX-STRING materialization and a base-16
    * string parse; here each token is one `MessageDigest.update` over
    * its byte slice (whitespace is ASCII, so byte scanning is UTF-8
    * safe) and the 60-bit prefix comes straight off the digest bytes.
    */
  def tokenHashesP(text: Column): Column =
    Bridge.column(TokenHashesExpr(Bridge.expression(text), "modp"))

  /** Column API: fused tokenize + full-width 64-bit md5 token hashes
    * — the [[tokenHashesP]] treatment for
    * `transform(tokens(text), tokenHash64)` (SimHash votes).
    */
  def tokenHashes64(text: Column): Column =
    Bridge.column(TokenHashesExpr(Bridge.expression(text), "md5x64"))

  /** Column API: fused tokenize + Spark-`xxhash64` token hashes —
    * the [[tokenHashesP]] treatment for
    * `transform(tokens(text), xxhash64(t))` (the n-gram Jaccard
    * shingle feed). Per token this calls the repo's spec-pinned JVM
    * model of Spark's xxhash64 ([[graft.operators.Xxh64Duck]]
    * `.hashBytes`, seed 42) on the token's UTF-8 byte slice —
    * bit-identical to the builtin on strings.
    */
  def tokenHashesXx(text: Column): Column =
    Bridge.column(TokenHashesExpr(Bridge.expression(text), "xx64"))

  /** Column API: LSH band keys from a signature array — the native
    * form of `transform(sequence(0, bands-1), b =>
    * struct(b, xxhash64(concat_ws(",", slice(sig, b·rows+1, rows)
    * cast to string))))`. Bucket values are IDENTICAL (the same
    * comma-joined decimal rendering hashed by the same spec-pinned
    * xxhash64 model), with one generated-loop pass instead of an
    * interpreted HOF chain and ~5 string allocations per band per
    * row — and the compact-cut dedup path evaluates banding TWICE
    * per doc (F2 probe fold + post-cut re-banding), so this is the
    * signature stage's second hot term after tokenize+hash.
    */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    Bridge.column(LshBandsExpr(Bridge.expression(sig), bands, rows))

  /** Column API: fused tokenize + hashing-trick feature ids — the
    * [[tokenHashesP]] treatment for
    * `transform(tokens(text), Classifier.featureId(t, dim))` (the
    * classifier featurize/serve feed: first 8 md5 hex digits = the
    * digest's first 4 bytes unsigned, mod `dim`, as INT). A quality
    * gate scans the WHOLE corpus through this per-token path, so it
    * carries the same interpreted-HOF + hex-parse tax the signature
    * pass did. NULL text stays null — callers keep their
    * `coalesce(text, '')` so empty-token semantics are unchanged.
    */
  def tokenFeatureIds(text: Column, dim: Int): Column =
    Bridge.column(TokenFeatureIdsExpr(Bridge.expression(text), dim))

  /** Column API: distinct k-gram shingle hashes from token hashes. */
  def shingleHashes(tokenHashes: Column, k: Int): Column =
    Bridge.column(ShingleHashExpr(Bridge.expression(tokenHashes), k))

  /** Column API: engine-portable mod-p k-gram shingle hashes from
    * mod-p token hashes (31-bit modular combine — see
    * [[ShingleHashModExpr]]).
    */
  def shingleHashesModP(tokenHashes: Column, k: Int): Column =
    Bridge.column(ShingleHashModExpr(Bridge.expression(tokenHashes), k))

  /** Column API: per-position `l`-char-gram hashes of a string
    * (rolling hash — one O(|text|) pass; the composed
    * `md5(substr(...))` -per-position form is O(|text|·l) substring
    * builds plus 32-byte hex keys on every downstream shuffle).
    */
  def charGramHashes(text: Column, l: Int): Column =
    Bridge.column(CharGramHashExpr(Bridge.expression(text), l))

  /** Column API: Unicode normalization (see [[NormalizeExpr]]). */
  def normalize(text: Column, form: String): Column =
    Bridge.column(NormalizeExpr(Bridge.expression(text), form))

  /** Column API: robots.txt governing rules for an agent (see
    * [[RobotsRulesExpr]]).
    */
  def robotsRules(body: Column, agent: String): Column =
    Bridge.column(RobotsRulesExpr(Bridge.expression(body), agent))

  /** Expose the native expressions to the SQL surface:
    * `graft_minhash_sig(array<long>)`, `graft_simhash64(array<long>)`,
    * `graft_char_gram_hashes(string, l)` (per-position rolling gram
    * hashes; `l` must be an int literal),
    * `graft_cosine(array<float|double>, array<float|double>)`,
    * `graft_zorder(int/long...)` (Morton key, 16 bits per dimension),
    * `graft_bloom_agg(xxhash64(key), items, bits)` (aggregate) and
    * `graft_might_contain(bloom, xxhash64(key))` (probe).
    */
  def registerSql(spark: org.apache.spark.sql.SparkSession, minhashN: Int = 64): Unit = {
    val coefs = graft.operators.Dedup.minhashCoefs(minhashN)
    Bridge.registerFunction(spark, "graft_minhash_sig")(es =>
      MinHashSigExpr(es.head, coefs.map(_._1).toArray, coefs.map(_._2).toArray))
    Bridge.registerFunction(spark, "graft_simhash64")(es => SimHash64Expr(es.head))
    Bridge.registerFunction(spark, "graft_char_gram_hashes")(es =>
      CharGramHashExpr(es(0), es(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(l: Int, _) => l
        case other => throw new IllegalArgumentException(
          s"graft_char_gram_hashes: gram length must be an int literal, got $other")
      }))
    Bridge.registerFunction(spark, "graft_cosine")(es => CosineSimExpr(es(0), es(1)))
    Bridge.registerFunction(spark, "graft_normalize")(es =>
      NormalizeExpr(es(0), es(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(f, _) if f != null =>
          f.toString
        case other => throw new IllegalArgumentException(
          s"graft_normalize: form must be a string literal, got $other")
      }))
    // Registry builders must return a CONCRETE catalyst tree — going
    // through the Column API would leave UnresolvedFunction nodes the
    // analyzer never revisits (codegen then dies on them).
    Bridge.registerFunction(spark, "graft_zorder")(es => zorderExpr(es, bits = 16))
    Bridge.registerFunction(spark, "graft_bloom_agg")(es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        es(0), es(1), es(2)))
    Bridge.registerFunction(spark, "graft_might_contain")(es =>
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        es(0), es(1)))
  }

  /** Expression-level twin of
    * [[graft.operators.Layout.interleaveBits]] (same bit layout, spec
    * pins equality) for the SQL registry.
    */
  private def zorderExpr(es: Seq[Expression], bits: Int): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{
      BitwiseAnd, BitwiseOr, Cast, Literal, ShiftLeft, ShiftRight}
    require(es.nonEmpty && bits * es.size <= 63,
      s"graft_zorder: need 1..${63 / bits} args at $bits bits")
    val d = es.size
    es.zipWithIndex.flatMap { case (e, j) =>
      (0 until bits).map { i =>
        ShiftLeft(
          BitwiseAnd(ShiftRight(Cast(e, LongType), Literal(i)), Literal(1L)),
          Literal(i * d + j))
      }
    }.reduce[Expression]((a, b) => BitwiseOr(a, b))
  }
}

/** Fused whitespace-tokenize + per-token md5 hash of a string — the
  * single-pass form of `transform(tokens(text), tokenHashP)` (modP)
  * / `transform(tokens(text), tokenHash64)` (full width). Tokens are
  * maximal runs of non-`\s` bytes (Java regex `\s` =
  * `[ \t\n\x0B\f\r]`, all ASCII — multi-byte UTF-8 chars have the
  * high bit set and can never read as whitespace, so the byte scan
  * is exact); each token hashes as ONE `MessageDigest.update` over
  * its slice of the string's UTF-8 bytes, no substring / hex-string
  * / parse allocations. `modP`: the md5's first 15 hex digits (= the
  * 60-bit big-endian prefix shifted right 4) mod p = 2^31-1,
  * matching [[graft.operators.TextAnalysis.tokenHashP]] bit for bit;
  * `md5x64`: the first 8 digest bytes as a big-endian signed long,
  * matching `tokenHash64`; `xx64`: the repo's spec-pinned JVM model
  * of Spark's `xxhash64` (seed 42) on the token bytes, matching the
  * builtin. Parity is spec-pinned against all three composed forms.
  */
case class TokenHashesExpr(child: Expression, mode: String)
    extends UnaryExpression {
  require(TokenHashesExpr.Modes.contains(mode),
    s"TokenHashesExpr: unknown mode '$mode'")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TokenHashesExpr.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.TokenHashesExpr.compute($c, "$mode");""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenHashesExpr {
  final val P: Long = 2147483647L // 2^31 - 1
  final val Modes: Set[String] = Set("modp", "md5x64", "xx64")

  private val md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  private def md5Prefix64(
      digest: java.security.MessageDigest,
      bytes: Array[Byte], start: Int, len: Int): Long = {
    digest.reset()
    digest.update(bytes, start, len)
    val d = digest.digest()
    var v = 0L
    var j = 0
    while (j < 8) { v = (v << 8) | (d(j) & 0xFFL); j += 1 }
    v
  }

  def compute(
      s: org.apache.spark.unsafe.types.UTF8String,
      mode: String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // hoist the mode dispatch out of the per-token loop
    val m = mode match {
      case "modp" => 0; case "md5x64" => 1; case _ => 2
    }
    val digest = if (m == 2) null else md.get()
    var out = new Array[Long](16) // primitive growth — no boxing
    var cnt = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        val v =
          if (m == 0) (md5Prefix64(digest, bytes, start, i - start) >>> 4) % P
          else if (m == 1) md5Prefix64(digest, bytes, start, i - start)
          else graft.operators.Xxh64Duck.hashBytes(
            java.util.Arrays.copyOfRange(bytes, start, i))
        if (cnt == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        out(cnt) = v
        cnt += 1
      }
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, cnt))
  }
}

/** Native LSH banding: for band b of `bands`, bucket = xxhash64
  * (seed 42, the spec-pinned [[graft.operators.Xxh64Duck]] model) of
  * the band's `rows` signature lanes rendered as a comma-separated
  * decimal string — exactly the composed
  * `xxhash64(concat_ws(",", transform(slice(sig, b·rows+1, rows),
  * cast to string)))`, including the short-final-band case (a slice
  * past the array end joins only the lanes that exist; an empty
  * slice hashes the empty string). Output
  * `array<struct<band: int, bucket: long>>`.
  */
case class LshBandsExpr(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {
  require(bands >= 1 && rows >= 1, "LshBandsExpr: bands/rows must be positive")

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("bucket", LongType,
        nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    LshBandsExpr.compute(input.asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LshBandsExpr.compute($c, $bands, $rows);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBandsExpr {
  def compute(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val m = sig.numElements()
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(rows * 11)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var i = b * rows
      val end = math.min(i + rows, m)
      while (i < end) {
        if (sb.length > 0) sb.append(',')
        sb.append(sig.getLong(i))
        i += 1
      }
      val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out(b) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](b, graft.operators.Xxh64Duck.hashBytes(bytes)))
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused whitespace-tokenize + hashing-trick feature ids — the
  * [[TokenHashesExpr]] scanner finalized as
  * `Classifier.featureId`: first 4 md5 digest bytes (= the first 8
  * hex digits) as an unsigned 32-bit value, mod `dim`, emitted as
  * INT. Bit-parity with the composed
  * `transform(tokens(text), featureId(t, dim))` is spec-pinned.
  */
case class TokenFeatureIdsExpr(child: Expression, dim: Int)
    extends UnaryExpression {
  require(dim >= 1, "TokenFeatureIdsExpr: dim must be positive")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TokenFeatureIdsExpr.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenFeatureIdsExpr.compute($c, $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenFeatureIdsExpr {
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  def compute(
      s: org.apache.spark.unsafe.types.UTF8String, dim: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val digest = md.get()
    var out = new Array[Int](16)
    var cnt = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        digest.reset()
        digest.update(bytes, start, i - start)
        val d = digest.digest()
        var v = 0L
        var j = 0
        while (j < 4) { v = (v << 8) | (d(j) & 0xFFL); j += 1 }
        if (cnt == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        out(cnt) = (v % dim).toInt
        cnt += 1
      }
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, cnt))
  }
}

/** `sig[j] = min_h (a_j·(h mod p) + b_j) mod p` over the input hash
  * array, p = 2^31-1 — one pass, codegen'd via a static helper (the
  * canonical pattern for loop-heavy expressions: generated code calls
  * [[MinHashSigExpr.compute]], keeping the generated method tiny).
  * The inner-loop mod is the Mersenne-prime reduction (2^31 ≡ 1 mod
  * p, so `x mod p` becomes two shift-adds + one conditional subtract
  * — division-free; round 17, bit-identical by ℤ_p congruence).
  */
case class MinHashSigExpr(child: Expression, seedA: Array[Long], seedB: Array[Long])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    MinHashSigExpr.compute(input.asInstanceOf[ArrayData], seedA, seedB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("seedA", seedA, "long[]")
    val b = ctx.addReferenceObj("seedB", seedB, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashSigExpr.compute($c, $a, $b);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigExpr {
  final val P: Long = 2147483647L // 2^31 - 1

  /** `x mod p` for `0 ≤ x < 2^63` via the Mersenne identity
    * `2^31 ≡ 1 (mod p)`: fold the high bits down twice, then one
    * conditional subtract (after the first fold the value is < 2^33,
    * after the second ≤ p + 3 < 2p). Exactly `x % p` — congruence
    * plus the final range check — with no division in the loop.
    */
  @inline private[graft] def modP(x: Long): Long = {
    var v = (x & P) + (x >>> 31)
    v = (v & P) + (v >>> 31)
    if (v >= P) v - P else v
  }

  def compute(hashes: ArrayData, seedA: Array[Long], seedB: Array[Long]): ArrayData = {
    val n = seedA.length
    val sig = new Array[Long](n)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val m = hashes.numElements()
    var i = 0
    while (i < m) {
      val h = java.lang.Math.floorMod(hashes.getLong(i), P)
      var j = 0
      while (j < n) {
        // seedA <= p (the |1 odd-force can land exactly on p when the
        // raw draw is p-1 — a lane the generator regenerates away),
        // seedB and h < p, so the operand is <= p² + p - 1 < 2^62 —
        // inside modP's 2^63 domain either way
        val v = modP(seedA(j) * h + seedB(j))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    if (m == 0) java.util.Arrays.fill(sig, 0L)
    new GenericArrayData(sig)
  }
}

/** SimHash-64 in one pass: every input hash votes ±1 on each of the
  * 64 bits of itself; the sign of each vote sum sets the output bit.
  */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SimHash64Expr.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64Expr.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64Expr {
  def compute(hashes: ArrayData): Long = {
    val votes = new Array[Int](64)
    val m = hashes.numElements()
    var i = 0
    while (i < m) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** k-gram shingle hashes combined numerically from token hashes —
  * replaces building every shingle *string* (`concat_ws` per window,
  * the dominant cost of the signature pass at scale) with a
  * polynomial combine over the already-computed token hashes:
  * `h(i..i+k-1) = fold(h*PRIME + tok)`. Output is distinct (set
  * semantics); inputs shorter than k yield the single whole-input
  * combine.
  */
case class ShingleHashExpr(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ShingleHashExpr.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashExpr.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-position `l`-char-gram hashes of a string in ONE rolling pass:
  * `poly(i) = Σ s[i+j]·B^(l-1-j) (mod 2^64)` maintained by the
  * standard Rabin–Karp update, finalized through a splitmix64-style
  * mixer so the output disperses like a general-purpose hash. 64-bit
  * collisions mark a false duplicate gram with probability ~n²/2⁶⁵
  * over n corpus grams — the same odds the shingle join accepts, and
  * the price of replacing a per-position md5 (O(l) work and a 32-byte
  * hex key each) with O(1) work and an 8-byte key. Inputs shorter
  * than `l` yield an empty array.
  */
case class CharGramHashExpr(child: Expression, l: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CharGramHashExpr.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], l)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharGramHashExpr.compute($c, $l);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharGramHashExpr {
  private final val B = 1099511628211L // FNV-64 prime as the poly base

  private def mix(v: Long): Long = {
    var z = v + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def compute(s: org.apache.spark.unsafe.types.UTF8String, l: Int): ArrayData = {
    // char-level grams (matching substr/length semantics, which the
    // DuckDB oracle shares) — one decode pass, then O(1) per position
    val str = s.toString
    val n = str.length
    if (n < l) return new GenericArrayData(Array.empty[Long])
    var pow = 1L
    var i = 0
    while (i < l - 1) { pow *= B; i += 1 }
    val out = new Array[Long](n - l + 1)
    var h = 0L
    i = 0
    while (i < l) { h = h * B + str.charAt(i); i += 1 }
    out(0) = mix(h)
    i = 1
    while (i + l <= n) {
      h = (h - str.charAt(i - 1) * pow) * B + str.charAt(i + l - 1)
      out(i) = mix(h)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Engine-portable sibling of [[ShingleHashExpr]]: the k-gram combine
  * runs mod p = 2^31-1 with base B = 16777619 (FNV-32 prime, < p), so
  * every intermediate fits 62 bits — NO 2^64 wraparound, which is
  * exactly what makes a DuckDB twin possible (`(a·B + b) % p` is
  * plain BIGINT arithmetic there; the mod-2^64 original would need
  * HUGEINT mulmod gymnastics per step). Inputs must already be mod-p
  * token hashes ([[graft.operators.TextAnalysis.tokenHashP]]).
  *
  * Unlike [[ShingleHashExpr]] the output is NOT deduplicated: the
  * only consumer is the minhash lane minimum, which is multiset-
  * invariant, and skipping the distinct keeps the DuckDB twin a
  * plain positional `list_transform`
  * ([[graft.operators.Dedup.minhashCandDuckCtes]]).
  */
case class ShingleHashModExpr(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ShingleHashModExpr.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashModExpr.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashModExpr {
  final val P: Long = 2147483647L // 2^31 - 1
  final val B: Long = 16777619L  // FNV-32 prime, < p

  def compute(tokenHashes: ArrayData, k: Int): ArrayData = {
    import MinHashSigExpr.modP
    val m = tokenHashes.numElements()
    if (m < k) {
      var h = 0L
      var i = 0
      while (i < m) { h = modP(h * B + tokenHashes.getLong(i)); i += 1 }
      new GenericArrayData(Array(h))
    } else {
      // rolling window (round 17): H_{i+1} = (H_i − t_i·B^{k−1})·B +
      // t_{i+k} in ℤ_p — O(m) instead of O(m·k) window refolds, the
      // SAME residues (ℤ_p congruence; Mersenne modP throughout).
      // Operand bounds: h, tokens, bk all < p, so every product is
      // < p² < 2^62 and every sum fits long.
      var bk = 1L
      var t = 0
      while (t < k - 1) { bk = modP(bk * B); t += 1 }
      val out = new Array[Long](m - k + 1)
      var h = 0L
      var j = 0
      while (j < k) { h = modP(h * B + tokenHashes.getLong(j)); j += 1 }
      out(0) = h
      var i = 1
      while (i + k <= m) {
        var nh = h - modP(tokenHashes.getLong(i - 1) * bk)
        if (nh < 0) nh += P
        h = modP(nh * B + tokenHashes.getLong(i + k - 1))
        out(i) = h
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

object ShingleHashExpr {
  private final val Prime = 1099511628211L // FNV-64 prime

  def compute(tokenHashes: ArrayData, k: Int): ArrayData = {
    val m = tokenHashes.numElements()
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (m < k) {
      var h = 0L
      var i = 0
      while (i < m) { h = h * Prime + tokenHashes.getLong(i); i += 1 }
      out.add(h)
    } else {
      var i = 0
      while (i + k <= m) {
        var h = 0L
        var j = i
        while (j < i + k) { h = h * Prime + tokenHashes.getLong(j); j += 1 }
        out.add(h)
        i += 1
      }
    }
    val arr = new Array[Long](out.size())
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }
}
