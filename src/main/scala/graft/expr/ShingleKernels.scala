package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native text → shingle kernels.
  *
  * Profiling (round 4) put ~8 s of every 10-13 s fuzzy-dedup query at
  * sf0.1 in CHARACTER-LEVEL shingle construction: the Column formulation
  * (`Dedup.shingles` = tokens → `transform(sequence(...))` →
  * `concat_ws(slice(...))` → `xxhash64`/md5) evaluates interpreted
  * higher-order lambdas and allocates a token-array slice plus a shingle
  * string per window. These kernels run the identical tokenize → window →
  * hash chain as one pass of plain Java with a reused StringBuilder, and
  * only the HASHES ever materialize as Catalyst values:
  *  - [[HashedShingles]]: sorted distinct xxhash64 shingle hashes (the
  *    Jaccard verify side of every near-dup pipeline);
  *  - [[PortableMinhashText]] / [[EngineMinhashText]]: text → minhash
  *    signature in the Portable (md5 + universal hash) and Engine
  *    (seeded xxhash64) families; [[EngineMinhash]] is the Engine
  *    kernel's `array<string>` twin (the Portable one lives in
  *    `PortableHashExprs`);
  *  - [[EngineBandBuckets]]: Engine-mode LSH band buckets of a signature;
  *  - [[TfGrams]] / [[PosGrams]]: per-document n-gram term frequencies and
  *    positional n-grams.
  *
  * Semantics replicate the Column chain exactly (verified by bit-equality
  * tests against the columnar twins):
  *  - lowercase first (`lower(text)`), trim ASCII SPACES only (Spark's
  *    `trim` strips 0x20, not general whitespace), split on Java-regex
  *    `\s+` keeping trailing empties (Spark's `split` limit −1);
  *  - empty trimmed text → no tokens → the single whole-text shingle "";
  *    fewer than `n` tokens → one shingle of all tokens joined by ' ';
  *  - otherwise every n-token window joined by ' ', DISTINCT.
  */
private[expr] object Shingler {

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** `TextAnalysis.tokens(lower(text))`'s exact native twin: lowercase,
    * trim ASCII spaces (Spark's `trim` strips 0x20 only), split on
    * Java-regex `\s+` keeping trailing empties (Spark `split` limit −1);
    * empty trimmed text → no tokens.
    */
  def tokens(text: UTF8String): Array[String] = {
    val lowered = text.toLowerCase.toString
    var b = 0; var e = lowered.length
    while (b < e && lowered.charAt(b) == ' ') b += 1
    while (e > b && lowered.charAt(e - 1) == ' ') e -= 1
    val trimmed = lowered.substring(b, e)
    if (trimmed.isEmpty) Array.empty else Ws.split(trimmed, -1)
  }

  /** Distinct shingle strings of `text` (order unspecified). */
  def shingles(text: UTF8String, n: Int): java.util.LinkedHashSet[String] = {
    val out = new java.util.LinkedHashSet[String]()
    val toks = tokens(text)
    if (toks.length < n) {
      out.add(toks.mkString(" "))
      return out
    }
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    out
  }

  /** xxhash64 (seed 42) of the string's UTF-8 bytes — the same value
    * Spark's `xxhash64(stringCol)` produces.
    */
  def xxhash(s: String): Long = {
    val bytes = UTF8String.fromString(s).getBytes
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
  }
}

/** `string` text → SORTED DISTINCT `array<long>` of xxhash64 shingle
  * hashes — one-pass native twin of
  * `array_sort(array_distinct(transform(Dedup.shingles(text, n), xxhash64)))`,
  * the verify-side representation of the n-gram/minhash dedup pipelines.
  */
case class HashedShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${t.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hashed_shingles"

  def kernel(text: UTF8String): GenericArrayData = {
    val sh = Shingler.shingles(text, n)
    val hs = new Array[Long](sh.size)
    val it = sh.iterator()
    var i = 0
    while (it.hasNext) { hs(i) = Shingler.xxhash(it.next()); i += 1 }
    java.util.Arrays.sort(hs)
    // drop (astronomically unlikely) in-doc hash collisions to keep the
    // DISTINCT contract of the sorted-intersect kernels
    var w = 0; var r = 0
    while (r < hs.length) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(if (w == hs.length) hs else java.util.Arrays.copyOf(hs, w))
  }

  override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hsh", this, classOf[HashedShingles].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

/** `string` text → portable minhash signature, fused: tokenize + window +
  * md5 + universal-hash fold in one pass, no shingle array ever
  * materialized. Bit-exact with
  * `Dedup.minhashSignature(Dedup.shingles(text, n), k, HashMode.Portable)`
  * (the min-fold is duplicate-invariant, so the DISTINCT step of
  * `shingles` cannot change the signature).
  */
case class PortableMinhashText(child: Expression, n: Int, ab: Seq[(Long, Long)])
    extends UnaryExpression {
  import PortableKernels.P

  private lazy val aArr: Array[Long] = ab.map(_._1).toArray
  private lazy val bArr: Array[Long] = ab.map(_._2).toArray

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${t.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_portable_minhash_text"

  def kernel(text: UTF8String): GenericArrayData = {
    val k = aArr.length
    val acc = Array.fill(k)(P)
    val it = Shingler.shingles(text, n).iterator()
    while (it.hasNext) {
      val s = it.next()
      val (hi, _) = PortableKernels.md5Halves(
        UTF8String.fromString(s).getBytes)
      val x = hi % P
      var i = 0
      while (i < k) {
        val h = (aArr(i) * x + bArr(i)) % P
        if (h < acc(i)) acc(i) = h
        i += 1
      }
    }
    new GenericArrayData(acc)
  }

  override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pmt", this, classOf[PortableMinhashText].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PortableMinhashText =
    copy(child = newChild)
}

/** Seeds and fold shared by the Engine (xxhash64) minhash kernels.
  * Spark's `xxhash64(i, s)` folds its arguments left to right from seed
  * 42, skipping nulls: it hashes the int `i` first and carries the result
  * into `s` as its seed. So slot `i`'s hash of a shingle is
  * `XXH64.hashUnsafeBytes(s, seed_i)` with `seed_i = XXH64.hashInt(i, 42)`,
  * and a null shingle hashes to `seed_i` alone.
  */
private[expr] object EngineMinhashFold {

  def seeds(k: Int): Array[Long] = Array.tabulate(k)(i => XXH64.hashInt(i, 42L))

  /** Elementwise-min the slot hashes of one shingle's UTF-8 bytes into `acc`. */
  def minInto(acc: Array[Long], seeds: Array[Long],
      base: AnyRef, offset: Long, numBytes: Int): Unit = {
    var i = 0
    while (i < acc.length) {
      val h = XXH64.hashUnsafeBytes(base, offset, numBytes, seeds(i))
      if (h < acc(i)) acc(i) = h
      i += 1
    }
  }
}

/** `string` text → Engine-mode minhash signature, fused: tokenize + window
  * + seeded xxhash64 + min-fold in one pass, no shingle array ever
  * materialized. Bit-exact with
  * `Dedup.minhashSignatureEngineColumnar(Dedup.shingles(text, n), k)`
  * (slot i is `min` over distinct shingles of `xxhash64(i, shingle)`,
  * starting from `Long.MaxValue`).
  */
case class EngineMinhashText(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  private lazy val seeds: Array[Long] = EngineMinhashFold.seeds(numHashes)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${t.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_engine_minhash_text"

  def kernel(text: UTF8String): GenericArrayData = {
    val acc = Array.fill(numHashes)(Long.MaxValue)
    val it = Shingler.shingles(text, n).iterator()
    while (it.hasNext) {
      val bytes = UTF8String.fromString(it.next()).getBytes
      EngineMinhashFold.minInto(acc, seeds, bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
    }
    new GenericArrayData(acc)
  }

  override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("emt", this, classOf[EngineMinhashText].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): EngineMinhashText =
    copy(child = newChild)
}

/** `array<string>` shingles → Engine-mode minhash signature: the
  * array-input twin of [[EngineMinhashText]], bit-exact with
  * `Dedup.minhashSignatureEngineColumnar(shingles, k)`. A null element
  * hashes to the slot seed alone, as `xxhash64` skips null arguments.
  */
case class EngineMinhash(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  private lazy val seeds: Array[Long] = EngineMinhashFold.seeds(numHashes)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${t.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_engine_minhash"

  def kernel(arr: ArrayData): GenericArrayData = {
    val acc = Array.fill(numHashes)(Long.MaxValue)
    var s = 0
    while (s < arr.numElements()) {
      if (arr.isNullAt(s)) {
        var i = 0
        while (i < numHashes) {
          if (seeds(i) < acc(i)) acc(i) = seeds(i)
          i += 1
        }
      } else {
        val u = arr.getUTF8String(s)
        EngineMinhashFold.minInto(acc, seeds, u.getBaseObject, u.getBaseOffset, u.numBytes)
      }
      s += 1
    }
    new GenericArrayData(acc)
  }

  override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("emh", this, classOf[EngineMinhash].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): EngineMinhash =
    copy(child = newChild)
}

/** `array<long>` signature → Engine-mode LSH band buckets `array<long>`
  * of length `bands`: band b is `xxhash64(b, slice(sig, b*r + 1, r))`,
  * i.e. `h = XXH64.hashInt(b, 42)` then `h = XXH64.hashLong(slot, h)`
  * over the band's non-null slots, stopping at the array end as `slice`
  * does (a short last band hashes what is left; a band past the end is
  * its seed alone). Bit-exact with `Dedup.lshBandBucketsColumnar` on a
  * non-null signature. A null signature gives NULL buckets, not the band
  * seeds the columnar form returns: null-text documents then never enter
  * the band join (as in Portable mode), instead of all colliding in
  * every band.
  */
case class EngineBandBuckets(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands >= 1 && rowsPerBand >= 1,
    s"bands and rowsPerBand must be >= 1, got $bands x $rowsPerBand")

  private lazy val bandSeeds: Array[Long] =
    Array.tabulate(bands)(b => XXH64.hashInt(b, 42L))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint>, got ${t.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_engine_band_buckets"

  def kernel(sig: ArrayData): GenericArrayData = {
    val len = sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = bandSeeds(b)
      var j = b * rowsPerBand
      val end = math.min(j + rowsPerBand, len)
      while (j < end) {
        if (!sig.isNullAt(j)) h = XXH64.hashLong(sig.getLong(j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ebb", this, classOf[EngineBandBuckets].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): EngineBandBuckets =
    copy(child = newChild)
}

/** `string` text → word-n-gram TERM-FREQUENCY pairs
  * `array<struct<g: string, tf: bigint>>` — the native per-document half
  * of the cosine-pairs posting build. The Column formulation
  * (`transform(sequence(...)) → concat_ws(slice(...))`, then
  * `explode → groupBy(gram, doc).count()`) pays an interpreted
  * higher-order lambda PLUS a full (gram, doc) aggregation exchange;
  * this kernel runs tokenize → window → within-doc count as one pass of
  * plain Java (reused StringBuilder, insertion-ordered count map), so
  * the exploded output IS the posting list and the only remaining
  * shuffle is the gram-key one the document-frequency window needs
  * anyway.
  *
  * Semantics replicate the Column chain exactly (spec: bit-equality
  * against the columnar twin): tokens as [[Shingler.tokens]]; fewer
  * than `n` tokens → ONE gram of all tokens joined by ' ' (empty text →
  * the "" gram) when `withShortFallback` (the dedup-shingle contract),
  * or NO grams at all when not (the [[graft.ext.Corpus.dupNgrams]]
  * audit contract — it wants real n-grams only); otherwise every
  * n-token window WITH multiplicity.
  */
case class TfGrams(child: Expression, n: Int, withShortFallback: Boolean = true)
    extends UnaryExpression {
  require(n >= 1, s"gram size must be >= 1, got $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${t.simpleString}")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("g", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_tf_grams"

  def kernel(text: UTF8String): GenericArrayData = {
    val toks = Shingler.tokens(text)
    val counts = new java.util.LinkedHashMap[String, java.lang.Long]()
    if (toks.length < n) {
      if (withShortFallback)
        counts.put(toks.mkString(" "), java.lang.Long.valueOf(1L))
    } else {
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val g = sb.toString
        val prev = counts.get(g)
        counts.put(g,
          java.lang.Long.valueOf(if (prev == null) 1L else prev.longValue() + 1L))
        i += 1
      }
    }
    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val en = it.next()
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(en.getKey), en.getValue.longValue()))
      k += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tfg", this, classOf[TfGrams].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): TfGrams =
    copy(child = newChild)
}

/** `string` text → ALL word n-grams IN TEXT ORDER (with multiplicity)
  * `array<string>` — the positional sibling of [[TfGrams]] for span
  * audits that need each gram's offset (`posexplode` over this array
  * yields `(pos, gram)` with `pos` = 0-based token offset of the
  * window's first token). No short-document fallback: fewer than `n`
  * tokens → empty array (a span audit wants real n-grams only).
  * Tokenization is [[Shingler.tokens]] (lowercase, ASCII-space trim,
  * `\s+` split), identical to every other gram kernel here.
  */
case class PosGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"gram size must be >= 1, got $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${t.simpleString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_pos_grams"

  def kernel(text: UTF8String): GenericArrayData = {
    val toks = Shingler.tokens(text)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("psg", this, classOf[PosGrams].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PosGrams =
    copy(child = newChild)
}
