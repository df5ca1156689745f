package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bloom bit-array holder. Deliberately NOT a bare Array[Long]: Spark
  * auto-picks Kryo for shuffles/broadcasts of primitive-array types, and
  * Kryo's default-class registration reflects into java.nio — which a
  * plain `java -cp` launch (no --add-opens) forbids on JDK 17+. A
  * case-class wrapper routes through JavaSerializer instead. */
final case class BloomBits(bits: Array[Long]) extends Serializable

/**
 * Whole-document text fingerprint kernels: one codegen'd pass per row
 * computes the complete minhash signature / simhash fingerprint, so the
 * dedup pipelines need NO token explode, NO window pass and NO signature
 * aggregation — on a 100 TB corpus that removes two shuffles whose
 * volume is a multiple of the text itself. The earlier shape (posexplode
 * + lead window + k min/sum aggregates) is still linear but pays
 * explode-row materialization and two hash-shuffles of token-grain rows.
 *
 * Tokens are maximal runs of non-whitespace bytes (ASCII whitespace:
 * space, \t, \n, \x0B, \f, \r — the same class Java's regex \s+ splits
 * on); hashes are splitmix64 finalizers over FNV-1a byte hashes, stable
 * across executors and runs. Shingle combining is order-sensitive.
 * (The reference engine has no such kernels; these are the Spark-native
 * custom-Expression tier of the task's preference order.)
 */
object TextKernels {

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** FNV-1a over a byte range, finalized with splitmix64. */
  private def hashRange(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = from
    while (i < until) { h = (h ^ (bytes(i) & 0xFFL)) * 0x100000001B3L; i += 1 }
    VectorKernels.mix(h)
  }

  /** Full minhash signature of `s`: `k` mins over the document's
    * `n`-token rolling shingle hashes (documents with fewer than n
    * tokens contribute one whole-trimmed-text shingle, matching the
    * pipeline form's short-document rule). Returns null only via the
    * expression's null handling; an all-whitespace document still gets
    * the whole-text-shingle signature. */
  def minhash(s: UTF8String, k: Int, n: Int): Array[Long] = {
    val bytes = s.getBytes
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val ring = new Array[Long](n)
    var tokens = 0
    var i = 0
    val len = bytes.length

    def addShingle(sh: Long): Unit = {
      var j = 0
      while (j < k) {
        // per-function remix: cheap, decorrelated across j
        val v = VectorKernels.mix(sh ^ VectorKernels.mix(0x9E3779B97F4A7C15L * (j + 1)))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
    }

    while (i < len) {
      while (i < len && isSpace(bytes(i))) i += 1
      val start = i
      while (i < len && !isSpace(bytes(i))) i += 1
      if (i > start) {
        ring(tokens % n) = hashRange(bytes, start, i)
        tokens += 1
        if (tokens >= n) {
          // combine the window oldest-first (order-sensitive)
          var acc = 0x9E3779B97F4A7C15L
          var w = tokens - n
          while (w < tokens) { acc = VectorKernels.mix(acc ^ ring(w % n)); w += 1 }
          addShingle(acc)
        }
      }
    }
    if (tokens < n) {
      // whole-trimmed-text shingle
      var a = 0
      var b = len
      while (a < b && isSpace(bytes(a))) a += 1
      while (b > a && isSpace(bytes(b - 1))) b -= 1
      addShingle(hashRange(bytes, a, b))
    }
    sig
  }

  /** Sorted distinct rolling-shingle hashes of `s` — the exact-verify
    * companion of [[minhash]] (identical tokenization, hashing and
    * short-document rule), sorted so set intersection is a linear merge. */
  def shingleSet(s: UTF8String, n: Int): Array[Long] = {
    val bytes = s.getBytes
    val ring = new Array[Long](n)
    var out = new Array[Long](16)
    var m = 0
    def push(v: Long): Unit = {
      if (m == out.length) out = java.util.Arrays.copyOf(out, m * 2)
      out(m) = v; m += 1
    }
    var tokens = 0
    var i = 0
    val len = bytes.length
    while (i < len) {
      while (i < len && isSpace(bytes(i))) i += 1
      val start = i
      while (i < len && !isSpace(bytes(i))) i += 1
      if (i > start) {
        ring(tokens % n) = hashRange(bytes, start, i)
        tokens += 1
        if (tokens >= n) {
          var acc = 0x9E3779B97F4A7C15L
          var w = tokens - n
          while (w < tokens) { acc = VectorKernels.mix(acc ^ ring(w % n)); w += 1 }
          push(acc)
        }
      }
    }
    if (tokens < n) {
      var a = 0
      var b = len
      while (a < b && isSpace(bytes(a))) a += 1
      while (b > a && isSpace(bytes(b - 1))) b -= 1
      push(hashRange(bytes, a, b))
    }
    java.util.Arrays.sort(out, 0, m)
    // in-place dedup of the sorted prefix
    var r = 0; var w = 0
    while (r < m) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(out, w)
  }

  /** Count of `s`'s n-token shingle hashes present in `sorted` (a sorted
    * distinct array): binary search per shingle, O(|doc| log |bench|). */
  def broadcastHits(s: UTF8String, sorted: Array[Long], n: Int): Long = {
    val mine = shingleSet(s, n)
    var i = 0
    var hits = 0L
    while (i < mine.length) {
      if (java.util.Arrays.binarySearch(sorted, mine(i)) >= 0) hits += 1
      i += 1
    }
    hits
  }

  /** Set `h`'s `k` Bloom bits in `bits` (Kirsch-Mitzenmacher double
    * hashing from the already-mixed 64-bit shingle hash: probe_i =
    * h + i*h2 with odd h2, so probes are decorrelated without k
    * independent hash passes). */
  def bloomAdd(bits: Array[Long], h: Long, k: Int): Unit = {
    val m = bits.length.toLong * 64L
    val h2 = (h >>> 33) | 1L
    var i = 0
    var p = h
    while (i < k) {
      val idx = (p & Long.MaxValue) % m
      bits((idx >>> 6).toInt) |= (1L << (idx & 63L))
      p += h2
      i += 1
    }
  }

  /** True iff all `k` Bloom bits of `h` are set (same probe sequence as
    * [[bloomAdd]]). */
  @inline def bloomContains(bits: Array[Long], h: Long, k: Int): Boolean = {
    val m = bits.length.toLong * 64L
    val h2 = (h >>> 33) | 1L
    var i = 0
    var p = h
    while (i < k) {
      val idx = (p & Long.MaxValue) % m
      if ((bits((idx >>> 6).toInt) & (1L << (idx & 63L))) == 0L) return false
      p += h2
      i += 1
    }
    true
  }

  /** Count of `s`'s n-token shingle hashes that HIT the Bloom filter —
    * the sketch-backed sibling of [[broadcastHits]] for benchmark/held-out
    * sets too large to broadcast exactly. No false negatives; false
    * positives at the filter's design rate. */
  def bloomHits(s: UTF8String, bits: Array[Long], k: Int, n: Int): Long = {
    val mine = shingleSet(s, n)
    var i = 0
    var hits = 0L
    while (i < mine.length) {
      if (bloomContains(bits, mine(i), k)) hits += 1
      i += 1
    }
    hits
  }

  /** Exact Jaccard of two SORTED distinct long arrays: linear merge. */
  def sortedJaccard(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** 64-bit simhash of `s`: per-token hash votes each bit up or down;
    * bit set iff the vote is positive. Zero tokens -> 0L. */
  /** Shannon entropy (bits per character) over the string's Unicode code
    * points — the cheap "is this natural text or noise/boilerplate"
    * quality signal. Summed in ascending code-point order so the result
    * is deterministic run to run. Empty input is 0. */
  def charEntropy(s: UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return 0.0
    val counts = new java.util.TreeMap[Integer, Long]()
    var i = 0
    var n = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts.merge(cp, 1L, (a, b) => a + b)
      i += Character.charCount(cp)
      n += 1
    }
    var h = 0.0
    val it = counts.values.iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / n
      h -= p * math.log(p)
    }
    h / math.log(2.0)
  }

  /**
   * Gopher repetition profile (Rae et al. 2021, "Scaling Language Models:
   * Methods, Analysis & Insights from Training Gopher", appendix A1.1) in
   * ONE kernel pass per document — no line/gram explosion, no shuffle:
   *
   *   [0] dup_line_frac       lines whose text occurs more than once / lines
   *   [1] dup_line_char_frac  chars in those lines / chars in all lines
   *   [2] top_2gram_char_frac most frequent word 2-gram's occurrences x its
   *                           token chars / total token chars
   *   [3] top_3gram_char_frac      (same, n=3)
   *   [4] top_4gram_char_frac      (same, n=4)
   *   [5] dup_5gram_char_frac chars of token positions covered by any
   *                           5-gram occurring >= 2 times / total token chars
   *   [6] dup_10gram_char_frac     (same, n=10)
   *
   * Lines split on '\n' exactly (empties kept); tokens are lowercased
   * whitespace-split non-empty words (the same tokenization as the other
   * text signals). A document with fewer than n tokens scores 0 for that
   * n-gram signal; zero denominators score 0. The most-frequent-gram tie
   * breaks by count desc then gram asc, so the profile is deterministic.
   */
  def repetitionProfile(s: UTF8String): Array[Double] = {
    val out = new Array[Double](7)
    val str = s.toString
    // ---- line signals ----
    val lines = str.split("\n", -1)
    if (lines.length > 0) {
      val lc = new java.util.HashMap[String, Integer]()
      lines.foreach(l => lc.merge(l, 1, (a, b) => a + b))
      var dupLines = 0; var dupChars = 0L; var totChars = 0L
      lines.foreach { l =>
        totChars += l.length
        if (lc.get(l) > 1) { dupLines += 1; dupChars += l.length }
      }
      out(0) = dupLines.toDouble / lines.length
      out(1) = if (totChars == 0) 0.0 else dupChars.toDouble / totChars
    }
    // ---- token n-gram signals ----
    val toks = str.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    var totTokChars = 0L
    toks.foreach(t => totTokChars += t.length)
    def gramCounts(n: Int): java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder()
        var j = i
        while (j < i + n) {
          if (j > i) sb.append(' ')
          sb.append(toks(j)); j += 1
        }
        m.merge(sb.toString, 1, (a, b) => a + b)
        i += 1
      }
      m
    }
    def topFrac(n: Int): Double = {
      if (toks.length < n || totTokChars == 0) return 0.0
      val m = gramCounts(n)
      var bestCount = 0; var bestGram: String = null
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue.intValue
        if (c > bestCount || (c == bestCount && e.getKey.compareTo(bestGram) < 0)) {
          bestCount = c; bestGram = e.getKey
        }
      }
      // token chars of the winning gram = length minus its n-1 separators
      val gramChars = bestGram.length - (n - 1)
      bestCount.toDouble * gramChars / totTokChars
    }
    def dupFrac(n: Int): Double = {
      if (toks.length < n || totTokChars == 0) return 0.0
      val m = gramCounts(n)
      val covered = new Array[Boolean](toks.length)
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder()
        var j = i
        while (j < i + n) {
          if (j > i) sb.append(' ')
          sb.append(toks(j)); j += 1
        }
        if (m.get(sb.toString) > 1) {
          j = i
          while (j < i + n) { covered(j) = true; j += 1 }
        }
        i += 1
      }
      var dupChars = 0L
      i = 0
      while (i < toks.length) {
        if (covered(i)) dupChars += toks(i).length
        i += 1
      }
      dupChars.toDouble / totTokChars
    }
    out(2) = topFrac(2); out(3) = topFrac(3); out(4) = topFrac(4)
    out(5) = dupFrac(5); out(6) = dupFrac(10)
    out
  }

  def simhash(s: UTF8String): Long = {
    val bytes = s.getBytes
    val votes = new Array[Int](64)
    var i = 0
    val len = bytes.length
    var any = false
    while (i < len) {
      while (i < len && isSpace(bytes(i))) i += 1
      val start = i
      while (i < len && !isSpace(bytes(i))) i += 1
      if (i > start) {
        any = true
        val h = hashRange(bytes, start, i)
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
      }
    }
    if (!any) return 0L
    var fp = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) fp |= (1L << bit); bit += 1 }
    fp
  }
}

/** array<long> minhash signature of a string column — see
  * [[TextKernels.minhash]]. */
case class MinHashSignature(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression {
  require(numHashes > 0 && shingleSize > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      TextKernels.minhash(a.asInstanceOf[UTF8String], numHashes, shingleSize))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(
          graft.expressions.TextKernels.minhash($a, $numHashes, $shingleSize));
    """)

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** array<long> sorted distinct shingle set of a string column — see
  * [[TextKernels.shingleSet]]. */
case class ShingleSet(child: Expression, shingleSize: Int)
    extends UnaryExpression {
  require(shingleSize > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      TextKernels.shingleSet(a.asInstanceOf[UTF8String], shingleSize))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(
          graft.expressions.TextKernels.shingleSet($a, $shingleSize));
    """)

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/** Exact Jaccard similarity of two sorted distinct long arrays — see
  * [[TextKernels.sortedJaccard]]. */
case class SortedArrayJaccard(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.sortedJaccard(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.TextKernels.sortedJaccard($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedArrayJaccard =
    copy(left = newLeft, right = newRight)
}

/** Character-entropy of a string column — see [[TextKernels.charEntropy]]. */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any): Any =
    TextKernels.charEntropy(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.TextKernels.charEntropy($a);")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

/** 64-bit simhash of a string column — see [[TextKernels.simhash]]. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any =
    TextKernels.simhash(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.TextKernels.simhash($a);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** array<double> Gopher repetition profile of a string column — see
  * [[TextKernels.repetitionProfile]] for the seven slots. */
case class RepetitionProfile(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      TextKernels.repetitionProfile(a.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(
          graft.expressions.TextKernels.repetitionProfile($a));
    """)

  override protected def withNewChildInternal(newChild: Expression): RepetitionProfile =
    copy(child = newChild)
}

/** Per-document benchmark-contamination hit count against a broadcast
  * sorted shingle-hash array: ONE kernel call per document — no gram
  * explosion, no join, no shuffle before the caller's final projection.
  * The bench set ships to each executor once via the broadcast, not
  * per-task in the serialized plan. */
case class BroadcastShingleHits(
    child: Expression,
    benchBc: org.apache.spark.broadcast.Broadcast[Array[Long]],
    shingleSize: Int) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any =
    TextKernels.broadcastHits(
      a.asInstanceOf[UTF8String], benchBc.value, shingleSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val bcRef = ctx.addReferenceObj("benchBc", benchBc,
        classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
      s"""
      ${ev.value} = graft.expressions.TextKernels.broadcastHits(
        $a, (long[]) $bcRef.value(), $shingleSize);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): BroadcastShingleHits =
    copy(child = newChild)
}

/** Per-document contamination hit count against a broadcast BLOOM FILTER
  * of benchmark shingle hashes — the scale path of
  * [[BroadcastShingleHits]] when the bench/held-out set is itself
  * corpus-sized (billions of grams): the executor-resident state is the
  * fixed-size bit array, not the gram set. One kernel call per document;
  * no false negatives, false positives at the filter's design rate. */
case class BloomShingleHits(
    child: Expression,
    bitsBc: org.apache.spark.broadcast.Broadcast[BloomBits],
    shingleSize: Int,
    numHashes: Int) extends UnaryExpression {
  require(shingleSize > 0 && numHashes > 0)

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any =
    TextKernels.bloomHits(
      a.asInstanceOf[UTF8String], bitsBc.value.bits, numHashes, shingleSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val bcRef = ctx.addReferenceObj("bitsBc", bitsBc,
        classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
      s"""
      ${ev.value} = graft.expressions.TextKernels.bloomHits(
        $a,
        ((graft.expressions.BloomBits) $bcRef.value()).bits(),
        $numHashes, $shingleSize);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): BloomShingleHits =
    copy(child = newChild)
}
