package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd signature math for the dedup family (SURVEY §2.C) — the
  * per-shingle/per-token hash loops are the scan-side hot path of MinHash and
  * SimHash dedup, so they live in Catalyst expressions (tier (b) of the
  * custom-operator ladder, same as [[CosineSimilarity]]): no UDF
  * encode/decode per row, the loops are plain JVM code reached from
  * whole-stage codegen via a static call.
  *
  * All hashing is MurmurHash3 (platform-independent by spec) with fixed
  * seeds, so signatures are reproducible across runs, partitionings, and
  * cluster sizes.
  */
object TextSignatures {

  // -- MinHash constants: 64 universal hashes folded into 8 bands of 8 rows.
  //    (1/b)^(1/r) ≈ 0.77 candidate threshold — sharp S-curve for a ~0.8
  //    verification threshold.
  val MersennePrime = 2147483647L // 2^31 - 1
  val NumHashes = 64
  val Bands = 8
  val RowsPerBand = 8

  /** Deterministic (a, b) coefficients of h_i(x) = (a_i·x + b_i) mod p. */
  private val coeffA = new Array[Long](NumHashes)
  private val coeffB = new Array[Long](NumHashes)
  locally {
    val rnd = new scala.util.Random(42)
    var i = 0
    while (i < NumHashes) {
      coeffA(i) = rnd.nextInt(Int.MaxValue - 1).toLong + 1
      coeffB(i) = rnd.nextInt(Int.MaxValue).toLong
      i += 1
    }
  }

  /** MinHash band hashes of `text`'s distinct character k-shingles in one
    * pass: no shingle array is materialized — each first-seen shingle updates
    * all 64 signature minima, and the signature folds into `Bands` longs.
    * Static so generated code can call it directly.
    */
  def minhashBands(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString
    val n = math.max(s.length - k + 1, 1)
    val seen = new java.util.HashSet[String](math.min(n * 2, 1 << 16))
    val sig = new Array[Long](NumHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val sh = s.substring(i, math.min(i + k, s.length))
      if (seen.add(sh)) {
        val h = scala.util.hashing.MurmurHash3.stringHash(sh) & 0x7fffffffL
        var j = 0
        while (j < NumHashes) {
          val v = (coeffA(j) * h + coeffB(j)) % MersennePrime
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    val bands = new Array[Long](Bands)
    var bnd = 0
    while (bnd < Bands) {
      var h = 1125899906842597L
      var r = 0
      while (r < RowsPerBand) { h = h * 31 + sig(bnd * RowsPerBand + r); r += 1 }
      bands(bnd) = h
      bnd += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bands)
  }

  /** 64-bit SimHash of a token array: per-bit vote sum over a 64-bit token
    * hash (two murmur3 passes with fixed seeds), bit set iff votes > 0.
    */
  def simhash(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i).toString
      val h = (scala.util.hashing.MurmurHash3.stringHash(t, 0x9747b28c).toLong << 32) |
        (scala.util.hashing.MurmurHash3.stringHash(t, 0x5bd1e995).toLong & 0xffffffffL)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** Exact Jaccard of two texts' distinct k-shingle sets, computed directly
    * from the texts — candidate verification never materializes shingle
    * arrays through a shuffle.
    */
  def shingleJaccard(a: UTF8String, b: UTF8String, k: Int): Double = {
    val sa = shingleSet(a.toString, k)
    val sb = shingleSet(b.toString, k)
    var inter = 0
    val it = sb.iterator()
    while (it.hasNext) if (sa.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  private def shingleSet(s: String, k: Int): java.util.HashSet[String] = {
    val n = math.max(s.length - k + 1, 1)
    val set = new java.util.HashSet[String](math.min(n * 2, 1 << 16))
    var i = 0
    while (i < n) { set.add(s.substring(i, math.min(i + k, s.length))); i += 1 }
    set
  }

  /** Gram-stream family tags (`graft_gram_stream`'s `fam` field). */
  val FamToken: Byte = 0
  val FamBigram: Byte = 1
  val FamDoc: Byte = 2

  /** One-pass tagged gram stream of a document (q123's generator): every
    * whitespace-run token occurrence tagged [[FamToken]], the doc's
    * DISTINCT word bigrams tagged [[FamBigram]], and exactly ONE
    * [[FamDoc]] marker row (`g = ""`) per document regardless of content —
    * so the document count itself rides the same exchange as the gram
    * counts and the consumer needs no second corpus scan or join.
    * Tokenization is the engine's `split(trim(text), " +")` contract
    * (0x20 runs, not general whitespace). A single-token doc emits its
    * lone token as the degenerate bigram (the `greatest(n-1, 1)` window
    * contract shared with [[graft.operators.Curation.wordNgrams]]
    * and the q123 oracle) — tagged [[FamBigram]], so it counts as a
    * bigram, never as a token occurrence (the r13 'family by
    * contains-a-space' inference mis-filed it; ADVICE r13).
    * Empty/blank text yields just the doc marker.
    *
    * This replaces a `transform(sequence)/slice/concat_ws/array_distinct/
    * concat` composition whose per-gram higher-order-function eval was
    * measured as the dominant component of q123's sf1 wall
    * (tools.DiversityProfile: +0.61 s of a 1.42 s total vs +0.01 s for
    * the token explode alone).
    */
  def gramStream(text: UTF8String): ArrayData = {
    val s = text.trim().toString
    val docMarker = org.apache.spark.sql.catalyst.InternalRow(FamDoc, UTF8String.EMPTY_UTF8)
    if (s.isEmpty)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](docMarker))
    // token spans: runs of non-space chars
    val toks = new java.util.ArrayList[String](64)
    var i = 0
    val len = s.length
    while (i < len) {
      if (s.charAt(i) == ' ') i += 1
      else {
        var j = i + 1
        while (j < len && s.charAt(j) != ' ') j += 1
        toks.add(s.substring(i, j))
        i = j
      }
    }
    val n = toks.size
    val bigrams = new java.util.LinkedHashSet[String](math.min(n * 2, 1 << 16))
    if (n == 1) bigrams.add(toks.get(0))
    else {
      var k = 0
      while (k < n - 1) { bigrams.add(toks.get(k) + " " + toks.get(k + 1)); k += 1 }
    }
    val out = new Array[Any](n + bigrams.size + 1)
    var o = 0
    while (o < n) {
      out(o) = org.apache.spark.sql.catalyst.InternalRow(FamToken, UTF8String.fromString(toks.get(o)))
      o += 1
    }
    val it = bigrams.iterator()
    while (it.hasNext) {
      out(o) = org.apache.spark.sql.catalyst.InternalRow(FamBigram, UTF8String.fromString(it.next()))
      o += 1
    }
    out(o) = docMarker
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** One-pass word n-grams of a document — the native form of
    * [[graft.operators.Curation.wordNgrams]]'s `transform(sequence)/slice/
    * concat_ws` composition, whose per-gram higher-order-function eval was
    * measured as the dominant component of BOTH q123's and q75's walls
    * (tools.DiversityProfile / ContamProbe). Semantics mirror the composed
    * form EXACTLY (parity-spec pinned): tokens are `split(trim(text),
    * ' +')` — an empty/blank text yields the single empty token, matching
    * Spark's `split("")` — and the gram count is `greatest(m - n + 1, 1)`,
    * so a document with fewer than `n` tokens emits ONE degenerate gram
    * joining all its tokens. `distinct=true` folds the per-doc
    * `array_distinct` into the same pass (first-occurrence order, same as
    * `array_distinct`).
    */
  def wordNgrams(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val s = text.trim().toString
    val toks = new java.util.ArrayList[String](64)
    if (s.isEmpty) toks.add("")
    else {
      var i = 0
      val len = s.length
      while (i < len) {
        if (s.charAt(i) == ' ') i += 1
        else {
          var j = i + 1
          while (j < len && s.charAt(j) != ' ') j += 1
          toks.add(s.substring(i, j))
          i = j
        }
      }
    }
    val m = toks.size
    val cnt = math.max(m - n + 1, 1)
    val sb = new java.lang.StringBuilder(32)
    def gramAt(i: Int): String = {
      sb.setLength(0)
      var k = i
      val end = math.min(i + n, m)
      while (k < end) {
        if (k > i) sb.append(' ')
        sb.append(toks.get(k))
        k += 1
      }
      sb.toString
    }
    if (distinct) {
      val set = new java.util.LinkedHashSet[String](math.min(cnt * 2, 1 << 16))
      var i = 0
      while (i < cnt) { set.add(gramAt(i)); i += 1 }
      val out = new Array[Any](set.size)
      val it = set.iterator()
      var o = 0
      while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      val out = new Array[Any](cnt)
      var i = 0
      while (i < cnt) { out(i) = UTF8String.fromString(gramAt(i)); i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  /** One-pass per-document token counts — `(token, count)` for every
    * DISTINCT whitespace-run token of the doc, first-occurrence order.
    * Tokenization mirrors `split(trim(text), ' +')` exactly, including the
    * degenerate contract (empty/blank text yields the single empty token,
    * count 1), so `explode(graft_token_counts(text))` is row-for-row the
    * same multiset as `explode(split(...)).groupBy(doc, token).count()` —
    * WITHOUT the corpus-wide token-major shuffle of raw occurrences that
    * aggregate needs (2.7M rows at the sf1 point collapse to 1.16M
    * pre-counted pairs before anything shuffles; tools.TfidfProbe).
    */
  def tokenCounts(text: UTF8String): ArrayData = {
    val s = text.trim().toString
    val counts = new java.util.LinkedHashMap[String, Int](64)
    if (s.isEmpty) counts.put("", 1)
    else {
      var i = 0
      val len = s.length
      while (i < len) {
        if (s.charAt(i) == ' ') i += 1
        else {
          var j = i + 1
          while (j < len && s.charAt(j) != ' ') j += 1
          val t = s.substring(i, j)
          counts.put(t, counts.getOrDefault(t, 0) + 1)
          i = j
        }
      }
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var o = 0
    while (it.hasNext) {
      val e = it.next()
      out(o) = org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(e.getKey), e.getValue)
      o += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Non-overlapping `n`-token windows of the doc, each rejoined with a
    * single space — the boilerplate "lines" (r15; replaces q119/q117's
    * transform(sequence(...), i -> array_join(slice(_t, i*n+1, n), ' '))
    * HOF composition, the measured-every-time ~2-3× penalty). Semantics
    * mirror the composed form EXACTLY (parity-spec pinned): tokens are
    * `split(trim(text), ' +')` (empty/blank text yields the single empty
    * token) and the window count is
    * `greatest(ceil((m - n) / double(n)), 0) + 1`, so a document with
    * fewer than `n` tokens emits ONE short line joining all its tokens.
    */
  def wordLines(text: UTF8String, n: Int): ArrayData = {
    val chunks = chunkWindows(text, n, n)
    val out = new Array[Any](chunks.length)
    var i = 0
    while (i < chunks.length) { out(i) = chunks(i)._1; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Strided token windows of the doc — `graft_word_chunks(text, c, s)`:
    * window i covers tokens [i·s, i·s + c), rejoined with single spaces,
    * emitted as `struct(t STRING, n INT)` where `n` is the window's token
    * count (= `size(split(chunk, ' +'))` of the rejoined text, the value
    * q109's consumer derived with a second per-chunk split). Window count
    * is `greatest(ceil((m - c) / double(s)), 0) + 1` — the same formula as
    * the composed transform/sequence/slice it replaces
    * ([[graft.operators.Curation.chunkDocuments]]); stride = chunk gives
    * [[wordLines]]' non-overlapping lines.
    */
  def wordChunks(text: UTF8String, c: Int, s: Int): ArrayData = {
    val chunks = chunkWindows(text, c, s)
    val out = new Array[Any](chunks.length)
    var i = 0
    while (i < chunks.length) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(chunks(i)._1, chunks(i)._2)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Consecutive whitespace-token pairs — `struct(w1, w2)` for tokens
    * `(t[i], t[i+1])`, document order. Tokenization mirrors
    * `split(trim(text), ' +')` exactly (empty/blank text yields the single
    * empty token, hence NO pairs — same as the composed form after its
    * `wsTokenCount >= 2` guard), so
    * `explode(graft_word_bigrams(text))` is row-for-row the
    * `explode(transform(sequence(0, size(_t) - 2), i -> struct(...)))`
    * composition q108/q110 shipped through r15 — without the per-row
    * sequence/transform machinery (r16; the q123/q75/q53/q117 native-fold
    * finding applied to the bigram stream).
    */
  def wordBigrams(text: UTF8String): ArrayData = {
    val s = text.trim().toString
    val toks = new java.util.ArrayList[String](64)
    var i = 0
    val len = s.length
    while (i < len) {
      if (s.charAt(i) == ' ') i += 1
      else {
        var j = i + 1
        while (j < len && s.charAt(j) != ' ') j += 1
        toks.add(s.substring(i, j))
        i = j
      }
    }
    val m = toks.size
    val n = math.max(m - 1, 0)
    val out = new Array[Any](n)
    var k = 0
    while (k < n) {
      out(k) = org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(toks.get(k)), UTF8String.fromString(toks.get(k + 1)))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private def chunkWindows(text: UTF8String, c: Int, stride: Int): Array[(UTF8String, Int)] = {
    val s = text.trim().toString
    val toks = new java.util.ArrayList[String](64)
    if (s.isEmpty) toks.add("")
    else {
      var i = 0
      val len = s.length
      while (i < len) {
        if (s.charAt(i) == ' ') i += 1
        else {
          var j = i + 1
          while (j < len && s.charAt(j) != ' ') j += 1
          toks.add(s.substring(i, j))
          i = j
        }
      }
    }
    val m = toks.size
    val cnt = math.max(math.ceil((m - c) / stride.toDouble).toInt, 0) + 1
    val out = new Array[(UTF8String, Int)](cnt)
    val sb = new java.lang.StringBuilder(64)
    var w = 0
    while (w < cnt) {
      sb.setLength(0)
      val start = w * stride
      var k = start
      val end = math.min(start + c, m)
      while (k < end) {
        if (k > start) sb.append(' ')
        sb.append(toks.get(k))
        k += 1
      }
      out(w) = (UTF8String.fromString(sb.toString), math.max(end - start, 0))
      w += 1
    }
    out
  }

  /** Row-local BM25 inputs for a FIXED query-term set: one pass over the
    * text returns `struct(dl BIGINT, tfs ARRAY<INT>)` — dl mirrors
    * `TextAnalysis.wsTokenCount` exactly (blank text → 0) and `tfs(i)` is
    * the exact-match occurrence count of `terms(i)`. Replaces q111's
    * explode-all-tokens + isin filter + (doc, dl, token) COUNT EXCHANGE:
    * every token of the corpus materialized as a generator row (≈27M rows
    * at the sf1 point) to keep ~10⁵, where this expression emits |terms|
    * ints per document row-locally and the tf aggregate disappears
    * entirely (r15).
    */
  def termTfs(text: UTF8String, terms: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val m = terms.numElements()
    val termStrs = new Array[String](m)
    var t0 = 0
    while (t0 < m) { termStrs(t0) = terms.getUTF8String(t0).toString; t0 += 1 }
    val tfs = new Array[Int](m)
    val s = text.trim().toString
    var dl = 0L
    if (!s.isEmpty) {
      var i = 0
      val len = s.length
      while (i < len) {
        if (s.charAt(i) == ' ') i += 1
        else {
          var j = i + 1
          while (j < len && s.charAt(j) != ' ') j += 1
          dl += 1
          var t = 0
          var matched = false
          while (t < m && !matched) {
            val term = termStrs(t)
            if (term.length == j - i && s.regionMatches(i, term, 0, term.length)) {
              tfs(t) += 1
              matched = true
            }
            t += 1
          }
          i = j
        }
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(dl,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(tfs.map(v => v: Any)))
  }

  // ------------------------------------------------------------ registration

  private[expressions] val fns: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_minhash_bands", classOf[MinHashBands],
      (c: Seq[Expression]) => MinHashBands(c.head, c(1))),
    ("graft_simhash", classOf[SimHash64],
      (c: Seq[Expression]) => SimHash64(c.head)),
    ("graft_shingle_jaccard", classOf[ShingleJaccard],
      (c: Seq[Expression]) => ShingleJaccard(c.head, c(1), c(2))),
    ("graft_gram_stream", classOf[GramStream],
      (c: Seq[Expression]) => GramStream(c.head)),
    ("graft_word_ngrams", classOf[WordNgrams],
      (c: Seq[Expression]) => WordNgrams(c.head, c(1), c(2))),
    ("graft_token_counts", classOf[TokenCounts],
      (c: Seq[Expression]) => TokenCounts(c.head)),
    ("graft_word_lines", classOf[WordLines],
      (c: Seq[Expression]) => WordLines(c.head, c(1))),
    ("graft_word_chunks", classOf[WordChunks],
      (c: Seq[Expression]) => WordChunks(c.head, c(1), c(2))),
    ("graft_term_tfs", classOf[TermTfs],
      (c: Seq[Expression]) => TermTfs(c.head, c(1))),
    ("graft_word_bigrams", classOf[WordBigrams],
      (c: Seq[Expression]) => WordBigrams(c.head)),
  )

  /** Idempotent direct-session registration (mirrors CosineSimilarity). */
  def register(spark: SparkSession): Unit = fns.foreach { case (name, cls, builder) =>
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
  }

  /** Column helpers (register on first use in the owning session). */
  def minhashBandsCol(spark: SparkSession)(text: Column, k: Int): Column = {
    register(spark); call_function("graft_minhash_bands", text, lit(k))
  }
  def simhashCol(spark: SparkSession)(tokens: Column): Column = {
    register(spark); call_function("graft_simhash", tokens)
  }
  def shingleJaccardCol(spark: SparkSession)(a: Column, b: Column, k: Int): Column = {
    register(spark); call_function("graft_shingle_jaccard", a, b, lit(k))
  }
  def gramStreamCol(spark: SparkSession)(text: Column): Column = {
    register(spark); call_function("graft_gram_stream", text)
  }
  def wordNgramsCol(spark: SparkSession)(text: Column, n: Int, distinct: Boolean): Column = {
    register(spark); call_function("graft_word_ngrams", text, lit(n), lit(distinct))
  }
  def tokenCountsCol(spark: SparkSession)(text: Column): Column = {
    register(spark); call_function("graft_token_counts", text)
  }

  private[expressions] def requireFoldableInt(e: Expression, name: String): TypeCheckResult =
    if (e.foldable && e.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name expects a literal INT k, got ${e.dataType.simpleString}")
}

/** `graft_minhash_bands(text, k)` → ARRAY<BIGINT> of 8 LSH band hashes. */
case class MinHashBands(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a STRING text, got ${left.dataType.simpleString}")
    else TextSignatures.requireFoldableInt(right, prettyName)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  override protected def nullSafeEval(t: Any, k: Any): Any =
    TextSignatures.minhashBands(t.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) =>
      s"graft.expressions.TextSignatures.minhashBands($t, $k)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinHashBands =
    copy(left = l, right = r)
}

/** `graft_simhash(tokens)` → BIGINT 64-bit SimHash signature. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING> tokens, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(tokens: Any): Any =
    TextSignatures.simhash(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expressions.TextSignatures.simhash($t)")

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** `graft_shingle_jaccard(a, b, k)` → DOUBLE exact k-shingle Jaccard. */
case class ShingleJaccard(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType || second.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects two STRING texts")
    else TextSignatures.requireFoldableInt(third, prettyName)

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_shingle_jaccard"

  override protected def nullSafeEval(a: Any, b: Any, k: Any): Any =
    TextSignatures.shingleJaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, k) =>
      s"graft.expressions.TextSignatures.shingleJaccard($a, $b, $k)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): ShingleJaccard =
    copy(first = a, second = b, third = c)
}

/** `graft_gram_stream(text)` → ARRAY<STRUCT<fam TINYINT, g STRING>> — every
  * token occurrence (fam=0), the doc's distinct word bigrams (fam=1), and
  * one per-doc marker (fam=2); see [[TextSignatures.gramStream]].
  */
case class GramStream(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING text, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("fam", ByteType, nullable = false),
      StructField("g", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_gram_stream"

  override protected def nullSafeEval(text: Any): Any =
    TextSignatures.gramStream(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expressions.TextSignatures.gramStream($t)")

  override protected def withNewChildInternal(c: Expression): GramStream =
    copy(child = c)
}

/** `graft_word_ngrams(text, n, distinct)` → ARRAY<STRING> — the native
  * one-pass word n-gram generator; see [[TextSignatures.wordNgrams]].
  */
case class WordNgrams(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a STRING text, got ${first.dataType.simpleString}")
    else if (!(third.foldable && third.dataType == BooleanType))
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a literal BOOLEAN distinct flag")
    else TextSignatures.requireFoldableInt(second, prettyName)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_ngrams"

  override protected def nullSafeEval(text: Any, n: Any, distinct: Any): Any =
    TextSignatures.wordNgrams(text.asInstanceOf[UTF8String],
      n.asInstanceOf[Int], distinct.asInstanceOf[Boolean])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n, d) =>
      s"graft.expressions.TextSignatures.wordNgrams($t, $n, $d)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): WordNgrams =
    copy(first = a, second = b, third = c)
}

/** `graft_token_counts(text)` → ARRAY<STRUCT<t STRING, c INT>> — per-doc
  * distinct tokens with occurrence counts; see
  * [[TextSignatures.tokenCounts]].
  */
case class TokenCounts(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING text, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("t", StringType, nullable = false),
      StructField("c", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_token_counts"

  override protected def nullSafeEval(text: Any): Any =
    TextSignatures.tokenCounts(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expressions.TextSignatures.tokenCounts($t)")

  override protected def withNewChildInternal(c: Expression): TokenCounts =
    copy(child = c)
}

/** `graft_word_lines(text, n)` → ARRAY<STRING> — non-overlapping n-token
  * windows rejoined with spaces (boilerplate "lines"); see
  * [[TextSignatures.wordLines]].
  */
case class WordLines(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a STRING text, got ${left.dataType.simpleString}")
    else TextSignatures.requireFoldableInt(right, prettyName)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_lines"

  override protected def nullSafeEval(text: Any, n: Any): Any =
    TextSignatures.wordLines(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) =>
      s"graft.expressions.TextSignatures.wordLines($t, $n)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression): WordLines =
    copy(left = a, right = b)
}

/** `graft_term_tfs(text, terms)` → STRUCT<dl BIGINT, tfs ARRAY<INT>> — doc
  * length + per-term exact-match frequencies for a fixed term set; see
  * [[TextSignatures.termTfs]].
  */
/** `graft_word_bigrams(text)` → ARRAY<STRUCT<w1 STRING, w2 STRING>> —
  * consecutive token pairs; see [[TextSignatures.wordBigrams]].
  */
case class WordBigrams(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING text, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_word_bigrams"

  override protected def nullSafeEval(text: Any): Any =
    TextSignatures.wordBigrams(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expressions.TextSignatures.wordBigrams($t)")

  override protected def withNewChildInternal(c: Expression): WordBigrams =
    copy(child = c)
}

case class TermTfs(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a STRING text, got ${left.dataType.simpleString}")
    else right.dataType match {
      case ArrayType(StringType, _) if right.foldable => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a literal ARRAY<STRING> term set")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("dl", LongType, nullable = false),
    StructField("tfs", ArrayType(IntegerType, containsNull = false), nullable = false)))
  override def prettyName: String = "graft_term_tfs"

  override protected def nullSafeEval(text: Any, terms: Any): Any =
    TextSignatures.termTfs(text.asInstanceOf[UTF8String], terms.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, ts) =>
      s"graft.expressions.TextSignatures.termTfs($t, $ts)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression): TermTfs =
    copy(left = a, right = b)
}

/** `graft_word_chunks(text, c, s)` → ARRAY<STRUCT<t STRING, n INT>> —
  * strided c-token windows with per-window token counts; see
  * [[TextSignatures.wordChunks]].
  */
case class WordChunks(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a STRING text, got ${first.dataType.simpleString}")
    else TextSignatures.requireFoldableInt(second, prettyName) match {
      case TypeCheckResult.TypeCheckSuccess =>
        TextSignatures.requireFoldableInt(third, prettyName)
      case fail => fail
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("t", StringType, nullable = false),
      StructField("n", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_word_chunks"

  override protected def nullSafeEval(text: Any, c: Any, s: Any): Any =
    TextSignatures.wordChunks(text.asInstanceOf[UTF8String],
      c.asInstanceOf[Int], s.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, c, s) =>
      s"graft.expressions.TextSignatures.wordChunks($t, $c, $s)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): WordChunks =
    copy(first = a, second = b, third = c)
}
