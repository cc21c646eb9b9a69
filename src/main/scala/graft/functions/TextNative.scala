package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen twins of the interpreted text-pipeline column chains.
  *
  * `TextOps.tokens` / `TextOps.shingles` / `Dedup.minhashSignature` were
  * built from higher-order functions (`filter`, `transform`, `aggregate`) —
  * Spark evaluates HOF lambdas interpreted, with per-element closure
  * invocation and allocation. These run on EVERY row of the corpus in the
  * dedup pipelines, so they are rewritten as single-pass native Expressions.
  * Each is bit-identical to its HOF twin (asserted in NativeExprSpec against
  * the retained formulations, on real multilingual testdata):
  *
  *  - [[WhitespaceTokens]] ≡ `filter(split(lower(text), "\s+"), len > 0)`
  *    — Spark's own `UTF8String.toLowerCase` / `.split` do the work, one
  *    non-empty filter pass, no lambda dispatch.
  *  - [[WordShingles]]     ≡ `TextOps.shingles(text, n)` (distinct word
  *    n-grams; whole-text shingle for docs shorter than n tokens).
  *  - [[MinHashSig]]       ≡ `Dedup.minhashSignature(shingles, k)`, with the
  *    algebraic win that `xxhash64(shingle, i)` factors into
  *    `hashInt(i, hashUTF8String(shingle, 42))` — the shingle's bytes are
  *    hashed ONCE and reused across all k slots (the HOF re-hashed the
  *    string k times).
  */
case class WhitespaceTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"whitespace_tokens needs string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextNative.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.tokens($c)")

  override protected def withNewChildInternal(newChild: Expression): WhitespaceTokens =
    copy(child = newChild)
  override def prettyName: String = "whitespace_tokens"
}

case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"word_shingles needs string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextNative.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

/** Per-band hashes of a MinHash signature: output[b] = XXH64 fold of the
  * signature slice [b·rows, (b+1)·rows). Replaces the interpreted
  * `xxhash64(to_json(slice(sig, …)))` chain — band blocking only needs A
  * deterministic hash of the slice (candidates are exact-verified
  * downstream), so this is free to use the cheapest one: no JSON string
  * materializes per band per row. */
case class BandHashes(child: Expression, bands: Int, rows: Int) extends UnaryExpression {
  require(bands >= 1 && rows >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"band_hashes needs array<long>, got $t")
    }

  override def nullSafeEval(input: Any): Any =
    TextNative.bandHashes(input.asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.bandHashes($c, $bands, $rows)")

  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
  override def prettyName: String = "band_hashes"
}

/** Adjacent-token bigram pairs of a string: (w1, w2) structs, w1 NULL for
  * the head token — every token appears exactly once as a w2. Native twin
  * of `LangModel.bigramsOf(TextOps.tokens(text))`, whose HOF form has a
  * performance landmine the 10M-doc LM probe caught (BASELINE.md §Round-4
  * LM perplexity-filter probe): `transform`'s lambda is interpreted and its
  * `tokens(text)` subtree is NOT common-subexpression eliminated, so the
  * tokenizer re-ran per ELEMENT — O(len²) per doc. Here
  * the text tokenizes once and the struct array builds in one pass. */
case class BigramPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = true),
      StructField("w2", StringType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bigram_pairs needs string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextNative.bigramPairs(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.bigramPairs($c)")

  override protected def withNewChildInternal(newChild: Expression): BigramPairs =
    copy(child = newChild)
  override def prettyName: String = "bigram_pairs"
}

case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1 && numHashes <= 1024)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig needs array<string>, got $t")
    }

  override def nullSafeEval(input: Any): Any =
    TextNative.minhashSig(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.minhashSig($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

object TextNative {
  private val WsPattern = UTF8String.fromString("\\s+")
  private val Space = UTF8String.fromString(" ")
  final val Seed = 42L // Spark xxhash64() default seed

  /** Static so generated code can call it. Identical to
    * `filter(split(lower(text), "\s+"), t => length(t) > 0)`: Spark's Lower
    * and StringSplit call these same UTF8String methods. */
  def tokens(text: UTF8String): ArrayData = {
    val parts = text.toLowerCase.split(WsPattern, -1)
    var nonEmpty = 0
    var i = 0
    while (i < parts.length) { if (parts(i).numBytes() > 0) nonEmpty += 1; i += 1 }
    val out = new Array[AnyRef](nonEmpty)
    var o = 0
    i = 0
    while (i < parts.length) {
      if (parts(i).numBytes() > 0) { out(o) = parts(i); o += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word n-gram shingles; docs shorter than n tokens collapse to
    * one whole-text shingle (matching `TextOps.shingles` exactly, including
    * the "" shingle for an empty doc). First-occurrence order, like
    * `array_distinct`. */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val toksAd = tokens(text)
    val nt = toksAd.numElements()
    val toks = new Array[UTF8String](nt)
    var i = 0
    while (i < nt) { toks(i) = toksAd.getUTF8String(i); i += 1 }
    if (nt < n) {
      val joined = UTF8String.concatWs(Space, toks: _*)
      return new GenericArrayData(Array[AnyRef](joined))
    }
    val seen = new java.util.LinkedHashSet[UTF8String](nt * 2)
    i = 0
    while (i <= nt - n) {
      val slice = new Array[UTF8String](n)
      var j = 0
      while (j < n) { slice(j) = toks(i + j); j += 1 }
      seen.add(UTF8String.concatWs(Space, slice: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }

  /** Static so generated code can call it. One tokenization, one pass:
    * n tokens → n (w1, w2) structs — (null, t0), (t0, t1), …; empty text
    * (zero tokens) → empty array. */
  def bigramPairs(text: UTF8String): ArrayData = {
    val toksAd = tokens(text)
    val nt = toksAd.numElements()
    if (nt == 0) return new GenericArrayData(new Array[AnyRef](0))
    val out = new Array[AnyRef](nt)
    var prev: UTF8String = null
    var i = 0
    while (i < nt) {
      val cur = toksAd.getUTF8String(i)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](prev, cur))
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature: slot i = min over shingles of xxhash64(shingle, i).
    * Each shingle's bytes hash once (`hashUTF8String(s, 42)`); the k slot
    * variants are cheap `hashInt` folds of that base — algebraically equal
    * to Spark's multi-arg xxhash64 chaining, verified bit-identical. Empty
    * input yields all-null slots, matching `array_min` over empty. */
  def minhashSig(shingles: ArrayData, numHashes: Int): ArrayData = {
    val ns = shingles.numElements()
    if (ns == 0) return new GenericArrayData(new Array[AnyRef](numHashes))
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var s = 0
    while (s < ns) {
      // null shingles cannot occur (tokens/shingles emit non-null), but a
      // null element in a user-supplied array keeps the running hash at the
      // seed — exactly Spark's XxHash64 semantics
      val base = if (shingles.isNullAt(s)) Seed
        else XXH64.hashUTF8String(shingles.getUTF8String(s), Seed)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashInt(i, base)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      s += 1
    }
    new GenericArrayData(mins.map(Long.box(_): AnyRef))
  }

  /** Static so generated code can call it. Null slots (empty-signature
    * sentinel) fold as the seed, like Spark's null-skipping hash chain. */
  def bandHashes(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Seed
      var j = b * rows
      val end = math.min(j + rows, sig.numElements())
      while (j < end) {
        if (!sig.isNullAt(j)) h = XXH64.hashLong(sig.getLong(j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out.map(Long.box(_): AnyRef))
  }

  def whitespace_tokens(text: Column): Column =
    ColumnBridge.toColumn(WhitespaceTokens(ColumnBridge.toExpr(text)))
  def word_shingles(text: Column, n: Int): Column =
    ColumnBridge.toColumn(WordShingles(ColumnBridge.toExpr(text), n))
  def bigram_pairs(text: Column): Column =
    ColumnBridge.toColumn(BigramPairs(ColumnBridge.toExpr(text)))
  def minhash_sig(shingles: Column, numHashes: Int): Column =
    ColumnBridge.toColumn(MinHashSig(ColumnBridge.toExpr(shingles), numHashes))
  def band_hashes(sig: Column, bands: Int, rows: Int): Column =
    ColumnBridge.toColumn(BandHashes(ColumnBridge.toExpr(sig), bands, rows))
}

/** Expression-level composed text chains shared by the Scala API
  * ([[graft.ops.TextOps.extractHtmlText]]/[[graft.ops.TextOps.normalizeText]])
  * and the SQL registrations in [[GraftExtensions]] — ONE definition, two
  * surfaces. Built from Spark's own codegen'd string expressions
  * (RegExpReplace / StringReplace / StringTranslate / Lower / StringTrim),
  * the exact operators the functions-API chain analyzes to — a registry
  * builder must return RESOLVABLE catalyst nodes, which the Spark-4
  * Column-node functions API no longer yields directly. */
object ComposedText {
  import org.apache.spark.sql.catalyst.expressions.{Literal, Lower,
    RegExpReplace, StringReplace, StringTranslate, StringTrim}

  private def rr(c: Expression, p: String, r: String): Expression =
    RegExpReplace(c, Literal(p), Literal(r))

  /** The P40 HTML→text chain over `entities`
    * ([[graft.ops.TextOps.htmlEntities]]). */
  def htmlExtract(child: Expression,
                  entities: Seq[(String, String)]): Expression = {
    val noComments = rr(child, "(?s)<!--.*?-->", " ")
    val noScript = rr(rr(noComments,
      "(?is)<script[^>]*>.*?</script[^>]*>", " "),
      "(?is)<script[^>]*>.*$", " ")
    val noStyle = rr(rr(noScript,
      "(?is)<style[^>]*>.*?</style[^>]*>", " "),
      "(?is)<style[^>]*>.*$", " ")
    val noTags = rr(noStyle, "(?s)<[^>]*>", " ")
    val decoded = entities.foldLeft(noTags) { case (c, (f, t)) =>
      StringReplace(c, Literal(f), Literal(t))
    }
    StringTrim(rr(decoded, "\\s+", " "))
  }

  /** The P36 normalization chain over the fixed accent table. */
  def normalize(child: Expression, from: String, to: String): Expression =
    StringTrim(rr(rr(Lower(StringTranslate(child, Literal(from), Literal(to))),
      "[\\x00-\\x1f\\x7f]", " "), "\\s+", " "))
}
