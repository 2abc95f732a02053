package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel shared by [[WordNgrams]]'s eval and codegen — the
  * eval/codegen-parity-by-construction pattern of DecimalVecOps. */
object TextOps {
  /** Word n-grams of a single-space-tokenized string, joined by single
    * spaces. Tokenization parity with `split(text, " ")` (java regex,
    * limit -1): consecutive spaces yield empty tokens, leading/trailing
    * empties kept. Strings with fewer than n tokens → empty array. */
  def wordNgrams(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    // literal-space split == regex " " with limit -1
    var nTok = 1
    var i = 0
    while (i < str.length) { if (str.charAt(i) == ' ') nTok += 1; i += 1 }
    val toks = new Array[String](nTok)
    var start = 0; var t = 0
    i = 0
    while (i < str.length) {
      if (str.charAt(i) == ' ') { toks(t) = str.substring(start, i); t += 1; start = i + 1 }
      i += 1
    }
    toks(t) = str.substring(start)
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nTok - n + 1)
    val sb = new java.lang.StringBuilder
    var g = 0
    while (g <= nTok - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(g + k))
        k += 1
      }
      out(g) = UTF8String.fromString(sb.toString)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Character n-grams by Unicode code point — the fused kernel behind
    * [[CharNgrams]]. Exactly the `transform(sequence(1, len−n+1),
    * i => substr(text, i, n))` combinator: `length`/`substr` count code
    * points (UTF8String char semantics), a string shorter than n yields
    * the empty array. One boundary walk builds the per-char byte
    * offsets, then every gram is a zero-scan byte slice — the lambda
    * form re-ran `substringSQL`'s from-the-start scan per element
    * (O(chars²) per document) in interpreted CodegenFallback. */
  def charNgrams(s: UTF8String, n: Int): ArrayData = {
    val b = s.getBytes
    val nb = b.length
    // one pass: code-point boundary byte offsets
    var count = 0
    var i = 0
    while (i < nb) {
      i += UTF8String.numBytesForFirstByte(b(i))
      count += 1
    }
    if (count < n) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](count + 1)
    i = 0; var c = 0
    while (i < nb) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(b(i))
      c += 1
    }
    offs(count) = nb
    val out = new Array[Any](count - n + 1)
    var g = 0
    while (g <= count - n) {
      out(g) = UTF8String.fromBytes(b, offs(g), offs(g + n) - offs(g))
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Unicode canonical composition; already-NFC strings (the common
    * case) short-circuit without allocating. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Unicode NFC normalization — canonical composition (é as one code
  * point, not e + combining accent), the prerequisite of any
  * text-equality operation (exact dedup, n-gram overlap) on real-world
  * corpora: visually identical strings with different code-point
  * sequences must hash identically. Spark has no builtin for it; DuckDB
  * exposes `nfc_normalize`, which this matches (both implement Unicode
  * canonical composition), making the pass oracle-checkable. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def prettyName: String = "nfc_normalize"
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects string, got ${other.simpleString}")
    }

  override def nullSafeEval(a: Any): Any =
    TextOps.nfc(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      s"""
         |${ev.value} = graft.functions.TextOps.nfc($x);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object WinnowOps {
  /** Winnowing window minima over a hash array: min of every `window`
    * consecutive hashes (positions 0..max(n-window,0)), deduplicated in
    * first-occurrence order — element-for-element identical to
    * `array_distinct(transform(sequence(...), i => array_min(slice(h,
    * i+1, window))))` (the lambda reference form, parity-spec-pinned).
    * Arrays shorter than the window yield their single overall min. */
  def winnowMins(arr: ArrayData, window: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val positions = math.max(n - window, 0) + 1
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < positions) {
      var m = arr.getLong(i)
      var k = i + 1
      val end = math.min(i + window, n)
      while (k < end) {
        val v = arr.getLong(k)
        if (v < m) m = v
        k += 1
      }
      seen.add(m)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }
}

/** Native winnowing kernel — one fused sliding-min pass per document.
  *
  * The lambda reference form allocates a fresh `slice` array and scans it
  * with `array_min` PER POSITION, interpreted (higher-order functions are
  * CodegenFallback): O(tokens × window) allocations per document, the
  * dominant cost of the winnowing-overlap pass at corpus scale. This
  * expression computes all window minima in one allocation-free loop.
  */
case class WinnowMins(child: Expression, window: Int) extends UnaryExpression {
  require(window >= 1, s"window=$window must be >= 1")

  override def prettyName: String = "winnow_mins"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<bigint>, got ${other.simpleString}")
    }

  override def nullSafeEval(a: Any): Any =
    WinnowOps.winnowMins(a.asInstanceOf[ArrayData], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      s"""
         |${ev.value} = graft.functions.WinnowOps.winnowMins($x, $window);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Native word-n-gram expression — the corpus-wide hot loop of every
  * shingling stage (MinHash/SimHash dedup, n-gram Jaccard, bigram LM).
  *
  * The combinator form (`transform(sequence(...), i => concat_ws(" ",
  * element_at(split(text), ...)))`) is a higher-order lambda —
  * CodegenFallback — and, worse, the interpreter re-evaluates the
  * `split(text)` subtree for EVERY emitted gram element: tokenizing one
  * document costs O(tokens²) characters (found while profiling q66 —
  * the bigram model over a 270k-token corpus spent seconds splitting).
  * This expression tokenizes once per row and emits all grams in one
  * fused pass; output is element-for-element identical to the lambda
  * form (spec-pinned), which is retained as
  * `KernelReferences.wordNgrams` in the test sources for the parity spec.
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n=$n must be >= 1")

  override def prettyName: String = "word_ngrams"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects string, got ${other.simpleString}")
    }

  override def nullSafeEval(a: Any): Any =
    TextOps.wordNgrams(a.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      s"""
         |${ev.value} = graft.functions.TextOps.wordNgrams($x, $n);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Native character-n-gram expression — the per-document hot loop of
  * the trained-langid family (profile training, classify, the q365
  * per-batch monitor).
  *
  * The combinator form (`transform(sequence(1, len−n+1), i =>
  * substr(text, i, n))`) is a higher-order lambda — CodegenFallback —
  * and each interpreted `substr` re-scans the string from its start to
  * find the code-point boundary: one document costs O(chars²). This
  * expression walks the boundaries once and emits every gram as a byte
  * slice; output is element-for-element identical to the lambda form
  * (spec-pinned), which is retained as
  * `KernelReferences.charNgrams` in the test sources for the parity
  * spec. */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n=$n must be >= 1")

  override def prettyName: String = "char_ngrams"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects string, got ${other.simpleString}")
    }

  override def nullSafeEval(a: Any): Any =
    TextOps.charNgrams(a.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      s"""
         |${ev.value} = graft.functions.TextOps.charNgrams($x, $n);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object TextFunctions {
  def wordNgrams(text: Column, n: Int): Column =
    ColumnBridge.column(WordNgrams(ColumnBridge.expression(text), n))
  def charNgrams(text: Column, n: Int): Column =
    ColumnBridge.column(CharNgrams(ColumnBridge.expression(text), n))
  def winnowMins(hashes: Column, window: Int): Column =
    ColumnBridge.column(WinnowMins(ColumnBridge.expression(hashes), window))
  def nfcNormalize(text: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))
}
