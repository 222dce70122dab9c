package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen'd expression — the first
  * cleaning step a multilingual corpus pipeline runs (decomposed
  * accents, compatibility forms, and platform-dependent encodings all
  * collapse to one canonical byte sequence, so exact dedup and shingle
  * hashing see ONE representation of the same text).
  *
  * Spark has no built-in NFC function; the alternatives are a Scala UDF
  * (per-row boxing, opaque to the optimizer) or this: a one-node
  * expression whose eval and codegen share a static call into
  * `java.text.Normalizer`, with an isNormalized fast path so the common
  * already-clean row costs one scan and zero allocation. Registered with
  * the SQL function registry as `nfc_normalize` (GraftExtensions) — the
  * same name DuckDB uses, which is what lets q120's oracle replay the
  * IDENTICAL computation.
  */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalizeExpr.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.NfcNormalizeExpr.normalize($v)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
}

object NfcNormalizeExpr {
  /** Shared by eval and codegen. Fast path: already-NFC input returns the
    * same UTF8String, no copy — the overwhelmingly common case in an
    * already-clean corpus. */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Per-document text statistics in ONE pass over the UTF-8 bytes, as a
  * native codegen'd expression returning a struct of INT counts:
  *
  *  - `n_tokens`: 0x20 bytes + 1 — `size(split(text, ' '))`, empty and
  *    leading/trailing tokens included (`''` has one token);
  *  - `n_subwords`: matches of `[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]` — one per
  *    letter run, one per digit run, one per other non-space code point;
  *  - `n_chars`: code points as `length()` counts them;
  *  - `n_alpha`: ASCII letters;
  *  - `hits_k`: space-delimited tokens byte-equal to a member of
  *    `wordSets(k)` (case-sensitive, as `IN` on the split tokens).
  *
  * Why one node: Column forms split or regex-scan the text once per
  * metric, and a `filter(split(..), lambda)` count runs interpreted and
  * keeps the whole projection out of whole-stage codegen. The metric
  * functions in [[TextFunctions]] are field reads of one canonical
  * instance, which subexpression elimination evaluates once per projected
  * row: no decode to a Java String, no token array, no regex. Null text
  * yields a null struct.
  */
case class TextStatsExpr(child: Expression, wordSets: Seq[Seq[String]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString}")
  }

  override def dataType: DataType = StructType(
    (TextStatsExpr.CountFields ++ wordSets.indices.map(TextStatsExpr.hitsField))
      .map(StructField(_, IntegerType, nullable = false)))
  override def prettyName: String = "text_stats"

  @transient private lazy val words: Array[Array[Array[Byte]]] =
    TextStatsExpr.encode(wordSets)

  override protected def nullSafeEval(input: Any): Any =
    TextStatsExpr.stats(input.asInstanceOf[UTF8String], words)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("textStatsWords", words, "byte[][][]")
    defineCodeGen(ctx, ev, v => s"graft.functions.TextStatsExpr.stats($v, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextStatsExpr =
    copy(child = newChild)
}

object TextStatsExpr {
  val CountFields: Seq[String] = Seq("n_tokens", "n_subwords", "n_chars", "n_alpha")
  def hitsField(k: Int): String = s"hits_$k"

  /** Word sets as UTF-8 bytes, duplicates within a set dropped (a token
    * counts once per set it belongs to). */
  private def encode(wordSets: Seq[Seq[String]]): Array[Array[Array[Byte]]] =
    wordSets.map(_.distinct.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray)
      .toArray

  /** Shared by eval and codegen: the single byte loop. */
  def stats(s: UTF8String, words: Array[Array[Array[Byte]]]): InternalRow = {
    val n = s.numBytes()
    var tokens = 1
    var subwords = 0
    var chars = 0
    var alpha = 0
    val hits = new Array[Int](words.length)
    var nextChar = 0 // byte offset of the next code point start
    var tokStart = 0
    var run = 0 // class of the current letter/digit run: 0 none, 1 letters, 2 digits
    var i = 0
    while (i <= n) {
      val b = if (i < n) s.getByte(i) else ' '.toByte
      if (b == ' ') {
        countHits(s, tokStart, i - tokStart, words, hits)
        if (i < n) tokens += 1
        tokStart = i + 1
        run = 0
      } else if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) {
        alpha += 1
        if (run != 1) { subwords += 1; run = 1 }
      } else if (b >= '0' && b <= '9') {
        if (run != 2) { subwords += 1; run = 2 }
      } else if (i >= nextChar) {
        subwords += 1
        run = 0
      }
      if (i < n && i >= nextChar) {
        chars += 1
        nextChar = i + UTF8String.numBytesForFirstByte(b)
      }
      i += 1
    }
    val row = new Array[Any](CountFields.length + hits.length)
    row(0) = tokens; row(1) = subwords; row(2) = chars; row(3) = alpha
    var k = 0
    while (k < hits.length) { row(CountFields.length + k) = hits(k); k += 1 }
    new GenericInternalRow(row)
  }

  private def countHits(s: UTF8String, from: Int, len: Int,
                        words: Array[Array[Array[Byte]]], hits: Array[Int]): Unit = {
    var k = 0
    while (k < words.length) {
      val set = words(k)
      var w = 0
      var found = false
      while (!found && w < set.length) {
        val word = set(w)
        if (word.length == len) {
          var j = 0
          while (j < len && s.getByte(from + j) == word(j)) j += 1
          found = j == len
        }
        w += 1
      }
      if (found) hits(k) += 1
      k += 1
    }
  }
}
