package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.functions.{call_function, typedLit}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, MapType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native in-row holdout probe: true iff one of the document's 3-word
  * shingles is in its language's holdout shingle set.
  *
  * The built-in formulation — a `split` → `transform(sequence(…),
  * lambda)` shingle array (`ArrayTransform` is a `CodegenFallback`, so
  * the lambda runs interpreted per shingle) → `array_distinct` →
  * `arrays_overlap` against the language's set, reached through a
  * broadcast lang join (one broadcast job per stream epoch) — is
  * TwinAndPropertySpec's reference. This expression does the same test
  * in one pass over the text's bytes with one hash probe per window,
  * stopping at the first hit; the twins pin equality on the corpus and
  * on tokenization edge cases:
  *  - words are split on every single ' ' byte, keeping empty words, as
  *    `split(text, ' ')` does (0x20 never occurs inside a multibyte
  *    UTF-8 sequence), so a shingle is exactly the byte slice from word
  *    i through word i+2 and is probed as a zero-copy slice;
  *  - a text of fewer than 3 words has no shingles;
  *  - a null text, a null language, or a language absent from the
  *    holdout is no hit (the row is kept); null holdout shingles match
  *    nothing.
  *
  * SQL shape: holdout_hit(text, lang, holdout) where holdout is a
  * FOLDABLE map<string, array<string>> literal (the driver-collected
  * per-language sets, the [[PqEncode]] precedent): a literal keeps the
  * expression a pure function of its children and rides the stage's
  * task binary, shipped once per stage. The sets are extracted once per
  * expression instance into hash sets of `UTF8String`. The plan prints
  * a size summary in place of the literal, because the SQL status
  * store keeps every streaming epoch's plan description.
  */
case class HoldoutHit(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val holdoutOk = third.dataType match {
      case MapType(StringType, ArrayType(StringType, _), _) => third.foldable
      case _ => false
    }
    if (first.dataType == StringType && second.dataType == StringType && holdoutOk)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        "holdout_hit expects (string, string, foldable map<string, array<string>>), got (" +
          s"${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString})")
  }

  override def dataType: DataType = BooleanType

  override def nullable: Boolean = false

  override def prettyName: String = "holdout_hit"

  /** lang → its holdout shingles, extracted once from the literal. */
  @transient private lazy val sets: java.util.HashMap[UTF8String, java.util.HashSet[UTF8String]] = {
    val m = third.eval(null).asInstanceOf[MapData]
    val out = new java.util.HashMap[UTF8String, java.util.HashSet[UTF8String]]()
    if (m != null) {
      val (langs, shingles) = (m.keyArray(), m.valueArray())
      var i = 0
      while (i < m.numElements()) {
        val set = new java.util.HashSet[UTF8String]()
        if (!shingles.isNullAt(i)) {
          val a = shingles.getArray(i)
          var j = 0
          while (j < a.numElements()) {
            if (!a.isNullAt(j)) set.add(a.getUTF8String(j))
            j += 1
          }
        }
        out.put(langs.getUTF8String(i), set)
        i += 1
      }
    }
    out
  }

  /** The probe — also the generated code's body. */
  def hit(text: UTF8String, lang: UTF8String): Boolean = {
    val set = sets.get(lang)
    if (set == null || set.isEmpty) return false
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    // start0..start2: starts of the last three words seen; `words`
    // counts the words ended so far
    var start0, start1, start2 = 0
    var words = 0
    var p = 0
    while (p <= n) {
      if (p == n || Platform.getByte(base, off + p) == ' ') {
        words += 1
        if (words >= 3 && set.contains(UTF8String.fromAddress(base, off + start0, p - start0)))
          return true
        start0 = start1; start1 = start2; start2 = p + 1
      }
      p += 1
    }
    false
  }

  override def eval(input: InternalRow): Any = {
    val lang = second.eval(input)
    if (lang == null) false
    else {
      val text = first.eval(input)
      text != null && hit(text.asInstanceOf[UTF8String], lang.asInstanceOf[UTF8String])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val self = ctx.addReferenceObj("holdoutHit", this, classOf[HoldoutHit].getName)
    val text = first.genCode(ctx)
    val lang = second.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code =
      code"""
        ${text.code}
        ${lang.code}
        boolean ${ev.value} = !${text.isNull} && !${lang.isNull} &&
          $self.hit(${text.value}, ${lang.value});
      """)
  }

  override def toString: String = {
    var n = 0L
    sets.values().forEach(s => n += s.size)
    s"$prettyName($first, $second, <holdout: ${sets.size} langs, $n shingles>)"
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): HoldoutHit =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object HoldoutHit {
  /** Column API over DRIVER-COLLECTED per-language holdout shingle sets.
    * Requires a session built with [[GraftExtensions]]. */
  def holdout_hit(text: Column, lang: Column, holdout: Map[String, Seq[String]]): Column =
    call_function("holdout_hit", text, lang, typedLit(holdout))
}
