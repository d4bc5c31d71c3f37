package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word n-grams of a token array on the codegen path. Spark's
  * higher-order array functions express the same windows
  * (`zip_with`/`slice`/`filter`) but are CodegenFallback, interpreted
  * per element; ShingleKernelsSpec keeps that form as the oracle.
  *
  * Output, value-identical to the higher-order form on every input:
  *  - every window of `n` consecutive NON-NULL tokens, joined by one
  *    space, in order (a window containing a null token is dropped);
  *  - fewer than `n` tokens: the single element `concat_ws(" ", tokens)`
  *    (null tokens skipped), so short documents still yield a shingle;
  *  - null array: null.
  *
  * `doGenCode` emits a static call into [[WordNGrams.grams]]: one pass
  * over the tokens, one byte copy per gram, no lambda dispatch.
  */
case class WordNGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams needs an array<string> input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any = WordNGrams.grams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.WordNGrams.grams($t, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordNGrams {
  private val Space = UTF8String.fromString(" ")

  def apply(tokens: Column, n: Int): Column =
    GraftSqlBridge.column(WordNGrams(GraftSqlBridge.expression(tokens), n))

  /** Static entry point shared by interpreted eval and generated code. */
  def grams(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    val t = new Array[UTF8String](len) // null where the token is null
    var i = 0
    while (i < len) {
      if (!toks.isNullAt(i)) t(i) = toks.getUTF8String(i)
      i += 1
    }
    if (len < n) return new GenericArrayData(Array[Any](UTF8String.concatWs(Space, t: _*)))
    val out = new Array[Any](len - n + 1)
    var count = 0
    var run = 0 // consecutive non-null tokens ending at i
    i = 0
    while (i < len) {
      if (t(i) == null) run = 0
      else {
        run += 1
        if (run >= n) {
          out(count) = join(t, i - n + 1, n)
          count += 1
        }
      }
      i += 1
    }
    new GenericArrayData(if (count == out.length) out else out.take(count))
  }

  private def join(t: Array[UTF8String], from: Int, n: Int): UTF8String = {
    var bytes = n - 1
    var j = from
    while (j < from + n) { bytes += t(j).numBytes(); j += 1 }
    val buf = new Array[Byte](bytes)
    var pos = 0
    j = from
    while (j < from + n) {
      if (j > from) { buf(pos) = ' '; pos += 1 }
      t(j).writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
      pos += t(j).numBytes()
      j += 1
    }
    UTF8String.fromBytes(buf)
  }
}

/** k MinHash values of a string array (Broder, "On the resemblance and
  * containment of documents", 1997): element i is the minimum over the
  * array's elements of Spark's `xxhash64(s, i)` — exactly what
  * `min(xxhash64(s, lit(i)))` over the exploded array aggregates, as a
  * per-row `array<bigint>` instead of a per-element shuffle input.
  *
  * `xxhash64(s, i)` chains its inputs through the seed: the string is
  * hashed with the default seed 42, and that hash seeds the int hash of
  * i (a null element is skipped, so it contributes `hashInt(i, 42)`).
  * The kernel hashes each string ONCE, then does k cheap int hashes.
  * An empty array has no minimum and yields null, like an empty group;
  * a null array yields null.
  */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"signature size must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature needs an array<string> input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.signature(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |${ev.value} = graft.functions.MinHashSignature.signature($s, $k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  private final val Seed = 42L // Spark's xxhash64 seed

  def apply(shingles: Column, k: Int): Column =
    GraftSqlBridge.column(MinHashSignature(GraftSqlBridge.expression(shingles), k))

  /** Static entry point shared by interpreted eval and generated code. */
  def signature(sh: ArrayData, k: Int): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val base = if (sh.isNullAt(j)) Seed else XXH64.hashUTF8String(sh.getUTF8String(j), Seed)
      var i = 0
      while (i < k) {
        val h = XXH64.hashInt(i, base)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}
