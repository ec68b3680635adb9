package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the `n`-word shingles of a text, each window
  * of `n` consecutive tokens joined by one space, in document order —
  * first occurrences only when `distinct`. Tokens are the text split on
  * single spaces, as `split(text, " ")` gives them (empty tokens kept), so
  * the values equal `array_join(slice(split(text, " "), i, n), " ")` for
  * every window i, element for element. Texts with fewer than `n` tokens,
  * and NULL texts, give an empty array. One split per row and one copy per
  * window, where the higher-order `transform(sequence(…), slice(…))`
  * formulation re-splits the whole text for every window in interpreted
  * code: linear in document length instead of quadratic.
  */
case class WordShingles(text: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 0, s"shingle length must be non-negative (got $n)")

  override def child: Expression = text
  override def checkInputDataTypes(): TypeCheckResult = TextKernels.stringInput(text, prettyName)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_word_shingles"

  override def eval(input: InternalRow): Any =
    TextKernels.wordShingles(text.eval(input).asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = text.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${TextKernels.Name}.wordShingles(
        ${t.isNull} ? null : ${t.value}, $n, $distinct);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(text = newChild)
}

/** Native Catalyst expression: the in-row MinHash signature of a text's
  * distinct `n`-word shingles ([[WordShingles]]). One MD5 per distinct
  * shingle over its UTF-8 bytes; x is the digest's bits 0-59 and y its bits
  * 64-123, each mod [[Dedup.HashModulus]] (the first and second 15 hex
  * digits of the digest); member h of the signature is the minimum over the
  * shingles of (x + h·y) mod [[Dedup.HashModulus]], for h in
  * [0, numHashes). NULL when the text has no shingles. See
  * [[Dedup.minhashArray]] for the hash family and its numHashes cap.
  */
case class MinHashArray(text: Expression, numHashes: Int, n: Int)
    extends UnaryExpression {
  require(n >= 0, s"shingle length must be non-negative (got $n)")

  override def child: Expression = text
  override def checkInputDataTypes(): TypeCheckResult = TextKernels.stringInput(text, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_array"

  override def eval(input: InternalRow): Any =
    TextKernels.minhashArray(text.eval(input).asInstanceOf[UTF8String], numHashes, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = text.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${TextKernels.Name}.minhashArray(
        ${t.isNull} ? null : ${t.value}, $numHashes, $n);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashArray =
    copy(text = newChild)
}

/** The static helpers behind [[WordShingles]] and [[MinHashArray]]; their
  * generated code calls these. */
object TextKernels {
  private[functions] val Name = "graft.functions.TextKernels"

  private[functions] def stringInput(text: Expression, name: String): TypeCheckResult =
    if (text.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name expects a STRING argument, got ${text.dataType.sql}")

  private val Space = UTF8String.fromString(" ")
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def wordShingles(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val w = windows(text, n)
    new GenericArrayData((if (distinct) firstOccurrences(w) else w).asInstanceOf[Array[Any]])
  }

  def minhashArray(text: UTF8String, numHashes: Int, n: Int): ArrayData = {
    val sh = firstOccurrences(windows(text, n))
    if (sh.isEmpty) return null
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val m = md5.get()
    sh.foreach { s =>
      val d = m.digest(s.getBytes)
      val x = (bigEndianLong(d, 0) >>> 4) % Dedup.HashModulus
      val y = (bigEndianLong(d, 8) >>> 4) % Dedup.HashModulus
      var h = 0
      while (h < numHashes) {
        val v = (x + h * y) % Dedup.HashModulus
        if (v < sig(h)) sig(h) = v
        h += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Every `n`-token window of `text`, tokens joined by one space. */
  private def windows(text: UTF8String, n: Int): Array[UTF8String] = {
    if (text == null) return Array.empty
    val toks = text.split(Space, -1).map(_.getBytes)
    val k = toks.length - n + 1
    if (k <= 0) return Array.empty
    val end = toks.scanLeft(0)(_ + _.length)
    Array.tabulate(k) { i =>
      val out = new Array[Byte](end(i + n) - end(i) + math.max(n - 1, 0))
      var at = 0
      var j = i
      while (j < i + n) {
        if (j > i) { out(at) = ' '; at += 1 }
        System.arraycopy(toks(j), 0, out, at, toks(j).length)
        at += toks(j).length
        j += 1
      }
      UTF8String.fromBytes(out)
    }
  }

  /** `w` with later repeats dropped, in order (`array_distinct`'s rule). */
  private def firstOccurrences(w: Array[UTF8String]): Array[UTF8String] = {
    val seen = new java.util.HashSet[UTF8String](w.length * 2)
    w.filter(seen.add)
  }

  private def bigEndianLong(d: Array[Byte], at: Int): Long = {
    var v = 0L
    var i = at
    while (i < at + 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }
}
