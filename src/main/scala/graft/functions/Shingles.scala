package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word k-gram and MinHash kernels over a token array — the
  * shingle layer of the text-dedup operators (`graft.llm.TextOps`,
  * `graft.llm.Dedup`).
  *
  * Why Catalyst Expressions and not the built-in composition or a UDF:
  * the composition `transform(sequence(1, n-k+1), i -> concat_ws(' ',
  * element_at(toks, i), …))` is correct but `ArrayTransform` is a
  * `CodegenFallback`, so every shingle runs through the interpreted
  * lambda path; and MinHash over it needs one row per shingle (explode)
  * plus a shingle-level `min` aggregate. Per the engine's preference order
  * (compose built-ins > native Expression > UDF, see `ArrayDotProduct`)
  * the measured per-shingle cost justifies rung (b): both kernels run
  * inside WholeStageCodegen, read their input array once per row, and a
  * document is hashed in one projection. A UDF would add row
  * (de)serialization and stay opaque to the optimizer for no gain.
  *
  * Both share the k-gram definition of `concat_ws(' ', …)`: gram j joins
  * tokens j..j+k-1 with single spaces, NULL tokens are skipped (no
  * separator for them), empty-string tokens are kept.
  */
object ShingleKernel {

  /** The k-grams of `toks`, in order (empty when NULL or fewer than k
    * tokens).
    */
  def shingles(toks: ArrayData, k: Int): ArrayData = {
    val n = if (toks == null) 0 else toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val window = new Array[UTF8String](k)
    val out = new Array[Any](n - k + 1)
    var j = 0
    while (j < out.length) {
      var t = 0
      while (t < k) {
        window(t) = if (toks.isNullAt(j + t)) null else toks.getUTF8String(j + t)
        t += 1
      }
      out(j) = UTF8String.concatWs(Space, window: _*)
      j += 1
    }
    new GenericArrayData(out)
  }

  private val Space = UTF8String.fromString(" ")

  /** Checks the shared `(array<string>, int literal >= 1)` signature. */
  def checkArgs(name: String, toks: Expression, k: Expression): TypeCheckResult =
    (toks.dataType, k.dataType) match {
      case (ArrayType(_: StringType, _), IntegerType) if k.foldable =>
        val v = k.eval()
        if (v != null && v.asInstanceOf[Int] >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$name requires a second argument >= 1, got $v")
      case (t, kt) => TypeCheckResult.TypeCheckFailure(
        s"$name requires an array<string> and an integer literal, got ${t.sql} and " +
          (if (k.foldable) kt.sql else s"non-literal ${kt.sql}"))
    }
}

/** MinHash signature of one document: for seeds i = 0..n-1, the minimum
  * over its word 3-grams s of `md5("s<i>|" + s)`, as lowercase hex.
  *
  * One instance per task (generated code holds it as mutable state, the
  * interpreted path as a transient field), so the `MessageDigest` and the
  * scratch buffers are reused across rows. Digests are compared as raw
  * bytes, unsigned: lowercase-hex order equals unsigned byte order (both
  * fixed width, '0' < … < '9' < 'a' < … < 'f'), so the minimum digest is
  * the minimum hex string, and hex encoding happens once per seed per
  * document instead of once per hash.
  */
final class MinHasher(n: Int) {
  private val md = MessageDigest.getInstance("MD5")
  private val prefixes = Array.tabulate(n)(i => s"s$i|".getBytes(UTF_8))
  private val mins = new Array[Byte](n * 16)
  private val digest = new Array[Byte](16)
  private var gram = new Array[Byte](256)

  /** The n min-hashes of `toks`' 3-grams; NULL when it is NULL or has
    * fewer than 3 tokens (no shingle, no signature).
    */
  def apply(toks: ArrayData): ArrayData = {
    val len = if (toks == null) 0 else toks.numElements()
    if (len < MinHasher.K) return null
    val bytes = Array.tabulate(len)(t =>
      if (toks.isNullAt(t)) null else toks.getUTF8String(t).getBytes)
    java.util.Arrays.fill(mins, 0xff.toByte)
    var j = 0
    while (j + MinHasher.K <= len) {
      val gramLen = joinGram(bytes, j)
      var i = 0
      while (i < n) {
        md.update(prefixes(i))
        md.update(gram, 0, gramLen)
        md.digest(digest, 0, 16)
        if (java.util.Arrays.compareUnsigned(digest, 0, 16, mins, i * 16, i * 16 + 16) < 0)
          System.arraycopy(digest, 0, mins, i * 16, 16)
        i += 1
      }
      j += 1
    }
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = MinHasher.hex(mins, i * 16)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Writes gram j (the `concat_ws(' ', …)` bytes) into `gram`; returns
    * its length.
    */
  private def joinGram(bytes: Array[Array[Byte]], j: Int): Int = {
    var need = MinHasher.K
    var t = j
    while (t < j + MinHasher.K) {
      if (bytes(t) != null) need += bytes(t).length
      t += 1
    }
    if (need > gram.length) gram = new Array[Byte](math.max(need, gram.length * 2))
    var p = 0
    var first = true
    t = j
    while (t < j + MinHasher.K) {
      val b = bytes(t)
      if (b != null) {
        if (!first) { gram(p) = ' '; p += 1 }
        System.arraycopy(b, 0, gram, p, b.length)
        p += b.length
        first = false
      }
      t += 1
    }
    p
  }
}

object MinHasher {
  /** Shingle width: word 3-grams, the width of `Dedup`'s signatures. */
  val K = 3

  private val HexDigits = "0123456789abcdef".getBytes(UTF_8)

  private def hex(b: Array[Byte], off: Int): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((b(off + i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(b(off + i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** `graft_shingles(toks, k)`: the word k-grams of a token array —
  * exactly `transform(sequence(1, size(toks) - k + 1), i -> concat_ws(' ',
  * element_at(toks, i), …, element_at(toks, i + k - 1)))` guarded by
  * `size(toks) >= k`, including its edge cases: a NULL array or one
  * shorter than k yields an empty array, NULL tokens are skipped. `k` is
  * an integer literal >= 1.
  */
case class ArrayShingles(toks: Expression, k: Expression) extends BinaryExpression {

  override def left: Expression = toks
  override def right: Expression = k

  override def checkInputDataTypes(): TypeCheckResult =
    ShingleKernel.checkArgs(prettyName, toks, k)

  private lazy val kVal: Int = k.eval().asInstanceOf[Int]

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingles"

  override def eval(input: InternalRow): Any =
    ShingleKernel.shingles(toks.eval(input).asInstanceOf[ArrayData], kVal)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = toks.genCode(ctx)
    val kernel = ShingleKernel.getClass.getName.stripSuffix("$")
    ev.copy(code = code"""
      |${a.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $kernel.shingles(${a.isNull} ? null : ${a.value}, $kVal);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayShingles =
    copy(toks = newLeft, k = newRight)
}

/** `graft_minhash(toks, n)`: the n-seed MinHash signature of a token
  * array's word 3-grams (see [[MinHasher]]) — element i equals
  * `min(md5(concat('s<i>|', shingle)))` over the document's
  * `graft_shingles(toks, 3)`. NULL when the array is NULL or has fewer
  * than 3 tokens, like `min` over no rows. `n` is an integer literal >= 1.
  */
case class MinHashSignature(toks: Expression, n: Expression) extends BinaryExpression {

  override def left: Expression = toks
  override def right: Expression = n

  override def checkInputDataTypes(): TypeCheckResult =
    ShingleKernel.checkArgs(prettyName, toks, n)

  private lazy val nVal: Int = n.eval().asInstanceOf[Int]
  @transient private lazy val hasher = new MinHasher(nVal)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override def eval(input: InternalRow): Any =
    hasher(toks.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = toks.genCode(ctx)
    val cls = classOf[MinHasher].getName
    val hasherVar = ctx.addMutableState(cls, "minHasher",
      v => s"$v = new $cls($nVal);", forceInline = true)
    ev.copy(code = code"""
      |${a.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $hasherVar.apply(${a.isNull} ? null : ${a.value});
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSignature =
    copy(toks = newLeft, n = newRight)
}
