package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType}

/** Native Catalyst expression for the embedding dot product — the hot
  * scalar of similarity search. `aggregate(zip_with(...))` builds an
  * intermediate array per row and walks it through two higher-order-
  * function frames; this expression is a single fused loop with `doGenCode`
  * so the whole cosine stays inside one WholeStageCodegen span
  * (preference order (b) of the build brief: custom Expression before
  * custom operator). Sum order is left-to-right sequential — identical to
  * the fold the DuckDB oracle mirrors, so results stay bit-compatible.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // per-side element accessor: float and double arrays both accepted
  // (a normalized copy is array<double>; raw embeddings array<float>)
  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def get(arr: ArrayData, i: Int, dbl: Boolean): Double =
    if (dbl) arr.getDouble(i) else arr.getFloat(i).toDouble

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (xd, yd) = (isDoubleArray(left), isDoubleArray(right))
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += get(x, i, xd) * get(y, i, yd)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      def acc(v: String, e: Expression) =
        if (isDoubleArray(e)) s"$v.getDouble($i)" else s"(double) $v.getFloat($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double acc_${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  acc_${ev.value} += ${acc(a, left)} * ${acc(b, right)};
         |}
         |${ev.value} = acc_${ev.value};
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native Hamming distance between two lowercase-hex digest strings
  * (e.g. 16-char simhash64 values): per character, XOR the decoded
  * nibbles and popcount — one fused loop with `doGenCode`, replacing a
  * 16-term conv/substr/xor Column tree in the near-dup verify filter
  * (which runs once per CANDIDATE pair — billions of rows at corpus
  * scale). Bit-identical to [[graft.operators.DedupOps.hammingHex64]]
  * on the hex domain (property-pinned); non-hex characters decode to 0,
  * lengths compare up to the shorter string.
  */
case class HammingHex(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String].getBytes
    val y = b.asInstanceOf[UTF8String].getBytes
    val n = math.min(x.length, y.length)
    var acc = 0
    var i = 0
    while (i < n) {
      acc += java.lang.Integer.bitCount(
        (HammingHex.nibble(x(i)) ^ HammingHex.nibble(y(i))) & 0xf)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val xa = ctx.freshName("xa")
      val yb = ctx.freshName("yb")
      val cls = classOf[HammingHex].getName
      s"""
         |byte[] $xa = $a.getBytes();
         |byte[] $yb = $b.getBytes();
         |int $n = java.lang.Math.min($xa.length, $yb.length);
         |int acc_${ev.value} = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  acc_${ev.value} += java.lang.Integer.bitCount(
         |    ($cls.nibble($xa[$i]) ^ $cls.nibble($yb[$i])) & 0xf);
         |}
         |${ev.value} = acc_${ev.value};
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingHex =
    copy(left = newLeft, right = newRight)
}

object HammingHex {
  /** Lowercase-hex nibble decode; anything else → 0 (matches `conv`'s
    * treatment closely enough on the digest domain, which is all this is
    * defined for). Public static for the generated code.
    */
  def nibble(c: Byte): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else 0
}

/** Native 64-bit SimHash of one row's text, as 16 lowercase hex chars —
  * one loop per row with `doGenCode` calling the static [[SimHash64.hash]],
  * replacing an explode-per-word × 16 nibbles plus two shuffled
  * aggregates (the hash is a pure function of the row). Bit-identical to
  * the column tree it replaced (kept in the specs as the reference twin):
  * the first `maxLen` code points (`substring(text, 1, maxLen)`), split
  * on the ASCII space byte with empty tokens dropped, per token the top
  * 64 bits of md5 over its UTF-8 bytes, one ±1 vote per bit, a bit set
  * iff its vote is > 0, hex MSB first. Null or tokenless text → null.
  * `maxLen` must be a foldable integer (checked at analysis).
  */
case class SimHash64(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  // checked when the query is analysed, i.e. when the frame is built
  override def checkInputDataTypes(): TypeCheckResult =
    if (!left.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckFailure(s"simhash64 text must be a string, got ${left.dataType}")
    else if (!right.foldable || right.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"simhash64 maxLen must be a foldable integer, got $right")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val maxLen: Int = right.eval().asInstanceOf[Int]

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def nullSafeEval(text: Any, len: Any): Any =
    SimHash64.hash(text.asInstanceOf[UTF8String], maxLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) => {
      val cls = classOf[SimHash64].getName
      s"""
         |${ev.value} = $cls.hash($t, $maxLen);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimHash64 =
    copy(left = newLeft, right = newRight)
}

object SimHash64 {
  import org.apache.spark.unsafe.types.UTF8String

  /** Per-thread scratch: one md5 digest reused across tokens and rows. */
  private final class Scratch {
    val md5: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    val votes = new Array[Int](64)
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  private val HexBytes = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** The kernel. Public static for the generated code. */
  def hash(text: UTF8String, maxLen: Int): UTF8String = {
    val bytes = text.substringSQL(1, maxLen).getBytes
    val s = scratch.get()
    val votes = s.votes
    java.util.Arrays.fill(votes, 0)
    var tokens = 0
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && bytes(i) == ' ') i += 1
      val start = i
      while (i < bytes.length && bytes(i) != ' ') i += 1
      if (i > start) {
        s.md5.update(bytes, start, i - start)
        s.md5.digest(s.digest, 0, 16)
        var h = 0L
        var k = 0
        while (k < 8) { h = (h << 8) | (s.digest(k) & 0xffL); k += 1 }
        var b = 0
        while (b < 64) { votes(b) += (((h >>> b) & 1L).toInt << 1) - 1; b += 1 }
        tokens += 1
      }
    }
    if (tokens == 0) null
    else {
      var sh = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) sh |= 1L << b; b += 1 }
      val out = new Array[Byte](16)
      var c = 0
      while (c < 16) { out(c) = HexBytes(((sh >>> (60 - 4 * c)) & 0xf).toInt); c += 1 }
      UTF8String.fromBytes(out)
    }
  }
}

object VectorExprs {
  val FnName = "graft_vec_dot"
  val HammingFnName = "graft_hamming_hex"
  val SimHashFnName = "graft_simhash64"

  /** Idempotently register the expressions with the session's function
    * registry (Spark 4 keeps Column↔Expression bridging private, so the
    * registry + `call_function` is the public route). A session that
    * already has every name skips the replace — `createOrReplaceTemp
    * Function` logs a "replacing" warning per call, and queries register
    * lazily, so a 57-query bench pass would otherwise emit hundreds of
    * lines of registry noise.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def has(n: String) = reg.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n))
    if (!has(FnName))
      reg.createOrReplaceTempFunction(
        FnName, exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    if (!has(HammingFnName))
      reg.createOrReplaceTempFunction(
        HammingFnName, exprs => HammingHex(exprs(0), exprs(1)), "built-in")
    if (!has(SimHashFnName))
      reg.createOrReplaceTempFunction(
        SimHashFnName, exprs => SimHash64(exprs(0), exprs(1)), "built-in")
  }

  /** Dot product of two array<float> columns ([[register]] first). */
  def dot(a: Column, b: Column): Column = call_function(FnName, a, b)

  /** Hamming distance of two hex-digest columns ([[register]] first). */
  def hammingHex(a: Column, b: Column): Column = call_function(HammingFnName, a, b)

  /** 64-bit SimHash hex of a text column ([[register]] first). */
  def simhash64(text: Column, maxLen: Int): Column =
    call_function(SimHashFnName, text, org.apache.spark.sql.functions.lit(maxLen))
}
