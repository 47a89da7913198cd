package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-callable runtime for [[DvHash]]: the Data Vault key/diff hash
  * `hex(digest(upper(concat_ws('||', coalesce(f1,''), …))))` fused into one
  * buffer pass.
  *
  * The composed built-in formulation walks four expression stages per row —
  * concat_ws copy, upper copy, cast-to-binary copy, then a commons-codec
  * digest that calls `MessageDigest.getInstance` PER ROW — and this hash is
  * the innermost loop of every vault load (hash views, hub/link/sat loads,
  * PIT, streamFlow micro-batches; reference semantics
  * mallarddv/datavault/hash_generator.py:43-46). Here: fields are written
  * once into a reused thread-local buffer (separators inline, nulls as ''
  * ≡ the coalesce), ASCII bytes are uppercased in place during the scan,
  * and a reused thread-local MessageDigest produces the hex digest.
  *
  * Uppercase correctness: Spark's `upper` is UTF8String.toUpperCase, which
  * is byte-wise for pure-ASCII strings and JVM String.toUpperCase otherwise.
  * JVM uppercasing is context-sensitive across the WHOLE string (ß→SS, final
  * sigma), so the fast in-place path applies only when the concatenated
  * buffer is pure ASCII; any byte ≥ 0x80 falls back to
  * `UTF8String.toUpperCase` on the assembled buffer — bit-identical to
  * `upper(concat_ws(...))` by construction. */
object DvHashRuntime {

  final val Md5 = 0
  final val Sha1 = 1
  final val Sha256 = 2

  private val Hex = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private final class Scratch {
    val digests: Array[java.security.MessageDigest] = Array(
      java.security.MessageDigest.getInstance("MD5"),
      java.security.MessageDigest.getInstance("SHA-1"),
      java.security.MessageDigest.getInstance("SHA-256"))
    var buf: Array[Byte] = new Array[Byte](512)
  }

  private val local = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  def hash(args: Array[UTF8String], algo: Int): UTF8String = {
    val scratch = local.get()
    // Total assembled length: fields (null ≡ empty) + 2-byte separators.
    // LONG accumulation + an explicit cap: an int sum can wrap negative
    // past 2 GiB, in which case the buffer is never grown and the
    // unchecked Platform copy below writes past it — heap corruption, not
    // an exception. The doubling `highestOneBit(len)*2` similarly
    // overflows to Integer.MIN_VALUE for len > 2^30. A concatenated hash
    // input this large is pathological input, so fail loudly.
    var lenL = 2L * (args.length - 1)
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a != null) lenL += a.numBytes()
      i += 1
    }
    if (lenL > (1L << 30))
      throw new IllegalArgumentException(
        s"dv-hash input row is $lenL bytes concatenated — exceeds the 1 GiB cap")
    val len = lenL.toInt
    if (scratch.buf.length < len)
      // long-safe doubling: highestOneBit(2^30)*2 would overflow int
      scratch.buf = new Array[Byte](
        math.min(1L << 30, java.lang.Integer.highestOneBit(len).toLong * 2).toInt)
    val buf = scratch.buf
    var pos = 0
    i = 0
    while (i < args.length) {
      if (i > 0) { buf(pos) = '|'; buf(pos + 1) = '|'; pos += 2 }
      val a = args(i)
      if (a != null) {
        a.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += a.numBytes()
      }
      i += 1
    }
    // Uppercase: in-place for ASCII; UTF8String.toUpperCase fallback (same
    // code Spark's upper() runs) when any non-ASCII byte appears. The
    // ASCII check runs BEFORE any mutation so the fallback sees the buffer
    // exactly as upper(concat_ws(...)) would.
    var ascii = true
    i = 0
    while (ascii && i < pos) {
      if (buf(i) < 0) ascii = false else i += 1
    }
    if (ascii) {
      i = 0
      while (i < pos) {
        val b = buf(i)
        if (b >= 'a' && b <= 'z') buf(i) = (b - 32).toByte
        i += 1
      }
    }
    val md = scratch.digests(algo)
    md.reset()
    if (ascii) md.update(buf, 0, pos)
    else {
      val upped = UTF8String.fromBytes(buf, 0, pos).toUpperCase
      md.update(upped.getBytes, 0, upped.numBytes())
    }
    val d = md.digest()
    val out = new Array[Byte](d.length * 2)
    i = 0
    while (i < d.length) {
      out(2 * i) = Hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** `graft_dv_hash(f1, f2, …)` — native fused Data Vault hash (see
  * [[DvHashRuntime.hash]]). Children must be strings (callers cast);
  * NULL children hash as '' (concat_ws-with-coalesce semantics), so the
  * output is never null. */
case class DvHash(children: Seq[Expression], algo: Int) extends Expression {

  require(children.nonEmpty, "graft_dv_hash requires at least one field")

  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(_.dataType != StringType) match {
      case Some(c) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string arguments, got ${c.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def eval(input: InternalRow): Any = {
    val args = new Array[UTF8String](children.length)
    var i = 0
    while (i < args.length) {
      args(i) = children(i).eval(input).asInstanceOf[UTF8String]
      i += 1
    }
    DvHashRuntime.hash(args, algo)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.freshName("dvHashArgs")
    val childGens = children.map(_.genCode(ctx))
    val fills = childGens.zipWithIndex.map { case (g, i) =>
      s"""
         |${g.code}
         |$arr[$i] = ${g.isNull} ? null : ${g.value};
       """.stripMargin
    }.mkString("\n")
    ev.copy(
      code = code"""
        |UTF8String[] $arr = new UTF8String[${children.length}];
        |$fills
        |UTF8String ${ev.value} = graft.functions.DvHashRuntime.hash($arr, $algo);
       """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): DvHash =
    copy(children = newChildren)

  override def prettyName: String = "graft_dv_hash"
}
