package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-document MinHash signature as a single narrow expression.
  *
  * [[graft.ext.Dedup.minhashSignatures]]'s physical form: instead of
  * exploding (doc,
  * shingle) rows, hashing each with k/4 codegen'd `md5` expressions and
  * min-aggregating back per document (a corpus-sized explode plus a
  * partial+final hash aggregate and its exchange), this expression
  * computes the whole k-lane signature inside ONE generated-code call
  * per document row — shingle assembly, digesting, and the running
  * per-lane minimum all happen in a tight JVM loop over the token
  * array with zero intermediate rows and ZERO shuffle.  The signature
  * stage of the LSH pipelines becomes scan → project, which at cluster
  * scale means it is bounded by mapper throughput alone.
  *
  * Bit-identical to the exploded min-aggregate form (pinned by
  * DedupSpec's and PropertySpec's oracle tests and the x2/x3 oracle
  * replays): lane i of
  * the signature is the lexicographic minimum over shingles of
  * `substring(hex(md5(concat(i/4, ":", shingle))), (i%4)*8, 8)` — hex
  * chars are ASCII, so unsigned byte order equals the UTF8String
  * binary order the min-agg uses.
  *
  * Shingle semantics (the same as `Dedup.explodedShingles`):
  *  - n == 1 → the DISTINCT token set (min is multiplicity-blind);
  *  - n >= 2 → all word n-grams joined by a single space; documents
  *    with fewer than n tokens collapse to one whole-text shingle;
  *  - an empty token array yields NULL (the exploded form emits no
  *    row for such a document) — callers filter nulls.
  */
case class MinHashSig(child: Expression, n: Int, k: Int)
    extends UnaryExpression {

  require(n >= 1, s"MinHashSig needs n >= 1, got $n")
  require(k >= 1 && k <= 64, s"MinHashSig needs 1 <= k <= 64, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // NULL out (not error) on empty input even when the child row is
  // non-null, so standard nullSafeCodeGen doesn't apply.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"MinHashSig expects array<string> tokens, got ${other.catalogString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else MinHashKernel.sig(v.asInstanceOf[ArrayData], n, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = ${childGen.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.plans.MinHashKernel.sig(${childGen.value}, $n, $k);
          ${ev.isNull} = ${ev.value} == null;
        }
      """
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-API entry point (Spark 4 Column↔Expression bridge). */
  def minhashSig(toks: Column, n: Int, k: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(toks), n, k))
}

/** The per-row JVM kernel behind [[MinHashSig]] — a plain static method
  * so generated code calls it directly (the call stays inside the
  * whole-stage-codegen function; only the loop body is pre-compiled).
  */
object MinHashKernel {

  private val HEX = "0123456789abcdef".toCharArray.map(_.toByte)

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  // "m:" digest prefixes for lane groups m = 0..15 (k <= 64)
  private val prefixes: Array[Array[Byte]] =
    (0 until 16).map(m => s"$m:".getBytes("UTF-8")).toArray

  /** k-lane signature over the shingle set of `toks`; null for an empty
    * token array.  See [[MinHashSig]] for the exact semantics. */
  def sig(toks: ArrayData, n: Int, k: Int): ArrayData = {
    val len = toks.numElements()
    if (len == 0) return null
    val md = md5Local.get()
    val groups = (k + 3) / 4
    // running minima: k slots of 8 hex bytes, compared unsigned (hex is
    // ASCII, so signed byte compare is equivalent)
    val mins = new Array[Byte](k * 8)
    java.util.Arrays.fill(mins, 0x7f.toByte)
    val hex = new Array[Byte](32)

    def absorb(shingle: Array[Byte]): Unit = {
      var m = 0
      while (m < groups) {
        md.reset()
        md.update(prefixes(m))
        md.update(shingle)
        val d = md.digest()
        var b = 0
        while (b < 16) {
          hex(b * 2) = HEX((d(b) >> 4) & 0xf)
          hex(b * 2 + 1) = HEX(d(b) & 0xf)
          b += 1
        }
        var j = 0
        while (j < 4 && m * 4 + j < k) {
          val lane = m * 4 + j
          val off = lane * 8
          val src = j * 8
          // lexicographic compare of hex(src, src+8) vs mins(off, off+8)
          var c = 0
          var cmp = 0
          while (c < 8 && cmp == 0) {
            cmp = java.lang.Byte.compare(hex(src + c), mins(off + c))
            c += 1
          }
          if (cmp < 0) System.arraycopy(hex, src, mins, off, 8)
          j += 1
        }
        m += 1
      }
    }

    if (n == 1) {
      // distinct token set; null elements contribute nothing (split()
      // never produces them — defensive only)
      val seen = new java.util.HashSet[UTF8String](len * 2)
      var i = 0
      while (i < len) {
        val t = toks.getUTF8String(i)
        if (t != null && seen.add(t)) absorb(t.getBytes)
        i += 1
      }
      if (seen.isEmpty) return null
    } else {
      // materialize token byte arrays once
      val tb = new Array[Array[Byte]](len)
      var total = 0
      var i = 0
      while (i < len) {
        val t = toks.getUTF8String(i)
        tb(i) = if (t == null) Array.emptyByteArray else t.getBytes
        total += tb(i).length
        i += 1
      }
      if (len < n) {
        // whole-text fallback: all tokens joined by ' '
        val joined = new Array[Byte](total + (len - 1).max(0))
        var p = 0
        i = 0
        while (i < len) {
          if (i > 0) { joined(p) = ' '; p += 1 }
          System.arraycopy(tb(i), 0, joined, p, tb(i).length)
          p += tb(i).length
          i += 1
        }
        absorb(joined)
      } else {
        var s = 0
        while (s + n <= len) {
          var size = n - 1
          var j = 0
          while (j < n) { size += tb(s + j).length; j += 1 }
          val sh = new Array[Byte](size)
          var p = 0
          j = 0
          while (j < n) {
            if (j > 0) { sh(p) = ' '; p += 1 }
            System.arraycopy(tb(s + j), 0, sh, p, tb(s + j).length)
            p += tb(s + j).length
            j += 1
          }
          absorb(sh)
          s += 1
        }
      }
    }

    val out = new Array[AnyRef](k)
    var lane = 0
    while (lane < k) {
      out(lane) = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(mins, lane * 8, lane * 8 + 8))
      lane += 1
    }
    new GenericArrayData(out)
  }
}
