package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Whole-document 16-bit SimHash as a single narrow expression — the
  * [[MinHashSig]] treatment applied to the other sketch family, and
  * [[graft.ext.Dedup.simhashFingerprints]]'s physical form.
  *
  * One static-kernel call per document row: md5 per token, ±1 nibble
  * votes accumulated in a 16-int array, threshold to the fingerprint —
  * zero intermediate rows, zero shuffle (no per-token explode, no sum
  * aggregate, no exchange).
  *
  * Bit-identical to the higher-order-function fold kept as the test
  * oracle (ExtSpec, PropertySpec) and to the x5/x5b oracle replays:
  * bit b votes +1 iff hex digit b of md5(token) is >= '8' (the nibble's
  * high bit), multiplicity COUNTS (unlike MinHash, SimHash weights
  * repeated tokens), and an empty token array yields NULL (no
  * fingerprint for a document without tokens). */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"SimHashSig expects array<string> tokens, got ${other.catalogString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else SimHashKernel.sig(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val boxed = ctx.freshName("boxed")
    val code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = ${childGen.isNull};
        int ${ev.value} = 0;
        if (!${ev.isNull}) {
          java.lang.Integer $boxed =
            graft.plans.SimHashKernel.sig(${childGen.value});
          if ($boxed == null) { ${ev.isNull} = true; }
          else { ${ev.value} = $boxed.intValue(); }
        }
      """
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-API entry point (Spark 4 Column↔Expression bridge). */
  def simhashSig(toks: Column): Column =
    ColumnBridge.column(SimHashSig(ColumnBridge.expression(toks)))
}

/** Static per-row kernel behind [[SimHashSig]]. */
object SimHashKernel {

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** 16-bit fingerprint over the token MULTISET; null for an empty
    * array.  A null element votes −1 on every bit, matching the
    * exploded plan's `otherwise(-1)` on a null digest (split() never
    * produces one — defensive parity only). */
  def sig(toks: ArrayData): java.lang.Integer = {
    val len = toks.numElements()
    if (len == 0) return null
    val md = md5Local.get()
    val counts = new Array[Int](16)
    var i = 0
    while (i < len) {
      val t = toks.getUTF8String(i)
      if (t == null) {
        var b = 0
        while (b < 16) { counts(b) -= 1; b += 1 }
      } else {
        md.reset()
        val d = md.digest(t.getBytes)
        var b = 0
        while (b < 16) {
          val nibble =
            if ((b & 1) == 0) (d(b >> 1) >> 4) & 0xf else d(b >> 1) & 0xf
          counts(b) += (if (nibble >= 8) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var out = 0
    var b = 0
    while (b < 16) {
      if (counts(b) > 0) out |= 1 << b
      b += 1
    }
    java.lang.Integer.valueOf(out)
  }

  /** 64-bit fingerprint as 8 block values (see [[SimHashSig64]]);
    * null for an empty array. */
  def sig64(toks: ArrayData): ArrayData = {
    val len = toks.numElements()
    if (len == 0) return null
    val md = md5Local.get()
    val counts = new Array[Int](64)
    var i = 0
    while (i < len) {
      val t = toks.getUTF8String(i)
      if (t == null) {
        var b = 0
        while (b < 64) { counts(b) -= 1; b += 1 }
      } else {
        md.reset()
        val d = md.digest(t.getBytes)
        var b = 0
        while (b < 64) {
          // hex digit b/4 of the digest, bit b%4 of its value
          val nibIdx = b >> 2
          val nibble =
            if ((nibIdx & 1) == 0) (d(nibIdx >> 1) >> 4) & 0xf
            else d(nibIdx >> 1) & 0xf
          counts(b) += (if (((nibble >> (b & 3)) & 1) == 1) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    val blocks = new Array[Int](8)
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) blocks(b >> 3) |= 1 << (b & 7)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      blocks.map(Int.box))
  }
}

/** 64-bit SimHash as EIGHT 8-bit block values (`array<int>`, each
  * 0..255) — the corpus-scale widening [[SimHashSig]]'s scaladoc
  * promises.  Emitting blocks instead of one packed long serves the
  * consumer directly: permute-and-mask blocking masks whole blocks, so
  * the join keys are built from block values, never by unpacking a
  * long (and DuckDB replays block arithmetic without 1<<63 sign
  * traps).
  *
  * Bit b of the fingerprint (0..63) votes +1 per token iff bit
  * `b mod 4` of hex digit `b / 4` of md5(token) is set — the first 16
  * hex digits of the digest, four fingerprint bits per digit; block j
  * packs bits 8j..8j+7.  Bit 15's vote source (high bit of hex digit
  * 3) overlaps [[SimHashSig]]'s bit-3 vote by construction; the two
  * fingerprints are otherwise independent projections of the same
  * digest.  Multiplicity counts; empty array → NULL; a null element
  * votes −1 everywhere (same defensive parity as the 16-bit kernel).
  */
case class SimHashSig64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"SimHashSig64 expects array<string> tokens, got ${other.catalogString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else SimHashKernel.sig64(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val arr = ctx.freshName("blocks")
    val code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = ${childGen.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          org.apache.spark.sql.catalyst.util.ArrayData $arr =
            graft.plans.SimHashKernel.sig64(${childGen.value});
          if ($arr == null) { ${ev.isNull} = true; }
          else { ${ev.value} = $arr; }
        }
      """
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashSig64 =
    copy(child = newChild)
}

object SimHashSig64 {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def simhashSig64(toks: Column): Column =
    ColumnBridge.column(SimHashSig64(ColumnBridge.expression(toks)))
}
