package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions.{lit, pmod}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the engine's portable per-token hash —
  * the code-point polynomial fold
  * `fold((acc, cp) => (acc * 31 + cp) mod 1e9+7, 0)` that every
  * portable-hash operator keys on (feature hashing, group-keyed
  * splits, CDC chunk boundaries) and that DuckDB oracles recompute as
  * `list_reduce(list_prepend(0, codes), ...)`.
  *
  * Same math as [[graft.llmdata.Dedup.portableTokenHash]], the
  * Column form that stays the cross-engine definition of record but
  * pays an interpreter round-trip per CHARACTER (a compiled loop
  * measured 16-40x faster). This Expression operates on UTF8String
  * BYTES directly (no String materialization, no UDF conversion
  * wrapper) and participates in WHOLE-STAGE CODEGEN via doGenCode, so
  * the fold inlines into the surrounding operator instead of breaking
  * the codegen span the way a UDF call does. SURVEY §4.2 preference
  * order (b).
  *
  * The byte walk decodes UTF-8 to Unicode code points inline
  * (1-4 byte sequences; Spark strings are always valid UTF-8), which
  * is exactly `String.codePointAt` including supplementary planes —
  * parity with the Column form is spec-pinned over adversarial
  * strings. acc < 1e9+7 and code points < 2^21, so the fold never
  * overflows int64.
  */
case class PortableTokenHash(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"portable_token_hash expects a string input, got " +
          s"${other.simpleString}")
    }

  override def dataType: DataType = LongType

  override protected def withNewChildInternal(
      newChild: Expression): PortableTokenHash = copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    PortableTokenHash.hashUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, a => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val b0 = ctx.freshName("b0")
      val cp = ctx.freshName("cp")
      val len = ctx.freshName("len")
      val k = ctx.freshName("k")
      val acc = ctx.freshName("acc")
      s"""
        byte[] $bytes = $a.getBytes();
        long $acc = 0L;
        int $i = 0;
        while ($i < $bytes.length) {
          int $b0 = $bytes[$i] & 0xFF;
          int $cp; int $len;
          if ($b0 < 0x80) { $cp = $b0; $len = 1; }
          else if ($b0 < 0xE0) { $cp = $b0 & 0x1F; $len = 2; }
          else if ($b0 < 0xF0) { $cp = $b0 & 0x0F; $len = 3; }
          else { $cp = $b0 & 0x07; $len = 4; }
          for (int $k = 1; $k < $len; $k++) {
            $cp = ($cp << 6) | ($bytes[$i + $k] & 0x3F);
          }
          $acc = ($acc * 31L + $cp) % 1000000007L;
          $i += $len;
        }
        ${ev.value} = $acc;
      """
    })
  }

  override def prettyName: String = "portable_token_hash"
}

object PortableTokenHash {
  /** The identical fold over a UTF8String's bytes (interpreted-mode
    * twin of the generated loop).
    */
  def hashUtf8(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      val b0 = bytes(i) & 0xFF
      var cp = 0
      var len = 0
      if (b0 < 0x80) { cp = b0; len = 1 }
      else if (b0 < 0xE0) { cp = b0 & 0x1F; len = 2 }
      else if (b0 < 0xF0) { cp = b0 & 0x0F; len = 3 }
      else { cp = b0 & 0x07; len = 4 }
      var k = 1
      while (k < len) { cp = (cp << 6) | (bytes(i + k) & 0x3F); k += 1 }
      acc = (acc * 31L + cp) % 1000000007L
      i += len
    }
    acc
  }

  /** The same fold over a JVM `String`'s code points, continuing from
    * `acc`: `fold(0, s) == hashUtf8(s)`, and a bigram "a b" hashes as
    * `fold(fold(fold(0, a), " "), b)` without building the string.
    */
  def fold(acc: Long, s: String): Long = {
    var h = acc
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Column builder over the native expression. */
  def apply(tok: Column): Column =
    GraftBridge.column(PortableTokenHash(GraftBridge.expression(tok)))
}

/** The engine's portable id hash — every sample, split, fold, sketch
  * row, bootstrap resample and permutation sign is a pure function of
  * (id, seed) through it, so any engine (the DuckDB oracles included)
  * replays it bit for bit:
  *
  *   h_k(x) = (x·(2654435761 + 2k) + seed + k·1000003) mod 1e9+7
  *
  * (Knuth's multiplicative step; `k` varies the multiplier per sketch
  * row / resample / permutation so the k streams decorrelate, and is 0
  * for a plain sample). `x` and the seed are reduced mod P = 1e9+7
  * first, which is exact ((x mod P)·c ≡ x·c mod P) and bounds every
  * intermediate by (P−1)·(2654435761 + 2k) + P + k·1000003 < 2^62 for
  * k ≤ 9999: no id, however large or negative, overflows a long, so an
  * ANSI engine never raises where the raw product would.
  */
private[graft] object PortableHash {
  val Mult = 2654435761L
  private val Mod = 1000000007L

  def apply(x: Column, seed: Long, k: Column = lit(0L)): Column = {
    val kl = k.cast("long")
    pmod(pmod(x.cast("long"), lit(Mod)) * (lit(Mult) + lit(2L) * kl) +
      (lit(Math.floorMod(seed, Mod)) + kl * lit(1000003L)), lit(Mod))
  }
}
