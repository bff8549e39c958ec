package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** HyperLogLog distinct-count sketch (Flajolet/Fusy/Gandouet/Meunier,
  * AofA 2007) as a mergeable Catalyst aggregate — the 100 TB shape for
  * COUNT(DISTINCT): Spark plans the partial before the shuffle, so each
  * partition ships exactly `m = 2^p` register bytes instead of its
  * distinct-key stream, and merge is an elementwise max. The reference
  * exposes row-count estimation as S-A1 (`lantern_cli/src/utils.rs`
  * estimated-count query); this is the composable, GROUP-BY-able
  * generalization.
  *
  * Every step is integer-exact and restated verbatim by the DuckDB
  * oracles (q_hll_registers / q_hll_distinct): the hash is an
  * FNV-prime xorshift-multiply finalizer over the u64 domain, the
  * register is the leading-zero rank of the low 64-p bits, and the raw
  * estimator is evaluated as one HUGEINT/BigInt floor division — no
  * floating point anywhere on the oracled path.
  */
object Hll {
  /** 64-bit finalizer: xorshift-multiply rounds with the xorshift64*
    * multiplier (Vigna, "An experimental exploration of Marsaglia's
    * xorshift generators, scrambled"). The multiplier is 2^61.2 —
    * deliberately under 2^63 so the DuckDB restatement's u64-domain
    * HUGEINT products stay inside the signed-128-bit range (u < 2^64
    * times C < 2^63 < 2^127); the splitmix64/murmur3 finalizer
    * constants are all > 2^63 and would overflow it. Shift triple
    * (12, 25, 27) validated empirically: 0 empty buckets and <= 1σ
    * raw-estimate error at p∈{8,12} over sequential, strided, and
    * random key sets.
    */
  final val Mult = 0x2545F4914F6CDD1DL // 2685821657736338717

  def hash64(x: Long): Long = {
    var h = x
    h ^= (h >>> 12); h *= Mult
    h ^= (h >>> 25); h *= Mult
    h ^= (h >>> 27)
    h
  }

  /** rho = leading-zero rank of the low (64-p) bits, in [1, 64-p+1]. */
  def rho(h: Long, p: Int): Int = {
    val rem = h & ((1L << (64 - p)) - 1)
    // highbit(rem) = floor(log2 rem)+1, 0 for rem == 0 — the spelling
    // the DuckDB oracle mirrors with length(bin(rem)).
    val highbit = 64 - java.lang.Long.numberOfLeadingZeros(rem)
    (64 - p) - highbit + 1
  }

  def bucket(h: Long, p: Int): Int = (h >>> (64 - p)).toInt

  /** Raw HLL estimate, integer-exact: with Rmax = 64-p+1 and
    * S = sum_j 2^(Rmax - M_j) (an integer, since every register is in
    * [0, Rmax]), E = floor( alpha_m * m^2 * 2^Rmax / S ). For
    * m >= 128, alpha_m = 0.7213/(1 + 1.079/m) expressed as the exact
    * rational 7213*m / (10000*m + 10790); for the small register
    * counts the asymptotic constant over-biases, the Flajolet et al.
    * paper prescribes alpha_16 = 0.673, alpha_32 = 0.697,
    * alpha_64 = 0.709 — applied here as the exact rationals
    * 673/1000, 697/1000, 709/1000. All products fit well inside
    * 2^127, so the DuckDB restatement (p=8, asymptotic branch)
    * computes the identical value in HUGEINT.
    */
  def rawEstimate(registers: Array[Int]): BigInt = {
    val m = registers.length
    val p = java.lang.Integer.numberOfTrailingZeros(m)
    val rmax = 64 - p + 1
    var s = BigInt(0)
    var j = 0
    while (j < m) { s += BigInt(1) << (rmax - registers(j)); j += 1 }
    // (alphaNum / alphaDen) = alpha_m * m (asymptotic) or alpha_m
    // (small-m constants); both spellings keep E = num / den exact
    val (num, den) = m match {
      case 16 | 32 | 64 =>
        val a = m match { case 16 => 673; case 32 => 697; case _ => 709 }
        (BigInt(a) * BigInt(m).pow(2) * (BigInt(1) << rmax),
          BigInt(1000) * s)
      case _ =>
        (BigInt(7213) * BigInt(m).pow(3) * (BigInt(1) << rmax),
          (BigInt(10000) * m + BigInt(10790)) * s)
    }
    num / den
  }

  /** Full estimator: raw + small-range linear-counting correction
    * (E <= 2.5m with empty registers -> m*ln(m/V), floored; StrictMath
    * for cross-platform determinism). The oracled faces pick (p, data)
    * so the raw path is taken — the correction exists for real use at
    * low cardinality and is spec-tested, not oracle-tested. The
    * classic 32-bit large-range correction is unnecessary with a
    * 64-bit hash.
    */
  def estimate(registers: Array[Int]): Long = {
    val m = registers.length
    val raw = rawEstimate(registers)
    val v = registers.count(_ == 0)
    if (v > 0 && raw * 2 <= BigInt(5) * m)
      math.floor(m * StrictMath.log(m.toDouble / v)).toLong
    else raw.toLong
  }
}

/** HLL registers (`ARRAY<INT>`) folded by elementwise max, one byte a
  * register on the wire (every register is <= 64-p+1 <= 61). A partial
  * starts from `2^p` zero registers. The merge form (`hll_merge`)
  * starts from the zero-length "unseen" array, takes the width of the
  * first stored value and refuses another one, so an all-null group
  * merges to null. Registers from disjoint slices merge exactly
  * (`zip_with(a, b, greatest)` in SQL does the same), so sketches can
  * be persisted per partition / day / rollup chunk and unioned without
  * rescanning — the property the merge spec pins.
  */
private[graft] abstract class HllRegisters extends SketchKind[Array[Int]] {
  final def mergeName: String = "hll_merge"
  final def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  final def storedDesc: String = "ARRAY<INT> registers"
  final override def mergeEmpty: Array[Int] = Array.emptyIntArray

  final def decode(stored: Any): Array[Int] =
    stored.asInstanceOf[ArrayData].toIntArray()

  final def combine(a: Array[Int], b: Array[Int]): Array[Int] =
    if (a.isEmpty) b
    else {
      require(b.isEmpty || b.length == a.length,
        s"$mergeName: register widths differ " +
          s"(${a.length} vs ${b.length}) — sketches built at " +
          "different precisions cannot merge")
      var j = 0
      while (j < b.length) { if (b(j) > a(j)) a(j) = b(j); j += 1 }
      a
    }

  final def isEmpty(buf: Array[Int]): Boolean = buf.isEmpty
  final def eval(buf: Array[Int]): Any = new GenericArrayData(buf)

  final def toBytes(buf: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](buf.length)
    var j = 0
    while (j < buf.length) { out(j) = buf(j).toByte; j += 1 }
    out
  }

  final def fromBytes(bytes: Array[Byte]): Array[Int] = {
    val buf = new Array[Int](bytes.length)
    var j = 0
    while (j < bytes.length) { buf(j) = bytes(j).toInt; j += 1 }
    buf
  }

  final override def merger: SketchKind[Array[Int]] = HllRegisters
}

/** `hll_merge(registers)`: the merge form every HLL partial shares
  * (e.g. [[graft.plans.SummaryRewrite]] sketch measures, whose delta
  * chunks fold with it). It reads no precision, and has no partial of
  * its own.
  */
private[graft] object HllRegisters extends HllRegisters {
  def name: String = mergeName
  def inputError(types: Seq[DataType]): Option[String] = None
  def empty: Array[Int] = mergeEmpty
  def update(inputs: Seq[Expression])
      : (Array[Int], InternalRow) => Array[Int] =
    throw new UnsupportedOperationException(s"$mergeName has no partial form")
}

/** `hll_sketch(x, p)` — the `m = 2^p` registers of integral or string
  * keys. Integral keys enter the hash as their 64-bit value (the
  * DuckDB-restatable path the oracled faces pin); string keys are
  * first mapped to the u64 domain by FNV-1a over their UTF-8 bytes —
  * NOT silently cast to numeric null and dropped (the r9 behavior,
  * which undercounted text keys to ~0). Any other key type is
  * rejected at analysis.
  */
private[graft] case class HllKind(p: Int) extends HllRegisters {
  def name: String = "hll_sketch"

  override def requireValid(name: String): Unit =
    require(p >= 4 && p <= 16, s"precision must be in [4, 16], got $p")

  def inputError(types: Seq[DataType]): Option[String] =
    if (SketchInput.key(types.head)) None
    else Some(s"an integral or string key, got ${types.head.simpleString}")

  def empty: Array[Int] = new Array[Int](1 << p)

  def update(inputs: Seq[Expression])
      : (Array[Int], InternalRow) => Array[Int] = {
    val child = inputs.head
    val toU64 = SketchInput.toLong(child.dataType)
    (buf, row) => {
      val v = child.eval(row)
      if (v != null) {
        val h = Hll.hash64(toU64(v))
        val b = Hll.bucket(h, p)
        val r = Hll.rho(h, p)
        if (r > buf(b)) buf(b) = r
      }
      buf
    }
  }
}

/** `hll_estimate(registers)` — scalar companion turning a register
  * array (from `hll_sketch`, `hll_merge` or a `zip_with` merge of
  * several) into the distinct-count estimate. Delegated codegen so a
  * containing stage stays whole-stage compiled.
  */
case class HllEstimate(child: Expression)
    extends UnaryExpression with graft.functions.EvalDelegatingCodegen {
  override def prettyName: String = "hll_estimate"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"$prettyName requires ARRAY<INT> registers, got " +
              other.simpleString)
    }
  }

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData].toIntArray()
    val m = arr.length
    require(m >= 16 && (m & (m - 1)) == 0,
      s"$prettyName: register count must be a power of two >= 16, got $m")
    Hll.estimate(arr)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = delegatedGenCode(ctx, ev)

  override protected def withNewChildInternal(c: Expression): HllEstimate =
    copy(child = c)
}
