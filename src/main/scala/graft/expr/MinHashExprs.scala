package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The df-capped MinHash banding kernel: one per-row pass over a doc's
  * DISTINCT shingle fingerprints (`array<long>`, `TextOps.fingerprints`)
  * applying the stop-shingle cap, the rarest-hot floor rescue, the
  * signature and the band keys, with the df decisions from a driver-held
  * [[HotShingles]]. Byte-identical to the relational formulation it
  * replaced (Spark's XXH64, seed 42, chained over (int, long) as
  * `xxhash64` chains its arguments; rescue order (df, shingle)):
  * MinHashKernelSpec compares the rows. The generated code is one call
  * through a reference object, the same text for every hot list. */
object MinHashExprs {

  /** `xxhash64`'s default seed. */
  private val Seed = 42L

  /** `sh` capped: its cold shingles, topped up to `floor` with hot ones. */
  def capped(sh: Column, hot: HotShingles, floor: Int): Column =
    ColumnShim.column(ShingleKernel(ColumnShim.expression(sh), hot, floor,
      banding = None))

  /** The band keys of `sh`'s capped set in band order (empty if empty). */
  def bands(sh: Column, hot: HotShingles, floor: Int, numHashes: Int,
      rowsPerBand: Int): Column =
    ColumnShim.column(ShingleKernel(ColumnShim.expression(sh), hot, floor,
      Some((numHashes, rowsPerBand))))

  private[expr] def keep(arr: ArrayData, hot: HotShingles,
      floor: Int): Array[Long] = {
    val (cold, hotOnes) = arr.toLongArray().partition(hot.dfOf(_) < 0)
    val need = floor - cold.length
    if (need <= 0) cold
    else cold ++ hotOnes.sortBy(e => (hot.dfOf(e), e)).take(need)
  }

  private[expr] def bandKeys(kept: Array[Long], numHashes: Int,
      rowsPerBand: Int): Array[Long] =
    if (kept.isEmpty) Array.emptyLongArray
    else {
      // what `xxhash64(lit(h), s)` computes: seed = hashInt(h, 42)
      val seeds = Array.tabulate(numHashes)(h => XXH64.hashInt(h, Seed))
      val sig = Array.fill(numHashes)(Long.MaxValue)
      kept.foreach { e =>
        var h = 0
        while (h < numHashes) {
          sig(h) = math.min(sig(h), XXH64.hashLong(e, seeds(h)))
          h += 1
        }
      }
      Array.tabulate(numHashes / rowsPerBand) { b =>
        val key = UTF8String.fromString(sig.slice(b * rowsPerBand,
          (b + 1) * rowsPerBand).mkString("_"))
        XXH64.hashUnsafeBytes(key.getBaseObject, key.getBaseOffset,
          key.numBytes, XXH64.hashInt(b, Seed))
      }
    }
}

/** A frozen hot-shingle list (fingerprint → df, over-cap shingles only),
  * shipped inside the expression; equal lists give equal plans. */
case class HotShingles(df: Map[Long, Long]) {

  /** The shingle's df, or -1 when it is not hot. */
  def dfOf(e: Long): Long = df.getOrElse(e, -1L)

  override def toString: String = s"HotShingles(${df.size})"
}

object HotShingles {

  val empty: HotShingles = HotShingles(Map.empty[Long, Long])

  /** Collect a (s: bigint, _df) relation on the driver: one small job, the
    * list holding only over-cap shingles (at most postings / cap rows). */
  def collect(hot: DataFrame): HotShingles =
    HotShingles(hot.select("s", "_df").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
}

/** The kernel as a Catalyst expression over `array<long>` only (analysis
  * rejects any other input): the capped array when `banding` is None,
  * else the `array<long>` band keys for `banding` = (numHashes,
  * rowsPerBand). */
case class ShingleKernel(child: Expression, hot: HotShingles, floor: Int,
    banding: Option[(Int, Int)]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName takes " +
      s"array<bigint> shingle fingerprints, got ${t.simpleString}")
  }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingle_kernel"
  override def dataType: DataType =
    if (banding.isEmpty) child.dataType
    else ArrayType(LongType, containsNull = false)

  /** Called from eval and from generated code. */
  def kernel(arr: ArrayData): ArrayData = {
    val kept = MinHashExprs.keep(arr, hot, floor)
    ArrayData.toArrayData(banding match {
      case None => kept
      case Some((n, r)) => MinHashExprs.bandKeys(kept, n, r)
    })
  }

  override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    // the expression itself is the reference object: the hot list never
    // enters the code text
    val ref = ctx.addReferenceObj("shingleKernel", this,
      classOf[ShingleKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): ShingleKernel = copy(child = newChild)
}
