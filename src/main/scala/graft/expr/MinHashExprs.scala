package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The df-capped MinHash banding kernel: one per-row pass over a doc's
  * DISTINCT shingle array (`array<string>` or `array<long>`) applying the
  * stop-shingle cap, the rarest-hot floor rescue, the signature and the
  * band keys, with the df decisions from a driver-held [[HotShingles]].
  * Byte-identical to the relational formulation it replaced (Spark's
  * XXH64, seed 42, chained over (int, UTF-8 bytes | long) as `xxhash64`
  * chains its arguments; rescue order (df, shingle) in Spark's order):
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

  /** What `xxhash64(lit(h), e)` computes once `seed` = hashInt(h, 42). */
  private def hashOf(e: AnyRef, seed: Long): Long = e match {
    case s: UTF8String =>
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
    case l: java.lang.Long => XXH64.hashLong(l.longValue, seed)
  }

  private[expr] def keep(arr: ArrayData, isString: Boolean,
      hot: HotShingles, floor: Int): Array[AnyRef] = {
    val (cold, hotOnes) = (0 until arr.numElements()).map { i =>
      if (isString) arr.getUTF8String(i).copy(): AnyRef
      else java.lang.Long.valueOf(arr.getLong(i))
    }.partition(hot.dfOf(_) < 0)
    val need = floor - cold.size
    if (need <= 0) cold.toArray
    else (cold ++ hotOnes.sortWith { (a, b) =>
      val (da, db) = (hot.dfOf(a), hot.dfOf(b))
      da < db || (da == db && HotShingles.compare(a, b) < 0)
    }.take(need)).toArray
  }

  private[expr] def bandKeys(kept: Array[AnyRef], numHashes: Int,
      rowsPerBand: Int): Array[Long] =
    if (kept.isEmpty) Array.emptyLongArray
    else {
      val seeds = Array.tabulate(numHashes)(h => XXH64.hashInt(h, Seed))
      val sig = Array.fill(numHashes)(Long.MaxValue)
      kept.foreach { e =>
        var h = 0
        while (h < numHashes) {
          sig(h) = math.min(sig(h), hashOf(e, seeds(h)))
          h += 1
        }
      }
      Array.tabulate(numHashes / rowsPerBand) { b =>
        hashOf(UTF8String.fromString(sig.slice(b * rowsPerBand,
          (b + 1) * rowsPerBand).mkString("_")), XXH64.hashInt(b, Seed))
      }
    }
}

/** A frozen hot-shingle list (shingle → df, over-cap shingles only),
  * shipped inside the expression; equal lists give equal plans. Keys are
  * `UTF8String` or `java.lang.Long`, matching the arrays they cap. */
case class HotShingles(df: Map[AnyRef, Long]) {

  /** The shingle's df, or -1 when it is not hot. */
  def dfOf(e: AnyRef): Long = df.getOrElse(e, -1L)

  override def toString: String = s"HotShingles(${df.size})"
}

object HotShingles {

  val empty: HotShingles = HotShingles(Map.empty[AnyRef, Long])

  /** Collect a (s, _df) relation on the driver: one small job, the list
    * holding only over-cap shingles (at most postings / cap rows). */
  def collect(hot: DataFrame): HotShingles =
    HotShingles(hot.select("s", "_df").collect().map { r =>
      (r.get(0) match {
        case s: String => UTF8String.fromString(s)
        case l => l.asInstanceOf[AnyRef]
      }) -> r.getLong(1)
    }.toMap)

  /** Spark's order on shingles: binary for strings, signed for longs. */
  private[expr] def compare(a: AnyRef, b: AnyRef): Int = (a, b) match {
    case (x: UTF8String, y: UTF8String) => x.binaryCompare(y)
    case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
  }
}

/** The kernel as a Catalyst expression: the capped shingle array (same
  * type as the input) when `banding` is None, else the `array<long>` band
  * keys for `banding` = (numHashes, rowsPerBand). */
case class ShingleKernel(child: Expression, hot: HotShingles, floor: Int,
    banding: Option[(Int, Int)]) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingle_kernel"
  override def dataType: DataType =
    if (banding.isEmpty) child.dataType
    else ArrayType(LongType, containsNull = false)

  @transient private lazy val isString = child.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  /** Called from eval and from generated code. */
  def kernel(arr: ArrayData): ArrayData = {
    val kept = MinHashExprs.keep(arr, isString, hot, floor)
    banding match {
      case None => new GenericArrayData(kept.map(e => e: Any))
      case Some((n, r)) =>
        ArrayData.toArrayData(MinHashExprs.bandKeys(kept, n, r))
    }
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
