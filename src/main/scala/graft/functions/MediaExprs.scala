package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Native Catalyst expressions for MEDIA payloads — the perceptual-
  * hash layer of the multimodal pillar. The reference pipeline's image
  * near-dup stage needs a content hash with METRIC structure (small
  * visual change → small Hamming distance), which the exact checksums
  * (q60's md5) cannot give. dHash is the standard public recipe:
  * downsample to a rows×cols grayscale grid, emit one bit per
  * horizontally adjacent pixel pair (left < right), rows·(cols−1)
  * bits total.
  *
  * The CODEC stays stubbed in this container (no image libs — see
  * [[graft.ops.Multimodal]]): the "grayscale grid" here is the
  * deterministic block-mean downsample of the RAW PAYLOAD BYTES —
  * rows·cols equal byte segments, one per grid cell, each cell's luma
  * = the segment's byte mean. Swap the segment means for
  * decoded-pixel means and nothing else changes: the bit layout,
  * banding, and Hamming join are codec-independent. All arithmetic is
  * integer (means compare by cross-multiplication: meanA < meanB ⟺
  * sumA·lenB < sumB·lenA — exact, no floats), so a SQL engine
  * replays the hash bit for bit.
  *
  * Output shape is rows/2 SIXTEEN-BIT QUARTERS, not one packed 64-bit
  * long — the [[EvmExprs.simHashQuarterEval]] scale lesson verbatim:
  * bit 63 would ride the sign bit, and the banded join wants the
  * quarters as separate columns anyway (by pigeonhole, any pair
  * within total Hamming distance rows/2 − 1 agrees exactly on ≥ 1
  * quarter, so the (band, quarter) equi-join finds ALL such pairs
  * over 2¹⁶-value keys — candidate volume ~bands·n²/2¹⁶). Quarter k
  * covers grid rows 2k and 2k+1.
  *
  * GRID GEOMETRY IS THE SCALE LEVER (r13 verdict #4, now a constructor
  * knob instead of narrative): the default 8×9 grid gives 64 bits / 4
  * bands — exact through radius 3, with per-band candidate volume
  * ~n²/2¹⁶ that degrades as n² outruns 2¹⁶. Doubling the rows (16×9 →
  * 128 bits / 8 bands, `dHashQuarters(c, 16, 9)`) keeps the SAME
  * 16-bit band keys (each band still prunes at n²/2¹⁶) while
  * DOUBLING the pigeonhole budget (exact through radius 7) and
  * doubling the bits any fixed radius is spread over — a
  * grid-constant-only change, everything downstream (banding, Hamming
  * re-rank, manifest) width-generic. The `phash_band` family of
  * graft.bench.ScaleLaws measures both widths. One prerequisite the STUB exposes that a real
  * codec never would: the block-mean stand-in needs payloads ≳ 2
  * bytes per grid cell — shorter payloads leave wide-grid segments
  * empty (zero bits), degenerating the hash toward all-zero keys
  * that collide massively. Decoded pixels always fill the grid, so
  * this is a byte-starvation artifact of the sampling stand-in, not
  * of the layout; the bench floors its corpus accordingly. */
object MediaExprs {

  /** Default grid geometry: 8 comparison rows × 9 sample columns = 72
    * cells, 8 comparisons per row = 64 bits / 4 quarters. */
  val GridRows = 8
  val GridCols = 9
  val GridCells: Int = GridRows * GridCols

  /** Default-grid entry point (the q216/q218 hash — kept as the exact
    * 8×9 layout those oracles replay). */
  def dHashQuartersEval(payload: Array[Byte]): GenericArrayData =
    dHashQuartersEval(payload, GridRows, GridCols)

  /** payload bytes → array<long>(gridRows/2) of ≤16-bit dHash
    * quarters at the given grid. EMPTY (non-null, zero-length)
    * payloads hash to all-zero quarters (no comparisons fire); a NULL
    * payload never reaches this function — the expression is
    * null-propagating (`nullSafeEval`), so NULL payloads yield NULL
    * quarters, drop out of the band join in both engines, and read
    * `kept` in the dedup manifest (r13 advice: the doc used to claim
    * null → zero quarters; the null guard here is for direct callers
    * only). Static and allocation-light: one pass over the bytes for
    * the segment sums, then rows·(cols−1) integer
    * cross-multiplications. */
  def dHashQuartersEval(payload: Array[Byte], gridRows: Int,
      gridCols: Int): GenericArrayData = {
    val cells = gridRows * gridCols
    val bitsPerRow = gridCols - 1
    val n = if (payload == null) 0 else payload.length
    val sums = new Array[Long](cells)
    val lens = new Array[Long](cells)
    var i = 0
    while (i < cells) {
      val lo = (i.toLong * n / cells).toInt
      val hi = ((i + 1).toLong * n / cells).toInt
      var s = 0L
      var j = lo
      while (j < hi) { s += (payload(j) & 0xff); j += 1 }
      sums(i) = s
      lens(i) = (hi - lo).toLong
      i += 1
    }
    val qs = new Array[Long](gridRows / 2)
    var r = 0
    while (r < gridRows) {
      var c = 0
      while (c < bitsPerRow) {
        val a = r * gridCols + c
        val b = a + 1
        // mean(a) < mean(b) by exact integer cross-multiplication;
        // an empty segment (len 0, sum 0) never wins a comparison
        if (sums(a) * lens(b) < sums(b) * lens(a))
          qs(r / 2) |= 1L << ((r % 2) * bitsPerRow + c)
        c += 1
      }
      r += 1
    }
    new GenericArrayData(qs)
  }

  /** Column API — default 8×9 grid (4 quarters, the q216/q218 hash). */
  def dHashQuarters(c: Column): Column =
    Bridge.column(DHashQuartersExpr(Bridge.expression(c)))

  /** Width-generic column API: `gridRows`/2 quarters of 2·(gridCols−1)
    * bits each. */
  def dHashQuarters(c: Column, gridRows: Int, gridCols: Int): Column =
    Bridge.column(
      DHashQuartersExpr(Bridge.expression(c), gridRows, gridCols))
}

/** BINARY payload → array<long>(gridRows/2) of ≤16-bit dHash
  * quarters, fused. Geometry constraints: even positive row count (a
  * quarter packs two rows) and 2 ≤ gridCols ≤ 9 so a quarter's
  * 2·(gridCols−1) bits stay within the 16-bit band-key budget the
  * banded join's 2¹⁶-value-key law is priced on. */
case class DHashQuartersExpr(child: Expression,
    gridRows: Int = MediaExprs.GridRows,
    gridCols: Int = MediaExprs.GridCols) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, LongType}
  require(gridRows > 0 && gridRows % 2 == 0,
    s"dhash_quarters: gridRows must be even and positive, got $gridRows")
  require(gridCols >= 2 && gridCols <= 9,
    s"dhash_quarters: gridCols must be in [2, 9] (16-bit band keys), got $gridCols")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dhash_quarters needs BINARY, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    MediaExprs.dHashQuartersEval(v.asInstanceOf[Array[Byte]], gridRows,
      gridCols)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MediaExprs.dHashQuartersEval($c, $gridRows, $gridCols)")
  override protected def withNewChildInternal(newChild: Expression): DHashQuartersExpr =
    copy(child = newChild)
}
