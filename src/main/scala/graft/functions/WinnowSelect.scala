package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused winnowing selection (Schleimer et al. 2003): over a gram-hash
  * array, the distinct per-window minima at window width `w`, ties to the
  * RIGHTMOST position — semantically identical to
  * the built-in spelling `ReferenceSpellings.selectExprOf` in the specs, which
  * re-reads the whole window per output (an interpreted `aggregate` lambda
  * inside a `transform`, O(len·w) interpreted steps and a struct
  * allocation per window). This expression runs ONE monotonic-deque sweep:
  * O(len) comparisons, one output row per SELECTED fingerprint only
  * (consecutive windows usually re-select the same gram — the argmin
  * position is non-decreasing as the window slides, so duplicate
  * suppression is a single last-position check, exactly `array_distinct`'s
  * result on the monotone selection).
  *
  * Output: `array<struct<pos:int, fp:string>>`, 1-based positions; fewer
  * than `w` grams → empty array (callers filter `size(hs) >= w` anyway).
  * Comparison is UTF8String binary order ≡ lexicographic on the lowercase
  * hex digests it consumes — bit-identical to the HOF spelling
  * (`WinnowSelectSpec` pins native ≡ HOF on randomized arrays).
  */
case class WinnowSelect(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("fp", StringType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "winnow_select"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"winnow_select expects array<string>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    WinnowSelect.compute(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowSelect.compute($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)
}

object WinnowSelect {

  import org.apache.spark.sql.graft.ColumnBridge

  /** Column form. */
  def apply(hs: org.apache.spark.sql.Column, w: Int): org.apache.spark.sql.Column =
    ColumnBridge.column(WinnowSelect(ColumnBridge.expression(hs), w))

  /** Called from generated code — must stay static-shaped (no closures). */
  def compute(arr: ArrayData, w: Int): ArrayData = {
    val len = arr.numElements()
    if (len < w) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[UTF8String](len)
    var i = 0
    while (i < len) { hs(i) = arr.getUTF8String(i); i += 1 }
    // monotonic deque of 0-based indices with strictly increasing values;
    // a push pops every tail with value >= the newcomer, so the FRONT of
    // a full window is its minimum with the RIGHTMOST tie (the paper's
    // rule, and exactly the built-in spelling's `<=` left fold)
    val dq = new Array[Int](len)
    var head = 0
    var tail = 0 // exclusive
    val out = new java.util.ArrayList[Any](2 * len / (w + 1) + 4)
    var lastPos = -1
    i = 0
    while (i < len) {
      while (tail > head && hs(dq(tail - 1)).compareTo(hs(i)) >= 0) tail -= 1
      dq(tail) = i
      tail += 1
      val start = i - w + 1 // window [start, i]
      if (start >= 0) {
        if (dq(head) < start) head += 1
        val sel = dq(head)
        if (sel != lastPos) {
          out.add(InternalRow(sel + 1, hs(sel)))
          lastPos = sel
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
