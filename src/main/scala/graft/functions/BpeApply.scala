package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BPE segmentation: apply a learned merge list to one word, producing its
  * subword tokens (Sennrich et al. 2016). The merge list is the MODEL —
  * driver-resident state, embedded in the plan as a codegen reference
  * object, exactly like a broadcast variable but cheaper (it rides the
  * serialized expression).
  *
  * Semantics (pinned against two independent spellings in `BpeSpec`):
  * the word splits into code points, then each merge `(a, b)` rewrites the
  * symbol sequence GREEDILY LEFT-TO-RIGHT, non-overlapping — `[a,a,a]`
  * under merge `(a,a)` → `[aa, a]` — and merges apply in list order. This
  * equals the classic reference implementation's per-word loop, and equals
  * a chain of literal string `replace` calls over the padded-symbol
  * spelling (the specs' `ReferenceSpellings.bpeApplyHof`), which is how the DuckDB oracle
  * applies the same list.
  *
  * One fused loop per word, no per-merge string re-splits; at a production
  * merge count (~30k) the same loop applies with a hash-set of merge pairs
  * + priority scan instead of the linear list — the expression shape
  * (word in, token array out, model as a reference object) is the 100 TB
  * contract.
  */
case class BpeApply(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_apply"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bpe_apply expects string, got $other")
    }

  @transient private lazy val model: Array[Array[String]] =
    merges.map(m => Array(m._1, m._2)).toArray

  override def nullSafeEval(input: Any): Any =
    BpeApply.compute(input.asInstanceOf[UTF8String], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", model, "java.lang.String[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeApply.compute($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApply =
    copy(child = newChild)
}

object BpeApply {

  /** Called from generated code — must stay static-shaped (no closures). */
  def compute(word: UTF8String, merges: Array[Array[String]]): ArrayData = {
    val str = word.toString
    // code-point split (matches the oracle's regexp '(.)' per-codepoint arm)
    var syms = new Array[String](str.length)
    var n = 0
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val l = Character.charCount(cp)
      syms(n) = str.substring(i, i + l)
      n += 1
      i += l
    }
    var m = 0
    while (m < merges.length) {
      val a = merges(m)(0)
      val b = merges(m)(1)
      // greedy left-to-right non-overlapping rewrite, in place (w <= r)
      var r = 0
      var w = 0
      while (r < n) {
        if (r + 1 < n && syms(r) == a && syms(r + 1) == b) {
          syms(w) = a + b
          r += 2
        } else {
          syms(w) = syms(r)
          r += 1
        }
        w += 1
      }
      n = w
      m += 1
    }
    val out = new Array[Any](n)
    var j = 0
    while (j < n) {
      out(j) = UTF8String.fromString(syms(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  import org.apache.spark.sql.graft.ColumnBridge

  /** Column form. The merge list is a frozen model embedded in the plan —
    * budget-checked so a grown vocab fails loudly at the freeze point
    * instead of taxing every task (see [[graft.plans.ModelBudget]]). */
  def apply(word: Column, merges: Seq[(String, String)]): Column = {
    graft.plans.ModelBudget.assertWithinBudget("bpe merge list", merges)
    ColumnBridge.column(BpeApply(ColumnBridge.expression(word), merges))
  }
}
