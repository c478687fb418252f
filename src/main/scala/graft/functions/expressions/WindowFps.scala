package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit fingerprint of every `w`-token sliding window, in ONE pass —
  * the span-relation kernel (text/Spans, q104's substring dedup).
  * Element k (0-based) fingerprints tokens [k, k+w): each token hashes
  * once via XXH64 over its UTF-8 bytes (seed 42), and the window chains
  * the w token hashes through XXH64.hashLong. That is structurally
  * analogous to `xxhash64(t_1, …, t_w)` but its values differ: Spark
  * seeds each argument's hash with the running hash, while here every
  * token hashes at seed 42 and only the results chain. Two windows
  * collide only in the 2⁻⁶⁴ class the Spans scaladoc documents for its
  * hash-equality trade. Replaces the interpreted
  * `transform(sequence(0, n−w), i -> xxhash64(concat_ws(" ",
  * slice(toks, i+1, w))))` pipeline, which materialized a w-token STRING
  * per window (O(n·w) bytes per document, interpreted lambda dispatch
  * per window — a ~1 s serial stage on q104's corpus at sf0.1).
  *
  * The fingerprint DOMAIN differs from the old
  * xxhash64-of-joined-string values — window fingerprints are internal
  * equality keys (repeated-window detection, index join keys), never
  * query output, and window equality ⟺ fingerprint equality holds
  * identically in both domains up to the documented collision class.
  * (The column stays bigint, so Spans.appendToIndex's schema guard
  * cannot distinguish the domains — same-process rebuild-per-run usage
  * is the contract, as for the SimJoin fingerprint domains.)
  *
  * Fewer than w tokens → empty array (spanRelation filters those docs
  * anyway). A null token hashes as the empty string (defensive — the
  * tokenizer never emits null). */
case class WindowFps(child: Expression, w: Int) extends UnaryExpression {

  require(w >= 1, s"window_fps: window must be >= 1, got $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_fps"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < w) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (arr.isNullAt(i)) XXH64.hashUnsafeBytes(null, 0L, 0, 42L)
      else {
        val t = arr.getUTF8String(i)
        XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
      }
      i += 1
    }
    val out = new Array[Long](n - w + 1)
    i = 0
    while (i <= n - w) {
      var h = 42L
      var j = 0
      while (j < w) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("this", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$expr.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WindowFps =
    copy(child = newChild)
}
