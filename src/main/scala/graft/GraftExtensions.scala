package graft

import graft.functions.expressions.{FloatVecDot, JaccardSets, MinHashSig, RollingHash, ShingleFps, ShingleHashes, SimHash16, SortedIntersectCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Engine extensions. [[GraftSession]] installs them through
  * `spark.sql.extensions` on every session this engine creates — the
  * documented public path for registering native Catalyst expressions
  * (SURVEY.md §4 extension ladder, tier (b)/(c)). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Arity-checked builder (r18 ADVICE: `exprs(1)` indexed unguarded —
    * a 1-arg call to a 2-arg function threw an opaque
    * IndexOutOfBounds instead of a usage message). */
  private def checked(name: String, n: Int)(build: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = exprs => {
    if (exprs.size != n) throw new IllegalArgumentException(
      s"$name expects $n argument(s), got ${exprs.size}")
    build(exprs)
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // As-of join: custom LogicalPlan → SparkPlan (plans/AsOfJoin.scala),
    // the §4 ladder's tier (c) — whole-operator semantics the built-in
    // operators can't express without a quadratic pair blow-up.
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      checked("rolling_hash", 1)(exprs => RollingHash(exprs.head))))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      checked("vec_dot", 2)(exprs => FloatVecDot(exprs.head, exprs(1)))))
    ext.injectFunction((
      new FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      checked("simhash16", 1)(exprs => SimHash16(exprs.head))))
    ext.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      checked("shingle_hashes", 1)(exprs => ShingleHashes(exprs.head))))
    ext.injectFunction((
      new FunctionIdentifier("shingle_fps"),
      new ExpressionInfo(classOf[ShingleFps].getName, "shingle_fps"),
      checked("shingle_fps", 1)(exprs => ShingleFps(exprs.head))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      checked("minhash_sig", 2) {
        case Seq(sh, Literal(k: Int, _)) => MinHashSig(sh, k)
        case Seq(_, other) => throw new IllegalArgumentException(
          s"minhash_sig: k must be an integer literal, got $other")
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      checked("sorted_intersect_count", 2)(exprs =>
        SortedIntersectCount(exprs.head, exprs(1)))))
    ext.injectFunction((
      new FunctionIdentifier("jaccard_sets"),
      new ExpressionInfo(classOf[JaccardSets].getName, "jaccard_sets"),
      checked("jaccard_sets", 2)(exprs => JaccardSets(exprs.head, exprs(1)))))
    // Bloom-filter build/probe — Catalyst's own runtime-row-level-filter
    // expressions (used internally by InjectRuntimeFilter), surfaced as
    // engine functions so join pruning can be EXPLICIT in a query program
    // (operators/BloomPrune). Keys hash through XxHash64 on both sides, the
    // same discipline the built-in rule applies; any input type works.
    //   bloom_agg(key[, estimated_items])  → binary sketch (aggregate)
    //   bloom_contains(sketch, key)        → boolean, no false negatives
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_agg"),
      (exprs: Seq[Expression]) => {
        val hashed = new XxHash64(Seq(exprs.head))
        exprs match {
          case Seq(_) => new BloomFilterAggregate(hashed)
          case Seq(_, Literal(n: Number, _)) =>
            new BloomFilterAggregate(hashed, n.longValue())
          case Seq(_, other) => throw new IllegalArgumentException(
            s"bloom_agg: estimated_items must be an integer literal, got $other")
          case _ => throw new IllegalArgumentException(
            "bloom_agg(key[, estimated_items])")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "bloom_contains"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(sketch, key) =>
          BloomFilterMightContain(sketch, new XxHash64(Seq(key)))
        case _ => throw new IllegalArgumentException(
          "bloom_contains(sketch, key)")
      }))
  }
}
