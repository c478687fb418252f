package graft

import graft.functions.{Ivf, VectorOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CI pin for the PRODUCTION-NLIST hard-negative mining operating point
  * (SCALE.md's measured curve, round 15: band recall ≥ 60% holds while
  * probing ≤ 25% of the cells once nlist reaches production granularity
  * — 80% at nlist=64/25%, 90% at nlist=256/25%). A 45-minute scaled
  * run established the claim (SCALE.md, "IVF hard-negative mining at
  * production nlist"); this spec keeps a
  * REGRESSION GUARD on it at suite cadence with a corpus just big
  * enough for nlist = 64: a drift in probeCells/assignCells math (tie
  * order, argmax, sampling fallback) that degraded pruned recall would
  * fail here, not in a tool nobody re-runs. The plant/band construction
  * is the q230b gate's own (Media.hardNegBand) so this pin can never
  * desynchronize from what it protects; reference analog: the serving
  * cluster is sized for the working set (`ops.py:75-87`) — the sizing
  * claim carries a recurring check. */
class MiningScaleSpec extends SparkTestBase {

  test("nlist=64 pruned mining: band recall >= 60% probing <= 25% of cells; every anchor's unbanded top-1 is an exact replica; probe list honors nprobe") {
    val nAnchors = 20
    val copies = 40 // 40 x 500 sf0.001 vectors = 20k — enough for nlist 64
    val nlist = 64
    val nprobe = 16 // exactly 25% of the cells
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // the tool's scaled recipe: exact replicas with disjoint id ranges
    // (each anchor has copies - 1 exact copies at sim 1.0 the band must
    // exclude and the unbanded top-1 must surface); anchors stay out of
    // the corpus so "its replica" is never "itself"
    val corpus = tools.Replicate.stripe(e, Seq("vec_id"), copies)
      .filter(!(col("vec_id") < nAnchors))
      .localCheckpoint()
    val q = e.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("q_id"), col("v").as("qe"))
      .localCheckpoint()

    val band = graft.queries.Media.hardNegBand
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("simd").desc, col("b_id"))
    val qb = broadcast(q.withColumn("qn", VectorOps.l2(col("qe"))))
    // exact band answer: one full-corpus pass (20k x 20 dots)
    val exact = band(corpus.crossJoin(qb)
        .select(col("q_id"), col("vec_id").as("b_id"),
          round(VectorOps.dot(col("v"), col("qe")) /
            (VectorOps.l2(col("v")) * col("qn")), 4)
            .cast(Norm.Dec94).as("simd")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("q_id", "b_id").localCheckpoint()
    val total = exact.count()
    assert(total >= nAnchors * 3L,
      s"exact band answer too thin ($total rows) — the recall check is weak")

    val path = GatedQuery.indexScratch(sf, "mining_scale_nlist64")
    Ivf.writeIndex(corpus, "vec_id", "v", nlist, path, iters = 2,
      sampleMod = 7)
    val centroids = Ivf.readCentroids(spark, path)
    assert(centroids.size === nlist)

    val probed = broadcast(q.select(col("q_id"), col("qe"),
      VectorOps.l2(col("qe")).as("qn"),
      explode(Ivf.probeCells(Ivf.unit(col("qe")), centroids, nprobe))
        .as("probe")))
    val wanted = probed.select("probe").distinct()
      .collect().map(_.getInt(0)).toSeq
    // each anchor probes exactly nprobe cells = 25% of nlist; the UNION
    // over anchors may touch more, but no single query reads past its
    // own pruned fraction
    val perAnchor = probed.groupBy("q_id").count()
      .select(max("count")).head().getLong(0)
    assert(perAnchor === nprobe.toLong,
      s"an anchor probed $perAnchor cells, expected $nprobe")

    val cand = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(wanted: _*))
      .join(probed, col("cell") === col("probe"))
      .select(col("q_id"), col("nn_id").as("b_id"),
        round(VectorOps.dot(col("cv"), col("qe")) /
          (col("cn") * col("qn")), 4)
          .cast(Norm.Dec94).as("simd"))
      .localCheckpoint()
    val ivfBand = band(cand)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("q_id", "b_id")
    val hits = exact.join(ivfBand, Seq("q_id", "b_id"), "leftsemi").count()
    val recall = hits.toDouble / total
    assert(recall >= 0.6,
      f"pruned band recall $recall%.2f ($hits/$total) fell under the 60%% " +
        f"floor at nlist=$nlist nprobe=$nprobe — the SCALE.md mining " +
        "operating point regressed")

    // ceiling check on the replicated corpus: the unbanded top-1 of
    // EVERY anchor must be one of its exact copies (sim 1.0) — and the
    // band excluded those copies by construction
    val copyTop = cand
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("simd") >= lit(BigDecimal("0.9999"))).count()
    assert(copyTop === nAnchors.toLong,
      s"only $copyTop/$nAnchors anchors surfaced an exact replica as " +
        "unbanded top-1 — cell assignment lost the plants")
  }
}
