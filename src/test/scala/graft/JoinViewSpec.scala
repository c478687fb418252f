package graft

import graft.streaming.JoinViewMaintenance
import org.apache.spark.sql.DataFrame

/** Incremental join-view maintenance (streaming/JoinViewMaintenance):
  * the maintained view must equal the one-shot join of the CURRENT
  * sides after every batch — under upserts, deletes on either side,
  * and fk re-pointing — and the versioned commit must make a retried
  * batch a no-op. */
class JoinViewSpec extends SparkTestBase {

  import spark.implicits._

  private def L(rows: (String, String, String, String)*): DataFrame =
    rows.toDF("pk", "fk", "payload", "op")
  private def emptyL: DataFrame =
    Seq.empty[(String, String, String, String)].toDF("pk", "fk", "payload", "op")
  private def R(rows: (String, String, String)*): DataFrame =
    rows.toDF("pk", "payload", "op")
  private def emptyR: DataFrame =
    Seq.empty[(String, String, String)].toDF("pk", "payload", "op")

  private def viewSet(dir: String): Set[(String, String, String, String)] =
    JoinViewMaintenance.view(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet

  /** One-shot join of the maintained sides — the parity oracle. */
  private def oneShot(dir: String): Set[(String, String, String, String)] = {
    val (l, r) = JoinViewMaintenance.sides(spark, dir)
    l.join(r.withColumnRenamed("payload", "rp"), "fk")
      .select("pk", "fk", "payload", "rp")
      .collect().map(x => (x.getString(0), x.getString(1), x.getString(2),
        x.getString(3))).toSet
  }

  test("view == one-shot join after every batch; deletes and fk re-points propagate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jv").toString
    // batch 0: two facts, two dims
    JoinViewMaintenance.update(dir,
      L(("o1", "c1", "a", "upsert"), ("o2", "c2", "b", "upsert")),
      R(("c1", "Alice", "upsert"), ("c2", "Bob", "upsert")), 0L)
    assert(viewSet(dir) === Set(("o1", "c1", "a", "Alice"),
      ("o2", "c2", "b", "Bob")))
    assert(viewSet(dir) === oneShot(dir))

    // batch 1: dim UPDATE fans out to every fact pointing at it,
    // including a fact arriving in the same batch
    JoinViewMaintenance.update(dir,
      L(("o3", "c1", "c", "upsert")), R(("c1", "Alicia", "upsert")), 1L)
    assert(viewSet(dir) === Set(("o1", "c1", "a", "Alicia"),
      ("o2", "c2", "b", "Bob"), ("o3", "c1", "c", "Alicia")))
    assert(viewSet(dir) === oneShot(dir))

    // batch 2: dim DELETE drops its facts from the view; an fk
    // re-point joins the moved fact to the NEW dim
    JoinViewMaintenance.update(dir,
      L(("o1", "c3", "a2", "upsert")),
      R(("c2", null, "delete"), ("c3", "Cara", "upsert")), 2L)
    assert(viewSet(dir) === Set(("o1", "c3", "a2", "Cara"),
      ("o3", "c1", "c", "Alicia")))
    assert(viewSet(dir) === oneShot(dir))

    // batch 3: fact delete; an empty-side batch is legal
    JoinViewMaintenance.update(dir,
      L(("o3", null, null, "delete")), emptyR, 3L)
    assert(viewSet(dir) === Set(("o1", "c3", "a2", "Cara")))
    assert(viewSet(dir) === oneShot(dir))

    // batch 4: re-inserting a dim RESURRECTS the still-live facts
    // pointing at it (o2 was never deleted from L — only its dim was),
    // via the ΔR fan-out against current left state
    JoinViewMaintenance.update(dir,
      L(("o4", "c9", "d", "upsert")), R(("c2", "Bob2", "upsert")), 4L)
    assert(viewSet(dir) === Set(("o1", "c3", "a2", "Cara"),
      ("o2", "c2", "b", "Bob2")))
    assert(viewSet(dir) === oneShot(dir))
    // a dangling fact (o4 → c9) joins only once its dim lands
    JoinViewMaintenance.update(dir, emptyL, R(("c9", "Zoe", "upsert")), 5L)
    assert(viewSet(dir) === Set(("o1", "c3", "a2", "Cara"),
      ("o2", "c2", "b", "Bob2"), ("o4", "c9", "d", "Zoe")))
    assert(viewSet(dir) === oneShot(dir))
  }

  test("key-partitioned state: a batch dirtying k buckets writes exactly k bucket dirs") {
    import graft.streaming.BucketedState
    val dir = java.nio.file.Files.createTempDirectory("graft_jv_part").toString
    val p = JoinViewMaintenance.NumBuckets
    def bucketOf(key: String): Int =
      spark.range(1)
        .select(BucketedState.bucketOf(org.apache.spark.sql.functions.lit(key), p))
        .collect().head.getInt(0)

    // seed batch: facts/dims spread over several buckets
    val seedKeys = (0 until 12).map(i => s"o$i")
    JoinViewMaintenance.update(dir,
      L(seedKeys.map(k => (k, "c1", "x", "upsert")): _*),
      R(("c1", "Alice", "upsert")), 0L)
    val seedBuckets = (seedKeys.map(bucketOf) :+ bucketOf("c1")).toSet
    assert(BucketedState.bucketDirs(spark, dir, 0L) === seedBuckets)
    assert(seedBuckets.size > 1, "fixture must span several buckets")

    // one-fact batch: ONLY that fact's bucket is rewritten — every other
    // bucket carries forward as a manifest pointer to v=0, zero copies
    JoinViewMaintenance.update(dir, L(("o3", "c1", "y", "upsert")), emptyR, 1L)
    assert(BucketedState.bucketDirs(spark, dir, 1L) === Set(bucketOf("o3")))
    val Some((v, mp, manifest)) = BucketedState.latestManifest(spark, dir)
    assert(v === 1L && mp === p)
    assert(manifest(bucketOf("o3")) === 1L)
    assert(manifest.count(_._2 == 0L) === (seedBuckets - bucketOf("o3")).size)
    // ...and the merged view is still exactly the one-shot join
    assert(viewSet(dir) === oneShot(dir))
    assert(viewSet(dir).contains(("o3", "c1", "y", "Alice")))

    // a dim update fans out to its facts' buckets — dirty set is the
    // union of the dim's own bucket and every pointing fact's bucket
    JoinViewMaintenance.update(dir, emptyL, R(("c1", "Alicia", "upsert")), 2L)
    assert(BucketedState.bucketDirs(spark, dir, 2L) === seedBuckets)
    assert(viewSet(dir) === oneShot(dir))

    // a compacting fold with empty sides at the next batch id folds
    // every live pointer into ONE full version and changes nothing
    // observable
    val before = viewSet(dir)
    JoinViewMaintenance.compactUpdate(dir, emptyL, emptyR, 3L)
    val Some((cv, _, cm)) = BucketedState.latestManifest(spark, dir)
    assert(cv === 3L && cm.values.toSet === Set(3L))
    assert(BucketedState.bucketDirs(spark, dir, 3L) === seedBuckets)
    assert(viewSet(dir) === before)
    // the stream keeps folding on top of the compacted state
    JoinViewMaintenance.update(dir, L(("o5", "c1", "e", "upsert")),
      emptyR, 4L)
    assert(viewSet(dir) === oneShot(dir))
  }

  test("retried batch is a no-op (versioned commit guard)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jv_retry").toString
    JoinViewMaintenance.update(dir,
      L(("o1", "c1", "a", "upsert")), R(("c1", "Alice", "upsert")), 0L)
    val before = viewSet(dir)
    // a retry of batch 0 delivering DIFFERENT rows must change nothing —
    // the version already committed
    JoinViewMaintenance.update(dir,
      L(("o1", "c1", "TORN", "upsert")), R(("c1", "TORN", "upsert")), 0L)
    assert(viewSet(dir) === before)
  }

  test("parity against a randomized multi-batch history") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jv_rand").toString
    val rnd = new scala.util.Random(9)
    var batch = 0L
    for (_ <- 0 until 6) {
      val lRows = (0 until 8).map { _ =>
        val pk = s"o${rnd.nextInt(12)}"
        val fk = s"c${rnd.nextInt(5)}"
        if (rnd.nextInt(5) == 0) (pk, null: String, null: String, "delete")
        else (pk, fk, s"p$batch", "upsert")
      }.groupBy(_._1).map(_._2.last).toSeq // pre-collapse: one row per key
      val rRows = (0 until 3).map { _ =>
        val k = s"c${rnd.nextInt(5)}"
        if (rnd.nextInt(4) == 0) (k, null: String, "delete")
        else (k, s"d$batch", "upsert")
      }.groupBy(_._1).map(_._2.last).toSeq
      JoinViewMaintenance.update(dir, L(lRows: _*), R(rRows: _*), batch)
      assert(viewSet(dir) === oneShot(dir), s"diverged at batch $batch")
      batch += 1
    }
  }
}
