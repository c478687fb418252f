package graft

import graft.functions.VectorOps
import graft.text.{NearDup, TextOps}
import org.apache.spark.sql.functions._

/** Property-style invariants for the text/vector operators (SURVEY.md §5):
  * cosine range/symmetry, dedup idempotence, fingerprint determinism, LSH
  * recall on planted near-duplicates, SimHash Hamming proximity. */
class TextVectorSpec extends SparkTestBase {

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf)

  test("cosine is 1.0 on itself, symmetric, and within [-1, 1]") {
    val pairs = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      .crossJoin(emb.filter(col("vec_id") < 30)
        .select(col("vec_id").as("b_id"), col("embedding").as("eb")))
      .select(col("a_id"), col("b_id"),
        VectorOps.cosine(col("ea"), col("eb")).as("ab"),
        VectorOps.cosine(col("eb"), col("ea")).as("ba"))
      .collect()
    pairs.foreach { r =>
      val (ab, ba) = (r.getDouble(2), r.getDouble(3))
      assert(ab >= -1.0000001 && ab <= 1.0000001)
      assert(math.abs(ab - ba) < 1e-12, "symmetry")
      if (r.getLong(0) == r.getLong(1)) assert(math.abs(ab - 1.0) < 1e-9)
    }
  }

  test("native vec_dot is bit-identical to the HOF fold on real embeddings") {
    val a = emb.limit(100).select(col("vec_id"), col("embedding").as("a"))
    val b = emb.limit(10).select(col("embedding").as("b"))
    val bad = a.crossJoin(b).filter(
      VectorOps.dot(col("a"), col("b")) =!= VectorOps.dotHof(col("a"), col("b")) ||
        VectorOps.l2(col("a")) =!= VectorOps.l2Hof(col("a")))
    assert(bad.count() === 0)
  }

  test("vec_dot on array<double> matches the HOF fold (IVF centroid path)") {
    val vd = emb.limit(100).select(
      transform(col("embedding"), _.cast("double")).as("a"),
      transform(reverse(col("embedding")), _.cast("double")).as("b"))
    val bad = vd.filter(
      call_function("vec_dot", col("a"), col("b")) =!=
        VectorOps.dotHof(col("a"), col("b")))
    assert(bad.count() === 0)
  }

  test("vec_dot null-propagates a NULL element exactly like the HOF fold") {
    import spark.implicits._
    // (a, b): clean pair, null element left, null element right, both
    val rows = Seq(
      (Seq[java.lang.Float](1f, 2f, 3f), Seq[java.lang.Float](4f, 5f, 6f)),
      (Seq[java.lang.Float](1f, null, 3f), Seq[java.lang.Float](4f, 5f, 6f)),
      (Seq[java.lang.Float](1f, 2f, 3f), Seq[java.lang.Float](4f, null, 6f)),
      (Seq[java.lang.Float](1f, null, 3f), Seq[java.lang.Float](4f, null, 6f)))
      .toDF("a", "b")
      .select(VectorOps.dot(col("a"), col("b")).as("native"),
        VectorOps.dotHof(col("a"), col("b")).as("hof"))
      .collect()
    assert(!rows(0).isNullAt(0) && rows(0).getDouble(0) === 32.0)
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"native/HOF null disagreement: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1))
    }
  }

  test("vec_dot codegen compiles when the result is non-nullable") {
    // non-nullable inputs (containsNull=false arrays of non-null exprs)
    // make the whole expression non-nullable; codegen must not assign the
    // undeclared/constant isNull slot. fallback=false turns the silent
    // interpreted fallback into a hard failure so this is a real gate.
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = spark.range(3).select(
        call_function("vec_dot",
          array((col("id") + 1).cast("float"), lit(2.0f)),
          typedLit(Array(4.0f, 5.0f))).as("d"))
        .collect().map(_.getDouble(0)).sorted
      assert(out.toSeq === Seq(14.0, 18.0, 22.0))
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("exact dedup is idempotent and removes planted duplicates") {
    val doubled = docs.unionByName(docs)
    val once = doubled.dropDuplicates()
    val twice = once.dropDuplicates()
    assert(once.count() === docs.count())
    assert(twice.count() === once.count())
  }

  test("fingerprint is deterministic and separates the corpus") {
    val fp = docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    val again = docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    assert(fp.exceptAll(again).count() === 0)
    val distinct = fp.select("fp").distinct().count()
    assert(distinct >= docs.count() * 95 / 100, s"only $distinct distinct fingerprints")
  }

  test("LSH finds planted near-duplicates and only true candidates") {
    // Plant near-dups: drop the last 2 tokens of each of 25 docs — Jaccard
    // vs the original stays high; ids offset by 100000.
    val planted = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), lit(1),
          greatest(size(TextOps.tokens(col("text"))) - 2, lit(3)))).as("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(planted)
      .withColumn("w", TextOps.tokens(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("w"))

    val pairs = NearDup.lshPairs(corpus, "doc_id", "w",
      k = 16, nBands = 4, threshold = 0.5).collect()

    val plantedFound = pairs.count { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      b - a == 100000 && a < 25
    }
    assert(plantedFound >= 20, s"recall too low: $plantedFound/25 planted pairs found")
    // precision of the exact re-rank: every reported pair really clears
    // the Jaccard threshold
    pairs.foreach(r => assert(r.getDouble(2) >= 0.5))
  }

  test("native minhash_sig is bit-identical to the k-pass HOF reference (incl. empty shingle arrays)") {
    // r19: minhashSignature runs one native pass over the shingle
    // hashes (MinHashSig); minhashSignatureHof is the k interpreted
    // transform+array_min passes it replaced. Any drift would re-band
    // every document and change q40/q90's gated pair counts.
    val sh = docs.select(col("doc_id"),
        NearDup.shingleHashes(TextOps.tokens(col("text"))).as("sh"))
      // force the empty-array edge in: a doc with < 3 tokens shingles
      // to [], whose signature must be k nulls on BOTH paths
      .unionByName(spark.range(1).select(lit(900000L).as("doc_id"),
        expr("array()").cast("array<bigint>").as("sh")))
    val diff = sh.select(col("doc_id"),
        NearDup.minhashSignature(col("sh"), 16).as("got"),
        NearDup.minhashSignatureHof(col("sh"), 16).as("want"))
      .filter(!(col("got") <=> col("want"))).count()
    assert(diff === 0, s"$diff docs: native signature != HOF signature")
  }

  test("shingle_fps: sorted, distinct, and size-matched to the distinct trigram-string set on the corpus") {
    // the tokens-path SimJoin materialization (r19) — n = |fps| must
    // equal the distinct trigram-STRING count (what the string path's
    // thresholds used) on real data, and the array must satisfy the
    // sorted_intersect_count contract (ascending, distinct)
    val rows = docs
      .withColumn("w", TextOps.tokens(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        expr("shingle_fps(w)").as("fps"),
        size(TextOps.trigrams(col("w"))).as("nStr"))
      .withColumn("sortedDistinct",
        col("fps") <=> expr("sort_array(array_distinct(fps))"))
    val bad = rows.filter(size(col("fps")) =!= col("nStr") ||
      !col("sortedDistinct")).count()
    assert(bad === 0, s"$bad docs: fps size/order drifts from the trigram-string set")
  }

  test("window_fps: same equality structure as the window-string hashes (per-doc distinct counts + row counts)") {
    // the r19 span kernel changes the fingerprint DOMAIN (token-hash
    // chain vs xxhash64 of the joined window string); what matters is
    // that fingerprint equality still means window equality — pinned by
    // comparing the per-document distinct-fingerprint counts and row
    // counts of both formulations over the real corpus (q104's oracle
    // additionally pins the full masked-count behavior at 3 SFs)
    val w = 20
    val toks = docs
      .withColumn("w", TextOps.tokens(col("text")))
      .filter(size(col("w")) >= w)
      .select(col("doc_id"), col("w"))
      .localCheckpoint()
    val newSpans = graft.text.Spans.spanRelation(toks, "doc_id", "w", w)
    val oldSpans = toks
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("w")) - w),
          i => xxhash64(concat_ws(" ", slice(col("w"), i + 1, lit(w)))))))
      .select(col("doc_id"), col("pos").as("start"), col("col").as("h"))
    def perDoc(spans: org.apache.spark.sql.DataFrame) = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("h")).as("ndv"))
    val newRel = perDoc(newSpans)
    val oldRel = perDoc(oldSpans)
    assert(newRel.exceptAll(oldRel).isEmpty && oldRel.exceptAll(newRel).isEmpty,
      "window fingerprint equality structure drifted from the string form")
    // across documents too: per-doc counts cannot see a window that
    // fingerprints differently in two documents, so the fingerprints of
    // the same (doc_id, start) must be a bijection between the domains
    val pairs = newSpans.withColumnRenamed("h", "h_new")
      .join(oldSpans.withColumnRenamed("h", "h_old"), Seq("doc_id", "start"))
      .select("h_new", "h_old").distinct().localCheckpoint()
    assert(pairs.count() > 0, "no span pairs joined — vacuous")
    def maxFanOut(from: String, to: String): Long =
      pairs.groupBy(from).agg(count(col(to)).as("k"))
        .agg(max(col("k"))).head().getLong(0)
    assert(maxFanOut("h_new", "h_old") === 1L,
      "one new fingerprint maps to several window strings")
    assert(maxFanOut("h_old", "h_new") === 1L,
      "one window string maps to several new fingerprints")
  }

  test("SimHash puts planted near-duplicates at small Hamming distance") {
    // both formulations: HOF reference (xxhash64) and native (Murmur3)
    val variants: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = Seq(
      "hof" -> (NearDup.simhash16(_)),
      "native" -> (t => call_function("simhash16", t)))
    variants.foreach { case (name, sh) =>
      val base = docs.filter(col("doc_id") < 25)
        .select(col("doc_id"), sh(TextOps.tokens(col("text"))).as("sh"))
      val mutated = docs.filter(col("doc_id") < 25)
        .select(col("doc_id"),
          sh(slice(TextOps.tokens(col("text")), lit(1),
            greatest(size(TextOps.tokens(col("text"))) - 2, lit(3)))).as("sh2"))
      val d = base.join(mutated, "doc_id")
        .select(NearDup.hamming(col("sh"), col("sh2")).as("h"))
        .agg(avg(col("h"))).head().getDouble(0)
      assert(d <= 4.0, s"[$name] avg Hamming distance $d too large for near-dups")
    }
  }

  test("semantic dedup: survivor rule matches a hand-built model; cell-local = plan-bounded") {
    import graft.functions.{Ivf, SemDedup}
    import spark.implicits._
    // two tight families far apart on the unit sphere + one loner:
    // e1-family {1, 2} (near-identical), e2-family {10, 11, 12}, loner 20
    def v(axis: Int, eps: Double): Seq[Double] =
      Seq.tabulate(4)(j => (if (j == axis) 1.0 else 0.0) + eps * j)
    val corpus = Seq(
      (1L, v(0, 0.0)), (2L, v(0, 0.001)),
      (10L, v(1, 0.0)), (11L, v(1, 0.001)), (12L, v(1, 0.002)),
      (20L, v(2, 0.0)))
      .toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
    val centroids = Ivf.train(corpus, "vec_id", "v", nlist = 3, iters = 2)
    val surv = SemDedup.survivors(corpus, "vec_id", "v", centroids, tau = 0.97)
      .select("sd_id").as[Long].collect().sorted
    // lowest id per family survives; the loner is untouched
    assert(surv.toSeq === Seq(1L, 10L, 20L))

    // plan shape: the pair join shuffles on the cell key, never cross-cell
    val plan = SemDedup.survivors(corpus, "vec_id", "v", centroids, 0.97)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"survivor rule must be an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cell-local dedup must never go all-pairs:\n$plan")
  }

  test("trigram Jaccard is 1.0 on itself and within [0, 1]") {
    val g = docs.withColumn("w", TextOps.tokens(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), TextOps.trigrams(col("w")).as("tg"))
    val self = g.select(TextOps.jaccard(col("tg"), col("tg")).as("j")).collect()
    self.foreach(r => assert(r.getDouble(0) === 1.0))
  }

  test("fuzzy delete-neighborhood join == brute-force levenshtein ≤ 1 over the vocabulary") {
    import graft.text.Fuzzy
    import spark.implicits._
    val vocab = docs
      .select(explode(TextOps.tokens(col("text"))).as("term")).distinct()
    // queries = the vocabulary itself (distance-0 identity pairs) plus
    // planted misspellings at distance 1 ('jion' of 'join'... no:
    // transposition is 2 — a deliberate negative) and gibberish
    val queries = vocab.select(col("term").as("q"))
      .unionAll(Seq("jion", "joi", "scn", "xqzt").toDF("q"))
      .localCheckpoint()

    val got = Fuzzy.fuzzyPairs(queries, "q", vocab, "term")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val exp = queries.crossJoin(vocab)
      .filter(levenshtein(col("q"), col("term")) <= 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(exp.nonEmpty, "vocabulary must self-match — vacuous otherwise")
    assert(got === exp,
      s"blocking missed ${(exp -- got).take(5)} / invented ${(got -- exp).take(5)}")
    assert(got.contains(("joi", "join")), "planted deletion must match")
    assert(!got.exists(_._1 == "jion"),
      "transposition is distance 2 and must NOT match")
  }

  test("phrase bucket resolution: driver-side xxhash64 twin matches the column expression term-for-term") {
    import graft.text.Phrase
    import spark.implicits._
    // phraseHitsIndexed prunes partitions with DRIVER-computed buckets;
    // if the twin ever drifted from Spark's xxhash64 the probe would
    // silently read the wrong directories — pin the parity directly
    val terms = docs
      .select(explode(TextOps.tokens(col("text"))).as("term")).distinct()
    val rows = terms
      .select(col("term"), Phrase.bucketOf(col("term"), 64).as("b"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val driver = math.floorMod(
        graft.text.TermHash.xx64(r.getString(0)), 64L).toInt
      assert(driver === r.getInt(1), s"term '${r.getString(0)}'")
    }
  }

  test("PQ: vectors assembled from codebook entries reconstruct exactly; ADC tracks true cosine") {
    import graft.functions.{Ivf, Pq}
    import spark.implicits._
    val (m, ksub) = (8, 16)
    val cb = Pq.train(emb, "vec_id", "embedding", m, ksub, iters = 1)

    // synthetic vectors lying ON the codebook: subspace s of vector i is
    // codebook entry (i + s) % ksub — quantization error is exactly zero,
    // so encode must pick a centroid IDENTICAL to the input sub-vector
    // (tie-safe: a tied code implies a duplicate centroid vector)
    val onBook = (0 until 12).map { i =>
      (i.toLong, (0 until m).flatMap(s => cb(s)((i + s) % ksub)))
    }.toDF("vec_id", "v")
    val decoded = onBook
      .select(col("vec_id"), col("v"),
        Pq.codesExpr(col("v"), cb).as("codes"))
      .collect()
    decoded.foreach { r =>
      val v = r.getSeq[Double](1)
      val codes = r.getSeq[Int](2)
      assert(codes.size === m)
      val recon = (0 until m).flatMap(s => cb(s)(codes(s)))
      assert(recon === v, s"vec ${r.getLong(0)} did not reconstruct")
    }

    // ADC against real (off-book) vectors: the score is the exact dot of
    // the query with the RECONSTRUCTED unit vector — within quantization
    // error of true cosine, and far tighter than the planted-vs-natural
    // similarity gap the q48d gate relies on
    val qu = emb.filter(col("vec_id") === 7)
      .select(Ivf.unit(col("embedding")).as("qu"))
      .collect().head.getSeq[Double](0).toSeq
    val lut = Pq.lut(qu, cb)
    val checked = emb.filter(col("vec_id") < 50)
      .select(col("vec_id"),
        Pq.adcExpr(Pq.codesExpr(Ivf.unit(col("embedding")), cb), lut).as("adc"),
        VectorOps.cosine(col("embedding").cast("array<double>"),
          typedLit(qu)).as("cos"))
      .collect()
    assert(checked.nonEmpty)
    checked.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 0.5,
        s"ADC drifted implausibly far from cosine for vec ${r.getLong(0)}")
    }
    // and on-book rows score EXACTLY like their reconstruction: ADC of a
    // zero-error encoding equals the subspace-dot sum of the input itself
    val onBookAdc = onBook
      .select(col("vec_id"), col("v"),
        Pq.adcExpr(Pq.codesExpr(col("v"), cb), lut).as("adc"))
      .collect()
    onBookAdc.foreach { r =>
      val v = r.getSeq[Double](1)
      val dsub = v.size / m
      val expected = (0 until m).map { s =>
        (0 until dsub).foldLeft(0.0)((a, p) =>
          a + qu(s * dsub + p) * v(s * dsub + p))
      }.sum
      assert(math.abs(r.getDouble(2) - expected) < 1e-12,
        s"on-book ADC not exact for vec ${r.getLong(0)}")
    }
  }

  test("q132 fluency: a mean of scaled conditional probabilities stays in [0, 1e6]") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q132_lm_fluency")(spark, sf).collect()
    assert(rows.nonEmpty)
    // each addend is (1e6·c(ab)) div c(a) ≤ 1e6 since c(ab) ≤ c(a); a
    // mean of such terms cannot leave the scale — and the corpus is
    // self-similar enough that held-out docs must score above zero
    rows.foreach { r =>
      val f = r.getLong(1)
      assert(f >= 0 && f <= 1000000L, s"doc ${r.getLong(0)}: fluency $f")
    }
    assert(rows.map(_.getLong(1)).max > 0)
  }

  test("q230 hard negatives: the band ceiling really binds — every anchor's planted near-copy scores above 0.90 and none reaches the output") {
    // value-level twin of the PlanSpec band pin: the oracle gate alone
    // cannot see a dead ceiling (both engines would agree), so assert
    // (a) each anchor's planted twin (dim-0 + 0.02) has cosine > 0.90 —
    // a band-free top-1 would be the plant — and (b) the gated output
    // contains no planted id (offset 10^12, the gate's constant)
    val anchors = emb.filter(col("vec_id") < 5)
      .select(col("embedding").cast("array<double>").as("qe"))
    val twinCos = anchors.select(VectorOps.cosine(col("qe"),
        transform(col("qe"),
          (x, j) => when(j === 0, x + lit(0.02)).otherwise(x))).as("c"))
      .collect().map(_.getDouble(0))
    assert(twinCos.length === 5 && twinCos.forall(_ > 0.90),
      s"planted twins no longer score above the ceiling: ${twinCos.mkString(",")}")
    val out = SparkEntry.queries("q230_hard_negatives")(spark, sf)
      .select(col("b_id")).collect().map(_.getLong(0))
    assert(out.nonEmpty && out.forall(_ < 1000000000000L),
      s"a planted near-copy leaked through the band: ${out.filter(_ >= 1000000000000L).mkString(",")}")
  }
}
