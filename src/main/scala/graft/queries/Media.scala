package graft.queries

import graft.{GatedQuery, Tables}
import graft.GatedQuery.gated
import graft.Norm._
import graft.functions.{Ann, Ivf, IvfPq, Pq, VectorOps}
import graft.multimodal.Multimodal
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** Multimodal binary-column plumbing + the ANN scale path (north star).
  * The binary metadata query is oracle-gated (byte lengths and head bytes
  * are engine-agnostic); the stub decode and LSH ANN register ungated with
  * spec-pinned semantics (MultimodalSpec / AnnSpec). */
object Media {

  val all: Seq[GatedQuery] = Seq(

    // ---- binary payload metadata: real binary-column plumbing both
    //      engines can verify (payload = UTF-8 bytes of text) ----
    gated("q47_multimodal_meta",
      """SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS head_byte
        |FROM documents ORDER BY media_id""") { (s, d) =>
      // one scan: head_byte comes from the payload bytes themselves
      // (decode back to string), not a second join against documents
      Multimodal.mediaFromDocuments(Tables.documents(s, d))
        .select(col("media_id"), col("kind"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          ascii(substring(decode(col("payload"), "UTF-8"), 1, 1))
            .cast("long").as("head_byte"))
        .orderBy("media_id")
    },

    // ---- retrieval pipeline: ANN/top-k neighbors joined back to document
    //      metadata — the end-to-end "search then hydrate" shape of a
    //      serving stack. The top-k side is 10 rows → broadcast into the
    //      documents join; the corpus scan stays shuffle-free. ----
    gated("q61_retrieval_join",
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT b.vec_id,
        |        list_sum(list_transform(list_zip(b.embedding, q.qe),
        |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
        |        sqrt(list_sum(list_transform(b.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb,
        |        sqrt(list_sum(list_transform(q.qe,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq
        |      FROM embeddings b, q WHERE b.vec_id <> 0),
        |topk AS (SELECT vec_id,
        |           CAST(ROUND(dot/(nb*nq), 4) AS DECIMAL(9,4)) AS simd
        |         FROM s
        |         ORDER BY CAST(ROUND(dot/(nb*nq), 4) AS DECIMAL(9,4)) DESC, vec_id
        |         LIMIT 10)
        |SELECT t.vec_id, CAST(t.simd AS VARCHAR) AS sim, d.lang, d.n_chars
        |FROM topk t JOIN documents d ON t.vec_id = d.doc_id
        |ORDER BY t.simd DESC, t.vec_id""") { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe")))
      val topk = e.filter(col("vec_id") =!= 0)
        .crossJoin(q)
        .select(col("vec_id"),
          round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 4)
            .cast(org.apache.spark.sql.types.DecimalType(9, 4)).as("simd"))
        .orderBy(col("simd").desc, col("vec_id"))
        .limit(10)
      broadcast(topk)
        .join(Tables.documents(s, d), col("vec_id") === col("doc_id"))
        .select(col("vec_id"), col("simd"),
          col("simd").cast("string").as("sim"),
          col("lang"), col("n_chars"))
        .orderBy(col("simd").desc, col("vec_id"))
        .drop("simd")
    },

    // ---- filtered vector search: metadata predicate applied BEFORE the
    //      distance computation (pre-filtering, the standard vector-db
    //      "filtered top-k"). Both predicates push to their parquet scans
    //      (label on embeddings, lang on documents); the metadata join is
    //      an equi-join on the corpus PK that AQE plans (broadcast while
    //      the filtered dim fits, shuffled-hash beyond). Only survivors
    //      pay the 64-wide dot product — at 100 TB a selective predicate
    //      cuts the scan+compute cost proportionally, which post-filtering
    //      (top-k first, filter after) cannot. ----
    gated("q68_filtered_topk",
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |cand AS (SELECT b.vec_id, b.embedding, d.lang
        |         FROM embeddings b JOIN documents d ON b.vec_id = d.doc_id
        |         WHERE b.vec_id <> 0 AND b.label <> 3 AND d.lang = 'en'),
        |s AS (SELECT vec_id, lang,
        |        list_sum(list_transform(list_zip(embedding, q.qe),
        |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
        |        sqrt(list_sum(list_transform(embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb,
        |        sqrt(list_sum(list_transform(q.qe,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq
        |      FROM cand, q)
        |SELECT vec_id, CAST(CAST(ROUND(dot/(nb*nq), 4) AS DECIMAL(9,4)) AS VARCHAR) AS sim,
        |       lang
        |FROM s
        |ORDER BY CAST(ROUND(dot/(nb*nq), 4) AS DECIMAL(9,4)) DESC, vec_id
        |LIMIT 10""") { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe")))
      val meta = Tables.documents(s, d)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"))
      e.filter(col("vec_id") =!= 0 && col("label") =!= 3)
        .join(meta, col("vec_id") === col("doc_id"))
        .crossJoin(q)
        .select(col("vec_id"), col("lang"),
          round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 4)
            .cast(org.apache.spark.sql.types.DecimalType(9, 4)).as("simd"))
        .orderBy(col("simd").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("simd").cast("string").as("sim"), col("lang"))
    },

    // ---- batched retrieval: MANY query vectors against the corpus in one
    //      pass, per-query top-5 — the realistic serving workload (q37 is
    //      the single-query form). The query block broadcasts; the corpus
    //      scans ONCE for all queries; the per-query rank pushes as
    //      WindowGroupLimit, so each task keeps only its local top-5 per
    //      query before the exchange — the shuffle carries k·|queries|
    //      rows, not the full score matrix. ----
    gated("q74_batch_topk",
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
        |           WHERE vec_id < 5),
        |s AS (SELECT q.q_id, b.vec_id AS b_id,
        |        list_sum(list_transform(list_zip(b.embedding, q.qe),
        |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
        |        sqrt(list_sum(list_transform(b.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb,
        |        sqrt(list_sum(list_transform(q.qe,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq
        |      FROM embeddings b, q WHERE b.vec_id >= 5),
        |r AS (SELECT q_id, b_id, CAST(ROUND(dot/(nb*nq), 4) AS DECIMAL(9,4)) AS simd
        |      FROM s)
        |SELECT q_id, b_id, CAST(simd AS VARCHAR) AS sim
        |FROM (SELECT q_id, b_id, simd,
        |        ROW_NUMBER() OVER (PARTITION BY q_id
        |                           ORDER BY simd DESC, b_id) AS rn
        |      FROM r)
        |WHERE rn <= 5 ORDER BY q_id, simd DESC, b_id""") { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      batchTopK(e.filter(col("vec_id") >= 5), q, k = 5)()
    },

    // ---- HARD-NEGATIVE MINING (q74's training-data twin): per anchor,
    //      the top-5 corpus vectors INSIDE a similarity band — similar
    //      enough to be informative (floor 0.05 cuts easy negatives)
    //      but provably not a near-duplicate (ceiling 0.90 cuts
    //      positives/copies) — the standard pair-construction step for
    //      training retrieval/embedding models with contrastive loss.
    //      The ceiling is NON-VACUOUS by construction: each anchor gets
    //      a planted near-copy (id 200000+q, dim-0 nudged 0.02, cosine
    //      ≈ 1) that plain top-k would rank first and the band must
    //      exclude. Same plan shape as q74 (broadcast anchor block, one
    //      corpus pass, WindowGroupLimit top-5 per anchor); at 100 TB
    //      the corpus pass becomes an IVF candidate probe with the same
    //      band re-rank — gated as q230b below. ----
    gated("q230_hard_negatives", hardNegOracleSql("")) { (s, d) =>
      val (q, corpus) = hardNegInputs(s, d)
      batchTopK(corpus, q, k = 5)(hardNegBand)
    },

    // ---- q230's 100 TB SCALE PATH, gated (the composition the q230
    //      scaladoc names): banded hard negatives served from the
    //      PERSISTED IVF index — candidates come from each anchor's
    //      nprobe cell directories (partition pruning before any row
    //      is read, the q48c posture), the band re-rank runs on the
    //      candidates only. Payload = the exact band answer (same
    //      oracle as q230); the IVF leg contributes a TWO-SIDED
    //      verdict: (a) band recall ≥ 60% of the exact band top-5 rows
    //      at nprobe = 10 of nlist = 16 — measured (SCALE.md, "IVF
    //      hard-negative mining at production nlist"):
    //      recall BEATS the probed-cell fraction at every nprobe
    //      (sf0.001/0.01/0.1: 40/32/48% @ 4 of 16 cells, 76/64/68% @ 8,
    //      84/76/84% @ 10), i.e. band candidates do skew toward the
    //      anchor's cells, but this corpus's mid-band sims sit near
    //      noise level so banded mining needs more cells than near-dup
    //      search (q48b's 10/10 @ nprobe 4 — ANN flatters near-copies,
    //      not mid-band rows); nprobe = 10 gives the floor ≥ 16 points
    //      of margin at every SF while still pruning 6/16 of the
    //      directories per anchor. nprobe 10/16 is the GATE-SF
    //      operating point (500–2,000 vectors; 256 cells would hold
    //      ~2 rows each): at PRODUCTION nlist the same floor holds
    //      while genuinely pruning — measured on the 100× corpus
    //      (SCALE.md "IVF hard-negative mining at production nlist"),
    //      band recall at 25% of cells climbs 65→80→90% as nlist grows
    //      16→64→256, and nlist=256 meets the 60% floor probing 6% —
    //      cell granularity, not probe count, is the scale lever
    //      (MiningScaleSpec CI-pins the nlist=64 point: ≥ 60% at 25%
    //      probed + the exact-copy ceiling, on a 20k replica corpus);
    //      and
    //      (b) the ceiling stays non-vacuous ON THE INDEX: each
    //      anchor's UNBANDED top-1 over its probed cells must be its
    //      planted near-copy — the index provably surfaces the copy,
    //      and the band provably excludes it. ----
    gated("q230b_hard_negatives_ivf",
      hardNegOracleSql(", CAST(1 AS BIGINT) AS recall_ok")) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val (q, corpus) = hardNegInputs(s, d)
      val exact = batchTopK(corpus, q, k = 5)(hardNegBand).localCheckpoint()

      val path = graft.GatedQuery.indexScratch(d, "ivf_q230b")
      Ivf.writeIndex(corpus, "vec_id", "embedding", nlist = 16, path,
        iters = 2, sampleMod = 7)
      val centroids = Ivf.readCentroids(s, path)
      // per-anchor probe cells resolved once: ≤ |anchors| × nprobe ints
      // rides the broadcast anchor block (the Ivf probe-resolution rule)
      val probed = broadcast(q.select(col("q_id"), col("qe"),
        graft.functions.VectorOps.l2(col("qe")).as("qn"),
        explode(Ivf.probeCells(Ivf.unit(col("qe")), centroids,
          nprobe = 10)).as("probe")))
      val wanted = probed.select("probe").distinct()
        .collect().map(_.getInt(0)).toSeq
      // candidate scoring: `cell IN (wanted)` partition-prunes the scan
      // to the union of the anchors' cells; the per-anchor candidate
      // set is the broadcast equi-join on (cell == probe). Pinned once
      // — it feeds the banded top-5 AND the unbanded top-1 verdict (at
      // the gate SFs; a production run folds both into one pass).
      val cand = s.read.parquet(s"$path/cells")
        .filter(col("cell").isin(wanted: _*))
        .join(probed, col("cell") === col("probe"))
        .select(col("q_id"), col("nn_id").as("b_id"),
          round(graft.functions.VectorOps.dot(col("cv"), col("qe")) /
            (col("cn") * col("qn")), 4).cast(graft.Norm.Dec94).as("simd"))
        .localCheckpoint()
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("simd").desc, col("b_id"))
      val ivfBand = hardNegBand(cand)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("q_id", "b_id")
      // verdict (a): the index leg retrieves ≥ 60% of the exact band rows
      val total = exact.count()
      val hits = exact.join(ivfBand, Seq("q_id", "b_id"), "leftsemi").count()
      // verdict (b): unbanded top-1 per anchor == the planted near-copy
      val nAnchors = q.count()
      val plantedTop = cand
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("b_id") === col("q_id") + PlantedIdOffset).count()
      val ok = if (hits * 5 >= total * 3 && plantedTop == nAnchors) 1L else 0L
      exact.withColumn("recall_ok", lit(ok))
        .orderBy(col("q_id"), col("sim").cast(graft.Norm.Dec94).desc,
          col("b_id"))
    },

    // ---- per-label embedding centroids — the class-prototype / coarse-
    //      quantizer-training primitive, unpivoted to one row per (label,
    //      dim). posexplode widens map-side (×64), then ONE shuffle on the
    //      uniform (label, dim) key with partial aggregation below it.
    //      Elements are quantized to DECIMAL(18,4) BEFORE the sum so the
    //      aggregate is exact and order-independent on both engines (a
    //      DOUBLE sum's low bits depend on reduction order). ----
    gated("q75_label_centroids",
      """WITH x AS (SELECT label, dim,
        |             CAST(ROUND(CAST(embedding[dim] AS DOUBLE), 4)
        |                  AS DECIMAL(18,4)) AS v
        |           FROM embeddings,
        |                (SELECT unnest(range(1, 65)) AS dim))
        |SELECT label, CAST(dim AS INTEGER) AS dim,
        |       CAST(CAST(ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6)
        |            AS DECIMAL(18,6)) AS VARCHAR) AS c,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM x GROUP BY label, dim ORDER BY label, dim""") { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("int").as("dim"),
          round(col("col").cast("double"), 4)
            .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("v"))
        .groupBy("label", "dim")
        .agg(
          round(sum(col("v")).cast("double") / count(lit(1)), 6)
            .cast(org.apache.spark.sql.types.DecimalType(18, 6))
            .cast("string").as("c"),
          count(lit(1)).as("n"))
        .orderBy("label", "dim")
    },

    // ---- int8 scalar quantization (SQ8) — the 4× memory/bandwidth scale
    //      path for vector search: per-vector scale = max|x|/127, elements
    //      round to int8, dot products run in integer arithmetic and
    //      rescale by sc_a·sc_b. Quantization is a pure per-row map; the
    //      gate pins the quantized values exactly (round-away-from-zero on
    //      both engines) plus a ±0.05 verdict that the INT dot product
    //      reconstructs the exact cosine against query 0 — so a broken
    //      quantizer or rescale flips the gate. ----
    gated("q79_sq8_quantize",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        GREATEST(list_max(list_transform(v, x -> abs(x))) / 127.0, 1e-12) AS sc
        |      FROM e),
        |q AS (SELECT vec_id, sc,
        |        list_transform(v, x -> CAST(ROUND(x / sc) AS INTEGER)) AS qv, v
        |      FROM s),
        |qq AS (SELECT sc AS qsc, qv AS qqv, v AS qev FROM q WHERE vec_id = 0),
        |r AS (SELECT b.vec_id, b.sc, b.qv[1] AS q0,
        |        list_sum(list_transform(list_zip(b.qv, qq.qqv),
        |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |          * b.sc * qq.qsc
        |          / (sqrt(list_sum(list_transform(b.v, x -> x*x)))
        |             * sqrt(list_sum(list_transform(qq.qev, x -> x*x)))) AS acos,
        |        list_sum(list_transform(list_zip(b.v, qq.qev), p -> p[1]*p[2]))
        |          / (sqrt(list_sum(list_transform(b.v, x -> x*x)))
        |             * sqrt(list_sum(list_transform(qq.qev, x -> x*x)))) AS ecos
        |      FROM q b, qq WHERE b.vec_id <> 0)
        |SELECT vec_id,
        |       CAST(CAST(ROUND(sc, 6) AS DECIMAL(12,6)) AS VARCHAR) AS scale,
        |       CAST(q0 AS BIGINT) AS q0,
        |       CAST(CASE WHEN abs(acos - ecos) <= 0.05 THEN 1 ELSE 0 END AS BIGINT) AS ok
        |FROM r ORDER BY vec_id""") { (s, d) =>
      val v = transform(col("embedding"), x => x.cast("double"))
      val sc = greatest(
        array_max(transform(col("v"), x => abs(x))) / 127.0, lit(1e-12))
      val qv = transform(col("v"), x => round(x / col("sc")).cast("int"))
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), v.as("v"))
        .withColumn("sc", sc)
        .withColumn("qv", qv)
      val qq = broadcast(e.filter(col("vec_id") === 0)
        .select(col("sc").as("qsc"), col("qv").as("qqv"), col("v").as("qev")))
      val intDot = aggregate(
        zip_with(col("qv"), col("qqv"), (a, b) =>
          a.cast("double") * b.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      val l2  = (c: org.apache.spark.sql.Column) => sqrt(aggregate(
        transform(c, x => x * x), lit(0.0), (acc, x) => acc + x))
      val dot = aggregate(zip_with(col("v"), col("qev"), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)
      e.filter(col("vec_id") =!= 0)
        .crossJoin(qq)
        .withColumn("acos",
          intDot * col("sc") * col("qsc") / (l2(col("v")) * l2(col("qev"))))
        .withColumn("ecos", dot / (l2(col("v")) * l2(col("qev"))))
        .select(col("vec_id"),
          round(col("sc"), 6).cast(org.apache.spark.sql.types.DecimalType(12, 6))
            .cast("string").as("scale"),
          element_at(col("qv"), 1).cast("long").as("q0"),
          when(abs(col("acos") - col("ecos")) <= 0.05, 1L).otherwise(0L).as("ok"))
        .orderBy("vec_id")
    },

    // ---- stub decode → feature extraction through the mapPartitions
    //      (Arrow-batch analog) boundary. The stub codec is pure byte
    //      arithmetic (grid dims from payload length, features =
    //      byte-histogram fractions), so the WHOLE decode is
    //      oracle-expressible: the histogram fractions are re-multiplied
    //      into exact integer counts (round(f·n) recovers the count
    //      exactly for n < 2^24 — float mantissa bound), sidestepping
    //      float-vs-double division rounding. MultimodalSpec still pins
    //      the typed-boundary plumbing (iterators, partitioning). ----
    gated("q47b_multimodal_decode",
      """WITH m AS (SELECT doc_id AS media_id,
        |         CASE WHEN doc_id % 3 = 0 THEN 'image'
        |              WHEN doc_id % 3 = 1 THEN 'audio'
        |              ELSE 'video' END AS kind,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |         regexp_extract_all(text, '.') AS cs
        |       FROM documents)
        |SELECT media_id, kind, n AS n_bytes,
        |       CAST(GREATEST(1, LEAST(64, n // 8)) AS BIGINT) AS width,
        |       CAST(GREATEST(1, n // GREATEST(1, LEAST(64, n // 8))) AS BIGINT) AS height,
        |       CAST(len(list_filter(cs, c -> ascii(c) < 64)) AS BIGINT) AS c0,
        |       CAST(len(list_filter(cs, c -> ascii(c) >= 64 AND ascii(c) < 128)) AS BIGINT) AS c1,
        |       CAST(len(list_filter(cs, c -> ascii(c) >= 128 AND ascii(c) < 192)) AS BIGINT) AS c2,
        |       CAST(len(list_filter(cs, c -> ascii(c) >= 192)) AS BIGINT) AS c3
        |FROM m ORDER BY media_id""") { (s, d) =>
      val f = Multimodal.features(s, Tables.documents(s, d)).toDF()
      def cnt(i: Int) = round(element_at(col("features"), i).cast("double") *
        col("n_bytes")).cast("long").as(s"c${i - 1}")
      f.select(col("media_id"), col("kind"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          cnt(1), cnt(2), cnt(3), cnt(4))
        .orderBy("media_id")
    },

    // ---- frame sampling: every 16th "frame" of each video payload
    //      through the typed codec boundary (flatMap stage). The sampled
    //      count is a pure function of payload size — ceil(n_bytes/16) —
    //      so the stub's contract gates cross-engine even though the
    //      frames themselves are stub ids. Zero-byte payloads produce NO
    //      frames and therefore no row (the flatMap emits nothing); the
    //      oracle's octet_length > 0 guard states the same contract. ----
    gated("q47c_frame_sample",
      """SELECT doc_id AS media_id,
        |       CAST((octet_length(encode(text)) + 15) // 16 AS BIGINT) AS n_frames
        |FROM documents WHERE doc_id % 3 = 2 AND octet_length(encode(text)) > 0
        |ORDER BY media_id""") { (s, d) =>
      Multimodal.sampleFrames(
          Multimodal.mediaFromDocuments(Tables.documents(s, d))
            .as[Multimodal.Media](org.apache.spark.sql.Encoders.product),
          k = 16)
        .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
        .orderBy("media_id")
    },

    // ---- ANN top-10 for vec_id = 0 via random-hyperplane LSH with
    //      multi-probe. Gate design (q11b verdict pattern): LSH's contract
    //      is recalling NEAR neighbors (sim ≈ 1), not ranking the
    //      moderate-similarity tail — so the corpus gains 10 planted
    //      near-neighbors of the query (component 0 nudged by 0.01·i, a
    //      construction both engines express exactly in DOUBLE), the
    //      EXACT top-10 over corpus+planted is the oracle-checked payload,
    //      and the ANN result contributes a recall verdict (≥8/10;
    //      measured 10/10 at sf0.001/0.01/0.1 — deterministic seeded
    //      hyperplanes, no randomness). A broken signature/probe path
    //      flips recall_ok to 0 and the gate red. AnnSpec pins candidate
    //      pruning (<25% of the corpus probed). ----
    gated("q48_ann_topk", annOracleSql) { (s, d) =>
      val (corpus, query) = plantedCorpus(s, d)
      val ann = Ann.annTopK(corpus, query, "vec_id", "embedding", k = 10)
      annVerdict(exactTop10(corpus, query), ann)
    },

    // ---- O39 scale path #2: IVF coarse-quantizer ANN — spherical
    //      k-means cells, nprobe-cell search, exact rerank. End-to-end:
    //      train + assign + probe in one query program, gated with the
    //      same planted-neighbor exact-top-10 + recall-verdict design as
    //      q48 (measured 10/10 at all three SFs; training is
    //      deterministic: id-mod sample, lowest-id init, DOUBLE folds).
    //      MultimodalSpec pins cell pruning + training determinism. ----
    gated("q48b_ivf_topk", annOracleSql) { (s, d) =>
      val (corpus, query) = plantedCorpus(s, d)
      val centroids = Ivf.train(corpus, "vec_id", "embedding",
        nlist = 16, iters = 2, sampleMod = 7)
      val ivf = Ivf.ivfTopK(corpus, query, "vec_id", "embedding",
        k = 10, centroids, nprobe = 4)
      annVerdict(exactTop10(corpus, query), ivf)
    },

    // ---- The PERSISTED-index probe path of q48b — the steady-state
    //      serving shape at corpus scale: writeIndex trains once and lays
    //      the corpus out as cell-partitioned parquet; ivfTopKIndexed
    //      resolves the query's nprobe cells driver-side and partition-
    //      prunes to those directories before reading a row. Same planted
    //      gate as q48/q48b, so the index WRITE→PROBE round trip is
    //      oracle-checked end-to-end (IndexSpec keeps the inline-parity
    //      and pruning plan assertions). ----
    // ---- SemDeDup-style semantic dedup: IVF cells bound the quadratic
    //      pair work (|corpus|²/nlist expected), survivor = no smaller-id
    //      same-cell neighbor at cosine ≥ 0.97. Gate (q40/q97 pattern):
    //      3 planted near-copies per block vector (component 0 + 0.001·i
    //      — DOUBLE-exact on both engines); the oracle brute-forces the
    //      SAME survivor rule over the 4·|block| members without cells,
    //      and the cell-bucketed full-corpus leg contributes verdicts:
    //      ≥95% of planted copies collapsed, ≥95% survivor agreement on
    //      the block. A cross-cell split of a near-dup family is the
    //      method's documented approximation — the verdict bounds it. ----
    gated("q107_semantic_dedup",
      """WITH base AS (SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |       FROM embeddings),
        |blk0 AS (SELECT vec_id, v FROM base WHERE vec_id < 100),
        |planted AS (SELECT vec_id + 200000 * i AS vec_id,
        |         list_concat([v[1] + CAST(0.001 AS DOUBLE) * i], v[2:]) AS v
        |       FROM blk0, range(1, 4) t(i)),
        |b AS (SELECT vec_id, v FROM blk0 UNION ALL SELECT vec_id, v FROM planted),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_sum(list_transform(v, x -> x*x))) AS nn FROM b),
        |s AS (SELECT a.vec_id FROM n a WHERE NOT EXISTS (
        |        SELECT 1 FROM n y WHERE y.vec_id < a.vec_id
        |          AND list_sum(list_transform(list_zip(a.v, y.v), z -> z[1]*z[2]))
        |              / (a.nn * y.nn) >= 0.97))
        |SELECT CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_block,
        |       CAST(COUNT(*) AS BIGINT) AS n_survivors,
        |       CAST(1 AS BIGINT) AS removed_ok,
        |       CAST(1 AS BIGINT) AS agree_ok
        |FROM s""") { (s, d) =>
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val blk0 = base.filter(col("vec_id") < 100)
      val planted = (1 to 3).map { i =>
        blk0.select((col("vec_id") + 200000L * i).as("vec_id"),
          transform(col("v"),
            (x, j) => when(j === 0, x + lit(0.001 * i)).otherwise(x)).as("v"))
      }.reduce(_ unionAll _)
      val block = blk0.unionAll(planted).localCheckpoint()

      // exact leg — the oracle's brute-force survivor rule over the block
      val bn = block.select(col("vec_id"), col("v"),
        VectorOps.l2(col("v")).as("nn")).localCheckpoint()
      val exactSurv = bn.join(
          bn.select(col("vec_id").as("y_id"), col("v").as("yv"),
            col("nn").as("yn")),
          col("y_id") < col("vec_id") &&
            VectorOps.dot(col("v"), col("yv")) / (col("nn") * col("yn")) >= 0.97,
          "left_anti")
        .select(col("vec_id"))

      // scale leg — IVF cells over the FULL corpus ∪ planted
      val corpus = base.unionAll(planted).localCheckpoint()
      val centroids = Ivf.train(corpus, "vec_id", "v",
        nlist = 16, iters = 2, sampleMod = 7)
      // checkpoint: the survivor relation feeds BOTH the planted-left
      // count and the block agreement join — one anti-join pass, not two
      val cellSurv = graft.functions.SemDedup
        .survivors(corpus, "vec_id", "v", centroids, tau = 0.97)
        .localCheckpoint()
      // membership is id-BOUNDED, not modulus-only: planted ids live in
      // [200000, 800000), so replicated corpora (GenScaledData offsets
      // ≡ 0 mod 200000) and natural ids ≥ 200000 can never be
      // misclassified as planted/block members
      val isPlanted = col("sd_id") >= 200000L && col("sd_id") < 800000L
      val blockCellSurv = cellSurv
        .filter(col("sd_id") < 100 || isPlanted)
        .select(col("sd_id"))

      val nBlock = block.count()
      val nPlanted = nBlock - blk0.count()
      val plantedLeft = cellSurv.filter(isPlanted).count()
      exactSurv.join(blockCellSurv, col("vec_id") === col("sd_id"), "full_outer")
        .agg(
          sum(when(col("vec_id").isNotNull, 1L).otherwise(0L)).as("n_surv"),
          sum(when(col("vec_id").isNotNull && col("sd_id").isNotNull, 1L)
            .otherwise(0L)).as("n_hit"))
        .select(lit(nBlock).as("n_block"),
          col("n_surv").as("n_survivors"),
          lit(if ((nPlanted - plantedLeft) * 100 >= nPlanted * 95) 1L else 0L)
            .as("removed_ok"),
          (col("n_hit") * 100 >= col("n_surv") * 95).cast("long").as("agree_ok"))
    },

    gated("q48c_ivf_indexed", annOracleSql) { (s, d) =>
      val (corpus, query) = plantedCorpus(s, d)
      val path = graft.GatedQuery.indexScratch(d, "ivf_q48c")
      Ivf.writeIndex(corpus, "vec_id", "embedding", nlist = 16, path,
        iters = 2, sampleMod = 7)
      val ivf = Ivf.ivfTopKIndexed(s, path, query, "embedding",
        k = 10, nprobe = 4)
      annVerdict(exactTop10(corpus, query), ivf)
    },

    // ---- q48c's INGEST twin (the q218/q225 index-append discipline,
    //      now for the ANN shelf): the IVF index builds ONCE over the
    //      even-id half (training included), then the odd half —
    //      carrying 5 of the 10 planted near-neighbors — arrives as an
    //      ingest batch through Ivf.appendToIndex: cell assignment is a
    //      pure function of (vector, frozen centroids), so the append
    //      lands inside the per-cell partition layout at |batch| cost
    //      with no re-train and no rewrite of old files, and the disk
    //      probe sees old and new vectors uniformly. Same planted-
    //      neighbor gate as the q48 family — losing the appended half
    //      would cap recall at 5/10, and the verdict requires ≥ 8. ----
    gated("q227_ivf_append", annOracleSql) { (s, d) =>
      val (corpus, query) = plantedCorpus(s, d)
      val path = graft.GatedQuery.indexScratch(d, "ivf_q227")
      Ivf.writeIndex(corpus.filter(col("vec_id") % 2 === 0), "vec_id",
        "embedding", nlist = 16, path, iters = 2, sampleMod = 7)
      Ivf.appendToIndex(corpus.filter(col("vec_id") % 2 =!= 0), "vec_id",
        "embedding", path)
      val ivf = Ivf.ivfTopKIndexed(s, path, query, "embedding",
        k = 10, nprobe = 4)
      annVerdict(exactTop10(corpus, query), ivf)
    },

    // ---- O39 scale path #3: product quantization + ADC — the vector-
    //      COMPRESSION serving path (a dim-64 float vector becomes 8
    //      small ints; the ADC scan reads only the codes column and
    //      scores with 8 table lookups per row, then exact-reranks the
    //      top-100 candidates only). Same planted-neighbor gate as
    //      q48/q48b/q48c: exact top-10 is the oracle-checked payload,
    //      the PQ leg contributes the recall verdict (planted cosines
    //      ≈ 1 sit far above the quantization error, measured 10/10 at
    //      all three SFs). Encoding is a pure map-only projection —
    //      zero shuffles — and training collects only m × ksub × dsub
    //      means per Lloyd round; IndexSpec pins inline/indexed parity
    //      and the pruned ADC ReadSchema on the persisted layout. ----
    gated("q48d_pq_topk", annOracleSql) { (s, d) =>
      val (corpus, query) = plantedCorpus(s, d)
      val cb = Pq.train(corpus, "vec_id", "embedding",
        m = 8, ksub = 16, iters = 2, sampleMod = 7)
      val pq = Pq.adcTopK(corpus, query, "vec_id", "embedding",
        k = 10, cb, rerankC = 100)
      annVerdict(exactTop10(corpus, query), pq)
    },

    // ---- O39 scale path #4: IVF-PQ — the composite serving index
    //      (FAISS IVFPQ): coarse cells prune the scan to nprobe
    //      directories, residual PQ codes make the scan inside them a
    //      codes-only ADC pass (dot(q,v) = driver-computed centroid term
    //      + m LUT lookups), exact rerank on the top-100 candidates.
    //      Build→probe runs end-to-end against a persisted index (the
    //      q48c pattern); same planted-neighbor gate, recall measured
    //      10/10 at all three SFs. ----
    gated("q48e_ivfpq_topk", annOracleSql) { (s, d) =>
      val (corpus, query) = plantedCorpus(s, d)
      val path = graft.GatedQuery.indexScratch(d, "ivfpq_q48e")
      IvfPq.writeIndex(corpus, "vec_id", "embedding",
        nlist = 16, m = 8, ksub = 16, path, iters = 2, sampleMod = 7)
      val ann = IvfPq.topKIndexed(s, path, query, "embedding",
        k = 10, nprobe = 4, rerankC = 100)
      annVerdict(exactTop10(corpus, query), ann)
    },

    // ---- O39/O40: embedding-cosine near-dup at corpus scale — the
    //      ALL-PAIRS version of q46, made tractable by sign-LSH
    //      bucketing: 8-bit hyperplane signatures, candidates = pairs
    //      colliding on a bucket or any 1-bit flip (multi-probe), exact
    //      cosine ≥ 0.9 re-rank of candidates only. Candidate volume is
    //      |corpus|²·(nBits+1)/2^nBits instead of |corpus|². Gate
    //      (q40's design): 100 planted near-identical copies (component
    //      0 + 0.001 — cosine ≈ 1, constructible in DOUBLE on both
    //      engines); the oracle counts the exact block pair list, the
    //      LSH leg contributes recall ≥ 95% + exact-subset verdicts
    //      (measured below before gating; deterministic seeded
    //      hyperplanes). ----
    gated("q97_embed_lsh_neardup",
      """WITH base AS (SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |       FROM embeddings),
        |planted AS (SELECT vec_id + 200000 AS vec_id,
        |         list_concat([v[1] + CAST(0.001 AS DOUBLE)], v[2:]) AS v
        |       FROM base WHERE vec_id < 100),
        |c AS (SELECT vec_id, v FROM base UNION ALL SELECT vec_id, v FROM planted),
        |blk AS (SELECT vec_id, v,
        |          sqrt(list_sum(list_transform(v, x -> x*x))) AS nn
        |        FROM c WHERE vec_id % 200000 < 100)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
        |       CAST(1 AS BIGINT) AS recall_ok,
        |       CAST(1 AS BIGINT) AS subset_ok
        |FROM blk a, blk b
        |WHERE a.vec_id < b.vec_id
        |  AND list_sum(list_transform(list_zip(a.v, b.v), z -> z[1]*z[2]))
        |      / (a.nn * b.nn) >= 0.9""") { (s, d) =>
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val planted = base.filter(col("vec_id") < 100)
        .select((col("vec_id") + 200000).as("vec_id"),
          transform(col("v"),
            (x, j) => when(j === 0, x + lit(0.001)).otherwise(x)).as("v"))
      val planes = Ann.hyperplanes(dim = 64, nBits = 8)
      // signatures + norms computed ONCE (checkpoint: both join sides and
      // the exact leg reuse this relation)
      val sig = base.unionAll(planted)
        .select(col("vec_id"), col("v"), VectorOps.l2(col("v")).as("nn"),
          Ann.signature(col("v"), planes).as("bucket"))
        .localCheckpoint()
      val inBlock = (col("vec_id") % 200000) < 100
      // exact block pairs — the oracle's formula
      val blk = sig.filter(inBlock)
      val exact = blk.select(col("vec_id").as("a_id"), col("v").as("av"),
          col("nn").as("na"))
        .join(blk.select(col("vec_id").as("b_id"), col("v").as("bv"),
          col("nn").as("nb")), col("a_id") < col("b_id"))
        .filter(VectorOps.dot(col("av"), col("bv")) /
          (col("na") * col("nb")) >= 0.9)
        .select(col("a_id"), col("b_id"))
      // LSH candidates over the FULL corpus: multi-probe a-side vs bucket
      val aSide = sig.select(col("vec_id").as("la"), col("v").as("lav"),
        col("nn").as("lna"),
        explode(Ann.probes(col("bucket"), nBits = 8)).as("probe"))
      val bSide = sig.select(col("vec_id").as("lb"), col("v").as("lbv"),
        col("nn").as("lnb"), col("bucket").as("bb"))
      val lsh = aSide.join(bSide,
          col("probe") === col("bb") && col("la") < col("lb"))
        .filter(VectorOps.dot(col("lav"), col("lbv")) /
          (col("lna") * col("lnb")) >= 0.9)
        .select(col("la"), col("lb")).distinct()
        .filter(((col("la") % 200000) < 100) && ((col("lb") % 200000) < 100))
      exact.join(lsh,
          col("a_id") === col("la") && col("b_id") === col("lb"), "full_outer")
        .agg(sum(when(col("a_id").isNotNull, 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("a_id").isNotNull && col("la").isNotNull, 1L)
            .otherwise(0L)).as("n_hits"),
          sum(when(col("la").isNotNull, 1L).otherwise(0L)).as("n_lsh"))
        .select(col("n_exact"),
          (col("n_hits") * 100 >= col("n_exact") * 95).cast("long").as("recall_ok"),
          (col("n_hits") === col("n_lsh")).cast("long").as("subset_ok"))
    },

    // ---- Distributed exact second-moment (gram) matrix — the training
    //      half of PCA whitening (functions/Pca): elements quantized to
    //      micro-units through an EXPLICIT double promotion (float32
    //      arithmetic would diverge between engines) and an EXPLICIT
    //      trunc (Spark's double→long cast truncates toward zero,
    //      DuckDB's ROUNDS — 2080/2080 cells off without it), so every
    //      product and sum is exact integer arithmetic on any shuffle
    //      order.
    //      Scale: upper-triangle products explode per row and partial
    //      aggregation combines map-side — the exchange carries ≤
    //      d(d+1)/2 rows per partition no matter the corpus size; the
    //      d×d result is the O(parameters) collect the driver-side
    //      Jacobi eigensolver consumes (PcaSpec). ----
    gated("q133_embed_moments",
      """WITH q AS (SELECT [CAST(trunc(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        |                   for x in embedding] AS v FROM embeddings),
        |idx AS (SELECT unnest(range(1, 65)) AS i),
        |pairs AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON a.i <= b.i)
        |SELECT p.i, p.j, CAST(SUM(q.v[p.i] * q.v[p.j]) AS BIGINT) AS m
        |FROM q CROSS JOIN pairs p
        |GROUP BY p.i, p.j ORDER BY p.i, p.j""") { (s, d) =>
      import graft.functions.Pca
      Pca.momentRelation(Tables.embeddings(s, d), "embedding", 64)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("m"))
        .orderBy("i", "j")
    },

    // ---- Johnson-Lindenstrauss ±1 random projection (functions/
    //      RandomProjection): 64 → 16 dims with the sign matrix derived
    //      from md5(k:j) — a pure function of the coordinates, so the
    //      engine (driver-side Java md5, shipped as a literal into
    //      codegen HOFs, map-only) and the oracle (the same md5 inline
    //      in SQL) must produce the SAME matrix and, with exact
    //      micro-unit integers, the same projections to the last unit.
    //      JLSpec pins the distance-preservation property the lemma
    //      promises. ----
    gated("q136_jl_project",
      """WITH q AS (SELECT vec_id, [CAST(trunc(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        |                          for x in embedding] AS v
        |           FROM embeddings WHERE vec_id < 100),
        |ks AS (SELECT unnest(range(1, 17)) AS k),
        |js AS (SELECT unnest(range(1, 65)) AS j),
        |sgn AS (SELECT k, j,
        |          CASE WHEN CAST('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1) AS BIGINT) % 2 = 0
        |          THEN 1 ELSE -1 END AS s
        |        FROM ks CROSS JOIN js)
        |SELECT q.vec_id, sgn.k, CAST(SUM(sgn.s * q.v[sgn.j]) AS BIGINT) AS y
        |FROM q CROSS JOIN sgn GROUP BY q.vec_id, sgn.k
        |ORDER BY vec_id, k""") { (s, d) =>
      import graft.functions.RandomProjection
      Tables.embeddings(s, d).filter(col("vec_id") < 100)
        .select(col("vec_id"),
          posexplode(RandomProjection.project("embedding", 64, 16)))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("k"),
          col("col").as("y"))
        .orderBy("vec_id", "k")
    },

    // ---- Retrieval evaluation harness: precision@10 / recall@10 /
    //      reciprocal rank for 20 query vectors against the corpus,
    //      relevance = same label. Every metric is an exact rational in
    //      basis points (truncating integer division on both engines) —
    //      the evaluation loop a retrieval pipeline runs after every
    //      index build, as a first-class gated query. Ranking ties
    //      break on vec_id; the cosine uses q46's exact formulation so
    //      both engines order identical IEEE doubles. Scale: queries
    //      broadcast (the q74 batch-top-k shape), one corpus pass, the
    //      window partitions by query. ----
    gated("q137_retrieval_eval",
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nn FROM e),
        |lc AS (SELECT label, COUNT(*) AS nl FROM embeddings GROUP BY label),
        |p AS (SELECT q.vec_id AS q_id, q.label AS q_label, b.vec_id AS b_id, b.label AS b_label,
        |             ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |               ORDER BY list_sum(list_transform(list_zip(q.v, b.v), z -> z[1]*z[2]))/(q.nn*b.nn) DESC, b.vec_id) AS rn
        |      FROM n q JOIN n b ON q.vec_id < 20 AND b.vec_id <> q.vec_id),
        |m AS (SELECT q_id, q_label,
        |        SUM(CASE WHEN rn <= 10 AND b_label = q_label THEN 1 ELSE 0 END) AS hits,
        |        MIN(CASE WHEN b_label = q_label THEN rn END) AS first_rank
        |      FROM p GROUP BY q_id, q_label)
        |SELECT m.q_id AS vec_id, CAST(m.hits AS BIGINT) AS hits,
        |       CAST(m.hits * 1000 AS BIGINT) AS prec_bp,
        |       CAST((m.hits * 10000) // (lc.nl - 1) AS BIGINT) AS recall_bp,
        |       CAST(COALESCE(10000 // m.first_rank, 0) AS BIGINT) AS rr_bp
        |FROM m JOIN lc ON m.q_label = lc.label ORDER BY vec_id""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        col("embedding"), VectorOps.l2(col("embedding")).as("nn"))
      val q = broadcast(e.filter(col("vec_id") < 20).select(
        col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("qe"), col("nn").as("qn")))
      val rn = row_number().over(
        Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id")))
      val m = q.join(e, col("vec_id") =!= col("q_id"))
        .withColumn("sim",
          VectorOps.dot(col("qe"), col("embedding")) / (col("qn") * col("nn")))
        .withColumn("rn", rn)
        .groupBy("q_id", "q_label")
        .agg(
          sum(when(col("rn") <= 10 && col("label") === col("q_label"), 1L)
            .otherwise(0L)).as("hits"),
          min(when(col("label") === col("q_label"), col("rn"))).as("first_rank"))
      val lc = Tables.embeddings(s, d).groupBy("label")
        .agg(count(lit(1)).as("nl"))
      m.join(lc, col("q_label") === col("label"))
        .select(col("q_id").as("vec_id"), col("hits"),
          (col("hits") * 1000).as("prec_bp"),
          expr("(hits * 10000) div (nl - 1)").as("recall_bp"),
          coalesce(expr("10000 div first_rank"), lit(0L)).as("rr_bp"))
        .orderBy("vec_id")
    },

    // ---- LATE-INTERACTION retrieval (ColBERT-style MaxSim): documents
    //      are SETS of token vectors (here: 10 consecutive vec_ids per
    //      doc), and score(Q, D) = Σ_{q∈Q} max_{d∈D} cos(q, d) — each
    //      query vector finds its best-matching doc vector instead of
    //      one pooled embedding per doc, the retrieval-quality step up
    //      from q48's single-vector ANN. Per-pair cosines round to
    //      integer BASIS POINTS before max/sum, so the aggregation is
    //      exact integer arithmetic cross-engine (a float Σmax would be
    //      order-dependent). Scale: the query's 10 vectors broadcast;
    //      one corpus pass computes all pair cosines; max and sum are
    //      partial-aggregated — corpus-sized exchange carries one row
    //      per (doc, query-vector). ----
    gated("q159_maxsim_retrieval",
      """WITH v AS (SELECT vec_id, vec_id // 10 AS doc,
        |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |           FROM embeddings),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE doc = 0),
        |c AS (SELECT doc, vec_id, e FROM v WHERE doc <> 0),
        |s AS (SELECT c.doc, q.qid,
        |             MAX(CAST(ROUND(
        |               list_sum(list_transform(list_zip(c.e, q.qe), z -> z[1]*z[2]))
        |               / (sqrt(list_sum(list_transform(c.e, x -> x*x)))
        |                  * sqrt(list_sum(list_transform(q.qe, x -> x*x))))
        |               * 10000, 0) AS BIGINT)) AS m
        |      FROM c, q GROUP BY c.doc, q.qid)
        |SELECT doc, CAST(SUM(m) AS BIGINT) AS maxsim_bp
        |FROM s GROUP BY doc ORDER BY maxsim_bp DESC, doc LIMIT 10""") { (s, d) =>
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), expr("vec_id div 10").as("doc"),
          col("embedding"))
      val q = broadcast(v.filter(col("doc") === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
      v.filter(col("doc") =!= 0)
        .join(q)
        .groupBy(col("doc"), col("qid"))
        .agg(max(round(VectorOps.cosine(col("qe"), col("embedding")) * 10000, 0)
          .cast("long")).as("m"))
        .groupBy("doc")
        .agg(sum(col("m")).as("maxsim_bp"))
        .orderBy(col("maxsim_bp").desc, col("doc"))
        .limit(10)
    },

    // ---- HYBRID retrieval via Reciprocal Rank Fusion: the lexical leg
    //      (term-match count over {fast, join, merge}, q120's corpus)
    //      and the dense leg (cosine to the vec_id-0 query embedding;
    //      vec_id ≡ doc_id in this corpus) each produce a top-50
    //      candidate list; RRF fuses them as Σ 1e6 div (60 + rank) —
    //      the k=60 constant from Cormack/Clarke/Büttcher (SIGIR '09),
    //      with each reciprocal TRUNCATED to an exact integer so the
    //      fusion is pure integer arithmetic cross-engine (float 1/(k+r)
    //      sums would be order-sensitive). Docs on one leg only score
    //      their single contribution — the standard union semantics.
    //      Scale: each leg is a corpus scan + TakeOrdered into a
    //      policy-bounded candidate list (K=50); the rank window and the
    //      fusion join run on K rows, not the corpus. The dense leg at
    //      scale swaps in the q48 ANN path unchanged — RRF only needs
    //      (id, rank). ----
    gated("q175_rrf_hybrid",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |lx AS (SELECT doc_id,
        |         CAST(len(list_filter(w, x -> x = 'fast'))
        |            + len(list_filter(w, x -> x = 'join'))
        |            + len(list_filter(w, x -> x = 'merge')) AS BIGINT) AS sc
        |       FROM t),
        |lr AS (SELECT doc_id, r FROM (
        |         SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS r
        |         FROM lx WHERE sc > 0) x WHERE r <= 50),
        |n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |        sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nn
        |      FROM embeddings),
        |q AS (SELECT v AS qv, nn AS qn FROM n WHERE vec_id = 0),
        |dr AS (SELECT doc_id, r FROM (
        |         SELECT b.vec_id AS doc_id,
        |           ROW_NUMBER() OVER (ORDER BY
        |             list_sum(list_transform(list_zip(b.v, q.qv), z -> z[1]*z[2]))/(b.nn*q.qn)
        |             DESC, b.vec_id) AS r
        |         FROM n b CROSS JOIN q WHERE b.vec_id >= 1) x WHERE r <= 50),
        |f AS (SELECT COALESCE(lr.doc_id, dr.doc_id) AS doc_id,
        |        CAST(COALESCE(lr.r, 0) AS BIGINT) AS lex_rank,
        |        CAST(COALESCE(dr.r, 0) AS BIGINT) AS dense_rank,
        |        COALESCE(1000000 // (60 + lr.r), 0)
        |          + COALESCE(1000000 // (60 + dr.r), 0) AS rrf
        |      FROM lr FULL OUTER JOIN dr ON lr.doc_id = dr.doc_id)
        |SELECT doc_id, lex_rank, dense_rank, CAST(rrf AS BIGINT) AS rrf_score
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val lx = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        .select(col("doc_id"),
          (size(filter(col("w"), x => x === "fast")) +
            size(filter(col("w"), x => x === "join")) +
            size(filter(col("w"), x => x === "merge"))).cast("long").as("sc"))
        .filter(col("sc") > 0)
        .orderBy(col("sc").desc, col("doc_id")).limit(50)
      // rank windows run over the ≤50-row candidate lists (TakeOrdered
      // bounds them by policy) — the single-partition window is K-sized
      val lr = lx.withColumn("r",
        row_number().over(Window.orderBy(col("sc").desc, col("doc_id"))))
        .select(col("doc_id"), col("r").as("lex_r"))
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
        VectorOps.l2(col("embedding")).as("nn"))
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nn").as("qn")))
      val dx = e.filter(col("vec_id") >= 1).crossJoin(q)
        .select(col("vec_id").as("doc_id"),
          (VectorOps.dot(col("embedding"), col("qe")) /
            (col("nn") * col("qn"))).as("sim"))
        .orderBy(col("sim").desc, col("doc_id")).limit(50)
      val dr = dx.withColumn("r",
        row_number().over(Window.orderBy(col("sim").desc, col("doc_id"))))
        .select(col("doc_id"), col("r").as("dense_r"))
      lr.join(dr, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("lex_r"), lit(0)).cast("long").as("lex_rank"),
          coalesce(col("dense_r"), lit(0)).cast("long").as("dense_rank"),
          (coalesce(expr("1000000 div (60 + lex_r)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + dense_r)"), lit(0L)))
            .as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("doc_id"))
        .limit(10)
    },

    // ---- k-means M-STEP (the update half of Lloyd's round, completing
    //      q82's E-step): each cell's new centroid as the exact
    //      per-dimension mean in micro-units — members posexplode to
    //      (cell, dim, value), one partial-aggregated group-sum, one
    //      truncating division. This is precisely the iteration body
    //      functions/Ivf.train runs (there with the argmax fused and
    //      means in double); gating it cross-engine certifies the
    //      training arithmetic the IVF/PQ indexes are built from.
    //      Scale: assignment is the q82 broadcast-centroid argmax (one
    //      corpus pass, no window); the explode carries d rows per
    //      member into a partial agg keyed on (cell, dim) — bounded by
    //      nlist × d after map-side combine, nothing driver-sized. ----
    gated("q179_kmeans_update",
      """WITH cn AS (SELECT vec_id AS cid,
        |              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce,
        |              sqrt(list_sum(list_transform(embedding,
        |                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nc
        |            FROM embeddings WHERE vec_id < 8),
        |bn AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS ne
        |       FROM embeddings WHERE vec_id >= 8),
        |s AS (SELECT bn.vec_id, cn.cid,
        |        ROW_NUMBER() OVER (PARTITION BY bn.vec_id
        |          ORDER BY list_sum(list_transform(list_zip(bn.v, cn.ce),
        |            z -> z[1]*z[2]))/(bn.ne*cn.nc) DESC, cn.cid) AS rn
        |      FROM bn CROSS JOIN cn),
        |a AS (SELECT vec_id, cid AS cell FROM s WHERE rn = 1),
        |x AS (SELECT a.cell, u.dim,
        |        CAST(trunc(CAST(u.x AS DOUBLE) * 1000000) AS BIGINT) AS mu
        |      FROM a JOIN (SELECT vec_id, unnest(embedding) AS x,
        |                     generate_subscripts(embedding, 1) AS dim
        |                   FROM embeddings WHERE vec_id >= 8) u
        |        ON u.vec_id = a.vec_id)
        |SELECT cell, CAST(dim AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(mu) // COUNT(*) AS BIGINT) AS mean_micro
        |FROM x GROUP BY cell, dim ORDER BY cell, dim""") { (s, d) =>
      val e = Tables.embeddings(s, d)
      val c = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce")))
      val cells = e.filter(col("vec_id") >= 8).crossJoin(c)
        .select(col("vec_id"), col("cid"),
          VectorOps.cosine(col("embedding"), col("ce")).as("sim"))
        .groupBy("vec_id")
        .agg(max(struct(col("sim"), (-col("cid")).as("negcid"),
          col("cid").as("cell"))).as("m"))
        .select(col("vec_id"), col("m.cell").as("cell"))
      e.filter(col("vec_id") >= 8).join(cells, "vec_id")
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("cell"), (col("pos") + 1).cast("long").as("dim"),
          expr("CAST(CAST(v AS DOUBLE) * 1000000 AS BIGINT)").as("mu"))
        .groupBy("cell", "dim")
        .agg(cntLong.as("n"), expr("sum(mu) div count(1)").as("mean_micro"))
        .orderBy("cell", "dim")
    },

    // ---- MMR diversified re-ranking (functions/Mmr): top-10 for the
    //      vec_id-0 query, greedily balancing relevance against
    //      similarity to what's already picked (λ = 7/10, scores in
    //      basis points — all-integer greedy, tie-break ascending id).
    //      The RRF/q48 family ranks; MMR is the step after ranking that
    //      keeps near-duplicates from crowding the page — retrieval's
    //      use of the dedup north star. Engine: relevance is one corpus
    //      scan + TakeOrdered into C=30 candidates; the C² pairwise sims
    //      are a broadcast self-join; the inherently-sequential greedy
    //      walks the O(C²) collected rows on the driver (the bounded-
    //      collect class of the codebook gates). Oracle: the same greedy
    //      as a 10-step unrolled argmax CTE chain — every pick, penalty,
    //      and tie-break certified cross-engine. ----
    gated("q201_mmr", s"""WITH $mmrBase,
      |$mmrChain
      |SELECT CAST(rk AS BIGINT) AS rk, id AS vec_id, rel,
      |       CAST(score AS BIGINT) AS score
      |FROM sel$MmrK ORDER BY rk""") { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe")))
      val cand = e.filter(col("vec_id") =!= 0).crossJoin(q)
        .select(col("vec_id").as("id"),
          round(VectorOps.cosine(col("embedding"), col("qe")) * 10000, 0)
            .cast("long").as("rel"))
        .orderBy(col("rel").desc, col("id")).limit(MmrC)
      val cv = broadcast(cand.join(e, cand("id") === e("vec_id"))
        .select(col("id"), col("embedding")))
      val pairs = cv.as("x").join(cv.as("y"), col("x.id") =!= col("y.id"))
        .select(col("x.id").as("i"), col("y.id").as("j"),
          round(VectorOps.cosine(col("x.embedding"), col("y.embedding")) * 10000, 0)
            .cast("long").as("s"))
      // O(C) + O(C²) collects — parameter-sized, never corpus-sized
      val relSeq = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val simMap = pairs.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      import s.implicits._
      graft.functions.Mmr.select(relSeq, simMap, MmrK)
        .map { case (rk, id, rel, sc) => (rk.toLong, id, rel, sc) }
        .toDF("rk", "vec_id", "rel", "score")
    },

    // ---- k-NN label-agreement audit (confident-learning-lite): for
    //      each vector in a fixed 200-row audit sample, how many of its
    //      5 nearest neighbors share its label — per label, the mean
    //      agreement (ppm) and the count of SUSPECTS (≤1 agreeing
    //      neighbor), the standard first pass for mislabeled training
    //      examples. The sample bound is policy (an audit runs on a
    //      sample, and it keeps the pair relation parameter-sized);
    //      neighbor rank ties break on bp-rounded sim then id, so the
    //      5-NN set is deterministic cross-engine. Scale: the pair
    //      relation is sample², not corpus²; top-5-per-query is a rank
    //      window the optimizer bounds with WindowGroupLimit; at corpus
    //      scale the same audit swaps the exact pairs for the q48 ANN
    //      candidates unchanged. ----
    gated("q206_knn_label_agreement",
      """WITH v AS MATERIALIZED (SELECT vec_id, embedding, label
        |       FROM embeddings WHERE vec_id < 200),
        |p AS (SELECT a.vec_id AS qa, a.label AS la, b.vec_id AS qb, b.label AS lb,
        |        CAST(ROUND(list_cosine_similarity(a.embedding, b.embedding) * 10000) AS BIGINT) AS s
        |      FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |r AS (SELECT qa, la, lb,
        |        ROW_NUMBER() OVER (PARTITION BY qa ORDER BY s DESC, qb) AS rk
        |      FROM p),
        |ag AS (SELECT qa, la,
        |         CAST(COUNT(*) FILTER (WHERE lb = la) AS BIGINT) AS agree
        |       FROM r WHERE rk <= 5 GROUP BY qa, la)
        |SELECT CAST(la AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |       CAST((1000000 * SUM(agree)) // (5 * COUNT(*)) AS BIGINT) AS agreement_ppm,
        |       CAST(COUNT(*) FILTER (WHERE agree <= 1) AS BIGINT) AS n_suspect
        |FROM ag GROUP BY la ORDER BY label""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val v = Tables.embeddings(s, d).filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding"), col("label"))
      val a = v.select(col("vec_id").as("qa"), col("label").as("la"),
        col("embedding").as("ea"))
      val b = v.select(col("vec_id").as("qb"), col("label").as("lb"),
        col("embedding").as("eb"))
      val knn = a.join(broadcast(b), col("qa") =!= col("qb"))
        .select(col("qa"), col("la"), col("qb"), col("lb"),
          round(VectorOps.cosine(col("ea"), col("eb")) * 10000, 0)
            .cast("long").as("s"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qa").orderBy(col("s").desc, col("qb"))))
        .filter(col("rk") <= 5)
      knn.groupBy("qa", "la")
        .agg(count(when(col("lb") === col("la"), 1)).as("agree"))
        .groupBy(col("la").cast("long").as("label"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("agree")).as("agree"),
          count(when(col("agree") <= 1, 1)).as("n_suspect"))
        .select(col("label"), col("n_vecs"),
          expr("(1000000 * agree) div (5 * n_vecs)").as("agreement_ppm"),
          col("n_suspect"))
        .orderBy("label")
    }
  )

  private def MmrC = 30
  private def MmrK = 10

  /** q201 oracle stage 0: relevance scan, top-C candidates, directed
    * pairwise sims among them, and the penalty-free first pick. */
  private def mmrBase: String =
    s"""q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |rel AS (SELECT e.vec_id AS id,
       |          CAST(ROUND(list_cosine_similarity(e.embedding, q.qe) * 10000) AS BIGINT) AS rel
       |        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
       |cand AS MATERIALIZED (SELECT id, rel FROM rel ORDER BY rel DESC, id LIMIT $MmrC),
       |pair AS MATERIALIZED (SELECT x.id AS i, y.id AS j,
       |           CAST(ROUND(list_cosine_similarity(a.embedding, b.embedding) * 10000) AS BIGINT) AS s
       |         FROM cand x JOIN cand y ON x.id <> y.id
       |         JOIN embeddings a ON a.vec_id = x.id
       |         JOIN embeddings b ON b.vec_id = y.id),
       |sel1 AS MATERIALIZED (SELECT id, rel, 7 * rel AS score, 1 AS rk
       |         FROM cand ORDER BY rel DESC, id LIMIT 1)""".stripMargin

  /** q201 oracle steps 2..K: one argmax of
    * 7·rel − 3·max(sim to selected) per step, tie-break ascending id. */
  private def mmrChain: String =
    (2 to MmrK).map { i =>
      s"""pick$i AS (SELECT c.id, c.rel, 7 * c.rel - 3 * MAX(p.s) AS score
         |  FROM cand c JOIN pair p ON p.i = c.id
         |  JOIN sel${i - 1} sl ON p.j = sl.id
         |  WHERE c.id NOT IN (SELECT id FROM sel${i - 1})
         |  GROUP BY c.id, c.rel ORDER BY score DESC, c.id LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT id, rel, score, $i AS rk FROM pick$i
         |  UNION ALL SELECT id, rel, score, rk FROM sel${i - 1})""".stripMargin
    }.mkString(",\n")

  /** Reserved id offset for planted rows — GenScaledData's replica
    * stripe unit (10^12), far above any real key at any regeneration
    * scale, so a planted id can never alias a genuine corpus row (both
    * engines would agree on the aliased answer, making the collision
    * invisible to the oracle gate). */
  private[graft] val PlantedIdOffset = 1000000000000L

  /** Shared score → per-anchor top-k → render block of the batched
    * retrieval gates (q74, q230): cosine against a BROADCAST anchor
    * block `(q_id, qe)`, dec(9,4) rounding, WindowGroupLimit top-k,
    * ordered string render. `refine` runs BETWEEN scoring and ranking —
    * q230's similarity band plugs in there, so it evaluates below the
    * rank (PlanSpec pins the fused position). One copy of the shape
    * both gates' oracles mirror. */
  private def batchTopK(corpus: org.apache.spark.sql.DataFrame,
                        anchors: org.apache.spark.sql.DataFrame, k: Int)
                       (refine: org.apache.spark.sql.DataFrame =>
                          org.apache.spark.sql.DataFrame = identity)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = corpus.crossJoin(broadcast(anchors))
      .select(col("q_id"), col("vec_id").as("b_id"),
        round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 4)
          .cast(org.apache.spark.sql.types.DecimalType(9, 4)).as("simd"))
    refine(scored)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("simd").desc, col("b_id"))))
      .filter(col("rn") <= k)
      .orderBy(col("q_id"), col("simd").desc, col("b_id"))
      .select(col("q_id"), col("b_id"), col("simd").cast("string").as("sim"))
  }

  /** q230/q230b shared inputs: the 5-anchor block (qe as DOUBLE) and
    * the mining corpus ∪ one planted near-copy per anchor (dim-0
    * nudged 0.02, cosine ≈ 1 — the row the 0.90 ceiling must exclude),
    * planted at the 10^12 id reserve. Checkpointed: q230b consumes the
    * corpus twice (exact leg + index build). */
  private[graft] def hardNegInputs(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qe"))
    val planted = q.select((col("q_id") + PlantedIdOffset).as("vec_id"),
      transform(col("qe"),
        (x, j) => when(j === 0, x + lit(0.02)).otherwise(x))
        .as("embedding"))
    val corpus = e.filter(col("vec_id") >= 5)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .unionByName(planted)
      .localCheckpoint()
    (q, corpus)
  }

  /** The hard-negative similarity band (floor cuts easy negatives,
    * ceiling cuts positives/copies), applied BELOW the per-anchor rank
    * in both the exact and the IVF leg (PlanSpec pins the fused
    * position on q230). */
  private[graft] val hardNegBand: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame =
    _.filter(col("simd") >= lit(BigDecimal("0.05")) &&
      col("simd") < lit(BigDecimal("0.90")))

  /** q230/q230b shared oracle: exact banded top-5 per anchor over
    * corpus ∪ planted near-copies; `extraCols` appends q230b's pinned
    * verdict column. */
  private def hardNegOracleSql(extraCols: String): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       |           WHERE vec_id < 5),
       |pl AS (SELECT CAST(1000000000000 AS BIGINT) + q_id AS vec_id,
       |         [CASE WHEN i = 1 THEN CAST(qe[i] AS DOUBLE) + 0.02
       |               ELSE CAST(qe[i] AS DOUBLE) END
       |          for i in range(1, len(qe) + 1)] AS embedding
       |       FROM q),
       |corpus AS (SELECT vec_id,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
       |           FROM embeddings WHERE vec_id >= 5
       |           UNION ALL SELECT vec_id, embedding FROM pl),
       |s AS (SELECT q.q_id, b.vec_id AS b_id,
       |        list_sum(list_transform(list_zip(b.embedding, q.qe),
       |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
       |        sqrt(list_sum(list_transform(b.embedding,
       |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb,
       |        sqrt(list_sum(list_transform(q.qe,
       |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq
       |      FROM corpus b, q),
       |r AS (SELECT q_id, b_id, CAST(ROUND(dot/(nb*nq), 4) AS DECIMAL(9,4)) AS simd
       |      FROM s
       |      WHERE CAST(ROUND(dot/(nb*nq), 4) AS DECIMAL(9,4)) >= 0.05
       |        AND CAST(ROUND(dot/(nb*nq), 4) AS DECIMAL(9,4)) < 0.90)
       |SELECT q_id, b_id, CAST(simd AS VARCHAR) AS sim$extraCols
       |FROM (SELECT q_id, b_id, simd,
       |        ROW_NUMBER() OVER (PARTITION BY q_id
       |                           ORDER BY simd DESC, b_id) AS rn
       |      FROM r)
       |WHERE rn <= 5 ORDER BY q_id, simd DESC, b_id"""
      .stripMargin.trim.replaceAll("\\s+", " ")

  /** Corpus ∪ 10 planted near-neighbors of the query vector (ids
    * 100001..100010; component 0 nudged by 0.01·i), plus the query row —
    * everything as array<double> so Spark and DuckDB run identical DOUBLE
    * arithmetic. */
  private def plantedCorpus(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val e = Tables.embeddings(s, d)
    val query = e.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val planted = (1 to 10).map { i =>
      query.select(lit(100000L + i).as("vec_id"),
        transform(col("embedding"),
          (x, j) => when(j === 0, x + lit(0.01 * i)).otherwise(x)).as("embedding"))
    }.reduce(_ unionAll _)
    // checkpointed: the 11-branch union feeds exact top-k, signatures/
    // cells, AND (for IVF) every Lloyd round — without materialization
    // each pass re-derives the whole plant (measured 3× query cost)
    val corpus = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .unionAll(planted)
      .localCheckpoint()
    (corpus, query)
  }

  /** Exact brute-force top-10 (q37 formulation: dec(9,4) rounding, vec_id
    * tie-break) — the oracle-checkable half of the ANN gates. */
  private def exactTop10(corpus: org.apache.spark.sql.DataFrame,
                         query: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val q = broadcast(query.select(col("embedding").as("qe")))
    corpus.crossJoin(q)
      .select(col("vec_id"),
        round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 4)
          .cast(graft.Norm.Dec94).as("simd"))
      .orderBy(col("simd").desc, col("vec_id"))
      .limit(10)
  }

  /** Exact top-10 rows + the ANN recall verdict column (≥8 of the exact
    * top-10 retrieved → 1). */
  private def annVerdict(exact: org.apache.spark.sql.DataFrame,
                         ann: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val verdict = broadcast(
      exact.join(ann.select(col("nn_id")), col("vec_id") === col("nn_id"), "leftsemi")
        .agg((count(lit(1)) >= 8).cast("long").as("recall_ok")))
    exact.crossJoin(verdict)
      .orderBy(col("simd").desc, col("vec_id"))
      .select(col("vec_id"), col("simd").cast("string").as("sim"), col("recall_ok"))
  }

  /** Shared oracle for q48/q48b: exact top-10 over corpus+planted, verdict
    * pinned true. */
  private def annOracleSql: String =
    """WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      |           FROM embeddings WHERE vec_id = 0),
      |p AS (SELECT CAST(100000 + i AS BIGINT) AS vec_id,
      |        list_concat([qe[1] + CAST(0.01 AS DOUBLE) * i], qe[2:]) AS v
      |      FROM q, range(1, 11) t(i)),
      |c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM embeddings WHERE vec_id <> 0
      |      UNION ALL SELECT vec_id, v FROM p),
      |s AS (SELECT c.vec_id,
      |        list_sum(list_transform(list_zip(c.v, q.qe), z -> z[1]*z[2])) AS dot,
      |        sqrt(list_sum(list_transform(c.v, x -> x*x))) AS nb,
      |        sqrt(list_sum(list_transform(q.qe, x -> x*x))) AS nq
      |      FROM c, q)
      |SELECT vec_id, CAST(CAST(ROUND(dot/(nb*nq), 4) AS DECIMAL(9,4)) AS VARCHAR) AS sim,
      |       CAST(1 AS BIGINT) AS recall_ok
      |FROM s ORDER BY CAST(ROUND(dot/(nb*nq), 4) AS DECIMAL(9,4)) DESC, vec_id
      |LIMIT 10""".stripMargin.trim.replaceAll("\\s+", " ")
}
