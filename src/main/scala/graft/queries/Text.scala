package graft.queries

import graft.{GatedQuery, Tables}
import graft.GatedQuery.gated
import graft.Norm._
import graft.functions.VectorOps
import graft.text.{Bpe, CopyIndex, Fuzzy, NearDup, Phrase, SimJoin, Spans, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** North-star LLM-data-pipeline text/vector analysis (SURVEY.md O38/O39/O40
  * + BASELINE.json north star): quality scoring, language-ID heuristic,
  * token counting, fingerprinting, exact n-gram Jaccard near-dup, embedding
  * cosine near-dup, and the ungated MinHash-LSH / SimHash scale paths.
  *
  * Everything gated here is arithmetic both engines can reproduce exactly:
  * integer set sizes, DOUBLE left folds in array order, fixed marker lists.
  */
object Text {

  // Marker token lists for the language-ID heuristic (stopword hit
  // counting). The corpus vocabulary is shared across langs, so the gate
  // certifies the scoring/argmax mechanics, not classifier accuracy.
  private val enMarkers = Seq("the", "a", "fast")
  private val deMarkers = Seq("customer", "key", "join")
  private val esMarkers = Seq("slow", "agg", "merge")

  /** BPE training-collect cap (policy bound on the driver map; the corpus
    * vocabulary here is far smaller, so the cap never bites at test SFs —
    * BpeSpec proves it bites when the corpus exceeds it) and merge count
    * for the q144 gates. Declared BEFORE `all` — object-init order makes
    * a later val read as 0 inside the query literals. */
  val BpeCap = 10000
  val BpeMerges = 12

  val all: Seq[GatedQuery] = Seq(

    // ---- O38: quality scoring — length/stopword/uniqueness ratios ----
    gated("q41_text_quality",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |           FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
        |       CAST(CAST(ROUND(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
        |            / CAST(len(toks) AS DOUBLE), 4) AS DECIMAL(9,4)) AS VARCHAR) AS avg_len,
        |       CAST(CAST(ROUND(CAST(len(list_filter(toks, x -> x IN ('a','the'))) AS DOUBLE)
        |            / CAST(len(toks) AS DOUBLE), 4) AS DECIMAL(9,4)) AS VARCHAR) AS stop_ratio
        |FROM t ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"),
          size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
          dec4Str(round(TextOps.totalLen(col("toks")).cast("double") /
            size(col("toks")).cast("double"), 4)).as("avg_len"),
          dec4Str(round(TextOps.markerHits(col("toks"), Seq("a", "the")).cast("double") /
            size(col("toks")).cast("double"), 4)).as("stop_ratio"))
        .orderBy("doc_id")
    },

    // ---- O38: language-ID heuristic — marker-hit scores + argmax with
    //      lexicographic tie-break, agreement flag vs the labeled lang ----
    gated("q42_lang_id",
      """WITH t AS (SELECT doc_id, lang,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id, lang,
        |        CAST(len(list_filter(toks, x -> x IN ('the','a','fast'))) AS BIGINT) AS s_en,
        |        CAST(len(list_filter(toks, x -> x IN ('customer','key','join'))) AS BIGINT) AS s_de,
        |        CAST(len(list_filter(toks, x -> x IN ('slow','agg','merge'))) AS BIGINT) AS s_es
        |      FROM t)
        |SELECT doc_id, s_en, s_de, s_es,
        |       CASE WHEN s_de > s_en AND s_de >= s_es THEN 'de'
        |            WHEN s_es > s_en AND s_es > s_de THEN 'es'
        |            ELSE 'en' END AS pred,
        |       CAST(CASE WHEN (CASE WHEN s_de > s_en AND s_de >= s_es THEN 'de'
        |                            WHEN s_es > s_en AND s_es > s_de THEN 'es'
        |                            ELSE 'en' END) = lang THEN 1 ELSE 0 END AS BIGINT) AS agree
        |FROM s ORDER BY doc_id""") { (s, d) =>
      val scored = Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), col("lang"),
          TextOps.markerHits(col("toks"), enMarkers).as("s_en"),
          TextOps.markerHits(col("toks"), deMarkers).as("s_de"),
          TextOps.markerHits(col("toks"), esMarkers).as("s_es"))
      val pred = when(col("s_de") > col("s_en") && col("s_de") >= col("s_es"), "de")
        .when(col("s_es") > col("s_en") && col("s_es") > col("s_de"), "es")
        .otherwise("en")
      scored
        .select(col("doc_id"), col("s_en"), col("s_de"), col("s_es"),
          pred.as("pred"),
          when(pred === col("lang"), 1L).otherwise(0L).as("agree"))
        .orderBy("doc_id")
    },

    // ---- O38: token counting — whitespace tokens + regex token runs ----
    gated("q43_token_count",
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws,
        |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_re
        |FROM documents ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_ws"),
          size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast("long").as("n_re"))
        .orderBy("doc_id")
    },

    // ---- O38: document fingerprint — 31-ary rolling hash mod 1e9+7 over
    //      characters, identical left fold on both engines ----
    gated("q44_fingerprint",
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(list_filter(string_split(text, ''), x -> x <> ''),
        |                          x -> CAST(ascii(x) AS BIGINT))),
        |         (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""") { (s, d) =>
      // native codegen Expression (no per-char allocation), registered as
      // `rolling_hash` by GraftExtensions; equality with the HOF/oracle
      // fold is pinned by FingerprintSpec
      Tables.documents(s, d)
        .select(col("doc_id"), expr("rolling_hash(text)").as("fp"))
        .orderBy("doc_id")
    },

    // ---- Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03)
    //      — LOCAL fingerprinting next to q44's whole-doc hash: hash
    //      every word 3-gram (the q44 31-ary polynomial per gram, so
    //      both engines fold identically), slide a window of w = 4 over
    //      the gram-hash sequence, keep each window's MINIMUM — the
    //      guarantee is that any shared run of ≥ w + k - 1 tokens
    //      yields at least one shared fingerprint, at an expected
    //      density of 2/(w+1) selections per gram. Docs shorter than
    //      one window winnow to their global minimum (one fingerprint —
    //      never zero). The gate reports doc pairs sharing ≥ 2
    //      fingerprints: the copy-detection primitive for partial
    //      overlap that whole-doc hashing (q44) and set-Jaccard (q123)
    //      both miss. Scale: fingerprinting is a stateless per-row HOF
    //      map (codegen, no shuffle); the pair step shuffles on the
    //      FINGERPRINT and joins within hash buckets — never all-pairs,
    //      and the winnowed relation is ~2/(w+1) the size of the gram
    //      relation before it ever reaches the exchange. ----
    gated("q222_winnowing",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents WHERE doc_id < 300),
        |g AS (SELECT doc_id,
        |        [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(
        |             list_filter(string_split(w[i] || ' ' || w[i+1] || ' ' || w[i+2], ''),
        |                         x -> x <> ''),
        |             x -> CAST(ascii(x) AS BIGINT))),
        |           (acc, x) -> (acc * 31 + x) % 1000000007)
        |         for i in range(1, len(w) - 1)] AS kg
        |      FROM t WHERE len(w) >= 3),
        |f AS (SELECT doc_id,
        |        list_distinct([list_min(kg[i : least(i + 3, len(kg))])
        |                       for i in range(1, greatest(1, len(kg) - 3) + 1)]) AS fps
        |      FROM g),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM f)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(COUNT(*) AS BIGINT) AS shared
        |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY a_id, b_id""") { (s, d) =>
      val t = Tables.documents(s, d)
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
      val fps = TextOps.winnowRel(t, "doc_id",
          transform(TextOps.trigramsAll(col("w")),
            g => TextOps.fingerprint(g)), w = 4)
        .select(col("id").as("doc_id"), col("fp"))
      val a = fps.select(col("doc_id").as("a_id"), col("fp"))
      val b = fps.select(col("doc_id").as("b_id"), col("fp"))
      a.join(b, Seq("fp"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
        .orderBy("a_id", "b_id")
    },

    // ---- q222's INGEST-path sibling (the q217/q218 discipline applied
    //      to the fingerprint family): the EXISTING corpus's winnowed
    //      fingerprints persist as an index (even doc_ids), a NEW batch
    //      (odd doc_ids) winnows fresh and probes the index FROM DISK —
    //      "which incoming documents copy passages of the corpus", the
    //      question a steady-state ingest pipeline asks at every batch.
    //      Fingerprints are per-document (no cross-document state), so
    //      the index appends at |batch| cost and the probe is one
    //      fp-keyed join against the persisted relation — never a
    //      corpus rescan. Oracle recomputes both sides from scratch:
    //      the disk round trip must lose no selection. ----
    gated("q223_winnow_ingest",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents WHERE doc_id < 300),
        |g AS (SELECT doc_id,
        |        [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(
        |             list_filter(string_split(w[i] || ' ' || w[i+1] || ' ' || w[i+2], ''),
        |                         x -> x <> ''),
        |             x -> CAST(ascii(x) AS BIGINT))),
        |           (acc, x) -> (acc * 31 + x) % 1000000007)
        |         for i in range(1, len(w) - 1)] AS kg
        |      FROM t WHERE len(w) >= 3),
        |f AS (SELECT doc_id,
        |        list_distinct([list_min(kg[i : least(i + 3, len(kg))])
        |                       for i in range(1, greatest(1, len(kg) - 3) + 1)]) AS fps
        |      FROM g),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM f)
        |SELECT a.doc_id AS idx_id, b.doc_id AS new_id,
        |       CAST(COUNT(*) AS BIGINT) AS shared
        |FROM e a JOIN e b
        |  ON a.fp = b.fp AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY idx_id, new_id""") { (s, d) =>
      val t = Tables.documents(s, d)
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
      def winnowed(part: org.apache.spark.sql.DataFrame) =
        TextOps.winnowRel(part, "doc_id",
          transform(TextOps.trigramsAll(col("w")),
            g => TextOps.fingerprint(g)), w = 4)
      val dir = graft.GatedQuery.indexScratch(d, "winnow_index_q223")
      // corpus index: one-time build, then the append-only ingest layout
      // (split the evens once more to exercise a real append)
      winnowed(t.filter(col("doc_id") % 4 === 0))
        .write.mode("overwrite").parquet(dir)
      winnowed(t.filter(col("doc_id") % 2 === 0 && col("doc_id") % 4 =!= 0))
        .write.mode("append").parquet(dir)
      val probe = winnowed(t.filter(col("doc_id") % 2 =!= 0))
        .select(col("id").as("new_id"), col("fp"))
      s.read.parquet(dir)
        .select(col("id").as("idx_id"), col("fp"))
        .join(probe, Seq("fp"))
        .groupBy("idx_id", "new_id").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
        .orderBy("idx_id", "new_id")
    },

    // ---- q222's PAYOFF query: cross-document COPY DETECTION with run
    //      LOCALIZATION (Schleimer/Wilkerson/Aiken SIGMOD'03 §1 — the
    //      MOSS use case). Copies are PLANTED deterministically: every
    //      doc_id % 10 == 7 document appends the first 12 tokens of
    //      doc_id − 7's text (when that source has ≥ 12 tokens), so the
    //      corpus provably contains local copies token-set Jaccard
    //      underweights (12 copied tokens in a ~90-token pair is
    //      J ≈ 0.07 of trigram sets, but a CONTIGUOUS run). Detection:
    //      position-carrying winnow selections (TextOps.winnowRelPos)
    //      joined on fingerprint equality; a pair's matched-run extent
    //      is the min/max of the shared selections' window positions per
    //      side — doc 0's opening tokens localize at doc 7's appended
    //      tail, not just "these docs match". The winnowing guarantee
    //      (a shared run spanning ≥ w+g−1 tokens yields ≥ 1 shared
    //      selection; EdgeCaseSpec pins it on planted runs) makes the
    //      12-token plant ≥ 2 shared fingerprints in practice — all 19
    //      plantable pairs at sf0.01 are detected. Scale: selections are
    //      a 2/(w+1) density sample of grams, the join is fp-keyed
    //      (inverted index), never all-pairs; the span aggregation rides
    //      the join's own (a_id, b_id) shuffle. ----
    gated("q224_copy_detection",
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |src AS (SELECT doc_id + 7 AS doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS stoks
        |        FROM base WHERE doc_id % 10 = 0),
        |d2 AS (SELECT b.doc_id,
        |          lower(b.text) ||
        |          CASE WHEN s.doc_id IS NOT NULL AND len(s.stoks) >= 12
        |               THEN ' ' || array_to_string(s.stoks[1:12], ' ') ELSE '' END AS t
        |       FROM base b LEFT JOIN src s ON b.doc_id = s.doc_id),
        |tt AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '') AS w FROM d2),
        |g AS (SELECT doc_id,
        |        [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(
        |             list_filter(string_split(w[i] || ' ' || w[i+1] || ' ' || w[i+2], ''),
        |                         x -> x <> ''),
        |             x -> CAST(ascii(x) AS BIGINT))),
        |           (acc, x) -> (acc * 31 + x) % 1000000007)
        |         for i in range(1, len(w) - 1)] AS kg
        |      FROM tt WHERE len(w) >= 3),
        |f AS (SELECT doc_id,
        |        [i for i in range(1, greatest(1, len(kg) - 3) + 1)] AS ps,
        |        [list_min(kg[i : least(i + 3, len(kg))])
        |         for i in range(1, greatest(1, len(kg) - 3) + 1)] AS fs
        |      FROM g),
        |e AS (SELECT doc_id, unnest(ps) AS pos, unnest(fs) AS fp FROM f),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.fp,
        |             a.pos AS a_pos, b.pos AS b_pos
        |      FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(COUNT(DISTINCT fp) AS BIGINT) AS shared,
        |       CAST(MIN(a_pos) AS BIGINT) AS a_lo, CAST(MAX(a_pos) AS BIGINT) AS a_hi,
        |       CAST(MIN(b_pos) AS BIGINT) AS b_lo, CAST(MAX(b_pos) AS BIGINT) AS b_hi
        |FROM p GROUP BY 1, 2 HAVING COUNT(DISTINCT fp) >= 2
        |ORDER BY a_id, b_id""") { (s, d) =>
      copyPairs(plantedCopySelections(s, d), minShared = 2)
        .orderBy("a_id", "b_id")
    },

    // ---- q224's INGEST twin (the q217/q218/q223 discipline): the
    //      corpus side's position-carrying winnow selections persist as
    //      an index (even doc_ids, written in two appends to exercise
    //      the real append layout), a NEW batch (odd doc_ids) winnows
    //      fresh and probes the index FROM DISK — "which incoming
    //      documents copy corpus passages, and WHERE", the steady-state
    //      per-batch question. Fingerprints are per-document, so the
    //      index appends at |batch| cost; the index is PARTITIONED BY
    //      pmod(fp, 64) and the probe prunes to the batch's fingerprint
    //      buckets before reading a row (CopyIndex — the Phrase
    //      postings layout), then one fp-keyed join; localization spans
    //      ride the join's own shuffle. The
    //      oracle recomputes both sides from scratch — the disk round
    //      trip must lose neither selections nor positions. All 19
    //      planted pairs land cross-split by construction (source
    //      doc_id % 10 == 0 is even → index; target % 10 == 7 is odd →
    //      probe). ----
    gated("q225_copy_ingest",
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |src AS (SELECT doc_id + 7 AS doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS stoks
        |        FROM base WHERE doc_id % 10 = 0),
        |d2 AS (SELECT b.doc_id,
        |          lower(b.text) ||
        |          CASE WHEN s.doc_id IS NOT NULL AND len(s.stoks) >= 12
        |               THEN ' ' || array_to_string(s.stoks[1:12], ' ') ELSE '' END AS t
        |       FROM base b LEFT JOIN src s ON b.doc_id = s.doc_id),
        |tt AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '') AS w FROM d2),
        |g AS (SELECT doc_id,
        |        [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(
        |             list_filter(string_split(w[i] || ' ' || w[i+1] || ' ' || w[i+2], ''),
        |                         x -> x <> ''),
        |             x -> CAST(ascii(x) AS BIGINT))),
        |           (acc, x) -> (acc * 31 + x) % 1000000007)
        |         for i in range(1, len(w) - 1)] AS kg
        |      FROM tt WHERE len(w) >= 3),
        |f AS (SELECT doc_id,
        |        [i for i in range(1, greatest(1, len(kg) - 3) + 1)] AS ps,
        |        [list_min(kg[i : least(i + 3, len(kg))])
        |         for i in range(1, greatest(1, len(kg) - 3) + 1)] AS fs
        |      FROM g),
        |e AS (SELECT doc_id, unnest(ps) AS pos, unnest(fs) AS fp FROM f),
        |p AS (SELECT a.doc_id AS idx_id, b.doc_id AS new_id, a.fp,
        |             a.pos AS idx_pos, b.pos AS new_pos
        |      FROM e a JOIN e b ON a.fp = b.fp
        |      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1)
        |SELECT idx_id, new_id, CAST(COUNT(DISTINCT fp) AS BIGINT) AS shared,
        |       CAST(MIN(idx_pos) AS BIGINT) AS idx_lo, CAST(MAX(idx_pos) AS BIGINT) AS idx_hi,
        |       CAST(MIN(new_pos) AS BIGINT) AS new_lo, CAST(MAX(new_pos) AS BIGINT) AS new_hi
        |FROM p GROUP BY 1, 2 HAVING COUNT(DISTINCT fp) >= 2
        |ORDER BY idx_id, new_id""") { (s, d) =>
      // four consumers now (two index writes, the probe's bucket-set
      // resolution, the probe join) — past the measured break-even, so
      // pin the selection relation (round 12 measured 3 consumers
      // cheaper RECOMPUTED; the bucketed probe added a fourth and
      // flipped it: 2.34 s recomputed vs 2.10 s pinned, min-of-3 at
      // sf0.1 with p = 16)
      val sel = plantedCopySelections(s, d).localCheckpoint()
      val dir = graft.GatedQuery.indexScratch(d, "copy_index_q225")
      // corpus index: one-time build, then the append-only ingest
      // layout — both through CopyIndex, so the on-disk relation is
      // PARTITIONED BY pmod(fp, 64) and the probe below prunes to the
      // batch's fingerprint buckets before reading a row (round-12
      // verdict item 1: the flat layout read O(index) per batch)
      // fan-out sized for THIS corpus (a deployment sizes p once by
      // |selections| / target-bucket-bytes — BucketedState discipline);
      // 64 dirs over a 200-doc gate is pure commit overhead
      val p = 16
      CopyIndex.writeIndex(sel.filter(col("id") % 4 === 0), dir, p)
      CopyIndex.appendToIndex(
        sel.filter(col("id") % 2 === 0 && col("id") % 4 =!= 0), dir, p)
      CopyIndex.probe(s, dir, sel.filter(col("id") % 2 =!= 0), p)
        .orderBy("idx_id", "new_id")
    },

    // ---- q224/q225's SCREENING form: per-document COPY COVERAGE — for
    //      each incoming (odd) document, the fraction of its winnow
    //      selections matched anywhere in the corpus (even) side:
    //      (new_id, n_sel, n_hit). This is the decontamination SCREEN a
    //      training pipeline runs on every ingest batch ("how much of
    //      this document already exists in the corpus?") before the
    //      expensive pair-localizing probe (q225) runs on the flagged
    //      tail — the q118 triage discipline applied to verbatim copy.
    //      Scale: the corpus side collapses to its DISTINCT fingerprint
    //      set (a sub-linear selection sample of a sample), the match is
    //      one fp-keyed LEFT SEMI join (each batch selection counted
    //      once, however many corpus docs share its fp — semi stops at
    //      first match), and the coverage aggregation is per-doc.
    //      Planted 12-token copies land well above the organic floor
    //      (mean coverage 0.27 for target docs vs 0.13 for the rest at
    //      sf0.01 — the floor is honest fingerprint-collision noise over
    //      this corpus's near-uniform token draw, and exactly why the
    //      screen THRESHOLDS rather than boolean-flags). ----
    gated("q226_copy_coverage",
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |src AS (SELECT doc_id + 7 AS doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS stoks
        |        FROM base WHERE doc_id % 10 = 0),
        |d2 AS (SELECT b.doc_id,
        |          lower(b.text) ||
        |          CASE WHEN s.doc_id IS NOT NULL AND len(s.stoks) >= 12
        |               THEN ' ' || array_to_string(s.stoks[1:12], ' ') ELSE '' END AS t
        |       FROM base b LEFT JOIN src s ON b.doc_id = s.doc_id),
        |tt AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '') AS w FROM d2),
        |g AS (SELECT doc_id,
        |        [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(
        |             list_filter(string_split(w[i] || ' ' || w[i+1] || ' ' || w[i+2], ''),
        |                         x -> x <> ''),
        |             x -> CAST(ascii(x) AS BIGINT))),
        |           (acc, x) -> (acc * 31 + x) % 1000000007)
        |         for i in range(1, len(w) - 1)] AS kg
        |      FROM tt WHERE len(w) >= 3),
        |f AS (SELECT doc_id,
        |        [i for i in range(1, greatest(1, len(kg) - 3) + 1)] AS ps,
        |        [list_min(kg[i : least(i + 3, len(kg))])
        |         for i in range(1, greatest(1, len(kg) - 3) + 1)] AS fs
        |      FROM g),
        |e AS (SELECT doc_id, unnest(ps) AS pos, unnest(fs) AS fp FROM f),
        |cfp AS (SELECT DISTINCT fp FROM e WHERE doc_id % 2 = 0),
        |probe AS (SELECT doc_id AS new_id, pos, fp FROM e WHERE doc_id % 2 = 1),
        |hit AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_hit
        |        FROM probe WHERE fp IN (SELECT fp FROM cfp) GROUP BY 1)
        |SELECT p.new_id, CAST(COUNT(*) AS BIGINT) AS n_sel,
        |       CAST(COALESCE(MAX(h.n_hit), 0) AS BIGINT) AS n_hit
        |FROM probe p LEFT JOIN hit h ON p.new_id = h.new_id
        |GROUP BY p.new_id
        |ORDER BY p.new_id""") { (s, d) =>
      val sel = plantedCopySelections(s, d).localCheckpoint()
      val corpusFps = sel.filter(col("id") % 2 === 0)
        .select("fp").distinct()
      val probe = sel.filter(col("id") % 2 =!= 0)
        .select(col("id").as("new_id"), col("pos"), col("fp"))
      val hits = probe.join(corpusFps, Seq("fp"), "left_semi")
        .groupBy("new_id").agg(count(lit(1)).as("n_hit"))
      probe.groupBy("new_id").agg(count(lit(1)).as("n_sel"))
        .join(hits, Seq("new_id"), "left")
        .select(col("new_id"), col("n_sel"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .orderBy("new_id")
    },

    // ---- The copy family's CURATION ACTION: detect → DROP. A document
    //      is pruned when it shares ≥ 3 distinct winnow fingerprints
    //      with an EARLIER (lower-id) document — run-level copying that
    //      token-set Jaccard underweights (the q224 rationale), with
    //      the original always surviving (drops are b-side only).
    //      minShared = 3 is a measured policy point: at sf0.01 it drops
    //      20 docs of which 17 are the planted copies, vs 29/19 at 2
    //      (collision-noisy) and 10/7 at 4 (misses plants). Scale: the
    //      pair relation is the fp-keyed winnow join (never all-pairs);
    //      the prune is one anti-join on the drop set. ----
    gated("q228_copy_prune",
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |src AS (SELECT doc_id + 7 AS doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS stoks
        |        FROM base WHERE doc_id % 10 = 0),
        |d2 AS (SELECT b.doc_id,
        |          lower(b.text) ||
        |          CASE WHEN s.doc_id IS NOT NULL AND len(s.stoks) >= 12
        |               THEN ' ' || array_to_string(s.stoks[1:12], ' ') ELSE '' END AS t
        |       FROM base b LEFT JOIN src s ON b.doc_id = s.doc_id),
        |tt AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '') AS w FROM d2),
        |g AS (SELECT doc_id,
        |        [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(
        |             list_filter(string_split(w[i] || ' ' || w[i+1] || ' ' || w[i+2], ''),
        |                         x -> x <> ''),
        |             x -> CAST(ascii(x) AS BIGINT))),
        |           (acc, x) -> (acc * 31 + x) % 1000000007)
        |         for i in range(1, len(w) - 1)] AS kg
        |      FROM tt WHERE len(w) >= 3),
        |f AS (SELECT doc_id,
        |        [i for i in range(1, greatest(1, len(kg) - 3) + 1)] AS ps,
        |        [list_min(kg[i : least(i + 3, len(kg))])
        |         for i in range(1, greatest(1, len(kg) - 3) + 1)] AS fs
        |      FROM g),
        |e AS (SELECT doc_id, unnest(ps) AS pos, unnest(fs) AS fp FROM f),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.fp
        |      FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        |drops AS (SELECT b_id FROM p GROUP BY a_id, b_id
        |          HAVING COUNT(DISTINCT fp) >= 3)
        |SELECT doc_id FROM d2
        |WHERE doc_id NOT IN (SELECT b_id FROM drops)
        |ORDER BY doc_id""") { (s, d) =>
      // deliberately RECOMPUTED (two consumers inside copyPairs; the
      // doc anti-join below derives its own lineage): a pinned variant
      // measured SLOWER back-to-back at sf0.1 — 1.99 s pinned vs 1.49 s
      // recomputed min-of-4; an earlier 3.84 s "recomputed" reading was
      // box drift, not plan cost
      val drops = copyPairs(plantedCopySelections(s, d), minShared = 3)
        .select(col("b_id")).distinct()
      plantedCopyDocs(s, d).select(col("doc_id"))
        .join(drops, col("doc_id") === col("b_id"), "left_anti")
        .orderBy("doc_id")
    },

    // ---- …and its PROVENANCE report: every pruned document's BEST
    //      source (most shared fingerprints, smallest id on ties) with
    //      the matched-run span on the pruned side — "what did this doc
    //      copy, from whom, and where", the audit a curation decision
    //      must be able to answer. One window over the pair relation
    //      (partitioned by the pruned doc — bounded groups). ----
    gated("q229_copy_attribution",
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |src AS (SELECT doc_id + 7 AS doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS stoks
        |        FROM base WHERE doc_id % 10 = 0),
        |d2 AS (SELECT b.doc_id,
        |          lower(b.text) ||
        |          CASE WHEN s.doc_id IS NOT NULL AND len(s.stoks) >= 12
        |               THEN ' ' || array_to_string(s.stoks[1:12], ' ') ELSE '' END AS t
        |       FROM base b LEFT JOIN src s ON b.doc_id = s.doc_id),
        |tt AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '') AS w FROM d2),
        |g AS (SELECT doc_id,
        |        [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(
        |             list_filter(string_split(w[i] || ' ' || w[i+1] || ' ' || w[i+2], ''),
        |                         x -> x <> ''),
        |             x -> CAST(ascii(x) AS BIGINT))),
        |           (acc, x) -> (acc * 31 + x) % 1000000007)
        |         for i in range(1, len(w) - 1)] AS kg
        |      FROM tt WHERE len(w) >= 3),
        |f AS (SELECT doc_id,
        |        [i for i in range(1, greatest(1, len(kg) - 3) + 1)] AS ps,
        |        [list_min(kg[i : least(i + 3, len(kg))])
        |         for i in range(1, greatest(1, len(kg) - 3) + 1)] AS fs
        |      FROM g),
        |e AS (SELECT doc_id, unnest(ps) AS pos, unnest(fs) AS fp FROM f),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.fp,
        |             b.pos AS b_pos
        |      FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        |pairs AS (SELECT a_id, b_id,
        |            CAST(COUNT(DISTINCT fp) AS BIGINT) AS shared,
        |            CAST(MIN(b_pos) AS BIGINT) AS b_lo,
        |            CAST(MAX(b_pos) AS BIGINT) AS b_hi
        |          FROM p GROUP BY 1, 2 HAVING COUNT(DISTINCT fp) >= 3)
        |SELECT b_id, a_id AS src_id, shared, b_lo, b_hi FROM pairs
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY b_id
        |                           ORDER BY shared DESC, a_id) = 1
        |ORDER BY b_id""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pairs = copyPairs(plantedCopySelections(s, d), minShared = 3)
      val w = Window.partitionBy("b_id")
        .orderBy(col("shared").desc, col("a_id"))
      pairs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("b_id"), col("a_id").as("src_id"), col("shared"),
          col("b_lo"), col("b_hi"))
        .orderBy("b_id")
    },

    // ---- O38: tf-idf — two aggregations + a join (SURVEY O38). The
    //      document-frequency side is vocabulary-sized (≪ corpus), so it
    //      broadcasts; at 100 TB a long-tail vocabulary falls back to a
    //      shuffled join on `word`, which AQE picks automatically. ----
    gated("q36b_tfidf",
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |              FROM documents),
        |t AS (SELECT doc_id, word, COUNT(*) AS cnt FROM toks
        |      WHERE word <> '' GROUP BY doc_id, word),
        |dfc AS (SELECT word AS w, COUNT(*) AS dfc FROM t GROUP BY word),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
        |SELECT doc_id, word,
        |       CAST(CAST(ROUND(cnt * ln(n / CAST(dfc AS DOUBLE)), 4)
        |            AS DECIMAL(9,4)) AS VARCHAR) AS s
        |FROM t, dfc, n WHERE t.word = dfc.w
        |ORDER BY CAST(ROUND(cnt * ln(n / CAST(dfc AS DOUBLE)), 4) AS DECIMAL(9,4)) DESC,
        |         doc_id, word
        |LIMIT 20""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val t = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      val dfc = t.groupBy("word").agg(count(lit(1)).as("dfc"))
        .withColumnRenamed("word", "w")
      val n = docs.agg(count(lit(1)).cast("double").as("n"))
      val score = round(col("cnt") * log(col("n") / col("dfc").cast("double")), 4)
        .cast(Dec94)
      t.join(dfc, col("word") === col("w"))
        .crossJoin(broadcast(n))
        .withColumn("sd", score)
        .orderBy(col("sd").desc, col("doc_id"), col("word"))
        .limit(20)
        .select(col("doc_id"), col("word"), col("sd").cast("string").as("s"))
    },

    // ---- O40 (exact leg): word-trigram Jaccard over a bounded candidate
    //      block (doc_id < 100 both sides). The unbounded corpus path is
    //      the LSH query below — band-join, not all-pairs. ----
    gated("q45_ngram_jaccard",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents WHERE doc_id < 100),
        |g AS (SELECT doc_id,
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in range(1, len(w)-1)]) AS tg
        |      FROM t WHERE len(w) >= 3)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(CAST(ROUND(CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
        |            / CAST(len(list_distinct(list_concat(a.tg, b.tg))) AS DOUBLE), 4)
        |            AS DECIMAL(9,4)) AS VARCHAR) AS j
        |FROM g a, g b
        |WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.tg, b.tg))) AS DOUBLE) >= 0.01
        |ORDER BY a_id, b_id""") { (s, d) =>
      val g = Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), TextOps.trigrams(col("w")).as("tg"))
      val a = g.select(col("doc_id").as("a_id"), col("tg").as("a_tg"))
      val b = g.select(col("doc_id").as("b_id"), col("tg").as("b_tg"))
      val j = TextOps.jaccard(col("a_tg"), col("b_tg"))
      a.join(b, col("a_id") < col("b_id"))
        .filter(j >= 0.01)
        .select(col("a_id"), col("b_id"), dec4Str(round(j, 4)).as("j"))
        .orderBy("a_id", "b_id")
    },

    // ---- O39/O40: embedding-cosine near-dup — one bounded query block
    //      (vec_id < 50, broadcast) against the full corpus; the corpus
    //      side streams partition-parallel with no shuffle. ----
    gated("q46_cosine_neardup",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nn FROM e)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       CAST(CAST(ROUND(list_sum(list_transform(list_zip(a.v, b.v),
        |                p -> p[1]*p[2]))/(a.nn*b.nn), 4) AS DECIMAL(9,4)) AS VARCHAR) AS sim
        |FROM n a, n b
        |WHERE a.vec_id < 50 AND a.vec_id < b.vec_id
        |  AND list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2]))/(a.nn*b.nn) >= 0.3
        |ORDER BY a_id, b_id""") { (s, d) =>
      // Norms are per-ROW: computed once on each side before the join, so
      // the per-pair work is only the 64-wide dot product (the oracle's
      // dot/(na*nb) association is preserved exactly).
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
        VectorOps.l2(col("embedding")).as("nn"))
      val a = broadcast(e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("embedding").as("ea"),
          col("nn").as("na")))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
        col("nn").as("nb"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("cos",
          VectorOps.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= 0.3)
        .select(col("a_id"), col("b_id"), dec4Str(round(col("cos"), 4)).as("sim"))
        .orderBy("a_id", "b_id")
    },

    // ---- North star: deterministic train/val/test split by content
    //      hash. The assignment is a pure function of the key (first hex
    //      char of md5), so it is stable under re-runs, re-partitioning,
    //      and incremental corpus growth — no RAND(), no global sort, no
    //      state. '0'-'b' → train (12/16), 'c'-'d' → val, 'e'-'f' → test.
    //      At 100 TB this is a map-only pass; the gate pins the row-level
    //      assignment on both engines (md5 is md5 everywhere). ----
    gated("q63_hash_split",
      """SELECT doc_id,
        |       CASE WHEN h < 'c' THEN 'train' WHEN h < 'e' THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
        |      FROM documents) t
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 1))
        .select(col("doc_id"),
          when(col("h") < "c", lit("train"))
            .when(col("h") < "e", lit("val"))
            .otherwise(lit("test")).as("split"))
        .orderBy("doc_id")
    },

    // ---- SPLIT-REPRESENTATIVENESS drift audit: did the q63 hash split
    //      preserve the corpus's language mix? Per language, each
    //      split's share in exact ppm plus its absolute deviation from
    //      the train share — the total-variation-distance table (Σ|Δ|/2
    //      = TVD) a curation report runs before training, log-free and
    //      integer-exact where PSI's log-ratio would force floats. A
    //      skewed split (one lang over-represented in test) shows as a
    //      large dev_ppm row. Two tiny aggs + a 15-row pivot; the
    //      corpus scans once. ----
    gated("q199_split_drift",
      """WITH s AS (SELECT doc_id, lang,
        |             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
        |                  THEN 'train'
        |                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
        |                  THEN 'val' ELSE 'test' END AS split
        |           FROM documents),
        |c AS (SELECT split, lang, COUNT(*) AS c FROM s GROUP BY 1, 2),
        |t AS (SELECT split, SUM(c) AS tot FROM c GROUP BY 1),
        |p AS (SELECT c.lang, c.split,
        |             CAST(c.c * 1000000 // t.tot AS BIGINT) AS ppm
        |      FROM c JOIN t ON c.split = t.split)
        |SELECT lang,
        |       COALESCE(MAX(CASE WHEN split = 'train' THEN ppm END), 0) AS train_ppm,
        |       COALESCE(MAX(CASE WHEN split = 'val' THEN ppm END), 0) AS val_ppm,
        |       COALESCE(MAX(CASE WHEN split = 'test' THEN ppm END), 0) AS test_ppm,
        |       ABS(COALESCE(MAX(CASE WHEN split = 'val' THEN ppm END), 0)
        |           - COALESCE(MAX(CASE WHEN split = 'train' THEN ppm END), 0)) AS val_dev_ppm,
        |       ABS(COALESCE(MAX(CASE WHEN split = 'test' THEN ppm END), 0)
        |           - COALESCE(MAX(CASE WHEN split = 'train' THEN ppm END), 0)) AS test_dev_ppm
        |FROM p GROUP BY lang ORDER BY lang""") { (s, d) =>
      val split = Tables.documents(s, d)
        .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 1))
        .select(col("lang"),
          when(col("h") < "c", lit("train"))
            .when(col("h") < "e", lit("val"))
            .otherwise(lit("test")).as("split"))
      val c = split.groupBy("split", "lang").agg(count(lit(1)).as("c"))
      val t = c.groupBy("split").agg(sum(col("c")).as("tot"))
      val p = c.join(t, "split")
        .select(col("lang"), col("split"),
          expr("CAST(c * 1000000 div tot AS BIGINT)").as("ppm"))
      def sp(name: String) =
        coalesce(max(when(col("split") === name, col("ppm"))), lit(0L))
      p.groupBy("lang")
        .agg(sp("train").as("train_ppm"), sp("val").as("val_ppm"),
          sp("test").as("test_ppm"),
          abs(sp("val") - sp("train")).as("val_dev_ppm"),
          abs(sp("test") - sp("train")).as("test_dev_ppm"))
        .orderBy("lang")
    },

    // ---- O37 companion: canonical-document selection per exact-dup
    //      group — the "keep the best copy" half of dedup (q35 proves
    //      removal; this picks WHICH row survives). Group = md5(text);
    //      winner = longest text, then smallest doc_id — a deterministic
    //      arg-max via one windowed rank over the group key. Planted
    //      duplicates: the corpus unioned with itself re-keyed +100000,
    //      so every group has ≥2 members and the original must win.
    //      One shuffle on the 128-bit digest — uniformly distributed, no
    //      skew at any scale; text travels once. ----
    gated("q64_canonical_dedup",
      """WITH corpus AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text, n_chars FROM documents),
        |r AS (SELECT doc_id, md5(text) AS grp, n_chars,
        |        ROW_NUMBER() OVER (PARTITION BY md5(text)
        |                           ORDER BY n_chars DESC, doc_id) AS rn,
        |        COUNT(*) OVER (PARTITION BY md5(text)) AS dup_cnt
        |      FROM corpus)
        |SELECT doc_id, grp, CAST(dup_cnt AS BIGINT) AS dup_cnt
        |FROM r WHERE rn = 1 ORDER BY doc_id""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select("doc_id", "text", "n_chars")
      val corpus = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 100000))
        .withColumn("grp", md5(col("text")))
      val w = Window.partitionBy(col("grp"))
      corpus
        .withColumn("rn", row_number().over(
          w.orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("dup_cnt", count(lit(1)).over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("grp"), col("dup_cnt").cast("long").as("dup_cnt"))
        .orderBy("doc_id")
    },

    // ---- North star: quality-band corpus filter — keep documents between
    //      the exact P25 and P75 of a quality proxy. Two-pass threshold
    //      form, NOT a global percent_rank window: pass 1 reduces to one
    //      interpolated-percentile row (map-side partial agg), pass 2 is a
    //      map-only filter against the broadcast thresholds. A
    //      percent_rank formulation would force a single-partition global
    //      sort of the full corpus — this stays shuffle-light at 100 TB
    //      (swap the exact percentile for approx_percentile when the
    //      corpus outgrows one agg buffer; the filter pass is unchanged).
    //      Both engines interpolate percentiles linearly, so the
    //      thresholds gate exactly. ----
    gated("q65_quality_band",
      """SELECT doc_id, n_chars FROM documents,
        |  (SELECT percentile_cont(0.25) WITHIN GROUP (ORDER BY n_chars) AS t25,
        |          percentile_cont(0.75) WITHIN GROUP (ORDER BY n_chars) AS t75
        |   FROM documents) b
        |WHERE n_chars >= t25 AND n_chars <= t75
        |ORDER BY doc_id""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val bands = docs.agg(
        expr("percentile(n_chars, 0.25)").as("t25"),
        expr("percentile(n_chars, 0.75)").as("t75"))
      docs.join(broadcast(bands),
          col("n_chars") >= col("t25") && col("n_chars") <= col("t75"))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    },

    // ---- North star: deterministic stratified sampling — per-language
    //      keep rates applied by content hash, the standard way to
    //      rebalance a training corpus (downsample the dominant language,
    //      keep the tail). Same md5 mechanism as q63: a pure function of
    //      the key, so the sample is reproducible and append-stable —
    //      re-running over a grown corpus never flips an old row's fate.
    //      Map-only at any scale. Rates: en 25% ('40'), zh/fr/de/es 50%
    //      ('80') by the first two hex chars. ----
    gated("q66_stratified_sample",
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
        |  FROM documents) t
        |WHERE h < CASE WHEN lang = 'en' THEN '40' ELSE '80' END
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 2))
        .filter(col("h") < when(col("lang") === "en", "40").otherwise("80"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // ---- North star: one-pass column profiler — null count, exact
    //      distinct, min/max per column, unpivoted to one row per column.
    //      The multi-distinct agg compiles to Spark's Expand (k× the rows
    //      map-side, still one scan + one shuffle); at 100 TB swap the
    //      exact counts for approx_count_distinct and the plan loses the
    //      Expand entirely. All stats rendered as strings so one schema
    //      carries every column type. ----
    gated("q67_profile",
      """WITH s AS (SELECT
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS null_ck,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_ck,
        |    CAST(MIN(o_custkey) AS VARCHAR) AS min_ck, CAST(MAX(o_custkey) AS VARCHAR) AS max_ck,
        |    CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS null_st,
        |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_st,
        |    CAST(MIN(o_orderstatus) AS VARCHAR) AS min_st, CAST(MAX(o_orderstatus) AS VARCHAR) AS max_st,
        |    CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS null_tp,
        |    CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd_tp,
        |    CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS min_tp,
        |    CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS max_tp
        |  FROM orders)
        |SELECT 'o_custkey' AS c, n, null_ck AS n_null, nd_ck AS n_distinct,
        |       min_ck AS min_s, max_ck AS max_s FROM s
        |UNION ALL
        |SELECT 'o_orderstatus', n, null_st, nd_st, min_st, max_st FROM s
        |UNION ALL
        |SELECT 'o_totalprice', n, null_tp, nd_tp, min_tp, max_tp FROM s
        |ORDER BY c""") { (s, d) =>
      val agg = Tables.orders(s, d).agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col("o_custkey"))).as("null_ck"),
        countDistinct(col("o_custkey")).as("nd_ck"),
        min(col("o_custkey")).cast("string").as("min_ck"),
        max(col("o_custkey")).cast("string").as("max_ck"),
        (count(lit(1)) - count(col("o_orderstatus"))).as("null_st"),
        countDistinct(col("o_orderstatus")).as("nd_st"),
        min(col("o_orderstatus")).cast("string").as("min_st"),
        max(col("o_orderstatus")).cast("string").as("max_st"),
        (count(lit(1)) - count(col("o_totalprice"))).as("null_tp"),
        countDistinct(col("o_totalprice")).as("nd_tp"),
        decStr(min(col("o_totalprice"))).as("min_tp"),
        decStr(max(col("o_totalprice"))).as("max_tp"))
      agg.select(expr(
        """stack(3,
          |  'o_custkey',     n, null_ck, nd_ck, min_ck, max_ck,
          |  'o_orderstatus', n, null_st, nd_st, min_st, max_st,
          |  'o_totalprice',  n, null_tp, nd_tp, min_tp, max_tp)
          |  AS (c, n, n_null, n_distinct, min_s, max_s)""".stripMargin))
        .orderBy("c")
    },

    // ---- North star: document chunking — fixed-size token windows with
    //      overlap (size 20, stride 15), the standard pre-tokenization
    //      chunker for embedding/training pipelines. Chunk starts come
    //      from `sequence(0, n-1, stride)` + posexplode — pure per-row
    //      array work, map-only at any scale; rows only widen by the
    //      ~n/stride chunk factor. The trailing chunk is allowed short
    //      (n_toks shows it) — no padding, matching the oracle. ----
    gated("q69_chunking",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks, unnest(range(0, len(toks), 15)) AS st
        |      FROM t WHERE len(toks) >= 1)
        |SELECT doc_id, CAST(st / 15 AS BIGINT) AS chunk_id,
        |       CAST(len(list_slice(toks, st + 1, st + 20)) AS BIGINT) AS n_toks,
        |       array_to_string(list_slice(toks, st + 1, st + 20), ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_id""") { (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), col("toks"),
          posexplode(sequence(lit(0), size(col("toks")) - 1, lit(15))))
        .select(col("doc_id"),
          col("pos").cast("long").as("chunk_id"),
          size(slice(col("toks"), col("col") + 1, lit(20))).cast("long").as("n_toks"),
          concat_ws(" ", slice(col("toks"), col("col") + 1, lit(20))).as("chunk"))
        .orderBy("doc_id", "chunk_id")
    },

    // ---- North star: sequence packing — assign documents to fixed-
    //      capacity training sequences (2000 chars) by cumulative size in
    //      deterministic (lang, doc_id) order; a doc may straddle a
    //      boundary (pack-then-split). seq_id/offset are pure functions of
    //      the running sum, so packing is reproducible and append-stable.
    //
    //      The cumsum is the two-level scan statistic: the row-level
    //      window partitions by (lang, contiguous doc_id range) so every
    //      task sorts a bounded slice; per-range totals (one row per
    //      range — tiny) get prefix-summed in a second pass and the
    //      offset broadcasts back, because the global cumsum inside
    //      range r is (sum of prior ranges' totals) + local cumsum.
    //      A window keyed on lang alone would funnel each language's
    //      whole corpus through one task — the 100× scale-up killer.
    //      RANGE_DOCS=64 exercises many ranges at test SF; at 100 TB
    //      size it so a range is ~one task (e.g. 1e6 docs). ----
    gated("q70_seq_packing",
      """SELECT doc_id, lang,
        |       CAST(floor((cum - n_chars) / 2000.0) AS BIGINT) AS seq_id,
        |       CAST(cum - n_chars
        |            - 2000 * floor((cum - n_chars) / 2000.0) AS BIGINT) AS off
        |FROM (SELECT doc_id, lang, n_chars,
        |        SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |                           ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM documents)
        |ORDER BY lang, doc_id""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val RANGE_DOCS = 64L
      // ONE declared exchange on (lang, range): it satisfies both the
      // per-range totals aggregate and the local-cumsum window, and the
      // two branches below share the identical repartition subtree, so
      // ReuseExchange materializes one scan + one shuffle for both.
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("rng", floor(col("doc_id") / RANGE_DOCS))
        .repartition(col("lang"), col("rng"))
      // pass 1 input: per-(lang, range) totals — one tiny row per range
      val wOff = Window.partitionBy("lang").orderBy("rng")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = docs.groupBy("lang", "rng")
        .agg(sum("n_chars").as("rtot"))
        .select(col("lang"), col("rng"),
          coalesce(sum("rtot").over(wOff), lit(0L)).as("roff"))
      // pass 2: bounded local cumsum + broadcast prefix offset
      val wLoc = Window.partitionBy("lang", "rng").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val before = col("cum") - col("n_chars")
      docs
        .withColumn("lcum", sum(col("n_chars")).over(wLoc))
        .join(broadcast(offsets), Seq("lang", "rng"))
        .withColumn("cum", col("lcum") + col("roff"))
        .select(col("doc_id"), col("lang"),
          floor(before / 2000.0).cast("long").as("seq_id"),
          (before - lit(2000) * floor(before / 2000.0)).cast("long").as("off"))
        .orderBy("lang", "doc_id")
    },

    // ---- North star: train/test decontamination — find test-split
    //      documents sharing word trigrams with the train split (the
    //      benchmark-leakage check every eval pipeline needs). Splits come
    //      from q63's hash rule; the collision join shuffles on the
    //      shingle itself — uniformly distributed, no skew. At 100 TB,
    //      pre-hash each shingle to 8 bytes (xxhash64) before the
    //      exchange to cut shuffle bytes ~10×; the gate joins on the
    //      string form because both engines can reproduce it exactly. ----
    gated("q71_decontamination",
      """WITH t AS (SELECT doc_id,
        |             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, h,
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in range(1, len(w)-1)]) AS tg
        |      FROM t WHERE len(w) >= 3),
        |train AS (SELECT DISTINCT unnest(tg) AS sh FROM g WHERE h < 'c'),
        |test AS (SELECT doc_id, len(tg) AS n_sh, unnest(tg) AS sh
        |         FROM g WHERE h >= 'e')
        |SELECT test.doc_id, CAST(MAX(n_sh) AS BIGINT) AS n_sh,
        |       CAST(COUNT(*) AS BIGINT) AS n_hit,
        |       CAST(CAST(ROUND(COUNT(*) * 1.0 / MAX(n_sh), 4)
        |            AS DECIMAL(9,4)) AS VARCHAR) AS ratio
        |FROM test JOIN train ON test.sh = train.sh
        |GROUP BY test.doc_id ORDER BY doc_id""") { (s, d) =>
      // The shingle arrays are exploded IN the projection that builds them
      // (not aliased and exploded one select later): explode of a bare
      // column triggers InferFiltersFromGenerate's `size(tg) > 0` guard,
      // which predicate-pushdown then inlines — re-deriving the token
      // array inside every lambda step of the substituted filter, an
      // O(shingles × tokenize) blowup per row (measured 15× on this
      // query). Explode-at-build keeps the generator opaque to the rule.
      // Tokenize + shingle ONCE and materialize (localCheckpoint — the
      // local-mode stand-in for persisting the shingle index): train and
      // test are two branches over the same derived table, and without
      // the cut Spark re-runs the whole tokenize→trigram pipeline per
      // branch. At 100 TB the shingle index is written to storage once
      // and both sides read it — never derived twice.
      val docs = Tables.documents(s, d)
        .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 1))
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
      val tg = TextOps.trigrams(col("w"))
      val shingled = docs
        .filter(col("h") < "c" || col("h") >= "e")
        .select(col("doc_id"), col("h"), tg.as("tg"))
        .localCheckpoint()
      val train = shingled.filter(col("h") < "c")
        .select(explode(col("tg")).as("sh")).distinct()
      val test = shingled.filter(col("h") >= "e")
        .select(col("doc_id"), size(col("tg")).as("n_sh"),
          explode(col("tg")).as("sh"))
      test.join(train, "sh")
        .groupBy("doc_id")
        .agg(max(col("n_sh")).cast("long").as("n_sh"),
          count(lit(1)).as("n_hit"),
          dec4Str(round(count(lit(1)) * 1.0 / max(col("n_sh")), 4)).as("ratio"))
        .orderBy("doc_id")
    },

    // ---- North star: intra-document repetition — fraction of duplicate
    //      word trigrams (the Gopher/RefinedWeb boilerplate signal: high
    //      rep means templated or looping text). Pure per-row array math,
    //      map-only at any scale. ----
    gated("q72_repetition",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                      for i in range(1, len(w)-1)] AS tg
        |      FROM t WHERE len(w) >= 3)
        |SELECT doc_id, CAST(len(tg) AS BIGINT) AS n_tri,
        |       CAST(len(list_distinct(tg)) AS BIGINT) AS n_uniq,
        |       CAST(CAST(ROUND(1.0 - len(list_distinct(tg)) * 1.0 / len(tg), 4)
        |            AS DECIMAL(9,4)) AS VARCHAR) AS rep
        |FROM g ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .withColumn("tg", TextOps.trigramsAll(col("w")))
        .select(col("doc_id"),
          size(col("tg")).cast("long").as("n_tri"),
          size(array_distinct(col("tg"))).cast("long").as("n_uniq"),
          dec4Str(round(lit(1.0) - size(array_distinct(col("tg"))) * 1.0 /
            size(col("tg")), 4)).as("rep"))
        .orderBy("doc_id")
    },

    // ---- North star: mixture weighting — fit the corpus to target
    //      per-language shares under a global token budget (60% of total;
    //      n_chars as the token proxy). keep_rate(lang) = min(1,
    //      budget·share/actual) computed from one tiny aggregate, then
    //      applied as deterministic hash sampling (q66's mechanism, with
    //      the threshold now DERIVED from data instead of fixed): keep iff
    //      the first 16 bits of md5(doc_id) fall under rate·2^16. The
    //      rates table is |langs| rows → broadcast; the apply pass is
    //      map-only. Exact integer sums → rates are cross-engine exact;
    //      the rate ≥ 1 branch avoids the 5-hex-digit threshold edge. ----
    gated("q76_mixture_weights",
      """WITH s AS (SELECT lang, SUM(n_chars) AS tok FROM documents GROUP BY lang),
        |t AS (SELECT SUM(n_chars) AS tot FROM documents),
        |r AS (SELECT lang,
        |        LEAST(CAST(1.0 AS DOUBLE),
        |              CAST(0.6 AS DOUBLE) * CAST(tot AS DOUBLE)
        |              * (CASE WHEN lang = 'en' THEN CAST(0.4 AS DOUBLE)
        |                      ELSE CAST(0.15 AS DOUBLE) END)
        |              / CAST(tok AS DOUBLE)) AS rate
        |      FROM s, t)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
        |WHERE rate >= 1.0
        |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
        |      < lpad(lower(to_hex(CAST(floor(rate * 65536) AS INTEGER))), 4, '0')
        |ORDER BY d.doc_id""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val share = when(col("lang") === "en", 0.4).otherwise(0.15)
      val rates = docs.groupBy("lang")
        .agg(sum(col("n_chars")).as("tok"))
        .crossJoin(docs.agg(sum(col("n_chars")).as("tot")))
        .select(col("lang").as("rl"),
          least(lit(1.0),
            lit(0.6) * col("tot").cast("double") * share /
              col("tok").cast("double")).as("rate"))
      val threshold = lpad(lower(hex(floor(col("rate") * 65536).cast("int"))),
        4, "0")
      docs.join(broadcast(rates), col("lang") === col("rl"))
        .filter(col("rate") >= 1.0 ||
          substring(md5(col("doc_id").cast("string")), 1, 4) < threshold)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // ---- North star: PII detection + redaction — the scrub pass every
    //      training corpus needs before release. Pure per-row regex work
    //      (detect counts + replace-all), map-only at any scale; patterns
    //      stay in the RE2 ∩ Java-regex common dialect so both engines
    //      match identically. The corpus is synthetic (no real PII), so
    //      deterministic PII is INJECTED from doc fields first — the same
    //      injection on both engines — making the redaction provably
    //      non-vacuous (every row has one email + one phone hit). ----
    gated("q77_pii_redact",
      """WITH t AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@mail.example or +1-555-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        |  FROM documents WHERE doc_id < 50)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[a-z0-9._-]+@[a-z0-9.-]+')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(raw, '\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
        |  regexp_replace(regexp_replace(raw, '[a-z0-9._-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
        |                 '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
        |FROM t ORDER BY doc_id""") { (s, d) =>
      val emailRe = "[a-z0-9._-]+@[a-z0-9.-]+"
      val phoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
      Tables.documents(s, d)
        .filter(col("doc_id") < 50)
        .withColumn("raw", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .select(col("doc_id"),
          size(regexp_extract_all(col("raw"), lit(emailRe), lit(0)))
            .cast("long").as("n_email"),
          size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0)))
            .cast("long").as("n_phone"),
          regexp_replace(
            regexp_replace(col("raw"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("clean"))
        .orderBy("doc_id")
    },

    // ---- North star: duplicate CLUSTERS — connected components over the
    //      q45 near-dup pair list (A~B, B~C ⇒ one group of three, even if
    //      A and C never matched). Engine side: iterative min-label
    //      propagation (operators/ConnectedComponents — one join + one agg
    //      per round, O(diameter) rounds); oracle side: transitive closure
    //      via recursive CTE. Same fixpoint, exactly comparable. Cluster
    //      id = min doc_id in the component (the canonical survivor). ----
    gated("q78_dup_clusters",
      """WITH RECURSIVE t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents WHERE doc_id < 100),
        |g AS (SELECT doc_id,
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in range(1, len(w)-1)]) AS tg
        |      FROM t WHERE len(w) >= 3),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM g a, g b
        |      WHERE a.doc_id < b.doc_id
        |        AND CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
        |            / CAST(len(list_distinct(list_concat(a.tg, b.tg))) AS DOUBLE) >= 0.01),
        |e AS (SELECT a_id AS a, b_id AS b FROM p
        |      UNION SELECT b_id, a_id FROM p),
        |reach(s, d) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN e ON r.d = e.a)
        |SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster
        |FROM reach GROUP BY s ORDER BY doc_id""") { (s, d) =>
      graft.operators.ConnectedComponents.run(
          dupPairs(s, d, maxDocId = 100))
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")
    },

    // ---- LEAKAGE-FREE train/val/test split — the assignment step a
    //      training pipeline runs AFTER near-dup detection: a document's
    //      split derives from its DUP-CLUSTER representative, not its
    //      own id, so near-duplicates can never straddle train and eval
    //      (the contamination q71 would later have to catch). Clusters =
    //      q78's (same bounded pair relation + connected components);
    //      docs with no near-dup are their own singleton cluster. The
    //      assignment is a deterministic function of the cluster rep
    //      (min doc_id): rep % 10 → 0-7 train, 8 val, 9 test — identical
    //      on both engines, reproducible across runs, and atomic per
    //      cluster by construction. Scale: the labels relation is
    //      corpus-sized but 2 columns; the split is a projection — no
    //      new shuffle beyond the CC the dedup already ran. ----
    gated("q220_split_leakage_free",
      """WITH RECURSIVE t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents WHERE doc_id < 100),
        |g AS (SELECT doc_id,
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in range(1, len(w)-1)]) AS tg
        |      FROM t WHERE len(w) >= 3),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM g a, g b
        |      WHERE a.doc_id < b.doc_id
        |        AND CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
        |            / CAST(len(list_distinct(list_concat(a.tg, b.tg))) AS DOUBLE) >= 0.01),
        |e AS (SELECT a_id AS a, b_id AS b FROM p
        |      UNION SELECT b_id, a_id FROM p),
        |reach(s, d) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN e ON r.d = e.a),
        |lab AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
        |        FROM reach GROUP BY s),
        |f AS (SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster
        |      FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
        |      LEFT JOIN lab l ON d.doc_id = l.doc_id)
        |SELECT doc_id, CAST(cluster AS BIGINT) AS cluster,
        |       CASE WHEN cluster % 10 <= 7 THEN 'train'
        |            WHEN cluster % 10 = 8 THEN 'val' ELSE 'test' END AS split
        |FROM f ORDER BY doc_id""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 100)
      val labels = graft.operators.ConnectedComponents.run(
          dupPairs(s, d, maxDocId = 100))
        .select(col("id").as("doc_id"), col("cluster"))
      docs.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
        .withColumn("split",
          when(col("cluster") % 10 <= 7, "train")
            .when(col("cluster") % 10 === 8, "val")
            .otherwise("test"))
        .orderBy("doc_id")
    },

    // ---- O37/O38 companion: LINE-level boilerplate removal — the
    //      RefinedWeb/CCNet-style dedup unit below whole documents:
    //      lines repeated across ≥100 distinct documents (footers,
    //      banners) are dropped; each document is reassembled from its
    //      surviving lines in original order. Boilerplate lines are
    //      planted deterministically (doc_id%2 → newsletter banner,
    //      doc_id%3 → copyright footer: document frequencies n/2 and
    //      n/3 ≥ 100 at every SF) on a corpus whose natural lines are
    //      unique (max exact-dup text multiplicity ≤ 2) — removal and
    //      retention are both provably non-vacuous. Scale: one shuffle
    //      on the line (at 100 TB: on xxhash64(line)), document-
    //      frequency side partial-aggregates; reassembly reuses the
    //      doc_id exchange. ----
    gated("q92_line_dedup",
      """WITH d2 AS (SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END ||
        |         CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'copyright 2024 example corp all rights reserved' ELSE '' END AS t
        |       FROM documents),
        |lines AS (SELECT doc_id, generate_subscripts(ls, 1) AS pos, unnest(ls) AS ln
        |          FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d2)),
        |freq AS (SELECT ln, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY ln),
        |kept AS (SELECT l.doc_id, l.pos, l.ln
        |         FROM lines l JOIN freq f ON l.ln = f.ln WHERE f.df < 100),
        |n AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id)
        |SELECT n.doc_id, CAST(n.n_lines AS BIGINT) AS n_lines,
        |       CAST(COUNT(k.ln) AS BIGINT) AS n_kept,
        |       md5(string_agg(k.ln, chr(10) ORDER BY k.pos)) AS fp
        |FROM n LEFT JOIN kept k ON n.doc_id = k.doc_id
        |GROUP BY n.doc_id, n.n_lines
        |ORDER BY n.doc_id""") { (s, d) =>
      val d2 = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0,
            lit("\nsubscribe to our newsletter today")).otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            lit("\ncopyright 2024 example corp all rights reserved"))
            .otherwise(lit(""))).as("t"))
      val lines = d2.select(col("doc_id"),
        posexplode(split(col("t"), "\n")).as(Seq("pos", "ln")))
      val freq = lines.groupBy("ln")
        .agg(countDistinct(col("doc_id")).as("df"))
      val kept = lines.join(freq, "ln").filter(col("df") < 100)
      val reassembled = kept.groupBy("doc_id")
        .agg(cntLong.as("n_kept"),
          md5(concat_ws("\n",
            transform(array_sort(collect_list(struct(col("pos"), col("ln")))),
              x => x.getField("ln")))).as("fp"))
      lines.groupBy("doc_id").agg(cntLong.as("n_lines"))
        .join(reassembled, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("fp"))
        .orderBy("doc_id")
    },

    // ---- O40: MinHash-LSH near-dup (scale path). xxhash64 has no DuckDB
    //      equivalent, so the signatures can't hash-match — instead the
    //      gate (q11b verdict pattern) runs LSH over the FULL corpus plus
    //      planted perturbed copies (text ⧺ " xdup marker", id+100000 —
    //      trigram Jaccard ≈ 0.85 per pair, constructible in both
    //      engines), and checks it against the EXACT trigram-Jaccard
    //      pair list of a bounded block (doc_id%100000 < 300, the
    //      all-pairs cost the oracle can afford):
    //        n_exact    — exact block pairs at θ=0.3 (oracle-counted;
    //                     348/328/300 at sf0.001/0.01/0.1 — non-vacuous);
    //        recall_ok  — LSH found ≥95% of them (measured ≥97.9% at all
    //                     three SFs; deterministic — seeded hashes);
    //        subset_ok  — every block LSH pair IS an exact pair (the
    //                     exact-Jaccard rerank guarantees this up to
    //                     shingle-hash collisions; measured exact).
    //      Integer-only verdict arithmetic (hits·100 ≥ n_exact·95): no
    //      float compare at the gate boundary. ----
    gated("q40_minhash_lsh", minhashOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // copies planted only for the gate block: the verdict inspects block
      // pairs, so the full corpus keeps its natural size for the LSH leg
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") < 300)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" xdup marker")).as("text")))
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
      val inBlock = (col("doc_id") % 100000) < 300
      // exact block pairs, trigram-STRING Jaccard (the oracle's formula);
      // checkpointed — the block table feeds both sides of the self-join
      val g = corpus.filter(inBlock)
        .select(col("doc_id"), TextOps.trigrams(col("w")).as("tg"))
        .localCheckpoint()
      val exact = g.select(col("doc_id").as("a_id"), col("tg").as("a_tg"))
        .join(g.select(col("doc_id").as("b_id"), col("tg").as("b_tg")),
          col("a_id") < col("b_id"))
        .filter(call_function("jaccard_sets", col("a_tg"), col("b_tg")) >= 0.3)
        .select(col("a_id"), col("b_id"))
      // LSH over the FULL corpus (the scale path under test), then the
      // block slice is compared against the exact pair list
      val lsh = NearDup.lshPairs(corpus.select(col("doc_id"), col("w")),
          "doc_id", "w", k = 16, nBands = 4, threshold = 0.3)
        .filter(((col("a_id") % 100000) < 300) && ((col("b_id") % 100000) < 300))
        .select(col("a_id").as("la"), col("b_id").as("lb"))
      // one pass over each side: full-outer pair match → three counts
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

    // ---- The PERSISTED-index probe path of q40 — the steady-state dedup
    //      shape at corpus scale: writeIndex materializes the banded
    //      signature relation to parquet ONCE (tokenize→shingle→k-hash
    //      never re-runs), pairsFromIndex band-joins the FILES. Same
    //      planted-block gate as q40, so the index write→probe round trip
    //      is oracle-checked end-to-end (IndexSpec keeps the inline-parity
    //      and no-derivation plan assertions). ----
    gated("q40c_minhash_indexed", minhashOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") < 300)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" xdup marker")).as("text")))
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
      val inBlock = (col("doc_id") % 100000) < 300
      val g = corpus.filter(inBlock)
        .select(col("doc_id"), TextOps.trigrams(col("w")).as("tg"))
        .localCheckpoint()
      val exact = g.select(col("doc_id").as("a_id"), col("tg").as("a_tg"))
        .join(g.select(col("doc_id").as("b_id"), col("tg").as("b_tg")),
          col("a_id") < col("b_id"))
        .filter(call_function("jaccard_sets", col("a_tg"), col("b_tg")) >= 0.3)
        .select(col("a_id"), col("b_id"))
      // the probe path under test: signatures persisted, pairs from FILES
      val path = graft.GatedQuery.indexScratch(d, "minhash_q40c")
      NearDup.writeIndex(corpus.select(col("doc_id"), col("w")),
        "doc_id", "w", path, k = 16, nBands = 4)
      val lsh = NearDup.pairsFromIndex(s, path, threshold = 0.3)
        .filter(((col("a_id") % 100000) < 300) && ((col("b_id") % 100000) < 300))
        .select(col("a_id").as("la"), col("b_id").as("lb"))
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

    // ---- O40: SimHash sketch per document. The 16-bit sketches are
    //      xxhash64-derived (no DuckDB twin), so the gate pins the
    //      sketch's CONTRACT: identical texts land at Hamming 0 (purity —
    //      re-keyed identical copies), near-identical texts (one token
    //      appended) land within Hamming ≤ 8 (measured max 6 at all three
    //      SFs; deterministic). n_docs anchors the row count. Native
    //      single-pass expression; NearDup.simhash16 is the HOF reference
    //      formulation (bit-parity spec). ----
    gated("q40b_simhash",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(1 AS BIGINT) AS zero_ok,
        |       CAST(1 AS BIGINT) AS near_ok
        |FROM documents""") { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val sig = call_function("simhash16", TextOps.tokens(col("text")))
      val orig = docs.select(col("doc_id"), sig.as("osh"))
      val ident = docs.select(col("doc_id"), sig.as("ish"))
      val pert = docs.select(col("doc_id"),
          concat(col("text"), lit(" xdup marker")).as("text"))
        .select(col("doc_id"), sig.as("psh"))
      val joined = orig.join(ident, "doc_id").join(pert, "doc_id")
        .select(NearDup.hamming(col("osh"), col("ish")).as("hi"),
          NearDup.hamming(col("osh"), col("psh")).as("hp"))
      joined.agg(cntLong.as("n_docs"),
        (max(col("hi")) === 0).cast("long").as("zero_ok"),
        (max(col("hp")) <= 8).cast("long").as("near_ok"))
    },

    // ---- North star: training-shard layout — the deterministic global
    //      shuffle every training run needs. Each document gets a
    //      (shard, pos): shard = hash-assigned reader lane, pos = the
    //      document's position in that lane's reproducible pseudo-random
    //      order (order by md5(doc_id) — append-stable, seed-free,
    //      identical on both engines). The rank is two-level like
    //      q70/q95: row_number within (shard, 2-hex-char bucket of the
    //      SORT key — a refinement of the order, so local+offset ==
    //      global), per-bucket counts prefix-summed in a tiny pass and
    //      broadcast back. No task ever sorts a whole shard; shard
    //      count at 100 TB is the reader parallelism (thousands), and
    //      the same shape holds. ----
    gated("q103_train_shards",
      """SELECT doc_id,
        |       CAST(ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 8
        |            AS BIGINT) AS shard,
        |       CAST(ROW_NUMBER() OVER (
        |         PARTITION BY ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 8
        |         ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS pos
        |FROM documents
        |ORDER BY shard, pos""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // one declared exchange feeds both branches (ReuseExchange), same
      // single-shuffle shape as q70/q95
      val t = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("k"))
        .withColumn("shard", (ascii(substring(col("k"), 1, 1)) % 8).cast("long"))
        .withColumn("bkt", substring(col("k"), 1, 2))
        .repartition(col("shard"), col("bkt"))
      val wOff = Window.partitionBy("shard").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = t.groupBy("shard", "bkt").agg(count(lit(1)).as("btot"))
        .select(col("shard"), col("bkt"),
          coalesce(sum("btot").over(wOff), lit(0L)).as("boff"))
      val wLoc = Window.partitionBy("shard", "bkt").orderBy("k")
      t.withColumn("lpos", row_number().over(wLoc))
        .join(broadcast(offsets), Seq("shard", "bkt"))
        .select(col("doc_id"), col("shard"),
          (col("lpos") + col("boff")).as("pos"))
        .orderBy("shard", "pos")
    },

    // ---- North star: exact SUBSTRING dedup at token granularity — the
    //      unit below whole documents and lines: any 20-token window
    //      appearing in ≥2 distinct documents is boilerplate/duplication
    //      (the exact-substring criterion of training-data dedup), and
    //      each document reports how many of its token positions fall
    //      under a repeated window. A 23-token tail planted on doc_id%7
    //      guarantees cross-doc repeats distinct from the corpus's
    //      natural full-document duplicates; both are caught. Scale: the
    //      window table shuffles on md5(window) — uniform by
    //      construction, 16 bytes per key regardless of window text; the
    //      repeated-set semi-join and the ×20 position explode touch
    //      only hit rows. ----
    gated("q104_substring_dedup",
      """WITH d2 AS (SELECT doc_id,
        |         text || CASE WHEN doc_id % 7 = 0
        |                 THEN ' the quick brown fox jumps over the lazy dog while reading terms and conditions that apply to all subscribers of this newsletter today'
        |                 ELSE '' END AS t
        |       FROM documents),
        |tt AS (SELECT doc_id,
        |         list_filter(string_split(lower(t), ' '), x -> x <> '') AS w
        |       FROM d2),
        |t20 AS (SELECT doc_id, w FROM tt WHERE len(w) >= 20),
        |s AS (SELECT doc_id, unnest(range(1, len(w) - 18)) AS i, w FROM t20),
        |sh AS (SELECT doc_id, i - 1 AS start,
        |         md5(array_to_string(list_slice(w, i, i + 19), ' ')) AS h
        |       FROM s),
        |rep AS (SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        |hits AS (SELECT DISTINCT sh.doc_id, sh.start
        |         FROM sh JOIN rep USING (h)),
        |m AS (SELECT doc_id, COUNT(DISTINCT p) AS n_masked
        |      FROM (SELECT doc_id, unnest(range(start, start + 20)) AS p
        |            FROM hits)
        |      GROUP BY doc_id)
        |SELECT t20.doc_id, CAST(len(t20.w) AS BIGINT) AS n_toks,
        |       CAST(COALESCE(m.n_masked, 0) AS BIGINT) AS n_masked
        |FROM t20 LEFT JOIN m USING (doc_id) ORDER BY doc_id""") { (s, d) =>
      val tail = " the quick brown fox jumps over the lazy dog while " +
        "reading terms and conditions that apply to all subscribers of " +
        "this newsletter today"
      val t = Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), when(pmod(col("doc_id"), lit(7)) === 0,
            lit(tail)).otherwise(lit(""))).as("t"))
        .withColumn("w", TextOps.tokens(col("t")))
        .select(col("doc_id"), col("w"))
      // the span relation feeds THREE consumers (repeated-set agg, hit
      // join, per-doc token count) — materialize it once so tokenize +
      // per-window md5 run a single time (at corpus scale: the persisted
      // index — Spans.writeIndex, parity-pinned by IndexSpec)
      val spans = Spans.spanRelation(t, "doc_id", "w").localCheckpoint()
      Spans.maskedCounts(spans, window = 20).orderBy("doc_id")
    },

    // ---- Positional phrase search — the reference's serving store is a
    //      SEARCH index (documents upserted into OpenSearch and queried
    //      by content); this is that query surface engine-side. Postings
    //      (doc_id, pos, term) materialize once and the phrase "merge
    //      join" is a consecutive-position equi-join between the two
    //      terms' posting lists — never a rescan of text, never a theta
    //      join. At corpus scale the postings persist bucket-partitioned
    //      (Phrase.writeIndex) and a probe prunes to the phrase terms'
    //      directories; IndexSpec pins indexed == inline parity and the
    //      bucket partition filter. ----
    gated("q109_phrase_search",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(len(list_filter(range(1, len(w)),
        |               i -> w[i] = 'merge' AND w[i+1] = 'join')) AS BIGINT)
        |          AS n_hits
        |      FROM t)
        |SELECT doc_id, n_hits FROM h WHERE n_hits > 0
        |ORDER BY doc_id""") { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      // both phrase terms probe the SAME posting relation — materialize
      // it once (at corpus scale: the persisted bucket-partitioned index)
      val post = Phrase.postings(toks, "doc_id", "w").localCheckpoint()
      Phrase.phraseHits(post, Seq("merge", "join")).orderBy("doc_id")
    },

    // ---- q109's PERSISTED-index sibling, gated through the disk round
    //      trip (the q40c/q48c discipline applied to the text index):
    //      Phrase.writeIndex lays the positional postings out
    //      PARTITIONED BY term-hash bucket, and the probe reads ONLY
    //      the phrase terms' buckets (directory pruning — IndexSpec
    //      pins the PartitionFilters push) and posting lists. What the
    //      cross-engine gate adds: the layout's round trip loses no
    //      occurrence — the same adjacency counts come back off disk
    //      that a full rescan computes. ----
    gated("q196_indexed_phrase",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(len(list_filter(range(1, len(w)),
        |               i -> w[i] = 'hash' AND w[i+1] = 'join')) AS BIGINT)
        |          AS n_hits
        |      FROM t)
        |SELECT doc_id, n_hits FROM h WHERE n_hits > 0
        |ORDER BY doc_id""") { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      val dir = graft.GatedQuery.indexScratch(d, "phrase_index_q196")
      Phrase.writeIndex(toks, "doc_id", "w", dir, nBuckets = 64)
      Phrase.phraseHitsIndexed(s, dir, Seq("hash", "join"), nBuckets = 64)
        .orderBy("doc_id")
    },

    // ---- q196's INGEST-path sibling: the index is built in TWO batches
    //      — writeIndex over the even doc_ids, appendToIndex over the
    //      odd ones — and the probe answers from the APPENDED index.
    //      This gates Phrase.appendToIndex, the steady-state ingest
    //      story (a new batch's postings land inside the same bucket
    //      layout at |batch| cost; old postings never rewrite), through
    //      the same cross-engine oracle as the one-shot build: the
    //      oracle knows nothing about batches, so the gate proves the
    //      two-batch index answers the phrase EXACTLY like a full
    //      rescan — and, since the oracle SQL is q196's verbatim, like
    //      the one-shot index. ----
    gated("q217_phrase_append",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(len(list_filter(range(1, len(w)),
        |               i -> w[i] = 'hash' AND w[i+1] = 'join')) AS BIGINT)
        |          AS n_hits
        |      FROM t)
        |SELECT doc_id, n_hits FROM h WHERE n_hits > 0
        |ORDER BY doc_id""") { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      val dir = graft.GatedQuery.indexScratch(d, "phrase_index_q217")
      // batch 1: one-time build; batch 2: steady-state append — disjoint
      // halves, together the full corpus
      Phrase.writeIndex(toks.filter(col("doc_id") % 2 === 0),
        "doc_id", "w", dir, nBuckets = 64)
      Phrase.appendToIndex(toks.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "w", dir, nBuckets = 64)
      Phrase.phraseHitsIndexed(s, dir, Seq("hash", "join"), nBuckets = 64)
        .orderBy("doc_id")
    },

    // ---- Fuzzy term match (OpenSearch `fuzziness` surface): misspelled
    //      query terms resolve to vocabulary terms within edit distance
    //      1 via SymSpell delete-neighborhood blocking — an equi-join on
    //      one-char-deletion keys, exact levenshtein filter on the
    //      collision set only, never |queries| × |vocab|. 'mrege' is
    //      distance 2 from 'merge' (transposition = 2 edits in plain
    //      Levenshtein) and correctly matches nothing on BOTH engines —
    //      the planted negative. Doc counts ride along from the same
    //      posting vocabulary the phrase index serves. ----
    gated("q110_fuzzy_match",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |v AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |      FROM (SELECT doc_id, unnest(w) AS term FROM t)
        |      GROUP BY term),
        |q AS (SELECT unnest(['mrege', 'jon', 'windw', 'scann']) AS q_term)
        |SELECT q.q_term, v.term, v.n_docs
        |FROM q JOIN v ON levenshtein(q.q_term, v.term) <= 1
        |ORDER BY q_term, term""") { (s, d) =>
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      // the vocabulary feeds BOTH the delete-key join and the n_docs
      // payload join — materialize it once (one corpus scan, not two)
      val vocab = Phrase.postings(toks, "doc_id", "w")
        .groupBy("term").agg(countDistinct(col("doc_id")).as("n_docs"))
        .localCheckpoint()
      val q = Seq("mrege", "jon", "windw", "scann").toDF("q_term")
      Fuzzy.fuzzyPairs(q, "q_term", vocab, "term")
        .join(vocab, "term")
        .select(col("q_term"), col("term"), col("n_docs"))
        .orderBy("q_term", "term")
    },

    // ---- O37/O40: EXACT Jaccard similarity join at τ = 1/2 over trigram
    //      shingle sets — the prefix-filtered exact path beside the
    //      approximate MinHash one (q40): recall 1.0 by theorem, no
    //      all-pairs leg anywhere (text/SimJoin.scala scale notes). The
    //      oracle verifies by a token-join (intersection counts via
    //      shared shingles), a THIRD formulation — both engines must
    //      agree pair-for-pair and count-for-count. Threshold decided by
    //      integer cross-multiplication on both sides, so J == τ
    //      boundary pairs cannot flip on float rounding; the reported j
    //      is one IEEE division, identical cross-engine. ----
    gated("q123_simjoin_prefix",
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                     for i in range(1, len(w)-1)])) AS s
        |      FROM t WHERE len(w) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |       FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(i AS BIGINT) AS i,
        |       CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
        |       CAST(CAST(ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4)
        |            AS DECIMAL(9,4)) AS VARCHAR) AS j
        |FROM ov JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        |WHERE 2 * i >= sa.n + sb.n - i
        |ORDER BY a_id, b_id""") { (s, d) =>
      val sets = Tables.documents(s, d)
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id").as("id"), col("w").as("toks"))
      SimJoin.jaccardJoinTokens(sets, 1, 2)
        .withColumn("j",
          dec4Str(round(col("i").cast("double") /
            (col("na") + col("nb") - col("i")), 4)))
        .orderBy("a_id", "b_id")
    },

    // ---- INCREMENTAL exact similarity join (SimJoin.writeIndex /
    //      incrementalJaccard) under the cross-engine gate: the corpus
    //      splits into a base (90%) and an ingest batch (doc_id ≡ 9 mod
    //      10), the base builds its persisted prefix index ONCE, and the
    //      batch joins its prefixes against the stored postings — every
    //      ≥τ pair INVOLVING a batch doc, without re-pairing the base
    //      (the steady-state cost of the q134/q149/q152 dedup family:
    //      |batch| + candidates, never |corpus|²). The oracle computes
    //      the same answer the only way SQL can — the full pair set,
    //      filtered to batch-involving pairs — so what the gate pins is
    //      that the frozen-order index path loses NOTHING vs the
    //      rebuild (recall 1.0 under the order-extension argument at the
    //      operator; SCALE.md's exact-dedup "Increment-vs-rebuild"
    //      entry prices it at scale). ----
    gated("q190_incremental_simjoin",
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                     for i in range(1, len(w)-1)])) AS s
        |      FROM t WHERE len(w) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |       FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(i AS BIGINT) AS i,
        |       CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb
        |FROM ov JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        |WHERE 2 * i >= sa.n + sb.n - i
        |  AND (a_id % 10 = 9 OR b_id % 10 = 9)
        |ORDER BY a_id, b_id""") { (s, d) =>
      val sets = Tables.documents(s, d)
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id").as("id"), col("w").as("toks"))
        .localCheckpoint() // base and batch legs split one tokenization
      val dir = graft.GatedQuery.indexScratch(d, "simjoin_q190")
      SimJoin.writeIndexTokens(sets.filter(col("id") % 10 =!= 9), dir, 1, 2)
      SimJoin.incrementalJaccardTokens(s, dir, sets.filter(col("id") % 10 === 9),
          1, 2)
        .orderBy("a_id", "b_id")
    },

    // ---- Sorted-neighborhood blocking (operators/SortedNeighborhood):
    //      the third candidate family beside LSH buckets (q40) and
    //      prefix tokens (q123) — block on the sortable text OPENING,
    //      verify with edit distance over the same 80-char prefix. Finds
    //      the same 25 planted near-dup pairs as q123 through a
    //      completely different mechanism (window-in-sort-order vs
    //      set-overlap theorem), which is exactly the cross-check an ER
    //      pipeline wants. The engine's global sequence is the two-level
    //      range-partition + offset shape (no single-task global
    //      window); the oracle can afford DuckDB's plain ROW_NUMBER. ----
    gated("q129_sorted_neighbor",
      """WITH r AS (SELECT doc_id AS id, substr(text, 1, 80) AS key,
        |                  ROW_NUMBER() OVER (ORDER BY substr(text, 1, 80), doc_id) AS rn
        |           FROM documents)
        |SELECT a.id AS a_id, b.id AS b_id,
        |       CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
        |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 5
        |WHERE levenshtein(a.key, b.key) <= 8
        |ORDER BY a_id, b_id""") { (s, d) =>
      import graft.operators.SortedNeighborhood
      val recs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), substring(col("text"), 1, 80).as("key"))
      // thresholded levenshtein (r18): the DP early-exits once the
      // distance provably exceeds 8 (banded O(len·k) instead of the
      // full O(len²) matrix per candidate pair); -1 encodes "above the
      // threshold", and kept rows carry the exact distance — identical
      // result set to the unthresholded filter
      SortedNeighborhood.candidates(recs, w = 5)
        .withColumn("dist",
          levenshtein(col("a_key"), col("b_key"), 8).cast("long"))
        .filter(col("dist") >= 0)
        .select(col("a_id"), col("b_id"), col("dist"))
        .orderBy("a_id", "b_id")
    },

    // ---- Statistical fluency scoring (the CCNet/KenLM quality-filter
    //      idea with an exact-arithmetic core): train bigram conditional
    //      probabilities on the 80% held-in slice, score held-out docs
    //      by their mean scaled conditional probability — log-free, so
    //      every factor is ONE integer division (scaled 1e6, truncating
    //      on both engines) and the gate is exact. Unseen bigrams score
    //      0 (the filter's whole point: gibberish gets no mass).
    //      Scale: the model is vocabulary²-bounded count relations (not
    //      corpus-bounded); scoring shuffles eval bigrams by bigram key
    //      into a hash join against the model, then one per-doc agg —
    //      the same shape as a broadcast-model filter when the model
    //      fits, declared as joins so Catalyst/AQE picks. ----
    gated("q132_lm_fluency",
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |bg AS (SELECT doc_id, unnest([{'a': w[i], 'ab': w[i] || ' ' || w[i+1]}
        |                              for i in range(1, len(w))]) AS g
        |       FROM t WHERE len(w) >= 2),
        |flat AS (SELECT doc_id, g.a AS a, g.ab AS ab FROM bg),
        |cb AS (SELECT ab, COUNT(*) AS cab FROM flat WHERE doc_id % 10 < 8 GROUP BY ab),
        |cu AS (SELECT a, COUNT(*) AS ca FROM flat WHERE doc_id % 10 < 8 GROUP BY a)
        |SELECT f.doc_id,
        |       CAST(SUM(COALESCE((1000000 * cb.cab) // cu.ca, 0)) // COUNT(*) AS BIGINT) AS fluency
        |FROM flat f LEFT JOIN cb ON f.ab = cb.ab LEFT JOIN cu ON f.a = cu.a
        |WHERE f.doc_id % 10 >= 8
        |GROUP BY f.doc_id ORDER BY f.doc_id""") { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
      // bigram occurrences (doc_id, a, ab), one row per position — the
      // relation feeds model building AND scoring; materialize once
      val flat = toks.select(col("doc_id"), explode(expr(
          """transform(slice(w, 1, size(w) - 1),
            |  (x, i) -> struct(x AS a,
            |                   concat(x, ' ', element_at(w, i + 2)) AS ab))"""
            .stripMargin)).as("g"))
        .select(col("doc_id"), col("g.a").as("a"), col("g.ab").as("ab"))
        .localCheckpoint()
      val train = flat.filter(pmod(col("doc_id"), lit(10)) < 8)
      val cb = train.groupBy("ab").agg(count(lit(1)).as("cab"))
      val cu = train.groupBy("a").agg(count(lit(1)).as("ca"))
      flat.filter(pmod(col("doc_id"), lit(10)) >= 8)
        .join(cb, Seq("ab"), "left")
        .join(cu, Seq("a"), "left")
        .groupBy("doc_id")
        .agg(expr("sum(coalesce((1000000 * cab) div ca, 0)) div count(1)")
          .cast("long").as("fluency"))
        .orderBy("doc_id")
    },

    // ---- The EXACT dedup pipeline end-to-end, every stage oracle-true:
    //      prefix-filtered Jaccard pairs (q123) → pointer-jumping
    //      connected components (q78's operator) → per-cluster canonical
    //      survivor. The exact counterpart of q90's MinHash pipeline —
    //      pairwise matches are only EDGES; the deletion unit is the
    //      transitive cluster (the 3-member cluster here merges two
    //      pairs that never matched each other directly). The oracle
    //      rebuilds components with a recursive transitive-closure CTE —
    //      a third formulation of the same semantics. ----
    gated("q134_dedup_exact",
      """WITH RECURSIVE
        |t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                     for i in range(1, len(w)-1)])) AS s
        |      FROM t WHERE len(w) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |       FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM ov JOIN sz sa ON a_id = sa.doc_id
        |          JOIN sz sb ON b_id = sb.doc_id WHERE 2*i >= sa.n + sb.n - i),
        |e AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM e
        |                UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        |lbl AS (SELECT u, LEAST(u, MIN(v)) AS cluster FROM reach GROUP BY u)
        |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
        |       MIN(u) AS keep, MAX(u) AS last_member
        |FROM lbl GROUP BY cluster ORDER BY cluster""") { (s, d) =>
      import graft.operators.ConnectedComponents
      val sets = Tables.documents(s, d)
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id").as("id"), col("w").as("toks"))
      val pairs = SimJoin.jaccardJoinTokens(sets, 1, 2)
        .select(col("a_id"), col("b_id"))
      ConnectedComponents.run(pairs)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("keep"),
          max(col("id")).as("last_member"))
        .orderBy("cluster")
    },

    // ---- O38/BPE: the trained tokenizer's final vocabulary state —
    //      word, corpus count, and the piece sequence after BpeMerges
    //      greedy merges. The oracle REPLAYS the whole training loop as
    //      an unrolled CTE chain (one argmax + one left-to-right
    //      re-segmentation per stage), so the gate certifies every merge
    //      decision, tie-break, and overlap rule cross-engine — not just
    //      a baked answer. ----
    gated("q144b_bpe_train", s"""WITH ${bpeChain(BpeMerges)}
      |SELECT wc.word, wc.cnt, CAST(COUNT(*) AS BIGINT) AS n_pieces,
      |       STRING_AGG(p.sym, '|' ORDER BY p.pos) AS pieces
      |FROM wc JOIN s$BpeMerges p ON wc.word = p.word
      |GROUP BY wc.word, wc.cnt ORDER BY wc.word""") { (s, d) =>
      import s.implicits._
      val words = Bpe.topWords(Tables.documents(s, d), "text", BpeCap)
      val (_, state) = Bpe.trainFull(words, BpeMerges)
      // vocabulary-bounded driver relation (≤ BpeCap rows) — the same
      // O(parameters) shape as the k-means/PQ codebook gates
      state.toSeq
        .map { case (w, syms) =>
          (w, words(w), syms.length.toLong, syms.mkString("|")) }
        .sortBy(_._1)
        .toDF("word", "cnt", "n_pieces", "pieces")
    },

    // ---- O38/BPE: per-document subword token counts under the trained
    //      tokenizer — the "how many tokens is this corpus" contract an
    //      LLM-data pipeline budgets with. Training-vocab words read
    //      their piece count off the trained state (both engines replay
    //      the identical loop); zero-word docs report 0, not absence. ----
    gated("q144_bpe_tokens", s"""WITH ${bpeChain(BpeMerges)},
      |plen AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
      |         FROM s$BpeMerges GROUP BY word),
      |occ AS (SELECT doc_id, UNNEST(STR_SPLIT(LOWER(text), ' ')) AS w
      |        FROM documents),
      |cs AS (SELECT o.doc_id, SUM(p.n) AS s
      |       FROM occ o JOIN plen p ON o.w = p.word GROUP BY 1)
      |SELECT d.doc_id, CAST(COALESCE(c.s, 0) AS BIGINT) AS n_tokens
      |FROM documents d LEFT JOIN cs c ON d.doc_id = c.doc_id
      |ORDER BY d.doc_id""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val words = Bpe.topWords(docs, "text", BpeCap)
      val (merges, state) = Bpe.trainFull(words, BpeMerges)
      Bpe.tokenCounts(docs, "doc_id", "text", merges, state)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // ---- O40: ASYMMETRIC containment join — |a∩b|/|a| ≥ 2/3 over
    //      trigram sets, the subsumption/quotation relation Jaccard
    //      can't see (a short doc quoted inside a long one has tiny J
    //      but containment ≈ 1). Engine: probe-prefix vs inverted-index
    //      prefix filtering (SimJoin.containmentJoin), exact integer
    //      threshold; oracle: all-pairs list_intersect arithmetic. ----
    gated("q146_containment",
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                                    for i in range(1, len(w)-1)]) AS tg
        |      FROM t WHERE len(w) >= 3)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(len(list_intersect(a.tg, b.tg)) AS BIGINT) AS i,
        |       CAST(len(a.tg) AS BIGINT) AS na,
        |       CAST(len(b.tg) AS BIGINT) AS nb
        |FROM g a JOIN g b ON a.doc_id <> b.doc_id
        |WHERE 3 * len(list_intersect(a.tg, b.tg)) >= 2 * len(a.tg)
        |ORDER BY a_id, b_id""") { (s, d) =>
      val sets = Tables.documents(s, d)
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id").as("id"), col("w").as("toks"))
      SimJoin.containmentJoinTokens(sets, 2, 3)
        .orderBy("a_id", "b_id")
    },

    // ---- O38: TF-IDF key-term extraction — top-3 terms per document by
    //      tf · idf, the keyword/tag primitive of every retrieval and
    //      corpus-exploration pipeline. idf is the EXACT integer
    //      (10^6 · N) div df (a float log-idf would make cross-engine
    //      boundary ranks nondeterministic; the div preserves the
    //      rarest-first order log would induce on equal tf). Scale: tf
    //      is one partial-aggregated groupBy on (doc, term); df derives
    //      from tf (vocabulary-sized); the idf join is vocabulary-keyed;
    //      top-3 per doc is a rank window the optimizer turns into
    //      WindowGroupLimit — no global sort of the score relation. ----
    gated("q147_keyterms",
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
        |                                 x -> x <> '')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |sc AS (SELECT tf.doc_id, tf.w AS term,
        |              tf.tf * ((1000000 * nn.n) // df.df) AS score
        |       FROM tf JOIN df ON tf.w = df.w CROSS JOIN nn),
        |r AS (SELECT doc_id, term, CAST(score AS BIGINT) AS score,
        |             ROW_NUMBER() OVER (PARTITION BY doc_id
        |                                ORDER BY score DESC, term) AS rk
        |      FROM sc)
        |SELECT doc_id, term, score, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val nn = docs.agg(count(lit(1)).as("n"))
      import org.apache.spark.sql.expressions.Window
      val rk = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(dfreq, "w").crossJoin(broadcast(nn))
        .select(col("doc_id"), col("w").as("term"),
          expr("tf * ((1000000 * n) div df)").as("score"))
        .withColumn("rk", row_number().over(rk).cast("long"))
        .filter(col("rk") <= 3)
        .orderBy("doc_id", "rk")
    },

    // ---- Golden-record survivorship: the step AFTER q134's clustering
    //      that entity resolution actually ships — one canonical row per
    //      duplicate cluster with field-level merge rules (mode per
    //      attribute, ties to the lexicographic min; canonical id =
    //      min member). The oracle rebuilds clusters with the recursive
    //      transitive-closure CTE and the same explicit mode ranking
    //      (DuckDB's mode() leaves ties unspecified — the rank window
    //      pins them). Scale: per-attribute modes are partial-aggregated
    //      (cluster, attr) counts + a rank window over attribute
    //      cardinality — never a per-cluster collect. ----
    gated("q149_golden_record",
      """WITH RECURSIVE
        |t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                     for i in range(1, len(w)-1)])) AS s
        |      FROM t WHERE len(w) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |       FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM ov JOIN sz sa ON a_id = sa.doc_id
        |          JOIN sz sb ON b_id = sb.doc_id WHERE 2*i >= sa.n + sb.n - i),
        |e AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM e
        |                UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        |lbl AS (SELECT u, LEAST(u, MIN(v)) AS cluster FROM reach GROUP BY u),
        |mem AS (SELECT lbl.cluster, d.doc_id, d.lang, d.source
        |        FROM lbl JOIN documents d ON lbl.u = d.doc_id),
        |lm AS (SELECT cluster, lang FROM (
        |         SELECT cluster, lang, ROW_NUMBER() OVER (PARTITION BY cluster
        |                  ORDER BY COUNT(*) DESC, lang) AS r
        |         FROM mem GROUP BY cluster, lang) WHERE r = 1),
        |sm AS (SELECT cluster, source FROM (
        |         SELECT cluster, source, ROW_NUMBER() OVER (PARTITION BY cluster
        |                  ORDER BY COUNT(*) DESC, source) AS r
        |         FROM mem GROUP BY cluster, source) WHERE r = 1)
        |SELECT mem.cluster AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
        |       MIN(mem.doc_id) AS keep, MAX(lm.lang) AS lang,
        |       MAX(sm.source) AS source
        |FROM mem JOIN lm ON mem.cluster = lm.cluster
        |         JOIN sm ON mem.cluster = sm.cluster
        |GROUP BY mem.cluster ORDER BY mem.cluster""") { (s, d) =>
      import graft.operators.ConnectedComponents
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val sets = docs
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id").as("id"), col("w").as("toks"))
      val pairs = SimJoin.jaccardJoinTokens(sets, 1, 2)
        .select(col("a_id"), col("b_id"))
      val mem = ConnectedComponents.run(pairs)
        .join(docs.select(col("doc_id"), col("lang"), col("source")),
          col("id") === col("doc_id"))
        .select(col("cluster"), col("doc_id"), col("lang"), col("source"))
        .localCheckpoint() // feeds the count agg AND two mode rankings
      def mode(attr: String) = mem.groupBy(col("cluster"), col(attr))
        .agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(
          Window.partitionBy("cluster").orderBy(col("c").desc, col(attr))))
        .filter(col("r") === 1)
        .select(col("cluster"), col(attr))
      mem.groupBy("cluster")
        .agg(count(lit(1)).as("n_members"), min(col("doc_id")).as("keep"))
        .join(mode("lang"), "cluster")
        .join(mode("source"), "cluster")
        .orderBy("cluster")
    },

    // ---- THE CURATION FUNNEL, end to end: the corpus-to-training-set
    //      pipeline as ONE gated relation — raw corpus → length filter →
    //      quality filter (stopword + uniqueness ratios, exact integer
    //      cross-multiplies) → exact-dedup survivors (q123 pairs → CC,
    //      survivor = cluster min) → greedy token-budget cut (keep in
    //      doc_id order while the running token sum fits 3k). One row
    //      per stage with doc and token counts — the acceptance curve
    //      every corpus report leads with. The budget cut runs through
    //      operators/PrefixSum.global (range-partitioned two-level
    //      prefix sum, O(partitions) driver data), NOT a single-task
    //      global window. ----
    gated("q152_curation_funnel",
      """WITH RECURSIVE
        |t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w FROM documents),
        |m AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_toks,
        |             CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
        |             CAST(len(list_filter(w, x -> x IN ('a','the'))) AS BIGINT) AS stop
        |      FROM t),
        |s1 AS (SELECT * FROM m WHERE n_toks >= 20),
        |s2 AS (SELECT * FROM s1 WHERE stop * 5 <= n_toks AND n_uniq * 2 >= n_toks),
        |g AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                     for i in range(1, len(w)-1)])) AS sh
        |      FROM s2 WHERE n_toks >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |       FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM ov JOIN sz sa ON a_id = sa.doc_id
        |          JOIN sz sb ON b_id = sb.doc_id WHERE 2*i >= sa.n + sb.n - i),
        |e AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM e
        |                UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        |lbl AS (SELECT u, LEAST(u, MIN(v)) AS cluster FROM reach GROUP BY u),
        |surv AS (SELECT s2.doc_id, s2.n_toks FROM s2 LEFT JOIN lbl ON s2.doc_id = lbl.u
        |         WHERE lbl.u IS NULL OR s2.doc_id = lbl.cluster),
        |cm AS (SELECT doc_id, n_toks,
        |              SUM(n_toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |       FROM surv),
        |kept AS (SELECT * FROM cm WHERE cum <= 3000)
        |SELECT CAST(0 AS BIGINT) AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) AS n_tokens FROM m
        |UNION ALL SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |       CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM s1
        |UNION ALL SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |       CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM s2
        |UNION ALL SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |       CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM surv
        |UNION ALL SELECT CAST(4 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |       CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM kept
        |ORDER BY stage""") { (s, d) =>
      import graft.operators.{ConnectedComponents, PrefixSum}
      val m = Tables.documents(s, d)
        .withColumn("w", TextOps.tokens(col("text")))
        .select(col("doc_id"), col("w"),
          size(col("w")).cast("long").as("n_toks"),
          size(array_distinct(col("w"))).cast("long").as("n_uniq"),
          TextOps.markerHits(col("w"), Seq("a", "the")).cast("long").as("stop"))
        .localCheckpoint() // stage-0 count AND the whole filter chain
      val s1f = m.filter(col("n_toks") >= 20)
      val s2f = s1f.filter(col("stop") * 5 <= col("n_toks") &&
          col("n_uniq") * 2 >= col("n_toks"))
        .localCheckpoint() // stage-2 count, dedup sets, survivor join
      val sets = s2f.filter(col("n_toks") >= 3)
        .select(col("doc_id").as("id"), col("w").as("toks"))
      val lbl = ConnectedComponents.run(
        SimJoin.jaccardJoinTokens(sets, 1, 2).select(col("a_id"), col("b_id")))
      val surv = s2f.join(lbl, s2f("doc_id") === lbl("id"), "left")
        .filter(col("id").isNull || col("doc_id") === col("cluster"))
        .select(col("doc_id"), col("n_toks"))
        .localCheckpoint() // stage-3 count AND the prefix-sum input
      val kept = PrefixSum.global(surv, Seq(col("doc_id")), col("n_toks"))
        .filter(col("cum") <= 3000)
      def stage(n: Int, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"))
          .select(lit(n.toLong).as("stage"), col("n_docs"), col("n_tokens"))
      stage(0, m).unionByName(stage(1, s1f)).unionByName(stage(2, s2f))
        .unionByName(stage(3, surv)).unionByName(stage(4, kept))
        .orderBy("stage")
    },

    // ---- Document CHUNKING: split every doc into fixed-size overlapping
    //      token windows (C = 40, stride 30 → 10-token overlap) — how a
    //      training pipeline turns variable-length documents into
    //      uniform sequence examples without losing cross-boundary
    //      context. Pure array arithmetic (sequence + explode + slice),
    //      whole-stage-codegen'd, no UDF; chunk starts are a generated
    //      series so a 10^6-token doc yields rows, never a buffered
    //      array of chunks. Boundary cells (first/last token per chunk)
    //      pin the slice arithmetic exactly. ----
    gated("q155_chunking",
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                              x -> x <> '') AS w FROM documents),
        |n AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
        |c AS (SELECT doc_id, w, n,
        |             unnest(range(0, CAST(n AS INTEGER), 30)) AS s
        |      FROM n)
        |SELECT doc_id, CAST(s // 30 AS BIGINT) AS chunk_idx,
        |       CAST(s AS BIGINT) AS start,
        |       CAST(LEAST(40, n - s) AS BIGINT) AS len,
        |       w[s + 1] AS first_tok,
        |       w[LEAST(s + 40, n)] AS last_tok
        |FROM c ORDER BY doc_id, chunk_idx""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        .withColumn("n", size(col("w")))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("w"), col("n"),
          explode(expr("sequence(0, n - 1, 30)")).as("s"))
        .select(col("doc_id"),
          expr("s div 30").cast("long").as("chunk_idx"),
          col("s").cast("long").as("start"),
          least(lit(40), col("n") - col("s")).cast("long").as("len"),
          expr("element_at(w, s + 1)").as("first_tok"),
          expr("element_at(w, least(s + 40, n))").as("last_tok"))
        .orderBy("doc_id", "chunk_idx")
    },

    // ---- Contingency / independence deviation: the lang × source
    //      cross-tab with observed vs independence-expected shares in
    //      exact ppm — obs_ppm vs exp_ppm = rowTotal·colTotal/total²,
    //      the corpus-mix drift check a curation pipeline runs per
    //      ingest (is source X suddenly over-feeding language Y?).
    //      Products through DECIMAL(38,0); margins are two tiny
    //      aggregations broadcast into the cell join. ----
    gated("q167_contingency",
      """WITH t AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        |           FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM t GROUP BY lang),
        |c AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM t GROUP BY source),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS tot FROM t)
        |SELECT t.lang, t.source, t.o,
        |       CAST((1000000 * r.rt * c.ct) // (n.tot * n.tot) AS BIGINT) AS exp_ppm,
        |       CAST((1000000 * t.o) // n.tot AS BIGINT) AS obs_ppm
        |FROM t JOIN r ON t.lang = r.lang JOIN c ON t.source = c.source
        |CROSS JOIN n
        |ORDER BY t.lang, t.source""") { (s, d) =>
      val t = Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
        .localCheckpoint() // feeds cells AND all three margins
      val r = t.groupBy("lang").agg(sum(col("o")).as("rt"))
      val c = t.groupBy("source").agg(sum(col("o")).as("ct"))
      val n = t.agg(sum(col("o")).as("tot"))
      t.join(broadcast(r), "lang").join(broadcast(c), "source")
        .crossJoin(broadcast(n))
        .select(col("lang"), col("source"), col("o"),
          expr("(CAST(1000000 AS DECIMAL(38,0)) * rt * ct) div (tot * tot)")
            .as("exp_ppm"),
          expr("(1000000 * o) div tot").as("obs_ppm"))
        .orderBy("lang", "source")
    },

    // ---- INCREMENTAL dup clustering: the q134 pair set split into two
    //      ingest batches — batch 1 clusters, its LABELS persist, batch
    //      2 folds in via ConnectedComponents.incremental (labels are
    //      edges to representatives, so closure(labels ∪ batch2) ==
    //      closure(all pairs); steady-state cost |labels| + |batch|,
    //      never |corpus pairs|). The oracle is the ONE-SHOT recursive
    //      closure over all pairs — the gate certifies incremental ==
    //      one-shot cross-engine, the ingest-time twin of
    //      NearDup.incrementalPairs. ----
    gated("q168_incremental_cc",
      """WITH RECURSIVE
        |t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                     for i in range(1, len(w)-1)])) AS s
        |      FROM t WHERE len(w) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |       FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM ov JOIN sz sa ON a_id = sa.doc_id
        |          JOIN sz sb ON b_id = sb.doc_id WHERE 2*i >= sa.n + sb.n - i),
        |e AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM e
        |                UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        |lbl AS (SELECT u, LEAST(u, MIN(v)) AS cluster FROM reach GROUP BY u)
        |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members, MIN(u) AS keep
        |FROM lbl GROUP BY cluster ORDER BY cluster""") { (s, d) =>
      import graft.operators.ConnectedComponents
      val sets = Tables.documents(s, d)
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id").as("id"), col("w").as("toks"))
      val pairs = SimJoin.jaccardJoinTokens(sets, 1, 2)
        .select(col("a_id"), col("b_id"))
        .localCheckpoint() // deterministically split into two batches
      val batch1 = pairs.filter(pmod(col("a_id") + col("b_id"), lit(2)) === 0)
      val batch2 = pairs.filter(pmod(col("a_id") + col("b_id"), lit(2)) === 1)
      val labels1 = ConnectedComponents.run(batch1)
      ConnectedComponents.incremental(labels1, batch2)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("keep"))
        .orderBy("cluster")
    },

    // ---- Vocabulary growth (Heaps' law audit): distinct trigram-
    //      shingle count after each 50-document corpus prefix — the
    //      curve that tells a tokenizer/dedup pipeline when vocabulary
    //      saturates (and whether more data still buys coverage). The
    //      unit is the trigram shingle (the corpus's word unigrams
    //      saturate inside 10 documents — the shingle space is where
    //      growth lives, and it's the same unit the q78/q134 dedup
    //      family keys on). Cumulative-DISTINCT is not directly
    //      distributable, but "first occurrence" is: a shingle counts
    //      toward prefix N iff min(doc_id) < N, so one group-min per
    //      shingle + one bucket count + a cumulative sum over the
    //      (checkpoint-bounded) bucket relation replaces any per-prefix
    //      rescan. Scale: the explode feeds a partial-aggregated min
    //      keyed on the shingle; the window runs over |corpus|/50
    //      rows, not the vocabulary. ----
    gated("q203_vocab_growth",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, UNNEST([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                             for i in range(1, len(w)-1)]) AS s
        |      FROM t WHERE len(w) >= 3),
        |fo AS (SELECT s, MIN(doc_id) AS first_doc FROM g GROUP BY s),
        |b AS (SELECT first_doc // 50 AS bucket, CAST(COUNT(*) AS BIGINT) AS new_shingles
        |      FROM fo GROUP BY 1)
        |SELECT CAST((bucket + 1) * 50 AS BIGINT) AS docs_seen, new_shingles,
        |       CAST(SUM(new_shingles) OVER (ORDER BY bucket) AS BIGINT) AS vocab
        |FROM b ORDER BY docs_seen""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val fo = Tables.documents(s, d)
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(TextOps.trigrams(col("w"))).as("s"))
        .groupBy("s").agg(min(col("doc_id")).as("first_doc"))
      // the window runs over the bucket relation (|corpus|/50 rows)
      fo.groupBy(expr("first_doc div 50").as("bucket"))
        .agg(count(lit(1)).as("new_shingles"))
        .select(((col("bucket") + 1) * 50).cast("long").as("docs_seen"),
          col("new_shingles"),
          sum(col("new_shingles")).over(Window.orderBy("bucket")).as("vocab"))
        .orderBy("docs_seen")
    },

    // ---- Tokenizer fertility by language: BPE tokens per character —
    //      the compression audit that decides whether a tokenizer is
    //      fit for a language before a single training batch is paid
    //      for (high fertility = wasted context window). Token counts
    //      come from the SAME trained tokenizer both engines replay
    //      merge-by-merge (q144's gate); fertility is the exact integer
    //      (10^6 · Σtokens) div Σchars per language. Scale: the q144
    //      segmentation joins the distinct-word relation, not the
    //      corpus; this adds one lang-keyed partial agg on top. ----
    gated("q204_fertility", s"""WITH ${bpeChain(BpeMerges)},
      |plen AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
      |         FROM s$BpeMerges GROUP BY word),
      |occ AS (SELECT doc_id, UNNEST(STR_SPLIT(LOWER(text), ' ')) AS w
      |        FROM documents),
      |cs AS (SELECT o.doc_id, SUM(p.n) AS s
      |       FROM occ o JOIN plen p ON o.w = p.word GROUP BY 1)
      |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(COALESCE(c.s, 0)) AS BIGINT) AS n_tokens,
      |       CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
      |       CAST((1000000 * SUM(COALESCE(c.s, 0))) // SUM(d.n_chars) AS BIGINT)
      |         AS fert_ppm
      |FROM documents d LEFT JOIN cs c ON d.doc_id = c.doc_id
      |GROUP BY d.lang ORDER BY d.lang""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val words = Bpe.topWords(docs, "text", BpeCap)
      val (merges, state) = Bpe.trainFull(words, BpeMerges)
      Bpe.tokenCounts(docs, "doc_id", "text", merges, state)
        .withColumnRenamed("id", "doc_id")
        .join(docs.select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
          expr("(1000000 * n_tokens) div n_chars").as("fert_ppm"))
        .orderBy("lang")
    },

    // ---- Dedup-aware mixture weights: each document's sampling weight
    //      is 1/|its near-dup cluster| (singletons weigh 1), so a
    //      source's EFFECTIVE mass counts every duplicated document
    //      once across the whole corpus — the reweighting that stops a
    //      mirror-heavy source from dominating a training mixture even
    //      when dedup keeps (rather than drops) the copies. Clusters
    //      are exactly q78's: trigram-Jaccard ≥ 0.01 pairs on the
    //      doc_id<100 slice, closed transitively (the engine's pointer-
    //      jumping CC vs the oracle's recursive closure). Scale: rides
    //      the audited q78/q134 candidate family (prefix-bucketed, never
    //      all-pairs); the weight join is cluster-keyed; the final agg
    //      is source-bounded. ----
    gated("q205_dedup_weights",
      """WITH RECURSIVE t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents WHERE doc_id < 100),
        |g AS (SELECT doc_id,
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in range(1, len(w)-1)]) AS tg
        |      FROM t WHERE len(w) >= 3),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM g a, g b
        |      WHERE a.doc_id < b.doc_id
        |        AND CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
        |            / CAST(len(list_distinct(list_concat(a.tg, b.tg))) AS DOUBLE) >= 0.01),
        |e AS (SELECT a_id AS a, b_id AS b FROM p
        |      UNION SELECT b_id, a_id FROM p),
        |reach(s, d) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN e ON r.d = e.a),
        |lbl AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
        |        FROM reach GROUP BY s),
        |sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n FROM lbl GROUP BY cluster),
        |wd AS (SELECT doc.doc_id, doc.source,
        |         COALESCE(1000000 // sz.n, 1000000) AS wt, lbl.cluster
        |       FROM documents doc LEFT JOIN lbl ON doc.doc_id = lbl.doc_id
        |       LEFT JOIN sz ON lbl.cluster = sz.cluster
        |       WHERE doc.doc_id < 100)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(cluster) AS BIGINT) AS n_in_clusters,
        |       CAST(SUM(wt) AS BIGINT) AS eff_ppm
        |FROM wd GROUP BY source ORDER BY source""") { (s, d) =>
      import graft.operators.ConnectedComponents
      val docs = Tables.documents(s, d).filter(col("doc_id") < 100)
      val g = docs
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), TextOps.trigrams(col("w")).as("tg"))
      val a = g.select(col("doc_id").as("a_id"), col("tg").as("a_tg"))
      val b = g.select(col("doc_id").as("b_id"), col("tg").as("b_tg"))
      val pairs = a.join(b, col("a_id") < col("b_id"))
        .filter(TextOps.jaccard(col("a_tg"), col("b_tg")) >= 0.01)
        .select(col("a_id").as("a"), col("b_id").as("b"))
      val lbl = ConnectedComponents.run(pairs)
        .select(col("id").as("doc_id"), col("cluster"))
      val sz = lbl.groupBy("cluster").agg(count(lit(1)).as("n"))
      docs.select(col("doc_id"), col("source"))
        .join(lbl, Seq("doc_id"), "left")
        .join(sz, Seq("cluster"), "left")
        .select(col("source"), col("cluster"),
          coalesce(expr("1000000 div n"), lit(1000000L)).as("wt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), count(col("cluster")).as("n_in_clusters"),
          sum(col("wt")).as("eff_ppm"))
        .orderBy("source")
    },

    // ---- Unique-coverage source valuation: per source, how much of
    //      its trigram-shingle vocabulary exists NOWHERE else — the
    //      "what do we lose if we drop this source" audit (q205 prices
    //      duplication; this prices exclusivity — together they rank
    //      sources for a data-mixture decision). unique_ppm is the
    //      exact integer share of the source's distinct shingles with
    //      corpus-wide source-count 1. Scale: both relations key on
    //      the shingle (partial-aggregated distinct + count); the join
    //      is shingle-keyed; nothing is doc² or source². ----
    gated("q208_unique_coverage",
      """WITH t AS (SELECT doc_id, source,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |ds AS (SELECT DISTINCT source,
        |         UNNEST([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                 for i in range(1, len(w)-1)]) AS s
        |       FROM t WHERE len(w) >= 3),
        |sc AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS nsrc FROM ds GROUP BY s)
        |SELECT ds.source, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(COUNT(*) FILTER (WHERE sc.nsrc = 1) AS BIGINT) AS n_unique,
        |       CAST((1000000 * COUNT(*) FILTER (WHERE sc.nsrc = 1)) // COUNT(*) AS BIGINT)
        |         AS unique_ppm
        |FROM ds JOIN sc ON ds.s = sc.s
        |GROUP BY ds.source ORDER BY ds.source""") { (s, d) =>
      val ds = Tables.documents(s, d)
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("source"), explode(TextOps.trigrams(col("w"))).as("s"))
        .distinct()
      val sc = ds.groupBy("s").agg(count(lit(1)).as("nsrc"))
      ds.join(sc, "s")
        .groupBy("source")
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("nsrc") === 1, 1)).as("n_unique"))
        .select(col("source"), col("n_shingles"), col("n_unique"),
          expr("(1000000 * n_unique) div n_shingles").as("unique_ppm"))
        .orderBy("source")
    }
  )

  /** Unrolled BPE-training CTE chain for the DuckDB oracle: `wc` is the
    * capped word-frequency relation (same (cnt DESC, word) cap order as
    * Bpe.topWords), `s0` the char+`</w>` initial segmentation, and each
    * stage k picks the max-count adjacent symbol pair (ties broken
    * lexicographically, exactly Bpe.train's minBy) then re-segments with
    * the same greedy LEFT-TO-RIGHT non-overlapping rule as
    * Bpe.applyMerge: islands of consecutive match positions keep only
    * their odd ranks (match at p consumes p+1, so p+1's match is void). */
  /** q78/q220's shared near-dup PAIR relation (trigram Jaccard ≥ 0.01
    * over doc_id < maxDocId), produced by the prefix-filtered exact
    * similarity join ([[SimJoin.jaccardJoin]], recall 1.0) rather than
    * an all-pairs a × b comparison — the identical pair set (the
    * integer threshold compare decides J == τ boundaries exactly,
    * where the float form was already exact on integer set sizes), but
    * the plan a 100 TB run would use: a token-keyed candidate join,
    * never a quadratic nested-loop (PlanSpec pins no Cartesian/BNLJ in
    * the executed plan). Pairs oriented a < b, the ConnectedComponents
    * input contract. */
  private[graft] def dupPairs(s: SparkSession, d: String, maxDocId: Int)
      : DataFrame =
    SimJoin.jaccardJoinTokens(
      Tables.documents(s, d)
        .filter(col("doc_id") < maxDocId)
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id").as("id"), col("w").as("toks")),
      tNum = 1, tDen = 100)
      .select(col("a_id").as("a"), col("b_id").as("b"))

  /** The PLANTED-copy corpus `(doc_id, t)` shared by q224/q225 and the
    * streaming tenant's parity spec: doc_id < 200, and every
    * doc_id % 10 == 7 document appends the first 12 tokens of
    * doc_id − 7's text when that source has ≥ 12 tokens. One copy of
    * the plant so the gates and the spec cannot drift. */
  private[graft] def plantedCopyDocs(s: SparkSession, d: String)
      : DataFrame = {
    val base = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    val src = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 7).as("doc_id"),
        TextOps.tokens(col("text")).as("stoks"))
      .filter(size(col("stoks")) >= 12)
      .select(col("doc_id"),
        concat_ws(" ", slice(col("stoks"), 1, 12)).as("passage"))
    base.join(src, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat(lower(col("text")),
          when(col("passage").isNotNull,
            concat(lit(" "), col("passage"))).otherwise(lit(""))).as("t"))
  }

  /** The ONE copy of the one-shot pair-building block the copy gates
    * share: fp-keyed self-join of a selection relation, ordered pairs
    * (a_id < b_id), localized via [[CopyIndex.localize]]. Two consumers
    * of `sel` — per the q224/q225 break-even measurements the caller
    * passes it RECOMPUTED at gate scope and pins only when it fans out
    * further. */
  private def copyPairs(sel: DataFrame, minShared: Int): DataFrame = {
    val a = sel.select(col("id").as("a_id"), col("pos").as("a_pos"),
      col("fp"))
    val b = sel.select(col("id").as("b_id"), col("pos").as("b_pos"),
      col("fp"))
    CopyIndex.localize(
      a.join(b, Seq("fp")).filter(col("a_id") < col("b_id")),
      "a", "b", minShared)
  }

  private def plantedCopySelections(s: SparkSession, d: String)
      : DataFrame =
    CopyIndex.selections(plantedCopyDocs(s, d), "doc_id", "t", w = 4)
    // q224 DELIBERATELY consumes this recomputed (two consumers under a
    // 200-doc gate — cheaper than an eager materialization); q225 pins
    // it (four consumers, measured at the gated entry). At a real
    // corpus size the q221 repeated-scan rule applies and the caller
    // should pin the selection relation before fanning out.

  private def bpeChain(n: Int): String = {
    val head =
      s"""wc AS MATERIALIZED (
         |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
         |    SELECT UNNEST(STR_SPLIT(LOWER(text), ' ')) AS w FROM documents) t
         |  WHERE w <> '' GROUP BY 1 ORDER BY cnt DESC, word LIMIT $BpeCap),
         |s0 AS MATERIALIZED (
         |  SELECT word, pos,
         |         CASE WHEN pos <= LENGTH(word) THEN SUBSTR(word, pos, 1)
         |              ELSE '</w>' END AS sym
         |  FROM (SELECT word, UNNEST(GENERATE_SERIES(1, LENGTH(word) + 1)) AS pos
         |        FROM wc) g)""".stripMargin
    val stages = (0 until n).map { k =>
      s"""b$k AS MATERIALIZED (
         |  SELECT a.sym AS x, b.sym AS y
         |  FROM s$k a JOIN s$k b ON a.word = b.word AND b.pos = a.pos + 1
         |  JOIN wc ON a.word = wc.word
         |  GROUP BY 1, 2 ORDER BY SUM(wc.cnt) DESC, x, y LIMIT 1),
         |m$k AS MATERIALIZED (
         |  SELECT word, pos FROM (
         |    SELECT word, pos,
         |           ROW_NUMBER() OVER (PARTITION BY word, isl ORDER BY pos) AS r
         |    FROM (SELECT a.word, a.pos,
         |                 a.pos - ROW_NUMBER() OVER (PARTITION BY a.word
         |                                            ORDER BY a.pos) AS isl
         |          FROM s$k a JOIN s$k b ON a.word = b.word AND b.pos = a.pos + 1
         |          CROSS JOIN b$k
         |          WHERE a.sym = b$k.x AND b.sym = b$k.y) i) j
         |  WHERE r % 2 = 1),
         |s${k + 1} AS MATERIALIZED (
         |  SELECT word, ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
         |         sym FROM (
         |    SELECT s.word, s.pos,
         |           CASE WHEN m.pos IS NOT NULL THEN s.sym || nx.sym
         |                ELSE s.sym END AS sym
         |    FROM s$k s
         |    LEFT JOIN m$k m ON s.word = m.word AND s.pos = m.pos
         |    LEFT JOIN s$k nx ON s.word = nx.word AND nx.pos = s.pos + 1
         |    WHERE NOT EXISTS (SELECT 1 FROM m$k d
         |                      WHERE d.word = s.word AND d.pos = s.pos - 1)) u)"""
        .stripMargin
    }
    (head +: stages).mkString(",\n")
  }

  /** Shared oracle for q40/q40c: exact trigram-Jaccard pair count over the
    * planted block, recall/subset verdicts pinned true. */
  private def minhashOracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text || ' xdup marker' AS text
      |  FROM documents WHERE doc_id < 300),
      |t AS (SELECT doc_id,
      |        list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
      |      FROM corpus WHERE doc_id % 100000 < 300),
      |g AS (SELECT doc_id,
      |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                       for i in range(1, len(w)-1)]) AS tg
      |      FROM t WHERE len(w) >= 3)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
      |       CAST(1 AS BIGINT) AS recall_ok,
      |       CAST(1 AS BIGINT) AS subset_ok
      |FROM g a, g b
      |WHERE a.doc_id < b.doc_id
      |  AND CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
      |      / CAST(len(list_distinct(list_concat(a.tg, b.tg))) AS DOUBLE) >= 0.3"""
      .stripMargin
}
