package graft.queries

import graft.{GatedQuery, Tables}
import graft.GatedQuery.gated
import graft.Norm._
import graft.cdc.{Envelope, Materialize}
import graft.functions.VectorOps
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-4 analytics surface: sequence/corpus statistics and CDC diffing
  * that a training-data pipeline layers on top of the base operators —
  * collocation mining (bigram lift), a k-means assignment step (the
  * E-step the IVF coarse quantizer iterates), day-over-day user
  * retention, arg-max/arg-min per group, event-transition matrices, and
  * snapshot diffs between two changelog horizons.
  *
  * Everything gated is exact: integer counts, one IEEE double division
  * rounded per §2.3 rule 2, decimal-string rendering, total ORDER BY.
  */
object Analytics {

  private val fx = Tables.cdcFixturePath

  /** Same DuckDB-side envelope read the Cdc module pins (strings stay
    * strings; no inference on either engine). */
  private val readJson =
    s"""read_json('$fx', format='newline_delimited',
       |columns={data: 'STRUCT(trans_id BIGINT, customer_id VARCHAR, event VARCHAR, sku VARCHAR, amount INTEGER, device VARCHAR, trans_datetime VARCHAR)',
       |metadata: 'STRUCT("timestamp" VARCHAR, "record-type" VARCHAR, operation VARCHAR, "partition-key-type" VARCHAR, "schema-name" VARCHAR, "table-name" VARCHAR, "transaction-id" BIGINT)'})""".stripMargin

  private val selectionSql =
    """metadata."record-type" = 'data' AND metadata."schema-name" = 'testdb'
      |AND metadata."table-name" = 'retail_trans'""".stripMargin

  /** The ONE copy of the indexed-BM25 probe (q197's steady-state serving
    * path, shared with its append-built twin q218): read the query
    * terms' postings through the pruned index probe, derive tf/df from
    * those postings alone, join dl for the matched docs, and score with
    * q120's log-free integer-rational formulation (per-term
    * contributions pivoted into FIXED-ORDER columns — a groupBy float
    * sum would be order-nondeterministic at the 6th decimal). Expects
    * the layout `dir/post` (posting index), `dir/docs` (doc_id, dl),
    * `dir/corpus` (n, sumdl); `terms` must be exactly the three
    * (hash, scan, window) the pivot columns encode. */
  private[graft] def bm25IndexProbe(s: SparkSession, dir: String,
                                    terms: Seq[String]): DataFrame = {
    // the pivot columns below encode exactly these three terms; any
    // other term list would coalesce every tf/df to 0 and return
    // plausible-looking zeros instead of failing
    require(terms == Seq("hash", "scan", "window"),
      s"bm25IndexProbe's fixed-order pivot encodes (hash, scan, window); got $terms")
    // deletion fence at the FAMILY root: Bm25Index.forget spans three
    // pieces (postings + dl sidecar + corpus stats); only the postings
    // carry their own marker, so a torn multi-step forget is visible
    // here and must refuse the whole probe, not score with stale N/Σdl
    graft.operators.IndexForget.assertClean(s, dir)
    import graft.text.Phrase
    val post = Phrase.prunedPostings(s, s"$dir/post", terms, nBuckets = 64)
    val tf = post.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // feeds the doc pivot AND the df aggregation
    def tcol(t: String) =
      coalesce(max(when(col("term") === t, col("tf"))), lit(0L))
    val piv = tf.groupBy("doc_id")
      .agg(tcol("hash").as("tf_h"), tcol("scan").as("tf_s"),
        tcol("window").as("tf_w"))
    def dcol(t: String) =
      coalesce(max(when(col("term") === t, col("df"))), lit(0L))
    val dfs = tf.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
      .agg(dcol("hash").as("df_h"), dcol("scan").as("df_s"),
        dcol("window").as("df_w"))
    val g = broadcast(s.read.parquet(s"$dir/corpus").crossJoin(dfs))
    val dl = s.read.parquet(s"$dir/docs")
    def term(tfc: String, dfc: String) =
      ((lit(2) * col("n") - lit(2) * col(dfc) + lit(1)).cast("double") /
        (lit(2) * col(dfc) + lit(1)).cast("double")) *
        ((lit(22) * col(tfc) * col("sumdl")).cast("double") /
          (lit(10) * col(tfc) * col("sumdl") + lit(3) * col("sumdl") +
            lit(9) * col("dl") * col("n")).cast("double"))
    val score = round(
      term("tf_h", "df_h") + term("tf_s", "df_s") + term("tf_w", "df_w"), 6)
    piv.join(dl, "doc_id").crossJoin(g)
      .select(col("doc_id"), score.as("sc"))
      .orderBy(col("sc").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"),
        col("sc").cast(DecimalType(18, 6)).cast("string").as("score"))
  }

  /** Decimal-string rendering at scale 4 with 18-digit headroom (lift
    * ratios can exceed DECIMAL(9,4)'s integral range on rare words). */
  private def dec184Str(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(18, 4)).cast("string")

  val all: Seq[GatedQuery] = Seq(

    // ---- Collocation mining: top-20 bigrams by frequency with their
    //      lift = p(ab) / (p(a)·p(b)) — the log-free core of PMI (logs
    //      are not bit-portable across engines; lift orders identically).
    //      Every factor casts to DOUBLE BEFORE multiplying — BIGINT
    //      products would silently wrap in (non-ANSI) Spark on a
    //      boilerplate-heavy corpus (c_ab·n_uni² passes 2^63 once a
    //      bigram tops ~6e5 occurrences at n_uni~4e6) while doubles
    //      cannot; the expression tree is identical on both engines so
    //      IEEE gives identical results, rounded per §2.3 rule 2.
    //      Scale: the token table materializes ONCE (localCheckpoint —
    //      the corpus is tokenized a single time) and feeds two hash-agg
    //      shuffles (unigram, bigram counts); the scalar totals derive
    //      from those aggregates, not extra corpus scans; top-20 is a
    //      TakeOrdered, no global sort. ----
    gated("q81_collocations",
      """WITH t AS (SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |uc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM (SELECT unnest(w) AS tok FROM t) GROUP BY tok),
        |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc),
        |bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_ab
        |       FROM (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
        |             FROM t WHERE len(w) >= 2) GROUP BY bg),
        |nb AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n FROM bc),
        |top AS (SELECT bg, c_ab FROM bc ORDER BY c_ab DESC, bg LIMIT 20)
        |SELECT t.bg, t.c_ab, a.c AS c_a, b.c AS c_b,
        |       CAST(CAST(ROUND(
        |         (CAST(t.c_ab AS DOUBLE) * CAST(nu.n AS DOUBLE) * CAST(nu.n AS DOUBLE))
        |         / (CAST(nb.n AS DOUBLE) * CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)),
        |         4) AS DECIMAL(18,4)) AS VARCHAR) AS lift
        |FROM top t CROSS JOIN nu CROSS JOIN nb
        |JOIN uc a ON a.tok = string_split(t.bg, ' ')[1]
        |JOIN uc b ON b.tok = string_split(t.bg, ' ')[2]
        |ORDER BY t.c_ab DESC, t.bg""") { (s, d) =>
      val t = Tables.documents(s, d).select(TextOps.tokens(col("text")).as("w"))
        .localCheckpoint()
      val uc = t.select(explode(col("w")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val bc = t.filter(size(col("w")) >= 2)
        .select(explode(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c_ab"))
      val nu = broadcast(uc.agg(sum(col("c")).as("n_uni")))
      val nb = broadcast(bc.agg(sum(col("c_ab")).as("n_bg")))
      val top = bc.orderBy(col("c_ab").desc, col("bg")).limit(20)
      top
        .withColumn("w1", split(col("bg"), " ")(0))
        .withColumn("w2", split(col("bg"), " ")(1))
        .join(uc.withColumnRenamed("tok", "w1").withColumnRenamed("c", "c_a"), "w1")
        .join(uc.withColumnRenamed("tok", "w2").withColumnRenamed("c", "c_b"), "w2")
        .crossJoin(nu).crossJoin(nb)
        .select(col("bg"), col("c_ab"), col("c_a"), col("c_b"),
          dec184Str(round(
            (col("c_ab").cast("double") * col("n_uni").cast("double")
              * col("n_uni").cast("double")) /
              (col("n_bg").cast("double") * col("c_a").cast("double")
                * col("c_b").cast("double")), 4)).as("lift"))
        .orderBy(col("c_ab").desc, col("bg"))
    },

    // ---- k-means assignment step (the E-step of the IVF coarse
    //      quantizer, gated cross-engine): nearest of 8 fixed centroids
    //      (vec_id < 8, as-is) by cosine, ties to the lowest centroid id.
    //      Engine plan: broadcast the 8 centroids, one map-side cosine
    //      per (row, centroid), then argmax as a PARTIAL-AGGREGATABLE
    //      max_by on a (sim, -cid) struct — one exchange on vec_id and
    //      no per-partition sort, unlike a window formulation. ----
    gated("q82_kmeans_assign",
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT e.vec_id, c.cid,
        |        list_sum(list_transform(list_zip(e.embedding, c.ce),
        |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
        |        sqrt(list_sum(list_transform(e.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS ne,
        |        sqrt(list_sum(list_transform(c.ce,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nc
        |      FROM embeddings e CROSS JOIN c WHERE e.vec_id >= 8),
        |r AS (SELECT vec_id, cid, dot/(ne*nc) AS sim,
        |        ROW_NUMBER() OVER (PARTITION BY vec_id
        |                           ORDER BY dot/(ne*nc) DESC, cid) AS rn
        |      FROM s)
        |SELECT vec_id, cid AS cell,
        |       CAST(CAST(ROUND(sim, 4) AS DECIMAL(9,4)) AS VARCHAR) AS sim
        |FROM r WHERE rn = 1 ORDER BY vec_id""") { (s, d) =>
      val e = Tables.embeddings(s, d)
      val c = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce")))
      e.filter(col("vec_id") >= 8).crossJoin(c)
        .select(col("vec_id"), col("cid"),
          VectorOps.cosine(col("embedding"), col("ce")).as("sim"))
        .groupBy("vec_id")
        .agg(max(struct(col("sim"), (-col("cid")).as("negcid"),
          col("cid").as("cell"))).as("m"))
        .select(col("vec_id"), col("m.cell").as("cell"),
          dec4Str(round(col("m.sim"), 4)).as("sim"))
        .orderBy("vec_id")
    },

    // ---- Day-over-day user retention over the event stream: per day,
    //      distinct active users, how many were also active the previous
    //      day, and the retention rate vs the previous day's actives.
    //      Scale: one distinct shuffle on (day, user), then joins keyed
    //      on user/day — the standard DAU/retention shape; no window. ----
    gated("q83_retention",
      """WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events),
        |act AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_active FROM du GROUP BY d),
        |ret AS (SELECT b.d AS d, CAST(COUNT(*) AS BIGINT) AS n_ret
        |        FROM du a JOIN du b
        |          ON a.user_id = b.user_id AND b.d = a.d + INTERVAL 1 DAY
        |        GROUP BY b.d)
        |SELECT strftime(act.d, '%Y-%m-%d') AS day, act.n_active,
        |       COALESCE(ret.n_ret, 0) AS n_retained,
        |       CAST(CAST(ROUND(CAST(COALESCE(ret.n_ret, 0) AS DOUBLE)
        |            / CAST(prev.n_active AS DOUBLE), 4) AS DECIMAL(9,4)) AS VARCHAR) AS retention
        |FROM act
        |LEFT JOIN ret ON ret.d = act.d
        |LEFT JOIN act prev ON prev.d = act.d - INTERVAL 1 DAY
        |ORDER BY day""") { (s, d) =>
      val du = Tables.events(s, d)
        .select(date_trunc("day", col("ts")).as("d"), col("user_id")).distinct()
      val act = du.groupBy("d").agg(cntLong.as("n_active"))
      val ret = du.as("a")
        .join(du.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("b.d") === col("a.d") + expr("INTERVAL 1 DAY"))
        .groupBy(col("b.d").as("d")).agg(cntLong.as("n_ret"))
      act.as("act")
        .join(ret.as("ret"), col("ret.d") === col("act.d"), "left")
        .join(act.select(col("d").as("pd"), col("n_active").as("prev_active")),
          col("pd") === col("act.d") - expr("INTERVAL 1 DAY"), "left")
        .select(date_format(col("act.d"), "yyyy-MM-dd").as("day"),
          col("act.n_active"),
          coalesce(col("n_ret"), lit(0L)).as("n_retained"),
          dec4Str(round(coalesce(col("n_ret"), lit(0L)).cast("double") /
            col("prev_active").cast("double"), 4)).as("retention"))
        .orderBy("day")
    },

    // ---- arg-max / arg-min per group (max_by/min_by agg surface): each
    //      customer's highest-value order and first-ever order. The
    //      tie-break folds into one exact BIGINT sort key (prices are
    //      2-dp ⇒ price·100 is integral; ·1e7 + orderkey stays < 2^63
    //      through sf1) because DuckDB's arg_max cannot order on structs.
    //      Engine side uses max_by/min_by — partial-aggregatable, one
    //      exchange, no window sort. ----
    gated("q84_argmax",
      """SELECT o_custkey,
        |       arg_max(o_orderkey,
        |               CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000
        |               + o_orderkey) AS top_order,
        |       CAST(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS top_price,
        |       arg_min(o_orderkey,
        |               epoch_ms(o_orderdate)//1000 * 10000000 + o_orderkey) AS first_order
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""") { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(
          max_by(col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long") * 10000000L
              + col("o_orderkey")).as("top_order"),
          decStr(max(dec2(col("o_totalprice")))).as("top_price"),
          min_by(col("o_orderkey"),
            unix_timestamp(col("o_orderdate")) * 10000000L
              + col("o_orderkey")).as("first_order"))
        .orderBy("o_custkey")
    },

    // ---- Event-type transition matrix (first-order Markov counts):
    //      consecutive per-user event pairs in (ts, event_id) order.
    //      One window shuffle on user_id, then a 25-row hash agg —
    //      session-path mining over the reference's event stream. ----
    gated("q85_transitions",
      """WITH s AS (SELECT user_id, event_type,
        |             LAG(event_type) OVER (PARTITION BY user_id
        |                                   ORDER BY ts, event_id) AS prev
        |           FROM events)
        |SELECT prev, event_type AS next, CAST(COUNT(*) AS BIGINT) AS c
        |FROM s WHERE prev IS NOT NULL
        |GROUP BY prev, next ORDER BY prev, next""") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(cntLong.as("c"))
        .orderBy("prev", "next")
    },

    // ---- CDC snapshot DIFF between two changelog horizons: materialize
    //      the snapshot as of the mid txid and as of the full log, then
    //      classify every differing key as added / removed / changed —
    //      the replication-audit primitive (what changed since the last
    //      checkpoint?). Horizon = (min+max)//2 txid, computed from the
    //      data on both engines. Scale: two PK-window materializations
    //      + one full outer join, all keyed on the primary key — the
    //      same single-exchange shape as the snapshot itself. ----
    gated("q86_snapshot_diff",
      s"""WITH hz AS (SELECT (MIN(metadata."transaction-id")
         |                    + MAX(metadata."transaction-id"))//2 AS h
         |            FROM $readJson WHERE $selectionSql),
         |a AS (SELECT * FROM (
         |  SELECT data.trans_id AS trans_id, data.customer_id AS customer_id,
         |         data.event AS event, data.sku AS sku,
         |         CAST(data.amount AS BIGINT) AS amount,
         |         data.device AS device, data.trans_datetime AS trans_datetime,
         |         metadata.operation AS op,
         |         ROW_NUMBER() OVER (PARTITION BY data.trans_id
         |             ORDER BY metadata."timestamp" DESC,
         |                      metadata."transaction-id" DESC) AS rn
         |  FROM $readJson
         |  WHERE $selectionSql
         |    AND metadata."transaction-id" <= (SELECT h FROM hz))
         |  WHERE rn = 1 AND op <> 'delete'),
         |b AS (SELECT * FROM (
         |  SELECT data.trans_id AS trans_id, data.customer_id AS customer_id,
         |         data.event AS event, data.sku AS sku,
         |         CAST(data.amount AS BIGINT) AS amount,
         |         data.device AS device, data.trans_datetime AS trans_datetime,
         |         metadata.operation AS op,
         |         ROW_NUMBER() OVER (PARTITION BY data.trans_id
         |             ORDER BY metadata."timestamp" DESC,
         |                      metadata."transaction-id" DESC) AS rn
         |  FROM $readJson
         |  WHERE $selectionSql)
         |  WHERE rn = 1 AND op <> 'delete')
         |SELECT COALESCE(a.trans_id, b.trans_id) AS trans_id,
         |       CASE WHEN a.trans_id IS NULL THEN 'added'
         |            WHEN b.trans_id IS NULL THEN 'removed'
         |            ELSE 'changed' END AS status,
         |       a.event AS old_event, b.event AS new_event,
         |       a.amount AS old_amount, b.amount AS new_amount
         |FROM a FULL JOIN b ON a.trans_id = b.trans_id
         |WHERE a.trans_id IS NULL OR b.trans_id IS NULL OR NOT (
         |      a.customer_id IS NOT DISTINCT FROM b.customer_id
         |  AND a.event IS NOT DISTINCT FROM b.event
         |  AND a.sku IS NOT DISTINCT FROM b.sku
         |  AND a.amount IS NOT DISTINCT FROM b.amount
         |  AND a.device IS NOT DISTINCT FROM b.device
         |  AND a.trans_datetime IS NOT DISTINCT FROM b.trans_datetime)
         |ORDER BY trans_id""") { (s, _) =>
      val log = Envelope.changelog(s, fx)
      val tx = col("metadata.`transaction-id`")
      // integer `div`, not `/`: Column./ on longs goes through DOUBLE and
      // rounds the sum above 2^53, diverging from the oracle's exact
      // (min+max)//2 for large 64-bit transaction counters (txids are
      // positive, so div's truncation == floor division)
      val hz = broadcast(log.agg(min(tx).as("mn"), max(tx).as("mx"))
        .select(expr("(mn + mx) div 2").as("h")))
      def snap(df: org.apache.spark.sql.DataFrame) =
        Materialize.snapshot(df).withColumn("amount", col("amount").cast("long"))
      val a = snap(log.crossJoin(hz).filter(tx <= col("h")).drop("h")).as("a")
      val b = snap(log).as("b")
      val same = Seq("customer_id", "event", "sku", "amount", "device",
        "trans_datetime")
        .map(c => col(s"a.$c") <=> col(s"b.$c")).reduce(_ && _)
      a.join(b, col("a.trans_id") === col("b.trans_id"), "full_outer")
        .filter(col("a.trans_id").isNull || col("b.trans_id").isNull || !same)
        .select(coalesce(col("a.trans_id"), col("b.trans_id")).as("trans_id"),
          when(col("a.trans_id").isNull, "added")
            .when(col("b.trans_id").isNull, "removed")
            .otherwise("changed").as("status"),
          col("a.event").as("old_event"), col("b.event").as("new_event"),
          col("a.amount").as("old_amount"), col("b.amount").as("new_amount"))
        .orderBy("trans_id")
    },

    // ---- CDC replication-lag observability: capture-time minus
    //      business-time per operation, in EXACT integer microseconds
    //      (both envelope timestamps parse to µs precision; the synthetic
    //      fixture's business times scatter around capture time, so lags
    //      go negative — the arithmetic doesn't care). The one float op
    //      is the display average, a single division rounded per §2.3.
    //      Scale: pure map + 3-group hash agg, no shuffle beyond it. ----
    gated("q87_cdc_lag",
      s"""SELECT metadata.operation AS op, CAST(COUNT(*) AS BIGINT) AS n,
         |       MIN(epoch_us(CAST(metadata."timestamp" AS TIMESTAMP))
         |           - epoch_us(CAST(data.trans_datetime AS TIMESTAMP))) AS min_lag_us,
         |       MAX(epoch_us(CAST(metadata."timestamp" AS TIMESTAMP))
         |           - epoch_us(CAST(data.trans_datetime AS TIMESTAMP))) AS max_lag_us,
         |       CAST(CAST(ROUND(CAST(SUM(epoch_us(CAST(metadata."timestamp" AS TIMESTAMP))
         |                - epoch_us(CAST(data.trans_datetime AS TIMESTAMP))) AS DOUBLE)
         |            / (COUNT(*) * 1000000.0), 2) AS DECIMAL(18,2)) AS VARCHAR) AS avg_lag_s
         |FROM $readJson WHERE $selectionSql
         |GROUP BY op ORDER BY op""") { (s, _) =>
      val lag = unix_micros(to_timestamp(col("metadata.timestamp"))) -
        unix_micros(to_timestamp(col("data.trans_datetime")))
      Envelope.changelog(s, fx)
        .select(col("metadata.operation").as("op"), lag.as("lag"))
        .groupBy("op")
        .agg(cntLong.as("n"),
          min(col("lag")).as("min_lag_us"),
          max(col("lag")).as("max_lag_us"),
          decStr(round(sum(col("lag")).cast("double") /
            (count(lit(1)) * lit(1000000.0)), 2)).as("avg_lag_s"))
        .orderBy("op")
    },

    // ---- Per-group outlier detection (data-quality pass): top-3 most
    //      deviant event values per type. RANKING is exact — |value·n − Σ|
    //      in DECIMAL equals n·|value − mean| up to the constant n, so no
    //      float enters the order — while the z-score itself is display-
    //      only (two IEEE divisions, rounded to 2 dp like q55's stddev).
    //      Scale: one 5-row agg broadcast back over the stream + one
    //      window per group — same two-exchange shape as q19. ----
    gated("q88_outliers",
      """WITH g AS (SELECT event_type, SUM(CAST(value AS DECIMAL(18,2))) AS s,
        |                  CAST(COUNT(*) AS BIGINT) AS n, stddev_samp(value) AS sd
        |           FROM events GROUP BY event_type),
        |r AS (SELECT e.event_type, e.event_id, CAST(e.value AS DECIMAL(18,2)) AS v,
        |        (e.value - CAST(g.s AS DOUBLE)/g.n) / g.sd AS z,
        |        ROW_NUMBER() OVER (PARTITION BY e.event_type
        |          ORDER BY ABS(CAST(e.value AS DECIMAL(18,2)) * g.n - g.s) DESC,
        |                   e.event_id) AS rn
        |      FROM events e JOIN g USING (event_type))
        |SELECT event_type, event_id, CAST(v AS VARCHAR) AS value,
        |       CAST(CAST(ROUND(z, 2) AS DECIMAL(18,2)) AS VARCHAR) AS z, rn
        |FROM r WHERE rn <= 3 ORDER BY event_type, rn""") { (s, d) =>
      val ev = Tables.events(s, d)
      val g = broadcast(ev.groupBy("event_type").agg(
        sum(dec2(col("value"))).as("s"), cntLong.as("n"),
        stddev_samp(col("value")).as("sd")))
      val dev = abs(dec2(col("value")) * col("n") - col("s"))
      val z = (col("value") - col("s").cast("double") / col("n")) / col("sd")
      val w = Window.partitionBy(col("event_type"))
        .orderBy(dev.desc, col("event_id"))
      ev.join(g, "event_type")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("event_id"),
          decStr(col("value")).as("value"), decStr(round(z, 2)).as("z"),
          col("rn"))
        .orderBy("event_type", "rn")
    },

    // ---- Pre-aggregation reuse: monthly stats answered FROM a daily
    //      rollup (two-level aggregation) instead of the raw stream —
    //      the warehouse pattern that turns a 100 TB scan into a
    //      rollup-sized one for every coarser granularity. Exactness is
    //      what makes it gateable: DECIMAL partial sums and counts merge
    //      associatively, so rollup-then-merge equals the oracle's
    //      direct single-level aggregation bit-for-bit, including the
    //      one display division. ----
    gated("q89_rollup_reuse",
      """SELECT strftime(date_trunc('month', ts), '%Y-%m') AS m, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS c,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS v,
        |       CAST(CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |            / COUNT(*), 2) AS DECIMAL(18,2)) AS VARCHAR) AS avg_v
        |FROM events GROUP BY 1, 2 ORDER BY m, event_type""") { (s, d) =>
      // engine path: daily rollup first (what the streaming archive
      // would materialize), monthly merged from the rollup's partials
      val daily = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("pc"), sum(dec2(col("value"))).as("ps"))
      daily
        .groupBy(date_trunc("month", col("day")).as("mo"), col("event_type"))
        .agg(sum(col("pc")).as("c"), sum(col("ps")).as("sv"))
        .select(date_format(col("mo"), "yyyy-MM").as("m"), col("event_type"),
          col("c"),
          decStr(col("sv")).as("v"),
          decStr(round(col("sv").cast("double") / col("c"), 2)).as("avg_v"))
        .orderBy("m", "event_type")
    },

    // ---- The FULL dedup pipeline as one composed operator — exact dedup
    //      → near-dup pair mining → connected-component clustering →
    //      canonical survivor per cluster → per-language survivor stats.
    //      Exact-dup input is provably non-vacuous: ten re-keyed copies
    //      (doc_id + 1000 — a re-crawl under new ids) are unioned in and
    //      must vanish at the exact stage. Near-dup scope matches
    //      q45/q78 (doc_id < 100) to bound the oracle's recursive-CTE
    //      transitive closure. Scale: exact stage is one text-keyed
    //      shuffle (xxhash64 pre-hash at 100 TB), pair stage the q45
    //      band join, clustering O(log d) label rounds — each stage's
    //      cost story is its own query's; this gates their COMPOSITION
    //      (survivor sets feed stage to stage without drift). ----
    gated("q90_dedup_pipeline",
      """WITH RECURSIVE sub AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 1000, lang, text FROM documents WHERE doc_id < 10),
        |ex AS (SELECT MIN(doc_id) AS doc_id FROM sub GROUP BY text),
        |exd AS (SELECT s.doc_id, s.lang, s.text FROM sub s
        |        JOIN ex ON s.doc_id = ex.doc_id),
        |t AS (SELECT doc_id,
        |        list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |      FROM exd),
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
        |cl AS (SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster
        |       FROM reach GROUP BY s),
        |lab AS (SELECT exd.doc_id, exd.lang,
        |               COALESCE(cl.cluster, exd.doc_id) AS cluster
        |        FROM exd LEFT JOIN cl ON exd.doc_id = cl.doc_id)
        |SELECT l.lang, l.n_docs,
        |       COALESCE(x.n_after_exact, 0) AS n_after_exact,
        |       COALESCE(v.n_survivors, 0) AS n_survivors
        |FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |      FROM sub GROUP BY lang) l
        |LEFT JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_after_exact
        |           FROM exd GROUP BY lang) x ON l.lang = x.lang
        |LEFT JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_survivors
        |           FROM lab WHERE doc_id = cluster GROUP BY lang) v
        |  ON l.lang = v.lang
        |ORDER BY l.lang""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val sub = docs.filter(col("doc_id") < 100)
        .select(col("doc_id"), col("lang"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 1000).as("doc_id"), col("lang"), col("text")))
      // stage 1: exact dedup, min doc_id per text wins
      val ex = sub.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      val exd = sub.join(ex.select("doc_id"), "doc_id")
      // stage 2: near-dup pairs over the exact survivors (q45 protocol)
      val g = exd
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), TextOps.trigrams(col("w")).as("tg"))
      val pairs = g.select(col("doc_id").as("a_id"), col("tg").as("a_tg"))
        .join(g.select(col("doc_id").as("b_id"), col("tg").as("b_tg")),
          col("a_id") < col("b_id"))
        .filter(TextOps.jaccard(col("a_tg"), col("b_tg")) >= 0.01)
        .select(col("a_id"), col("b_id"))
      // stage 3: transitive clusters; stage 4: survivor = cluster min
      val cl = graft.operators.ConnectedComponents.run(pairs)
      val lab = exd.join(cl, exd("doc_id") === cl("id"), "left")
        .select(exd("doc_id"), col("lang"),
          coalesce(col("cluster"), exd("doc_id")).as("cluster"))
      val l = sub.groupBy("lang").agg(cntLong.as("n_docs"))
      val x = exd.groupBy("lang").agg(cntLong.as("n_after_exact"))
      val v = lab.filter(col("doc_id") === col("cluster"))
        .groupBy("lang").agg(cntLong.as("n_survivors"))
      l.join(x, Seq("lang"), "left").join(v, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("n_after_exact"), lit(0L)).as("n_after_exact"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"))
        .orderBy("lang")
    },

    // ---- Serve-side SEARCH RANKING (S13's scoring half): top-10 docs
    //      for the 3-term query {fast, join, merge} by length-normalized
    //      tf-idf, Σ_t tf_t/dl · N/df_t. The sum of per-term float
    //      divisions would be order-nondeterministic under partial
    //      aggregation, so the score is assembled as ONE exact rational —
    //      num = N·Σ_t tf_t·Π_{u≠t}df_u, den = dl·Π_t df_t, both BIGINT
    //      (bounded: ≤ ~1e13 at sf0.1) — and divided once for display.
    //      Scale: tf extraction is map-only; df/N is one tiny agg
    //      broadcast back; ranking is TakeOrdered top-10, no global
    //      sort. The log-free idf keeps every engine bit-identical. ----
    gated("q91_search_rank",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |        CAST(len(list_filter(w, x -> x = 'fast')) AS BIGINT) AS tf_f,
        |        CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT) AS tf_j,
        |        CAST(len(list_filter(w, x -> x = 'merge')) AS BIGINT) AS tf_m
        |      FROM t WHERE len(w) > 0),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(CASE WHEN tf_f > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_f,
        |        CAST(SUM(CASE WHEN tf_j > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_j,
        |        CAST(SUM(CASE WHEN tf_m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_m
        |      FROM s),
        |r AS (SELECT s.doc_id,
        |        g.n * (s.tf_f * g.df_j * g.df_m
        |             + s.tf_j * g.df_f * g.df_m
        |             + s.tf_m * g.df_f * g.df_j) AS num,
        |        s.dl * g.df_f * g.df_j * g.df_m AS den
        |      FROM s CROSS JOIN g
        |      WHERE s.tf_f + s.tf_j + s.tf_m > 0)
        |SELECT doc_id,
        |       CAST(CAST(ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
        |            AS DECIMAL(18,6)) AS VARCHAR) AS score
        |FROM r
        |ORDER BY ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) DESC,
        |         doc_id
        |LIMIT 10""") { (s, d) =>
      def tf(term: String) =
        size(filter(col("w"), x => x === term)).cast("long")
      val t = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
          tf("fast").as("tf_f"), tf("join").as("tf_j"), tf("merge").as("tf_m"))
      val g = broadcast(t.agg(
        count(lit(1)).as("n"),
        sum(when(col("tf_f") > 0, 1L).otherwise(0L)).as("df_f"),
        sum(when(col("tf_j") > 0, 1L).otherwise(0L)).as("df_j"),
        sum(when(col("tf_m") > 0, 1L).otherwise(0L)).as("df_m")))
      val score = round(
        (col("n") * (col("tf_f") * col("df_j") * col("df_m")
          + col("tf_j") * col("df_f") * col("df_m")
          + col("tf_m") * col("df_f") * col("df_j"))).cast("double") /
          (col("dl") * col("df_f") * col("df_j") * col("df_m")).cast("double"),
        6)
      t.crossJoin(g)
        .filter(col("tf_f") + col("tf_j") + col("tf_m") > 0)
        .select(col("doc_id"), score.as("sc"))
        .orderBy(col("sc").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"),
          col("sc").cast(DecimalType(18, 6)).cast("string").as("score"))
    },

    // ---- Heavy hitters via per-partition Misra-Gries + exact recount
    //      (operators/HeavyHitters): the candidates-then-verify shape —
    //      the MG union is a PROVABLE superset of every item with
    //      count·50 > n (pigeonhole over partitions), so the exact
    //      recount of candidates yields the exact answer in two passes
    //      with k counters of state per partition. The gate is the
    //      exact heavy-hitter set itself (30 words at every SF);
    //      integer threshold arithmetic (c·50 > n, no float). ----
    gated("q98_heavy_hitters",
      """WITH toks AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
        |                            x -> x <> '')) AS w
        |              FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM toks),
        |c AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w)
        |SELECT w, CAST(c AS BIGINT) AS c
        |FROM c, n WHERE c * 50 > n
        |ORDER BY c DESC, w""") { (s, d) =>
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .as[String]
      graft.operators.HeavyHitters.exact(toks, k = 50)
        .orderBy(col("c").desc, col("w"))
    },

    // ---- Z-order (Morton) clustering key (functions/ZOrder): the
    //      multi-dimensional layout key for co-locating rows close in
    //      BOTH dimensions under one sort — repartitionByRange(zkey) +
    //      sortWithinPartitions before the write gives every file a
    //      tight (x, y) bounding box, so min/max row-group pruning works
    //      for filters on either dimension. The gate pins the exact
    //      mask-shift cascade bit arithmetic cross-engine. ----
    gated("q99_zorder_key",
      """WITH base AS (SELECT p_partkey, p_partkey % 1024 AS x,
        |                     CAST(p_size AS BIGINT) AS y FROM part),
        |s1 AS (SELECT p_partkey, x & 65535 AS xa, y & 65535 AS ya FROM base),
        |s2 AS (SELECT p_partkey, (xa | (xa << 8)) & 16711935 AS xb,
        |              (ya | (ya << 8)) & 16711935 AS yb FROM s1),
        |s3 AS (SELECT p_partkey, (xb | (xb << 4)) & 252645135 AS xc,
        |              (yb | (yb << 4)) & 252645135 AS yc FROM s2),
        |s4 AS (SELECT p_partkey, (xc | (xc << 2)) & 858993459 AS xd,
        |              (yc | (yc << 2)) & 858993459 AS yd FROM s3),
        |s5 AS (SELECT p_partkey, (xd | (xd << 1)) & 1431655765 AS xe,
        |              (yd | (yd << 1)) & 1431655765 AS ye FROM s4)
        |SELECT p_partkey, CAST(xe | (ye << 1) AS BIGINT) AS zkey
        |FROM s5 ORDER BY p_partkey""") { (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          graft.functions.ZOrder.interleave16(
            pmod(col("p_partkey"), lit(1024L)),
            col("p_size").cast("long")).as("zkey"))
        .orderBy("p_partkey")
    },

    // ---- Count-Min sketch (operators/CountMin): the MERGEABLE frequency
    //      sketch next to HLL (q11b) and Misra-Gries (q98). The sketch is
    //      a (depth, bucket, cnt) relation — build collapses map-side to
    //      ≤ depth×width cells per partition before its one shuffle,
    //      merge is a cell-wise sum (per-shard/per-day sketches fold),
    //      estimates join depth×1 probe cells, never the corpus. Gate
    //      (q11b verdict pattern): the exact top-10 user counts are the
    //      oracle-checked payload; the sketch leg contributes verdicts —
    //      est ≥ exact (overestimate by construction, a hard invariant)
    //      and est ≤ exact + 4·N/width (the CMS error bound with 4×
    //      headroom; deterministic here — fixed data, fixed seeds).
    //      PropertySpec pins merge additivity and exactness at
    //      width ≫ distinct keys. ----
    gated("q111_cms_heavy",
      """WITH e AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        |           FROM events GROUP BY user_id
        |           ORDER BY n_exact DESC, user_id LIMIT 10)
        |SELECT user_id, n_exact,
        |       CAST(1 AS BIGINT) AS ge_ok, CAST(1 AS BIGINT) AS bound_ok
        |FROM e ORDER BY n_exact DESC, user_id""") { (s, d) =>
      import graft.operators.CountMin
      val width = 1024
      val ev = Tables.events(s, d).select(col("user_id"))
      val top = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(10)
        .localCheckpoint()
      // the sketch feeds BOTH the N collect and the estimate join —
      // materialize it once (≤ depth×width rows) so the build's pass
      // over the events table runs a single time
      val sketch = CountMin.build(ev, "user_id", width = width)
        .localCheckpoint()
      val est = CountMin.estimate(sketch, top.select("user_id"), "user_id")
      // N from the sketch itself (any depth row sums to it) — no second
      // pass over the data
      val n = sketch.filter(col("depth") === 0)
        .agg(sum("cnt")).collect().head.getLong(0)
      val joined = top.join(est, "user_id").localCheckpoint()
      val verdict = broadcast(joined.agg(
        min((col("est") >= col("n_exact")).cast("long")).as("ge_ok"),
        max(col("est") - col("n_exact")).as("excess")))
      joined.crossJoin(verdict)
        .select(col("user_id"), col("n_exact"), col("ge_ok"),
          (col("excess") <= lit(4.0 * n / width)).cast("long").as("bound_ok"))
        .orderBy(col("n_exact").desc, col("user_id"))
    },

    // ---- KMV / bottom-k sketch (operators/Kmv), sample leg: the k
    //      distinct keys with the smallest md5 hashes per group — a
    //      uniform per-group sample of FIXED SIZE (q66 keeps a fixed
    //      RATE) that is reproducible, append-stable, and mergeable
    //      across shards (bottom-k is a semilattice). The hash is a pure
    //      cross-engine function, so the gate is EXACT: both engines
    //      must pick the same 4 docs per language in the same order.
    //      Scale: the distinct pass is map-side-combined; the rank
    //      filter runs as WindowGroupLimit (PlanSpec-pinned), so the
    //      window exchange carries ≤ k rows per group per task. ----
    gated("q112_kmv_sample",
      """WITH d AS (SELECT DISTINCT lang, doc_id FROM documents
        |           WHERE doc_id IS NOT NULL),
        |r AS (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM d)
        |SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id
        |FROM r WHERE rn <= 4 ORDER BY lang, rn""") { (s, d) =>
      graft.operators.Kmv.build(Tables.documents(s, d), "lang", "doc_id", k = 4)
        .select(col("grp").as("lang"), col("rn").cast("long").as("rn"),
          col("key").as("doc_id"))
        .orderBy("lang", "rn")
    },

    // ---- KMV estimator leg (q11b verdict pattern): the same sketch at
    //      k = 256 estimates per-language distinct doc counts as
    //      (k-1)/h_k. The exact counts are the oracle-checked payload;
    //      the sketch contributes a within-tolerance verdict (relative
    //      standard error ≈ 1/sqrt(k-2) ≈ 6.3%; measured worst 8.8% at
    //      sf0.1 and EXACT at sf ≤ 0.01 where every language has < k
    //      distinct docs — the sketch is then the distinct set itself —
    //      so the 0.20 bound carries > 2× headroom; deterministic hash,
    //      fixed data). ----
    gated("q112b_kmv_distinct",
      """SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_exact,
        |       CAST(1 AS BIGINT) AS est_ok
        |FROM documents GROUP BY lang ORDER BY lang""") { (s, d) =>
      import graft.operators.Kmv
      val docs = Tables.documents(s, d)
      val est = Kmv.estimateDistinct(Kmv.build(docs, "lang", "doc_id", k = 256))
      // left + null-safe: a group whose keys are all NULL has no sketch
      // row (build drops null keys) but the exact side still emits it
      // with d_exact = 0 — est coalesces to 0 so the verdict holds
      // instead of the inner join silently dropping what the oracle keeps
      docs.groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("d_exact"))
        .join(est, col("lang") <=> col("grp"), "left")
        .select(col("lang"), col("d_exact"),
          (abs(coalesce(col("est"), lit(0.0)) - col("d_exact")) <=
            col("d_exact") * lit(0.20)).cast("long").as("est_ok"))
        .orderBy("lang")
    },

    // ---- Priority sampling (operators/PrioritySample), sample leg: the
    //      WEIGHTED counterpart of q112 — keep the k keys with the
    //      highest priority w/u per group, the length-/quality-weighted
    //      corpus subsample. No transcendentals (exponential-reservoir
    //      ranks on u^(1/w) — not bit-portable, the q81 lesson): w/u is
    //      ONE IEEE division, correctly rounded identically on both
    //      engines, so the gate pins the EXACT sample — both engines
    //      must draw the same 8 docs per language in the same order.
    //      Same plan shape as q112 (WindowGroupLimit, PlanSpec). ----
    gated("q114_priority_sample",
      """WITH d AS (SELECT lang, doc_id, MAX(n_chars) AS w FROM documents
        |           WHERE doc_id IS NOT NULL AND n_chars > 0
        |           GROUP BY lang, doc_id),
        |r AS (SELECT lang, doc_id, w,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY CAST(w AS DOUBLE) /
        |            (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
        |              / 4503599627370496.0) DESC, doc_id) AS rn
        |      FROM d)
        |SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id, CAST(w AS BIGINT) AS w
        |FROM r WHERE rn <= 8 ORDER BY lang, rn""") { (s, d) =>
      import graft.operators.PrioritySample
      PrioritySample.sample(
          PrioritySample.build(Tables.documents(s, d), "lang", "doc_id",
            "n_chars", k = 8))
        .select(col("grp").as("lang"), col("rn").cast("long").as("rn"),
          col("key").as("doc_id"), col("w").cast("long").as("w"))
        .orderBy("lang", "rn")
    },

    // ---- Priority-sampling estimator leg (q11b verdict pattern): with
    //      τ = the (k+1)-th priority, Σ max(w, τ) over the top k is an
    //      UNBIASED estimate of the group's total weight (DLT, JACM
    //      2007) — total character counts per language from 256 sample
    //      rows. Exact totals are the oracle payload; the verdict pins
    //      |est − Σw| ≤ 0.25·Σw (measured worst 8.1% at sf0.1 and 11.2%
    //      on the 10× replicated corpus; exact at sf ≤ 0.01 where every
    //      language has ≤ k docs — deterministic hash, fixed data). ----
    gated("q114b_priority_total",
      """SELECT lang, CAST(SUM(w) AS BIGINT) AS w_total,
        |       CAST(1 AS BIGINT) AS est_ok
        |FROM (SELECT lang, doc_id, MAX(n_chars) AS w FROM documents
        |      WHERE doc_id IS NOT NULL AND n_chars > 0
        |      GROUP BY lang, doc_id)
        |GROUP BY lang ORDER BY lang""") { (s, d) =>
      import graft.operators.PrioritySample
      val docs = Tables.documents(s, d)
      val est = PrioritySample.estimateTotal(
        PrioritySample.build(docs, "lang", "doc_id", "n_chars", k = 256))
      // left + null-safe for the same reason as q112b (NULL lang groups)
      docs.filter(col("doc_id").isNotNull && col("n_chars") > 0)
        .groupBy("lang", "doc_id").agg(max(col("n_chars")).as("w"))
        .groupBy(col("lang")).agg(sum(col("w")).as("w_total"))
        .join(est, col("lang") <=> col("grp"), "left")
        .select(col("lang"), col("w_total"),
          (abs(coalesce(col("est"), lit(0.0)) - col("w_total")) <=
            col("w_total") * lit(0.25)).cast("long").as("est_ok"))
        .orderBy("lang")
    },

    // ---- HLL sketch (operators/Hll): the PERSISTABLE distinct-count
    //      sketch — q11b answers one approx-distinct query inline; this
    //      makes the sketch a first-class binary column (DataSketches
    //      HLL), so per-shard sketches persist to parquet and roll up
    //      WITHOUT re-scanning data. The gate exercises exactly that
    //      path: the corpus is split into two disjoint shards, each
    //      builds its own sketch, and the estimate reads the FOLDED
    //      sketch — so build, merge, and estimate are all oracle-gated.
    //      Exact counts are the payload (q11b verdict pattern; the
    //      register blob is DataSketches-specific, not cross-engine);
    //      the verdict pins |est − exact| ≤ 0.10·exact (RSE ≈ 1.6% at
    //      lgK = 12; measured (SCALE.md, "HLL verdict"): worst 2.91% at sf0.1,
    //      2.99% at 10×, 2.86% at 100×, and EXACT at sf ≤ 0.01 where
    //      groups stay in sparse mode — > 3× headroom at every scale;
    //      deterministic: registers are per-bucket maxima of a fixed
    //      hash set, identical under any shard split). ----
    gated("q115_hll_distinct",
      """SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_exact,
        |       CAST(1 AS BIGINT) AS est_ok
        |FROM documents GROUP BY lang ORDER BY lang""") { (s, d) =>
      import graft.operators.Hll
      val docs = Tables.documents(s, d)
      val shard = pmod(abs(hash(col("doc_id"))), lit(2))
      val est = Hll.estimateDistinct(Hll.merge(
        Hll.build(docs.filter(shard === 0), "lang", "doc_id"),
        Hll.build(docs.filter(shard === 1), "lang", "doc_id")))
      // left + null-safe for the same reason as q112b (NULL lang groups)
      docs.groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("d_exact"))
        .join(est, col("lang") <=> col("grp"), "left")
        .select(col("lang"), col("d_exact"),
          (abs(coalesce(col("est"), lit(0.0)) - col("d_exact")) <=
            col("d_exact") * lit(0.10)).cast("long").as("est_ok"))
        .orderBy("lang")
    },

    // ---- Sketch-shelf rollup, END-TO-END THROUGH DISK: the 90-day-
    //      rollup story the Hll scaladoc promises, exercised through the
    //      persisted form — the corpus splits into three disjoint shards
    //      (stand-ins for daily partitions), each shard's HLL and KMV
    //      sketch relations are WRITTEN TO PARQUET, and the estimates
    //      read the sketches merged FROM DISK — never the data. At
    //      100 TB this is the whole point of the shelf: a day's sketch
    //      rows are KBs (groups × 2^lgK registers / ≤ k rows per group),
    //      so the 90-day distinct-users rollup folds 90 KB-scale
    //      relations instead of re-scanning a quarter of the lake.
    //      Exact counts are the oracle payload (q11b verdict pattern);
    //      tolerances are q115's (HLL, 0.10) and q112b's (KMV, 0.20),
    //      both with measured > 2× headroom. Estimates are deterministic
    //      (register maxima / bottom-k of a fixed hash set are shard-
    //      split-invariant), and IndexSpec pins disk-merged == inline-
    //      merged exactly. ----
    gated("q117_sketch_rollup",
      """SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_exact,
        |       CAST(1 AS BIGINT) AS hll_ok, CAST(1 AS BIGINT) AS kmv_ok
        |FROM documents GROUP BY lang ORDER BY lang""") { (s, d) =>
      import graft.operators.{Hll, Kmv}
      val docs = Tables.documents(s, d)
      val root = graft.GatedQuery.indexScratch(d, "sketch_shelf_q117")
      val shard = pmod(abs(hash(col("doc_id"))), lit(3))
      // ONE corpus scan per sketch TYPE (buildSharded groups by
      // (lang, shard); partitionBy lands the same per-shard dirs) — the
      // old per-shard loop paid 3 filtered scans per type (round-12
      // verdict item 4); at 100 TB the scan is the whole cost
      Hll.buildSharded(docs, "lang", "doc_id", shard)
        .write.partitionBy("shard").mode("overwrite").parquet(s"$root/hll")
      Kmv.buildSharded(docs, "lang", "doc_id", shard, k = 256)
        .write.partitionBy("shard").mode("overwrite").parquet(s"$root/kmv")
      // merge still folds the shards AS PERSISTED RELATIONS (the 90-day
      // rollup read path) — each read prunes to one shard directory
      def shardOf(path: String)(i: Int) =
        s.read.parquet(path).filter(col("shard") === i).drop("shard")
      val hllEst = Hll.estimateDistinct(Hll.merge(
        (0 until 3).map(shardOf(s"$root/hll")): _*))
      val kmvEst = Kmv.estimateDistinct(Kmv.merge(
        (0 until 3).map(shardOf(s"$root/kmv")): _*))
      // left + null-safe for the same reason as q112b (NULL lang groups)
      docs.groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("d_exact"))
        .join(hllEst.select(col("grp").as("hg"), col("est").as("hest")),
          col("lang") <=> col("hg"), "left")
        .join(kmvEst.select(col("grp").as("kg"), col("est").as("kest")),
          col("lang") <=> col("kg"), "left")
        .select(col("lang"), col("d_exact"),
          (abs(coalesce(col("hest"), lit(0.0)) - col("d_exact")) <=
            col("d_exact") * lit(0.10)).cast("long").as("hll_ok"),
          (abs(coalesce(col("kest"), lit(0.0)) - col("d_exact")) <=
            col("d_exact") * lit(0.20)).cast("long").as("kmv_ok"))
        .orderBy("lang")
    },

    // ---- KMV set-overlap leg (operators/Kmv.estimateOverlap): the
    //      decontamination SCREEN at scale — estimate train/eval corpus
    //      overlap per group from two KB-scale sketches (Beyer et al.,
    //      SIGMOD 2007) instead of joining the full key sets (q71 is the
    //      exact full-join decontamination; this is the cheap triage that
    //      decides whether to run it). Two overlapping doc subsets
    //      (doc_id % 3 ≠ 0 vs % 2 ≠ 0 — every lang keeps a ~1/3 overlap);
    //      exact per-lang union/intersection counts are the oracle
    //      payload, and the verdict pins |Ĵ − J| ≤ 0.10 ABSOLUTE (J is a
    //      ratio; SE ≈ sqrt(J(1−J)/k) ≈ 0.031 at k = 256; measured worst
    //      0.045 at sf0.1 via the engine-independent md5 model, exact at
    //      sf ≤ 0.01 where every lang's union holds < k keys — and the
    //      md5 ring makes Ĵ deterministic at any scale). ----
    gated("q118_kmv_overlap",
      """WITH a AS (SELECT DISTINCT lang, doc_id FROM documents
        |           WHERE doc_id IS NOT NULL AND doc_id % 3 <> 0),
        |b AS (SELECT DISTINCT lang, doc_id FROM documents
        |      WHERE doc_id IS NOT NULL AND doc_id % 2 <> 0),
        |cu AS (SELECT lang, COUNT(*) AS n_union
        |       FROM (SELECT * FROM a UNION SELECT * FROM b) GROUP BY lang),
        |ci AS (SELECT lang, COUNT(*) AS n_inter
        |       FROM (SELECT * FROM a INTERSECT SELECT * FROM b) GROUP BY lang)
        |SELECT cu.lang, CAST(cu.n_union AS BIGINT) AS n_union,
        |       CAST(COALESCE(ci.n_inter, 0) AS BIGINT) AS n_inter,
        |       CAST(1 AS BIGINT) AS est_ok
        |FROM cu LEFT JOIN ci ON cu.lang IS NOT DISTINCT FROM ci.lang
        |ORDER BY cu.lang""") { (s, d) =>
      import graft.operators.Kmv
      val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      val aDocs = docs.filter(col("doc_id") % 3 =!= 0)
      val bDocs = docs.filter(col("doc_id") % 2 =!= 0)
      val aSet = aDocs.select("lang", "doc_id").distinct()
      val bSet = bDocs.select("lang", "doc_id").distinct()
      val nU = aSet.union(bSet).distinct()
        .groupBy("lang").agg(count(lit(1)).as("n_union"))
      val nI = aSet.intersect(bSet)
        .groupBy("lang").agg(count(lit(1)).as("n_inter"))
        .select(col("lang").as("il"), col("n_inter"))
      val ov = Kmv.estimateOverlap(
          Kmv.build(aDocs, "lang", "doc_id", k = 256),
          Kmv.build(bDocs, "lang", "doc_id", k = 256))
        .select(col("grp").as("og"), col("jaccard_est"))
      nU.join(nI, col("lang") <=> col("il"), "left")
        .join(ov, col("lang") <=> col("og"), "left")
        .select(col("lang"), col("n_union"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          (abs(coalesce(col("jaccard_est"), lit(0.0)) -
            coalesce(col("n_inter"), lit(0L)).cast("double") /
              col("n_union").cast("double")) <= lit(0.10))
            .cast("long").as("est_ok"))
        .orderBy("lang")
    },

    // ---- Quantile-sample sketch (operators/QuantileSample): the
    //      MERGEABLE quantile relation completing the shelf — q54
    //      answers exact percentiles by sorting each group, q54b's
    //      approx_percentile answers one query inline; this makes the
    //      uniform hash-rank row sample a first-class relation, so
    //      per-shard samples persist and a 90-day p99 rolls up from
    //      ≤ k sample rows per group (the q117 shelf pattern). The gate
    //      builds two disjoint shard samples and estimates off the
    //      MERGED sketch. Exact interpolated percentiles are the oracle
    //      payload (the q54 cross-engine agreement); the verdict pins
    //      the estimate's RANK displacement — |F(v̂) − q| ≤ 0.10 where
    //      F is the group's exact CDF (DKW: SE ≈ sqrt(q(1−q)/k) ≈ 0.031
    //      at q = 0.5, k = 256; measured via the engine-independent md5
    //      model: worst 0.046 at sf0.1, 0.043 at 10× — > 2× headroom,
    //      not corpus-size-tuned; md5 ring → deterministic, exact below
    //      k rows). ----
    gated("q119_quantile_sample",
      """SELECT event_type, CAST(COUNT(value) AS BIGINT) AS n,
        |       CAST(CAST(ROUND(quantile_cont(value, 0.5), 2) AS DECIMAL(18,2)) AS VARCHAR) AS p50,
        |       CAST(CAST(ROUND(quantile_cont(value, 0.9), 2) AS DECIMAL(18,2)) AS VARCHAR) AS p90,
        |       CAST(1 AS BIGINT) AS est_ok
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""") { (s, d) =>
      import graft.operators.QuantileSample
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
      val shard = pmod(abs(hash(col("event_id"))), lit(2))
      val sk = QuantileSample.merge(
        QuantileSample.build(ev.filter(shard === 0), "event_type",
          "event_id", "value", k = 256),
        QuantileSample.build(ev.filter(shard === 1), "event_type",
          "event_id", "value", k = 256))
      val est = QuantileSample.estimateQuantiles(sk, Seq(0.5, 0.9))
        .groupBy("grp")
        .agg(max(when(col("q") === 0.5, col("est"))).as("e50"),
          max(when(col("q") === 0.9, col("est"))).as("e90"))
      val exact = ev.groupBy("event_type")
        .agg(count(col("value")).as("n"),
          expr("percentile(value, 0.5)").as("x50"),
          expr("percentile(value, 0.9)").as("x90"))
      // the estimates' exact rank positions, one conditional-count pass
      val cdf = ev.join(est, col("event_type") <=> col("grp"), "left")
        .groupBy(col("event_type").as("ct"))
        .agg((sum(when(col("value") <= col("e50"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("f50"),
          (sum(when(col("value") <= col("e90"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("f90"))
      exact.join(cdf, col("event_type") <=> col("ct"), "left")
        .select(col("event_type"), col("n"),
          decStr(round(col("x50"), 2)).as("p50"),
          decStr(round(col("x90"), 2)).as("p90"),
          ((abs(col("f50") - lit(0.5)) <= lit(0.10)) &&
            (abs(col("f90") - lit(0.9)) <= lit(0.10)))
            .cast("long").as("est_ok"))
        .orderBy("event_type")
    },

    // ---- BM25 ranking (S13's scoring half, the modern default next to
    //      q91's tf-idf): top-10 docs for {fast, join, merge} under
    //      Okapi BM25 with k1 = 1.2, b = 0.75. Both factors are exact
    //      integer rationals — the log-free idf odds (N − df + ½)/(df + ½)
    //      scaled by 2 to clear the halves, and the saturation term
    //      tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) scaled by 10·sumdl (avgdl
    //      = sumdl/N folds in exactly) — so each per-term score is two
    //      correctly-rounded IEEE divisions of exact-integer doubles and
    //      one multiply, summed left-to-right: bit-identical cross-engine
    //      with no libm call. tf = 0 terms contribute an exact 0 (zero
    //      numerator, positive denominator — no division hazard).
    //      Scale: tf extraction map-only; (N, sumdl, df_t) is one tiny
    //      agg broadcast back; top-10 is TakeOrdered, no global sort. ----
    gated("q120_bm25",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |        CAST(len(list_filter(w, x -> x = 'fast')) AS BIGINT) AS tf_f,
        |        CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT) AS tf_j,
        |        CAST(len(list_filter(w, x -> x = 'merge')) AS BIGINT) AS tf_m
        |      FROM t WHERE len(w) > 0),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(dl) AS BIGINT) AS sumdl,
        |        CAST(SUM(CASE WHEN tf_f > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_f,
        |        CAST(SUM(CASE WHEN tf_j > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_j,
        |        CAST(SUM(CASE WHEN tf_m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_m
        |      FROM s),
        |r AS (SELECT s.doc_id,
        |        (CAST(2*g.n - 2*g.df_f + 1 AS DOUBLE) / CAST(2*g.df_f + 1 AS DOUBLE))
        |          * (CAST(22 * s.tf_f * g.sumdl AS DOUBLE)
        |             / CAST(10 * s.tf_f * g.sumdl + 3 * g.sumdl + 9 * s.dl * g.n AS DOUBLE))
        |      + (CAST(2*g.n - 2*g.df_j + 1 AS DOUBLE) / CAST(2*g.df_j + 1 AS DOUBLE))
        |          * (CAST(22 * s.tf_j * g.sumdl AS DOUBLE)
        |             / CAST(10 * s.tf_j * g.sumdl + 3 * g.sumdl + 9 * s.dl * g.n AS DOUBLE))
        |      + (CAST(2*g.n - 2*g.df_m + 1 AS DOUBLE) / CAST(2*g.df_m + 1 AS DOUBLE))
        |          * (CAST(22 * s.tf_m * g.sumdl AS DOUBLE)
        |             / CAST(10 * s.tf_m * g.sumdl + 3 * g.sumdl + 9 * s.dl * g.n AS DOUBLE))
        |          AS score,
        |        s.tf_f + s.tf_j + s.tf_m AS anytf
        |      FROM s CROSS JOIN g)
        |SELECT doc_id,
        |       CAST(CAST(ROUND(score, 6) AS DECIMAL(18,6)) AS VARCHAR) AS score
        |FROM r WHERE anytf > 0
        |ORDER BY ROUND(score, 6) DESC, doc_id
        |LIMIT 10""") { (s, d) =>
      def tfc(term: String) =
        size(filter(col("w"), x => x === term)).cast("long")
      val t = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
          tfc("fast").as("tf_f"), tfc("join").as("tf_j"),
          tfc("merge").as("tf_m"))
      val g = broadcast(t.agg(
        count(lit(1)).as("n"), sum(col("dl")).as("sumdl"),
        sum(when(col("tf_f") > 0, 1L).otherwise(0L)).as("df_f"),
        sum(when(col("tf_j") > 0, 1L).otherwise(0L)).as("df_j"),
        sum(when(col("tf_m") > 0, 1L).otherwise(0L)).as("df_m")))
      // mirrors the oracle's operation tree exactly: per term, two
      // correctly-rounded divisions of exact-integer doubles and one
      // multiply; the three terms sum left-to-right
      def term(tf: String, df: String) =
        ((lit(2) * col("n") - lit(2) * col(df) + lit(1)).cast("double") /
          (lit(2) * col(df) + lit(1)).cast("double")) *
          ((lit(22) * col(tf) * col("sumdl")).cast("double") /
            (lit(10) * col(tf) * col("sumdl") + lit(3) * col("sumdl") +
              lit(9) * col("dl") * col("n")).cast("double"))
      val score = round(
        term("tf_f", "df_f") + term("tf_j", "df_j") + term("tf_m", "df_m"), 6)
      t.crossJoin(g)
        .filter(col("tf_f") + col("tf_j") + col("tf_m") > 0)
        .select(col("doc_id"), score.as("sc"))
        .orderBy(col("sc").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"),
          col("sc").cast(DecimalType(18, 6)).cast("string").as("score"))
    },

    // ---- BM25 SERVED FROM THE PERSISTED INDEX (q120's steady-state
    //      form, same exact arithmetic, different query terms): the
    //      positional index (Phrase.writeIndex, shared with q196) plus
    //      two tiny stat sidecars — (doc_id, dl) and the one-row
    //      (N, Σdl) — are built once; a query then reads ONLY its
    //      terms' buckets (directory pruning), derives tf and df from
    //      those postings alone, joins dl for the matched docs, and
    //      scores with q120's log-free integer-rational formulation
    //      (per-term contributions pivoted into FIXED-ORDER columns —
    //      a groupBy float sum would be order-nondeterministic at the
    //      6th decimal). Probe cost: |postings(terms)| + matched-doc
    //      joins; the corpus is never rescanned, which is the whole
    //      point of serving retrieval from an index. ----
    gated("q197_indexed_bm25",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |        CAST(len(list_filter(w, x -> x = 'hash')) AS BIGINT) AS tf_h,
        |        CAST(len(list_filter(w, x -> x = 'scan')) AS BIGINT) AS tf_s,
        |        CAST(len(list_filter(w, x -> x = 'window')) AS BIGINT) AS tf_w
        |      FROM t WHERE len(w) > 0),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(dl) AS BIGINT) AS sumdl,
        |        CAST(SUM(CASE WHEN tf_h > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_h,
        |        CAST(SUM(CASE WHEN tf_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_s,
        |        CAST(SUM(CASE WHEN tf_w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_w
        |      FROM s),
        |r AS (SELECT s.doc_id,
        |        (CAST(2*g.n - 2*g.df_h + 1 AS DOUBLE) / CAST(2*g.df_h + 1 AS DOUBLE))
        |          * (CAST(22 * s.tf_h * g.sumdl AS DOUBLE)
        |             / CAST(10 * s.tf_h * g.sumdl + 3 * g.sumdl + 9 * s.dl * g.n AS DOUBLE))
        |      + (CAST(2*g.n - 2*g.df_s + 1 AS DOUBLE) / CAST(2*g.df_s + 1 AS DOUBLE))
        |          * (CAST(22 * s.tf_s * g.sumdl AS DOUBLE)
        |             / CAST(10 * s.tf_s * g.sumdl + 3 * g.sumdl + 9 * s.dl * g.n AS DOUBLE))
        |      + (CAST(2*g.n - 2*g.df_w + 1 AS DOUBLE) / CAST(2*g.df_w + 1 AS DOUBLE))
        |          * (CAST(22 * s.tf_w * g.sumdl AS DOUBLE)
        |             / CAST(10 * s.tf_w * g.sumdl + 3 * g.sumdl + 9 * s.dl * g.n AS DOUBLE))
        |          AS score,
        |        s.tf_h + s.tf_s + s.tf_w AS anytf
        |      FROM s CROSS JOIN g)
        |SELECT doc_id,
        |       CAST(CAST(ROUND(score, 6) AS DECIMAL(18,6)) AS VARCHAR) AS score
        |FROM r WHERE anytf > 0
        |ORDER BY ROUND(score, 6) DESC, doc_id
        |LIMIT 10""") { (s, d) =>
      import graft.text.Phrase
      val terms = Seq("hash", "scan", "window")
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("w"))
        .filter(size(col("w")) > 0)
        .localCheckpoint() // feeds the index build and the dl sidecar
      val dir = graft.GatedQuery.indexScratch(d, "bm25_index_q197")
      Phrase.writeIndex(toks, "doc_id", "w", s"$dir/post", nBuckets = 64)
      toks.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(s"$dir/docs")
      s.read.parquet(s"$dir/docs")
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
        .write.mode("overwrite").parquet(s"$dir/corpus")
      // ---- probe: the ONE indexed-BM25 probe implementation
      //      (bm25IndexProbe — bucket-pruned postings via
      //      Phrase.prunedPostings, fixed-order pivot, q120 scoring) ----
      bm25IndexProbe(s, dir, terms)
    },

    // ---- q197's INGEST-path sibling (paired with q217's phrase leg):
    //      the postings index AND the dl sidecar are built in TWO
    //      batches — writeIndex/write over the even doc_ids, then
    //      appendToIndex/append over the odd ones — and BM25 serves
    //      from the appended artifacts. The corpus stats (N, Σdl) are
    //      re-derived from the appended dl sidecar, the pattern a real
    //      ingest pipeline follows (postings and per-doc stats append;
    //      the one-row global aggregate is recomputed from the KB-scale
    //      sidecar, never from the corpus). Oracle = q197's verbatim:
    //      batch boundaries must be invisible to scoring. ----
    gated("q218_bm25_append",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |           FROM documents),
        |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |        CAST(len(list_filter(w, x -> x = 'hash')) AS BIGINT) AS tf_h,
        |        CAST(len(list_filter(w, x -> x = 'scan')) AS BIGINT) AS tf_s,
        |        CAST(len(list_filter(w, x -> x = 'window')) AS BIGINT) AS tf_w
        |      FROM t WHERE len(w) > 0),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(dl) AS BIGINT) AS sumdl,
        |        CAST(SUM(CASE WHEN tf_h > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_h,
        |        CAST(SUM(CASE WHEN tf_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_s,
        |        CAST(SUM(CASE WHEN tf_w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_w
        |      FROM s),
        |r AS (SELECT s.doc_id,
        |        (CAST(2*g.n - 2*g.df_h + 1 AS DOUBLE) / CAST(2*g.df_h + 1 AS DOUBLE))
        |          * (CAST(22 * s.tf_h * g.sumdl AS DOUBLE)
        |             / CAST(10 * s.tf_h * g.sumdl + 3 * g.sumdl + 9 * s.dl * g.n AS DOUBLE))
        |      + (CAST(2*g.n - 2*g.df_s + 1 AS DOUBLE) / CAST(2*g.df_s + 1 AS DOUBLE))
        |          * (CAST(22 * s.tf_s * g.sumdl AS DOUBLE)
        |             / CAST(10 * s.tf_s * g.sumdl + 3 * g.sumdl + 9 * s.dl * g.n AS DOUBLE))
        |      + (CAST(2*g.n - 2*g.df_w + 1 AS DOUBLE) / CAST(2*g.df_w + 1 AS DOUBLE))
        |          * (CAST(22 * s.tf_w * g.sumdl AS DOUBLE)
        |             / CAST(10 * s.tf_w * g.sumdl + 3 * g.sumdl + 9 * s.dl * g.n AS DOUBLE))
        |          AS score,
        |        s.tf_h + s.tf_s + s.tf_w AS anytf
        |      FROM s CROSS JOIN g)
        |SELECT doc_id,
        |       CAST(CAST(ROUND(score, 6) AS DECIMAL(18,6)) AS VARCHAR) AS score
        |FROM r WHERE anytf > 0
        |ORDER BY ROUND(score, 6) DESC, doc_id
        |LIMIT 10""") { (s, d) =>
      import graft.text.Phrase
      val terms = Seq("hash", "scan", "window")
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("w"))
        .filter(size(col("w")) > 0)
        .localCheckpoint() // feeds both batch builds and the dl sidecar
      val dir = graft.GatedQuery.indexScratch(d, "bm25_index_q218")
      val (b1, b2) = (toks.filter(col("doc_id") % 2 === 0),
        toks.filter(col("doc_id") % 2 =!= 0))
      Phrase.writeIndex(b1, "doc_id", "w", s"$dir/post", nBuckets = 64)
      Phrase.appendToIndex(b2, "doc_id", "w", s"$dir/post", nBuckets = 64)
      def dlOf(b: org.apache.spark.sql.DataFrame) =
        b.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
      dlOf(b1).write.mode("overwrite").parquet(s"$dir/docs")
      dlOf(b2).write.mode("append").parquet(s"$dir/docs")
      // corpus stats re-derived from the appended KB-scale sidecar
      s.read.parquet(s"$dir/docs")
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
        .write.mode("overwrite").parquet(s"$dir/corpus")
      // probe: the SAME single implementation q197 serves from — batch
      // boundaries must be invisible to scoring
      bm25IndexProbe(s, dir, terms)
    },

    // ---- Mergeable Misra-Gries summary (operators/MgSummary): the
    //      frequent-items entry on the sketch shelf. The single-batch
    //      build (exact counts → one MG compression, deterministic
    //      tie-break on (c desc, item)) is fully SQL-expressible, so the
    //      gate is EXACT: both engines must keep the same ≤ k counters
    //      with the same post-subtraction values and the same group
    //      totals. The streaming fold (FrequentItemsMaintenance) and the
    //      PODS'12 merge bound are pinned in FrequentItemsSpec. Scale:
    //      the exact-counts agg is the only pass over the data; the
    //      compression windows run over ≤ distinct-items rows, and state
    //      is groups × (k+1) rows forever. ----
    gated("q124_mg_summary",
      """WITH counts AS (SELECT event_type AS grp, user_id AS item, COUNT(*) AS c
        |                FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type AS tgrp, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM events GROUP BY 1),
        |rk AS (SELECT grp, item, c,
        |         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY c DESC, item) AS rk
        |       FROM counts),
        |s AS (SELECT grp AS sgrp, MAX(CASE WHEN rk = 9 THEN c ELSE 0 END) AS s
        |      FROM rk GROUP BY 1)
        |SELECT rk.grp, rk.item, CAST(rk.c - s.s AS BIGINT) AS c, tot.n
        |FROM rk JOIN s ON rk.grp = s.sgrp JOIN tot ON rk.grp = tot.tgrp
        |WHERE rk.rk <= 8 AND rk.c > s.s
        |ORDER BY grp, item""") { (s, d) =>
      import graft.operators.MgSummary
      val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
      MgSummary.candidates(MgSummary.build(ev, "event_type", "user_id", 8))
        .orderBy("grp", "item")
    },

    // ---- 2D skyline / Pareto front (operators/Skyline): parts on the
    //      cheapest-price-for-largest-size frontier. The ORACLE runs the
    //      textbook quadratic NOT EXISTS dominance join; the engine runs
    //      the Kung '75 sort + strict-prefix-max collapse (two-level,
    //      never a single-task window) — two formulations of the same
    //      semantics, agreeing row-for-row. Duplicate points survive
    //      together (no strict dominance between equals). ----
    gated("q138_skyline",
      """SELECT p_partkey, CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) AS price,
        |       CAST(p_size AS BIGINT) AS size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_partkey""") { (s, d) =>
      import graft.operators.Skyline
      Skyline.pareto2(Tables.part(s, d), "p_retailprice", "p_size")
        .select(col("p_partkey"),
          decStr(col("p_retailprice")).as("price"),
          col("p_size").cast("long").as("size"))
        .orderBy("p_partkey")
    },

    // ---- Deterministic stratified sampling: k=5 per stratum by md5
    //      priority — the train/eval split primitive. md5 is the ONE
    //      hash both engines share bit-for-bit (the q103 sharding
    //      trick), so the sample is reproducible across engines, runs,
    //      and cluster sizes — a rand() sample is none of those. Scale:
    //      rank-within-stratum becomes WindowGroupLimit (top-k per
    //      group, no full sort materialization); sampling 10^9 rows per
    //      stratum still moves only k winners past the partial limit. ----
    gated("q153_stratified_sample",
      """SELECT event_type, event_id, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT event_type, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |             ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
        |  FROM events)
        |WHERE rk <= 5 ORDER BY event_type, rk""") { (s, d) =>
      val w = Window.partitionBy("event_type")
        .orderBy(md5(col("event_id").cast("string")), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy("event_type", "rk")
    },

    // ---- Contribution analysis: each event_type's share of its day's
    //      total in exact basis points — the percent-of-total reporting
    //      staple. The share is a windowed total (partition by day), so
    //      ONE exchange serves both the group sums and the denominators;
    //      truncating division agrees cross-engine on negative days. ----
    gated("q162_contribution",
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                      CAST(SUM(CAST(trunc(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS y
        |               FROM events GROUP BY 1, 2),
        |t AS (SELECT day, CAST(SUM(y) AS BIGINT) AS tot FROM daily GROUP BY day)
        |SELECT d.event_type, CAST(d.day AS VARCHAR) AS day, d.y,
        |       CAST((10000 * d.y) // t.tot AS BIGINT) AS share_bp
        |FROM daily d JOIN t ON d.day = t.day
        |WHERE t.tot <> 0
        |ORDER BY day, d.event_type""") { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(expr("CAST(CAST(value AS DOUBLE) * 100 AS BIGINT)")).as("y"))
      daily
        .withColumn("tot", sum(col("y")).over(Window.partitionBy("day")))
        .filter(col("tot") =!= 0)
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("y"), expr("(10000 * y) div tot").as("share_bp"))
        .orderBy("day", "event_type")
    },

    // ---- Period-over-period: weekly totals with the week-over-week
    //      delta in basis points — lag over the calendar-bounded weekly
    //      relation (a handful of rows at ANY corpus size, so the global
    //      window is weeks-bounded, never data-bounded). ----
    gated("q163_wow_delta",
      """WITH m AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
        |                  CAST(SUM(CAST(trunc(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS y
        |           FROM events GROUP BY 1)
        |SELECT CAST(wk AS VARCHAR) AS wk, y,
        |       LAG(y) OVER (ORDER BY wk) AS prev,
        |       CAST(CASE WHEN LAG(y) OVER (ORDER BY wk) <> 0
        |            THEN (10000 * (y - LAG(y) OVER (ORDER BY wk)))
        |                 // LAG(y) OVER (ORDER BY wk) END AS BIGINT) AS delta_bp
        |FROM m ORDER BY wk""") { (s, d) =>
      val w = Window.orderBy("wk")
      Tables.events(s, d)
        .groupBy(date_format(to_date(date_trunc("week", col("ts"))), "yyyy-MM-dd").as("wk"))
        .agg(sum(expr("CAST(CAST(value AS DOUBLE) * 100 AS BIGINT)")).as("y"))
        .withColumn("prev", lag(col("y"), 1).over(w))
        .withColumn("delta_bp",
          when(col("prev") =!= 0, expr("(10000 * (y - prev)) div prev")))
        .orderBy("wk")
    },

    // ---- Cohort retention matrix: users grouped by first-active ISO
    //      PURCHASE week (the cohort — first-purchase dates spread
    //      across the calendar where first-activity does not), counted
    //      distinct per (cohort, activity week) — the onboarding-health
    //      heatmap. Both engines truncate
    //      to Monday weeks; the min-week cohort join is user-keyed (one
    //      exchange), the matrix is |weeks|² cells at any data size. ----
    gated("q164_cohort_matrix",
      """WITH wk AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, MIN(w) AS cohort FROM wk GROUP BY user_id)
        |SELECT CAST(c.cohort AS VARCHAR) AS cohort, CAST(wk.w AS VARCHAR) AS week,
        |       CAST(COUNT(DISTINCT wk.user_id) AS BIGINT) AS active
        |FROM wk JOIN c ON wk.user_id = c.user_id
        |GROUP BY c.cohort, wk.w ORDER BY cohort, week""") { (s, d) =>
      val wk = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("w"))
      val c = wk.groupBy("user_id").agg(min(col("w")).as("cohort"))
      wk.join(c, "user_id")
        .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          date_format(col("w"), "yyyy-MM-dd").as("week"))
        .agg(countDistinct(col("user_id")).as("active"))
        .orderBy("cohort", "week")
    },

    // ---- Hierarchical contribution: each nation's share of its
    //      REGION's customer balance in exact basis points — the
    //      percent-of-parent drill-down every OLAP hierarchy serves.
    //      Cents are per-row truncated integers (the proven q139
    //      pattern); the region totals reuse the nation relation
    //      (dimension-bounded), broadcastable everywhere. ----
    gated("q169_hierarchy_share",
      """WITH cn AS (SELECT n.n_regionkey AS rk, n.n_name AS nation,
        |                   CAST(SUM(CAST(trunc(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS cents
        |            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |            GROUP BY 1, 2),
        |r AS (SELECT rk, CAST(SUM(cents) AS BIGINT) AS rtot FROM cn GROUP BY rk)
        |SELECT reg.r_name AS region, cn.nation, cn.cents,
        |       CAST((10000 * cn.cents) // r.rtot AS BIGINT) AS share_bp
        |FROM cn JOIN r ON cn.rk = r.rk
        |JOIN region reg ON cn.rk = reg.r_regionkey
        |WHERE r.rtot <> 0
        |ORDER BY region, nation""") { (s, d) =>
      val cn = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey").as("rk"), col("n_name").as("nation"))
        .agg(sum(expr("CAST(CAST(c_acctbal AS DOUBLE) * 100 AS BIGINT)"))
          .as("cents"))
      val r = cn.groupBy("rk").agg(sum(col("cents")).as("rtot"))
      cn.join(broadcast(r), "rk")
        .join(broadcast(Tables.region(s, d)),
          col("rk") === col("r_regionkey"))
        .filter(col("rtot") =!= 0)
        .select(col("r_name").as("region"), col("nation"), col("cents"),
          expr("(10000 * cents) div rtot").as("share_bp"))
        .orderBy("region", "nation")
    },

    // ---- Per-dimension embedding statistics: exact median and mean of
    //      every dimension in micro-units — the drift/collapse audit a
    //      vector pipeline runs per embedding build (a dimension whose
    //      median pins to 0 is dead; a shifted mean flags a model
    //      version mix). posexplode keeps (dim, value) rows — d·N rows
    //      but only d groups, partial-aggregated; the median rank
    //      window partitions by dim, so all 64 sorts parallelize. ----
    gated("q170_embedding_dim_stats",
      """WITH x AS (SELECT dim, CAST(trunc(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS mu
        |           FROM (SELECT unnest(embedding) AS v,
        |                        generate_subscripts(embedding, 1) AS dim
        |                 FROM embeddings) u),
        |r AS (SELECT dim, mu, ROW_NUMBER() OVER (PARTITION BY dim ORDER BY mu) AS rn,
        |             COUNT(*) OVER (PARTITION BY dim) AS n
        |      FROM x)
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(MAX(n) AS BIGINT) AS n,
        |       MAX(CASE WHEN rn = (n+1)//2 THEN mu END) AS p50_micro,
        |       CAST(SUM(mu) // MAX(n) AS BIGINT) AS mean_micro
        |FROM r GROUP BY dim ORDER BY dim""") { (s, d) =>
      val x = Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .select((col("pos") + 1).as("dim"),
          expr("CAST(CAST(v AS DOUBLE) * 1000000 AS BIGINT)").as("mu"))
      val w = Window.partitionBy("dim").orderBy("mu")
      x.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("dim")))
        .groupBy("dim")
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("mu"))).as("p50_micro"),
          expr("sum(mu) div max(n)").as("mean_micro"))
        .select(col("dim").cast("long"), col("n"), col("p50_micro"),
          col("mean_micro"))
        .orderBy("dim")
    },

    // ---- EXACT weighted median: the smallest value whose cumulative
    //      weight reaches half the total — quantity-weighted price per
    //      return flag (a price's influence ∝ units moved, the
    //      inventory-valuation form unweighted medians misstate). The
    //      crossing row is tie-invariant (rows of equal value are
    //      contiguous under the sort, so whichever of them crosses, the
    //      SELECTED value is the same); weights and values are per-row
    //      truncated integers, the compare is 2·cw ≥ tw — no division
    //      at all. ----
    gated("q171_weighted_median",
      """WITH c AS (SELECT l_returnflag AS g, l_orderkey AS ok, l_linenumber AS ln,
        |                  CAST(trunc(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS v,
        |                  CAST(trunc(CAST(l_quantity AS DOUBLE)) AS BIGINT) AS w
        |           FROM lineitem),
        |r AS (SELECT g, v,
        |             SUM(w) OVER (PARTITION BY g ORDER BY v, ok, ln
        |                          ROWS UNBOUNDED PRECEDING) AS cw,
        |             SUM(w) OVER (PARTITION BY g) AS tw
        |      FROM c)
        |SELECT g, CAST(MIN(CASE WHEN 2 * cw >= tw THEN v END) AS BIGINT) AS wmedian_cents,
        |       CAST(MAX(tw) AS BIGINT) AS total_weight
        |FROM r GROUP BY g ORDER BY g""") { (s, d) =>
      val cw = Window.partitionBy("g").orderBy("v", "ok", "ln")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("g")
      Tables.lineitem(s, d)
        .select(col("l_returnflag").as("g"), col("l_orderkey").as("ok"),
          col("l_linenumber").as("ln"),
          expr("CAST(CAST(l_extendedprice AS DOUBLE) * 100 AS BIGINT)").as("v"),
          expr("CAST(CAST(l_quantity AS DOUBLE) AS BIGINT)").as("w"))
        .withColumn("cw", sum(col("w")).over(cw))
        .withColumn("tw", sum(col("w")).over(tw))
        .groupBy("g")
        .agg(min(when(lit(2) * col("cw") >= col("tw"), col("v")))
          .as("wmedian_cents"),
          max(col("tw")).as("total_weight"))
        .orderBy("g")
    },

    // ---- Gini concentration coefficient, exact rationals: over each
    //      event_type's per-user spend totals, G = (2·Σ i·xᵢ) /
    //      (n·Σx) − (n+1)/n for ascending-sorted xᵢ — reported as the
    //      integer numerator/denominator pair num = n·(2·Σ i·xᵢ −
    //      (n+1)·Σx), den = n²·Σx, plus the ppm quotient (through
    //      HUGEINT/DECIMAL — 10⁶·num overflows int64). Tie-safe: a run
    //      of equal x contributes x·Σi whatever the intra-run order. The
    //      inequality audit (is one user dominating the spend?) every
    //      abuse/quality pipeline tracks. ----
    gated("q172_gini",
      """WITH ux AS (SELECT event_type, user_id,
        |                   CAST(SUM(CAST(trunc(CAST(value AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS x
        |            FROM events WHERE value >= 0 GROUP BY 1, 2),
        |r AS (SELECT event_type, x,
        |             ROW_NUMBER() OVER (PARTITION BY event_type
        |                                ORDER BY x, user_id) AS i
        |      FROM ux),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(x) AS BIGINT) AS sx,
        |             CAST(SUM(i * x) AS BIGINT) AS six
        |      FROM r GROUP BY event_type)
        |SELECT event_type, n,
        |       CAST(n * (2 * six - (n + 1) * sx) AS BIGINT) AS num,
        |       CAST(n * n * sx AS BIGINT) AS den,
        |       CAST((CAST(1000000 AS HUGEINT) * (n * (2 * six - (n + 1) * sx))) // (n * n * sx) AS BIGINT) AS gini_ppm
        |FROM g WHERE sx > 0 ORDER BY event_type""") { (s, d) =>
      val ux = Tables.events(s, d)
        .filter(col("value") >= 0)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(expr("CAST(CAST(value AS DOUBLE) * 100 AS BIGINT)")).as("x"))
      val w = Window.partitionBy("event_type").orderBy("x", "user_id")
      ux.withColumn("i", row_number().over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(expr("i * x")).as("six"))
        .filter(col("sx") > 0)
        .select(col("event_type"), col("n"),
          expr("n * (2 * six - (n + 1) * sx)").as("num"),
          expr("n * n * sx").as("den"),
          expr("(CAST(1000000 AS DECIMAL(38,0)) * (n * (2 * six - (n + 1) * sx))) div (n * n * sx)")
            .as("gini_ppm"))
        .orderBy("event_type")
    },

    // ---- Behavioral diversity, log-free: the Gini–Simpson index
    //      1 − Σpᵢ² per user over event-type shares, as the exact ppm
    //      rational 10⁶·(n² − Σcᵢ²) div n² (an entropy would need logs
    //      and floats; Simpson diversity carries the same "is this user
    //      a one-note bot" signal in pure integers, HUGEINT/DECIMAL on
    //      the scaled product). 0 = all one type, → 1 = uniform. ----
    gated("q173_diversity",
      """WITH c AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
        |             CAST(SUM(c * c) AS BIGINT) AS s2
        |      FROM c GROUP BY user_id)
        |SELECT user_id, n,
        |       CAST((CAST(1000000 AS HUGEINT) * (n * n - s2)) // (n * n) AS BIGINT) AS diversity_ppm
        |FROM u ORDER BY user_id""") { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum(col("c")).as("n"), sum(expr("c * c")).as("s2"))
        .select(col("user_id"), col("n"),
          expr("(CAST(1000000 AS DECIMAL(38,0)) * (n * n - s2)) div (n * n)")
            .as("diversity_ppm"))
        .orderBy("user_id")
    },

    // ---- Longest same-type streak per user — the gaps-and-islands
    //      pattern (rn − per-type rn is constant exactly within a
    //      consecutive run): max streak length and its event type, ties
    //      to the lexicographically first type. Sequential-looking but
    //      fully relational: two rank windows + one aggregate, all
    //      partitioned by user — no fold, no collect. ----
    gated("q174_longest_streak",
      """WITH s AS (SELECT user_id, event_type,
        |             ROW_NUMBER() OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS rn,
        |             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                                ORDER BY ts, event_id) AS rnt
        |           FROM events),
        |g AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS len
        |      FROM s GROUP BY user_id, event_type, rn - rnt),
        |r AS (SELECT user_id, event_type, len,
        |             ROW_NUMBER() OVER (PARTITION BY user_id
        |                                ORDER BY len DESC, event_type) AS pick
        |      FROM g)
        |SELECT user_id, len AS max_streak, event_type AS streak_type
        |FROM r WHERE pick = 1 ORDER BY user_id""") { (s, d) =>
      val wAll = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wTyp = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      val g = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("isl",
          row_number().over(wAll) - row_number().over(wTyp))
        .groupBy("user_id", "event_type", "isl")
        .agg(count(lit(1)).as("len"))
      val pick = Window.partitionBy("user_id")
        .orderBy(col("len").desc, col("event_type"))
      g.withColumn("pick", row_number().over(pick))
        .filter(col("pick") === 1)
        .select(col("user_id"), col("len").as("max_streak"),
          col("event_type").as("streak_type"))
        .orderBy("user_id")
    },

    // ---- A/B experiment readout: users assigned to variants by the
    //      same md5-prefix mechanism as the q63 corpus split (assignment
    //      is a pure function of user_id — reproducible across engines,
    //      runs, and backfills, the property ad-hoc RAND() splits lack),
    //      conversion = any purchase event. Rates and the treatment
    //      delta in exact basis points (truncating div both engines).
    //      Scale: one agg keyed on user_id, then a 2-row fold — the
    //      standard experimentation funnel shape, no window. ----
    gated("q177_ab_lift",
      """WITH u AS (SELECT user_id,
        |             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |                  THEN 'A' ELSE 'B' END AS v,
        |             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(conv) AS BIGINT) AS c
        |      FROM u GROUP BY v)
        |SELECT a.n AS a_users, a.c AS a_conv,
        |       CAST((10000 * a.c) // a.n AS BIGINT) AS a_cvr_bp,
        |       b.n AS b_users, b.c AS b_conv,
        |       CAST((10000 * b.c) // b.n AS BIGINT) AS b_cvr_bp,
        |       CAST((10000 * b.c) // b.n - (10000 * a.c) // a.n AS BIGINT) AS delta_bp
        |FROM g a CROSS JOIN g b WHERE a.v = 'A' AND b.v = 'B'""") { (s, d) =>
      val u = Tables.events(s, d)
        .select(col("user_id"),
          when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            lit("A")).otherwise(lit("B")).as("v"),
          col("event_type"))
        .groupBy("user_id", "v")
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("conv"))
      val g = u.groupBy("v")
        .agg(cntLong.as("n"), sum(col("conv")).cast("long").as("c"))
      val a = g.filter(col("v") === "A")
        .select(col("n").as("a_users"), col("c").as("a_conv"),
          expr("(10000 * c) div n").as("a_cvr_bp"))
      val b = g.filter(col("v") === "B")
        .select(col("n").as("b_users"), col("c").as("b_conv"),
          expr("(10000 * c) div n").as("b_cvr_bp"))
      a.crossJoin(b)
        .withColumn("delta_bp", col("b_cvr_bp") - col("a_cvr_bp"))
    },

    // ---- NTILE quartile banding (the one ranking-window member q16
    //      didn't cover): customers banded into account-balance
    //      quartiles within their market segment, then per-band
    //      aggregates — the "which quartile is my customer in" readout
    //      behind tiering and credit policy. Both engines implement the
    //      standard NTILE (first n mod k buckets take the extra row), so
    //      the gate is exact once the intra-band order is total
    //      ((cents, custkey)). Balances truncate to integer cents (q171
    //      idiom — negative acctbals exist, and CAST rounds in DuckDB).
    //      Scale: one window exchange on the segment key + one agg. ----
    gated("q178_ntile_bands",
      """WITH c AS (SELECT c_mktsegment AS seg, c_custkey AS ck,
        |             CAST(trunc(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT) AS cents
        |           FROM customer),
        |q AS (SELECT seg, cents,
        |        NTILE(4) OVER (PARTITION BY seg ORDER BY cents, ck) AS quartile
        |      FROM c)
        |SELECT seg, quartile, CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(cents) AS lo_cents, MAX(cents) AS hi_cents,
        |       CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM q GROUP BY seg, quartile ORDER BY seg, quartile""") { (s, d) =>
      val c = Tables.customer(s, d)
        .select(col("c_mktsegment").as("seg"), col("c_custkey").as("ck"),
          expr("CAST(CAST(c_acctbal AS DOUBLE) * 100 AS BIGINT)").as("cents"))
      val w = Window.partitionBy("seg").orderBy("cents", "ck")
      c.withColumn("quartile", ntile(4).over(w))
        .groupBy("seg", "quartile")
        .agg(cntLong.as("n"), min(col("cents")).as("lo_cents"),
          max(col("cents")).as("hi_cents"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .orderBy("seg", "quartile")
    },

    // ---- Data-quality audit (deequ/dbt-test semantics as one
    //      operator): a fixed check suite — duplicate primary keys,
    //      null foreign keys, range violations, FK orphans — each
    //      reported as (check, n_violations, n_checked). Violations are
    //      PLANTED (a duplicated min-key order, one NULL-custkey
    //      negative-price order, one orphaned lineitem key) so every
    //      check is provably non-vacuous on both engines, the q64/q77
    //      discipline. Scale: dup/null/range checks are one agg pass
    //      each over the audited relation; the orphan check is a
    //      left-anti join on the key — no check materializes violation
    //      ROWS (counts only), which is what lets the suite run inline
    //      on every ingest batch. ----
    gated("q180_dq_audit",
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(trunc(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |           FROM orders),
        |po AS (SELECT * FROM o
        |       UNION ALL SELECT o_orderkey, o_custkey, cents FROM o
        |         WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM o)
        |       UNION ALL SELECT -1, NULL, -500),
        |pl AS (SELECT l_orderkey FROM lineitem UNION ALL SELECT -999),
        |c1 AS (SELECT 'dup_orderkey' AS check_name,
        |         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations,
        |         CAST(COUNT(*) AS BIGINT) AS n_checked FROM po),
        |c2 AS (SELECT 'negative_totalprice',
        |         CAST(SUM(CASE WHEN cents < 0 THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT) FROM po),
        |c3 AS (SELECT 'null_custkey',
        |         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT) FROM po),
        |c4 AS (SELECT 'orphan_lineitem',
        |         CAST(SUM(CASE WHEN pk.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT)
        |       FROM pl LEFT JOIN (SELECT DISTINCT o_orderkey FROM po) pk
        |         ON pl.l_orderkey = pk.o_orderkey)
        |SELECT * FROM c1 UNION ALL SELECT * FROM c2
        |UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4
        |ORDER BY check_name""") { (s, d) =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(CAST(o_totalprice AS DOUBLE) * 100 AS BIGINT)").as("cents"))
      val dupSeed = o.join(
        broadcast(o.agg(min(col("o_orderkey")).as("mk"))),
        col("o_orderkey") === col("mk")).drop("mk")
      val badRow = s.range(1).select(lit(-1L).as("o_orderkey"),
        lit(null).cast(o.schema("o_custkey").dataType).as("o_custkey"),
        lit(-500L).as("cents"))
      val po = o.unionByName(dupSeed).unionByName(badRow)
      val pl = Tables.lineitem(s, d).select(col("l_orderkey"))
        .unionByName(s.range(1).select(lit(-999L).as("l_orderkey")))
      def check(name: String, viol: org.apache.spark.sql.Column,
                over: org.apache.spark.sql.DataFrame) =
        over.agg(viol.cast("long").as("n_violations"),
            cntLong.as("n_checked"))
          .select(lit(name).as("check_name"), col("n_violations"),
            col("n_checked"))
      val orphans = pl.join(po.select(col("o_orderkey").as("pk")).distinct(),
          col("l_orderkey") === col("pk"), "left")
        .agg(sum(when(col("pk").isNull, 1L).otherwise(0L)).as("nv"),
          cntLong.as("n_checked"))
        .select(lit("orphan_lineitem").as("check_name"),
          col("nv").cast("long").as("n_violations"), col("n_checked"))
      check("dup_orderkey",
        count(lit(1)) - countDistinct(col("o_orderkey")), po)
        .unionByName(check("negative_totalprice",
          sum(when(col("cents") < 0, 1L).otherwise(0L)), po))
        .unionByName(check("null_custkey",
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)), po))
        .unionByName(orphans)
        .orderBy("check_name")
    },

    // ---- Burst detection: each user's PEAK 1-hour event count — a
    //      sliding scan statistic via a RANGE frame over epoch micros
    //      (frame = [t − 1h + 1µs, t], peers included identically on
    //      both engines since RANGE bounds are value-defined). The
    //      rate-limit/abuse primitive next to q174's streaks: streaks
    //      measure persistence, bursts measure intensity. Scale: one
    //      exchange on user_id, per-user sort window (user histories
    //      are user-bounded); top-20 is TakeOrdered, no global sort. ----
    gated("q181_burst",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS um FROM events),
        |c AS (SELECT user_id,
        |        COUNT(*) OVER (PARTITION BY user_id ORDER BY um
        |          RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS c1h
        |      FROM e)
        |SELECT user_id, CAST(MAX(c1h) AS BIGINT) AS peak_1h,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM c GROUP BY user_id
        |ORDER BY peak_1h DESC, user_id LIMIT 20""") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("um")
        .rangeBetween(-3599999999L, 0)
      Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("um"))
        .withColumn("c1h", count(lit(1)).over(w))
        .groupBy("user_id")
        .agg(max(col("c1h")).as("peak_1h"), cntLong.as("n_events"))
        .orderBy(col("peak_1h").desc, col("user_id"))
        .limit(20)
    },

    // ---- Three-step SEQUENTIAL funnel (q80's two-step generalized,
    //      the report form of q161's pattern automaton): users whose
    //      first signup is followed by a click STRICTLY after it,
    //      followed by a purchase strictly after that click —
    //      first-occurrence semantics per stage, so each stage is a
    //      conditional MIN against the previous stage's timestamp, not
    //      a pattern over the whole history. Stage-over-stage
    //      conversion in exact basis points. Scale: one agg + one join
    //      per stage, all keyed on user_id — a fixed number of
    //      user-keyed exchanges regardless of history length (the
    //      all-pairs "events after events" join never forms). ----
    gated("q184_funnel3",
      """WITH u1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |u2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |       JOIN u1 ON e.user_id = u1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > u1.t1 GROUP BY 1),
        |u3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |       JOIN u2 ON e.user_id = u2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > u2.t2 GROUP BY 1)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM u1) AS n_signup,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM u2) AS n_click,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM u3) AS n_purchase,
        |       CAST((10000 * (SELECT COUNT(*) FROM u2))
        |            // (SELECT COUNT(*) FROM u1) AS BIGINT) AS click_bp,
        |       CAST((10000 * (SELECT COUNT(*) FROM u3))
        |            // (SELECT COUNT(*) FROM u2) AS BIGINT) AS purchase_bp""") { (s, d) =>
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
        col("ts"))
      val u1 = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val u2 = e.filter(col("event_type") === "click")
        .join(u1, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val u3 = e.filter(col("event_type") === "purchase")
        .join(u2, "user_id").filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      u1.agg(cntLong.as("n_signup"))
        .crossJoin(u2.agg(cntLong.as("n_click")))
        .crossJoin(u3.agg(cntLong.as("n_purchase")))
        .select(col("n_signup"), col("n_click"), col("n_purchase"),
          expr("(10000 * n_click) div n_signup").as("click_bp"),
          expr("(10000 * n_purchase) div n_click").as("purchase_bp"))
    },

    // ---- Rolling 7-day actives (WAU) + DAU/WAU stickiness: the
    //      windowed-DISTINCT aggregate — non-decomposable (distinct
    //      doesn't sum across days), so each (day, user) activity row
    //      fans out to the ≤7 window ends it supports and one exact
    //      distinct per day folds the union; active days only (both
    //      engines derive the same calendar from the data). Stickiness
    //      = DAU/WAU in exact basis points. Scale: the fan-out is a
    //      map-side ×7 on the (day, user) DISTINCT relation (already
    //      collapsed from raw events), then one distinct agg keyed on
    //      day — no day×day self-join, no global window; the 100 TB
    //      form would swap the exact distinct for q115's HLL fold,
    //      same fan-out. ----
    gated("q185_wau",
      """WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events),
        |cal AS (SELECT DISTINCT d FROM du),
        |w AS (SELECT cal.d AS day, du.user_id FROM cal
        |      JOIN du ON du.d BETWEEN cal.d - INTERVAL 6 DAY AND cal.d),
        |r AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        |      FROM w GROUP BY day),
        |dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY d)
        |SELECT strftime(r.day, '%Y-%m-%d') AS day, dau.dau, r.wau,
        |       CAST((10000 * dau.dau) // r.wau AS BIGINT) AS stickiness_bp
        |FROM r JOIN dau ON dau.day = r.day ORDER BY day""") { (s, d) =>
      val du = Tables.events(s, d)
        .select(date_trunc("day", col("ts")).as("d"), col("user_id"))
        .distinct()
      val cal = du.select(col("d").as("day")).distinct()
      val contrib = du
        .select(col("user_id"), col("d"),
          explode(sequence(lit(0), lit(6))).as("o"))
        .select(col("user_id"), expr("timestampadd(DAY, o, d)").as("day"))
        .join(cal, "day")
      val wau = contrib.distinct().groupBy("day").agg(cntLong.as("wau"))
      val dau = du.groupBy(col("d").as("day")).agg(cntLong.as("dau"))
      wau.join(dau, "day")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"),
          expr("(10000 * dau) div wau").as("stickiness_bp"))
        .orderBy("day")
    },

    // ---- Degree distribution in exact power-of-two buckets: the
    //      supplier→part bipartite graph's out- and in-degree
    //      histograms — the first thing to check before ANY graph
    //      algorithm runs at scale (a power-law tail is what makes
    //      q127's self-join skew-sensitive). Bucket = floor(log2 d)
    //      computed EXACTLY as length(bin(d)) − 1 (both engines format
    //      the same binary string; no float log anywhere). Scale: one
    //      distinct + one agg per side, histogram is bucket-bounded. ----
    gated("q186_degree_dist",
      """WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
        |ds AS (SELECT 'supplier' AS side, s AS node, CAST(COUNT(*) AS BIGINT) AS deg
        |       FROM e GROUP BY s),
        |dp AS (SELECT 'part' AS side, p AS node, CAST(COUNT(*) AS BIGINT) AS deg
        |       FROM e GROUP BY p),
        |u AS (SELECT * FROM ds UNION ALL SELECT * FROM dp)
        |SELECT side, CAST(LENGTH(bin(deg)) - 1 AS BIGINT) AS log2_bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |       MIN(deg) AS min_deg, MAX(deg) AS max_deg
        |FROM u GROUP BY side, log2_bucket
        |ORDER BY side, log2_bucket""") { (s, d) =>
      val e = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
        .distinct()
      val ds = e.groupBy(col("s").as("node")).agg(cntLong.as("deg"))
        .select(lit("supplier").as("side"), col("deg"))
      val dp = e.groupBy(col("p").as("node")).agg(cntLong.as("deg"))
        .select(lit("part").as("side"), col("deg"))
      ds.unionByName(dp)
        .select(col("side"),
          (length(bin(col("deg"))) - 1).cast("long").as("log2_bucket"),
          col("deg"))
        .groupBy("side", "log2_bucket")
        .agg(cntLong.as("n_nodes"), min(col("deg")).as("min_deg"),
          max(col("deg")).as("max_deg"))
        .orderBy("side", "log2_bucket")
    },

    // ---- Kendall rank stability: is this month's popularity ranking
    //      still last month's? Exact tau-a between the pre-1998 and
    //      1998+ shipment rankings of the top-100 parts — concordant
    //      minus discordant pairs over all pairs, the distribution-free
    //      answer to "did the catalog's head reshuffle". Ranks use the
    //      deterministic (count DESC, partkey) total order, so both are
    //      tie-free permutations and tau-a needs no tie correction;
    //      tau_ppm divides with the truncating div both engines share
    //      (sign-symmetric for negative tau). Scale: the per-part counts
    //      are one partial-aggregated groupBy; the head is TakeOrdered
    //      to a POLICY-bounded 100 items (rank stability is a head
    //      metric — tail ranks are noise); the rank windows and the
    //      4,950-pair self-join run on those 100 rows, broadcast, never
    //      on the part dimension. ----
    gated("q202_rank_stability",
      """WITH c AS (SELECT l_partkey AS pk,
        |    CAST(COUNT(*) FILTER (WHERE l_shipdate <  TIMESTAMP '1998-01-01') AS BIGINT) AS ca,
        |    CAST(COUNT(*) FILTER (WHERE l_shipdate >= TIMESTAMP '1998-01-01') AS BIGINT) AS cb,
        |    COUNT(*) AS ct
        |  FROM lineitem GROUP BY 1),
        |top AS MATERIALIZED (SELECT pk, ca, cb FROM c ORDER BY ct DESC, pk LIMIT 100),
        |r AS MATERIALIZED (SELECT pk,
        |    ROW_NUMBER() OVER (ORDER BY ca DESC, pk) AS ra,
        |    ROW_NUMBER() OVER (ORDER BY cb DESC, pk) AS rb FROM top),
        |p AS (SELECT
        |    CAST(COUNT(*) FILTER (WHERE (x.ra - y.ra) * (x.rb - y.rb) > 0) AS BIGINT) AS conc,
        |    CAST(COUNT(*) FILTER (WHERE (x.ra - y.ra) * (x.rb - y.rb) < 0) AS BIGINT) AS disc,
        |    CAST(COUNT(*) AS BIGINT) AS pairs
        |  FROM r x JOIN r y ON x.pk < y.pk)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_items, conc, disc,
        |       CAST((1000000 * (conc - disc)) // pairs AS BIGINT) AS tau_ppm
        |FROM p""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val cut = lit("1998-01-01").cast("timestamp")
      val top = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("pk"))
        .agg(count(when(col("l_shipdate") < cut, 1)).as("ca"),
          count(when(col("l_shipdate") >= cut, 1)).as("cb"),
          cntLong.as("ct"))
        .orderBy(col("ct").desc, col("pk")).limit(100)
      // single-partition windows + self-join over the 100-row head only
      val r = top
        .withColumn("ra", row_number().over(
          Window.orderBy(col("ca").desc, col("pk"))))
        .withColumn("rb", row_number().over(
          Window.orderBy(col("cb").desc, col("pk"))))
        .select(col("pk"), col("ra"), col("rb"))
        .localCheckpoint() // feeds the join's both sides AND n_items
      val y = r.select(col("pk").as("pk2"), col("ra").as("ra2"),
        col("rb").as("rb2"))
      val conc = (col("ra") - col("ra2")) * (col("rb") - col("rb2"))
      r.join(broadcast(y), col("pk") < col("pk2"))
        .agg(count(when(conc > 0, 1)).as("conc"),
          count(when(conc < 0, 1)).as("disc"),
          cntLong.as("pairs"))
        .crossJoin(broadcast(r.agg(cntLong.as("n_items"))))
        .select(col("n_items"), col("conc"), col("disc"),
          expr("(1000000 * (conc - disc)) div pairs").as("tau_ppm"))
    },

    // ---- Seasonal-naive forecast backtest (MASE-lite): per event
    //      type, the absolute error of the "same day last week"
    //      forecast vs the "yesterday" naive over every day where both
    //      references exist — mase_ppm < 1e6 means weekly seasonality
    //      beats persistence and a seasonal model is worth training.
    //      Calendar-aware by construction: references join on day
    //      arithmetic, so a missing day drops the row instead of
    //      silently sliding the lag (the row-lag trap). All errors are
    //      integer counts; the ratio is one truncating div. Scale: one
    //      partial-aggregated daily rollup, then two self-equi-joins on
    //      (type, day) — the daily relation is calendar-bounded, tiny
    //      relative to raw events, and AQE broadcasts it. ----
    gated("q207_forecast_backtest",
      """WITH dc AS (SELECT event_type, date_trunc('day', ts) AS d,
        |              CAST(COUNT(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1, 2),
        |j AS (SELECT cur.event_type, cur.c, p1.c AS c1, p7.c AS c7
        |      FROM dc cur
        |      JOIN dc p1 ON p1.event_type = cur.event_type
        |                AND p1.d = cur.d - INTERVAL 1 DAY
        |      JOIN dc p7 ON p7.event_type = cur.event_type
        |                AND p7.d = cur.d - INTERVAL 7 DAY)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |       CAST(SUM(ABS(c - c1)) AS BIGINT) AS naive_err,
        |       CAST(SUM(ABS(c - c7)) AS BIGINT) AS seasonal_err,
        |       CAST((1000000 * SUM(ABS(c - c7))) // SUM(ABS(c - c1)) AS BIGINT)
        |         AS mase_ppm
        |FROM j GROUP BY event_type ORDER BY event_type""") { (s, d) =>
      val dc = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(cntLong.as("c"))
        .localCheckpoint() // feeds cur, p1, p7 — one daily rollup, not 3
      val cur = dc.select(col("event_type"), col("d"), col("c"),
        expr("timestampadd(DAY, -1, d)").as("d1"),
        expr("timestampadd(DAY, -7, d)").as("d7"))
      val p1 = dc.select(col("event_type").as("et1"), col("d").as("pd1"),
        col("c").as("c1"))
      val p7 = dc.select(col("event_type").as("et7"), col("d").as("pd7"),
        col("c").as("c7"))
      cur
        .join(p1, col("event_type") === col("et1") && col("d1") === col("pd1"))
        .join(p7, col("event_type") === col("et7") && col("d7") === col("pd7"))
        .groupBy("event_type")
        .agg(cntLong.as("n_days"),
          sum(abs(col("c") - col("c1"))).as("naive_err"),
          sum(abs(col("c") - col("c7"))).as("seasonal_err"))
        .select(col("event_type"), col("n_days"), col("naive_err"),
          col("seasonal_err"),
          expr("(1000000 * seasonal_err) div naive_err").as("mase_ppm"))
        .orderBy("event_type")
    },

    // ---- Theil–Sen robust trend: per event type, the MEDIAN of all
    //      pairwise day-to-day slopes of the daily count series — the
    //      outlier-resistant answer to "is this metric really growing"
    //      that q140's least-squares line can't give (one spiky day
    //      owns an OLS slope; it moves a median of 253 pair slopes not
    //      at all). Slopes are exact integers ((1e6·Δcount) div Δdays,
    //      truncating div both engines); the median is the lower
    //      order statistic at rank ⌈n/2⌉ — rank ties among equal slope
    //      values can permute rows but never change the value at a
    //      fixed rank. Scale: the pair relation is calendar², per type
    //      — bounded by the day span, not event volume; the rank
    //      window partitions by type over those pairs only. ----
    gated("q209_trend_robust",
      """WITH dc AS (SELECT event_type, date_trunc('day', ts) AS d,
        |              CAST(COUNT(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |        CAST((1000000 * (b.c - a.c)) // date_diff('day', a.d, b.d) AS BIGINT)
        |          AS slope
        |      FROM dc a JOIN dc b ON a.event_type = b.event_type AND a.d < b.d),
        |r AS (SELECT event_type, slope,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rk,
        |        COUNT(*) OVER (PARTITION BY event_type) AS n
        |      FROM p)
        |SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
        |       CAST(slope AS BIGINT) AS med_slope_ppm
        |FROM r WHERE rk = (n + 1) // 2 ORDER BY event_type""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dc = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(cntLong.as("c"))
        .localCheckpoint() // feeds both slope sides — one rollup, not 2
      val a = dc.select(col("event_type"), col("d").as("da"), col("c").as("ca"))
      val b = dc.select(col("event_type").as("et2"), col("d").as("db"),
        col("c").as("cb"))
      val slopes = a.join(b,
          col("event_type") === col("et2") && col("da") < col("db"))
        .select(col("event_type"),
          expr("(1000000 * (cb - ca)) div datediff(db, da)").as("slope"))
      val w = Window.partitionBy("event_type")
      slopes
        .withColumn("rk", row_number().over(w.orderBy(col("slope"))))
        .withColumn("n", count(lit(1)).over(w))
        .filter(col("rk") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("n").as("n_pairs"),
          col("slope").as("med_slope_ppm"))
        .orderBy("event_type")
    },

    // ---- Benford first-digit audit: observed leading-digit shares of
    //      order totals vs Benford's law in exact ppm (the expected
    //      shares are integer constants — ⌊10⁶·log₁₀(1+1/d)⌉, summing
    //      to exactly 10⁶ — so no float log runs in either engine).
    //      The classic fabricated-data / broken-generator screen: a
    //      natural multiplicative process tracks the curve, a uniform
    //      generator (this corpus, deliberately) deviates loudly.
    //      trunc-before-cast pins the Spark/DuckDB double→long edge
    //      (Spark casts truncate, DuckDB casts round). Scale: one scan,
    //      one 9-bucket partial agg, broadcast everything else. ----
    gated("q210_benford",
      """WITH o AS (SELECT substr(CAST(CAST(trunc(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS d
        |           FROM orders),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM o),
        |c AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY d),
        |e(d, exp_ppm) AS (VALUES ('1', 301030), ('2', 176091), ('3', 124939),
        |  ('4', 96910), ('5', 79181), ('6', 66947), ('7', 57992),
        |  ('8', 51153), ('9', 45757))
        |SELECT c.d AS digit, c.n,
        |       CAST((1000000 * c.n) // t.total AS BIGINT) AS obs_ppm,
        |       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
        |       CAST(ABS((1000000 * c.n) // t.total - e.exp_ppm) AS BIGINT) AS dev_ppm
        |FROM c JOIN e ON c.d = e.d CROSS JOIN t ORDER BY digit""") { (s, d) =>
      import s.implicits._
      val benford = Seq("1" -> 301030L, "2" -> 176091L, "3" -> 124939L,
        "4" -> 96910L, "5" -> 79181L, "6" -> 66947L, "7" -> 57992L,
        "8" -> 51153L, "9" -> 45757L).toDF("d", "exp_ppm")
      val o = Tables.orders(s, d)
        .select(substring(col("o_totalprice").cast("long").cast("string"), 1, 1)
          .as("d"))
      val t = o.agg(cntLong.as("total"))
      o.groupBy("d").agg(cntLong.as("n"))
        .join(broadcast(benford), "d")
        .crossJoin(broadcast(t))
        .select(col("d").as("digit"), col("n"),
          expr("(1000000 * n) div total").as("obs_ppm"), col("exp_ppm"),
          abs(expr("(1000000 * n) div total") - col("exp_ppm")).as("dev_ppm"))
        .orderBy("digit")
    },

    // ---- k-anonymity audit: the group-size histogram of the
    //      quasi-identifier (lang, source, 100-char length band) over
    //      the corpus — every row in a group of size k is
    //      re-identifiable to 1-in-k, so the k<5 rows are the
    //      release-blocking mass a privacy review counts first. The
    //      histogram (rather than a single min-k scalar) shows WHERE
    //      the risk lives and what suppression would cost. Scale: one
    //      partial-aggregated groupBy on the quasi-identifier, then a
    //      k-keyed rollup bounded by the distinct group sizes. ----
    gated("q211_k_anonymity",
      """WITH g AS (SELECT lang, source, n_chars // 100 AS band,
        |             CAST(COUNT(*) AS BIGINT) AS k
        |           FROM documents GROUP BY 1, 2, 3)
        |SELECT k AS group_size, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |       CAST(SUM(k) AS BIGINT) AS n_rows,
        |       CAST(CASE WHEN k < 5 THEN 1 ELSE 0 END AS BIGINT) AS at_risk
        |FROM g GROUP BY k ORDER BY group_size""") { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"), expr("n_chars div 100").as("band"))
        .agg(cntLong.as("k"))
        .groupBy(col("k").as("group_size"))
        .agg(cntLong.as("n_groups"), sum(col("k")).as("n_rows"))
        .select(col("group_size"), col("n_groups"), col("n_rows"),
          when(col("group_size") < 5, 1L).otherwise(0L).as("at_risk"))
        .orderBy("group_size")
    },

    // ---- Histogram-driven join-cardinality prediction: price the q127
        //  basket self-join BEFORE running it — the per-key count
    //      histogram predicts the exact pair count (Σ n·(n−1)/2), and
    //      the gate pins prediction == execution. This is the planning
    //      primitive that decides, at 100 TB, whether a self-join is
    //      affordable or needs the q129 blocking treatment: one cheap
    //      partial-aggregated histogram pass instead of discovering the
    //      explosion in flight (the same arithmetic prices ANY equi-join
    //      as Σ cntₐ·cnt_b per key). consistent=1 is part of the gated
    //      output — a hash mismatch means the estimator lied. ----
    gated("q212_join_cardinality",
      """WITH basket AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |h AS (SELECT ok, CAST(COUNT(*) AS BIGINT) AS n FROM basket GROUP BY ok),
        |pred AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |                CAST(SUM((n * (n - 1)) // 2) AS BIGINT) AS predicted
        |         FROM h),
        |act AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual
        |        FROM basket a JOIN basket b ON a.ok = b.ok AND a.pk < b.pk)
        |SELECT n_keys, predicted, actual,
        |       CAST(CASE WHEN predicted = actual THEN 1 ELSE 0 END AS BIGINT)
        |         AS consistent
        |FROM pred CROSS JOIN act""") { (s, d) =>
      val basket = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val pred = basket.groupBy("ok").agg(cntLong.as("n"))
        .agg(cntLong.as("n_keys"),
          sum(expr("(n * (n - 1)) div 2")).as("predicted"))
      val b2 = basket.select(col("ok").as("ok2"), col("pk").as("pk2"))
      val act = basket.join(b2, col("ok") === col("ok2") && col("pk") < col("pk2"))
        .agg(cntLong.as("actual"))
      pred.crossJoin(broadcast(act))
        .select(col("n_keys"), col("predicted"), col("actual"),
          when(col("predicted") === col("actual"), 1L).otherwise(0L)
            .as("consistent"))
    },

    // ---- Small-file compaction planner: the OPTIMIZE-style maintenance
    //      pass every long-running ingest needs — per-trigger streaming
    //      writes leave one file per (table, day) micro-partition, and
    //      scan throughput dies by open-file overhead long before by
    //      bytes. The planner bin-packs the file inventory into
    //      target-sized rewrite buckets: files ordered by partition key
    //      within each table, each file assigned to bucket
    //      floor(start_offset / target) where start_offset is the
    //      EXCLUSIVE byte cumsum — the same offset-based grouping AQE
    //      uses to coalesce shuffle partitions, deterministic and
    //      split-free (a file is never torn across buckets). Each output
    //      row is one rewrite job: contiguous in partition key (so the
    //      rewrite preserves min/max pruning, cf q214) with bytes ≈
    //      target. Scale: the inventory is METADATA — one row per file,
    //      ~millions of rows at 100 TB vs billions of data rows (here
    //      modeled from the events table, sized by payload bytes; in
    //      production it comes from the catalog/file listing for free) —
    //      and the window partitions by table, so planning parallelizes
    //      across tables and never touches data files. ----
    gated("q213_compaction_plan",
      """WITH files AS (SELECT event_type, date_trunc('day', ts) AS day,
        |                 CAST(COUNT(*) AS BIGINT) AS n_rows,
        |                 CAST(SUM(length(props)) AS BIGINT) AS bytes
        |               FROM events GROUP BY 1, 2),
        |off AS (SELECT *, COALESCE(SUM(bytes) OVER (PARTITION BY event_type
        |          ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          0) AS start_off
        |        FROM files)
        |SELECT event_type, CAST(start_off // 4096 AS BIGINT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_files,
        |       CAST(SUM(bytes) AS BIGINT) AS bucket_bytes,
        |       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
        |       strftime(MIN(day), '%Y-%m-%d') AS min_day,
        |       strftime(MAX(day), '%Y-%m-%d') AS max_day
        |FROM off GROUP BY 1, 2 ORDER BY event_type, bucket""") { (s, d) =>
      val files = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(cntLong.as("n_rows"),
          sum(length(col("props")).cast("long")).as("bytes"))
      // assign() runs the exclusive cumsum over the per-table FILE list
      // (30 rows per table here; bounded by files-per-table generally),
      // never over data rows; invariants pinned in OperatorSpec
      graft.operators.CompactionPlan
        .assign(files, "event_type", "day", "bytes", targetBytes = 4096L)
        .groupBy(col("event_type"), col("bucket"))
        .agg(cntLong.as("n_files"), sum(col("bytes")).as("bucket_bytes"),
          sum(col("n_rows")).as("n_rows"),
          date_format(min(col("day")), "yyyy-MM-dd").as("min_day"),
          date_format(max(col("day")), "yyyy-MM-dd").as("max_day"))
        .orderBy("event_type", "bucket")
    },

    // ---- Zone-map pruning audit: data skipping is THE 100 TB lever —
    //      a scan that consults per-file min/max footer stats reads only
    //      the files whose [min, max] range intersects the predicate —
    //      and its effectiveness is purely a function of LAYOUT. The
    //      audit prices the same point predicate under two physical
    //      layouts: 'arrival' (files range-chunked on write order, the
    //      default streaming-ingest layout; key values scatter, so every
    //      chunk's range covers the predicate) vs 'clustered' (files
    //      range-chunked on the predicate key, what repartitionByRange +
    //      sortWithinPartitions before the write produces, cf q99's
    //      z-order key for the multi-dimensional version). chunks_read /
    //      rows_scanned quantify exactly what the clustering buys — the
    //      number a compaction policy (q213) should justify itself with.
    //      Exact integers; rows_matched is layout-invariant (same data)
    //      and pins that pruning never changes the ANSWER, only the I/O.
    //      Scale: each layout's stats come from ONE partial-aggregated
    //      groupBy (in production: free, from parquet footers); the
    //      audit never re-sorts the data. ----
    gated("q214_zonemap_prune",
      """WITH ac AS (SELECT event_id // 128 AS chunk, MIN(user_id) AS mn,
        |              MAX(user_id) AS mx, CAST(COUNT(*) AS BIGINT) AS n
        |            FROM events GROUP BY 1),
        |cc AS (SELECT user_id // 4 AS chunk, MIN(user_id) AS mn,
        |         MAX(user_id) AS mx, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM events GROUP BY 1),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS rows_matched
        |      FROM events WHERE user_id BETWEEN 3 AND 5)
        |SELECT 'arrival' AS layout, CAST(COUNT(*) AS BIGINT) AS chunks_total,
        |       CAST(SUM(CASE WHEN mx >= 3 AND mn <= 5 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS chunks_read,
        |       CAST(SUM(CASE WHEN mx >= 3 AND mn <= 5 THEN n ELSE 0 END)
        |         AS BIGINT) AS rows_scanned,
        |       MAX(rows_matched) AS rows_matched
        |FROM ac CROSS JOIN m
        |UNION ALL
        |SELECT 'clustered', CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CASE WHEN mx >= 3 AND mn <= 5 THEN 1 ELSE 0 END)
        |         AS BIGINT),
        |       CAST(SUM(CASE WHEN mx >= 3 AND mn <= 5 THEN n ELSE 0 END)
        |         AS BIGINT),
        |       MAX(rows_matched)
        |FROM cc CROSS JOIN m
        |ORDER BY layout""") { (s, d) =>
      val ev = Tables.events(s, d)
      def audit(tag: String, chunk: org.apache.spark.sql.Column) = ev
        .groupBy(chunk.as("chunk"))
        .agg(min(col("user_id")).as("mn"), max(col("user_id")).as("mx"),
          cntLong.as("n"))
        .agg(cntLong.as("chunks_total"),
          sum(when(col("mx") >= 3 && col("mn") <= 5, 1L).otherwise(0L))
            .as("chunks_read"),
          sum(when(col("mx") >= 3 && col("mn") <= 5, col("n")).otherwise(0L))
            .as("rows_scanned"))
        .select(lit(tag).as("layout"), col("chunks_total"),
          col("chunks_read"), col("rows_scanned"))
      val matched = ev.filter(col("user_id").between(3, 5))
        .agg(cntLong.as("rows_matched"))
      audit("arrival", expr("event_id div 128"))
        .unionByName(audit("clustered", expr("user_id div 4")))
        .crossJoin(broadcast(matched))
        .orderBy("layout")
    },

    // ---- Functional-dependency / key discovery: the schema-inference
    //      profiling primitive next to q67 (per-column stats) and q212
    //      (join cardinality) — FD X→Y holds iff ndv(X) = ndv(X, Y),
    //      X is a key iff ndv(X) = n. These verdicts are what choose
    //      partitioning keys, dedup keys, and join designs on a corpus
    //      you didn't produce; the gate's candidate list deliberately
    //      mixes holders and failers, and catches a REAL surprise in
    //      this dataset: (l_orderkey, l_linenumber) — TPC-H's declared
    //      lineitem primary key — is NOT a key in the synthetic data
    //      (45,832 distinct pairs over 60,000 rows at sf0.01), exactly
    //      the assumption-check the profiler exists to run before any
    //      pipeline keys on it. Scale: each candidate costs one
    //      partial-aggregated DISTINCT (map-side combined) crossed as
    //      1-row broadcasts; at 100 TB swap exact distincts for q115's
    //      HLL fold — same shape, sketch-sized state. ----
    gated("q215_fd_discovery",
      """SELECT 'customer' AS tbl, 'c_custkey' AS lhs, 'c_nationkey' AS rhs,
        |       n_rows, ndv_lhs, ndv_pair,
        |       CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT) AS fd_holds,
        |       CAST(CASE WHEN ndv_lhs = n_rows THEN 1 ELSE 0 END AS BIGINT) AS lhs_is_key
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM customer)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_lhs
        |            FROM (SELECT DISTINCT c_custkey FROM customer))
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_pair
        |            FROM (SELECT DISTINCT c_custkey, c_nationkey FROM customer))
        |UNION ALL
        |SELECT 'documents', 'doc_id', 'lang', n_rows, ndv_lhs, ndv_pair,
        |       CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(CASE WHEN ndv_lhs = n_rows THEN 1 ELSE 0 END AS BIGINT)
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_lhs
        |            FROM (SELECT DISTINCT doc_id FROM documents))
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_pair
        |            FROM (SELECT DISTINCT doc_id, lang FROM documents))
        |UNION ALL
        |SELECT 'events', 'user_id', 'event_type', n_rows, ndv_lhs, ndv_pair,
        |       CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(CASE WHEN ndv_lhs = n_rows THEN 1 ELSE 0 END AS BIGINT)
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM events)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_lhs
        |            FROM (SELECT DISTINCT user_id FROM events))
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_pair
        |            FROM (SELECT DISTINCT user_id, event_type FROM events))
        |UNION ALL
        |SELECT 'lineitem', 'l_orderkey', 'l_suppkey', n_rows, ndv_lhs, ndv_pair,
        |       CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(CASE WHEN ndv_lhs = n_rows THEN 1 ELSE 0 END AS BIGINT)
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_lhs
        |            FROM (SELECT DISTINCT l_orderkey FROM lineitem))
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_pair
        |            FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem))
        |UNION ALL
        |SELECT 'lineitem', 'l_orderkey,l_linenumber', 'l_partkey',
        |       n_rows, ndv_lhs, ndv_pair,
        |       CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(CASE WHEN ndv_lhs = n_rows THEN 1 ELSE 0 END AS BIGINT)
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_lhs
        |            FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_pair
        |            FROM (SELECT DISTINCT l_orderkey, l_linenumber, l_partkey
        |                  FROM lineitem))
        |UNION ALL
        |SELECT 'orders', 'o_orderkey', 'o_custkey', n_rows, ndv_lhs, ndv_pair,
        |       CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(CASE WHEN ndv_lhs = n_rows THEN 1 ELSE 0 END AS BIGINT)
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_lhs
        |            FROM (SELECT DISTINCT o_orderkey FROM orders))
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_pair
        |            FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders))
        |ORDER BY tbl, lhs, rhs""") { (s, d) =>
      // ONE scan per candidate: Spark plans the multi-distinct agg as a
      // single pass with Expand (3 aliased row streams through one
      // aggregation) — at 100 TB the scan is the cost, and this keeps
      // each candidate at one, not three
      def leg(tbl: String, df: org.apache.spark.sql.DataFrame,
              lhs: Seq[String], rhs: String) =
        // countDistinct over a STRUCT, not bare columns: bare-column
        // multi-distinct drops rows where ANY column is NULL, while the
        // oracle's SELECT DISTINCT counts NULL-containing tuples — the
        // struct is never null itself, so tuple semantics match exactly
        df.agg(cntLong.as("n_rows"),
            countDistinct(struct(lhs.map(col): _*)).as("ndv_lhs"),
            countDistinct(struct((lhs :+ rhs).map(col): _*))
              .as("ndv_pair"))
          .select(lit(tbl).as("tbl"), lit(lhs.mkString(",")).as("lhs"),
            lit(rhs).as("rhs"), col("n_rows"), col("ndv_lhs"),
            col("ndv_pair"),
            when(col("ndv_lhs") === col("ndv_pair"), 1L).otherwise(0L)
              .as("fd_holds"),
            when(col("ndv_lhs") === col("n_rows"), 1L).otherwise(0L)
              .as("lhs_is_key"))
      Seq(
        leg("customer", Tables.customer(s, d), Seq("c_custkey"), "c_nationkey"),
        leg("documents", Tables.documents(s, d), Seq("doc_id"), "lang"),
        leg("events", Tables.events(s, d), Seq("user_id"), "event_type"),
        leg("lineitem", Tables.lineitem(s, d), Seq("l_orderkey"), "l_suppkey"),
        leg("lineitem", Tables.lineitem(s, d),
          Seq("l_orderkey", "l_linenumber"), "l_partkey"),
        leg("orders", Tables.orders(s, d), Seq("o_orderkey"), "o_custkey"))
        .reduce(_.unionByName(_))
        .orderBy("tbl", "lhs", "rhs")
    },

    // ---- q215's SKETCH form — the swap its own scale note promises:
    //      at 100 TB each FD/key candidate is priced from q115's HLL
    //      fold (operators/Hll, KB-scale mergeable registers) instead
    //      of exact DISTINCTs. Verdicts from estimates: FD X→Y is
    //      accepted when est(X,Y) ≤ 1.10 · est(X) — when the FD truly
    //      holds both sketches estimate the SAME count through different
    //      hash inputs (ratio within (1 ± RSE)² ≈ ±4% at lgK = 12),
    //      while every planted failer's true ratio is ≥ 1.3; key(X) is
    //      accepted when |est(X) − n| ≤ 0.10 · n (n exact — row counts
    //      are free), with every planted non-key ≤ 0.77 · n. Composite
    //      candidates sketch over xxhash64(cols…) (P[collision] ≈
    //      n²/2^65 — immaterial next to the 1.6% RSE). The gate pins
    //      VERDICT PARITY: both engines carry the exact counts as
    //      payload, and sk_fd_ok / sk_key_ok assert the sketch verdict
    //      equals the exact one on every candidate (oracle: literal 1,
    //      the q115 est_ok pattern). ----
    gated("q219_fd_sketch",
      """SELECT 'customer' AS tbl, 'c_custkey' AS lhs, 'c_nationkey' AS rhs,
        |       n_rows, ndv_lhs, ndv_pair,
        |       CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT) AS fd_holds,
        |       CAST(CASE WHEN ndv_lhs = n_rows THEN 1 ELSE 0 END AS BIGINT) AS lhs_is_key,
        |       CAST(1 AS BIGINT) AS sk_fd_ok, CAST(1 AS BIGINT) AS sk_key_ok
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM customer)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_lhs
        |            FROM (SELECT DISTINCT c_custkey FROM customer))
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_pair
        |            FROM (SELECT DISTINCT c_custkey, c_nationkey FROM customer))
        |UNION ALL
        |SELECT 'documents', 'doc_id', 'lang', n_rows, ndv_lhs, ndv_pair,
        |       CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(CASE WHEN ndv_lhs = n_rows THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_lhs
        |            FROM (SELECT DISTINCT doc_id FROM documents))
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_pair
        |            FROM (SELECT DISTINCT doc_id, lang FROM documents))
        |UNION ALL
        |SELECT 'events', 'user_id', 'event_type', n_rows, ndv_lhs, ndv_pair,
        |       CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(CASE WHEN ndv_lhs = n_rows THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM events)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_lhs
        |            FROM (SELECT DISTINCT user_id FROM events))
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_pair
        |            FROM (SELECT DISTINCT user_id, event_type FROM events))
        |UNION ALL
        |SELECT 'lineitem', 'l_orderkey', 'l_suppkey', n_rows, ndv_lhs, ndv_pair,
        |       CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(CASE WHEN ndv_lhs = n_rows THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_lhs
        |            FROM (SELECT DISTINCT l_orderkey FROM lineitem))
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_pair
        |            FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem))
        |UNION ALL
        |SELECT 'lineitem', 'l_orderkey,l_linenumber', 'l_partkey',
        |       n_rows, ndv_lhs, ndv_pair,
        |       CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(CASE WHEN ndv_lhs = n_rows THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_lhs
        |            FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_pair
        |            FROM (SELECT DISTINCT l_orderkey, l_linenumber, l_partkey
        |                  FROM lineitem))
        |UNION ALL
        |SELECT 'orders', 'o_orderkey', 'o_custkey', n_rows, ndv_lhs, ndv_pair,
        |       CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(CASE WHEN ndv_lhs = n_rows THEN 1 ELSE 0 END AS BIGINT),
        |       CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_lhs
        |            FROM (SELECT DISTINCT o_orderkey FROM orders))
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ndv_pair
        |            FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders))
        |ORDER BY tbl, lhs, rhs""") { (s, d) =>
      import graft.operators.Hll
      def leg(tbl: String, df: org.apache.spark.sql.DataFrame,
              lhs: Seq[String], rhs: String) = {
        // ONE pass carries the row count AND both sketch estimates
        // (Hll.estimateAgg composes as an ordinary aggregate) —
        // composite candidates hash to one 64-bit key (the SimJoin
        // fingerprint discipline; collision odds immaterial next to the
        // sketch's RSE). The exact DISTINCTs (the oracle payload) stay
        // SEPARATE scans here, unlike q215's fused multi-distinct:
        // folding them in routes every row through Expand x3 inside the
        // same ObjectHashAggregate as the sketches, measured 62% slower
        // at sf0.1 — and the 100 TB form drops the exact columns
        // anyway, keeping only this combined sketch scan per candidate.
        val n = df.agg(cntLong.as("n_rows"),
          Hll.estimateAgg(xxhash64(lhs.map(col): _*)).as("est_lhs"),
          Hll.estimateAgg(xxhash64((lhs :+ rhs).map(col): _*))
            .as("est_pair"))
        val nl = df.select(lhs.map(col): _*).distinct()
          .agg(cntLong.as("ndv_lhs"))
        val np = df.select((lhs :+ rhs).map(col): _*).distinct()
          .agg(cntLong.as("ndv_pair"))
        n.crossJoin(broadcast(nl)).crossJoin(broadcast(np))
          .select(lit(tbl).as("tbl"), lit(lhs.mkString(",")).as("lhs"),
            lit(rhs).as("rhs"), col("n_rows"), col("ndv_lhs"),
            col("ndv_pair"),
            when(col("ndv_lhs") === col("ndv_pair"), 1L).otherwise(0L)
              .as("fd_holds"),
            when(col("ndv_lhs") === col("n_rows"), 1L).otherwise(0L)
              .as("lhs_is_key"),
            // verdict parity: the sketch decision equals the exact one
            ((col("est_pair") <= col("est_lhs") * lit(1.10)) ===
              (col("ndv_lhs") === col("ndv_pair"))).cast("long")
              .as("sk_fd_ok"),
            ((abs(col("est_lhs") - col("n_rows")) <=
              col("n_rows") * lit(0.10)) ===
              (col("ndv_lhs") === col("n_rows"))).cast("long")
              .as("sk_key_ok"))
      }
      Seq(
        leg("customer", Tables.customer(s, d), Seq("c_custkey"), "c_nationkey"),
        leg("documents", Tables.documents(s, d), Seq("doc_id"), "lang"),
        leg("events", Tables.events(s, d), Seq("user_id"), "event_type"),
        leg("lineitem", Tables.lineitem(s, d), Seq("l_orderkey"), "l_suppkey"),
        leg("lineitem", Tables.lineitem(s, d),
          Seq("l_orderkey", "l_linenumber"), "l_partkey"),
        leg("orders", Tables.orders(s, d), Seq("o_orderkey"), "o_custkey"))
        .reduce(_.unionByName(_))
        .orderBy("tbl", "lhs", "rhs")
    },

    // ---- Training-mixture weighting with a repetition cap — the data-
    //      mixing step that turns per-domain token counts into sampling
    //      weights: each lang should contribute an equal token share of
    //      the mixture (target = T/L), so its weight (epochs over its
    //      corpus) is (T/L)/tokens_l, CAPPED at 4 epochs — low-resource
    //      domains repeat at most 4x rather than chasing the target
    //      (the over-sampling cliff every mixture paper warns about);
    //      realized share then reports how far the cap pushed the
    //      mixture off target. All inputs are exact longs, the weight
    //      arithmetic is a fixed-order double expression identical on
    //      both engines, rendered through the ROUND-6 decimal-string
    //      discipline. Scale: one token-count aggregation over the
    //      corpus (map-side combined); everything after is L rows. ----
    gated("q221_mixture_weights",
      """WITH t AS (SELECT lang,
        |             CAST(len(list_filter(string_split(lower(text), ' '),
        |                                  x -> x <> '')) AS BIGINT) AS nt
        |           FROM documents WHERE lang IS NOT NULL),
        |per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |          CAST(SUM(nt) AS BIGINT) AS n_tokens
        |        FROM t GROUP BY lang),
        |g AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt,
        |        CAST(COUNT(*) AS BIGINT) AS l FROM per),
        |j AS (SELECT per.*,
        |        LEAST(CAST(4.0 AS DOUBLE),
        |              (CAST(tt AS DOUBLE) / l) / CAST(n_tokens AS DOUBLE)) AS w
        |      FROM per CROSS JOIN g),
        |j2 AS (SELECT *, CAST(trunc(ROUND(w * n_tokens, 0)) AS BIGINT) AS eff
        |       FROM j),
        |te AS (SELECT CAST(SUM(eff) AS BIGINT) AS te FROM j2)
        |SELECT lang, n_docs, n_tokens,
        |       CAST(CAST(ROUND(w, 6) AS DECIMAL(18,6)) AS VARCHAR) AS weight,
        |       eff AS eff_tokens,
        |       CAST(CAST(ROUND(CAST(eff AS DOUBLE) / te, 6) AS DECIMAL(18,6))
        |            AS VARCHAR) AS share
        |FROM j2 CROSS JOIN te ORDER BY lang""") { (s, d) =>
      val per = Tables.documents(s, d)
        .filter(col("lang").isNotNull)
        .select(col("lang"),
          size(graft.text.TextOps.tokens(col("text"))).cast("long").as("nt"))
        .groupBy("lang")
        .agg(cntLong.as("n_docs"), sum(col("nt")).as("n_tokens"))
        .localCheckpoint() // L rows feed g, j, AND te — without this the
        // corpus token count re-scans once per consumer (PlanSpec pins 1)
      val g = broadcast(per.agg(sum(col("n_tokens")).as("tt"),
        cntLong.as("l")))
      val j = per.crossJoin(g)
        .withColumn("w", least(lit(4.0),
          (col("tt").cast("double") / col("l")) /
            col("n_tokens").cast("double")))
        .withColumn("eff", round(col("w") * col("n_tokens"), 0).cast("long"))
      val te = broadcast(j.agg(sum(col("eff")).as("te")))
      j.crossJoin(te)
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          round(col("w"), 6).cast(DecimalType(18, 6)).cast("string")
            .as("weight"),
          col("eff").as("eff_tokens"),
          round(col("eff").cast("double") / col("te"), 6)
            .cast(DecimalType(18, 6)).cast("string").as("share"))
        .orderBy("lang")
    },

    // ---- Equi-depth-histogram selectivity estimation: the third stats
    //      primitive for planning, after q212 (join cardinality) and
    //      q215 (FDs) — predict a range predicate's row count from a
    //      16-bucket equi-depth histogram (full buckets counted, the
    //      boundary buckets linearly interpolated in integer
    //      arithmetic), side by side with the naive uniform-distribution
    //      estimate, both pinned against the ACTUAL count. On the
    //      right-skewed events.value tail predicate the verdict is the
    //      whole reason optimizers keep histograms: uniform overestimates
    //      ~23× (228,654 bp error at sf0.01) where equi-depth lands
    //      within ~2× (10,701 bp) — its residual is interpolation inside
    //      the wide tail bucket, the textbook failure mode. Values in
    //      exact cents (round-then-cast, the q133 double-cast rule).
    //      Scale: the only data-sized passes are one value-count groupBy
    //      and the exact actual; bucket bounds come from a cumsum over
    //      the VALUE-COUNT relation, bounded by the value domain
    //      (≤ 49,001 cent values here) independent of row count — when
    //      the domain is unbounded, q148's two-pass histogram-then-select
    //      replaces it. ----
    gated("q216_selectivity_estimate",
      """WITH v AS (SELECT CAST(trunc(round(value*100, 0)) AS BIGINT) AS v
        |           FROM events),
        |vc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY v),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, MIN(v) AS gmin,
        |             MAX(v) AS gmax FROM vc),
        |cum AS (SELECT v, cnt, SUM(cnt) OVER (ORDER BY v ROWS BETWEEN
        |          UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM vc),
        |hist AS (SELECT ((c - 1) * 16) // n.n AS bucket, MIN(v) AS bmin,
        |           MAX(v) AS bmax, CAST(SUM(cnt) AS BIGINT) AS bcnt
        |         FROM cum CROSS JOIN n GROUP BY 1),
        |est AS (SELECT CAST(SUM(CASE
        |          WHEN bmin >= 20000 AND bmax <= 40000 THEN bcnt
        |          WHEN bmax < 20000 OR bmin > 40000 THEN 0
        |          ELSE (bcnt * (LEAST(40000, bmax) - GREATEST(20000, bmin) + 1))
        |               // (bmax - bmin + 1) END) AS BIGINT) AS est FROM hist),
        |uni AS (SELECT CAST((n * (LEAST(40000, gmax) - GREATEST(20000, gmin)
        |          + 1)) // (gmax - gmin + 1) AS BIGINT) AS est, n FROM n),
        |act AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual FROM v
        |        WHERE v BETWEEN 20000 AND 40000)
        |SELECT 'equi_depth' AS method, n.n AS n_rows, est.est AS est,
        |       act.actual,
        |       CAST(abs(est.est - act.actual) * 10000 // act.actual AS BIGINT)
        |         AS err_bp
        |FROM est CROSS JOIN act CROSS JOIN n
        |UNION ALL
        |SELECT 'uniform', uni.n, uni.est, act.actual,
        |       CAST(abs(uni.est - act.actual) * 10000 // act.actual AS BIGINT)
        |FROM uni CROSS JOIN act
        |ORDER BY method""") { (s, d) =>
      import graft.streaming.StatsMaintenance
      val v = Tables.events(s, d)
        .select(expr("cast(round(value * 100, 0) as long)").as("v"))
      val vc = v.groupBy("v").agg(cntLong.as("cnt"))
      val nRow = vc.agg(sum(col("cnt")).as("n"), min(col("v")).as("gmin"),
        max(col("v")).as("gmax"))
      // histogram + estimator are the ONE shared implementation the
      // live-stats tenant also serves (StatsMaintenance.equiDepth /
      // rangeEstimate); the cumsum inside is domain-bounded — ≤ 49,001
      // value-count rows at ANY data scale
      val est = StatsMaintenance.rangeEstimate(
        StatsMaintenance.equiDepth(vc, 16), 20000L, 40000L)
      val act = v.filter(col("v").between(20000, 40000))
        .agg(cntLong.as("actual"))
      val eq = est.crossJoin(broadcast(act)).crossJoin(broadcast(nRow))
        .select(lit("equi_depth").as("method"), col("n").as("n_rows"),
          col("est"), col("actual"),
          expr("abs(est - actual) * 10000 div actual").as("err_bp"))
      val un = nRow.crossJoin(broadcast(act))
        .withColumn("est", expr(
          "(n * (least(40000, gmax) - greatest(20000, gmin) + 1)) div (gmax - gmin + 1)"))
        .select(lit("uniform").as("method"), col("n").as("n_rows"),
          col("est"), col("actual"),
          expr("abs(est - actual) * 10000 div actual").as("err_bp"))
      eq.unionByName(un).orderBy("method")
    }
  )
}
