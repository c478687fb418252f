package graft

import graft.cdc.Materialize
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}

/** scalacheck layer (SURVEY.md §5): randomized op streams mimicking the
  * reference generator's distributions (gen_fake_mysql_data.py:81-89)
  * checked against model folds. Generators are sampled with fixed seeds
  * (no scalatestplus bridge in the offline cache), so runs are
  * deterministic. */
class PropertySpec extends SparkTestBase {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, rng.Seed(47L + i)))

  private val envSchema = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("trans_id", LongType),
      StructField("customer_id", StringType),
      StructField("event", StringType),
      StructField("sku", StringType),
      StructField("amount", IntegerType),
      StructField("device", StringType),
      StructField("trans_datetime", StringType)))),
    StructField("metadata", StructType(Seq(
      StructField("timestamp", StringType),
      StructField("record-type", StringType),
      StructField("operation", StringType),
      StructField("partition-key-type", StringType),
      StructField("schema-name", StringType),
      StructField("table-name", StringType),
      StructField("transaction-id", LongType))))))

  private val events = Gen.oneOf("visit", "view", "cart", "list", "like", "purchase")

  /** Random per-key op scripts: insert then updates/deletes, as (key, seq). */
  private val opStream: Gen[List[(Long, Int, String, String)]] = for {
    nKeys <- Gen.choose(1, 12)
    ops <- Gen.listOfN(nKeys, for {
      n <- Gen.choose(0, 5)
      tail <- Gen.listOfN(n, Gen.frequency(4 -> "update", 1 -> "delete"))
      evs <- Gen.listOfN(n + 1, events)
    } yield ("insert" :: tail).zip(evs))
  } yield ops.zipWithIndex.flatMap { case (script, k) =>
    script.zipWithIndex.map { case ((op, ev), i) => (k.toLong, i, op, ev) }
  }

  private def toEnvelope(rows: List[(Long, Int, String, String)]) = {
    val rs = rows.map { case (k, i, op, ev) =>
      Row(Row(k, "c", ev, "s", 1, "pc", "2022-03-14T00:00:00Z"),
        Row(f"2022-03-14T14:00:${i}%02d.000000Z", "data", op, "primary-key",
          "testdb", "retail_trans", 1000L + i))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rs, 2), envSchema)
  }

  test("materialize(changelog) == sequential fold, for random op streams") {
    samples(opStream, 20).filter(_.nonEmpty).foreach { rows =>
      val snapshot = Materialize.snapshot(toEnvelope(rows))
        .select("trans_id", "event").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val model = scala.collection.mutable.Map[Long, Option[String]]()
      rows.sortBy(r => (r._1, r._2)).foreach { case (k, _, op, ev) =>
        model(k) = if (op == "delete") None else Some(ev)
      }
      val live = model.collect { case (k, Some(ev)) => k -> ev }.toMap
      assert(snapshot === live)
    }
  }

  test("stateful materializer matches the fold model on random op streams") {
    import graft.streaming.StatefulMaterialize
    import graft.streaming.StatefulMaterialize.{Change, SnapshotDelta}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    samples(opStream, 8).filter(_.nonEmpty).zipWithIndex.foreach {
      case (rows, qi) =>
        val changes = rows.map { case (k, i, op, ev) =>
          Change(k, f"2022-03-14T14:00:$i%02d.000000Z", 1000L + i, op,
            Some(ev.length))
        }
        val input = MemoryStream[Change]
        val name = s"sm_prop_$qi"
        val q = StatefulMaterialize.deltas(input.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          val (a, b) = changes.splitAt(changes.length / 2)
          if (a.nonEmpty) { input.addData(a: _*); q.processAllAvailable() }
          if (b.nonEmpty) { input.addData(b: _*); q.processAllAvailable() }
        } finally q.stop()

        val deltas = spark.table(name).as[SnapshotDelta].collect()
        val lastPerKey = deltas.zipWithIndex.groupBy(_._1.pk)
          .map { case (_, ds) => ds.maxBy(_._2)._1 }
        val live = lastPerKey.filter(_.live)
          .map(d => d.pk -> d.amount.get).toMap

        val model = scala.collection.mutable.Map[Long, Option[Int]]()
        rows.sortBy(r => (r._1, r._2)).foreach { case (k, _, op, ev) =>
          model(k) = if (op == "delete") None else Some(ev.length)
        }
        val want = model.collect { case (k, Some(v)) => k -> v }.toMap
        assert(live === want, s"sample $qi diverged")
        spark.sql(s"DROP VIEW IF EXISTS $name")
    }
  }

  test("dedup is idempotent and order-insensitive on random frames") {
    import spark.implicits._
    samples(Gen.listOf(Gen.choose(0, 20)), 20).filter(_.nonEmpty).foreach { xs =>
      val df = xs.toDF("x")
      val d1 = df.dropDuplicates().count()
      val d2 = df.dropDuplicates().dropDuplicates().count()
      assert(d1 === xs.distinct.size.toLong)
      assert(d2 === d1)
    }
  }

  test("union-all count additivity") {
    import spark.implicits._
    val as = samples(Gen.listOf(Gen.choose(0, 50)), 10)
    val bs = samples(Gen.listOf(Gen.choose(0, 50)), 10)
    as.zip(bs).foreach { case (a, b) =>
      assert(a.toDF("x").unionByName(b.toDF("x")).count() ===
        (a.size + b.size).toLong)
    }
  }

  test("connected components == union-find model, for random edge lists") {
    import spark.implicits._
    val graphs = samples(Gen.listOf(for {
      a <- Gen.choose(0L, 25L); b <- Gen.choose(0L, 25L) if a != b
    } yield (a, b)), 12).filter(_.nonEmpty)
    graphs.foreach { edges =>
      // model: classic union-find, component label = min member
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(n => n -> find(n)).toMap
      val got = graft.operators.ConnectedComponents.run(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"edges $edges")
    }
  }

  test("connected components converges on a long chain and fails loudly when capped") {
    import spark.implicits._
    // diameter 299 ≫ 20 rounds of pure hop-propagation: only pointer
    // jumping (reach doubling per round) converges inside the default cap
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = graft.operators.ConnectedComponents.run(chain).collect()
    assert(labels.length === 300 && labels.forall(_.getLong(1) == 0L))
    // an unreachable fixpoint must throw, not return split clusters
    val ex = intercept[IllegalArgumentException] {
      graft.operators.ConnectedComponents.run(chain, maxIters = 2)
    }
    assert(ex.getMessage.contains("did not converge"), ex.getMessage)
  }

  test("rollup-then-merge equals direct aggregation, for random day/value data (q89 invariant)") {
    import spark.implicits._
    // decimal partial sums + counts merge associatively: grouping by a
    // fine key then re-aggregating to a coarse key must be bit-identical
    // to aggregating directly at the coarse key
    val data = samples(Gen.listOf(for {
      day <- Gen.choose(1, 60); cents <- Gen.choose(0L, 100000L)
    } yield (day, cents / 100.0)), 8).filter(_.nonEmpty)
    data.foreach { rows =>
      val df = rows.toDF("day", "v")
        .select(col("day"), (col("day") / 7).cast("int").as("wk"), col("v"))
      val direct = df.groupBy("wk")
        .agg(count(lit(1)).as("c"), sum(col("v").cast("decimal(18,2)")).as("s"))
      val merged = df.groupBy("wk", "day")
        .agg(count(lit(1)).as("pc"), sum(col("v").cast("decimal(18,2)")).as("ps"))
        .groupBy("wk").agg(sum(col("pc")).as("c"), sum(col("ps")).as("s"))
      assert(merged.select(col("wk"), col("c"), col("s").cast("decimal(18,2)"))
        .exceptAll(direct.select(col("wk"), col("c"),
          col("s").cast("decimal(18,2)"))).count() === 0)
    }
  }

  test("max_by with a composite bigint key picks the row a sort-based model picks (q84 invariant)") {
    import spark.implicits._
    val groups = samples(Gen.listOf(for {
      g <- Gen.choose(0, 5); k <- Gen.choose(0L, 50L); p <- Gen.choose(0L, 99L)
    } yield (g, k, p)), 10).filter(_.nonEmpty)
    groups.foreach { rows =>
      val expected = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map { case (_, k, p) => (p, k) }.max._2
      }
      val got = rows.toDF("g", "k", "p")
        .groupBy("g").agg(max_by(col("k"), col("p") * 1000L + col("k")).as("k"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got === expected, s"rows $rows")
    }
  }

  test("chunking (q69 formulation) covers every token exactly at its position, for random docs") {
    import spark.implicits._
    val docs = samples(Gen.choose(1, 90).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerStr.map(s => "w" + s.take(3)))), 30)
      .zipWithIndex.map { case (toks, id) => (id.toLong, toks) }
    val (size20, stride15) = (20, 15)
    val chunks = docs.toDF("doc_id", "toks")
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(stride15))))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        col("col").as("st"),
        slice(col("toks"), col("col") + 1, lit(size20)).as("chunk"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getSeq[String](3).toList))
    val byDoc = chunks.groupBy(_._1)
    docs.foreach { case (id, toks) =>
      val cs = byDoc(id).sortBy(_._2)
      // chunk k starts at stride·k and equals the source slice there
      cs.foreach { case (_, k, st, chunk) =>
        assert(st === stride15 * k)
        assert(chunk === toks.slice(st, st + size20))
      }
      // stitching the non-overlap prefixes + the last chunk's tail
      // reconstructs the document exactly
      val stitched = cs.init.map(_._4.take(stride15)).flatten ++ cs.last._4
      assert(stitched === toks, s"doc $id not covered")
    }
  }

  test("substring dedup (q104 formulation) matches the brute-force mask model, for random corpora") {
    import spark.implicits._
    // small vocab + short window forces genuine cross-doc collisions
    val W = 4 // window size for the property (q104 uses 20)
    val corpora = samples(Gen.listOf(
      Gen.choose(1, 12).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c")))), 12)
      .filter(docs => docs.count(_.size >= W) >= 2)
    corpora.foreach { docs =>
      val df = docs.zipWithIndex
        .map { case (w, id) => (id.toLong, w) }.toDF("doc_id", "w")
        .filter(size(col("w")) >= W)
      val spans = df.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), size(col("w")) - W),
            i => md5(concat_ws(" ", slice(col("w"), i + 1, lit(W)))))))
        .select(col("doc_id"), col("pos").as("start"), col("col").as("h"))
      val rep = spans.groupBy("h").agg(countDistinct("doc_id").as("df"))
        .filter(col("df") >= 2).select("h")
      val got = spans.join(rep, "h")
        .select(col("doc_id"),
          explode(sequence(col("start"), col("start") + (W - 1))).as("p"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_masked"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      // model: literal window multiset over the token lists
      val wins = docs.zipWithIndex.flatMap { case (w, id) =>
        w.sliding(W).filter(_.size == W).zipWithIndex
          .map { case (win, st) => (id.toLong, st, win.mkString(" ")) }
      }
      val repeated = wins.groupBy(_._3)
        .filter(_._2.map(_._1).distinct.size >= 2).keySet
      val expect = wins.filter(t => repeated(t._3))
        .groupBy(_._1)
        .view.mapValues(_.flatMap(t => t._2 until t._2 + W).distinct.size.toLong)
        .toMap
      assert(got === expect)
    }
  }

  test("packing (q70 formulation) matches the sequential fold model, for random corpora") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cap = 100
    val corpora = samples(Gen.listOf(for {
      lang <- Gen.oneOf("en", "de", "es")
      n <- Gen.choose(1, 250)
    } yield (lang, n)), 15).filter(_.nonEmpty)
    corpora.foreach { rows =>
      val df = rows.zipWithIndex
        .map { case ((lang, n), id) => (id.toLong, lang, n) }
        .toDF("doc_id", "lang", "n_chars")
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val before = col("cum") - col("n_chars")
      val got = df.withColumn("cum", sum(col("n_chars")).over(w))
        .select(col("doc_id"),
          floor(before / (cap * 1.0)).cast("long").as("seq_id"),
          (before - lit(cap) * floor(before / (cap * 1.0))).cast("long").as("off"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // model: per-lang running total folded sequentially
      rows.zipWithIndex.groupBy(_._1._1).foreach { case (_, docs) =>
        var cum = 0L
        docs.sortBy(_._2).foreach { case ((_, n), id) =>
          val (seq, off) = got(id.toLong)
          assert(seq === cum / cap, s"doc $id seq")
          assert(off === cum % cap, s"doc $id off")
          assert(off >= 0 && off < cap)
          cum += n
        }
      }
    }
  }

  test("count-min: overestimate invariant, merge additivity, exactness at width ≫ keys") {
    import graft.operators.CountMin
    import spark.implicits._
    samples(Gen.listOfN(300, Gen.choose(0L, 40L)), 6).foreach { xs =>
      val df = xs.toDF("k")
      val exact = xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val keys = exact.keys.toSeq.toDF("k")

      // width ≫ distinct keys: estimates are exact (no all-depth collision
      // among ≤ 41 keys in 4 × 4096 cells — deterministic, fixed seeds)
      val big = CountMin.estimate(CountMin.build(df, "k", 4, 4096), keys, "k")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      exact.foreach { case (k, c) => assert(big(k) === c, s"key $k") }

      // tiny width: collisions guaranteed, but never an UNDER-estimate
      val small = CountMin.estimate(CountMin.build(df, "k", 4, 8), keys, "k")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      exact.foreach { case (k, c) => assert(small(k) >= c, s"key $k") }

      // merge additivity: split sketches fold to the whole-data sketch
      val (a, b) = xs.splitAt(xs.size / 2)
      def cells(s: org.apache.spark.sql.DataFrame) = s.collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(cells(CountMin.merge(CountMin.build(a.toDF("k"), "k", 4, 8),
        CountMin.build(b.toDF("k"), "k", 4, 8)))
        === cells(CountMin.build(df, "k", 4, 8)))
    }

    // the ×depth fan-out collapses map-side: exactly one exchange, with
    // a partial HashAggregate below it — the shuffle carries sketch
    // cells, never data rows
    val plan = CountMin.build(Seq(1L, 2L).toDF("k"), "k", 4, 8)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"sketch build must shuffle once:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation below the exchange:\n$plan")
  }

  test("fuzzy blocking finds exactly the levenshtein ≤ 1 pairs, for random edit pairs") {
    import graft.text.Fuzzy
    import spark.implicits._
    // short strings over a 5-letter alphabet: distance-1 pairs arise both
    // naturally (collisions are common) and by planted single edits
    val strGen = for {
      n <- Gen.choose(1, 8)
      cs <- Gen.listOfN(n, Gen.choose('a', 'e'))
    } yield cs.mkString
    val mutGen = for {
      s <- strGen
      op <- Gen.oneOf("ins", "del", "sub")
      pos <- Gen.choose(0, math.max(0, s.length - 1))
      c <- Gen.choose('a', 'e')
    } yield op match {
      case "ins" => s.substring(0, pos) + c + s.substring(pos)
      case "del" => if (s.length <= 1) s else s.substring(0, pos) + s.substring(pos + 1)
      case _     => s.updated(pos, c)
    }
    def lev(x: String, y: String): Int = {
      val d = Array.tabulate(x.length + 1, y.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length)
    }
    val as = samples(strGen, 60).distinct
    val bs = (samples(strGen, 30) ++ samples(mutGen, 40)).distinct
    val got = Fuzzy.fuzzyPairs(as.toDF("qa"), "qa", bs.toDF("tb"), "tb")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val exp = (for { x <- as; y <- bs if lev(x, y) <= 1 } yield (x, y)).toSet
    assert(exp.nonEmpty, "generators must yield close pairs — vacuous otherwise")
    assert(got === exp,
      s"missed ${(exp -- got).take(5)} / invented ${(got -- exp).take(5)}")
  }

  test("phrase hits == sliding-window scan model, for random token streams") {
    import graft.text.Phrase
    import spark.implicits._
    val tokGen = Gen.oneOf("a", "b", "c")
    val docGen = Gen.choose(0, 15).flatMap(n => Gen.listOfN(n, tokGen))
    val phraseGen = Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, tokGen))
    val phrases = samples(phraseGen, 8)
    val pool = samples(docGen, 200)
    phrases.zipWithIndex.foreach { case (phrase, round) =>
      val docs = pool.slice(round * 25, round * 25 + 25).zipWithIndex
        .map { case (w, i) => (i.toLong, w) }
      val got = Phrase
        .phraseHits(Phrase.postings(docs.toDF("doc_id", "w"), "doc_id", "w"),
          phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = docs.map { case (id, w) =>
        id -> (0 to w.length - phrase.length)
          .count(i => w.slice(i, i + phrase.length) == phrase).toLong
      }.filter(_._2 > 0).toMap
      assert(got === exp, s"round $round phrase $phrase")
    }
  }

  test("KMV bottom-k: model parity, merge semilattice, estimator bounds, random keys") {
    import graft.operators.Kmv
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString

    samples(Gen.listOfN(400, Gen.zip(Gen.oneOf("g1", "g2"),
      Gen.choose(0L, 120L))), 6).foreach { xs =>
      val df = xs.toDF("grp", "key")
      val sk = Kmv.build(df, "grp", "key", k = 8).localCheckpoint()

      // sample == the Scala model: per group, the 8 distinct keys with
      // the smallest md5 hex renderings, in hash order
      val got = sk.collect()
        .map(r => (r.getString(0), r.getInt(3)) -> r.getLong(1)).toMap
      val exp = xs.distinct.groupBy(_._1).flatMap { case (g, ks) =>
        ks.map(_._2).distinct.sortBy(k => (md5hex(k.toString), k)).take(8)
          .zipWithIndex.map { case (k, i) => (g, i + 1) -> k }
      }
      assert(got === exp)

      // semilattice: folding per-shard sketches == sketching the union
      // (shards overlap: a key on both sides must dedupe, not double-fill)
      val (a, b) = xs.splitAt(xs.size / 3)
      val merged = Kmv.merge(Kmv.build(a.toDF("grp", "key"), "grp", "key", 8),
        Kmv.build(b.toDF("grp", "key"), "grp", "key", 8))
      assert(merged.collect().map(r => (r.getString(0), r.getInt(3)) -> r.getLong(1)).toMap
        === got, "merge of shard sketches must equal the whole-data sketch")

      // estimator: k ≥ distinct → exact; k = 8 over ≤ 121 keys → the
      // 4σ bound (σ ≈ 1/sqrt(k-2) ≈ 41%) holds for every sampled stream
      val exactD = xs.distinct.groupBy(_._1).map { case (g, ks) =>
        g -> ks.map(_._2).distinct.size.toDouble
      }
      val estBig = Kmv.estimateDistinct(Kmv.build(df, "grp", "key", 1000))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      exactD.foreach { case (g, d) => assert(estBig(g) === d, s"k≫d must be exact ($g)") }
      val est8 = Kmv.estimateDistinct(sk)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      exactD.foreach { case (g, d) =>
        assert(math.abs(est8(g) - d) <= 4.0 / math.sqrt(6.0) * d + 1.0,
          s"group $g: est ${est8(g)} vs exact $d out of 4σ")
      }
    }

    // mismatched k folds into garbage ranks — must fail loudly
    val s1 = Kmv.build(Seq(("g", 1L)).toDF("grp", "key"), "grp", "key", 4)
    val s2 = Kmv.build(Seq(("g", 2L)).toDF("grp", "key"), "grp", "key", 8)
    intercept[IllegalArgumentException] { Kmv.merge(s1, s2).collect() }
    // (plan shape — WindowGroupLimit + partial distinct agg — is pinned
    // on the real parquet-backed gate in PlanSpec: tiny LocalRelations
    // legitimately skip the group-limit rule)
  }

  test("quantile sample: model parity, merge semilattice, exact below k, random streams") {
    import graft.operators.QuantileSample
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString

    samples(Gen.listOfN(300, Gen.zip(Gen.oneOf("g1", "g2"),
      Gen.zip(Gen.choose(0L, 4000L), Gen.choose(-50.0, 50.0)))), 5)
      .foreach { xs0 =>
        // unique row keys per group (build dedups (grp, key); the model
        // must see the same row set)
        val xs = xs0.map { case (g, (id, v)) => (g, id, v) }
          .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
        val df = xs.toDF("grp", "key", "v")
        val k = 16
        val sk = QuantileSample.build(df, "grp", "key", "v", k)
          .localCheckpoint()

        // sample == the Scala model: k rows with smallest md5(key)
        val got = sk.collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
        val exp = xs.groupBy(_._1).flatMap { case (g, rows) =>
          rows.sortBy(t => (md5hex(t._2.toString), t._2)).take(k)
            .map(t => (g, t._2) -> t._3)
        }
        assert(got === exp)

        // merge of shard sketches == whole-data sketch (semilattice)
        val (a, b) = xs.splitAt(xs.size / 3)
        val merged = QuantileSample.merge(
          QuantileSample.build(a.toDF("grp", "key", "v"), "grp", "key", "v", k),
          QuantileSample.build(b.toDF("grp", "key", "v"), "grp", "key", "v", k))
        assert(merged.collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
          === got)

        // estimate == nearest-rank of the sample values (the model);
        // with k ≥ all rows the sample IS the group → exact data quantile
        for ((sketch, label) <- Seq(
            (sk, "k=16"),
            (QuantileSample.build(df, "grp", "key", "v", 10000), "k≫n"))) {
          val est = QuantileSample
            .estimateQuantiles(sketch, Seq(0.25, 0.5, 0.9))
            .collect()
            .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
            .toMap
          val sample = sketch.collect()
            .map(r => (r.getString(0), r.getDouble(3)))
            .groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2).sorted }
          sample.foreach { case (g, vs) =>
            Seq(0.25, 0.5, 0.9).foreach { q =>
              val r = math.max(1, math.ceil(q * vs.size).toInt)
              assert(est((g, q)) === vs(r - 1), s"$label group $g q=$q")
            }
          }
        }
      }

    // mismatched k fails loudly
    intercept[IllegalArgumentException] {
      QuantileSample.merge(
        QuantileSample.build(Seq(("g", 1L, 1.0)).toDF("grp", "key", "v"),
          "grp", "key", "v", 4),
        QuantileSample.build(Seq(("g", 2L, 2.0)).toDF("grp", "key", "v"),
          "grp", "key", "v", 8)).collect()
    }
  }

  test("KMV overlap estimator: exact below k, model parity above k, random set pairs") {
    import graft.operators.Kmv
    import spark.implicits._

    // k ≥ distinct: the sketches ARE the sets — Ĵ must equal J exactly,
    // across identical / disjoint / partial-overlap / one-sided groups
    val aS = Seq("id" -> 1L, "id" -> 2L, "dj" -> 1L, "pa" -> 1L,
      "pa" -> 2L, "pa" -> 3L, "only_a" -> 9L)
    val bS = Seq("id" -> 1L, "id" -> 2L, "dj" -> 2L, "pa" -> 3L,
      "pa" -> 4L)
    val ovExact = Kmv.estimateOverlap(
        Kmv.build(aS.toDF("grp", "key"), "grp", "key", 64),
        Kmv.build(bS.toDF("grp", "key"), "grp", "key", 64))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(ovExact("id") === ((1.0, 2.0)))              // identical sets
    assert(ovExact("dj") === ((0.0, 0.0)))              // disjoint
    assert(ovExact("pa")._1 === 0.25)                   // |∩|=1, |∪|=4
    assert(ovExact("pa")._2 === 1.0)
    assert(ovExact("only_a") === ((0.0, 0.0)))          // B has no group

    // above k: Ĵ == the literature model computed in Scala — the
    // fraction of bottom-k(A ∪ B) present in both sets — for random
    // overlapping pairs (membership via the sketch must agree with
    // membership via the set: the sub-sketch property)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    samples(Gen.zip(Gen.listOfN(150, Gen.choose(0L, 99L)),
      Gen.listOfN(150, Gen.choose(50L, 149L))), 5).foreach { case (xa, xb) =>
      val (sa, sb) = (xa.distinct.toSet, xb.distinct.toSet)
      val k = 16
      val ov = Kmv.estimateOverlap(
          Kmv.build(xa.map("g" -> _).toDF("grp", "key"), "grp", "key", k),
          Kmv.build(xb.map("g" -> _).toDF("grp", "key"), "grp", "key", k))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val bottomU = (sa ++ sb).toSeq
        .sortBy(x => (md5hex(x.toString), x)).take(k)
      val jModel = bottomU.count(x => sa(x) && sb(x)).toDouble / bottomU.size
      assert(ov("g") === jModel,
        s"overlap estimate must equal the bottom-k(A∪B) membership model")
    }

    // mismatched k propagates merge's loud failure
    intercept[IllegalArgumentException] {
      Kmv.estimateOverlap(
        Kmv.build(Seq(("g", 1L)).toDF("grp", "key"), "grp", "key", 4),
        Kmv.build(Seq(("g", 2L)).toDF("grp", "key"), "grp", "key", 8))
        .collect()
    }
  }

  test("priority sampling: model parity, merge semilattice, DLT estimator, random weights") {
    import graft.operators.PrioritySample
    import spark.implicits._
    def u(key: Long): Double = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(key.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13), 16) / math.pow(2, 52)

    samples(Gen.listOfN(300, Gen.zip(Gen.oneOf("g1", "g2"),
      Gen.zip(Gen.choose(0L, 80L), Gen.choose(1L, 50L)))), 6).foreach { xs =>
      val rows = xs.map { case (g, (k, w)) => (g, k, w) }
      val df = rows.toDF("grp", "key", "w")
      val sk = PrioritySample.build(df, "grp", "key", "w", k = 8)
        .localCheckpoint()

      // model: per group, consolidate to max(w) per key, rank by w/u
      // desc (key tie-break), keep k+1
      val model = rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.groupBy(_._2).view.mapValues(_.map(_._3).max).toSeq
          .sortBy { case (k, w) => (-(w.toDouble / u(k)), k) }.take(9)
          .zipWithIndex.map { case ((k, w), i) => (g, i + 1) -> ((k, w.toDouble)) }
      }
      val got = sk.collect()
        .map(r => (r.getString(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(got === model)

      // semilattice: shard sketches fold to the whole-data sketch, with
      // overlapping shards (same key+weight on both sides must dedupe)
      val (a, b) = rows.splitAt(rows.size / 3)
      val merged = PrioritySample.merge(
        PrioritySample.build(a.toDF("grp", "key", "w"), "grp", "key", "w", 8),
        PrioritySample.build((b ++ a.take(20)).toDF("grp", "key", "w"),
          "grp", "key", "w", 8))
      assert(merged.collect()
        .map(r => (r.getString(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2))))
        .toMap === got, "merge of shard sketches must equal the whole-data sketch")

      // estimator: k ≥ distinct → exact; k = 8 over ≤ 81 keys stays
      // within a generous 4σ-style envelope for every sampled stream
      val exactW = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.groupBy(_._2).view.mapValues(_.map(_._3).max).values.map(_.toDouble).sum
      }
      val estBig = PrioritySample.estimateTotal(
          PrioritySample.build(df, "grp", "key", "w", 1000))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      exactW.foreach { case (g, w) =>
        assert(math.abs(estBig(g) - w) < 1e-6, s"k≫n must be exact ($g)") }
      val est8 = PrioritySample.estimateTotal(sk)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      exactW.foreach { case (g, w) =>
        assert(math.abs(est8(g) - w) <= 0.8 * w,
          s"group $g: est ${est8(g)} vs exact $w out of envelope")
      }
    }

    // mismatched k must fail loudly
    val p1 = PrioritySample.build(Seq(("g", 1L, 2L)).toDF("grp", "key", "w"),
      "grp", "key", "w", 4)
    val p2 = PrioritySample.build(Seq(("g", 2L, 2L)).toDF("grp", "key", "w"),
      "grp", "key", "w", 8)
    intercept[IllegalArgumentException] {
      PrioritySample.merge(p1, p2).collect()
    }

    // merging legitimately-empty shard sketches (a day with zero rows)
    // is the empty sketch, not an error — for all three sketch families
    import graft.operators.{CountMin, Kmv}
    val noRows = Seq.empty[(String, Long, Long)].toDF("grp", "key", "w")
    assert(PrioritySample.merge(
      PrioritySample.build(noRows, "grp", "key", "w", 4),
      PrioritySample.build(noRows, "grp", "key", "w", 4)).count() === 0)
    assert(Kmv.merge(Kmv.build(noRows, "grp", "key", 4),
      Kmv.build(noRows, "grp", "key", 4)).count() === 0)
    assert(CountMin.merge(CountMin.build(noRows.filter(col("key") > 0), "key"),
      CountMin.build(noRows.filter(col("key") > 0), "key")).count() === 0)
  }

  test("HLL sketch: merge == rebuild, parquet round-trip, accuracy, loud lgK mismatch") {
    import graft.operators.Hll
    import spark.implicits._
    // 750 distinct keys per group, each seen multiple times
    val rows = (1L to 4000L).map(i => (if (i % 2 == 0) "g1" else "g2", i % 1500))
    val df = rows.toDF("grp", "key")

    val whole = Hll.build(df, "grp", "key").localCheckpoint()
    // map-side combine is the scale contract: one sketch per group
    // leaves each task, keys never cross the exchange
    assert(Hll.build(df, "grp", "key").queryExecution.executedPlan.toString
      .contains("partial_hll_sketch_agg"),
      "HLL build must partial-aggregate before the shuffle")
    val exact = df.distinct().groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val estW = Hll.estimateDistinct(whole).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (g, d) =>
      assert(math.abs(estW(g) - d) <= 0.05 * d,
        s"group $g: est ${estW(g)} vs exact $d out of 5%")
    }

    // merge of shards == rebuild over the union: registers are
    // per-bucket maxima of the same hash set, identical under any split
    val (a, b) = rows.splitAt(rows.size / 3)
    val estOf = (sk: org.apache.spark.sql.DataFrame) =>
      Hll.estimateDistinct(sk).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(estOf(Hll.merge(
        Hll.build(a.toDF("grp", "key"), "grp", "key"),
        Hll.build(b.toDF("grp", "key"), "grp", "key"))) === estW,
      "merged shard sketches must estimate exactly like the whole-data sketch")

    // the 100 TB story: yesterday's sketch persists to parquet and today's
    // batch folds into it FROM DISK — no re-scan of yesterday's data
    val dir = java.nio.file.Files.createTempDirectory("graft_hll").toString
    Hll.build(a.toDF("grp", "key"), "grp", "key")
      .write.mode("overwrite").parquet(dir)
    assert(estOf(Hll.merge(spark.read.parquet(dir),
        Hll.build(b.toDF("grp", "key"), "grp", "key"))) === estW,
      "a parquet round-trip must not change the fold")

    // mismatched precision must fail loudly at the driver
    val s1 = Hll.build(Seq(("g", 1L)).toDF("grp", "key"), "grp", "key", lgK = 12)
    val s2 = Hll.build(Seq(("g", 2L)).toDF("grp", "key"), "grp", "key", lgK = 14)
    intercept[IllegalArgumentException] { Hll.merge(s1, s2).collect() }

    // empty merge → empty sketch, like the other three families
    val none = Seq.empty[(String, Long)].toDF("grp", "key")
    assert(Hll.merge(Hll.build(none, "grp", "key"),
      Hll.build(none, "grp", "key")).count() === 0)
  }

  test("pruned fold == full fold == counting model, for random value-batch streams with retries") {
    import graft.streaming.{BucketedState, StatsMaintenance}
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("v", LongType), StructField("cnt", LongType),
      StructField(BucketedState.BucketCol, IntegerType)))
    // small value domain: key collisions within batches and co-hashed
    // keys across buckets are guaranteed, exercising the carryover path
    val batchesGen: Gen[List[List[Long]]] = for {
      nb <- Gen.choose(1, 4)
      bs <- Gen.listOfN(nb, Gen.nonEmptyListOf(Gen.choose(0L, 20L)))
    } yield bs
    samples(batchesGen, 4).zipWithIndex.foreach { case (batches, run) =>
      val rootA = java.nio.file.Files
        .createTempDirectory(s"pf_prop_a$run").toString + "/s"
      val rootB = java.nio.file.Files
        .createTempDirectory(s"pf_prop_b$run").toString + "/s"
      batches.zipWithIndex.foreach { case (vs, i) =>
        val rep = StatsMaintenance.update(rootA, vs.toDF("v"), i.toLong)
          .getOrElse(fail(s"run $run batch $i: fresh batch must fold"))
        assert(rep.dirtyBuckets.subsetOf(rep.candidateBuckets),
          s"run $run batch $i: dirty ⊄ candidates")
        // retry fences even when the replayed payload differs (the fence
        // keys on the id, never the content)
        assert(StatsMaintenance.update(rootA,
          Seq(999L).toDF("v"), i.toLong).isEmpty)
        BucketedState.foldCompact(spark, rootB, i.toLong,
          StatsMaintenance.NumBuckets, schema, "v", "stats") { prev =>
          prev.unionByName(
              vs.toDF("v").groupBy("v").agg(count(lit(1)).as("cnt")))
            .groupBy("v").agg(sum(col("cnt")).as("cnt"))
        }
      }
      val model = batches.flatten.groupBy(identity)
        .map { case (k, xs) => k -> xs.size.toLong }
      def vcMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prunedServed = vcMap(StatsMaintenance.valueCounts(spark, rootA))
      val fullServed = vcMap(BucketedState.readState(spark, rootB, schema,
        "stats").select(col("v"), col("cnt")))
      assert(prunedServed === model, s"run $run: pruned fold diverged")
      assert(fullServed === model, s"run $run: full fold diverged")
    }
  }
}
