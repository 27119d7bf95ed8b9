package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Fixtures
import graft.operators.{DedupOps, SimilarityOps, TemporalOps, TextOps}

/** Temporal analytics (as-of join, sessionization, funnel, retention) and
  * the round-7 text-curation additions (repetition signals, boilerplate
  * document frequency).
  */
class TemporalOpsSpec extends SparkTestBase {

  import spark.implicits._

  private def evUs(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))

  private lazy val events = evUs(Fixtures.events(spark, sfDir))

  test("fixture event times are non-negative at every scale (div==floor oracle premise)") {
    // the cell/day/session bucketings use Spark `div` (truncate toward
    // zero) where the oracles use DuckDB `//` (floor) — equal only for
    // ts_us >= 0; a pre-1970 fixture timestamp would silently diverge
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val negatives = evUs(Fixtures.events(spark, s"/root/testdata/$sf"))
        .filter(col("ts_us") < 0).count()
      assert(negatives === 0L, s"$sf: $negatives pre-epoch event times")
    }
  }

  // --- as-of join ------------------------------------------------------

  /** (event_id, user_id, event_type, ts_us) */
  private def mkEvents(rows: (Long, Long, String, Long)*): DataFrame =
    rows.toDF("event_id", "user_id", "event_type", "ts_us")

  test("asof join picks the newest right row at or before each left row") {
    val e = mkEvents(
      (1L, 7L, "click", 100L), (2L, 7L, "click", 200L), (3L, 7L, "click", 350L),
      (10L, 7L, "purchase", 300L), (11L, 7L, "purchase", 50L),
      (12L, 8L, "purchase", 500L))
    val out = TemporalOps.asofJoin(
      e.filter($"event_type" === "purchase"), e.filter($"event_type" === "click"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(5)).map(_.asInstanceOf[Long])))
      .toMap
    assert(out(10L) === (Some(2L), Some(100L))) // newest click <= 300 is ts 200
    assert(out(11L) === (None, None))           // no click at or before 50
    assert(out(12L) === (None, None))           // other user: no clicks at all
  }

  test("asof join is inclusive at equal timestamps and dedups right-side ties by max id") {
    val e = mkEvents(
      (1L, 7L, "click", 300L), (2L, 7L, "click", 300L), // tie: keep id 2
      (10L, 7L, "purchase", 300L))
    val row = TemporalOps.asofJoin(
      e.filter($"event_type" === "purchase"), e.filter($"event_type" === "click"))
      .collect().head
    assert(row.getAs[Long]("asof_event_id") === 2L)
    assert(row.getAs[Long]("gap_us") === 0L)
  }

  test("asof join on the fixture: one row per left event, gaps non-negative") {
    val left = events.filter($"event_type" === "purchase")
    val out = TemporalOps.asofJoin(left, events.filter($"event_type" === "click"))
    assert(out.count() === left.count())
    assert(out.filter($"gap_us" < 0).count() === 0)
    assert(out.filter($"asof_us" > $"ts_us").count() === 0)
  }

  // --- sessionization --------------------------------------------------

  test("session_assign matches the built-in session_window aggregation") {
    // three-way anchor: the streaming op is tied to the batch built-in in
    // StreamOpsSpec; tying the lag/cumsum rewrite to the same built-in
    // locks all three forms together (and this one has a DuckDB oracle)
    val builtin = Fixtures.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n"))
    assertSameRows(TemporalOps.sessionAssign(events), builtin)
  }

  test("session_assign boundary: a gap of exactly the threshold starts a new session") {
    val gap = TemporalOps.SessionGapUs
    val e = mkEvents(
      (1L, 7L, "view", 0L), (2L, 7L, "view", gap - 1), // same session
      (3L, 7L, "view", (gap - 1) + gap))               // exactly gap later: new
    val out = TemporalOps.sessionAssign(e).orderBy("session_start_ms").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("n") === 2L)
    assert(out(1).getAs[Long]("n") === 1L)
    // end = last event + gap, in ms
    assert(out(0).getAs[Long]("session_end_ms") === (gap - 1) / 1000 + gap / 1000)
  }

  test("session_assign matches a naive reference on seeded random data with boundary gaps") {
    val gap = TemporalOps.SessionGapUs
    val rnd = new scala.util.Random(13)
    // gaps drawn AROUND the threshold so exact-boundary splits occur
    val rows = (1 to 6).flatMap { u =>
      var ts = 0L
      (1 to 40).map { i =>
        ts += (rnd.nextInt(5) match {
          case 0 => gap // exactly the threshold: must split
          case 1 => gap + rnd.nextInt(1000)
          case _ => rnd.nextInt(1000) + 1
        })
        ((u * 100 + i).toLong, u.toLong, "view", ts)
      }
    }
    val out = TemporalOps.sessionAssign(mkEvents(rows: _*))
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("session_start_ms"),
        r.getAs[Long]("session_end_ms"), r.getAs[Long]("n")))
      .toSet
    // naive: walk each user's sorted timeline, split at diff >= gap
    val expected = rows.groupBy(_._2).flatMap { case (u, es) =>
      val ts = es.map(_._4).sorted
      val sessions = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
        if (t - acc.head.head >= gap) List(t) :: acc
        else (t :: acc.head) :: acc.tail
      }
      sessions.map { s =>
        (u, s.min / 1000, s.max / 1000 + gap / 1000, s.size.toLong)
      }
    }.toSet
    assert(out === expected)
  }

  test("funnel matches a naive reference on seeded random data") {
    val rnd = new scala.util.Random(99)
    val stages = TemporalOps.FunnelStages
    val rows = (1L to 500L).map { id =>
      (id, (rnd.nextInt(12) + 1).toLong, stages(rnd.nextInt(3)), rnd.nextInt(100).toLong)
    }
    val out = TemporalOps.funnelConversion(mkEvents(rows: _*), stages)
      .collect().map(r => r.getAs[Int]("stage") -> r.getAs[Long]("n_users")).toMap
    // naive fold: earliest completion frontier per stage
    var frontier: Map[Long, Long] = rows.filter(_._3 == stages.head)
      .groupBy(_._2).view.mapValues(_.map(_._4).min).toMap
    val expected = scala.collection.mutable.Map(1 -> frontier.size.toLong)
    for ((st, i) <- stages.zipWithIndex.drop(1)) {
      frontier = rows.filter(_._3 == st)
        .flatMap { case (_, u, _, ts) =>
          frontier.get(u).filter(ts >= _).map(_ => u -> ts)
        }
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      expected(i + 1) = frontier.size.toLong
    }
    assert(out === expected.toMap)
  }

  // --- range join ------------------------------------------------------

  test("range join counts exactly the neighbors inside the band, including boundaries") {
    val h = TemporalOps.RangeJoinHalfUs
    val e = mkEvents(
      (10L, 7L, "purchase", 1000000L),
      // clicks at: exactly -h (in), -h-1 (out), 0 (in), +h (in), +h+1 (out)
      (1L, 7L, "click", 1000000L - h), (2L, 7L, "click", 1000000L - h - 1),
      (3L, 7L, "click", 1000000L), (4L, 7L, "click", 1000000L + h),
      (5L, 7L, "click", 1000000L + h + 1),
      // other user's click never counts
      (6L, 8L, "click", 1000000L),
      // purchase with no clicks at all survives with 0
      (11L, 9L, "purchase", 5L))
    val out = TemporalOps.rangeJoinCount(
      e.filter($"event_type" === "purchase"), e.filter($"event_type" === "click"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_near")).toMap
    assert(out === Map(10L -> 3L, 11L -> 0L))
  }

  test("range join matches a naive reference on seeded random data") {
    val rnd = new scala.util.Random(7)
    val h = TemporalOps.RangeJoinHalfUs
    val rows = (1L to 300L).map { id =>
      (id, (rnd.nextInt(5) + 1).toLong,
        if (rnd.nextBoolean()) "purchase" else "click",
        math.abs(rnd.nextLong()) % (20L * h)) // spans many cells
    }
    val df = mkEvents(rows: _*)
    val out = TemporalOps.rangeJoinCount(
      df.filter($"event_type" === "purchase"), df.filter($"event_type" === "click"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_near")).toMap
    val clicks = rows.filter(_._3 == "click")
    for ((id, u, t, ts) <- rows if t == "purchase") {
      val expected = clicks.count(c => c._2 == u && math.abs(c._4 - ts) <= h).toLong
      assert(out(id) === expected, s"purchase $id")
    }
    assert(out.size === rows.count(_._3 == "purchase"))
  }

  // --- funnel ----------------------------------------------------------

  test("funnel stages are ordered: events before the prior stage don't count") {
    val e = mkEvents(
      // user 1 completes in order: view@10 click@20 purchase@30
      (1L, 1L, "view", 10L), (2L, 1L, "click", 20L), (3L, 1L, "purchase", 30L),
      // user 2 clicks BEFORE viewing: click must not count
      (4L, 2L, "click", 5L), (5L, 2L, "view", 10L),
      // user 3 purchases before clicking: purchase must not count
      (6L, 3L, "view", 10L), (7L, 3L, "purchase", 15L), (8L, 3L, "click", 20L))
    val out = TemporalOps.funnelConversion(e, TemporalOps.FunnelStages)
      .collect().map(r => r.getAs[Int]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(out === Map(1 -> 3L, 2 -> 2L, 3 -> 1L))
  }

  test("funnel counts are monotone non-increasing on the fixture") {
    val ns = TemporalOps.funnelConversion(events, TemporalOps.FunnelStages)
      .orderBy("stage").collect().map(_.getAs[Long]("n_users"))
    assert(ns.length === 3)
    assert(ns.sliding(2).forall { case Array(a, b) => a >= b })
  }

  // --- retention -------------------------------------------------------

  test("retention cohort: offset 0 counts every cohort member; offsets non-negative") {
    val out = TemporalOps.retentionCohort(events)
    assert(out.filter($"day_offset" < 0).count() === 0)
    val day0 = out.filter($"day_offset" === 0)
      .agg(sum("n_users")).collect().head.getLong(0)
    assert(day0 === events.select("user_id").distinct().count())
  }

  test("retention cohort on a constructed timeline") {
    val day = 86400000000L
    val e = mkEvents(
      (1L, 1L, "view", 0L), (2L, 1L, "view", day + 1), (3L, 1L, "view", 3 * day),
      (4L, 2L, "view", day), (5L, 2L, "view", day + 5)) // two events, one day
    val out = TemporalOps.retentionCohort(e)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_users")).toMap
    assert(out === Map((0L, 0L) -> 1L, (0L, 1L) -> 1L, (0L, 3L) -> 1L, (1L, 0L) -> 1L))
  }

  // --- repetition signals ----------------------------------------------

  private def mkDocs(rows: (Long, String)*): DataFrame =
    rows.map { case (id, t) => (id, t, "und", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("repetition fractions on constructed docs") {
    val out = TextOps.textRepetition(mkDocs(
      (1L, "a a a a a"),          // 5 tokens, 4 dup words; 4 2-grams all "a a" -> 3 dup; 1 5-gram
      (2L, "b c d e f"),          // all distinct
      (3L, "x")))                 // single token: no 2-grams, no 5-grams
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Double]("dup_word_frac") === 0.8)
    assert(r1.getAs[Double]("dup_2gram_frac") === 0.75)
    assert(r1.getAs[Double]("dup_5gram_frac") === 0.0)
    assert(!r1.getAs[Boolean]("keep"))
    val r2 = out(2L)
    assert(r2.getAs[Double]("dup_word_frac") === 0.0)
    assert(r2.getAs[Boolean]("keep"))
    val r3 = out(3L)
    assert(r3.getAs[Int]("n_tokens") === 1)
    assert(r3.getAs[Double]("dup_2gram_frac") === 0.0)
  }

  test("repetition: the native dup_fracs kernel matches the composable HOF form") {
    // value-for-value on fixture docs PLUS constructed edges (empty-ish,
    // single-token, all-identical) — the kernel is the production path,
    // the HOF chain is the numerics reference
    val docs = Fixtures.documents(spark, sfDir)
      .unionByName(mkDocs((900001L, "z"), (900002L, "q q q q q q q"),
        (900003L, "one two one two one two one")))
    assertSameRows(TextOps.textRepetition(docs), TextOps.textRepetitionHof(docs))
  }

  test("repetition on the fixture: fractions in [0,1], both verdicts occur") {
    val out = TextOps.textRepetition(Fixtures.documents(spark, sfDir))
    for (c <- Seq("dup_word_frac", "dup_2gram_frac", "dup_5gram_frac"))
      assert(out.filter(col(c) < 0 || col(c) > 1).count() === 0, c)
    assert(out.filter($"keep").count() > 0)
    assert(out.filter(!$"keep").count() > 0)
  }

  test("dup_fracs kernel matches a plain-Scala reference on arbitrary token arrays") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.{Gen, Prop}
    def ref(w: Seq[String], len: Int): Double = {
      val m = w.size - len + 1
      if (m <= 0) 0.0
      else (m - w.sliding(len).filter(_.size == len).toSeq.distinct.size).toDouble / m
    }
    // tiny alphabet on purpose: maximizes duplicate n-grams
    val arrGen = Gen.listOf(Gen.oneOf("a", "b", "c", "aa", "x1", ""))
    val prop = Prop.forAll(arrGen) { w =>
      val row = graft.functions.DupFracs.compute(
        new GenericArrayData(w.map(UTF8String.fromString).toArray[Any]))
      row.getInt(0) == w.size &&
        row.getDouble(1) == ref(w, 1) &&
        row.getDouble(2) == ref(w, 2) &&
        row.getDouble(3) == ref(w, 5)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("asof join matches a naive reference on seeded random data with ts collisions") {
    val rnd = new scala.util.Random(42)
    val rows = (1L to 400L).map { id =>
      (id, (rnd.nextInt(8) + 1).toLong,
        if (rnd.nextBoolean()) "purchase" else "click", rnd.nextInt(50).toLong)
    }
    val df = mkEvents(rows: _*)
    val out = TemporalOps.asofJoin(
      df.filter($"event_type" === "purchase"), df.filter($"event_type" === "click"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    val clicks = rows.filter(_._3 == "click")
    for ((id, u, t, ts) <- rows if t == "purchase") {
      val cands = clicks.filter(c => c._2 == u && c._4 <= ts)
      val expected =
        if (cands.isEmpty) None
        else {
          val maxTs = cands.map(_._4).max
          Some(cands.filter(_._4 == maxTs).map(_._1).max)
        }
      assert(out(id) === expected, s"purchase $id")
    }
  }

  test("repetition digests a 100k-token adversarial document (linear, not quadratic)") {
    val text = Seq.tabulate(100000)(i => s"w${i % 37}").mkString(" ")
    val row = TextOps.textRepetition(mkDocs((1L, text))).collect().head
    assert(row.getAs[Int]("n_tokens") === 100000)
    assert(row.getAs[Double]("dup_word_frac") === (100000 - 37).toDouble / 100000)
    // 5-grams of a period-37 sequence: all windows starting at the same
    // residue are identical -> distinct = 37
    assert(row.getAs[Double]("dup_5gram_frac") === (99996 - 37).toDouble / 99996)
  }

  // --- LM perplexity ---------------------------------------------------

  test("LM perplexity: frequent-token docs score higher than rare/OOV docs") {
    // corpus: "common" dominates; doc 2 is all common tokens, doc 3 all
    // singletons — the unigram LM must rank 2 above 3; a doc of tokens
    // never in the top-V vocabulary floors below both
    val docs = mkDocs(
      (1L, Seq.fill(50)("common").mkString(" ")),
      (2L, "common common common common"),
      (3L, "rare1 rare2 rare3 rare4"))
    val out = TextOps.textLmPerplexity(docs)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("avg_logp")).toMap
    assert(out(2L) > out(3L))
    // all scores are finite negatives
    out.values.foreach(v => assert(v < 0 && !v.isNaN && !v.isInfinite))
  }

  test("LM perplexity: out-of-vocabulary tokens score exactly the floor") {
    // vocabSize=2 forces OOV: counts a=3, b=3, z=2 -> vocab {a, b}; the
    // all-"z" doc must score the floor
    val docs = mkDocs((1L, "a a a b b b"), (2L, "z z"))
    val total = 8L // token instances across both docs
    val floor = BigDecimal(math.log(0.5 / total))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = TextOps.textLmPerplexity(docs, vocabSize = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("avg_logp")).toMap
    assert(out(2L) === floor) // all-OOV doc: mean of 3 floors = floor
    assert(out(1L) > floor)   // in-vocab tokens lift doc 1 above it
  }

  test("LM perplexity: native logp_sum kernel matches the composable HOF fold") {
    val docs = Fixtures.documents(spark, sfDir).limit(50)
    val toks = docs.select(col("doc_id"),
      split(trim(lower(col("text"))), "\\s+").as("w"))
    // a small scoring map over the fixture vocabulary + a floor
    val mp = Map("key" -> -1.25, "table" -> -2.5, "row" -> -0.75)
    val floor = -9.123456
    val fused = toks.select(col("doc_id"),
      call_function("logp_sum", col("w"), typedlit(mp), lit(floor)).as("s"))
    val hof = toks.select(col("doc_id"),
      aggregate(
        transform(col("w"), t => coalesce(element_at(typedlit(mp), t), lit(floor))),
        lit(0.0), (a, v) => a + v).as("s"))
    assertSameRows(fused, hof)
  }

  test("quality classifier: native hash_weight_sum matches the composable HOF fold") {
    val docs = Fixtures.documents(spark, sfDir).limit(50)
    val toks = docs.select(col("doc_id"),
      split(trim(lower(col("text"))), "\\s+").as("w"))
    val w = TextOps.QlrWeights
    val fused = toks.select(col("doc_id"),
      call_function("hash_weight_sum", col("w"), typedlit(w)).as("s"))
    val hof = toks.select(col("doc_id"), TextOps.hashWeightSumHof(w).as("s"))
    assertSameRows(fused, hof)
  }

  test("lm2: native backoff_sum matches the composable two-level HOF fold") {
    val docs = Fixtures.documents(spark, sfDir).limit(50)
    val toks = docs.select(col("doc_id"),
      split(trim(lower(col("text"))), "\\s+").as("w"))
    // small synthetic model exercising all three branches on real text
    val bv = Map("the big" -> -1.25, "a small" -> -0.5)
    val uv2 = Map("query" -> -2.25, "the" -> -1.5)
    val floor2 = -5.75
    val fused = toks.select(col("doc_id"),
      call_function("backoff_sum", col("w"), typedlit(bv), typedlit(uv2),
        lit(floor2)).as("s"))
    val hof = toks.select(col("doc_id"), TextOps.lm2Hof(bv, uv2, floor2).as("s"))
    assertSameRows(fused, hof)
  }

  test("lm2 on the fixture: bigram backoff scores every doc, in-vocab pairs beat the floor") {
    val docs = Fixtures.documents(spark, sfDir)
    val out = TextOps.textLm2Score(docs).collect()
    assert(out.length === docs.count())
    val scores = out.map(_.getAs[Double]("avg_logp2"))
    assert(scores.forall(s => s <= 0.0), "log-probs must be non-positive")
    // the fixture's shared vocabulary means top-K bigrams cover real
    // pairs: scores must spread, not sit at the uniform floor
    assert(scores.distinct.length > 10, s"degenerate: ${scores.distinct.length}")
    // the bigram model orders docs differently from the unigram model
    // somewhere (otherwise the backoff table is dead weight)
    val uni = TextOps.textLmPerplexity(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logp")).toMap
    val pairs = out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("avg_logp2")))
    val disagree = pairs.combinations(2).take(20000).exists { case Array(a, b) =>
      (a._2 - b._2) * (uni(a._1) - uni(b._1)) < 0
    }
    assert(disagree, "bigram ranking never disagrees with unigram ranking")
  }

  test("ccnet: tiers partition the corpus and order strictly by LM score") {
    val docs = Fixtures.documents(spark, sfDir)
    val out = TextOps.ccnetTiers(docs).collect()
      .map(r => r.getAs[String]("tier") -> r.getAs[Double]("avg_logp"))
    assert(out.length === docs.count())
    val byTier = out.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(byTier.keySet === Set("head", "middle", "tail"))
    // threshold labeling means tier value-ranges cannot interleave
    assert(byTier("head").min >= byTier("middle").max)
    assert(byTier("middle").min >= byTier("tail").max)
    // terciles: each tier holds roughly a third (ties can skew a little)
    val n = out.length.toDouble
    byTier.values.foreach(v => assert(v.length > n / 6 && v.length < n / 2,
      byTier.view.mapValues(_.length).toMap))
  }

  test("lr_fit: full model table, deterministic, and gradient descent actually descends") {
    val docs = Fixtures.documents(spark, sfDir)
    val fit = TextOps.qualityLrFit(docs).collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Double]("weight")).toMap
    assert(fit.keySet === (0 until TextOps.QlrBuckets).toSet)
    assert(fit.values.exists(_ != 0.0), "fit never moved off zero-init")
    // deterministic: refit is identical (md5 features, exact updates)
    val again = TextOps.qualityLrFit(docs).collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Double]("weight")).toMap
    assert(fit === again)
    // full-batch logistic loss under the fitted weights beats zero-init
    // (zero weights score p = 0.5 everywhere: loss exactly ln 2)
    // L = ln(1 + e^-s) + (1-y)s, the algebraic form of
    // -[y ln p + (1-y) ln(1-p)] with p = sigmoid(s)
    def loss(w: Seq[Double]): Double = {
      val tokCol = split(trim(lower(col("text"))), "\\s+")
      val withQ = TextOps.textQualityScore(docs).select(
        (col("quality") > graft.operators.LlmOps.QualityThreshold)
          .cast("double").as("y"), col("doc_id"))
      val s = call_function("hash_weight_sum", tokCol, typedlit(w)) /
        size(tokCol).cast("double")
      docs.select(col("doc_id"), s.as("s")).join(withQ, "doc_id")
        .select((log(lit(1.0) + exp(negate(col("s")))) +
          (lit(1.0) - col("y")) * col("s")).as("l"))
        .agg(avg(col("l"))).collect()(0).getDouble(0)
    }
    val w = (0 until TextOps.QlrBuckets).map(fit)
    val l0 = loss(Seq.fill(TextOps.QlrBuckets)(0.0))
    val l2 = loss(w)
    assert(math.abs(l0 - math.log(2.0)) < 1e-9, s"zero-init loss $l0")
    assert(l2 < l0, s"fit did not descend: $l2 >= $l0")
  }

  test("quality classifier on the fixture: one verdict per doc, both classes present") {
    val docs = Fixtures.documents(spark, sfDir)
    val out = TextOps.qualityClassifier(docs)
    assert(out.count() === docs.count())
    // centered stand-in weights split the fixture: a one-sided verdict
    // would mean the score or threshold degenerated
    val keeps = out.filter(col("keep")).count()
    assert(keeps > 0 && keeps < out.count(), s"keeps=$keeps")
  }

  test("LM perplexity on the fixture: one score per doc, vocabulary covers the corpus") {
    val docs = Fixtures.documents(spark, sfDir)
    val out = TextOps.textLmPerplexity(docs)
    assert(out.count() === docs.count())
    // 31-word fixture vocabulary is far under the cap: no OOV floor hits,
    // so every score is bounded by the best and worst in-vocab log-prob
    val scores = out.select("avg_logp").collect().map(_.getDouble(0))
    assert(scores.forall(s => s > -20 && s < 0))
  }

  // --- boilerplate -----------------------------------------------------

  test("boilerplate: a gram present in every doc is flagged, rare grams are not") {
    // 10 docs sharing the prefix "the quick fox", each with a unique tail
    val docs = mkDocs((1L to 10L).map(i =>
      i -> s"the quick fox tail$i more$i words$i here$i"): _*)
    val out = TextOps.docBoilerplate(docs).collect()
    assert(out.length === 10)
    // every doc contains the shared 3-gram exactly once -> bp_grams >= 1
    out.foreach { r =>
      assert(r.getAs[Long]("bp_grams") >= 1L, r)
      assert(r.getAs[Double]("bp_frac") > 0.0)
      assert(r.getAs[Double]("bp_frac") <= 1.0)
    }
  }

  test("boilerplate: df floor keeps a 2-doc overlap unflagged") {
    val docs = mkDocs(
      (1L, "shared triple here unique1 a b"),
      (2L, "shared triple here unique2 c d"),
      (3L, "totally different words x y z"))
    // "shared triple here" has df=2 < BpDfMin=3 -> nothing flagged
    val out = TextOps.docBoilerplate(docs)
    assert(out.filter($"bp_grams" > 0).count() === 0)
  }

  test("boilerplate on the fixture: fractions bounded, some docs flagged") {
    val out = TextOps.docBoilerplate(Fixtures.documents(spark, sfDir))
    assert(out.count() === Fixtures.documents(spark, sfDir).count())
    assert(out.filter($"bp_frac" < 0 || $"bp_frac" > 1).count() === 0)
    assert(out.filter($"bp_grams" > $"n_grams").count() === 0)
  }

  // --- incremental dedup -----------------------------------------------


  test("incremental dedup: a planted new-batch duplicate of a base doc is found") {
    // find ids beyond the fixture range on both sides of the bucket rule
    val newId = Iterator.from(1000000).map(_.toLong)
      .find(md5BucketOf(_) < DedupOps.IncrementPermille).get
    val base = Fixtures.documents(spark, sfDir)
      .filter(col("doc_id") === 3L).collect().head.getAs[String]("text")
    val docs = Fixtures.documents(spark, sfDir)
      .unionByName(mkDocs((newId, base))) // exact copy of doc 3 as a new doc
    val out = DedupOps.docIncrementalDedup(docs)
    val planted = out.filter($"new_doc" === newId).collect()
    // doc 3 must appear among its base-side dups (bucket side depends on
    // doc 3's own bucket — assert on the planted doc's pairing with it)
    if (md5BucketOf(3L) >= DedupOps.IncrementPermille) {
      assert(planted.exists(r => r.getAs[Long]("base_doc") === 3L &&
        r.getAs[Double]("jaccard") === 1.0), planted.mkString(","))
    }
    // every pair is strictly cross: new side in the increment, base side not
    out.collect().foreach { r =>
      assert(md5BucketOf(r.getAs[Long]("new_doc")) < DedupOps.IncrementPermille, r)
      assert(md5BucketOf(r.getAs[Long]("base_doc")) >= DedupOps.IncrementPermille, r)
      assert(r.getAs[Double]("jaccard") >= DedupOps.JaccardThreshold)
    }
  }

  test("incremental dedup emits no new-new or base-base pairs on the fixture") {
    val out = DedupOps.docIncrementalDedup(Fixtures.documents(spark, sfDir)).collect()
    out.foreach { r =>
      assert(md5BucketOf(r.getAs[Long]("new_doc")) < DedupOps.IncrementPermille)
      assert(md5BucketOf(r.getAs[Long]("base_doc")) >= DedupOps.IncrementPermille)
    }
  }

  // --- int8 quantization -----------------------------------------------

  test("int8 quantization: max element hits ±127, error bounded by scale/2, zero vector safe") {
    val emb = Fixtures.embeddings(spark, sfDir)
      .unionByName(Seq((999999L, Seq.fill(64)(0.0f), 0))
        .toDF("vec_id", "embedding", "label"))
    val out = SimilarityOps.embeddingQuantizeInt8(emb).collect()
    assert(out.length === emb.count())
    out.foreach { r =>
      val q: Seq[Int] = r.getSeq[Int](r.fieldIndex("qvec"))
      val scale = r.getAs[Double]("scale")
      val mse = r.getAs[Double]("mse")
      assert(q.forall(v => v >= -127 && v <= 127), r)
      if (r.getAs[Long]("vec_id") == 999999L) {
        assert(scale === 1.0 && q.forall(_ == 0) && mse === 0.0)
      } else {
        assert(q.exists(v => math.abs(v) == 127), r) // max-magnitude dim saturates
        // round() guarantees per-element error <= scale/2
        assert(mse <= scale * scale / 4 + 1e-12, r)
      }
    }
  }
}
