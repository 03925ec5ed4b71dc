package graft

import graft.operators.{Events, TextAnalysis}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class TextEventsSpec extends SparkSpec {
  import spark.implicits._

  test("knBigramTop: hand-computed Kneser-Ney quarters/ppm on a tiny corpus") {
    // bigrams: (a,b)x3, (b,a)x1, (b,c)x1 -> T=3 types
    // ctx a: cw=3, n1c=1; ctx b: cw=2, n1c=2
    // cont b: 1 ({a}); cont a: 1 ({b}); cont c: 1 ({b})
    val docs = Seq((1L, "a b a b c"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.knBigramTop(docs)
      .as[(String, String, Long, Long)].collect().toSeq
    // (a,b): (4*3-3)*1e6 // 12 = 750000; + 3*1*1*1e6 // (4*3*3) = 83333
    // (b,a)/(b,c): (4-3)*1e6 // 8 = 125000; + 3*2*1*1e6 // (4*2*3) = 250000
    assert(got == Seq(
      ("a", "b", 3L, 833333L),
      ("b", "a", 1L, 375000L),
      ("b", "c", 1L, 375000L)), s"got $got")
    // discounted mass bookkeeping for context b: the two observed
    // continuations carry 0.25 direct + 0.75·(2/3) continuation = 0.75;
    // the remaining 0.25 is the backoff mass KN reserves for the unseen
    // continuation (w2 = c with Pcont 1/3)
    val pb = got.filter(_._1 == "b").map(_._4).sum
    assert(pb == 750000L, s"got $pb")
  }

  test("tokenStats counts tokens/chars and exact mean token length") {
    val docs = Seq((1L, "ab cde f", "en")).toDF("doc_id", "text", "lang")
    val r = TextAnalysis.tokenStats(docs).as[(Long, Long, Long, Double)].head()
    assert(r == ((1L, 3L, 8L, 2.0))) // tokens ab,cde,f; 8 chars; mean len 6/3
  }

  test("langId guesses by stopword hits with declaration-order tie-break") {
    val docs = Seq(
      (1L, "the cat and the dog is here", "en"),
      (2L, "der hund und die katze ist da", "de"),
      (3L, "xyzzy plugh foobar", "en")              // no stopwords -> und
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langId(docs)
      .select("doc_id", "guess").as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "und")
  }

  test("qualityScore flags short and punctuation-heavy docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over it", "en"),
      (2L, "hi", "en"),                              // too short
      (3L, "a.. b,, c!! d?? e;; f::", "en")          // punct-heavy
    ).toDF("doc_id", "text", "lang")
    val keep = TextAnalysis.qualityScore(docs)
      .select("doc_id", "keep").as[(Long, Long)].collect().toMap
    assert(keep(1L) == 1L && keep(2L) == 0L && keep(3L) == 0L)
  }

  test("repetitionStats: repeated tokens and 2-grams, exact fixed-point ratio") {
    val docs = Seq(
      (1L, "a a a b", "en"),   // 4 toks, 2 distinct, top=3; 2-grams: aa,aa,ab -> 1 repeat
      (2L, "x y z", "en"),     // no repetition
      (3L, "w", "en")          // sub-2-token doc: slot count = shingle count = 1
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.repetitionStats(docs).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 2L, 3L, 1L, 500000L),
      (2L, 3L, 3L, 1L, 0L, 1000000L),
      (3L, 1L, 1L, 1L, 0L, 1000000L)))
  }

  test("decontaminate counts benchmark shingle overlap and flags the crossers") {
    import graft.operators.Dedup
    val bench = Seq((100L, "the quick brown fox jumps", "en")).toDF("doc_id", "text", "lang")
    val docs = Seq(
      (1L, "the quick brown fox ran", "en"),  // shares 2 of its 3 shingles
      (2L, "totally different words here", "en")
    ).toDF("doc_id", "text", "lang")
    val got = Dedup.decontaminate(docs, bench, n = 3, thrNum = 1, thrDen = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    // doc 1: shingles {the quick brown, quick brown fox, brown fox ran};
    // bench has {the quick brown, quick brown fox, brown fox jumps} -> 2 shared,
    // 2*2 >= 3*1 -> contaminated
    assert(got == Seq((1L, 3L, 2L, 1L), (2L, 2L, 0L, 0L)))
  }

  test("fingerprint is order-sensitive content identity") {
    val docs = Seq(
      (1L, "alpha beta gamma", "en"),
      (2L, "alpha beta gamma", "en"),
      (3L, "gamma beta alpha", "en")
    ).toDF("doc_id", "text", "lang")
    val fp = TextAnalysis.fingerprint(docs).as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("sessionize splits on gaps > 30min per user") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      (1L, ts(0), 7L, "view", 1.0, "{}"),
      (2L, ts(10), 7L, "click", 1.0, "{}"),
      (3L, ts(70), 7L, "view", 1.0, "{}"),   // 60min gap -> new session
      (4L, ts(5), 8L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.sessionize(ev)
      .select("user_id", "session_id", "n_events").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == Set((7L, 1L, 2L), (7L, 2L, 1L), (8L, 1L, 1L)))
  }

  test("cusum: closed form equals the textbook recursion; planted shift alarms") {
    def ts(d: Long) = new Timestamp(1700000000000L + d * 86400000L)
    // 14 flat days then a sustained +10.00 level shift
    val rows = (0 until 21).map(d =>
      (d.toLong, ts(d), 7L, "v", if (d < 14) 10.0 else 20.0, "{}"))
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.cusum(ev).orderBy("day_us").collect()
    assert(got.length == 21)
    // the window closed form must equal s_i = max(0, s_{i-1} + dev) exactly
    var sPos = 0L; var sNeg = 0L
    got.foreach { r =>
      val dev = r.getLong(1)
      sPos = math.max(0L, sPos + dev)
      sNeg = math.max(0L, sNeg - dev)
      assert(r.getLong(2) == sPos && r.getLong(3) == sNeg,
        s"closed form diverged at day_us ${r.getLong(0)}")
    }
    // the sustained shift drives the positive chart over threshold by the end
    assert(got.last.getBoolean(5) && got.last.getLong(2) > got.last.getLong(4))
    assert(!got.head.getBoolean(5)) // day one can't alarm
  }

  test("sourceChi2: identical sources score 0; disjoint pairs use the closed form") {
    val docs = Seq(
      (1L, "a b c", "en", "s1", 5L),
      (2L, "a b c", "en", "s2", 5L),  // s1 ≡ s2
      (3L, "x y z", "en", "s3", 5L)   // disjoint from both
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.sourceChi2(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.size == 3) // all pairs present, including the disjoint ones
    assert(got(("s1", "s2")) == ((3L, 3L, 3L, 0L)))
    // disjoint, Na = Nb = 3: chi2_num = 9·3 + 9·3 = 54; zero shared tokens
    assert(got(("s1", "s3")) == ((3L, 3L, 0L, 54L)))
    assert(got(("s2", "s3")) == ((3L, 3L, 0L, 54L)))
  }

  test("anomaliesMad: integer med/MAD grains, only the planted outlier flagged") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    // 10 steady values 10.00..10.09 + one 50.00 spike (11 events >= minHistory)
    val rows = (0 until 10).map(i =>
      (i.toLong, ts(i), 7L, "v", 10.0 + i * 0.01, "{}")) :+
      (99L, ts(99), 7L, "v", 50.0, "{}")
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.anomaliesMad(ev).collect()
    assert(got.length == 1 && got.head.getLong(0) == 99L)
    // cents 1000..1009,5000 -> median 1005 -> med2 2010; devs (half-cents)
    // |2c-2010|: 10,8,6,4,2,0,2,4,6,8,7990 -> sorted median 6 -> mad4 12
    assert(got.head.getLong(3) == 2010L && got.head.getLong(4) == 12L)
    assert(got.head.getLong(5) == 7990L) // the spike's half-cent deviation
  }

  test("stickiness: trailing windows count exact distinct users; ratios bounded") {
    def ts(d: Long) = new Timestamp(1700000000000L + d * 86400000L)
    val ev = Seq(
      (1L, ts(0), 7L, "view", 1.0, "{}"),   // day D
      (2L, ts(0), 8L, "view", 1.0, "{}"),
      (3L, ts(3), 7L, "view", 1.0, "{}"),   // day D+3: user 7 again
      (4L, ts(3), 9L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d0 = 1700000000000L / 86400000L
    val got = Events.stickiness(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // day D: dau {7,8}=2; trailing wau/mau = same 2 (nothing earlier)
    assert(got(d0) == ((2L, 2L, 2L, 1000000L, 1000000L)))
    // day D+3: dau {7,9}=2; wau = {7,8,9}=3 (day-D activity still inside
    // the 7-day window); mau = 3
    assert(got(d0 + 3) == ((2L, 3L, 3L, 666666L, 666666L)))
    assert(got.size == 2) // only observed days appear
  }

  test("funnelLatency: chained first-qualifying deltas, exact median at .5 grain") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      // user 7: view@0 -> click@10 (lat 10min) -> purchase@30 (lat 20min)
      (1L, ts(0), 7L, "view", 1.0, "{}"),
      (2L, ts(10), 7L, "click", 1.0, "{}"),
      (3L, ts(30), 7L, "purchase", 1.0, "{}"),
      // user 8: view@0 -> click@5 (lat 5min); no purchase
      (4L, ts(0), 8L, "view", 1.0, "{}"),
      (5L, ts(5), 8L, "click", 1.0, "{}"),
      // user 9: click only — never enters the funnel
      (6L, ts(0), 9L, "click", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.funnelLatency(ev).orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val mUs = 60000000L
    // median of {5min, 10min} = 7.5min = 450e6 µs -> d10 = 4.5e9
    assert(got(0) == ((1L, "view", "click", 2L, 5 * mUs, 10 * mUs, 15 * mUs,
      4500000000L)))
    assert(got(1) == ((2L, "click", "purchase", 1L, 20 * mUs, 20 * mUs,
      20 * mUs, 20 * mUs * 10)))
  }

  test("transitions: session-bounded consecutive pairs, ppm rows sum sanely") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      (1L, ts(0), 7L, "view", 1.0, "{}"),
      (2L, ts(1), 7L, "click", 1.0, "{}"),
      (3L, ts(2), 7L, "view", 1.0, "{}"),
      (4L, ts(90), 7L, "buy", 1.0, "{}"),   // >30min gap: view->buy NOT counted
      (5L, ts(0), 8L, "view", 1.0, "{}"),
      (6L, ts(1), 8L, "click", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.transitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // view->click twice (both users), click->view once; no view->buy bridge
    assert(got(("view", "click")) == (2L, 1000000L))
    assert(got(("click", "view")) == (1L, 1000000L))
    assert(!got.contains(("view", "buy")))
    assert(got.size == 2)
    // ppm normalization: each from-row's probabilities sum to <= 1e6 with
    // integer-floor slack below the number of to-cells
    got.groupBy(_._1._1).foreach { case (_, cells) =>
      val tot = cells.values.map(_._2).sum
      assert(tot <= 1000000L && tot > 1000000L - cells.size)
    }
  }

  test("ohlc: deterministic open/close under timestamp ties, exact extremes") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      (1L, ts(0), 7L, "v", 10.0, "{}"),
      (2L, ts(0), 7L, "v", 20.0, "{}"),  // same ts as id 1 -> id breaks tie
      (3L, ts(10), 7L, "v", 5.0, "{}"),
      (4L, ts(90), 7L, "v", 7.0, "{}")   // next hour bucket
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.ohlc(ev).orderBy("win_us")
      .select("user_id", "open_cents", "close_cents", "high_cents",
        "low_cents", "n")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((7L, 1000L, 500L, 2000L, 500L, 3L),
      (7L, 700L, 700L, 700L, 700L, 1L)))
  }

  test("gapFill: dense per-user spine, carry-forward closes, gaps flagged") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      (1L, ts(0), 7L, "v", 10.0, "{}"),
      (2L, ts(5), 7L, "v", 12.0, "{}"),  // later in same hour -> close 12
      (3L, ts(130), 7L, "v", 5.0, "{}"), // 2 hours later -> 1-hour gap
      (4L, ts(0), 8L, "v", 3.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.gapFill(ev).orderBy("user_id", "hr")
      .select("user_id", "filled_cents", "is_gap")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((7L, 1200L, 0L), (7L, 1200L, 1L), (7L, 500L, 0L),
      (8L, 300L, 0L)))
  }

  test("lagFeatures: lag/delta/gap/rolling per user in event-time order") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      (1L, ts(0), 7L, "v", 10.0, "{}"),
      (2L, ts(1), 7L, "v", 12.0, "{}"),
      (3L, ts(2), 7L, "v", 5.0, "{}"),
      (4L, ts(0), 8L, "v", 3.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.lagFeatures(ev).orderBy("user_id", "ts_us")
      .select("user_id", "lag1_cents", "delta_cents", "gap_us",
        "roll_sum_cents", "n_roll")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (7L, -1L, -1L, -1L, 1000L, 1L),
      (7L, 1000L, 200L, 60000000L, 2200L, 2L),
      (7L, 1200L, -700L, 60000000L, 2700L, 3L),
      (8L, -1L, -1L, -1L, 300L, 1L)))
  }

  test("windowAgg buckets into epoch-aligned hours") {
    val ev = Tables.readEvents(spark, sf("0.001"))
    val r = Events.windowAgg(ev)
    // every bucket start is hour-aligned and counts add up to the table size
    val aligned = r.filter(col("win_us") % (3600L * 1000000L) =!= 0).count()
    assert(aligned == 0)
    assert(r.agg(sum("n")).as[Long].head() == ev.count())
  }

  test("anomalies flags exactly the planted spike, baseline excludes self") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    // user 7: 12 steady events at 10.00, then one 500.00 spike; the spike's
    // baseline is the 12 prior events (sd > 0 needs a little jitter)
    val steady = (0 until 12).map(i =>
      (i.toLong, ts(i), 7L, "view", if (i % 2 == 0) 10.0 else 10.02, "{}"))
    val spike = Seq((99L, ts(60), 7L, "view", 500.0, "{}"))
    // user 8: too little history — never flagged, even with a spike
    val cold = Seq((201L, ts(0), 8L, "view", 10.0, "{}"),
      (202L, ts(1), 8L, "view", 900.0, "{}"))
    val ev = (steady ++ spike ++ cold)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.anomalies(ev).as[(Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == Seq(99L), s"got ${got.toSeq}")
    val (_, user, _, n, z) = got.head
    assert(user == 7L && n == 12L, "baseline = the 12 prior events, not itself")
    assert(z > 3000000L, s"spike z must clear 3 sigma by far, got $z")
    // determinism under repartitioning (fixed-point frame sums)
    val again = Events.anomalies(ev.repartition(5))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(again.toSeq == got.toSeq)
  }

  test("jsonStats extracts props.k for every event type") {
    val r = Events.jsonStats(Tables.readEvents(spark, sf("0.001")))
      .as[(String, Long, Long, Double)].collect()
    assert(r.map(_._2).sum == 1000)
    r.foreach { case (_, n, sumK, avgK) => assert(avgK == sumK.toDouble / n) }
  }

  test("chunk: overlapping fixed-size token windows with a short tail") {
    val docs = Seq((1L, (1 to 7).map(i => f"t$i%02d").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.chunk(docs, chunkSize = 4, stride = 3)
      .orderBy("chunk_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 4L, "t01 t02 t03 t04"),
      (1L, 1L, 4L, "t04 t05 t06 t07"),  // overlap of chunkSize - stride = 1
      (1L, 2L, 1L, "t07")))             // short tail chunk
    // chunk count over real docs: ceil(n_tokens / stride) rows per doc
    val real = Tables.read(spark, sf("0.001"), "documents")
    val n = TextAnalysis.chunk(real).groupBy("doc_id").count()
      .join(TextAnalysis.tokenStats(real), "doc_id")
      .filter(col("count") =!= ceil(col("n_tokens") / 24.0)).count()
    assert(n == 0)
  }

  test("topkTokens: deterministic frequency head with text tie-break") {
    val docs = Seq((1L, "b a b c a b", "en"), (2L, "c d", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.topkTokens(docs, k = 3)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("b", 3L), ("a", 2L), ("c", 2L))) // a before c on ties
  }

  test("tfidf ranks rare-but-frequent terms above corpus-wide ones") {
    val docs = Seq(
      (1L, "rare rare common other", "en"),
      (2L, "common other filler words", "en"),
      (3L, "common things entirely new", "en")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.tfidf(docs, k = 2)
      .select("doc_id", "rnk", "token", "tf", "df", "score_e6")
      .as[(Long, Long, String, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // doc 1: "rare" (tf=2, df=1) beats "other" (tf=1, df=2) beats "common" (df=3)
    assert(got(1L) == Seq("rare", "other"))
    // doc 1 "rare": score = 2*3*1e6/1
    val rareScore = TextAnalysis.tfidf(docs, k = 2)
      .filter($"doc_id" === 1L && $"token" === "rare")
      .select("score_e6").as[Long].head()
    assert(rareScore == 6000000L)
  }

  test("bm25: saturated tf ranking against the top-term query, hand-checked") {
    val docs = Seq(
      (1L, "a a b", "en"),   // dl=3, tf(b)=1
      (2L, "a c", "en"),     // dl=2, no b -> absent from the result
      (3L, "b b b c", "en")  // dl=4, tf(b)=3
    ).toDF("doc_id", "text", "lang")
    // query = top-1 token: b (cnt 4 beats a's 3); N=3, total_len=9, df(b)=2
    // idf_r = 1.5/2.5 = 0.6
    // d3: 0.6 * (3*2.2) / (3 + 1.2*(0.25 + 0.75*4*3/9)) = 0.6*6.6/4.5 = 0.88
    // d1: 0.6 * (1*2.2) / (1 + 1.2*(0.25 + 0.75*3*3/9)) = 0.6*2.2/2.2 = 0.60
    val got = TextAnalysis.bm25(docs, nTerms = 1, k = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 4L, 1L, 880000L), (2L, 1L, 3L, 1L, 600000L)))
    // real fixture: k docs back, ranks contiguous, scores non-increasing
    val real = TextAnalysis.bm25(Tables.read(spark, sf("0.001"), "documents"))
      .orderBy("rnk").as[(Long, Long, Long, Long, Long)].collect()
    assert(real.length == 10 && real.map(_._1).toSeq == (1L to 10L))
    assert(real.sliding(2).forall(p => p(0)._5 >= p(1)._5))
  }

  test("dsirScore ranks in-target-domain docs above out-of-domain ones") {
    val docs = Seq(
      (1L, "q q", "en", "a_src"),   // the target domain (min source)
      (2L, "q r", "en", "b_src"),
      (3L, "r r r", "en", "b_src")
    ).toDF("doc_id", "text", "lang", "source")
    // q: corpus 3 / target 2 -> bitlen(3)-bitlen(4) = -1
    // r: corpus 4 / target 0 -> bitlen(1)-bitlen(5) = -2
    val got = TextAnalysis.dsirScore(docs)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 2L, -2L, -1000000L))
    assert(got(2L) == (2L, 2L, -3L, -1500000L))
    assert(got(3L) == (3L, 3L, -6L, -2000000L))
    // the in-domain doc scores strictly highest
    assert(got(1L)._4 > got(2L)._4 && got(2L)._4 > got(3L)._4)
  }

  test("stratifiedSample keeps exactly ceil(n/5) docs per language, deterministically") {
    val docs = Tables.read(spark, sf("0.001"), "documents")
    val sample = TextAnalysis.stratifiedSample(docs)
    val perLang = sample.groupBy("lang").count()
      .join(docs.groupBy("lang").count().withColumnRenamed("count", "total"), "lang")
      .as[(String, Long, Long)].collect()
    assert(perLang.nonEmpty)
    perLang.foreach { case (lang, kept, total) =>
      assert(kept == (total + 4) / 5, s"$lang: kept $kept of $total")
    }
    // pure function of the data: identical under a different partitioning
    val again = TextAnalysis.stratifiedSample(docs.repartition(7))
      .select("doc_id").as[Long].collect().toSet
    assert(again == sample.select("doc_id").as[Long].collect().toSet)
  }

  test("funnel: stage windows chain from each user's previous completion") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      // user 7 completes all three stages inside the windows
      (1L, ts(0), 7L, "view", 1.0, "{}"),
      (2L, ts(30), 7L, "click", 1.0, "{}"),
      (3L, ts(60), 7L, "purchase", 1.0, "{}"),
      // user 8 clicks too late (25h after the view)
      (4L, ts(0), 8L, "view", 1.0, "{}"),
      (5L, ts(25 * 60), 8L, "click", 1.0, "{}"),
      // user 9: purchase BEFORE the click doesn't count; none after
      (6L, ts(0), 9L, "view", 1.0, "{}"),
      (7L, ts(10), 9L, "purchase", 1.0, "{}"),
      (8L, ts(20), 9L, "click", 1.0, "{}"),
      // user 10 never views; the click alone can't enter the funnel
      (9L, ts(0), 10L, "click", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.funnel(ev)
      .select("stage", "users").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
  }

  test("funnel stage windows restart at the min qualifying event, not any") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    // click at +10min and +23h50min; purchase at +24h30min: within 24h of the
    // SECOND click but the stage-2 completion is the FIRST click, so stage 3
    // misses its window.
    val ev = Seq(
      (1L, ts(0), 7L, "view", 1.0, "{}"),
      (2L, ts(10), 7L, "click", 1.0, "{}"),
      (3L, ts(23 * 60 + 50), 7L, "click", 1.0, "{}"),
      (4L, ts(24 * 60 + 30), 7L, "purchase", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.funnel(ev)
      .select("stage", "users").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 0L))
  }

  test("retention: week cohorts from first signup; offsets count active weeks") {
    val weekMs = 7L * 86400L * 1000L
    def ts(w: Long, m: Long = 0) = new Timestamp(w * weekMs + m * 60000L)
    val ev = Seq(
      (1L, ts(100), 7L, "signup", 1.0, "{}"),   // cohort week 100
      (2L, ts(100, 30), 7L, "click", 1.0, "{}"),  // active offset 0
      (3L, ts(102), 7L, "view", 1.0, "{}"),       // active offset 2
      (4L, ts(101), 8L, "signup", 1.0, "{}"),   // cohort week 101
      (5L, ts(108), 8L, "view", 1.0, "{}"),       // offset 7 > max: dropped
      (6L, ts(99), 9L, "view", 1.0, "{}")       // never signs up: no cohort
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.retention(ev)
      .as[(Long, Long, Long)].collect().toSet
    // user 7: signup itself makes offset 0 active; also offset 2
    // user 8: only the signup week within range
    assert(got == Set((100L, 0L, 1L), (100L, 2L, 1L), (101L, 0L, 1L)))
  }

  test("asofJoin: latest right-side event at or before, per user") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      (1L, ts(0), 7L, "purchase", 1.0, "{}"),
      (2L, ts(5), 7L, "click", 1.0, "{}"),    // -> purchase @0
      (3L, ts(9), 7L, "purchase", 1.0, "{}"),
      (4L, ts(9), 7L, "click", 1.0, "{}"),    // same instant matches (>=)
      (5L, ts(20), 7L, "click", 1.0, "{}"),   // -> purchase @9
      (6L, ts(3), 8L, "click", 1.0, "{}")     // no purchase -> NULL
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.asofJoin(ev)
      .select("event_id", "asof_us").as[(Long, Option[Long])].collect().toMap
    def us(m: Long) = (1700000000000L + m * 60000L) * 1000L
    assert(got == Map(2L -> Some(us(0)), 4L -> Some(us(9)),
      5L -> Some(us(9)), 6L -> None))
  }

  test("observe: the quality gate reports kept/dropped counts in-flight") {
    // production pipelines need stage telemetry WITHOUT a second scan —
    // df.observe rides the existing pass and surfaces named metrics
    val docs = Tables.read(spark, sf("0.001"), "documents")
    val obs = new org.apache.spark.sql.Observation("quality_gate")
    val gated = TextAnalysis.qualityScore(docs, minTokens = 25)
      .observe(obs, count(lit(1)).as("n_total"),
        sum(col("keep")).as("n_kept"))
      .filter(col("keep") === 1)
    val kept = gated.count()
    val m = obs.get
    assert(m("n_total") == docs.count())
    assert(m("n_kept") == kept)
    assert(kept > 0 && kept < m("n_total").asInstanceOf[Long],
      "the gate must be consequential on this corpus")
  }

  test("packBatches fills fixed token budgets by per-lang prefix sum") {
    val docs = Seq(
      (1L, "a b c", "en"),             // 3 tokens, prefix 0 -> batch 0
      (2L, "d e f", "en"),             // prefix 3 -> batch 0
      (3L, "g h i", "en"),             // prefix 6 -> batch 1
      (4L, "a b c d e f g", "de"),     // 7 > budget, prefix 0 -> batch 0 (straddles)
      (5L, "x", "de")                  // prefix 7 -> batch 1
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.packBatches(docs, budget = 5)
      .select("doc_id", "batch_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 1L))
  }

  test("langIdNgram guesses by char-trigram hits; windows span word breaks") {
    val docs = Seq(
      (1L, "the thing and the nation", "en"),     // the/ing/and/ion
      (2L, "der schnelle und einfache", "de"),    // der/sch/und/ein
      (3L, "xq zz qqq", "fr"),                    // nothing scores -> und
      (4L, "ab", "en")                            // sub-trigram doc -> und
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langIdNgram(docs)
      .select("doc_id", "guess", "hit").as[(Long, String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("en", 1L)))
    assert(got(2L) == (("de", 1L)))
    assert(got(3L) == (("und", 0L)))
    assert(got(4L) == (("und", 0L)))
  }

  test("piiRedact: counts and rewrites emails, phones, IPs; leaves clean text alone") {
    val docs = Seq(
      (1L, "mail a.user+tag@sub.example.org and b@x.co, call +1-555-0199, from 192.168.0.1"),
      (2L, "no pii here, just words and 42 numbers"),
      (3L, "two ips 10.0.0.1 8.8.8.8 one phone +49-030-1234 end")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.piiRedact(docs)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(r(0) == ((1L, 2L, 1L, 1L,
      "mail <EMAIL> and <EMAIL>, call <PHONE>, from <IP>")))
    assert(r(1) == ((2L, 0L, 0L, 0L, "no pii here, just words and 42 numbers")))
    assert(r(2) == ((3L, 0L, 1L, 2L, "two ips <IP> <IP> one phone <PHONE> end")))
  }

  test("mixCorpus: budgets fill in doc order; straddler kept; unbudgeted sources drop") {
    // web budget 5: doc 1 (3 tok) fits, doc 2 (4 tok) straddles the
    // boundary (preceding 3 < 5 -> kept), doc 3 starts past it -> dropped.
    // wiki budget 2: first doc alone exceeds it but its preceding count is
    // 0 < 2 -> kept, nothing after. books has no budget row -> contributes 0.
    val docs = Seq(
      (1L, "web", "a b c"), (2L, "web", "d e f g"), (3L, "web", "h"),
      (10L, "wiki", "long doc of five tokens"), (11L, "wiki", "x"),
      (20L, "books", "never sampled")
    ).toDF("doc_id", "source", "text")
    val budgets = Seq(("web", 5L), ("wiki", 2L)).toDF("source", "budget")
    val got = TextAnalysis.mixCorpus(docs, budgets)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "web", 3L, 3L), (2L, "web", 4L, 7L), (10L, "wiki", 5L, 5L)))
  }

  test("bigramLm is order-sensitive where unigramLm is not") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "mat the on sat cat the"), // same token multiset, shuffled
      (3L, "the cat sat on the mat"), // exact duplicate of 1
      (4L, "solo")                    // no bigram at all
    ).toDF("doc_id", "text")
    val uni = TextAnalysis.unigramLm(docs)
      .select("doc_id", "avg_bits_e6").as[(Long, Long)].collect().toMap
    assert(uni(1L) == uni(2L), "unigram score ignores order by design")
    val bi = TextAnalysis.bigramLm(docs)
      .select("doc_id", "n_bigrams", "avg_bits_e6")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(bi(1L) == bi(3L), "identical docs score identically")
    // docs 1/3 share every bigram (cnt 2 → 2 bits); doc 2's shuffled
    // bigrams are corpus-unique (cnt 1 → 1 bit): order drops the score
    assert(bi(1L)._2 == 2000000L && bi(2L)._2 == 1000000L,
      s"got ${bi(1L)} vs ${bi(2L)}")
    assert(bi(4L) == ((0L, 0L)), "a one-token doc has zero bigrams, score 0")
  }

  test("epochAllocation waterfills ascending; caps small sources; spends the rest") {
    // tiny=2 tok, mid=10 tok, big=40 tok; budget 30, cap 3 epochs.
    // walk ascending: tiny fair=30/3=10, capped at 2*3=6 -> alloc 6 (3.0 ep)
    //                 mid  fair=24/2=12, capped at 10*3=30 -> alloc 12 (1.2 ep)
    //                 big  fair=12/1=12, cap 120 -> alloc 12 (0.3 ep)
    val docs = Seq(
      (1L, "tiny", "a b"),
      (2L, "mid", "a b c d e f g h i j"),
      (3L, "big", ("w " * 39).trim + " z")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.epochAllocation(docs, budget = 30L, maxEpochs = 3)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      ("big", 40L, 12L, 300000L),
      ("mid", 10L, 12L, 1200000L),
      ("tiny", 2L, 6L, 3000000L)), s"got ${got.toSeq}")
    // a budget above total*cap leaves every source at exactly the cap
    val capped = TextAnalysis.epochAllocation(docs, budget = 1000L, maxEpochs = 2)
      .as[(String, Long, Long, Long)].collect()
    assert(capped.forall(r => r._3 == r._2 * 2 && r._4 == 2000000L))
  }

  test("removeBoilerplate strips over-df lines; all-boilerplate doc empties") {
    val docs = Seq(
      (1L, "nav menu\nunique one\nfooter"),
      (2L, "nav menu\nunique two\nfooter"),
      (3L, "nav menu\nfooter")).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplate(docs, maxDf = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    // nav menu (df 3) and footer (df 3) exceed the cap; uniques survive
    assert(got == Seq(
      (1L, 3L, 1L, "unique one"),
      (2L, 3L, 1L, "unique two"),
      (3L, 2L, 0L, "")))
  }

  test("dedupParagraphs keeps only the (doc_id,pos)-first copy of each line") {
    val docs = Seq(
      (1L, "shared\nown a\nshared"),   // intra-doc repeat: pos 3 dropped
      (2L, "shared\nown b")).toDF("doc_id", "text")
    val got = TextAnalysis.dedupParagraphs(docs)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 2L, "shared\nown a"),
      (2L, 2L, 1L, "own b")))
  }

  test("unigramLm scores bitlen of corpus counts; exact e6 mean") {
    // corpus counts: a->4 (3 bits), b->2 (2 bits), c->1 (1 bit), d->1 (1 bit)
    val docs = Seq(
      (1L, "a a b c"),                 // bits 3+3+2+1 = 9, avg 2.25e6
      (2L, "a a b d")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLm(docs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 4L, 9L, 2250000L), (2L, 4L, 9L, 2250000L)))
  }

  test("bpeTrain learns deterministic merges; apply is leftmost non-overlapping") {
    val docs = Seq((1L, "aa ab aa aaa")).toDF("doc_id", "text")
    // word freqs: aa->2, ab->1, aaa->1
    // char-pair counts: (a,a) = 2 (aa x2) + 2 (aaa has two slots) = 4; (a,b) = 1
    val merges = TextAnalysis.bpeTrain(docs, 3)
    assert(merges(0) == TextAnalysis.BpeMerge(1, "a", "a", 4))
    // after merge 1: aa->[aa], ab->[a,b], aaa->[aa,a] (leftmost-first, no
    // overlap: the middle 'a' cannot merge twice). Remaining pairs tie at 1;
    // ("a","b") orders before ("aa","a")
    assert(merges(1) == TextAnalysis.BpeMerge(2, "a", "b", 1))
    assert(merges(2) == TextAnalysis.BpeMerge(3, "aa", "a", 1))
    // pair space exhausts gracefully: single-char words offer nothing to
    // merge, and a fully-merged corpus stops before nMerges
    assert(TextAnalysis.bpeTrain(Seq((1L, "a b c a")).toDF("doc_id", "text"), 3).isEmpty)
    assert(TextAnalysis.bpeTrain(Seq((1L, "ab ab")).toDF("doc_id", "text"), 5)
      == Seq(TextAnalysis.BpeMerge(1, "a", "b", 2)))  // freq-weighted: ab ×2
  }

  test("bpeSegment applies the learned merges to the whole vocabulary") {
    val docs = Seq((1L, "aa ab aa aaa")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, 3)
    val got = TextAnalysis.bpeSegment(docs, merges)
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // merges: (a,a) -> (a,b) -> (aa,a); final segmentations follow the
    // leftmost non-overlapping apply at every step
    assert(got == Map(
      "aa" -> (2L, 1L, "aa"),
      "ab" -> (1L, 1L, "ab"),
      "aaa" -> (1L, 1L, "aaa")))
    // fewer merges leave partial segmentations (and n_syms counts them)
    val one = TextAnalysis.bpeSegment(docs, merges.take(1))
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    assert(one("aaa") == (2L, "aa a") && one("ab") == (2L, "a b"))
  }

  test("attribution: exact ppm split, remainder to the last touch, window bounds") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: three in-window clicks -> 333334/333333/333333
      (1L, 1L, "click", "2024-01-01 08:00:00"),
      (2L, 1L, "click", "2024-01-01 09:00:00"),
      (3L, 1L, "click", "2024-01-01 10:00:00"),
      (4L, 1L, "purchase", "2024-01-01 10:00:00"), // same instant counts
      // user 2: one click in window, one outside (25h earlier)
      (5L, 2L, "click", "2024-01-01 09:00:00"),
      (6L, 2L, "click", "2024-01-02 08:00:00"),
      (7L, 2L, "purchase", "2024-01-02 10:00:00"),
      // user 3: purchase with no clicks -> absent from output
      (8L, 3L, "purchase", "2024-01-01 10:00:00")
    ).map { case (e, u, t, s) => (e, u, t, ts(s)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.operators.Events.attribution(ev)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val byPurchase = got.groupBy(_._2)
    assert(byPurchase.keySet == Set(4L, 7L))
    // per-purchase credit sums to exactly 1e6
    assert(byPurchase.values.forall(_.map(_._6).sum == 1000000L))
    val p4 = byPurchase(4L).map(r => r._3 -> (r._5, r._6)).toMap
    assert(p4 == Map(3L -> (1L, 333334L), 2L -> (2L, 333333L),
      1L -> (3L, 333333L)))
    assert(byPurchase(7L).map(_._3).toSeq == Seq(6L)) // the 25h click is out
  }

  test("lengthBucketBatches: bitlen buckets, deterministic fill, exact pad ppm") {
    val docs = Seq(
      (1L, "a"), (2L, "b"),                 // 1 token  -> bucket 1
      (3L, "a b"), (4L, "a b c"),           // 2, 3     -> bucket 2
      (5L, "a b c d e f g")                 // 7        -> bucket 3
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lengthBucketBatches(docs, batchSize = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    assert(got == Map(
      (1L, 0L) -> (2L, 1L, 2L, 0L),              // two 1-token docs, no pad
      (2L, 0L) -> (2L, 3L, 5L, 166666L),         // (6-5)*1e6 div 6
      (3L, 0L) -> (1L, 7L, 7L, 0L)))
    // census covers every doc exactly once
    val real = TextAnalysis.lengthBucketBatches(
      Tables.read(spark, sf("0.001"), "documents"))
    assert(real.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0) == 500L)
  }

  test("shardBalanced: round-robin LPT keeps shard token mass within one max doc") {
    val docs = Tables.read(spark, sf("0.001"), "documents")
    val n = 8
    val masses = TextAnalysis.shardBalanced(docs, n)
      .groupBy("shard").agg(org.apache.spark.sql.functions.sum("n_tok").as("m"))
      .as[(Long, Long)].collect().toMap
    assert(masses.keySet == (0L until n).toSet)  // every shard populated
    val maxDoc = TextAnalysis.shardBalanced(docs, n)
      .agg(org.apache.spark.sql.functions.max("n_tok")).as[Long].head()
    assert(masses.values.max - masses.values.min <= maxDoc,
      s"imbalance ${masses.values.max - masses.values.min} > max doc $maxDoc")
  }

  test("urlFilter: blocklisted domains drop; unparseable URLs survive") {
    val docs = Seq(
      (1L, "https://a.bad.example.com/x"),
      (2L, "https://a.good.example.org/y"),
      (3L, "not a url at all")).toDF("doc_id", "url")
    val block = Seq("bad.example.com").toDF("domain")
    val got = TextAnalysis.urlFilter(docs, block)
      .select("doc_id", "domain").as[(Long, String)].collect().toMap
    assert(got.keySet == Set(2L, 3L))      // 1 blocked; 3 unparseable kept
    assert(got(2L) == "good.example.org" && got(3L) == "")
  }

  test("profile: per-column rows/nulls/distinct in one scan, schema-dynamic") {
    val df = Seq(
      (1L, Some("x"), 1.5), (2L, None, 1.5), (3L, Some("y"), 2.0))
      .toDF("id", "s", "v")
    val got = graft.operators.Profiling.profile(df)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("id", 3L, 0L, 3L), ("s", 3L, 1L, 2L), ("v", 3L, 0L, 2L)))
  }

  test("noveltyScore: first contributor gets full ppm; an exact copy gets zero") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en"),
      (2L, "alpha beta gamma delta", "en"),       // every shingle seen at 1
      (3L, "totally different words here", "en")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.noveltyScore(docs)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 2L, 1000000L)))
    assert(got(2L) == ((2L, 2L, 0L, 0L)))
    assert(got(3L) == ((3L, 2L, 2L, 1000000L)))
  }

  test("sentenceStats: terminator runs split; no terminator = one sentence") {
    val docs = Seq(
      (1L, "One two. Three!! Four? ", "en"),
      (2L, "no terminator here", "en"),
      (3L, "...", "en")                            // only terminators
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.sentenceStats(docs)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 16L, 7L)))         // "One two","Three","Four"
    assert(got(2L) == ((2L, 1L, 18L, 18L)))
    assert(got(3L) == ((3L, 0L, 0L, 0L)))
  }

  test("balanceByLang: every language keeps exactly the min per-language count") {
    val docs = Seq(
      (1L, "a", "en"), (2L, "b", "en"), (3L, "c", "en"),
      (10L, "d", "de"), (11L, "e", "de"),
      (20L, "f", "fr"), (21L, "g", "fr"), (22L, "h", "fr"), (23L, "i", "fr")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.balanceByLang(docs)
      .select("lang", "doc_id").as[(String, Long)].collect().toSeq
    assert(got.groupBy(_._1).view.mapValues(_.size).toMap ==
      Map("en" -> 2, "de" -> 2, "fr" -> 2))
    // deterministic doc_id order: the LOWEST ids survive per language
    assert(got.toSet ==
      Set(("en", 1L), ("en", 2L), ("de", 10L), ("de", 11L),
        ("fr", 20L), ("fr", 21L)))
  }

  test("qualityQuantileGate keeps docs at/above their source's median tokens") {
    def words(k: Int) = Seq.fill(k)("w").mkString(" ")
    val docs = Seq(
      (1L, words(1), "sA"), (2L, words(2), "sA"), (3L, words(3), "sA"),
      (4L, words(2), "sB"), (5L, words(4), "sB")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.qualityQuantileGate(docs)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    // sA median 2 -> docs 2,3 pass; sB even count -> median 3.0 -> doc 5 only
    assert(got == Map(2L -> ((2L, 20L)), 3L -> ((3L, 20L)),
      5L -> ((4L, 30L))))
  }

  test("abTest: hand-computed z² on a tiny design; degenerate designs " +
      "emit null instead of tripping ANSI") {
    import spark.implicits._
    import java.sql.Timestamp
    def ev(u: Long, t: String, n: Int) =
      (1 to n).map(i => (u * 100 + i, new Timestamp(1700000000000L + i), u, t, 1.0, "{}"))
    // arm 0 = even users, arm 1 = odd; conv = purchases > views
    val rows = (ev(2L, "purchase", 3) ++ ev(2L, "view", 1) ++ // conv
      ev(4L, "purchase", 1) ++ ev(4L, "view", 2) ++ // not
      ev(1L, "purchase", 2) ++ ev(1L, "view", 1) ++ // conv
      ev(3L, "purchase", 2)) // conv (0 views)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.operators.Events.abTest(rows).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 1L, 2L, 2L)))
    assert(r.getLong(4) == 500000L && r.getLong(5) == 1000000L)
    // p = 3/4; z² = (1/2 - 1)² / (3/4 · 1/4 · (1/2 + 1/2)) = 4/3
    assert(r.getLong(6) == 1333333L, s"z2_e6 = ${r.getLong(6)}")
    // degenerate: every user converts -> pooled variance 0 -> null z²
    val allConv = (ev(1L, "purchase", 2) ++ ev(2L, "purchase", 2))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(graft.operators.Events.abTest(allConv).head().isNullAt(6))
  }

  test("diffInDiff: hand-computed effect and t² on a 2×2 design; a " +
      "single-user arm nulls t² but keeps the effect") {
    import spark.implicits._
    import java.sql.Timestamp
    def ev(u: Long, day: Int, v: Double) =
      (u * 100 + day, Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"),
        u, "purchase", v, "{}")
    // ctrl (even users): diffs +10.00, +20.00 → mean 15; treat (odd):
    // +30.00, +50.00 → mean 40 → DiD = 25.00
    val rows = Seq(
      ev(0L, 3, 10.0), ev(0L, 20, 20.0),   // d = +1000 cents
      ev(2L, 3, 10.0), ev(2L, 20, 30.0),   // d = +2000
      ev(1L, 3, 10.0), ev(1L, 20, 40.0),   // d = +3000
      ev(3L, 3, 10.0), ev(3L, 20, 60.0))   // d = +5000
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.operators.Events.diffInDiff(rows).head()
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert((r.getLong(2), r.getLong(3)) == ((3000L, 8000L)))
    assert(r.getAs[Long]("did_e6") == 25000000L)
    // var d: ctrl = ((1000²+2000²) − 3000²/2)/1/1e4 = 50 $²; treat =
    // ((3000²+5000²) − 8000²/2)/1/1e4 = 200 $²; SE² = 200/2 + 50/2 = 125;
    // t² = 625/125 = 5
    assert(r.getAs[Long]("t2_e6") == 5000000L, s"t2 = ${r.getAs[Long]("t2_e6")}")
    // one user per arm: effect defined, variance not → t² null
    val tiny = Seq(ev(0L, 3, 10.0), ev(0L, 20, 20.0),
        ev(1L, 3, 10.0), ev(1L, 20, 40.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val t = graft.operators.Events.diffInDiff(tiny).head()
    assert(t.getAs[Long]("did_e6") == 20000000L && t.isNullAt(5))
  }

  test("powerMde: closed-form sample size at a hand-built 50% rate; larger " +
      "effects need fewer users; an alternative rate at 1 yields null") {
    import spark.implicits._
    import java.sql.Timestamp
    def ev(id: Long, u: Long, t: String) =
      (id, new Timestamp(1700000000000L + id), u, t, 1.0, "{}")
    // u1 converts (2 purchases > 1 view), u2 does not → p = 1/2
    val rows = Seq(ev(1, 1, "purchase"), ev(2, 1, "purchase"), ev(3, 1, "view"),
        ev(4, 2, "purchase"), ev(5, 2, "view"), ev(6, 2, "view"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.operators.Events.powerMde(rows,
        mdePcts = Seq(10, 20, 50, 100))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))))
      .toMap
    val z = 1.959963984540054 + 0.8416212335729143
    val z2 = z * z
    def expected(mde: Double): Long = {
      val p = 0.5; val p2 = p * (1.0 + mde); val d = p * mde
      math.ceil(z2 * (p * (1.0 - p) + p2 * (1.0 - p2)) / (d * d)).toLong
    }
    Seq(10, 20, 50).foreach { m =>
      val (pb, pa, n) = got(m.toLong)
      assert(pb == 500000L && pa == (500000L + m * 5000L) &&
        n.contains(expected(m / 100.0)), s"mde $m: $got")
    }
    // monotone: a bigger detectable effect needs fewer users
    assert(got(10L)._3.get > got(20L)._3.get &&
      got(20L)._3.get > got(50L)._3.get)
    // p2 = 1.0 at mde 100%: a proportion test cannot see it → null
    assert(got(100L)._3.isEmpty, s"got $got")
  }

  test("kAnonLattice: lattice climbs past per-source suppression, chosen " +
      "is the lowest qualifying level, impossible k flags nothing") {
    import spark.implicits._
    // (en, s1) has 10 docs, (en, s2) only 2 — levels 0 and 1 must
    // suppress the s2 class (2 rows > the 5% budget of a 12-row corpus);
    // level 2 wildcards source and merges everyone into one 12-row class
    val docs = ((1L to 10L).map(i => (i, "en", "s1", 100L)) ++
      Seq((11L, "en", "s2", 100L), (12L, "en", "s2", 100L)))
      .toDF("doc_id", "lang", "source", "n_chars")
    val got = graft.operators.TextAnalysis.kAnonLattice(docs)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (0L, 2L, 2L, 2L, 0L), (1L, 2L, 2L, 2L, 0L),
      (2L, 1L, 12L, 0L, 1L), (3L, 1L, 12L, 0L, 0L)), got.mkString(","))
    // k larger than the corpus: every level suppresses everything, no
    // level is flagged (the -1 sentinel)
    val none = graft.operators.TextAnalysis.kAnonLattice(docs, k = 20)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(none.forall(_._5 == 0L), none.mkString(","))
  }

  test("bootstrapCi: constant corpus collapses the band, empty conversion " +
      "set is the zero row, thresholds strictly monotone") {
    import spark.implicits._
    import java.sql.Timestamp
    def ev(id: Long, u: Long, minute: Int, t: String) =
      (id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), u, t, 1.0, "{}")
    // 20 purchases all at value 1.00: every replicate mean is exactly
    // 100 cents * 1e4 (a zero-total-weight replicate would need all 20
    // Poisson draws = 0 — the deterministic LCG draws don't do that), so
    // the order-statistic band collapses onto the point estimate
    val rows = (1L to 20L).map(i => ev(i, i, (i % 60).toInt, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.operators.Events.bootstrapCi(rows)
      .as[(Long, Long, Long, Long)].head()
    assert(got == ((20L, 1000000L, 1000000L, 1000000L)), s"got $got")
    val none = graft.operators.Events.bootstrapCi(
      rows.withColumn("event_type", lit("view")))
      .as[(Long, Long, Long, Long)].head()
    assert(none == ((0L, 0L, 0L, 0L)), s"got $none")
    val t = graft.operators.Events.BootPoissonThresholds
    assert(t.size == 8 && t == t.sorted && t.distinct == t &&
      t.head > 0 && t.last < graft.operators.Events.BootLcgM, t.toString)
  }

  test("attributionShapley: hand-computed two-channel values, negative " +
      "credit, efficiency, and the taxonomy guards") {
    import spark.implicits._
    import java.sql.Timestamp
    def ev(id: Long, u: Long, minute: Int, t: String) =
      (id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), u, t, 1.0, "{}")
    // exposure sets: u1 {a}+conv, u2 {a}, u3 {b}, u4 {a,b}+conv, u5 {}+conv
    // v(∅)=1e6, v(a)=500000, v(b)=0, v(ab)=1e6; C=2 so scale = 2! = 2:
    // φ_a·2 = (v(a)−v(∅)) + (v(ab)−v(b)) =  500000
    // φ_b·2 = (v(b)−v(∅)) + (v(ab)−v(a)) = −500000  (negative is real)
    val rows = Seq(
      ev(1, 1, 0, "a"), ev(2, 1, 1, "purchase"),
      ev(3, 2, 0, "a"), ev(4, 3, 0, "b"),
      ev(5, 4, 0, "a"), ev(6, 4, 1, "b"), ev(7, 4, 2, "purchase"),
      ev(8, 5, 0, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.operators.Events.attributionShapley(rows, Seq("a", "b"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map("a" -> ((3L, 500000L)), "b" -> ((2L, -500000L))),
      s"got $got")
    // efficiency at the scaled grain: Σφ·C! = C!·(v(full) − v(∅)) = 0 here
    assert(got.values.map(_._2).sum == 0L)
    // taxonomy guards: unsorted channels and a conv-as-channel both refuse
    intercept[IllegalArgumentException] {
      graft.operators.Events.attributionShapley(rows, Seq("b", "a"))
    }
    intercept[IllegalArgumentException] {
      graft.operators.Events.attributionShapley(rows, Seq("a", "purchase"))
    }
  }

  test("attributionMarkov: a channel that gates every conversion takes all " +
      "the credit; a never-converting channel takes none") {
    import spark.implicits._
    import java.sql.Timestamp
    def ev(id: Long, u: Long, minute: Int, t: String) =
      (id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), u, t, 1.0, "{}")
    // u1, u2: A → purchase (conversion only ever follows A); u3: B → nothing
    val rows = Seq(
      ev(1, 1, 0, "A"), ev(2, 1, 5, "purchase"),
      ev(3, 2, 0, "A"), ev(4, 2, 5, "purchase"),
      ev(5, 3, 0, "B"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.operators.Events.attributionMarkov(rows)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // base absorption = P(START→A)·1 = 2/3 → removing A kills everything
    assert(got("A") == ((0L, 1000000L, 1000000L)), s"got $got")
    // removing B changes nothing: p_without = base 666666, zero credit
    assert(got("B") == ((666666L, 0L, 0L)), s"got $got")
  }

  test("ewma: the α=1/2 integer recursion on a hand series; a single day " +
      "smooths to itself") {
    import spark.implicits._
    import java.sql.Timestamp
    def ev(day: Int, v: Double) =
      (day.toLong, Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"),
        1L, "view", v, "{}")
    // daily cents 100, 50, 25 → s = 100, (50+100)/2 = 75, (25+75)/2 = 50
    val rows = Seq(ev(1, 1.00), ev(2, 0.50), ev(3, 0.25))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.operators.Events.ewma(rows)
      .orderBy("d").as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(100L, 50L, 25L))
    assert(got.map(_._3) == Seq(100L, 75L, 50L), s"ewma chain: $got")
    // truncation check: (25 + 50) div 2 = 37 (floor), not 38
    val r2 = graft.operators.Events.ewma(
      Seq(ev(1, 0.50), ev(2, 0.25))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .orderBy("d").as[(Long, Long, Long)].collect()
    assert(r2.map(_._3).toSeq == Seq(50L, 37L))
    // a single observed day smooths to itself (the seed)
    val one = graft.operators.Events.ewma(
      Seq(ev(5, 2.00)).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .as[(Long, Long, Long)].collect()
    assert(one.length == 1 && one.head._2 == 200L && one.head._3 == 200L)
  }

  test("doc_quality_lr: the trained filter recovers a separable weak-label " +
      "rule near-perfectly and emits calibrated probabilities") {
    import spark.implicits._
    // separable: "good" docs are short with stopwords; "spam" docs are
    // huge digit-heavy walls (fail the keep rule via token count)
    val good = (1 to 40).map(i =>
      (i.toLong, "the a of and to " + (1 to 10).map(j => s"w$j").mkString(" "), 100L))
    val spam = (41 to 80).map(i =>
      (i.toLong, (1 to 6000).map(_ => "9").mkString(" "), 12000L))
    val docs = (good ++ spam).toDF("doc_id", "text", "n_chars")
    val scored = graft.operators.QualityModel.trainScore(docs)
      .as[(Long, Long, Long, Long)].collect()
    val acc = scored.count(r => r._2 == r._3).toDouble / scored.length
    assert(acc >= 0.95, s"separable data must train near-perfectly, acc=$acc")
    // probabilities are calibrated to the side of the decision they made
    scored.foreach { r =>
      if (r._3 == 1L) assert(r._4 > 500000L) else assert(r._4 < 500000L)
    }
  }

  test("quality-filter GD: driver-local loop ≡ the distributed loop") {
    import spark.implicits._
    // r19: below localMaxRows the 20 fixed-point GD iterations run on the
    // driver over the collected integer feature rows; localMaxRows=0
    // forces the per-iteration distributed aggregates. Same weights, same
    // scores, bit-for-bit — on the real fixture corpus.
    val docs = Tables.read(spark, sf("0.001"), "documents")
    val local = graft.operators.QualityModel.trainScore(docs)
      .as[(Long, Long, Long, Long)].collect().toSet
    val dist = graft.operators.QualityModel.trainScore(docs, localMaxRows = 0L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(local == dist)
  }

  test("cuped: a perfectly-explained metric (y = 2x) gives rho² = 1, " +
      "theta = 2, and both arms' adjusted means collapse to the global mean") {
    import spark.implicits._
    import java.sql.Timestamp
    def ev(u: Long, day: Int, n: Int) = (1 to n).map(i =>
      (u * 1000 + day * 100 + i,
        Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"), u, "view", 1.0, "{}"))
    // x_u = u pre-period events, y_u = 2u experiment-period events
    val rows = (1L to 4L).flatMap(u =>
      ev(u, 3, u.toInt) ++ ev(u, 20, 2 * u.toInt))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.operators.Events.cuped(rows).head()
    assert(r.getAs[Long]("theta_e6") == 2000000L)
    assert(r.getAs[Long]("rho2_ppm") == 1000000L)
    // global mean y = 2·(1+2+3+4)/4 = 5 -> both adjusted means = 5.0
    assert(r.getAs[Long]("adj_a_e6") == 5000000L)
    assert(r.getAs[Long]("adj_b_e6") == 5000000L)
    // raw means differ (arm 0 = users 2,4 -> 6; arm 1 = users 1,3 -> 4)
    assert(r.getAs[Long]("raw_a_e6") == 6000000L)
    assert(r.getAs[Long]("raw_b_e6") == 4000000L)
  }

  test("paretoFrontier keeps exactly the non-dominated (quality, cost) set, " +
      "including ties, and drops equal-quality-higher-cost docs") {
    import spark.implicits._
    val sA = "the a of and to" // 5/5 distinct en stopwords -> score 1000
    val sB = "the a of and w1" // 4/5 -> 800
    val sC = "the a w1 w2 w3" // 2/5 -> 400
    val docs = Seq(
      (1L, sA, 100L), // dominated by 2 (same quality, more chars)
      (2L, sA, 90L), // frontier
      (3L, sB, 50L), // frontier (cheaper than every higher level)
      (4L, sB, 95L), // dominated by 2 (better quality, fewer chars)
      (5L, sC, 50L), // dominated by 3 (better quality, equal chars)
      (6L, sC, 40L), // frontier
      (7L, sA, 90L)) // exact tie with 2 -> both stay (no strict dominance)
      .toDF("doc_id", "text", "n_chars")
    val got = TextAnalysis.paretoFrontier(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L, 3L, 6L, 7L), s"got $got")
    // cross-check against the O(n^2) dominance definition
    val pts = Map(1L -> (1000L, 100L), 2L -> (1000L, 90L), 3L -> (800L, 50L),
      4L -> (800L, 95L), 5L -> (400L, 50L), 6L -> (400L, 40L), 7L -> (1000L, 90L))
    val brute = pts.keySet.filter { i =>
      !pts.exists { case (j, (qj, cj)) =>
        j != i && qj >= pts(i)._1 && cj <= pts(i)._2 &&
          (qj > pts(i)._1 || cj < pts(i)._2)
      }
    }
    assert(got == brute)
  }

  test("ppsSample: sum of n_hits is EXACTLY total div step, invariant to " +
      "partitioning, and heavy docs get multi-hit weights") {
    import spark.implicits._
    // one giant doc among many small ones: weights 10..10, then 5000
    val docs = ((1 to 200).map(i => (i.toLong, 10L)) :+ (201L, 5000L))
      .toDF("doc_id", "n_chars")
    val total = 200L * 10 + 5000
    val nTarget = 20
    val step = total / nTarget // 350
    val sel = TextAnalysis.ppsSample(docs, nTarget)
    assert(sel.agg(sum("n_hits")).head().getLong(0) == total / step,
      "systematic PPS sample size is exact by construction")
    val giant = sel.filter(col("doc_id") === 201L).head()
    assert(giant.getAs[Long]("n_hits") == 5000L / step + 1 ||
      giant.getAs[Long]("n_hits") == 5000L / step,
      "a doc heavier than step is drawn ~w/step times")
    val r1 = sel.orderBy("doc_id").collect().toSeq
    val r2 = TextAnalysis.ppsSample(docs.repartition(7), nTarget)
      .orderBy("doc_id").collect().toSeq
    assert(r1 == r2, "two-level prefix must be bit-identical to sequential")
    // cum of the last selected row never exceeds the corpus total
    assert(sel.agg(max("cum")).head().getLong(0) <= total)
  }

  test("concurrency: sweep-line peak per day; midnight carry-in becomes the base") {
    // base is DAY-ALIGNED (1700006400000 ms = epoch day 19676 exactly) so
    // the cross-midnight session lands where the test says it does
    def ts(m: Long) = new Timestamp(1700006400000L + m * 60000L)
    val ev = Seq(
      (1L, ts(0), 7L, "view", 1.0, "{}"),     // u7 session [0, 10]
      (2L, ts(10), 7L, "view", 1.0, "{}"),
      (3L, ts(5), 8L, "view", 1.0, "{}"),     // u8 session [5, 5]
      (4L, ts(8), 9L, "view", 1.0, "{}"),     // u9 session [8, 8]
      (5L, ts(1430), 10L, "view", 1.0, "{}"), // u10 session [1430, 1450]
      (6L, ts(1450), 10L, "view", 1.0, "{}"), //   ... spans midnight
      (7L, ts(1540), 7L, "view", 1.0, "{}")   // u7 next-day session
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.concurrency(ev)
      .select("day", "base", "peak", "n_start", "n_end")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // day 1: conc runs 1,2,1,2,1,0,1 -> peak 2; 4 starts, 3 ends
    // day 2: u10 still open at midnight (base 1); its end, then u7's
    // next-day session opens AND closes (2 ends), never above 1
    assert(got == Set((19676L, 0L, 2L, 4L, 3L), (19677L, 1L, 1L, 1L, 2L)))
  }

  test("twap: hold weights clamp at the day boundary; exact integer average") {
    def ts(m: Long) = new Timestamp(1700006400000L + m * 60000L)
    val ev = Seq(
      (1L, ts(0), 7L, "view", 1.00, "{}"),    // holds 10 min at 100c
      (2L, ts(10), 7L, "view", 3.00, "{}"),   // holds to day end at 300c
      (3L, ts(1435), 8L, "view", 2.00, "{}"), // 23:55 -> clamped to 5 min
      (4L, ts(1500), 8L, "view", 4.00, "{}")  // next day 01:00 -> 23h hold
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.twap(ev)
      .select("user_id", "day", "n_events", "weight_us", "twap_cents")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // u7: (100*600e6 + 300*85800e6) div 86400e6 = 25800000 div 86400 = 298
    assert(got == Set(
      (7L, 19676L, 2L, 86400000000L, 298L),
      (8L, 19676L, 1L, 300000000L, 200L),
      (8L, 19677L, 1L, 82800000000L, 400L)))
  }

  test("mannWhitney: doubled midranks on a tied design match the textbook U") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    // A = {1.00, 2.00}, B = {2.00, 3.00}: ranks 1, 2.5 | 2.5, 4
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.00, "{}"),
      (2L, ts(1), 2L, "click", 2.00, "{}"),
      (3L, ts(2), 3L, "view", 2.00, "{}"),
      (4L, ts(3), 4L, "view", 3.00, "{}"),
      (5L, ts(4), 5L, "error", 9.99, "{}")   // other types excluded
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Events.mannWhitney(ev).as[(Long, Long, Long, Long, Long, Long)].head()
    // R_A = 1 + 2.5 -> r2_a = 7; 2U_A = 7 - 2*3 = 1; 2U_B = 8 - 1 = 7
    // varU = (4/12)*(5 - 6/12) = 1.5; z = (1-4)/(2*sqrt(1.5)) = -1.2247449
    assert(r == ((2L, 2L, 1L, 7L, 6L, -1224745L)))
  }

  test("survival: risk set carries through the churn day; window end censors") {
    def ts(d: Long) = new Timestamp(1700006400000L + d * 86400000L)
    val ev = (Seq((1L, ts(0), 1L), (2L, ts(0), 2L), (3L, ts(2), 2L)) ++
      Seq((4L, ts(0), 3L), (5L, ts(9), 3L), (6L, ts(0), 4L), (7L, ts(10), 4L)))
      .map { case (e, t, u) => (e, t, u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.survival(ev)
      .select("day", "n_risk", "n_churn", "n_censored", "hazard_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (d, r, c, x, h) => (d - 19676L, r, c, x, h) }.toSet
    // max day = 10, censor guard 7: churned iff last_day <= 3
    // u1 churns d0 (risk 4), u2 churns d2 (risk 3), u3/u4 censored d9/d10
    assert(got == Set((0L, 4L, 1L, 0L, 250000L), (2L, 3L, 1L, 0L, 333333L),
      (9L, 2L, 0L, 1L, 0L), (10L, 1L, 0L, 1L, 0L)))
  }

  test("trend: an exactly linear daily series gives its slope in e6; " +
      "short histories drop") {
    def ts(d: Long) = new Timestamp(1700006400000L + d * 86400000L)
    val ev = ((0 to 4).map(d => (d.toLong, ts(d), 1L, (d + 1) * 1.00)) ++
      (0 to 3).map(d => (10L + d, ts(d), 2L, 5.00)))
      .map { case (e, t, u, v) => (e, t, u, "view", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.trend(ev)
      .select("user_id", "n_days", "sum_cents", "slope_e6")
      .as[(Long, Long, Long, Long)].collect().toSet
    // u1: cents 100..500 over 5 consecutive days -> 100 c/day; u2: 4 days only
    assert(got == Set((1L, 5L, 1500L, 100000000L)))
  }

  test("asofJoinForward: next right at-or-after, same-instant matches, " +
      "no-future-right stays null") {
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      (1L, ts(0), 7L, "click", 1.0, "{}"),     // -> purchase @10
      (2L, ts(10), 7L, "purchase", 1.0, "{}"),
      (3L, ts(30), 7L, "click", 1.0, "{}"),    // no later purchase -> null
      (4L, ts(5), 8L, "click", 1.0, "{}"),     // same-instant purchase matches
      (5L, ts(5), 8L, "purchase", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.asofJoinForward(ev)
      .select("event_id", "asof_us").as[(Long, Option[Long])]
      .collect().toMap
    val base = 1700000000000L * 1000
    assert(got == Map(1L -> Some(base + 10 * 60000000L), 3L -> None,
      4L -> Some(base + 5 * 60000000L)))
  }

  test("cohortLtv: dense spine, cumulative cents, floor per-user division, " +
      "pre-signup revenue excluded") {
    // base = epoch day 19677 = 2811·7, an epoch-WEEK start, so fixture days
    // 0..6 share a cohort week and 7..13 the next
    def ts(d: Long) = new Timestamp(1700092800000L + d * 86400000L)
    val ev = Seq(
      // cohort week W: users 1, 2 sign up day 0/1
      (1L, ts(0), 1L, "signup", 0.0),
      (2L, ts(1), 2L, "signup", 0.0),
      (3L, ts(2), 1L, "purchase", 10.00),   // offset 0: 1000 c
      (4L, ts(8), 1L, "purchase", 5.00),    // offset 1: 500 c
      (5L, ts(9), 2L, "purchase", 2.01),    // offset 1: 201 c
      // user 3 signs up a week later; its earlier purchase must NOT count
      (6L, ts(7), 3L, "signup", 0.0),
      (7L, ts(0), 3L, "purchase", 99.99)    // offset -1 -> dropped
    ).map { case (e, t, u, y, v) => (e, t, u, y, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.cohortLtv(ev, maxOffset = 2)
      .select("cohort_week", "week_offset", "n_users", "cents",
        "cum_cents", "ltv_cents")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val w0 = got.map(_._1).min
    val byKey = got.map(r => (r._1 - w0, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // dense spine: 2 cohorts x offsets 0..2
    assert(got.length == 6)
    // cohort W: offset 0 = 1000 c / 2 users = 500; offset 1 adds 701;
    // offset 2 has no cells yet the row exists with a carried cumulative
    assert(byKey((0L, 0L)) == ((2L, 1000L, 1000L, 500L)))
    assert(byKey((0L, 1L)) == ((2L, 701L, 1701L, 850L))) // floor(1701/2)
    assert(byKey((0L, 2L)) == ((2L, 0L, 1701L, 850L)))
    // cohort W+1 (user 3): pre-signup purchase excluded everywhere
    assert(byKey((1L, 0L)) == ((1L, 0L, 0L, 0L)))
    assert(byKey((1L, 2L)) == ((1L, 0L, 0L, 0L)))
  }

  test("autocorr: alternating daily series gives r = -1 at odd lags, +1 at " +
      "even; degenerate lags go null") {
    def ts(d: Long) = new Timestamp(1700092800000L + d * 86400000L + 3600000L)
    // daily cents alternate 200, 100 over days 0..5
    val ev = (0 to 5).map(d =>
      (d.toLong, ts(d), 1L, "purchase", if (d % 2 == 0) 2.00 else 1.00, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.autocorr(ev)
      .as[(Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((5L, Some(-1000000L))))
    assert(got(2L) == ((4L, Some(1000000L))))
    assert(got(3L) == ((3L, Some(-1000000L))))
    assert(got(4L) == ((2L, Some(1000000L))))
    // lag 5: a single pair has zero variance -> null r
    assert(got(5L) == ((1L, None)))
    // lags 6, 7 have no pairs at all -> no rows
    assert(!got.contains(6L) && !got.contains(7L))
  }

  test("spanCorruption: span accounting invariants + exact census on a " +
      "known doc") {
    val docs = Tables.read(spark, sf("0.001"), "documents")
    val r = graft.operators.TextAnalysis.spanCorruption(docs)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(r.length == docs.count())
    // independent reference: replay the LCG seed plan per doc in plain
    // Scala and recompute the merged-span census exactly. (NB the bound
    // n_masked <= spanLen * n_spans does NOT hold — two overlapping seeds
    // merge into ONE span masking up to 2*spanLen tokens; the true bound
    // is spanLen * n_seeds, which the exact replay subsumes.)
    val texts = docs.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    def seed(id: Long, p: Long, n: Long): Boolean =
      p >= 1 && p <= n &&
        (((id * 1000003L + p) % 2147483647L * 1103515245L + 12345L)
          % 2147483647L % 100L) < 15
    r.foreach { case (id, n, m, sp, ppm) =>
      val nTok = texts(id).split(" ", -1).length.toLong
      assert(n == nTok, s"doc $id token count $n != replayed $nTok")
      def maskedAt(p: Long): Boolean =
        (0 until 3).exists(d => seed(id, p - d, n))
      val ps = 1L to math.max(n, 1L)
      val expM = ps.count(maskedAt).toLong
      val expSp = ps.count(p => maskedAt(p) && !maskedAt(p - 1)).toLong
      assert(m == expM, s"doc $id masked $m != replayed $expM")
      assert(sp == expSp, s"doc $id spans $sp != replayed $expSp")
      assert(m <= n, s"doc $id masks more than its tokens")
      assert((m > 0) == (sp > 0), s"doc $id: masked/spans disagree")
      assert(ppm == m * 1000000 / math.max(n, 1))
    }
    // ~15% seed rate with 3-token spans masks ~38% of tokens corpus-wide
    // (1 - 0.85^3 = 0.386); pin the corpus share to a generous band
    val totN = r.map(_._2).sum.toDouble
    val totM = r.map(_._3).sum.toDouble
    assert(totM / totN > 0.30 && totM / totN < 0.47,
      s"corpus mask share ${totM / totN} outside the expected band")
  }

  test("rollingActiveUsers: a day counts every user active in the trailing " +
      "7 days; unobserved days emit no row") {
    def ts(d: Long) = new Timestamp(1700092800000L + d * 86400000L + 60000L)
    val ev = Seq(
      (1L, ts(0), 1L), (2L, ts(3), 2L),  // u1 day 0, u2 day 3
      (3L, ts(9), 2L))                   // u2 again day 9: u1 aged out
      .map { case (e, t, u) => (e, t, u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.rollingActiveUsers(ev)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 - 19677L -> ((r._2, r._3, r._4))).toMap
    // day 0: only u1; day 3: u1 still in window + u2 active -> WAU 2, DAU 1
    // day 9: u1's window (days 0..6) ended, u2's day-3 window (3..9) covers
    assert(got == Map(
      0L -> ((1L, 1L, 1000000L)),
      3L -> ((2L, 1L, 500000L)),
      9L -> ((1L, 1L, 1000000L))))
  }

  test("botDetect: burst user flagged, slow user and singleton not") {
    def t(ms: Long) = new Timestamp(1700092800000L + ms)
    val burst = (0 until 25).map(i =>
      (100L + i, t(i * 500L), 1L))            // 25 events, 0.5 s apart
    val slow = (0 until 3).map(i =>
      (200L + i, t(i * 3600000L), 2L))        // 3 events, 1 h apart
    val single = Seq((300L, t(0L), 3L))
    val ev = (burst ++ slow ++ single)
      .map { case (e, ts, u) => (e, ts, u, "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.botDetect(ev)
      .select("user_id", "n_events", "span_us", "n_fast", "min_gap_us",
        "per_hour_x100", "fast_share_ppm", "is_bot")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // bot: 25 events over 12 s -> 7500/h (x100 = 750000), all gaps fast
    assert(got(1L) == ((1L, 25L, 12000000L, 24L, 500000L, 750000L,
      1000000L, 1L)))
    // human: under minEvents and slow anyway
    assert(got(2L) == ((2L, 3L, 7200000000L, 0L, 3600000000L, 150L, 0L, 0L)))
    // singleton: zero span guards, sentinel min gap
    assert(got(3L) == ((3L, 1L, 0L, 0L, -1L, 0L, 0L, 0L)))
  }

  test("tfRelation's stored df, n_docs and total_len equal their per-query derivations") {
    // reference derivations: df = count(1) per token; (n_docs, total_len)
    // = count and sum(dl) of the distinct (doc_id, dl) pairs
    def check(docs: org.apache.spark.sql.DataFrame): Unit = {
      val tf = TextAnalysis.tfRelation(docs)
      assert(tf.columns.toSeq ==
        Seq("doc_id", "dl", "token", "tf", "df", "n_docs", "total_len"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df_q"))
      val scal = tf.select("doc_id", "dl").distinct()
        .agg(count(lit(1)).as("n_q"), sum("dl").as("len_q"))
      val off = tf.join(df, "token").crossJoin(scal)
        .filter(col("df") =!= col("df_q") || col("n_docs") =!= col("n_q") ||
          col("total_len") =!= col("len_q"))
      assert(off.count() == 0, off.limit(5).collect().mkString("\n"))
      val s = tf.select("n_docs", "total_len").distinct().as[(Long, Long)].collect()
      assert(s.length == 1 && s.head._1 == docs.count(), s.mkString(", "))
    }
    check(Tables.read(spark, sf("0.001"), "documents"))
    val edge = Seq(
      (1L, ""),          // empty text: one "" token, dl 1
      (2L, "solo"),      // one token
      (3L, "a a a b"),   // repeated tokens: tf 3
      (4L, "a c"),       // 4 and 5 have equal dl (2): both count in n_docs
      (5L, "b c")).toDF("doc_id", "text")
    check(edge)
    val rows = TextAnalysis.tfRelation(edge)
      .as[(Long, Long, String, Long, Long, Long, Long)].collect().toSet
    assert(rows == Set(
      (1L, 1L, "", 1L, 1L, 5L, 10L), (2L, 1L, "solo", 1L, 1L, 5L, 10L),
      (3L, 4L, "a", 3L, 2L, 5L, 10L), (3L, 4L, "b", 1L, 2L, 5L, 10L),
      (4L, 2L, "a", 1L, 2L, 5L, 10L), (4L, 2L, "c", 1L, 2L, 5L, 10L),
      (5L, 2L, "b", 1L, 2L, 5L, 10L), (5L, 2L, "c", 1L, 2L, 5L, 10L)))
  }

  test("persisted TF index probes rank identically; probe plan never re-tokenizes") {
    val docs = Tables.read(spark, sf("0.001"), "documents")
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    graft.sources.Sinks.writeBucketed(TextAnalysis.tfRelation(docs),
      "spec_tf_idx", 4, Seq("token"), Some(s"$tmp/spec_tf_idx"))
    try {
      val idx = spark.table("spec_tf_idx")
      val directB = TextAnalysis.bm25(docs).collect().toSeq
      val indexedB = TextAnalysis.bm25FromTf(idx)
      assert(indexedB.collect().toSeq == directB)
      val directT = TextAnalysis.tfidf(docs).collect().toSet
      val indexedT = TextAnalysis.tfidfFromTf(idx)
      assert(indexedT.collect().toSet == directT)
      // probe-time plans read pre-aggregated index rows: no corpus text
      // scan, no tokenize explode anywhere
      Seq(indexedB, indexedT).foreach { q =>
        val plan = q.queryExecution.executedPlan.toString
        assert(!plan.contains("Generate explode"), s"re-tokenized:\n$plan")
        assert(!plan.contains("documents.parquet"), s"re-read corpus:\n$plan")
      }
    } finally spark.sql("DROP TABLE IF EXISTS spec_tf_idx")
  }

  test("gopherGate: each rule drops its designed offender, funnel chains") {
    val docs = Seq(
      (1L, "the cat sat on mat"),          // passes everything
      (2L, "a b"),                          // g1: under min word count
      (3L, "x y z w q the the the"),        // passes everything
      (4L, "p p p p"),                      // g3: no required stopword
      (5L, "the m the m the m the m"),      // g4: distinct 2/8 < 0.5
      (6L, "the x q q q"),                  // g5: top share 3/5 > 0.5
      (7L, "the a x y x y x y")             // g6: rep-2gram 3/7 > 0.3
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherGate(docs, minTokens = 3, maxTokens = 10,
      minMeanLen = 1, maxMeanLen = 10, minStops = 1,
      minDistinctPpm = 500000L, maxTopPpm = 500000L, maxRep2Ppm = 300000L)
      .orderBy("rule_id")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "word_count", 7L, 1L, 6L),
      (2L, "mean_word_length", 6L, 0L, 6L),
      (3L, "required_stopwords", 6L, 1L, 5L),
      (4L, "distinct_ratio", 5L, 1L, 4L),
      (5L, "top_token_share", 4L, 1L, 3L),
      (6L, "repeated_2grams", 3L, 1L, 2L)), s"got $got")
    // the funnel chains: every rule's n_in is the previous rule's n_out
    got.sliding(2).foreach { case Seq(a, b) => assert(a._5 == b._3) }
  }

  test("temperatureMix: exact isqrt weights, largest-remainder sums to budget") {
    // token masses 9 / 16 / 2 -> isqrt weights 3 / 4 / 1, W = 8; budget 10:
    // floor shares 3/5/1 (remainders 6/0/2), one leftover goes to srcA
    val docs = Seq(
      (1L, Seq.fill(9)("t").mkString(" "), "srcA"),
      (2L, Seq.fill(16)("t").mkString(" "), "srcB"),
      (3L, "t t", "srcC")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.temperatureMix(docs, budget = 10L)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("srcA", 9L, 3L, 375000L, 4L),
      ("srcB", 16L, 4L, 500000L, 5L),
      ("srcC", 2L, 1L, 125000L, 1L)), s"got $got")
    assert(got.map(_._5).sum == 10L) // Hamilton: allocations exhaust budget
    // fixture allocations also sum to budget exactly, and the corrected
    // isqrt is the true floor at every per-source mass
    val full = TextAnalysis.temperatureMix(
      Tables.read(spark, sf("0.001"), "documents"), budget = 100000L)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(full.map(_._5).sum == 100000L)
    full.foreach { case (_, n, w, _, _) =>
      assert(w * w <= n && (w + 1) * (w + 1) > n, s"isqrt($n) != $w") }
  }

  test("corpusDatasheet: per-source masses, cross-source dup counting, keep rate") {
    val docs = Seq(
      (1L, "a b c d e", "en", "A"),  // dup of doc 2 (content-identical)
      (2L, "a b c d e", "de", "A"),  // second language for source A
      (3L, "x y", "en", "A"),        // under minTokens -> keep 0
      (4L, "p q r s t", "en", "B")   // unique, keeps
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.corpusDatasheet(docs)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("A", 3L, 2L, 12L, 400L, 666666L, 666666L),
      ("B", 1L, 1L, 5L, 500L, 1000000L, 0L)), s"got $got")
  }

  test("curriculum: mean-df difficulty order, equal-token phases, bucket invariance") {
    // df: x in docs {0,1} -> 2; y -> 1; z -> 1
    // mean_df_e6: d0 = (2+2)e6/2 = 2e6, d1 = 3e6/2 = 1.5e6, d2 = 3e6/3 = 1e6
    // order d0,d1,d2; total 7 tokens, 2 phases: cut at cum_prev*2 div 7
    val docs = Seq((0L, "x x"), (1L, "x y"), (2L, "z z z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.curriculum(docs, phases = 2)
      .orderBy("rnk").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2000000L, 2L, 1L, 0L),
      (1L, 1500000L, 2L, 2L, 0L),
      (2L, 1000000L, 3L, 3L, 1L)), s"got $got")
    // the two-level prefix sum is bucket-count invariant (== one window)
    val fx = Tables.read(spark, sf("0.001"), "documents")
    val a = TextAnalysis.curriculum(fx, phases = 4, nBuckets = 1)
      .orderBy("rnk").collect().toSeq
    val b = TextAnalysis.curriculum(fx, phases = 4, nBuckets = 13)
      .orderBy("rnk").collect().toSeq
    assert(a == b)
    // phases hold near-equal token mass: every phase within one max doc
    val mass = a.groupBy(_.getLong(4)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val maxDoc = a.map(_.getLong(2)).max
    val ideal = a.map(_.getLong(2)).sum / 4.0
    mass.values.foreach(m => assert(math.abs(m - ideal) <= maxDoc,
      s"phase mass $m vs ideal $ideal (max doc $maxDoc)"))
  }

  test("chunkOverlap laws: slice fidelity, full coverage, stride overlap") {
    val (c, s) = (8, 6)
    val docs = Seq(
      (1L, (1 to 20).map(i => s"t$i").mkString(" ")), // 20 toks → 3 chunks
      (2L, "a b c"),                                   // short → 1 chunk
      (3L, (1 to 8).map(i => s"u$i").mkString(" ")))   // exactly c → 1 chunk
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkOverlap(docs, chunkToks = c, stride = s)
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    assert(got(1L).size == 3 && got(2L).size == 1 && got(3L).size == 1)
    val toks = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ") }.toMap
    got.foreach { case (id, chunks) =>
      chunks.foreach { case (_, ci, start, nTok, text) =>
        // slice fidelity: chunk_text IS tokens[start, start + chunk_toks)
        val want = toks(id).slice(start.toInt - 1, start.toInt - 1 + nTok.toInt)
        assert(text == want.mkString(" "), s"doc $id chunk $ci")
        assert(start == (ci - 1) * s + 1)
      }
      // full coverage: the last chunk reaches the doc's end
      val last = chunks.last
      assert(last._3 + last._4 - 1 == toks(id).length)
      // stride overlap: consecutive full chunks share c - s tokens
      chunks.sliding(2).foreach {
        case Seq(x, y) => assert(y._3 - x._3 == s)
        case _ => ()
      }
    }
    // every token position is covered by >= 1 chunk
    val covered = got(1L).flatMap(ch =>
      ch._3 to (ch._3 + ch._4 - 1)).toSet
    assert(covered == (1L to 20L).toSet)
  }

  test("zipfFit: recovers the exponent on a planted power law, stable under repartition") {
    // plant freq(r) = floor(6000 / r) over 60 word types: slope ≈ −1
    val docs = (1 to 60).flatMap { r =>
      val n = 6000 / r
      Seq.fill(n)(s"w$r")
    }.grouped(500).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val got = TextAnalysis.zipfFit(docs, topN = 60)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got._1 == 60L, s"vocab ${got._1}")
    assert(math.abs(got._3 + 1000000L) < 30000L, // slope within 3% of −1
      s"slope_e6 ${got._3}")
    assert(got._5 > 990000L, s"r2_e6 ${got._5}") // near-perfect fit
    val again = TextAnalysis.zipfFit(docs.repartition(7), topN = 60)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got == again)
  }
}
