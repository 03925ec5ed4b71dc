package graft

import graft.operators.KMeans.Centroid
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming nearest-centroid assignment over micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Double])]
    val assigned = StreamingOps.assignStream(
      in.toDF().toDF("i", "Y"),
      Seq(Centroid(1, Seq(0.0, 0.0)), Centroid(2, Seq(10.0, 10.0))))
    val q = assigned.writeStream.format("memory").queryName("assign_out")
      .outputMode("append").start()
    try {
      in.addData((1L, Seq(1.0, 1.0)), (2L, Seq(9.0, 9.0)))
      q.processAllAvailable()
      in.addData((3L, Seq(0.5, 0.0)))
      q.processAllAvailable()
      val got = spark.table("assign_out").select("i", "j")
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    } finally q.stop()
  }

  test("watermarked windowed counts emit per hour bucket") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = StreamingOps.windowedCounts(
      in.toDF().toDF("ts", "event_type", "value"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      in.addData((ts(1, 5), "click", 1.0), (ts(1, 40), "click", 2.0), (ts(2, 10), "view", 3.0))
      q.processAllAvailable()
      val got = spark.table("win_out")
        .select("event_type", "n").as[(String, Long)].collect().toMap
      assert(got == Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("streaming active-users census equals the batch census on closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = StreamingOps.activeUsersStream(in.toDF().toDF("ts", "user_id"))
    val q = agg.writeStream.format("memory").queryName("au_out")
      .outputMode("append").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // hour 1: user 7 visits twice + user 8 → 2 distinct; hour 2: 8 and 9
      // (twice) → 2 distinct; repeats must not inflate the census
      val rows = Seq((ts(1, 5), 7L), (ts(1, 20), 7L), (ts(1, 40), 8L),
        (ts(2, 10), 8L), (ts(2, 30), 9L), (ts(2, 45), 9L))
      in.addData(rows: _*)
      q.processAllAvailable()
      // a later sentinel advances the watermark past both hours → they close
      in.addData((ts(4, 30), 99L))
      q.processAllAvailable()
      val got = spark.table("au_out").as[(Long, Long)].collect().toMap
      val batch = graft.operators.Events.activeUsers(rows.toDF("ts", "user_id"))
        .select("win_us", "n_users").as[(Long, Long)].collect().toMap
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.size == 2 && got.values.forall(_ == 2L))
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered content within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long, String)]
    val deduped = StreamingOps.dedupStream(
      in.toDF().toDF("ts", "doc_id", "text"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // same content twice in one batch + once in a later batch, plus a
      // distinct doc — only one copy of the duplicate may survive
      in.addData((ts(0), 1L, "alpha beta gamma"), (ts(1), 2L, "alpha beta gamma"),
        (ts(1), 3L, "totally different text"))
      q.processAllAvailable()
      in.addData((ts(5), 4L, "alpha beta gamma"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("doc_id")
        .as[Long].collect().toSet
      assert(got.contains(3L) && got.size == 2, s"got=$got")
      assert(got.intersect(Set(1L, 2L, 4L)).size == 1, "exactly one copy of the dup")
    } finally q.stop()
  }

  test("streaming incremental dedup probes the static corpus index per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over a lazy dog"),
      (4L, "completely different words entirely here now")
    ).toDF("doc_id", "text")
    val idx = graft.operators.Dedup.bandedSignatures(corpus)
    val in = MemoryStream[(java.sql.Timestamp, Long, String)]
    val out = StreamingOps.incrementalDedupStream(
      in.toDF().toDF("ts", "doc_id", "text"), idx)
    val q = out.writeStream.format("memory").queryName("incdedup_out")
      .outputMode("append").start()
    try {
      def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
      in.addData((ts(1), 10L, "the quick brown fox jumps over the lazy dog"),
        (ts(1), 20L, "unrelated fresh content with novel vocabulary only"))
      q.processAllAvailable()
      // advance the watermark far past hour 1 so its window finalizes
      in.addData((ts(3), 99L, "flush marker document"))
      q.processAllAvailable()
      val got = spark.table("incdedup_out")
        .as[(Long, Option[Long], Long)].collect()
        .map { case (k, d, n) => k -> ((d, n)) }.toMap
      assert(got(10L) == ((Some(1L), 1L)), s"got=$got") // corpus dup found
      assert(got(20L) == ((None, 0L)), s"got=$got")     // genuinely new
    } finally q.stop()
  }

  test("streaming ANN probe matches the batch indexed search row for row") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.read(spark, sf("0.001"), "embeddings")
    val cents = graft.operators.Similarity.fixedCentroids(emb, 16)
    val tbl = "graft_test_ann_stream_idx"
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    // external location (the spec_ivf_idx pattern): overwrite mode tolerates
    // the dir a previous standalone run left behind
    graft.operators.Similarity.buildIvfIndex(emb, cents, tbl, buckets = 4,
      Some(s"$tmp/$tbl"))
    val batch = graft.operators.Similarity
      .ivfTopKIndexed(emb, tbl, cents, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // stream the same five query vectors
    val qs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") < 5)
      .as[(Long, Seq[Double])].collect()
    val in = MemoryStream[(java.sql.Timestamp, Long, Seq[Double])]
    val out = StreamingOps.annProbeStream(
      in.toDF().toDF("ts", "q_id", "qv"), spark.table(tbl), cents)
    val q = out.writeStream.format("memory").queryName("ann_out")
      .outputMode("append").start()
    try {
      def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
      in.addData(qs.map { case (id, v) => (ts(1), id, v) }.toSeq: _*)
      q.processAllAvailable()
      in.addData((ts(3), 999999L, qs.head._2)) // watermark flush marker
      q.processAllAvailable()
      val got = spark.table("ann_out")
        .filter(col("q_id") < 5)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == batch, s"stream/batch diverged: ${got.size} vs ${batch.size}")
    } finally q.stop()
  }

  test("per-row batch operators run UNCHANGED on a stream: PII redact") {
    // the zero-shuffle text operators are stream-agnostic by construction —
    // the same function object serves both planes, no streaming twin needed
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = graft.operators.TextAnalysis.piiRedact(
      in.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("pii_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "reach me at who@example.org or 10.0.0.7"))
      q.processAllAvailable()
      val r = spark.table("pii_out")
        .as[(Long, Long, Long, Long, String)].collect().head
      assert(r == ((1L, 1L, 0L, 1L, "reach me at <EMAIL> or <IP>")))
    } finally q.stop()
  }

  test("streaming decontamination flags arriving docs against the static benchmark") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val out = StreamingOps.decontaminateStream(
      in.toDF().toDF("doc_id", "text"), bench, n = 3, thrNum = 1, thrDen = 2)
    val q = out.writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "the quick brown fox ran"), (2L, "totally different words here"))
      q.processAllAvailable()
      val got = spark.table("decon_out")
        .select("doc_id", "n_shingles", "n_shared", "contaminated")
        .as[(Long, Long, Long, Long)].collect().toSet
      // identical counts to the batch operator on the same fixture
      val batch = graft.operators.Dedup.decontaminate(
        Seq((1L, "the quick brown fox ran"), (2L, "totally different words here"))
          .toDF("doc_id", "text"),
        bench, n = 3, thrNum = 1, thrDen = 2)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == batch, s"stream=$got batch=$batch")
      assert(got == Set((1L, 3L, 2L, 1L), (2L, 2L, 0L, 0L)))
    } finally q.stop()
  }

  test("streaming DSIR scoring equals batch on in-corpus docs; unseen tokens weigh 0") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "q q", "en", "a_src"),
      (2L, "q r", "en", "b_src"),
      (3L, "r r r", "en", "b_src")
    ).toDF("doc_id", "text", "lang", "source")
    val vocab = graft.operators.TextAnalysis.dsirVocab(corpus)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val out = StreamingOps.dsirStream(
      in.toDF().toDF("doc_id", "text", "ts"), vocab)
    val q = out.writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "q q", t0), (3L, "r r r", t0),
        (9L, "q zzz", t0)) // zzz unseen at fit time -> weight 0
      q.processAllAvailable()
      // push the watermark past the window so append mode emits
      in.addData((99L, "q", java.sql.Timestamp.valueOf("2026-01-01 03:00:00")))
      q.processAllAvailable()
      val got = spark.table("dsir_out")
        .filter(col("doc_id") < 90)
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.operators.TextAnalysis.dsirScore(corpus)
        .filter(col("doc_id").isin(1L, 3L))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(batch.subsetOf(got), s"stream=$got batch=$batch")
      // doc 9: q scores -1, zzz smooths to 0 -> sum -1 over 2 tokens
      assert(got.contains((9L, 2L, -1L, -500000L)))
    } finally q.stop()
  }

  test("foreachBatch re-assignment of streaming points against fixed centroids") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Double])]
    val cs = Seq(Centroid(1, Seq(0.0, 0.0)), Centroid(2, Seq(10.0, 10.0)))
    val seen = scala.collection.mutable.Map.empty[Long, Long]
    val q = in.toDF().toDF("i", "Y").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.KMeans.assign(batch, cs)
          .select("i", "j").collect()
          .foreach(r => seen.synchronized { seen(r.getLong(0)) = r.getLong(1) })
      }
      .start()
    try {
      in.addData((1L, Seq(1.0, 1.0)), (2L, Seq(9.0, 9.0)))
      q.processAllAvailable()
      in.addData((3L, Seq(10.0, 11.0)))
      q.processAllAvailable()
      assert(seen.toMap == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
    } finally q.stop()
  }

  test("mini-batch streaming fit: one full batch equals one batch Lloyd step") {
    implicit val sqlCtx = spark.sqlContext
    val pts = Seq(
      (1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 0.0)),
      (4L, Seq(9.0, 10.0)), (5L, Seq(10.0, 9.0)), (6L, Seq(11.0, 11.0)))
    val init = Seq(Centroid(1, Seq(0.0, 0.0)), Centroid(2, Seq(10.0, 10.0)))
    val in = MemoryStream[(Long, Seq[Double])]
    val (q, model) = StreamingOps.miniBatchFit(
      in.toDF().toDF("i", "Y"), init, dim = 2, fxScale = 1e6)
    try {
      in.addData(pts: _*)
      q.processAllAvailable()
      val batchStep = graft.operators.KMeans.lloydStep(
        graft.operators.KMeans.assign(pts.toDF("i", "Y"), init), dim = 2, fxScale = 1e6)
      assert(model.centroids == batchStep) // bit-identical, not approximate
      assert(model.totalCount == 6L)
    } finally q.stop()
  }

  test("mini-batch streaming fit refines across micro-batches and keeps exact counts") {
    implicit val sqlCtx = spark.sqlContext
    val init = Seq(Centroid(1, Seq(0.0, 0.0)), Centroid(2, Seq(10.0, 10.0)))
    val in = MemoryStream[(Long, Seq[Double])]
    val (q, model) = StreamingOps.miniBatchFit(
      in.toDF().toDF("i", "Y"), init, dim = 2, fxScale = 1e6)
    try {
      in.addData((1L, Seq(1.0, 1.0)), (2L, Seq(9.0, 9.0)))
      q.processAllAvailable()
      in.addData((3L, Seq(3.0, 1.0)), (4L, Seq(11.0, 9.0)))
      q.processAllAvailable()
      // cumulative means per cluster: c1 = mean((1,1),(3,1)), c2 = mean((9,9),(11,9))
      assert(model.centroids == Seq(
        Centroid(1, Seq(2.0, 1.0)), Centroid(2, Seq(10.0, 9.0))))
      assert(model.totalCount == 4L)
    } finally q.stop()
  }

  test("stateful streaming sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val sessions = StreamingOps.sessionizeStream(in.toDS(), gapMinutes = 30, timeoutMs = 0)
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      val min = 60L * 1000000L
      // user 7: events at t=0,10min (one session), then t=100min (new session
      // -> closes the first one in the same batch)
      in.addData(Ev(7, 1, 0), Ev(7, 2, 10 * min), Ev(7, 3, 100 * min))
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select("user_id", "n_events", "dur_us")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((7L, 2L, 10 * min)))
    } finally q.stop()
  }

  test("streaming bot census: latest emission per user equals the batch " +
      "operator across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.Ev
    val ev = Tables.readEvents(spark, sf("0.001"))
    val batch = graft.operators.Events.botDetect(ev)
      .select("user_id", "n_events", "span_us", "n_fast", "min_gap_us",
        "per_hour_x100", "fast_share_ppm", "is_bot")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    // time-ordered rows split mid-stream: the carried lastUs must chain
    // the boundary-straddling gap exactly like the batch lag window
    val rows = ev.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .as[Ev].collect().sortBy(e => (e.us, e.event_id))
    val (a, b) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[Ev]
    val q = StreamingOps.botDetectStream(in.toDS()).writeStream
      .format("memory").queryName("bot_out").outputMode("append").start()
    try {
      in.addData(a.toSeq)
      q.processAllAvailable()
      in.addData(b.toSeq)
      q.processAllAvailable()
      // each micro-batch re-emits touched users; the LAST row per user is
      // the current census
      val got = spark.table("bot_out")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id")
            .orderBy(desc("n_events"))))
        .filter(col("rn") === 1).drop("rn")
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(got == batch,
        s"stream (${got.size}) and batch (${batch.size}) censuses diverge")
    } finally q.stop()
  }

  test("streaming anomaly flags equal the batch operator across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.EvV
    val ev = Tables.readEvents(spark, sf("0.001"))
    val batch = graft.operators.Events.anomalies(ev)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "fixture must contain at least one 3-sigma event")
    // same integer cents the batch operator sums, delivered in (us,
    // event_id) order but SPLIT across two micro-batches mid-stream —
    // per-user state must carry the rolling window over the boundary
    val rows = ev.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[EvV].collect().sortBy(e => (e.us, e.event_id))
    val (a, b) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[EvV]
    val q = StreamingOps.anomalyStream(in.toDS()).writeStream.format("memory")
      .queryName("anom_out").outputMode("append").start()
    try {
      in.addData(a.toSeq)
      q.processAllAvailable()
      in.addData(b.toSeq)
      q.processAllAvailable()
      val got = spark.table("anom_out")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == batch,
        s"stream (${got.size}) and batch (${batch.size}) flag sets diverge")
    } finally q.stop()
  }

  test("streaming OHLC bars equal the batch compaction across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.readEvents(spark, sf("0.001"))
    val batch = graft.operators.Events.ohlc(ev)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    // time-ordered rows SPLIT across two micro-batches mid-stream — open
    // (window, user) groups must aggregate across the boundary; a far-future
    // sentinel then advances the watermark past every real bar
    val rows = ev.select(col("ts"), col("user_id"), col("event_id"), col("value"))
      .as[(java.sql.Timestamp, Long, Long, Double)].collect()
      .sortBy(r => (r._1.getTime, r._3))
    val (a, b) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Double)]
    val q = StreamingOps.ohlcStream(
        in.toDF().toDF("ts", "user_id", "event_id", "value"))
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode("append").start()
    try {
      in.addData(a.toSeq)
      q.processAllAvailable()
      in.addData(b.toSeq)
      q.processAllAvailable()
      val sentinel = new java.sql.Timestamp(
        rows.map(_._1.getTime).max + 24L * 3600 * 1000)
      in.addData((sentinel, 999999L, 999999L, 0.0))
      q.processAllAvailable()
      val got = spark.table("ohlc_out")
        .filter(col("user_id") =!= 999999L)
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(got == batch,
        s"stream (${got.size}) and batch (${batch.size}) bar sets diverge")
    } finally q.stop()
  }

  test("streaming lag features equal the batch operator across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.EvV
    val ev = Tables.readEvents(spark, sf("0.001"))
    val batch = graft.operators.Events.lagFeatures(ev)
      .as[(Long, Long, Long, Long, Option[Long], Option[Long], Option[Long],
        Long, Long)].collect().toSet
    assert(batch.exists(_._5.isEmpty) && batch.exists(_._5.nonEmpty))
    // same integer cents the batch windows consume, split mid-stream — the
    // per-user 2-deep ring must carry lag/delta/gap/rolling state over the
    // micro-batch boundary
    val rows = ev.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[EvV].collect().sortBy(e => (e.us, e.event_id))
    val (a, b) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[EvV]
    val q = StreamingOps.lagFeaturesStream(in.toDS())
      .writeStream.format("memory").queryName("lag_out")
      .outputMode("append").start()
    try {
      in.addData(a.toSeq)
      q.processAllAvailable()
      in.addData(b.toSeq)
      q.processAllAvailable()
      val got = spark.table("lag_out")
        .as[(Long, Long, Long, Long, Option[Long], Option[Long], Option[Long],
          Long, Long)].collect().toSet
      assert(got == batch,
        s"stream (${got.size}) and batch (${batch.size}) feature sets diverge")
    } finally q.stop()
  }

  test("streaming transition pairs roll up to the batch Markov matrix") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.TransIn
    val ev = Tables.readEvents(spark, sf("0.001"))
    val batchCnt = graft.operators.Events.transitions(ev)
      .select("from_type", "to_type", "cnt")
      .as[(String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(batchCnt.nonEmpty)
    // split mid-stream: the one-(ts,type)-per-user state must carry the
    // pending transition across the micro-batch boundary
    val rows = ev.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .as[TransIn].collect().sortBy(e => (e.us, e.event_id))
    val (a, b) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[TransIn]
    val q = StreamingOps.transitionsStream(in.toDS())
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    try {
      in.addData(a.toSeq)
      q.processAllAvailable()
      in.addData(b.toSeq)
      q.processAllAvailable()
      val got = spark.table("trans_out")
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("cnt"))
        .as[(String, String, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      assert(got == batchCnt,
        s"stream (${got.size}) and batch (${batchCnt.size}) matrices diverge")
    } finally q.stop()
  }

  test("streaming latest-wins upsert never regresses a doc on stale re-delivery") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.Up
    val in = MemoryStream[Up]
    val out = StreamingOps.upsertLatestStream(in.toDS())
    val q = out.writeStream.format("memory").queryName("upsert_out")
      .outputMode("update").start()
    try {
      in.addData(Up(1L, 1L, "en"), Up(2L, 1L, "de"), Up(3L, 1L, "aa"))
      q.processAllAvailable()
      // doc 1 advances; doc 2 gets a STALE re-delivery (gen 0) and a dup
      // (gen 1); doc 3 gets an equal-gen conflict, split across batches
      in.addData(Up(1L, 2L, "xx"), Up(2L, 0L, "stale"), Up(2L, 1L, "de"),
        Up(3L, 1L, "zz"))
      q.processAllAvailable()
      val got = spark.table("upsert_out")
        .as[Up].collect().groupBy(_.doc_id).view.mapValues(_.map(u => (u.gen, u.lang)).toSet).toMap
      assert(got(1L) == Set((1L, "en"), (2L, "xx")), s"doc 1 must emit both generations: $got")
      assert(got(2L) == Set((1L, "de")), s"doc 2 must ignore stale/dup re-deliveries: $got")
      // the equal-gen winner is the (gen, lang)-max row — the same final
      // answer batched-together deliveries converge on
      assert(got(3L) == Set((1L, "aa"), (1L, "zz")), s"doc 3 tie must converge on zz: $got")
    } finally q.stop()
  }

  test("streaming upsert converges to the batch upsert winners (cross-family pin)") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.Up
    val rows = (1L to 30L).map(i => Up(i, 1L, "l" + (i % 4))) ++
      (1L to 30L).filter(_ % 3 == 0).map(i => Up(i, 2L, "xx")) ++
      (1L to 30L).filter(_ % 5 == 0).map(i => Up(i, 0L, "stale"))
    // batch winners: the q_upsert shape (union + one key window)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("gen"), desc("lang"))
    val batchWinners = rows.toDF("doc_id", "gen", "lang")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id", "gen", "lang")
      .as[Up].collect().map(u => u.doc_id -> (u.gen, u.lang)).toMap
    // stream the same deliveries in three interleaved slices
    val in = MemoryStream[Up]
    val q = StreamingOps.upsertLatestStream(in.toDS())
      .writeStream.format("memory").queryName("upsert_conv")
      .outputMode("update").start()
    try {
      val slices = rows.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      slices.foreach { case (_, part) =>
        in.addData(part.map(_._1)); q.processAllAvailable()
      }
      // emissions per doc are strictly increasing, so the max IS the final state
      val streamWinners = spark.table("upsert_conv").as[Up].collect()
        .groupBy(_.doc_id).view
        .mapValues(us => us.map(u => (u.gen, u.lang)).max).toMap
      assert(streamWinners == batchWinners,
        s"stream final state diverges from batch winners")
    } finally q.stop()
  }

  test("file-stream restart from checkpoint is exactly-once end to end") {
    // the fault-tolerance contract a 100 TB ingest lives on: source offsets
    // commit to the checkpoint, the file sink commits via _spark_metadata,
    // and a restarted query resumes AFTER the processed batch — every input
    // row lands in the output exactly once across the restart
    val src = java.nio.file.Files.createTempDirectory("gsrc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gckpt").toString
    val out = java.nio.file.Files.createTempDirectory("gout").toString
    val cents = Seq(Centroid(1, Seq(0.0, 0.0)), Centroid(2, Seq(10.0, 10.0)))
    def writeBatch(name: String, rows: Seq[(Long, Seq[Double])]): Unit = {
      val f = new java.io.File(src, name)
      val txt = rows.map { case (i, y) =>
        s"""{"i": $i, "Y": [${y.mkString(",")}]}""" }.mkString("\n")
      java.nio.file.Files.write(f.toPath, txt.getBytes("UTF-8"))
    }
    def run(): Unit = {
      val in = spark.readStream
        .schema("i LONG, Y ARRAY<DOUBLE>").json(src)
      val q = StreamingOps.assignStream(in, cents)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    writeBatch("a.json", Seq(1L -> Seq(0.1, 0.2), 2L -> Seq(9.5, 9.9)))
    run()
    writeBatch("b.json", Seq(3L -> Seq(0.3, 0.1), 4L -> Seq(10.2, 9.8)))
    run()   // fresh query instance, same checkpoint: resumes after batch a
    val got = spark.read.parquet(out).select("i", "j")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 2L)),
      s"restart lost or duplicated rows: $got")
  }

  test("streaming session_window emits closed sessions equal to the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val sess = StreamingOps.sessionWindowStream(
      in.toDF().toDF("user_id", "ts"))
    val q = sess.writeStream.format("memory").queryName("sess_win_out")
      .outputMode("append").start()
    try {
      // u1: one 2-event session; u2: two sessions split by a >30m gap
      in.addData((1L, ts(1, 0)), (1L, ts(1, 10)), (2L, ts(1, 0)), (2L, ts(2, 0)))
      q.processAllAvailable()
      // sentinel far ahead advances the watermark past every session end
      in.addData((99L, ts(12, 0)))
      q.processAllAvailable()
      val got = spark.table("sess_win_out")
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.operators.Events.sessionWindowAgg(
        Seq((1L, ts(1, 0)), (1L, ts(1, 10)), (2L, ts(1, 0)), (2L, ts(2, 0)))
          .toDF("user_id", "ts"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.size == 3 && got.exists(r => r._1 == 1L && r._4 == 2L))
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with in-window impressions") {
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val imp = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val clk = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = StreamingOps.intervalJoinStream(
      imp.toDF().toDF("user_id", "ts", "event_id"),
      clk.toDF().toDF("user_id", "ts", "event_id"), windowMinutes = 10)
    val q = joined.writeStream.format("memory").queryName("attrib_out")
      .outputMode("append").start()
    try {
      imp.addData((1L, ts(1, 0), 100L), (1L, ts(1, 20), 101L), (2L, ts(1, 0), 102L))
      clk.addData(
        (1L, ts(1, 5), 200L),   // within 10m of imp 100
        (1L, ts(1, 25), 201L),  // within 10m of imp 101 only
        (2L, ts(1, 30), 202L),  // 30m after imp 102 — outside the window
        (3L, ts(1, 5), 203L))   // no impression for this user
      q.processAllAvailable()
      val got = spark.table("attrib_out")
        .select("user_id", "imp_id", "click_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 100L, 200L), (1L, 101L, 201L)))
      // batch twin on identical rows produces identical pairs
      val bImp = Seq((1L, ts(1, 0), 100L), (1L, ts(1, 20), 101L), (2L, ts(1, 0), 102L))
        .toDF("user_id", "ts", "event_id")
      val bClk = Seq((1L, ts(1, 5), 200L), (1L, ts(1, 25), 201L),
        (2L, ts(1, 30), 202L), (3L, ts(1, 5), 203L))
        .toDF("user_id", "ts", "event_id")
      val batch = StreamingOps.intervalJoinStream(bImp, bClk, windowMinutes = 10)
        .select("user_id", "imp_id", "click_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("streaming bloom ingest gate: flags every true overlap (no false " +
      "negatives), equals the batch projection, zero state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.plans.native
    // offline: a bloom over the benchmark corpus's shingles
    val bench = Seq((100L, "the quick brown fox ran")).toDF("doc_id", "text")
    val bloom = bench
      .select(explode(native.shingle_ids(col("text"), 3)).as("id"))
      .agg(native.bloom_sketch(col("id"), 1024, 3)).head().getSeq[Long](0)
    val rows = Seq(
      (1L, "a the quick brown fox ran away"), // shares shingles -> flagged
      (2L, "totally different words entirely here"), // clean
      (3L, "the quick brown dog ran")) // shares "the quick brown"
    val in = MemoryStream[(Long, String)]
    val out = StreamingOps.bloomGateStream(
      in.toDF().toDF("doc_id", "text"), bloom)
    val q = out.writeStream.format("memory").queryName("bloom_gate")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("bloom_gate")
        .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      // stream == batch (same stateless projection)
      val batch = StreamingOps.bloomGateStream(rows.toDF("doc_id", "text"), bloom)
        .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == batch)
      // no false negatives: docs 1 and 3 truly share benchmark shingles
      assert(got(1L)._2 && got(3L)._2, s"got $got")
      // FPs are possible but doc 2 shares nothing and a 1024-bit filter
      // holding 3 shingles makes a 3-gram FP astronomically unlikely
      assert(!got(2L)._2)
    } finally q.stop()
  }

  test("streaming KMV bottom-k converges to the batch sketch under " +
      "reversed, split, duplicate-heavy delivery") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.KmvIn
    val k = 16
    // duplicate-heavy synthetic ids over two sources, delivered REVERSED
    // and split across three micro-batches
    val raw = (1 to 400).flatMap { i =>
      val src = if (i % 2 == 0) "A" else "B"
      Seq(KmvIn(src, (i * 7919L) % 100003L), KmvIn(src, (i * 7919L) % 100003L))
    }
    val batchTruth = raw.groupBy(_.source).map { case (s, rs) =>
      val ids = rs.map(_.id).distinct.sorted.take(k).toVector
      s -> ((ids.size.toLong, ids.last,
        if (ids.size < k) ids.size.toLong else (k - 1).toLong * 1000003L / ids.last))
    }
    val rows = raw.reverse
    val chunks = rows.grouped(rows.length / 3 + 1).toSeq
    val in = MemoryStream[KmvIn]
    val q = StreamingOps.kmvStream(in.toDS(), k).writeStream.format("memory")
      .queryName("kmv_out").outputMode("update").start()
    try {
      chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
      val got = spark.table("kmv_out")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("source").orderBy(col("n_sketch").desc, col("kth_min"))))
        .filter(col("rn") === 1)
        .select("source", "n_sketch", "kth_min", "distinct_est")
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == batchTruth, s"got $got want $batchTruth")
    } finally q.stop()
  }

  test("streaming HLL registers converge to the batch sketch across " +
      "micro-batch splits (constant per-scope state)") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.HllIn
    val li = Tables.read(spark, sf("0.001"), "lineitem")
    // batch truth: the native aggregate + relational estimate per flag
    val batch = li.groupBy(col("l_returnflag").as("scope"))
      .agg(graft.plans.native.hll_sketch(col("l_orderkey"), p = 8).as("regs"))
      .select(col("scope"),
        graft.plans.native.hll_estimate(col("regs"), p = 8).as("est"),
        graft.plans.native.hll_zeros(col("regs")).as("zeros"),
        graft.plans.native.hll_denom_x2p33(col("regs")).as("denom"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // the same rows in three adversarial micro-batches (reversed order —
    // register max is order-insensitive, so the final state must not care)
    val rows = li.select(col("l_returnflag"), col("l_orderkey"))
      .as[(String, Long)].collect().map(r => HllIn(r._1, r._2)).reverse
    val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    val in = MemoryStream[HllIn]
    val q = StreamingOps.hllStream(in.toDS()).writeStream.format("memory")
      .queryName("hll_out").outputMode("update").start()
    try {
      chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
      // the LAST update per scope (max n_seen) is the converged sketch
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("scope").orderBy(col("n_seen").desc)
      val got = spark.table("hll_out")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("scope", "hll_est", "v_zero", "denom_x2p33")
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == batch,
        s"streaming registers diverged from the batch sketch: $got vs $batch")
    } finally q.stop()
  }

  test("streaming table fingerprint converges to the batch (cnt, sum_h) " +
      "census under reversed micro-batch delivery") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.FpIn
    val orders = Tables.read(spark, sf("0.001"), "orders")
    val canon = concat_ws("|", col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long"))
    val rowsDf = orders.select((col("o_orderkey") % 32).as("bucket"),
      canon.as("canon"))
    // batch truth via the SAME native per-row hash the stream folds
    val batch = rowsDf
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(graft.plans.native.poly_hash_base(col("canon"), 131L,
          1000000007L)).as("s"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val rows = rowsDf.as[(Long, String)].collect()
      .map(r => FpIn(r._1, r._2)).reverse
    val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    val in = MemoryStream[FpIn]
    val q = StreamingOps.fingerprintStream(in.toDS()).writeStream
      .format("memory").queryName("fp_out").outputMode("update").start()
    try {
      chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy(col("n_rows").desc)
      val got = spark.table("fp_out")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("bucket", "n_rows", "sum_h")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == batch,
        s"streaming fingerprint diverged from the batch census")
    } finally q.stop()
  }

  test("streaming audio-fingerprint census converges to the batch census " +
    "(mm_audio_fingerprint twin)") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.ClipIn
    import graft.operators.Multimodal
    val media = Multimodal.mediaTable(Tables.read(spark, sf("0.001"), "documents"))
    val batch = Multimodal.audioFingerprint(media)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val clips = media.filter(col("kind") === "audio")
      .select("media_id", "payload").as[(Long, Array[Byte])].collect()
      .map { case (id, p) => ClipIn(id, p) }.reverse
    val chunks = clips.grouped(math.max(1, clips.length / 3 + 1)).toSeq
    val in = MemoryStream[ClipIn]
    val q = StreamingOps.audioFpStream(in.toDS()).writeStream
      .format("memory").queryName("afp_out").outputMode("update").start()
    try {
      chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy(col("n_clips").desc)
      val got = spark.table("afp_out")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("fp", "n_clips", "min_id")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == batch,
        "streaming audio-fingerprint census diverged from the batch census")
    } finally q.stop()
  }

  test("streaming Poisson bootstrap converges to the batch replicate sums " +
      "and the oracle-checked CI (events_bootstrap twin)") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.BootIn
    import graft.operators.Events._
    val rows = (1L to 40L).map(i => BootIn(i,
      if (i % 4 == 0) "view" else "purchase", (i % 7).toDouble + 0.25))
    // plain-Scala executable spec of the same LCG/threshold fold
    val purch = rows.filter(_.event_type == "purchase")
    val expected = (0 until 32).map { rep =>
      val (swc, sw) = purch.foldLeft((0L, 0L)) { case ((a, c), e) =>
        val eid = e.event_id % BootLcgM
        val u = (eid * BootLcgA + BootLcgC0 + rep * BootLcgCStep) % BootLcgM
        val w = BootPoissonThresholds.count(_ <= u).toLong
        (a + w * math.round(e.value * 100), c + w)
      }
      rep -> ((swc, sw))
    }.toMap
    val in = MemoryStream[BootIn]
    val q = StreamingOps.bootstrapStream(in.toDS()).writeStream
      .format("memory").queryName("boot_out").outputMode("update").start()
    try {
      rows.grouped(15).foreach { c => in.addData(c); q.processAllAvailable() }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("rep").orderBy(col("swc").desc, col("sw").desc)
      val got = spark.table("boot_out")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("rep", "swc", "sw")
        .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == expected,
        "streaming bootstrap state diverged from the batch replicate sums")
      // CI parity with the oracle-checked batch query on the same rows
      val ms = expected.values.toSeq
        .map { case (swc, sw) => if (sw == 0L) 0L else swc * 10000L / sw }
        .sorted
      val ci = graft.operators.Events.bootstrapCi(rows.toDF())
        .as[(Long, Long, Long, Long)].head()
      assert(ci._3 == ms(1) && ci._4 == ms(30),
        s"CI band mismatch: $ci vs ${ms(1)}..${ms(30)}")
    } finally q.stop()
  }

  test("streaming CDC apply converges to the batch MERGE state (q_changefeed twin)") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.Cdc
    import graft.operators.Joins
    // before: keys 1..20; feed: gen-1 updates (%4 non-%5), deletes (%5),
    // inserts — one change row per key, like q_changefeed's fixture
    val before = (1L to 20L).map(i => (i, "l" + (i % 3)))
    val changes =
      (1L to 20L).filter(i => i % 4 == 0 && i % 5 != 0).map(i => (i, "xx", "U")) ++
      (1L to 20L).filter(_ % 5 == 0).map(i => (i, "l" + (i % 3), "D")) ++
      Seq((101L, "new", "U"), (102L, "new", "U"))
    val batch = Joins.mergeInto(before.toDF("doc_id", "lang"),
        changes.toDF("doc_id", "lang", "op"), Seq("doc_id"))
      .as[(Long, String)].collect().toSet
    // stream the initial load as gen-0 upserts plus the gen-1 feed, with a
    // stale gen-0 re-delivery mixed in, split across three micro-batches
    val ops = before.map { case (id, l) => Cdc(id, 0L, "U", l) } ++
      changes.map { case (id, l, op) => Cdc(id, 1L, op, l) } ++
      Seq(Cdc(4L, 0L, "U", "stale"))
    val in = MemoryStream[Cdc]
    val q = StreamingOps.cdcApplyStream(in.toDS()).writeStream
      .format("memory").queryName("cdc_out").outputMode("update").start()
    try {
      val slices = ops.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      slices.foreach { case (_, part) =>
        in.addData(part.map(_._1)); q.processAllAvailable()
      }
      // final state per key = max-(gen,op,lang) emission; survivors = non-D
      val got = spark.table("cdc_out").as[Cdc].collect()
        .groupBy(_.doc_id).view
        .mapValues(cs => cs.maxBy(c => (c.gen, c.op, c.lang))).values
        .filter(_.op != "D").map(c => (c.doc_id, c.lang)).toSet
      assert(got == batch,
        s"stream (${got.size}) diverged from batch MERGE (${batch.size})")
      // deletions are visible downstream: every %5 key emitted a tombstone
      val tombs = spark.table("cdc_out").as[Cdc].collect()
        .filter(_.op == "D").map(_.doc_id).toSet
      assert(tombs == (1L to 20L).filter(_ % 5 == 0).toSet, s"tombstones $tombs")
    } finally q.stop()
  }

  test("streaming BM25 scorer is bit-identical to the batch ranking on in-corpus docs") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.read(spark, sf("0.001"), "documents")
    val (terms, nDocs, totalLen) = graft.operators.TextAnalysis.bm25Fit(
      graft.operators.TextAnalysis.tfRelation(corpus))
    val batch = graft.operators.TextAnalysis.bm25(corpus)
      .select("doc_id", "dl", "n_hit", "score_e6")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val out = StreamingOps.bm25ScoreStream(
      in.toDF().toDF("doc_id", "text"), terms, nDocs, totalLen)
    val q = out.writeStream.format("memory").queryName("bm25_out")
      .outputMode("append").start()
    try {
      val rows = corpus.select("doc_id", "text")
        .as[(Long, String)].collect().toSeq
      val (a, b) = rows.splitAt(rows.size / 2)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
      val got = spark.table("bm25_out")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      // every batch-ranked doc's (dl, hits, score) reproduces exactly
      batch.foreach { case row @ (id, _, _, _) =>
        assert(got(id) == row, s"doc $id: stream=${got(id)} batch=$row") }
      // and the stream scored the whole corpus statelessly
      assert(got.size == rows.size)
    } finally q.stop()
  }

  test("streaming Gopher funnel equals the batch gate across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    // same designed-offender corpus as the batch spec, same thresholds
    val fixture = Seq(
      (1L, "the cat sat on mat"), (2L, "a b"), (3L, "x y z w q the the the"),
      (4L, "p p p p"), (5L, "the m the m the m the m"),
      (6L, "the x q q q"), (7L, "the a x y x y x y"))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingOps.gopherGateStream(
      in.toDF().toDF("doc_id", "text", "ts"),
      minTokens = 3, maxTokens = 10, minMeanLen = 1, maxMeanLen = 10,
      minStops = 1, minDistinctPpm = 500000L, maxTopPpm = 500000L,
      maxRep2Ppm = 300000L)
    val q = out.writeStream.format("memory").queryName("gopher_out")
      .outputMode("append").start()
    try {
      // two micro-batches into the same window, then a watermark push
      val (a, b) = fixture.splitAt(3)
      in.addData(a.map { case (id, t) => (id, t, t0) }); q.processAllAvailable()
      in.addData(b.map { case (id, t) => (id, t, t0) }); q.processAllAvailable()
      in.addData((99L, "the late one",
        java.sql.Timestamp.valueOf("2026-01-01 03:00:00")))
      q.processAllAvailable()
      val w0 = spark.table("gopher_out").agg(min("win_us")).head().getLong(0)
      val got = spark.table("gopher_out")
        .filter(col("win_us") === w0) // the fixture window (late doc opens a 2nd)
        .select("rule_id", "rule", "n_in", "n_drop", "n_out")
        .as[(Long, String, Long, Long, Long)].collect().toSet
      val batch = graft.operators.TextAnalysis.gopherGate(
        fixture.toDF("doc_id", "text"),
        minTokens = 3, maxTokens = 10, minMeanLen = 1, maxMeanLen = 10,
        minStops = 1, minDistinctPpm = 500000L, maxTopPpm = 500000L,
        maxRep2Ppm = 300000L)
        .as[(Long, String, Long, Long, Long)].collect().toSet
      assert(got == batch, s"stream=$got\nbatch=$batch")
    } finally q.stop()
  }
}
