package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def startQuery(df: DataFrame, name: String, mode: String) =
    df.writeStream
      .format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation",
        tempDir(s"ckpt_$name").toString)
      .start()

  test("tumbling agg (update mode): revenue/visitors/purchases/aov per window") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, Double)]
    val events = in.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = startQuery(
      StreamOps.tumblingCommerceAggUnbounded(events), "tumbling_update", "update")
    try {
      in.addData(
        (ts("2024-01-01 10:05:00"), 1L, "purchase", 100.0),
        (ts("2024-01-01 10:20:00"), 2L, "view", 0.0),
        (ts("2024-01-01 10:40:00"), 1L, "purchase", 50.5))
      q.processAllAvailable()
      val r = spark.table("tumbling_update")
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
        .orderBy(col("revenue").desc).collect()
      // latest update for the 10:00 window has both purchases
      r.head.getAs[Double]("revenue") shouldBe 150.5
      r.head.getAs[Long]("visitors") shouldBe 2L
      r.head.getAs[Long]("purchases") shouldBe 2L
      r.head.getAs[Double]("aov") shouldBe 75.25
      // a second batch updates the same window (update-mode re-emission)
      in.addData((ts("2024-01-01 10:50:00"), 3L, "purchase", 49.5))
      q.processAllAvailable()
      val r2 = spark.table("tumbling_update")
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
        .orderBy(col("revenue").desc).collect()
      r2.head.getAs[Double]("revenue") shouldBe 200.0
      r2.head.getAs[Long]("purchases") shouldBe 3L
    } finally q.stop()
  }

  test("tumbling agg with watermark (append mode): window emits after watermark passes, late data dropped") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, Double)]
    val events = in.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = startQuery(
      StreamOps.tumblingCommerceAgg(events, lateness = "10 minutes"),
      "tumbling_append", "append")
    try {
      in.addData(
        (ts("2024-01-01 10:05:00"), 1L, "purchase", 100.0),
        (ts("2024-01-01 10:20:00"), 2L, "view", 0.0))
      q.processAllAvailable()
      spark.table("tumbling_append").count() shouldBe 0 // watermark hasn't passed 11:00

      // event at 12:00 advances the watermark to 11:50 > 11:00
      in.addData((ts("2024-01-01 12:00:00"), 3L, "view", 0.0))
      q.processAllAvailable()
      // one more batch so the new watermark takes effect on emission
      in.addData((ts("2024-01-01 12:01:00"), 3L, "view", 0.0))
      q.processAllAvailable()
      val emitted = spark.table("tumbling_append")
        .filter(col("window_start") === ts("2024-01-01 10:00:00")).collect()
      emitted.length shouldBe 1
      emitted.head.getAs[Double]("revenue") shouldBe 100.0

      // late arrival for the closed 10:00 window: silently dropped
      in.addData((ts("2024-01-01 10:30:00"), 9L, "purchase", 999.0))
      q.processAllAvailable()
      val after = spark.table("tumbling_append")
        .filter(col("window_start") === ts("2024-01-01 10:00:00")).collect()
      after.length shouldBe 1
      after.head.getAs[Double]("revenue") shouldBe 100.0
    } finally q.stop()
  }

  test("splitByValue forks typed branches with p_date tag (batch form)") {
    val events = Seq(
      (ts("2024-01-01 10:00:00"), "view"),
      (ts("2024-01-02 11:00:00"), "buy"),
      (ts("2024-01-02 12:00:00"), "view")
    ).toDF("ts", "event_type")
    val branches = StreamOps.splitByValue(events, "event_type", "ts", Seq("view", "buy"))
    branches.keySet shouldBe Set("view", "buy")
    rows(branches("view").select("p_date").orderBy("p_date"))
      .map(_.getString(0)) shouldBe Seq("20240101", "20240102")
    rows(branches("buy").select("p_date")).map(_.getString(0)) shouldBe Seq("20240102")
  }

  test("streaming dedup within watermark drops duplicate event ids") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val events = in.toDF().toDF("ts", "event_id", "payload")
    val q = startQuery(
      StreamOps.dedupeEvents(events, "ts", Seq("event_id"), "1 hour"),
      "dedup_out", "append")
    try {
      in.addData(
        (ts("2024-01-01 10:00:00"), 1L, "a"),
        (ts("2024-01-01 10:00:30"), 1L, "a-dup"),
        (ts("2024-01-01 10:01:00"), 2L, "b"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:02:00"), 2L, "b-dup"))
      q.processAllAvailable()
      val out = spark.table("dedup_out").select("event_id").collect().map(_.getLong(0)).sorted
      out shouldBe Array(1L, 2L)
    } finally q.stop()
  }

  test("dedup-on-ingest drops docs already fingerprinted in the static index") {
    implicit val ctx = spark.sqlContext
    val indexDir = tempDir("corpus_index").toString
    // static corpus index: fingerprints of two known docs (one stored
    // with different whitespace/case — fingerprint normalizes)
    Seq("known doc one", "KNOWN   doc two")
      .toDF("text")
      .select(graft.functions.TextFns.fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(indexDir)
    val corpusIndex = spark.read.parquet(indexDir)

    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = startQuery(
      StreamOps.dedupeAgainstIndex(docs, corpusIndex), "ingest_dedup", "append")
    try {
      in.addData(
        (1L, "known doc one"),        // exact duplicate → dropped
        (2L, "Known Doc Two"),        // case/space-normalized dup → dropped
        (3L, "a genuinely new doc"))  // survives
      q.processAllAvailable()
      val out = spark.table("ingest_dedup").select("doc_id")
        .collect().map(_.getLong(0)).sorted
      out shouldBe Array(3L)
      // the surviving row keeps its original columns, no helper column
      spark.table("ingest_dedup").columns.sorted shouldBe Array("doc_id", "text")
    } finally q.stop()
  }

  test("intraDoc line dedup composes into a stream unchanged (stateless narrow op)") {
    // the zero-shuffle property pays off twice: the same operator call
    // runs on an unbounded stream with NO state store, no watermark,
    // no output-mode constraint — it is just a projection
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = startQuery(
      graft.operators.LineDedup.intraDoc(docs, "doc_id", "text"),
      "intradoc_stream", "append")
    try {
      in.addData((1L, "nav\nbody\nnav"), (2L, "a\na\na"))
      q.processAllAvailable()
      val out = spark.table("intradoc_stream")
        .orderBy("doc_id")
        .as[(Long, Int, Int, String)].collect()
      out shouldBe Array((1L, 3, 2, "nav\nbody"), (2L, 3, 1, "a"))
    } finally q.stop()
  }

  test("ingest gate filters low-quality docs and redacts PII in-stream") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = startQuery(StreamOps.ingestGate(docs), "ingest_gate", "append")
    try {
      val decent = "the quick brown fox jumps over the lazy dog and keeps " +
        "running through the quiet forest toward the distant river bank"
      // two 30-char gibberish tokens: no stopwords (0), mean token
      // length 30 > 12 (0), no punct noise (0.2) → score 0.2 < 0.3
      in.addData(
        (1L, s"$decent contact me at body@mail.example.com today"),
        (2L, "a" * 30 + " " + "b" * 30))
      q.processAllAvailable()
      val out = spark.table("ingest_gate")
      out.select("doc_id").collect().map(_.getLong(0)) shouldBe Array(1L)
      val kept = out.collect()(0)
      kept.getAs[String]("text") should include("<EMAIL>")
      kept.getAs[String]("text") should not include "body@mail.example.com"
      kept.getAs[Int]("n_pii") shouldBe 1
      kept.getAs[Double]("quality") should be >= 0.3
      // batch parity: the same frame through the same gate, same rows
      val batch = StreamOps.ingestGate(
        Seq((1L, s"$decent contact me at body@mail.example.com today"),
          (2L, "a" * 30 + " " + "b" * 30)).toDF("doc_id", "text"))
      rows(batch.exceptAll(out.select(batch.columns.map(col): _*))) shouldBe empty
    } finally q.stop()
  }

  test("declarative session_window closes sessions after the gap") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val events = in.toDF().toDF("ts", "user_id", "value")
    val q = startQuery(
      StreamOps.sessionAgg(events, gap = "10 minutes", lateness = "5 minutes"),
      "sessions_out", "append")
    try {
      in.addData(
        (ts("2024-01-01 10:00:00"), 1L, 1.0),
        (ts("2024-01-01 10:05:00"), 1L, 2.0),   // same session (gap 5m < 10m)
        (ts("2024-01-01 10:30:00"), 1L, 4.0))   // new session (gap 25m)
      q.processAllAvailable()
      in.addData((ts("2024-01-01 12:00:00"), 2L, 0.0)) // advance watermark
      q.processAllAvailable()
      in.addData((ts("2024-01-01 12:01:00"), 2L, 0.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions_out")
        .filter(col("user_id") === 1L).orderBy("session_start").collect()
      sessions.length shouldBe 2
      sessions(0).getAs[Long]("n_events") shouldBe 2L
      sessions(0).getAs[Double]("session_value") shouldBe 3.0
      sessions(1).getAs[Long]("n_events") shouldBe 1L
      sessions(1).getAs[Double]("session_value") shouldBe 4.0
    } finally q.stop()
  }

  test("sessionization under cross-batch disorder: late events extend backwards and bridge") {
    // gap 30 min, watermark lateness 2 h. A later batch delivers an
    // 11:20 event (above watermark, NOT droppable) before the open
    // 12:00 session: 40 min of silence separates them, so it must NOT
    // join that session. A further 11:45 event then bridges the two
    // into ONE session spanning 11:20–12:00 — only a multi-session
    // state can represent the intermediate shape.
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Sessionize.Event]
    val withWm = in.toDS().withWatermark("ts", "2 hours").as[Sessionize.Event]
    val q = startQuery(
      Sessionize.flatMapSessions(withWm, gapMs = 30 * 60 * 1000).toDF(),
      "fmgws_disorder", "append")
    try {
      in.addData(Sessionize.Event(1L, ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      in.addData(Sessionize.Event(1L, ts("2024-01-01 11:20:00"), 2.0))
      q.processAllAvailable()
      in.addData(Sessionize.Event(1L, ts("2024-01-01 11:45:00"), 4.0))
      q.processAllAvailable()
      in.addData(Sessionize.Event(2L, ts("2024-01-01 15:00:00"), 0.0)) // advance wm
      q.processAllAvailable()
      val sessions = spark.table("fmgws_disorder")
        .filter(col("user_id") === 1L).collect()
      sessions.length shouldBe 1
      sessions(0).getAs[Timestamp]("session_start") shouldBe ts("2024-01-01 11:20:00")
      sessions(0).getAs[Timestamp]("session_end") shouldBe ts("2024-01-01 12:00:00")
      sessions(0).getAs[Int]("n_events") shouldBe 3
      sessions(0).getAs[Double]("session_value") shouldBe 7.0
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization matches declarative sessions") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Sessionize.Event]
    val withWm = in.toDS().withWatermark("ts", "5 minutes")
      .as[Sessionize.Event]
    val q = startQuery(
      Sessionize.flatMapSessions(withWm, gapMs = 10 * 60 * 1000).toDF(),
      "fmgws_out", "append")
    try {
      in.addData(
        Sessionize.Event(1L, ts("2024-01-01 10:00:00"), 1.0),
        Sessionize.Event(1L, ts("2024-01-01 10:05:00"), 2.0),
        Sessionize.Event(1L, ts("2024-01-01 10:30:00"), 4.0))
      q.processAllAvailable()
      in.addData(Sessionize.Event(2L, ts("2024-01-01 12:00:00"), 0.0))
      q.processAllAvailable()
      in.addData(Sessionize.Event(2L, ts("2024-01-01 12:01:00"), 0.0))
      q.processAllAvailable()
      val sessions = spark.table("fmgws_out")
        .filter(col("user_id") === 1L).orderBy("session_start").collect()
      sessions.length shouldBe 2
      sessions(0).getAs[Int]("n_events") shouldBe 2
      sessions(0).getAs[Double]("session_value") shouldBe 3.0
      sessions(0).getAs[Timestamp]("session_start") shouldBe ts("2024-01-01 10:00:00")
      sessions(0).getAs[Timestamp]("session_end") shouldBe ts("2024-01-01 10:05:00")
      sessions(1).getAs[Int]("n_events") shouldBe 1
    } finally q.stop()
  }

  test("mid-stream index append: frozen-model encode per batch, accumulated index ≡ batch rebuild") {
    import graft.operators.ProductQuant
    implicit val ctx = spark.sqlContext
    val emb = graft.Tables.embeddings(spark, sfDir)
    // the frozen index: trained on the "historical" corpus only
    val old = emb.filter(col("vec_id") > 100)
    val model = ProductQuant.train(old, "vec_id",
      "embedding", dim = 64, m = 2, k = 4, iters = 2, nCells = 4)
    val arriving = emb.filter(col("vec_id") <= 100)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val (batch1, batch2) = arriving.splitAt(arriving.length / 2)
    val in = MemoryStream[(Long, Seq[Float])]
    val appendedBatches = scala.collection.mutable.ArrayBuffer
      .empty[Array[(Long, Int, Seq[Int])]]
    val q = StreamOps.indexAppendEachBatch(
        in.toDF().toDF("vec_id", "embedding"), model) { (codes, _) =>
        appendedBatches += codes.select("c_id", "cell", "codes")
          .as[(Long, Int, Seq[Int])].collect()
      }
      .option("checkpointLocation",
        tempDir("ckpt_idx_append").toString)
      .start()
    try {
      in.addData(batch1.toSeq); q.processAllAvailable()
      in.addData(batch2.toSeq); q.processAllAvailable()
    } finally q.stop()
    // two appends arrived, encoded against the FROZEN model
    appendedBatches.map(_.length).sum shouldBe arriving.length
    // stored ∪ streamed-appends ≡ a batch re-encode of old ∪ new, and
    // search over the accumulated relation equals the one-shot search
    val streamed = appendedBatches.flatten.toSeq
      .toDF("c_id", "cell", "codes")
    val accumulated = ProductQuant
      .encode(model, old, "vec_id", "embedding", 64)
      .unionByName(streamed)
    val queries = emb.filter(col("vec_id") <= 20)
    def rows(codes: org.apache.spark.sql.DataFrame) =
      ProductQuant.search(model, codes, queries, "vec_id", "embedding", 64,
          k = 3)
        .select("q_id", "rank", "c_id", "adc_dist")
        .as[(Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._2))
    rows(accumulated) shouldBe
      rows(ProductQuant.encode(model, emb, "vec_id", "embedding", 64))
  }

  test("mid-stream index append in the ROTATED domain: OPQ∘residual∘two-level stays ≡ batch rebuild") {
    // the composed best-recall index's live-ingest contract: each
    // arriving batch rotates + encodes against the FROZEN model, and
    // the accumulated relation serves exactly what a batch rebuild
    // would — the q181 lifecycle on the top rung of the index ladder
    import graft.operators.ProductQuant
    implicit val ctx = spark.sqlContext
    val emb = graft.Tables.embeddings(spark, sfDir)
    val old = emb.filter(col("vec_id") > 100)
    val model = ProductQuant.train(old, "vec_id",
      "embedding", dim = 64, m = 2, k = 4, iters = 2, nCells = 4,
      opqIters = 2)
    val arriving = emb.filter(col("vec_id") <= 100)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val (batch1, batch2) = arriving.splitAt(arriving.length / 2)
    val in = MemoryStream[(Long, Seq[Float])]
    val appendedBatches = scala.collection.mutable.ArrayBuffer
      .empty[Array[(Long, Int, Seq[Int])]]
    val q = StreamOps.indexAppendEachBatch(
        in.toDF().toDF("vec_id", "embedding"), model) { (codes, _) =>
        appendedBatches += codes.select("c_id", "cell", "codes")
          .as[(Long, Int, Seq[Int])].collect()
      }
      .option("checkpointLocation",
        tempDir("ckpt_opq_append").toString)
      .start()
    try {
      in.addData(batch1.toSeq); q.processAllAvailable()
      in.addData(batch2.toSeq); q.processAllAvailable()
    } finally q.stop()
    appendedBatches.map(_.length).sum shouldBe arriving.length
    val streamed = appendedBatches.flatten.toSeq
      .toDF("c_id", "cell", "codes")
    val accumulated = ProductQuant
      .encode(model, old, "vec_id", "embedding", 64)
      .unionByName(streamed)
    val queries = emb.filter(col("vec_id") <= 20)
    def rows(codes: org.apache.spark.sql.DataFrame) =
      ProductQuant.search(model, codes, queries, "vec_id", "embedding", 64,
          k = 3)
        .select("q_id", "rank", "c_id", "adc_dist")
        .as[(Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._2))
    rows(accumulated) shouldBe
      rows(ProductQuant.encode(model, emb, "vec_id", "embedding", 64))
    // the live drift alarm on the arriving data: same-distribution
    // batches stay quiet in the rotated domain too
    val rep = ProductQuant.driftReport(model, old,
      emb.filter(col("vec_id") <= 100), "vec_id", "embedding", 64)
      .collect().head
    rep.getAs[Boolean]("retrain") shouldBe false
  }
}
