package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[MediaIndex]] — incremental perceptual dedup of a new batch
  * against a persisted hash index. q204 proves engine parity on the
  * image leg; this spec pins the cross-kind semantics and the scale
  * contract (history never shuffles) that SQL replay cannot reach. */
class MediaIndexSpec extends SparkSpec {
  import spark.implicits._

  private def img(gid: Long, fmt: String) =
    PerceptualHash.renderGrayImage(16, 16, gid * 7, gid % 5 + 1,
      gid % 11 + 1, gid % 3, 0, fmt)
  private def wavSamples = Array.tabulate(1024) { t =>
    val w = t / 16
    (t % 64 - 32) * (if ((w * w + 5 * w) % 97 < 32) 4 else 1) * 256
  }
  private def video(gid: Long, range: Range) =
    Multimodal.packImageFrames(range.map(f =>
      PerceptualHash.renderGrayImage(16, 16, gid * 7, (gid + f) % 5 + 1,
        (gid + 2 * f) % 11 + 1, (gid + f) % 3, 0, "png")))

  private lazy val history = MediaIndex.mediaHashIndex(Seq(
    Multimodal.Media(100L, "image", img(4, "png")),
    Multimodal.Media(101L, "audio", AudioWave.writeWav(wavSamples, 16000, 16)),
    Multimodal.Media(102L, "video", video(9, 0 to 5)),
    Multimodal.Media(103L, "bin", "xyz-payload".getBytes("UTF-8"))).toDS())

  private lazy val batch = Seq(
    Multimodal.Media(1L, "image", img(4, "png")),   // byte copy of 100
    Multimodal.Media(2L, "image", img(4, "bmp")),   // re-encode of 100
    Multimodal.Media(3L, "audio",
      AudioWave.writeWav(wavSamples, 16000, 8)),    // re-master of 101
    Multimodal.Media(4L, "video", video(9, 1 to 5)), // trim of 102
    Multimodal.Media(5L, "image", img(21, "png")),  // fresh image
    Multimodal.Media(6L, "audio", null),            // failed fetch
    Multimodal.Media(7L, "bin", "xyz-payload".getBytes("UTF-8")), // byte copy of 103
    Multimodal.Media(8L, "video", video(33, 0 to 5))).toDS() // fresh video

  test("mediaHashIndex: one hash-sized row per non-NULL payload, per-kind hash columns") {
    val idx = history.collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    idx.keySet shouldBe Set(100L, 101L, 102L, 103L)
    def isNull(id: Long, c: String): Boolean =
      idx(id).isNullAt(idx(id).fieldIndex(c))
    isNull(100L, "ahash") shouldBe false
    isNull(100L, "ehash") shouldBe true
    isNull(101L, "ahash") shouldBe true
    isNull(101L, "ehash") shouldBe false
    idx(102L).getAs[Seq[Long]]("fhashes") should have size 6
    isNull(103L, "ahash") shouldBe true
    isNull(103L, "fhashes") shouldBe true
    idx.values.foreach(_.getAs[String]("fp") should have length 32)
  }

  test("incrementalMediaDups: byte/image/audio/video matches with byte precedence; fresh, NULL, and unindexed-kind objects pass") {
    val dups = MediaIndex.incrementalMediaDups(
        MediaIndex.mediaHashIndex(batch), history, maxBucket = 64)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    dups shouldBe Array(
      (1L, 100L, "byte"),   // byte match wins over the image match
      (2L, 100L, "image"),
      (3L, 101L, "audio"),
      (4L, 102L, "video"),
      (7L, 103L, "byte"))
    val kept = MediaIndex.dedupeAgainstHistory(batch, history,
      maxBucket = 64).collect().map(_.media_id).sorted
    kept shouldBe Array(5L, 6L, 8L)
  }

  test("trimmed batch video clears the overlap floor on ITS OWN frame count; a half-overlap does not") {
    // batch video shares only 3 of its 6 frames with history → 5000bp
    // < 6000bp floor → survives; the 5-frame trim (5/5 matched) drops
    val half = Seq(Multimodal.Media(11L, "video",
      Multimodal.packImageFrames(
        (3 to 5).map(f => PerceptualHash.renderGrayImage(16, 16, 9 * 7,
          (9 + f) % 5 + 1, (9 + 2 * f) % 11 + 1, (9 + f) % 3, 0, "png")) ++
        (0 to 2).map(f => PerceptualHash.renderGrayImage(16, 16, 77 * 7,
          (77 + f) % 5 + 1, (77 + 2 * f) % 11 + 1, (77 + f) % 3, 0, "png"))
      ))).toDS()
    MediaIndex.incrementalMediaDups(MediaIndex.mediaHashIndex(half),
      history, maxBucket = 64).count() shouldBe 0L
  }

  test("intraBatchDups: within-ONE-batch byte and perceptual elections on index rows alone (no second decode)") {
    val withinBatch = Seq(
      Multimodal.Media(10L, "image", img(50, "png")),  // keeper
      Multimodal.Media(11L, "image", img(50, "png")),  // byte copy of 10
      Multimodal.Media(12L, "image", img(50, "bmp")),  // re-encode of 10
      Multimodal.Media(13L, "audio", AudioWave.writeWav(wavSamples, 16000, 16)),
      Multimodal.Media(14L, "audio", AudioWave.writeWav(wavSamples, 16000, 8)), // re-master of 13
      Multimodal.Media(15L, "video", video(9, 0 to 5)),
      Multimodal.Media(16L, "video", video(9, 1 to 5)), // trim of 15
      Multimodal.Media(17L, "image", img(60, "png"))).toDS() // unrelated
    val dups = MediaIndex.intraBatchDups(
        MediaIndex.mediaHashIndex(withinBatch), maxBucket = 64)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    dups shouldBe Array(
      (11L, 10L, "byte"),
      (12L, 10L, "image"),
      (14L, 13L, "audio"),
      (16L, 15L, "video"))
  }

  test("ingestStep: intra-batch election composes BEFORE the history judge; the delta is replay-idempotent") {
    // batch: two fresh copies of the same NEW image in one batch (the
    // case the sink-side division of labor admitted twice), one
    // history re-encode, one genuinely fresh track
    val b = Seq(
      Multimodal.Media(1L, "image", img(21, "png")),  // fresh, keeper
      Multimodal.Media(2L, "image", img(21, "png")),  // byte copy of 1 IN batch
      Multimodal.Media(3L, "image", img(4, "bmp")),   // re-encode of history 100
      Multimodal.Media(4L, "audio", AudioWave.writeWav(
        Array.tabulate(1024)(t => ((t * 31) % 64 - 32) *
          ((t / 16) % 3 + 1) * 256), 16000, 16))).toDS()
    val idx = MediaIndex.mediaHashIndex(b).localCheckpoint(true)
    val (dups, delta) = MediaIndex.ingestStep(idx, history, maxBucket = 64)
    dups.as[(Long, Long, String)].collect().sortBy(_._1) shouldBe Array(
      (2L, 1L, "byte"),      // within-batch: ONE survivor of the pair
      (3L, 100L, "image"))   // cross-history re-encode
    delta.select("media_id").as[Long].collect().sorted shouldBe
      Array(1L, 4L)
    // REPLAY (foreachBatch redelivery): append the delta, re-run the
    // same batch — every survivor byte-matches its own appended copy,
    // the delta is EMPTY, the final index is identical, AND the
    // verdicts equal the ORIGINAL delivery's (self-matches are
    // excluded from dups, so the survivor set replays identically —
    // a batchId-idempotent corpus sink loses nothing whichever write
    // completed before a failure)
    val appended = history.unionByName(delta).localCheckpoint(true)
    val (dups2, delta2) = MediaIndex.ingestStep(idx, appended,
      maxBucket = 64)
    delta2.count() shouldBe 0L
    dups2.as[(Long, Long, String)].collect().sortBy(_._1) shouldBe Array(
      (2L, 1L, "byte"), (3L, 100L, "image"))
    // and the raw-media wrapper agrees with the composed step
    MediaIndex.appendSurvivors(history, b, maxBucket = 64)
      .select("media_id").as[Long].collect().sorted shouldBe Array(1L, 4L)
  }

  test("MediaIndexArtifacts: build → load carries thresholds; ingest + append + compact preserve verdicts and replay-idempotency") {
    import graft.io.MediaIndexArtifacts
    val dir = tempDir("graft_mia").toString
    MediaIndexArtifacts.build(s"$dir/idx", Seq(
      Multimodal.Media(100L, "image", img(4, "png")),
      Multimodal.Media(101L, "audio", AudioWave.writeWav(wavSamples, 16000, 16)),
      Multimodal.Media(102L, "video", video(9, 0 to 5)),
      Multimodal.Media(103L, "bin", "xyz-payload".getBytes("UTF-8"))).toDS(),
      maxBucket = 64)
    val idx = MediaIndexArtifacts.load(spark, s"$dir/idx")
    (idx.imageMaxDist, idx.audioMaxDist, idx.videoMaxDist,
      idx.videoMinOverlapBp, idx.maxBucket) shouldBe (6, 3, 3, 6000, 64)
    // the artifact-backed gate agrees with the in-memory judge
    idx.dedupe(batch).collect().map(_.media_id).sorted shouldBe
      Array(5L, 6L, 8L)
    // ingest, append the delta, reload: replay appends nothing and the
    // verdicts replay identically (self-matches excluded)
    val bIdx = MediaIndex.mediaHashIndex(batch).localCheckpoint(true)
    val (dups1, delta1) = idx.ingest(bIdx)
    MediaIndexArtifacts.append(s"$dir/idx", delta1)
    val idx2 = MediaIndexArtifacts.load(spark, s"$dir/idx")
    val (dups2, delta2) = idx2.ingest(bIdx)
    delta2.count() shouldBe 0L
    dups2.collect().map(_.toSeq).sortBy(_.toString) shouldBe
      dups1.collect().map(_.toSeq).sortBy(_.toString)
    // compaction is layout-only
    MediaIndexArtifacts.compact(spark, s"$dir/idx", s"$dir/idx2", files = 2)
    val idx3 = MediaIndexArtifacts.load(spark, s"$dir/idx2")
    val (dups3, delta3) = idx3.ingest(bIdx)
    delta3.count() shouldBe 0L
    dups3.collect().map(_.toSeq).sortBy(_.toString) shouldBe
      dups1.collect().map(_.toSeq).sortBy(_.toString)
  }

  test("retraction: a tombstoned media keeper stops matching — its former dup survives and re-enters; compaction applies physically") {
    import graft.io.MediaIndexArtifacts
    val dir = tempDir("graft_mia_tomb").toString
    MediaIndexArtifacts.build(s"$dir/idx", Seq(
      Multimodal.Media(100L, "image", img(4, "png")),
      Multimodal.Media(101L, "image", img(9, "png"))).toDS(),
      maxBucket = 64)
    val probe = MediaIndex.mediaHashIndex(Seq(
        Multimodal.Media(900L, "image", img(4, "png"))).toDS())
      .localCheckpoint(true)
    // before retraction: a byte dup of the indexed keeper
    val (d0, _) = MediaIndexArtifacts.load(spark, s"$dir/idx").ingest(probe)
    d0.select("dup_id", "keep_id").as[(Long, Long)].collect() shouldBe
      Array((900L, 100L))
    // retract the keeper (takedown): the former dup now SURVIVES and
    // its index rows append — the content re-enters under its new id
    MediaIndexArtifacts.retract(s"$dir/idx", Seq(100L).toDF("media_id"))
    val (d1, delta1) = MediaIndexArtifacts.load(spark, s"$dir/idx")
      .ingest(probe)
    d1.count() shouldBe 0L
    delta1.select("media_id").as[Long].collect() shouldBe Array(900L)
    // compaction applies the tombstone physically and carries none
    MediaIndexArtifacts.compact(spark, s"$dir/idx", s"$dir/idx2", files = 2)
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/idx2/tombstones")) shouldBe false
    spark.read.parquet(s"$dir/idx2/index").select("media_id")
      .as[Long].collect() shouldBe Array(101L)
    // replay through the compacted copy + appended delta: the probe
    // matches its own row (self excluded), nothing re-appends
    MediaIndexArtifacts.append(s"$dir/idx2", delta1)
    val (d2, delta2) = MediaIndexArtifacts.load(spark, s"$dir/idx2")
      .ingest(probe)
    d2.count() shouldBe 0L
    delta2.count() shouldBe 0L
  }

  test("scale contract: the history index is never shuffled — batch broadcasts, history streams") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = tempDir("graft_mediaidx")
    val histPath = s"$dir/history_index"
    history.write.parquet(histPath)
    val histFromDisk = spark.read.parquet(histPath)
    val dups = MediaIndex.incrementalMediaDups(
      MediaIndex.mediaHashIndex(batch), histFromDisk, maxBucket = 64)
    dups.count() shouldBe 5L // same verdicts through the disk round-trip
    val plan = dups.queryExecution.executedPlan
    // history ROWS never shuffle: every ShuffleExchange whose subtree
    // reads the history scan must carry ONLY band-census columns
    // ((__b, __v) + count partials — a ≤ 4·|hashCols|·65536-row world
    // by construction), never ids, hashes, fingerprints, or payloads
    val histShuffles = plan.collect { case s: ShuffleExchangeExec => s }
      .filter(_.collectLeaves().exists {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
            .contains("history_index")
        case _ => false
      })
    histShuffles.foreach { s =>
      val cols = s.output.map(_.name).toSet
      assert(cols.forall(c => c == "__b" || c == "__v" ||
        c.startsWith("count")), s"history shuffle carries $cols")
    }
    // and the joins against history really are broadcast joins
    plan.toString should include ("BroadcastHashJoin")
  }

  test("bandOccupancyReport: the alarm fires on the leg the judge refuses; quiet under a generous cap; artifact wrapper uses the stored cap") {
    // synthetic HASH relations (the report never touches payloads):
    // a 20-copy image crowd — every (band, value) bucket holds 20
    def idxRow(id: Long, kind: String, fp: String,
               ah: java.lang.Long, dh: java.lang.Long,
               eh: java.lang.Long, fh: Seq[Long]) =
      (id, kind, fp, ah, dh, eh, fh)
    val crowd = (200L to 219L).map(i => idxRow(i, "image", s"fp$i",
        0x1234567890abcdefL, 0x0fedcba987654321L, null, null))
      .toDF("media_id", "kind", "fp", "ahash", "dhash", "ehash", "fhashes")
    // batch: a re-encode of the crowd (same hashes, different bytes)
    // plus an audio object history has no evidence about
    val batchIdx = Seq(
      idxRow(1L, "image", "fresh-bytes",
        0x1234567890abcdefL, 0x0fedcba987654321L, null, null),
      idxRow(2L, "audio", "aud-bytes", null, null, 0x7777L, null))
      .toDF("media_id", "kind", "fp", "ahash", "dhash", "ehash", "fhashes")
    // cap below the crowd: the image leg's 8 probe rows (4 bands × 2
    // hashes) ALL land capped; the audio leg's 4 are uncapped
    val fired = MediaIndex.bandOccupancyReport(batchIdx, crowd,
      maxBucket = 8).collect().head
    (fired.getAs[Long]("image_probes"), fired.getAs[Long]("image_capped"),
      fired.getAs[Long]("audio_probes"), fired.getAs[Long]("audio_capped"),
      fired.getAs[Long]("video_probes"), fired.getAs[Long]("video_capped"),
      fired.getAs[Long]("n_probes"), fired.getAs[Long]("capped_probes"),
      fired.getAs[Long]("capped_bp"),
      fired.getAs[Boolean]("rebuild")) shouldBe
      ((8L, 8L, 4L, 0L, 0L, 0L, 12L, 8L, 6666L, true))
    // the judge IS blind there (no byte match — fp differs — and the
    // perceptual leg's buckets are all capped)…
    MediaIndex.incrementalMediaDups(batchIdx, crowd, maxBucket = 8)
      .count() shouldBe 0L
    // …and sees again under a generous cap, where the report is quiet
    MediaIndex.incrementalMediaDups(batchIdx, crowd, maxBucket = 1024)
      .select("dup_id").as[Long].collect() shouldBe Array(1L)
    MediaIndex.bandOccupancyReport(batchIdx, crowd, maxBucket = 1024)
      .collect().head.getAs[Boolean]("rebuild") shouldBe false
    // the artifact wrapper judges with the STORED cap
    val dir = tempDir("graft_midx_occ").toString
    val media = (200L to 219L)
      .map(i => Multimodal.Media(i, "image", img(4, "png"))).toDS()
    graft.io.MediaIndexArtifacts.build(s"$dir/idx", media,
      maxBucket = 8)
    val rep = graft.io.MediaIndexArtifacts.load(spark, s"$dir/idx")
      .occupancyReport(MediaIndex.mediaHashIndex(
        Seq(Multimodal.Media(1L, "image", img(4, "bmp"))).toDS()))
      .collect().head
    rep.getAs[Boolean]("rebuild") shouldBe true
  }
}
