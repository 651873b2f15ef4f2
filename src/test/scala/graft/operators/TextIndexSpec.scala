package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[TextIndex]] — incremental text near-dup against a persisted
  * MinHash band index. q206 proves engine parity (exact cross-corpus
  * Jaccard oracle); this spec pins what SQL replay cannot reach: the
  * parquet round-trip (the index really is persistable state), the
  * scale contract (history rows never shuffle), replay idempotency of
  * the index delta, and the two-sided degenerate-bucket cap. */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  // 30 tokens → 28 shingles: the one-word near-dup below lands at
  // Jaccard 25/31 ≈ 0.806, just above the 0.8 threshold (a shorter doc
  // would fall below — 3 of the shingles change with one word)
  private val base = "the quick brown fox jumps over the lazy dog and " +
    "keeps running through the quiet forest toward the distant river bank " +
    "while morning light spreads across the silent valley floor"
  private val other = "completely different archival material about " +
    "ancient trade routes crossing the mountain passes in early winter snow"

  private lazy val history = Seq(
    (100L, base),
    (101L, other),
    (102L, s"$other with one more appendix sentence about caravan tolls"))
    .toDF("doc_id", "text")

  private def batch = Seq(
    (1L, base),                                   // exact re-crawl of 100
    (2L, base.replace("distant", "nearby")),      // near-dup of 100
    (3L, "a brand new report on deep sea exploration vessels mapping " +
      "volcanic ridges under the southern ocean currents today"), // fresh
    (4L, null.asInstanceOf[String]),              // failed extraction
    (5L, base + " " + base))    // doubled text: near-dup of 100 (only
                                // the two junction-bridge shingles new)
    .toDF("doc_id", "text")

  test("judge semantics: exact and near re-crawls flag with the smallest history keeper; fresh and NULL pass") {
    val (hBands, hSets) = TextIndex.buildIndex(history, "doc_id", "text")
    val dups = TextIndex.incrementalTextDups(batch, "doc_id", "text",
        hBands, hSets)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    dups.map(d => (d._1, d._2)) shouldBe Array(
      (1L, 100L), (2L, 100L), (5L, 100L))
    dups.find(_._1 == 1L).get._3 shouldBe 1.0
    dups.find(_._1 == 5L).get._3 shouldBe 0.933333 // 28 shared / 30 total
    dups.find(_._1 == 2L).get._3 should (be >= 0.8 and be < 1.0)
    // the gate keeps exactly the complement
    TextIndex.dedupeAgainstIndex(batch, "doc_id", "text", hBands, hSets)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(3L, 4L)
    spark.catalog.clearCache()
  }

  test("scale contract through a parquet round-trip: history rows (doc, shs) never enter an exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = tempDir("graft_textidx")
    val (hBands, hSets) = TextIndex.buildIndex(history, "doc_id", "text")
    hBands.write.parquet(s"$dir/text_index_bands")
    hSets.write.parquet(s"$dir/text_index_sets")
    spark.catalog.clearCache()
    val dups = TextIndex.incrementalTextDups(batch, "doc_id", "text",
      spark.read.parquet(s"$dir/text_index_bands"),
      spark.read.parquet(s"$dir/text_index_sets"))
    // same verdicts through the disk round-trip (the index IS state)
    dups.select("dup_id").as[Long].collect().sorted shouldBe
      Array(1L, 2L, 5L)
    val plan = dups.queryExecution.executedPlan
    // every shuffle whose subtree reads an index scan must carry only
    // batch-bounded DERIVED relations (band-census keys + count
    // partials, candidate pairs, keeper-election partials) — never the
    // raw index row columns `doc` (ids stream map-side into broadcast
    // joins) or `shs` (set bytes are read in place for verification)
    val histShuffles = plan.collect { case s: ShuffleExchangeExec => s }
      .filter(_.collectLeaves().exists {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
            .contains("text_index")
        case _ => false
      })
    histShuffles.foreach { s =>
      val cols = s.output.map(_.name).toSet
      assert(!cols.contains("doc") && !cols.contains("shs"),
        s"history index rows shuffled: $cols")
    }
    // and the probes against the index really are broadcast joins
    plan.toString should include ("BroadcastHashJoin")
    spark.catalog.clearCache()
  }

  test("index delta is replay-idempotent: the same batch appended twice yields an identical final index") {
    val (hBands, hSets) = TextIndex.buildIndex(history, "doc_id", "text")
    val (dBands, dSets) = TextIndex.survivorIndexRows(batch, "doc_id",
      "text", hBands, hSets)
    // survivors 3 (fresh) — NULL-text doc 4 is NEVER indexable
    dSets.select("doc").as[Long].collect().sorted shouldBe Array(3L)
    dBands.select("doc").distinct().as[Long].collect() shouldBe Array(3L)
    // "append" the delta, then REPLAY the same batch (foreachBatch
    // redelivery): every doc now matches its own appended rows at
    // Jaccard 1.0, so the second delta must be EMPTY — the final index
    // is identical however many times the batch is delivered
    val hBands2 = hBands.unionByName(dBands).localCheckpoint(true)
    val hSets2 = hSets.unionByName(dSets).localCheckpoint(true)
    val (rBands, rSets) = TextIndex.survivorIndexRows(batch, "doc_id",
      "text", hBands2, hSets2)
    rSets.count() shouldBe 0L
    rBands.count() shouldBe 0L
    spark.catalog.clearCache()
  }

  test("two-sided degenerate-bucket cap: an oversized history crowd stops matching (documented), uncapped flags it; capped ≡ uncapped when no bucket overflows") {
    // 12 byte-identical history docs: every band bucket holds 12 ids
    val crowd = (200L to 211L).map(i => (i, other)).toDF("doc_id", "text")
    val (cBands, cSets) = TextIndex.buildIndex(crowd, "doc_id", "text")
    val probe = Seq((1L, other)).toDF("doc_id", "text")
    // cap below the crowd: every shared bucket is degenerate → no
    // candidates → the probe passes (the crowd is dedup work for
    // exact/minhash at a higher threshold, not pair material)
    TextIndex.incrementalTextDups(probe, "doc_id", "text", cBands, cSets,
      maxBucket = 8).count() shouldBe 0L
    // uncapped: flagged with the smallest crowd id as keeper
    TextIndex.incrementalTextDups(probe, "doc_id", "text", cBands, cSets,
        maxBucket = Int.MaxValue)
      .select("keep_id").as[Long].collect() shouldBe Array(200L)
    // the census-cap REPLAY hole is closed by the presence guard: the
    // capped probe survives and appends; on redelivery its buckets are
    // STILL over-cap (no self-match can surface), but its id is in
    // the set index, so the delta must be empty — without the
    // presence-by-id detection this doc would re-append forever
    val (_, (db, ds)) = TextIndex.ingestStep(probe, "doc_id", "text",
      cBands, cSets, maxBucket = 8)
    ds.select("doc").as[Long].collect() shouldBe Array(1L)
    val (_, (rb2, rs2)) = TextIndex.ingestStep(probe, "doc_id", "text",
      cBands.unionByName(db).localCheckpoint(true),
      cSets.unionByName(ds).localCheckpoint(true), maxBucket = 8)
    rb2.count() shouldBe 0L
    rs2.count() shouldBe 0L
    spark.catalog.clearCache()
    // differential: on the benign fixture the production cap changes
    // nothing (the q27-maxDf/q69-maxBucket differential rule)
    val (hBands, hSets) = TextIndex.buildIndex(history, "doc_id", "text")
    val capped = TextIndex.incrementalTextDups(batch, "doc_id", "text",
      hBands, hSets, maxBucket = 1000).collect().map(_.toSeq).sortBy(_.toString)
    val uncapped = TextIndex.incrementalTextDups(batch, "doc_id", "text",
      hBands, hSets, maxBucket = Int.MaxValue).collect().map(_.toSeq).sortBy(_.toString)
    capped shouldBe uncapped
    spark.catalog.clearCache()
  }

  test("bucket-occupancy report: the alarm fires exactly where the judge goes blind; fresh content quiet; batch self-pathology reported separately") {
    // the cap test's fixture: a 12-doc history crowd at maxBucket=8
    // makes every shared bucket degenerate — the judge above proved
    // itself BLIND there (0 dups); the report must say so in probe mass
    val crowd = (200L to 211L).map(i => (i, other)).toDF("doc_id", "text")
    val (cBands, _) = TextIndex.buildIndex(crowd, "doc_id", "text")
    val probe = Seq((1L, other)).toDF("doc_id", "text")
    val fired = TextIndex.bucketOccupancyReport(probe, "doc_id", "text",
      cBands, maxBucket = 8).collect().head
    (fired.getAs[Long]("n_probes"), fired.getAs[Long]("n_probed_keys"),
      fired.getAs[Long]("n_capped_keys"),
      fired.getAs[Long]("capped_probes"), fired.getAs[Long]("capped_bp"),
      fired.getAs[Long]("batch_capped_rows"),
      fired.getAs[Boolean]("rebuild")) shouldBe
      ((32L, 32L, 32L, 32L, 10000L, 0L, true))
    // fresh content probes uncrowded buckets: quiet
    val quiet = TextIndex.bucketOccupancyReport(
      Seq((2L, base)).toDF("doc_id", "text"), "doc_id", "text",
      cBands, maxBucket = 8).collect().head
    quiet.getAs[Long]("capped_probes") shouldBe 0L
    quiet.getAs[Boolean]("rebuild") shouldBe false
    // BATCH self-pathology (10 identical copies in one batch): the
    // batch's own bucket cap drops them before probing — reported in
    // its own column, never as history drift
    val self = TextIndex.bucketOccupancyReport(
      (300L to 309L).map(i => (i, other)).toDF("doc_id", "text"),
      "doc_id", "text", cBands, maxBucket = 8).collect().head
    (self.getAs[Long]("n_probes"), self.getAs[Long]("batch_capped_rows"),
      self.getAs[Boolean]("rebuild")) shouldBe ((0L, 320L, false))
    // the artifact wrapper judges with the STORED parameters
    val dir = tempDir("graft_tidx_occ").toString
    graft.io.TextIndexArtifacts.build(dir, crowd, "doc_id", "text",
      maxBucket = 8)
    graft.io.TextIndexArtifacts.load(spark, dir)
      .occupancyReport(probe, "doc_id", "text")
      .collect().head.getAs[Boolean]("rebuild") shouldBe true
    spark.catalog.clearCache()
  }

  test("ingestStep composes the batch-internal election: a reworded pair in ONE micro-batch admits one survivor and one set of index rows; redelivery replays the identical survivor set") {
    // 30 tokens (the `base` sizing): the one-word rewording lands at
    // Jaccard 25/31 ≈ 0.806, just above threshold — and shares no
    // vocabulary with `history`, so BOTH copies are fresh vs the index
    val fresh = "salvage crews raised the sunken ferry hull from the " +
      "harbor floor at dawn while engineers checked ballast tanks and " +
      "divers secured lifting straps under the slow turning winter tide mark"
    val b = Seq((10L, fresh), (11L, fresh.replace("harbor", "marina")))
      .toDF("doc_id", "text")
    val (hBands, hSets) = TextIndex.buildIndex(history, "doc_id", "text")
    val (dups, (db, ds)) = TextIndex.ingestStep(b, "doc_id", "text",
      hBands, hSets)
    // the larger id loses to its smaller batch partner BEFORE the
    // history judge ever sees it; exactly ONE copy reaches the index
    dups.select("dup_id", "keep_id").as[(Long, Long)].collect() shouldBe
      Array((11L, 10L))
    ds.select("doc").as[Long].collect() shouldBe Array(10L)
    db.select("doc").distinct().as[Long].collect() shouldBe Array(10L)
    // the ADVICE replay scenario: index append COMPLETED, corpus
    // append lost, batch redelivered — without the intra election the
    // reworded copy would now match its partner's appended rows
    // (keeper 10 ≠ 11) and silently vanish from the corpus while its
    // rows shadow future re-crawls; with it, the verdicts and the
    // survivor set replay identically and the delta is empty
    val hb2 = hBands.unionByName(db).localCheckpoint(true)
    val hs2 = hSets.unionByName(ds).localCheckpoint(true)
    val (rdups, (rb, rs)) = TextIndex.ingestStep(b, "doc_id", "text",
      hb2, hs2)
    rdups.select("dup_id", "keep_id").as[(Long, Long)].collect() shouldBe
      Array((11L, 10L))
    rb.count() shouldBe 0L
    rs.count() shouldBe 0L
    // cross-boundary cases unchanged: the original batch's history
    // dups still flag with HISTORY keepers where no smaller batch
    // partner exists (doc 1 — the smallest of its intra cluster)
    val (mix, _) = TextIndex.ingestStep(batch, "doc_id", "text",
      hBands, hSets)
    val byId = mix.select("dup_id", "keep_id").as[(Long, Long)]
      .collect().toMap
    byId(1L) shouldBe 100L // cluster minimum → judged against history
    byId(2L) shouldBe 1L   // intra losers elect their batch keeper
    byId(5L) shouldBe 1L
    spark.catalog.clearCache()
  }

  test("TextIndexArtifacts: build → load carries the parameters; append + compact preserve verdicts exactly") {
    import graft.io.TextIndexArtifacts
    val dir = tempDir("graft_tia").toString
    TextIndexArtifacts.build(s"$dir/idx", history, "doc_id", "text",
      maxBucket = 500)
    val idx = TextIndexArtifacts.load(spark, s"$dir/idx")
    // parameters round-trip — a loaded index can only be judged with
    // the parameters it was built with
    (idx.shingleN, idx.numHashes, idx.nBands, idx.seed, idx.threshold,
      idx.maxBucket) shouldBe (3, 128, 32, 42L, 0.8, 500)
    // verdicts through the artifact ≡ the direct judge
    val direct = {
      val (hb, hs) = TextIndex.buildIndex(history, "doc_id", "text")
      TextIndex.incrementalTextDups(batch, "doc_id", "text", hb, hs,
        maxBucket = 500).collect().map(_.toSeq).sortBy(_.toString)
    }
    idx.dups(batch, "doc_id", "text").collect().map(_.toSeq)
      .sortBy(_.toString) shouldBe direct
    spark.catalog.clearCache()
    // ingest survivors, append the delta, reload: the batch's fresh
    // doc is now remembered; replaying the batch appends nothing
    val (_, delta) = idx.ingest(batch, "doc_id", "text")
    TextIndexArtifacts.append(s"$dir/idx", delta)
    spark.catalog.clearCache()
    val idx2 = TextIndexArtifacts.load(spark, s"$dir/idx")
    idx2.sets.select("doc").as[Long].collect().sorted shouldBe
      Array(3L, 100L, 101L, 102L)
    val (dups2, delta2) = idx2.ingest(batch, "doc_id", "text")
    // verdicts replay IDENTICALLY (doc 3's self-match against its own
    // appended rows is excluded — the survivor set is stable across
    // redeliveries) while the delta still appends nothing
    dups2.select("dup_id").as[Long].collect().sorted shouldBe
      Array(1L, 2L, 5L)
    delta2._2.count() shouldBe 0L
    spark.catalog.clearCache()
    // compaction is layout-only: verdicts identical from the compacted copy
    TextIndexArtifacts.compact(spark, s"$dir/idx", s"$dir/idx2", files = 4)
    val idx3 = TextIndexArtifacts.load(spark, s"$dir/idx2")
    idx3.dups(batch, "doc_id", "text").collect().map(_.toSeq)
      .sortBy(_.toString) shouldBe
      idx2.dups(batch, "doc_id", "text").collect().map(_.toSeq)
        .sortBy(_.toString)
    spark.catalog.clearCache()
  }

  test("retraction: a tombstoned keeper stops matching — former dups survive or re-elect the next smallest; compaction applies physically; replay idempotency preserved") {
    import graft.io.TextIndexArtifacts
    val dir = tempDir("graft_tia_tomb").toString
    // a 4-doc identical crowd (its own text, matching nothing in
    // `history`) so retraction can demonstrate BOTH outcomes: losing
    // the only match (doc 1) and re-electing the next-smallest
    // keeper (doc 2)
    val crowdText = "annual municipal water quality assessments across " +
      "twelve river monitoring stations were published by the regional " +
      "board this spring"
    val crowd = (200L to 203L).map(i => (i, crowdText))
      .toDF("doc_id", "text")
    TextIndexArtifacts.build(s"$dir/idx", history.unionByName(crowd),
      "doc_id", "text")
    val probe = Seq((1L, base), (2L, crowdText)).toDF("doc_id", "text")
    val idx0 = TextIndexArtifacts.load(spark, s"$dir/idx")
    idx0.dups(probe, "doc_id", "text").select("dup_id", "keep_id")
      .as[(Long, Long)].collect().sortBy(_._1) shouldBe
      Array((1L, 100L), (2L, 200L))
    spark.catalog.clearCache()
    // retract doc 1's ONLY match and doc 2's elected keeper: without
    // tombstones a taken-down doc wins keeper elections forever
    TextIndexArtifacts.retract(s"$dir/idx", Seq(100L, 200L).toDF("doc_id"))
    TextIndexArtifacts.load(spark, s"$dir/idx")
      .dups(probe, "doc_id", "text").select("dup_id", "keep_id")
      .as[(Long, Long)].collect().sortBy(_._1) shouldBe
      Array((2L, 201L)) // 1 now survives; 2 re-elects the next smallest
    spark.catalog.clearCache()
    // compaction applies the tombstones physically and carries none
    TextIndexArtifacts.compact(spark, s"$dir/idx", s"$dir/idx2")
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/idx2/tombstones")) shouldBe false
    val idxC = TextIndexArtifacts.load(spark, s"$dir/idx2")
    idxC.sets.select("doc").as[Long].collect().sorted shouldBe
      Array(101L, 102L, 201L, 202L, 203L)
    idxC.dups(probe, "doc_id", "text").select("dup_id", "keep_id")
      .as[(Long, Long)].collect().sortBy(_._1) shouldBe
      Array((2L, 201L))
    spark.catalog.clearCache()
    // the retracted CONTENT re-enters under its new id (retraction
    // removes the index entry, not the content's right to exist):
    // doc 1 survives ingest and appends; replay → identical verdicts,
    // empty delta — the replay contract holds through retraction
    val (d1, delta1) = idxC.ingest(probe, "doc_id", "text")
    d1.select("dup_id").as[Long].collect() shouldBe Array(2L)
    delta1._2.select("doc").as[Long].collect() shouldBe Array(1L)
    TextIndexArtifacts.append(s"$dir/idx2", delta1)
    spark.catalog.clearCache()
    val (d2, delta2) = TextIndexArtifacts.load(spark, s"$dir/idx2")
      .ingest(probe, "doc_id", "text")
    d2.select("dup_id").as[Long].collect() shouldBe Array(2L)
    delta2._2.count() shouldBe 0L
    spark.catalog.clearCache()
  }

  test("legacy INT32 footers: an index built pre-normalization accepts LONG appends — the mixed directory loads, judges, and compacts to pure LONG") {
    import graft.io.{IndexStore, MediaIndexArtifacts, SemanticIndexArtifacts,
      TextIndexArtifacts}
    import graft.multimodal.{MediaIndex, Multimodal, PerceptualHash}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def int(df: DataFrame, c: String) = df.withColumn(c, col(c).cast("int"))
    def params(p: String, df: DataFrame) =
      df.coalesce(1).write.mode("overwrite").parquet(s"$p/params")
    def media(id: Long, gid: Long) = MediaIndex.mediaHashIndex(Seq(
        Multimodal.Media(id, "image", PerceptualHash.renderGrayImage(16, 16,
          gid * 7, gid % 5 + 1, gid % 11 + 1, gid % 3, 0, "png"))).toDS())
      .localCheckpoint(true)
    def vecs(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "embedding")
    /** One family: the store, its id-keyed appended relation, a
      * PRE-normalization build with INT ids (the exact on-disk state
      * an upgraded deployment inherits), an upgraded append of one
      * fresh entry (id 1000), and the keepers a copy of history entry
      * 100 is judged against. */
    final case class Family(store: IndexStore[_], rel: String,
        idCol: String, ids: Seq[Long], writeLegacy: String => Unit,
        appendFresh: String => Unit, keepers: String => Seq[Long]) {
      def live(p: String): DataFrame = store.load(spark, p) match {
        case i: TextIndexArtifacts.PersistedTextIndex => i.sets
        case i: MediaIndexArtifacts.PersistedMediaIndex => i.index
        case i: SemanticIndexArtifacts.PersistedSemanticIndex => i.assigned
      }
    }
    val families = Seq(
      Family(TextIndexArtifacts, "sets", "doc", Seq(100L, 101L, 102L, 1000L),
        p => {
          val (b0, s0) = TextIndex.buildIndex(int(history, "doc_id"),
            "doc_id", "text")
          b0.write.mode("overwrite").parquet(s"$p/bands")
          s0.write.mode("overwrite").parquet(s"$p/sets")
          params(p, Seq((3, 128, 32, 42L, 0.8, 1000)).toDF("shingle_n",
            "num_hashes", "bands", "seed", "threshold", "max_bucket"))
        },
        p => TextIndexArtifacts.append(p, TextIndexArtifacts.load(spark, p)
          .ingest(Seq((1000L, "a brand new report on deep sea exploration " +
            "vessels mapping volcanic ridges under the southern ocean"))
            .toDF("doc_id", "text"), "doc_id", "text", cacheSets = false)._2),
        p => TextIndexArtifacts.load(spark, p).dups(
            Seq((7L, base)).toDF("doc_id", "text"), "doc_id", "text",
            cacheSets = false)
          .select("keep_id").as[Long].collect().toSeq),
      Family(MediaIndexArtifacts, "index", "media_id", Seq(100L, 101L, 1000L),
        p => {
          int(media(100L, 4).unionByName(media(101L, 9)), "media_id")
            .write.mode("overwrite").parquet(s"$p/index")
          params(p, Seq((6, 3, 3, 6000, 64)).toDF("image_max_dist",
            "audio_max_dist", "video_max_dist", "video_min_overlap_bp",
            "max_bucket"))
        },
        p => MediaIndexArtifacts.append(p,
          MediaIndexArtifacts.load(spark, p).ingest(media(1000L, 21))._2),
        p => MediaIndexArtifacts.load(spark, p).ingest(media(7L, 4))._1
          .select("keep_id").as[Long].collect().toSeq),
      Family(SemanticIndexArtifacts, "assigned", "id",
        Seq(100L, 101L, 102L, 1000L),
        p => {
          val (c0, a0) = SemanticIndex.buildIndex(vecs(
              (100L, Seq(1, 0, 0, 0.1)), (101L, Seq(0, 1, 0, 0.1)),
              (102L, Seq(0, 0, 1, 0.1))), "vec_id", "embedding", nCells = 2)
          c0.write.mode("overwrite").parquet(s"$p/centroids")
          int(a0, "id").write.mode("overwrite").parquet(s"$p/assigned")
          params(p, Seq((0.9, 2, Int.MaxValue, 2)).toDF("threshold",
            "n_probe", "max_cell", "n_cells"))
        },
        p => SemanticIndexArtifacts.append(p,
          SemanticIndexArtifacts.load(spark, p).ingest(
            vecs((1000L, Seq(0.5, -0.5, 0.7, 0))), "vec_id", "embedding")._2),
        p => SemanticIndexArtifacts.load(spark, p).dups(
            vecs((7L, Seq(1, 0, 0, 0.1))), "vec_id", "embedding")
          .select("keep_id").as[Long].collect().toSeq))
    for (f <- families) withClue(s"${f.rel}: ") {
      val dir = tempDir("idx_legacy").toString
      f.writeLegacy(s"$dir/idx")
      spark.read.parquet(s"$dir/idx/${f.rel}").schema(f.idCol).dataType shouldBe
        IntegerType
      // upgraded append: LONG rows land beside the INT32 footers
      f.appendFresh(s"$dir/idx")
      // the mixed directory loads through the widened-schema bridge:
      // both generations visible, verdicts correct across them
      val live = f.live(s"$dir/idx")
      live.schema(f.idCol).dataType shouldBe LongType
      live.select(f.idCol).as[Long].collect().sorted.toSeq shouldBe f.ids
      f.keepers(s"$dir/idx") shouldBe Seq(100L)
      // compaction retires the bridge: pure LONG footers afterwards
      f.store.compact(spark, s"$dir/idx", s"$dir/idx2")
      spark.read.parquet(s"$dir/idx2/${f.rel}").schema(f.idCol).dataType shouldBe
        LongType
      f.live(s"$dir/idx2").count() shouldBe f.ids.size.toLong
      spark.catalog.clearCache()
    }
  }

  test("string ids fail fast (the bounded-collect long contract)") {
    val strBatch = Seq(("a", base)).toDF("doc_id", "text")
    val (hBands, hSets) = TextIndex.buildIndex(history, "doc_id", "text")
    an[IllegalArgumentException] should be thrownBy
      TextIndex.incrementalTextDups(strBatch, "doc_id", "text", hBands, hSets)
    an[IllegalArgumentException] should be thrownBy
      TextIndex.buildIndex(strBatch, "doc_id", "text")
    spark.catalog.clearCache()
  }
}
