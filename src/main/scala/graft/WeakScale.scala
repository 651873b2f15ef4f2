package graft

import graft.operators.{CorpusStats, Dedup, Decontaminate, OutlierTrim, Sampling}
import graft.operators.{LineDedup, Retrieval, Similarity, UnigramLm}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weak-scaling measurement harness behind SCALE.md's measured tables.
  *
  * Protocol (same as the round-3 dedup/ANN rows): the sf0.1 corpus is
  * replicated k× with a per-replica tag token appended to the text —
  * intra-replica near-dup structure is preserved, cross-replica
  * fingerprint/shingle collisions are impossible — and embeddings are
  * replicated with a per-replica epsilon so no two replicas' vectors
  * coincide. Each operator is timed twice per scale (min reported) on
  * the shared local[32] session after one tiny warm-up pass compiles
  * the plan shapes.
  *
  * Run: `sbt "runMain graft.WeakScale"`; optional env
  * SPARK_GRAFT_SF_DIR (base corpus) and SPARK_GRAFT_SCALES (e.g.
  * "1,4,16").
  */
object WeakScale {

  /** k disjoint tagged copies: ids offset per replica, one replica tag
    * token appended (keeps every intra-replica shingle/fingerprint
    * relation, creates none across replicas). */
  def replicateDocs(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      docs.select(
        (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        concat(col("text"), lit(s" replicatag$i")).as("text"),
        col("lang"), col("source"))
    }.reduce(_ union _)

  /** k copies with a per-replica epsilon on every component — preserves
    * intra-replica geometry, separates replicas. */
  def replicateVecs(vecs: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      vecs.select(
        (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
        transform(col("embedding"), x => x + lit(i * 1e-3f)).as("embedding"),
        col("label"))
    }.reduce(_ union _)

  private def time(runs: Int)(body: => Long): (Double, Long) = {
    var best = Double.MaxValue
    var rows = 0L
    (0 until runs).foreach { _ =>
      val t0 = System.nanoTime()
      rows = body
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, rows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession.build("local[32]", 32, "graft-weakscale")
    spark.sparkContext.setLogLevel("WARN")

    val baseDocs = Tables.documents(spark, sfDir)
    val baseVecs = Tables.embeddings(spark, sfDir)
    // fixed-size eval suite for decontamination: the weak-scaling axis
    // is the TRAIN corpus; eval suites stay ~constant in real use
    val evalSuite = baseDocs.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 90000000L).as("doc_id"), col("text"))
    // frozen models for the q181/q182 ladders: trained ONCE on the
    // base corpus (training is sample-bounded and not what the ladder
    // measures — the frozen APPLY cost is)
    lazy val opqModel = graft.operators.ProductQuant.train(baseVecs,
      "vec_id", "embedding", dim = 64, m = 2, k = 4, iters = 2,
      opqIters = 2)
    lazy val driftModel = graft.operators.ProductQuant.train(
      baseVecs, "vec_id", "embedding", dim = 64, m = 2, k = 4, iters = 2,
      nCells = 8, superProbe = 0)
    // PRODUCTION-arity composed model (m=8, k=256): the catalog's
    // queries run toy arity for oracle speed; this model proves the
    // broadcast-relation codebooks keep codegen/compile constants
    // bounded at real codebook size (the r9 q182 lesson: a dim² or
    // K-sized literal would explode exactly here)
    lazy val opqProdModel = graft.operators.ProductQuant
      .train(baseVecs, "vec_id", "embedding", dim = 64,
        m = 8, k = 256, iters = 2, nCells = 4, opqIters = 2)

    // the catalog's fused ANN shape (q143-q178): encode the corpus with
    // a fresh index, spread it over the cores, top-3 of 20 queries
    def annSearch(index: graft.operators.ProductQuant.Index,
                  vecs: org.apache.spark.sql.DataFrame,
                  cells: Option[org.apache.spark.sql.DataFrame] = None): Long =
      graft.operators.ProductQuant.search(index,
          graft.operators.ProductQuant.encode(index, vecs, "vec_id",
            "embedding", 64).repartition(spark.sparkContext.defaultParallelism),
          vecs.filter(col("vec_id") <= 20), "vec_id", "embedding", 64, k = 3,
          cells = cells)
        .count()

    // one warm-up at 1x per operator family compiles the plan shapes
    def measurements(k: Int, runs: Int): Seq[(String, Double, Long)] = {
      val docs = replicateDocs(baseDocs, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val vecs = replicateVecs(baseVecs, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count(); vecs.count() // materialize outside the timed region
      // historical index: the replicas' other half — same scale as the
      // batch, zero overlap (both sides grow k x, the q83 shape)
      val batch = docs.filter(col("doc_id") % 2 === 0)
      val index = docs.filter(col("doc_id") % 2 === 1)
      // third tuple element: which replicated input the op reads, so
      // the isolation block below re-pins only that one (re-counting a
      // 16x corpus the op never touches is minutes of wasted wall-clock
      // per scale)
      val D = "docs"; val V = "vecs"
      // SPARK_GRAFT_WEAKSCALE_ONLY="semantic,bpe" measures a
      // comma-separated name-substring subset (local iteration; the
      // committed SCALE.md rows use the full run). Parsed here so the
      // text-index PREBUILD below can skip when its row is filtered out.
      val only = sys.env.get("SPARK_GRAFT_WEAKSCALE_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      def selected(name: String): Boolean =
        only.forall(_.exists(name.contains))
      // PREBUILD for the text_incr row: the persisted MinHash band+set
      // index over a k×-replicated history, written to PARQUET outside
      // the timed region — in production the index IS on-disk state
      // between runs; timing its build would time the (linear by
      // design) build, not the per-batch judge. History text is
      // replica-SALTED (a per-replica token interleaved between every
      // word) so every shingle carries its replica id: batch docs
      // (r0-salted) near-dup ONLY replica 0 — without the salt every
      // replica of a doc is within one token of every other
      // (replicateDocs appends one tag token), and candidates would
      // grow k× per batch doc, timing candidate fanout instead of
      // history-index growth.
      val textIdxDir =
        if (!selected("text_incr_q206") && !selected("text_ingest_q208") &&
            !selected("archive_ingest")) ""
        else {
          val d = java.nio.file.Files
            .createTempDirectory(s"graft_textidx_$k").toString
          val saltedHist = (0 until k).map { i =>
            baseDocs.select(
              (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
              regexp_replace(col("text"), "\\s+", s" r$i ").as("text"))
          }.reduce(_ union _)
          val (hb, hs) = graft.operators.TextIndex.buildIndex(
            saltedHist, "doc_id", "text", cache = false)
          hb.write.mode("overwrite").parquet(s"$d/bands")
          hs.write.mode("overwrite").parquet(s"$d/sets")
          d
        }
      // PREBUILD for the archive-scan rows: k×-replicated docs packed
      // into gzip WARC archives (every 5th record a real PNG, the rest
      // text bodies — the mixed-content shape toCrawlRecordsRouted
      // exists for), written OUTSIDE the timed region. The two rows
      // then time the SAME total consumption (inflate + record parse +
      // strip/sniff + full column materialization) through ONE routed
      // pass vs the two single-leg passes — the decompression-dominant
      // cost the shared splitter halves by construction.
      def buildArchives(shards: Int): String = {
        val d = java.nio.file.Files
          .createTempDirectory(s"graft_arch_${shards}_$k").toString
        val png = graft.multimodal.PerceptualHash
          .renderGrayImage(16, 16, 7, 2, 3, 0, 0, "png")
        val mkRec = udf((id: Long, text: String) => {
          val payload: Array[Byte] =
            if (id % 5 == 0) png
            else (if (text == null) "" else text).getBytes("UTF-8")
          (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: https://w.example/$id\r\n" +
            s"Content-Length: ${payload.length}\r\n\r\n")
            .getBytes("ISO-8859-1") ++
            payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
        })
        val concatB = udf((rs: Seq[Array[Byte]]) => rs.flatten.toArray)
        val gzB = udf((b: Array[Byte]) => {
          val bo = new java.io.ByteArrayOutputStream()
          val o = new java.util.zip.GZIPOutputStream(bo)
          o.write(b); o.close(); bo.toByteArray
        })
        docs.select(pmod(col("doc_id"), lit(shards)).as("aid"), col("doc_id"),
            mkRec(col("doc_id"), col("text")).as("rec"))
          .groupBy(col("aid"))
          .agg(gzB(concatB(transform(
            array_sort(collect_list(struct(col("doc_id"), col("rec")))),
            x => x.getField("rec")))).as("content"))
          .collect().foreach { r =>
            java.nio.file.Files.write(java.nio.file.Paths.get(d,
              f"a${r.getLong(0)}%04d.warc.gz"),
              r.getAs[Array[Byte]]("content")); ()
          }
        d
      }
      val archDir =
        if (!selected("archive_routed_split") && !selected("archive_two_leg"))
          "" else buildArchives(64)
      // PREBUILD for the semantic_ingest row: the persisted vector
      // cell index over the k×-replicated embeddings, written to
      // parquet OUTSIDE the timed region (the textIdxDir rule — the
      // index is on-disk state between runs). nCells scales with k
      // (the q86 SemDeDup sizing rule: cells stay task-sized), which
      // is what makes the per-batch judge FLAT under history growth —
      // the family's incremental contract.
      def buildSemIdx(cells: Int, maxCell: Int = 4096): String = {
        val d = java.nio.file.Files
          .createTempDirectory(s"graft_semidx_${cells}_$k").toString
        graft.io.SemanticIndexArtifacts.build(d, vecs, "vec_id",
          "embedding", nCells = cells, threshold = 0.95, nProbe = 2,
          maxCell = maxCell)
        d
      }
      val semIdxDir =
        if (!selected("semantic_ingest")) "" else buildSemIdx(32 * k)
      // the √k sizing (the q86 semantic_dedup_sqrtcells trade): batch
      // assignment costs |batch|·nCells cosines + a |batch|·nCells
      // window — ∝ k when nCells ∝ k — while per-cell judge work is
      // ∝ history/nCells; √k balances the two
      val semIdxSqrtDir =
        if (!selected("semantic_ingest_sqrtcells")) ""
        else buildSemIdx((32 * math.sqrt(k)).toInt)
      // PREBUILDS for the occupancy-alarm rungs: the SAME k× history
      // in two sizings. "frozen1x" is an index whose cell count was
      // √n-derived at 1× and never rebuilt — the drift scenario the
      // alarm exists for: per-cell occupancy grows ∝ k over a fixed
      // maxCell guard, and the report's capped_bp (the ladder's ROWS
      // column) must climb toward 10000. "sqrtcells" is what
      // SemanticIndexArtifacts.recell would have produced at this
      // history size (⌈√(kn)⌉ cells): mean occupancy √(kn) stays
      // under the same guard, capped_bp stays near 0 — the alarm is
      // quiet exactly when the sizing is honest.
      // the guard is sized off the 1× fixture (≈ 4× the 1× mean
      // occupancy — the documented build-time sizing rule: maxCell is
      // a degenerate-crowd multiple of n/nCells, and re-celling keeps
      // it honest by lowering the mean back under it): history
      // outgrowing its frozen cells by ~4× must fire; a freshly
      // √n-sized index at the same history must not
      lazy val semOccN1 = baseVecs.count()
      lazy val semOccMaxCell = (4.0 * semOccN1 /
        math.ceil(math.sqrt(semOccN1.toDouble))).toInt
      val semOccFrozenDir =
        if (!selected("semantic_occupancy_frozen1x")) ""
        else buildSemIdx(
          math.ceil(math.sqrt(semOccN1.toDouble)).toInt, semOccMaxCell)
      val semOccSqrtDir =
        if (!selected("semantic_occupancy_sqrtcells")) ""
        else {
          // what recell() produces at this history: ⌈√(kn)⌉ cells
          // AND the guard re-derived to ≥ 4× the new mean (the
          // recell sizing rule — a rebuild keeping the outgrown 1×
          // guard stays half-capped, measured at 5332 bp before the
          // rule landed)
          val cells = math.ceil(math.sqrt((k * semOccN1).toDouble)).toInt
          buildSemIdx(cells, math.max(semOccMaxCell,
            math.ceil(4.0 * k * semOccN1 / cells).toInt))
        }
      // PREBUILD for the sink-leg row: ONE materialized
      // ArchiveIngestBatch carrier with a DELIBERATELY media-heavy
      // payload mix (512 objects × 512 KB = 256 MB of write IO on
      // the media leg vs a docs+bands+sets shuffle-and-write on the
      // doc leg), so the leg overlap is timed where it matters.
      // Everything is pinned OUTSIDE the timed region — the rung
      // times ONLY the sink call (both appends).
      val sinkFix: Option[(graft.pipelines.StreamingIngestPipeline.ArchiveIngestBatch,
          graft.pipelines.StreamingIngestPipeline.ArchiveIngestBatch => Unit, Long)] =
        if (!selected("archive_sink_overlap")) None
        else {
          import spark.implicits._
          import graft.pipelines.IngestSinks
          val dFrame = baseDocs.select(col("doc_id"), col("text"))
            .localCheckpoint(true)
          val (bands, sets) = graft.operators.TextIndex.buildIndex(
            dFrame, "doc_id", "text")
          val tDelta = (bands.localCheckpoint(true),
            sets.localCheckpoint(true))
          val mkPayload = udf((i: Long) => {
            val a = new Array[Byte](512 * 1024)
            var j = 0
            while (j < a.length) { a(j) = ((i + j) & 0xff).toByte; j += 1 }
            a
          })
          val mFrame = spark.range(512)
            .select(col("id").as("media_id"), lit("image").as("kind"),
              mkPayload(col("id")).as("payload"))
            .localCheckpoint(true)
          val mdFrame = spark.range(512)
            .select(col("id").as("media_id"), lit("image").as("kind"),
              md5(concat(lit("m"), col("id").cast("string"))).as("fp"),
              xxhash64(lit("a"), col("id")).as("ahash"),
              xxhash64(lit("d"), col("id")).as("dhash"),
              lit(null).cast("long").as("ehash"),
              lit(null).cast("array<bigint>").as("fhashes"))
            .localCheckpoint(true)
          val emptyDocs = dFrame.limit(0)
          val emptyMedia = Seq.empty[(Long, String, Array[Byte])]
            .toDF("media_id", "kind", "payload")
            .as[graft.multimodal.Multimodal.Media]
          val r = java.nio.file.Files
            .createTempDirectory("graft_sinkab_overlap").toString
          IngestSinks.initTextIndex(spark, s"$r/tidx", emptyDocs,
            "doc_id", "text")
          IngestSinks.initMediaIndex(spark, s"$r/midx", emptyMedia)
          val fix = graft.pipelines.StreamingIngestPipeline
            .ArchiveIngestBatch(dFrame, tDelta, mFrame, mdFrame, 0L,
              dFrame, () => dFrame.limit(0))
          Some((fix,
            IngestSinks.archiveSink(spark, s"$r/dcorpus", s"$r/mcorpus",
              s"$r/tidx", s"$r/midx"),
            dFrame.count() + 512L))
        }
      // the archives ≫ cores fixture: 512 SMALL archives over
      // local[32], so per-archive inflate dominates and idle
      // parallelism cannot hide the two-leg composition's second
      // decompression pass — the configuration where the routed
      // split's by-construction 2× shows as wall-clock (the 64-shard
      // rows time the same bytes at 2 archives/core, where the
      // second pass overlaps idle cores and the ratio compresses)
      val archDir512 =
        if (!selected("archive512_routed_split") &&
            !selected("archive512_two_leg")) ""
        else buildArchives(512)
      // PREBUILD for the archive_ingest row: a FIXED batch of gzip
      // archives in the full crawl shape the media-gated step consumes
      // — every 5th EVEN id (id % 10 == 0) is a PNG media record at
      // `/m/g<id>.png`, the rest are HTML PAGES carrying r0-SALTED
      // prose (each matches exactly its replica-0 counterpart in the
      // prebuilt text index — the text ladder's fixture rule) plus an
      // <img src> reference to their group's media record, so the
      // doc→media ownership join does real per-batch work. Most PNGs
      // render a unique per-id pattern (original evidence — their
      // pages pass the gate); every 8th group's PNG renders the
      // SHARED gid-999 pattern, so the batch carries a real
      // intra-batch byte-dup class: one keeper page survives the
      // gate, the other copies' pages DROP — election work flowing
      // through to doc verdicts every rung. History media is
      // hash-synthesized at scale k inside the body (the media_incr
      // fixture). The axis is HISTORY: archives are constant, both
      // indexes grow k×.
      val archIngDir =
        if (!selected("archive_ingest")) ""
        else {
          val d = java.nio.file.Files
            .createTempDirectory(s"graft_arching_$k").toString
          val mkRec = udf((id: Long, text: String) => {
            val isMedia = id % 10 == 0
            val gid = if ((id / 10) % 8 == 0) 999L else id
            val payload: Array[Byte] =
              if (isMedia)
                graft.multimodal.PerceptualHash.renderGrayImage(16, 16,
                  gid * 7, gid % 5 + 1, gid % 11 + 1, gid % 3, 0, "png")
              else {
                val grp = id - id % 10
                (s"<html><body><p>${if (text == null) "" else text}</p>" +
                  s"""<img src="/m/g$grp.png"></body></html>""")
                  .getBytes("UTF-8")
              }
            val uri =
              if (isMedia) s"https://i.example/m/g$id.png"
              else s"https://i.example/p/$id"
            (s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: $uri\r\n" +
              "WARC-Date: 2026-01-02T03:04:05Z\r\n" +
              s"Content-Length: ${payload.length}\r\n\r\n")
              .getBytes("ISO-8859-1") ++
              payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
          })
          val concatB = udf((rs: Seq[Array[Byte]]) => rs.flatten.toArray)
          val gzB = udf((b: Array[Byte]) => {
            val bo = new java.io.ByteArrayOutputStream()
            val o = new java.util.zip.GZIPOutputStream(bo)
            o.write(b); o.close(); bo.toByteArray
          })
          baseDocs.filter(col("doc_id") % 2 === 0)
            .select(pmod(col("doc_id"), lit(64)).as("aid"), col("doc_id"),
              mkRec(col("doc_id"),
                regexp_replace(col("text"), "\\s+", " r0 ")).as("rec"))
            .groupBy(col("aid"))
            .agg(gzB(concatB(transform(
              array_sort(collect_list(struct(col("doc_id"), col("rec")))),
              x => x.getField("rec")))).as("content"))
            .collect().foreach { r =>
              java.nio.file.Files.write(java.nio.file.Paths.get(d,
                f"a${r.getLong(0)}%03d.warc.gz"),
                r.getAs[Array[Byte]]("content")); ()
            }
          d
        }
      val ops: Seq[(String, String, () => Long)] = Seq(
        // the FULL archive ingest step — [[graft.pipelines
        // .StreamingIngestPipeline.archiveIngestStep]] itself (the
        // exact per-batch body runArchiveIngest runs), MEDIA GATE ON:
        // ONE routed scan (pinned), HTML extraction, quality gate,
        // exact dedup, doc→media ownership join + gallery election,
        // text judge vs the k×-history parquet index, media judge vs
        // a k×-history hash index. Measured against index growth:
        // expect near-FLAT — the scan, batch, and the gate's
        // ownership join (batch-bounded by construction) are
        // constant, and both judges' histories stream map-side by
        // contract. Forcing BOTH survivor frames and BOTH deltas
        // times the step's full sink-visible surface.
        ("archive_ingest", D, () => {
          import org.apache.spark.sql.functions.{col => c}
          val routed = graft.io.WarcRecords.toCrawlRecordsRouted(
              graft.io.BinaryFileSource(archIngDir).read(spark))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // synthetic history carries NO image-kind rows on purpose:
            // the batch is all PNG, and random synthetic image hashes
            // would shift which (crowded) image-leg band buckets cross
            // the maxBucket cap as history grows k× — making the row
            // count wobble across rungs (the r16 orientation item).
            // Audio/video-only history keeps the image buckets
            // batch-constant (deterministic elections at every k)
            // while the history SCAN — the axis being measured —
            // still grows k×.
            val histMediaIdx = docs.select(
              c("doc_id").as("media_id"),
              element_at(array(lit("audio"), lit("video")),
                (pmod(c("doc_id"), lit(2)) + 1).cast("int")).as("kind"),
              md5(concat(lit("h"), c("doc_id").cast("string"))).as("fp"),
              lit(null).cast("long").as("ahash"),
              lit(null).cast("long").as("dhash"),
              when(c("doc_id") % 2 === 0,
                xxhash64(lit("e"), c("doc_id"))).as("ehash"),
              when(c("doc_id") % 2 === 1,
                transform(sequence(lit(0), lit(5)),
                  f => xxhash64(lit("f"), c("doc_id"), f))).as("fhashes"))
            // imageMaxDist = 0: the per-id gray-render family has
            // NON-TRANSITIVE dual-hash near-collisions (a~b, b~c,
            // a≁c), and greedy-by-id elections over a non-transitive
            // match relation are ORDER-SENSITIVE — rec_ids hash the
            // per-run temp path, so the dup COUNT wobbled run to run
            // (the r16 orientation item, root-caused). Exact-equality
            // matching is TRANSITIVE: counts are order-independent
            // and the ladder's row column is constant at every rung.
            val out = graft.pipelines.StreamingIngestPipeline
              .archiveIngestStep(routed,
                spark.read.parquet(s"$textIdxDir/bands"),
                spark.read.parquet(s"$textIdxDir/sets"),
                histMediaIdx, extractHtml = true, mediaGate = true,
                imageMaxDist = 0)
            out.docs.count() + out.textDelta._1.count() +
              out.textDelta._2.count() + out.media.count() +
              out.mediaDelta.count()
          } finally { routed.unpersist(); () }
        }),
        // the sink-leg row: the pinned batch, both appends per call
        // with the legs overlapped. Constant-size (the sink axis is
        // the batch, not history).
        ("archive_sink_overlap", D, () => {
          val (fix, sink, n) = sinkFix.get
          sink(fix); n
        }),
        // the SHARED single-pass splitter: one inflate+parse feeds both
        // legs; sums force full strip/sniff + column materialization so
        // pruning can't skip work the comparison is about
        ("archive_routed_split", D, () => {
          graft.io.WarcRecords.toCrawlRecordsRouted(
              graft.io.BinaryFileSource(archDir).read(spark))
            .agg(sum(length(col("text"))), sum(length(col("payload"))),
              count(lit(1)))
            .collect().head.getLong(2)
        }),
        // the pre-r15 composition: doc leg + media leg each run their
        // own splitRecords — every archive inflates and parses TWICE
        ("archive_two_leg", D, () => {
          val a = graft.io.BinaryFileSource(archDir).read(spark)
          val nd = graft.io.WarcRecords.toCrawlDocs(a)
            .agg(sum(length(col("html"))), count(lit(1)))
            .collect().head.getLong(1)
          val nm = graft.io.WarcRecords.toCrawlMedia(a)
            .agg(sum(length(col("payload"))), count(lit(1)))
            .collect().head.getLong(1)
          nd + nm
        }),
        // the archives ≫ cores pair (512 small archives over
        // local[32], same total bytes): with 16 archives per core the
        // second inflate pass can no longer hide in idle parallelism,
        // so this pair shows the routed split's by-construction ~2×
        // as wall-clock — the ratio that carries to a real crawl
        // bucket, where archives always outnumber cores
        ("archive512_routed_split", D, () => {
          graft.io.WarcRecords.toCrawlRecordsRouted(
              graft.io.BinaryFileSource(archDir512).read(spark))
            .agg(sum(length(col("text"))), sum(length(col("payload"))),
              count(lit(1)))
            .collect().head.getLong(2)
        }),
        ("archive512_two_leg", D, () => {
          val a = graft.io.BinaryFileSource(archDir512).read(spark)
          val nd = graft.io.WarcRecords.toCrawlDocs(a)
            .agg(sum(length(col("html"))), count(lit(1)))
            .collect().head.getLong(1)
          val nm = graft.io.WarcRecords.toCrawlMedia(a)
            .agg(sum(length(col("payload"))), count(lit(1)))
            .collect().head.getLong(1)
          nd + nm
        }),
        ("bloom_dedup_q83", D, () => {
          Dedup.bloomDedupe(batch, index, "doc_id", "text",
            expectedItems = 5000L * k).count()
        }),
        ("ngram_leaks_q85", D, () => {
          Decontaminate.ngramLeaks(docs, evalSuite, "doc_id", "text").count()
        }),
        // nCells scales with k: the documented SemDeDup sizing rule
        // (cells stay task-sized), keeping within-cell work linear
        ("semantic_dedup_q86", V, () => {
          Similarity.semanticDedupe(vecs, "vec_id", "embedding",
            nCells = 32 * k, threshold = 0.995).count()
        }),
        // the measured mitigation for q86's n·nCells assignment term:
        // nCells ∝ √n (the classic IVF balance) puts assignment AND the
        // within-cell pair scan at ∝ n^1.5 instead of n²
        ("semantic_dedup_sqrtcells", V, () => {
          Similarity.semanticDedupe(vecs, "vec_id", "embedding",
            nCells = (32 * math.sqrt(k)).toInt, threshold = 0.995).count()
        }),
        // the incremental SEMANTIC judge vs the k×-history PERSISTED
        // cell index (prebuilt to parquet outside the timed region):
        // a fixed batch of near-re-embeds (base + 1e-4 per component —
        // cosine ≈ 1 vs its replica copies, real election work every
        // rung) assigned, censused, judged, elected, delta derived.
        // nCells ∝ k keeps cells task-sized (the q86 sizing rule), so
        // per-batch cost must track the BATCH, not the corpus — the
        // text/media families' FLAT contract for embeddings.
        ("semantic_ingest", V, () => {
          val idx = graft.io.SemanticIndexArtifacts.load(spark, semIdxDir)
          val batch = baseVecs.select(
            (col("vec_id") + 90000000L).as("vec_id"),
            transform(col("embedding").cast("array<double>"),
              x => x + lit(1e-4)).as("embedding"))
          val (dups, delta) = idx.ingest(batch, "vec_id", "embedding")
          dups.count() + delta.count()
        }),
        ("semantic_ingest_sqrtcells", V, () => {
          val idx = graft.io.SemanticIndexArtifacts.load(spark,
            semIdxSqrtDir)
          val batch = baseVecs.select(
            (col("vec_id") + 90000000L).as("vec_id"),
            transform(col("embedding").cast("array<double>"),
              x => x + lit(1e-4)).as("embedding"))
          val (dups, delta) = idx.ingest(batch, "vec_id", "embedding")
          dups.count() + delta.count()
        }),
        // occupancy-alarm rungs: ROWS = the report's capped_bp (exact
        // integer basis points of batch probe mass in capped cells) —
        // the alarm signal itself IS the ladder observable. Latency
        // should stay FLAT on both (the report is batch-assignment +
        // a batch-cell-restricted census); the frozen rung's
        // capped_bp must CLIMB with k, the recelled rung's must not.
        ("semantic_occupancy_frozen1x", V, () => {
          val idx = graft.io.SemanticIndexArtifacts.load(spark,
            semOccFrozenDir)
          val batch = baseVecs.select(
            (col("vec_id") + 90000000L).as("vec_id"),
            transform(col("embedding").cast("array<double>"),
              x => x + lit(1e-4)).as("embedding"))
          val r = idx.occupancyReport(batch, "vec_id", "embedding")
            .collect().head
          if (sys.env.contains("SPARK_GRAFT_OCC_DEBUG"))
            System.err.println(s"[occ-debug frozen1x] $r maxCell=${idx.maxCell} " +
              s"assigned=${idx.assigned.count()} cells=${idx.centroids.count()}")
          r.getAs[Long]("capped_bp")
        }),
        ("semantic_occupancy_sqrtcells", V, () => {
          val idx = graft.io.SemanticIndexArtifacts.load(spark,
            semOccSqrtDir)
          val batch = baseVecs.select(
            (col("vec_id") + 90000000L).as("vec_id"),
            transform(col("embedding").cast("array<double>"),
              x => x + lit(1e-4)).as("embedding"))
          val r = idx.occupancyReport(batch, "vec_id", "embedding")
            .collect().head
          r.getAs[Long]("capped_bp")
        }),
        ("temperature_mixture_q88", D, () => {
          Sampling.temperatureMixture(docs, "doc_id", "source",
            budget = 1000L * k).count()
        }),
        ("unigram_lm_q93", D, () => {
          UnigramLm.selfScore(docs, "doc_id", "text").count()
        }),
        ("length_trim_q94", D, () => {
          OutlierTrim.tukey(
            docs.withColumn("n_chars", length(col("text"))),
            "lang", "n_chars").count()
        }),
        ("source_overlap_q95", D, () => {
          CorpusStats.sourceNgramOverlap(docs, "source", "text", n = 3).count()
        }),
        ("zipf_coverage_q96", D, () => {
          CorpusStats.topTokenCoverage(docs, "lang", "text", k = 10).count()
        }),
        ("dsir_select_q97", D, () => {
          val tgt = UnigramLm.build(docs.filter(col("lang") === "en"), "text")
          val src = UnigramLm.build(docs.filter(col("lang") =!= "en"), "text")
          UnigramLm.dsirTopK(docs, "doc_id", "text", tgt, src,
            k = 100 * k).count()
        }),
        ("keep_best_q98", D, () => {
          Dedup.keepBestInClusters(docs, "doc_id", "text", "doc_id").count()
        }),
        ("token_budget_q99", D, () => {
          Sampling.tokenBudgetSelect(
            docs.withColumn("n_tok",
              graft.functions.TextFns.tokenCount(col("text")).cast("long")),
            "doc_id", "n_tok", budget = 15000L * k).count()
        }),
        // lines = 8-token wraps (the q103 construction minus the planted
        // boilerplate). The replica tag sits in each doc's LAST line
        // only, so all earlier lines duplicate across replicas — the
        // realistic corpus-wide-boilerplate shape: occurrences grow k x
        // while distinct lines stay ~1x
        ("line_dedup_q103", D, () => {
          val lined = docs
            .withColumn("__toks", graft.functions.TextFns.tokens(col("text")))
            .withColumn("__nc", expr("(size(__toks) + 7) div 8").cast("int"))
            .withColumn("raw", concat_ws("\n", when(col("__nc") >= 1,
                transform(sequence(lit(0), col("__nc") - 1),
                  i => array_join(slice(col("__toks"), i * 8 + 1, lit(8)), " ")))
              .otherwise(array().cast("array<string>"))))
            .select(col("doc_id"), col("raw"))
          LineDedup.firstOccurrence(lined, "doc_id", "raw").count()
        }),
        ("bm25_q104", D, () => {
          Retrieval.bm25TopK(docs, "doc_id", "text",
            Seq("spark", "window", "merge"), k = 100).count()
        }),
        ("epoch_mix_q106", D, () => {
          Sampling.epochReplicate(docs, "doc_id", "source",
            Map("src0" -> 3, "src1" -> 2, "src2" -> 0)).count()
        }),
        ("kmeans_q107", V, () => {
          graft.operators.KMeans.fitAssign(vecs, "vec_id", "embedding",
            k = 8, iters = 2).count()
        }),
        // production-guarded form (maxDf on): the replicas make every
        // base fingerprint df ≥ k, so the pair-join side of the cost
        // is governed by the guard — the shape a templated corpus hits
        ("winnow_q108", D, () => {
          graft.operators.Winnowing.matchPairs(docs, "doc_id", "text",
            topN = 100 * k).count()
        }),
        // synthetic ring-neighbor graph (v→v+1, v+2, v+7): linear edge
        // growth, bounded degree — isolates triangleCounts' own scaling
        // from the cost of BUILDING a similarity graph (q110 uses the
        // q31 kNN edges; knn has its own rows above)
        ("triangles_q110", V, () => {
          val ids = vecs.select(col("vec_id"))
          val edges = Seq(1L, 2L, 7L).map(d =>
              ids.select(col("vec_id").as("src"),
                (col("vec_id") + d).as("dst")))
            .reduce(_ union _)
          graft.operators.GraphOps.triangleCounts(edges, "src", "dst").count()
        }),
        // same ring graph as triangles_q110: linear edges, bounded
        // degree; 2 synchronous rounds — cost should track edge count
        ("label_prop_q114", V, () => {
          val ids = vecs.select(col("vec_id"))
          val edges = Seq(1L, 2L, 7L).map(d =>
              ids.select(col("vec_id").as("src"),
                (col("vec_id") + d).as("dst")))
            .reduce(_ union _)
          graft.operators.GraphOps.labelPropagation(edges, "src", "dst",
            iters = 2).count()
        }),
        // ring graph again; k=4 < ring degree 6, so NO node drops and
        // both peel rounds run at full edge volume — the conservative
        // (max-work) measurement for the per-round cost
        ("kcore_q115", V, () => {
          val ids = vecs.select(col("vec_id"))
          val edges = Seq(1L, 2L, 7L).map(d =>
              ids.select(col("vec_id").as("src"),
                (col("vec_id") + d).as("dst")))
            .reduce(_ union _)
          graft.operators.GraphOps.kCore(edges, "src", "dst",
            k = 4, rounds = 2).count()
        }),
        // the q103 line construction, deduped WITHIN each doc — the
        // zero-shuffle path; expected to track corpus size ~linearly
        ("intradoc_dedup_q111", D, () => {
          val lined = docs
            .withColumn("__toks", graft.functions.TextFns.tokens(col("text")))
            .withColumn("__nc", expr("(size(__toks) + 7) div 8").cast("int"))
            .withColumn("raw", concat_ws("\n", when(col("__nc") >= 1,
                transform(sequence(lit(0), col("__nc") - 1),
                  i => array_join(slice(col("__toks"), i * 8 + 1, lit(8)), " ")))
              .otherwise(array().cast("array<string>"))))
            .select(col("doc_id"), col("raw"))
          LineDedup.intraDoc(lined, "doc_id", "raw").count()
        }),
        // sample size grows with the corpus (the weak-scaling form of a
        // fixed sampling RATE): per-partition heaps of size 1000·k, one
        // narrow pass, no shuffle — cost should track corpus size with
        // a small k·partitions driver-merge term
        ("weighted_sample_q117", D, () => {
          Sampling.weightedSample(
            docs.withColumn("n_chars", length(col("text"))),
            "doc_id", "n_chars", k = 1000 * k).count()
        }),
        // nCells ∝ k (cells stay task-sized, the q86 sizing rule):
        // per-cell candidate-pair mass stays ~flat, so mining cost
        // should track corpus size; production ceiling/probes
        ("hard_negatives_q122", V, () => {
          Similarity.hardNegatives(vecs, "vec_id", "embedding", "label",
            k = 5, nCells = 32 * k, nProbe = 2).count()
        }),
        // both snapshots grow k×; the q123 construction (10% adds, 10%
        // removals, 1-in-7 edits) keeps every status populated
        ("snapshot_diff_q123", D, () => {
          val prev = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          val cur = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
            .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
                concat(col("text"), lit(" v2"))).otherwise(col("text")))
          graft.operators.SnapshotDiff.diff(prev, cur, "doc_id", "text")
            .count()
        }),
        // pair VOLUME grows linearly (window·tokens per doc); the
        // aggregated pair vocabulary stays ~flat on this fixed word
        // pool — expect scan-bound ~linear
        ("collocations_q128", D, () => {
          graft.operators.CorpusStats.collocations(docs, "text",
            window = 3, minCount = 50L * k, topN = 40).count()
        }),
        // phrase occurrences replicate with the corpus (the tag token
        // sits at text end, away from intra-doc runs) — expect ~linear
        ("phrase_search_q127", D, () => {
          graft.operators.Retrieval.phraseSearch(docs, "doc_id", "text",
            Seq("table", "table")).count()
        }),
        // the q125 construction at k× — histogram relations stay
        // (sources × buckets)-sized while the scanned corpus grows
        ("dist_drift_q125", D, () => {
          val prev = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          val cur = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
            .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
                concat(col("text"), lit(" "), col("text")))
              .otherwise(col("text")))
          graft.operators.CorpusStats.distributionDrift(
            prev.withColumn("len", length(col("text")).cast("long")),
            cur.withColumn("len", length(col("text")).cast("long")),
            "source", "len", bucketWidth = 200L).count()
        }),
        // narrow 1-3-gram explode + broadcast profile join + two
        // partial aggs — expect scan-bound ~linear
        ("lang_id_q129", D, () => {
          graft.operators.LangId.predict(docs, "doc_id", "text").count()
        }),
        // the replica tag sits at text END, so every base 5-gram not
        // touching the tag duplicates across replicas — occurrence mass
        // grows k× and nearly everything outside the first replica gets
        // cut: the conservative (max-removal) measurement
        ("repeated_spans_q130", D, () => {
          Dedup.exciseRepeatedSpans(docs, "doc_id", "text", n = 5).count()
        }),
        // planted hot-shingle skew — the exact boilerplate case the r6
        // verdict flagged: one 5-word notice repeated 40x per doc (after
        // the replica tag, so it is corpus-GLOBAL) puts ~40·|docs|
        // occurrences on each of 5 shingle rotations — 3.2M at k=16.
        // Under the old window census that mass serialized through one
        // task; the partial-agg census collapses it map-side, so this
        // row must stay ~linear in k like the uniform row above
        ("repeated_spans_q130_skew", D, () => {
          val notice = Seq.fill(40)(
            "all rights reserved worldwide notice").mkString(" ")
          val hot = docs.withColumn("text",
            concat(col("text"), lit(" " + notice)))
          Dedup.exciseRepeatedSpans(hot, "doc_id", "text", n = 5).count()
        }),
        // Zipf-distributed shingle frequencies (not just the uniform
        // corpus or the single planted head): doc i carries the 5-gram
        // of phrase p = 10000 div (rank+1) under a hashed rank, so
        // phrase 1 lands in ~half the corpus (the hot head), mid
        // phrases in a power-law tail, large p near-singletons — the
        // realistic boilerplate spectrum between the two rows above
        ("repeated_spans_q130_zipf", D, () => {
          val r = pmod(xxhash64(col("doc_id")), lit(10000L))
          val p = floor(lit(10000L) / (r + lit(1L))).cast("long")
          val tag = concat_ws(" ",
            (0 until 5).map(i => concat(lit("zpf"), p, lit(s"x$i"))): _*)
          val hot = docs.withColumn("text",
            concat(col("text"), lit(" "), tag))
          Dedup.exciseRepeatedSpans(hot, "doc_id", "text", n = 5).count()
        }),
        // one corpus-sized token count, then 5 vocab-sized merge
        // rounds; the fixed word pool keeps the vocab ~flat (+k replica
        // tags), so rounds should cost ~constant while the initial
        // count tracks the corpus
        ("bpe_merges_q131", D, () => {
          graft.operators.Vocabulary.bpeMerges(docs, "text", 5).count()
        }),
        // batched-disjoint merges: same 32-merge vocabulary, one census
        // job per ACCEPTED BATCH instead of per merge — expect the
        // sequential row's per-merge cost divided by the realized batch
        // factor (corpus-dependent; natural text offers many disjoint
        // high-count pairs early)
        ("bpe_merges_seq64", D, () => {
          graft.operators.Vocabulary.bpeMerges(docs, "text", 64).count()
        }),
        ("bpe_merges_batch64", D, () => {
          graft.operators.Vocabulary.bpeMerges(docs, "text", 64,
            batch = 16).count()
        }),
        // pair tf aggregates before the vocab-sized LM joins — expect
        // the q93 unigram shape: ~linear, join cost flat
        // .agg(sum) not .count(): count() lets Catalyst PRUNE the
        // scoring projection and the LM joins behind unique-looking
        // keys, timing a near-empty plan (measured 0.2 s "flat" at
        // 16x where the real scoring chain costs ~17 s) — every row
        // here must force the operator's actual output columns
        ("bigram_lm_q134", D, () => {
          graft.operators.BigramLm.selfScore(docs, "doc_id", "text")
            .agg(sum(col("lp_sum_micro"))).collect(); docs.count()
        }),
        // two-level quantizer at auto-sized total cells (√n rule):
        // super training is sample-bounded (constant), sub training is
        // one broadcast join + two aggs per round over the sample, and
        // corpus assignment is superProbe·(√K literal + ~√K joined)
        // dots per vector — expect ~linear wall clock with the
        // sample-bounded training as a flat floor
        ("ivf_two_level", V, () => {
          graft.operators.Similarity.ivfCellsTwoLevel(
            vecs, "vec_id", "embedding", nCells = 0, nProbe = 2).count()
        }),
        // both corpora grow k×; nCells ∝ k keeps cells task-sized (the
        // q86/q122 sizing rule), so cross-boundary candidate mass grows
        // ~linearly
        ("semantic_decon_q135", V, () => {
          val isEval = pmod(col("vec_id"), lit(5)) === 0
          graft.operators.Decontaminate.semanticLeaks(
            vecs.filter(!isEval), vecs.filter(isEval),
            "vec_id", "embedding", threshold = 0.35,
            nCells = 16 * k, nProbe = 2).count()
        }),
        // narrow projection, no shuffle — the flat-linear floor case
        ("gopher_rules_q144", D, () => {
          graft.operators.QualityRules.report(docs, "doc_id", "text")
            .agg(sum(when(col("pass"), 1L).otherwise(0L))).collect()
          docs.count()
        }),
        // line-level C4 surgery: same narrow class as q144
        ("c4_clean_q148", D, () => {
          graft.operators.QualityRules.c4Clean(docs, "doc_id", "text")
            .agg(sum(col("n_kept")), sum(length(col("clean_text"))))
            .collect()
          docs.count()
        }),
        // per-source bucket cut: LM build + scoring dominate (the q134
        // shape); the ranking itself is band-parallel + broadcast
        // offsets — expect ~linear, NO hot-group straggler even though
        // one source holds a constant share of the whole corpus
        ("ppl_buckets_q150", D, () => {
          graft.operators.BigramLm.perplexityBuckets(
            docs, "doc_id", "text", "source").count()
        }),
        // train side grows k×, eval stays FIXED (the q85 protocol: the
        // weak-scaling axis is the corpus, not the benchmark suite);
        // expect linear — one streamed explode under a broadcast
        // semi-join with map-side-combined per-doc counts
        ("contamination_frac_q145", D, () => {
          val eval = docs.filter(pmod(col("doc_id"), lit(997)) === 0)
            .limit(200).select(col("doc_id"), col("text"))
          graft.operators.Decontaminate.contaminationFraction(
            docs, eval, "doc_id", "text", n = 8).count()
        }),
        // corpus pays ONE word-count shuffle; candidates/DP run over
        // the distinct-word relation (Heaps-bounded — replicas add one
        // tag word each) — expect sub-linear: the vocab-relation cost
        // saturates while only the word count grows
        ("unigram_segments_q147", D, () => {
          graft.operators.UnigramTokenizer.segmentWords(
              docs, "text", vocabSize = 80, maxPieceLen = 4)
            .agg(sum(col("cost_micro")), sum(length(col("encoding"))))
            .collect()
          docs.count()
        }),
        // EM to target (q169): 3 Viterbi+recount rounds over the
        // DISTINCT-WORD relation (Heaps-bounded), corpus pays one
        // word-count shuffle total, per-round state is vocab-sized —
        // expect the q147 sub-linear shape times the fixed round count
        ("unigram_em_train_q169", D, () => {
          graft.operators.UnigramTokenizer.emTrain(docs, "text",
              seedSize = 80, targetSize = 30, rounds = 3,
              shrinkBp = 7500, maxPieceLen = 4)
            .agg(sum(col("lp_micro")), count(lit(1))).collect()
          docs.count()
        }),
        // frozen-vocab apply: the vocabulary learns ONCE on the base
        // corpus (constant — the production artifact), each scale
        // encodes its k× corpus under it; expect linear in the
        // tokenize + broadcast-join passes
        ("frozen_encode_q152", D, () => {
          val vocab = graft.operators.UnigramTokenizer.seedVocab(
            Tables.documents(spark, sfDir), "text", vocabSize = 80,
            maxPieceLen = 4)
          graft.operators.UnigramTokenizer.encodeWith(
              docs, "doc_id", "text", vocab, maxPieceLen = 4)
            .agg(sum(col("piece_id")), count(lit(1))).collect()
          docs.count()
        }),
        // SFT assembly: one conversation-key aggregate over synthetic
        // 4-turn conversations — per-entity collect class, linear
        ("sft_assemble_q154", D, () => {
          val turns = docs.select(expr("doc_id div 4").as("conv_id"),
            expr("cast(doc_id % 4 as int)").as("turn_idx"),
            expr("case when doc_id % 4 = 0 then 'system' " +
              "when (doc_id % 4) % 2 = 1 then 'assistant' " +
              "else 'user' end").as("role"), col("text"))
          graft.operators.Dialogue.assemble(turns, "conv_id", "turn_idx",
              "role", "text")
            .agg(sum(col("n_tokens")), sum(length(col("text")))).collect()
          docs.count()
        }),
        // span corruption: pure narrow projection — the q144 class
        ("span_corrupt_q157", D, () => {
          graft.operators.Denoise.spanCorrupt(docs, "doc_id", "text")
            .agg(sum(col("n_dropped")), sum(length(col("input_text"))))
            .collect()
          docs.count()
        }),
        // crawl-to-text: pure narrow regexp/HOF projection (the
        // hottest pass at crawl scale) — expect flat-linear, zero
        // shuffle; html synthesized per doc like the q173 fixture
        ("html_extract_q173", D, () => {
          val crawl = docs.withColumn("html",
            concat(lit("<html><head><title>T</title><style>p{}</style>"),
              lit("</head><body><h1>H</h1><p>"), col("text"),
              lit("</p><script>var x=1;</script>"),
              lit("<p>A &lt;b&gt; &#65; tail</p></body></html>")))
          graft.operators.HtmlExtract.extractText(crawl, "doc_id", "html")
            .agg(sum(length(col("text"))), count(lit(1))).collect()
          docs.count()
        }),
        // URL-first gate: host suffix explode (≤ label count rows/doc)
        // + broadcast blocklist anti join; only the URL column is
        // read — expect flat-linear
        ("url_blocklist_q176", D, () => {
          val withUrl = docs.withColumn("url",
            concat(lit("https://sub"), (col("doc_id") % 50).cast("string"),
              lit(".host"), (col("doc_id") % 20).cast("string"),
              lit(".example.com/p/"), col("doc_id").cast("string")))
          val blocked = {
            import spark.implicits._
            (0 until 5).map(i => s"host$i.example.com").toDF("domain")
          }
          graft.operators.UrlCuration.blocklistFilter(withUrl, "url", blocked)
            .count()
        }),
        // full-PSL domain report (q179): per-host partial agg (the
        // corpus's one shuffle, host-keyed narrow rows) + the
        // distinct-host suffix/rule broadcast joins + per-domain
        // re-agg — expect ~linear in the corpus, rule join flat
        // (rules are a constant broadcast)
        ("psl_domains_q179", D, () => {
          val withUrl = docs.withColumn("url",
            concat(lit("https://a"), (col("doc_id") % 7).cast("string"),
              lit(".host"), (col("doc_id") % 100).cast("string"),
              lit(".gov.au/p/"), col("doc_id").cast("string")))
          val rules = graft.operators.UrlCuration.pslRuleRelation(spark,
            graft.operators.UrlCuration.defaultPsl())
          graft.operators.UrlCuration
            .domainReportPsl(withUrl, "url", "text", rules)
            .agg(sum(col("n_tokens")), count(lit(1))).collect()
          docs.count()
        }),
        // WARC archive round-trip (q180): record assembly is the one
        // aggregate shuffle (archive count ∝ k, ~10 records each,
        // constant archive size), the byte scanner is a narrow
        // mapPartitions pass — expect ~linear
        ("warc_records_q180", D, () => {
          val rec = docs.select(expr("doc_id div 10").as("aid"),
            col("doc_id"),
            concat(lit("WARC/1.0\r\nWARC-Target-URI: u/"),
              col("doc_id").cast("string"),
              lit("\r\nContent-Length: "),
              octet_length(col("text")).cast("string"),
              lit("\r\n\r\n"), col("text"), lit("\r\n\r\n")).as("rec"))
          val archives = rec.groupBy(col("aid"))
            .agg(array_join(transform(
              array_sort(collect_list(struct(col("doc_id"), col("rec")))),
              x => x.getField("rec")), "").as("content"))
          graft.io.WarcRecords.splitRecords(archives, "aid", "content")
            .agg(sum(col("content_length")), count(lit(1))).collect()
          docs.count()
        }),
        // OPQ rotated-domain encode (q182 shape): the rotation is a
        // dim² literal matmul per row (the heaviest narrow projection
        // in the repo) + PQ argmin encode — expect linear, zero
        // shuffle; model trained ONCE on the base corpus (frozen)
        ("opq_rotate_encode_q182", V, () => {
          graft.operators.ProductQuant.encode(opqModel, vecs, "vec_id",
              "embedding", 64)
            .agg(count(lit(1)), sum(element_at(col("codes"), 1))).collect()
          vecs.count()
        }),
        // (the toy-arity opq_serve_q184 ladder was RETIRED in r12: its
        // 16x point wobbled 4.4-6.0s run-to-run while the production-
        // arity opq_serve_m8k256 row below measures the same serve
        // path at real codebook size with a steady shape — SCALE.md)
        // production-arity PQ encode (m=8, k=256, dim=64): same shape
        // as opq_serve_q184's encode leg but with 2048-entry
        // codebooks riding as broadcast relations — expect linear
        // with a constant comparable to the toy arity (a K-sized or
        // dim² literal would instead re-pay janino compile per scale)
        ("opq_encode_m8k256", V, () => {
          graft.operators.ProductQuant.encode(opqProdModel, vecs,
              "vec_id", "embedding", 64)
            .agg(count(lit(1)), sum(element_at(col("codes"), 1))).collect()
          vecs.count()
        }),
        // production-arity frozen serve (m=8, k=256): encode + the
        // OverCodes cell-join ADC search — the full q193 bench path
        // at real codebook size
        ("opq_serve_m8k256", V, () => {
          val codes = graft.operators.ProductQuant
            .encode(opqProdModel, vecs, "vec_id", "embedding", 64)
          graft.operators.ProductQuant.search(opqProdModel,
              codes, baseVecs.filter(col("vec_id") <= 20), "vec_id",
              "embedding", 64, k = 3)
            .agg(count(lit(1)), sum(col("adc_dist"))).collect()
          vecs.count()
        }),
        // the flagship index's one previously-untimed stage: the FULL
        // composed train (Procrustes alternation + residual two-level,
        // q184's arity) over the REPLICATED corpus — every fit is
        // sample-bounded, so the ladder must be FLAT: train cost is
        // corpus-size-independent by construction
        ("opq_train_q184", V, () => {
          graft.operators.ProductQuant.train(vecs,
            "vec_id", "embedding", dim = 64, m = 2, k = 4, iters = 2,
            nCells = 4, opqIters = 2)
          vecs.count()
        }),
        // residual-drift retrain alarm (q181): two narrow norm passes
        // (literal cell model) + single-row aggs — expect ~linear with
        // a tiny constant; the alarm must stay cheap enough to run on
        // every append batch
        ("index_drift_q181", V, () => {
          graft.operators.ProductQuant.driftReport(driftModel,
              vecs, vecs, "vec_id", "embedding", 64)
            .collect()
          vecs.count()
        }),
        // unified media originality gate (q203 shape): one media
        // object per doc (kind = doc_id mod 3), every even/odd pair a
        // re-encode class (PNG/BMP, 16/8-bit WAV, full/trimmed
        // container), render params salted per replica so no
        // cross-replica byte or perceptual collisions exist — each
        // replica carries the same election work. The timed body
        // includes fixture synthesis (render UDFs) like the URL
        // ladder below; claimed cost class: narrow per-kind decode
        // passes (payloads never shuffle) + one fingerprint shuffle +
        // banded hash-sized elections ⇒ expect ~linear, with the
        // letterbox's degenerate bands absorbed by the census cap.
        ("media_gate_q203", D, () => {
          import graft.multimodal.{AudioWave, Multimodal, PerceptualHash}
          val mkAudio = udf((g: Long, bits8: Boolean) => {
            val samples = Array.tabulate(1024) { t =>
              val w = t / 16
              val base = ((g * 13 + (g % 7 + 1) * t) % 64 - 32).toInt
              val hi = (g * 1103515245L + w.toLong * w * (g % 13 + 1) +
                w.toLong * (g % 31 + 3)) % 97 < 32
              base * (if (hi) 4 else 1) * 256
            }
            AudioWave.writeWav(samples, 16000, bits = if (bits8) 8 else 16)
          })
          val mkVideo = udf((g: Long, trimmed: Boolean) => {
            val fs = (if (trimmed) 1 to 5 else 0 to 5).map { f =>
              PerceptualHash.renderGrayImage(16, 16, g * 7,
                (g + f) % 5 + 1, (g + 2 * f) % 11 + 1, (g + f) % 3, 0L,
                "png")
            }
            Multimodal.packImageFrames(fs)
          })
          val base = col("doc_id") % 10000000L
          val j = expr("(doc_id % 10000000) div 3")
          val g = expr("((doc_id % 10000000) div 3) div 2") +
            expr("doc_id div 10000000") * 10000000L
          val reenc = j % 2 === 1
          val media = docs.select(col("doc_id").as("media_id"),
            col("doc_id"),
            element_at(array(lit("image"), lit("audio"), lit("video")),
              (pmod(base, lit(3)) + 1).cast("int")).as("kind"),
            when(pmod(base, lit(3)) === 0,
              graft.multimodal.PerceptualHash.renderLetterboxImage16(
                g * 7, g % 5 + 1, g % 11 + 1, g % 3, lit(0L),
                when(reenc, "bmp").otherwise("png")))
              .when(pmod(base, lit(3)) === 1, mkAudio(g, reenc))
              .otherwise(mkVideo(g, reenc)).as("payload"))
            // materialized ONCE: in production the media relation is
            // STORAGE (a parquet scan the gate re-reads per pass), not
            // a recomputed expression — without the pin the gate's
            // fingerprint pass + three kind legs would re-render the
            // fixture ~5×, timing synthesis instead of the gate
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          media.count()
          try {
            Multimodal.dropAllDuplicateMediaDocs(docs, "doc_id", media,
                "media_id", "doc_id", "kind", "payload")
              .agg(count(lit(1))).collect()
            docs.count()
          } finally { media.unpersist(); () }
        }),
        // incremental media dedup (q204 shape): the axis that grows
        // in production is HISTORY (the accumulated corpus index) —
        // the batch is bounded by ingest cadence, so the ladder
        // replicates the history index k× against a FIXED ~1.7k-object
        // batch. Batch index build + its broadcast are a constant;
        // history pays a narrow band projection + one tiny (band,
        // value) census + streamed broadcast joins ⇒ expect ~linear
        // in history with a visible constant floor. History hashes
        // are replica-salted (distinct band values per replica) so no
        // cross-replica bucket merging shrinks the work.
        ("media_incr_q204", D, () => {
          import graft.multimodal.MediaIndex
          // index relations synthesized directly at the HASH level —
          // this ladder measures the GATE against a grown index, not
          // media decoding (the media_gate ladder above owns that)
          val histIdx = docs.select(
            col("doc_id").as("media_id"),
            element_at(array(lit("image"), lit("audio"), lit("video")),
              (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
            md5(concat(lit("h"), col("doc_id").cast("string"))).as("fp"),
            when(col("doc_id") % 3 === 0,
              xxhash64(lit("a"), col("doc_id"))).as("ahash"),
            when(col("doc_id") % 3 === 0,
              xxhash64(lit("d"), col("doc_id"))).as("dhash"),
            when(col("doc_id") % 3 === 1,
              xxhash64(lit("e"), col("doc_id"))).as("ehash"),
            when(col("doc_id") % 3 === 2,
              transform(sequence(lit(0), lit(5)),
                f => xxhash64(lit("f"), col("doc_id"), f))).as("fhashes"))
          val batchIdx = baseDocs.filter(col("doc_id") % 3 === 0)
            .select(
              (col("doc_id") + 900000000L).as("media_id"),
              element_at(array(lit("image"), lit("audio"), lit("video")),
                (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
              // every other batch object byte-matches history replica 0
              when(col("doc_id") % 2 === 0,
                md5(concat(lit("h"), col("doc_id").cast("string"))))
                .otherwise(md5(concat(lit("b"),
                  col("doc_id").cast("string")))).as("fp"),
              xxhash64(lit("a"), col("doc_id") + 500000000L).as("ahash"),
              xxhash64(lit("d"), col("doc_id") + 500000000L).as("dhash"),
              lit(null).cast("long").as("ehash"),
              lit(null).cast("array<long>").as("fhashes"))
          MediaIndex.incrementalMediaDups(batchIdx, histIdx)
            .agg(count(lit(1))).collect()
          docs.count()
        }),
        // the FULL media ingest step: intra-batch election + history
        // judge + replay-idempotent delta — what runMediaIngestIndexed
        // runs per micro-batch (the text_ingest row's media twin).
        // Same hash-level synthesis as media_incr_q204; the batch pin
        // (eager checkpoint) is part of the shipped step and is timed.
        ("media_ingest", D, () => {
          import graft.multimodal.MediaIndex
          val histIdx = docs.select(
            col("doc_id").as("media_id"),
            element_at(array(lit("image"), lit("audio"), lit("video")),
              (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
            md5(concat(lit("h"), col("doc_id").cast("string"))).as("fp"),
            when(col("doc_id") % 3 === 0,
              xxhash64(lit("a"), col("doc_id"))).as("ahash"),
            when(col("doc_id") % 3 === 0,
              xxhash64(lit("d"), col("doc_id"))).as("dhash"),
            when(col("doc_id") % 3 === 1,
              xxhash64(lit("e"), col("doc_id"))).as("ehash"),
            when(col("doc_id") % 3 === 2,
              transform(sequence(lit(0), lit(5)),
                f => xxhash64(lit("f"), col("doc_id"), f))).as("fhashes"))
          val batchIdx = baseDocs.filter(col("doc_id") % 3 === 0)
            .select(
              (col("doc_id") + 900000000L).as("media_id"),
              element_at(array(lit("image"), lit("audio"), lit("video")),
                (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
              // every other batch object byte-matches history replica
              // 0; %12==3 rows take their +6 partner's fp — and that
              // partner (%12==9, odd, so it falls through to the
              // .otherwise branch md5('b'+id)) actually EXISTS in the
              // batch, so the pairs genuinely collide and the
              // intra-batch election does real work every rung (a
              // %6==3 rule would put BOTH ends of each pair on the
              // 'b'+(id+6) form — a chain where no two fps ever meet)
              when(col("doc_id") % 2 === 0,
                md5(concat(lit("h"), col("doc_id").cast("string"))))
                .when(col("doc_id") % 12 === 3,
                  md5(concat(lit("b"), (col("doc_id") + 6).cast("string"))))
                .otherwise(md5(concat(lit("b"),
                  col("doc_id").cast("string")))).as("fp"),
              xxhash64(lit("a"), col("doc_id") + 500000000L).as("ahash"),
              xxhash64(lit("d"), col("doc_id") + 500000000L).as("dhash"),
              lit(null).cast("long").as("ehash"),
              lit(null).cast("array<long>").as("fhashes"))
            .localCheckpoint(true)
          val (dups, delta) = MediaIndex.ingestStep(batchIdx, histIdx)
          dups.count() + delta.count()
        }),
        // incremental TEXT near-dup (q206 shape): the production axis
        // is HISTORY (the persisted band+set index, prebuilt to
        // parquet above) — the batch is fixed (~2.5k r0-salted docs,
        // each matching exactly its replica-0 counterpart). Timed:
        // the JUDGE alone, reading the index from disk as production
        // does. History pays two narrow columnar band scans + one set
        // scan per batch, all streamed map-side into broadcast joins;
        // the one history-derived exchange is the batch-key-restricted
        // census ⇒ expect FLAT vs history growth, the media_incr_q204
        // contract for documents.
        ("text_incr_q206", D, () => {
          val batch = baseDocs.filter(col("doc_id") % 2 === 0)
            .select((col("doc_id") + 900000000L).as("doc_id"),
              regexp_replace(col("text"), "\\s+", " r0 ").as("text"))
          graft.operators.TextIndex.incrementalTextDups(batch, "doc_id",
            "text", spark.read.parquet(s"$textIdxDir/bands"),
            spark.read.parquet(s"$textIdxDir/sets")).count()
        }),
        // the FULL ingest step (q208 shape): judge + presence probe +
        // replay-idempotent delta — what runWithTextIndexGate actually
        // runs per micro-batch. Adds one narrow `doc`-column scan of
        // the set index (presence detection) and the delta
        // derivations on top of the judge above ⇒ expect the same
        // FLAT curve with a slightly higher constant.
        ("text_ingest_q208", D, () => {
          val batch = baseDocs.filter(col("doc_id") % 2 === 0)
            .select((col("doc_id") + 900000000L).as("doc_id"),
              regexp_replace(col("text"), "\\s+", " r0 ").as("text"))
          val (dups, (db, ds2)) = graft.operators.TextIndex.ingestStep(
            batch, "doc_id", "text",
            spark.read.parquet(s"$textIdxDir/bands"),
            spark.read.parquet(s"$textIdxDir/sets"), cacheSets = false)
          dups.count() + db.count() + ds2.count()
        }),
        // canonical-URL dedup (q187 shape): the canonical key is a
        // narrow expression; keeper election is ONE groupBy(key)
        // min-agg with map-side combine + a semi join back — the same
        // single-shuffle cost class as exact dedup. URLs synthesized
        // so ~2/7 of rows collapse per replica. Expect ~linear.
        ("url_canonical_q187", D, () => {
          val withUrl = docs.withColumn("url",
            concat(lit("https://Ex"), (col("doc_id") % 97).cast("string"),
              lit(".com:443/p"),
              when(col("doc_id") % 7 < 2, lit("?utm_s=x&gclid=1"))
                .otherwise(concat(lit("/"), col("doc_id").cast("string")))))
          graft.operators.UrlCuration
            .canonicalUrlDedup(withUrl, "url", "doc_id")
            .agg(count(lit(1))).collect()
          docs.count()
        }),
        // script composition (q191 shape): the per-CHARACTER explode —
        // the heaviest narrow pass in the text family (|text| rows per
        // doc) — straight into one map-side-combined group aggregate.
        // Expect linear with a visible constant; no join, no second
        // shuffle.
        ("script_mix_q191", D, () => {
          graft.operators.LangId.scriptMix(docs, "source", "text")
            .agg(sum(col("n_chars")), count(lit(1))).collect()
          docs.count()
        }),
        // feature hashing: explode + one (id, bucket) groupBy with
        // map-side combine; ≤ dim rows per doc — expect linear
        ("feature_hash_q162", D, () => {
          graft.operators.FeatureHash.hashedTf(docs, "doc_id", "text",
              dim = 64)
            .agg(sum(col("weight")), count(lit(1))).collect()
          docs.count()
        }),
        // IVF candidates ∝ n·nProbe/nCells with nCells ∝ k (the q135
        // sizing rule) ⇒ per-query candidate mass constant; PQ train
        // sample-bounded; encode narrow ⇒ expect ~linear in n
        ("ivf_pq_q143", V, () => {
          val index = graft.operators.ProductQuant.train(vecs, "vec_id",
            "embedding", dim = 64, m = 2, k = 4, iters = 2)
          annSearch(index, vecs, cells = Some(
            graft.operators.Similarity.ivfCellsTrained(vecs, "vec_id",
              "embedding", nCells = 8 * k, nProbe = 2, iters = 2)))
        }),
        // IVFADC behind the two-level quantizer (q168): nCells ∝ √n
        // (the production sizing — at 10¹⁰ vectors √n ≈ 10⁵ cells,
        // which is exactly the regime where the flat literal model is
        // impossible). Super training sample-bounded, sub training
        // relation-form over the sample, assignment superProbe·~√K
        // dots/vector, per-query candidate mass ∝ n/nCells ∝ √n —
        // expect ~n^1.5 in the fixed-query-count harness shape, with
        // the sample-bounded training a flat floor
        ("ivf_pq_two_level_q168", V, () => {
          val index = graft.operators.ProductQuant.train(vecs, "vec_id",
            "embedding", dim = 64, m = 2, k = 4, iters = 2)
          annSearch(index, vecs, cells = Some(
            graft.operators.Similarity.ivfCellsTwoLevel(vecs, "vec_id",
              "embedding", nCells = (8 * math.sqrt(k.toDouble)).toInt,
              nProbe = 2, superProbe = 2, iters = 2).localCheckpoint()))
        }),
        // residual IVF-PQ (q177): same candidate shape as q143 with
        // nCells ∝ k; sample-bounded double training (cells + residual
        // codebooks), ONE fused corpus pass for cell+codes — expect
        // the q143 curve
        ("ivf_pq_residual_q177", V, () => {
          annSearch(graft.operators.ProductQuant.train(vecs,
            "vec_id", "embedding", dim = 64, m = 2, k = 4, iters = 2,
            nCells = 8 * k, cellIters = 2, superProbe = 0), vecs)
        }),
        // the balanced sizing for the flat residual form: nCells ∝ √k
        // puts the literal assignment at n·√k (∝ k^1.5) instead of the
        // row above's n·k — the same mitigation as
        // semantic_dedup_sqrtcells; past the literal cap the scale
        // path is residual ∘ two-level (class doc)
        ("ivf_pq_residual_sqrtcells", V, () => {
          annSearch(graft.operators.ProductQuant.train(vecs,
            "vec_id", "embedding", dim = 64, m = 2, k = 4, iters = 2,
            nCells = (8 * math.sqrt(k.toDouble)).toInt, cellIters = 2,
            superProbe = 0), vecs)
        }),
        // residual ∘ two-level (q178): no K-sized literal — assignment
        // is superProbe·(√K literal + ~√K joined) dots + a broadcast
        // residual join; expect the near-flat q168 curve with the
        // residual join's small constant on top
        ("ivf_pq_residual_two_level_q178", V, () => {
          annSearch(graft.operators.ProductQuant.train(
            vecs, "vec_id", "embedding", dim = 64, m = 2, k = 4,
            iters = 2, nCells = (8 * math.sqrt(k.toDouble)).toInt,
            cellIters = 2), vecs)
        }))
      val out = ops.filter(o => selected(o._1)).map {
        case (name, input, body) =>
        // isolate each operator from its predecessors: drop the
        // operator-internal persisted relations (shingle sets, tf,
        // census tables — cached by logical plan, they otherwise pile
        // up across the ops and the later rows are measured under
        // eviction/ContextCleaner churn, the exact distortion
        // Bench.scala documents), then re-pin THIS op's replicated
        // input OUTSIDE the timed region and let the cleaner settle.
        spark.catalog.clearCache()
        val pin = if (input == V) vecs else docs
        pin.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pin.count()
        System.gc()
        Thread.sleep(1000)
        val (sec, rows) = time(runs)(body())
        (name, sec, rows)
      }
      docs.unpersist(); vecs.unpersist()
      // drop this rung's on-disk text index — a ladder otherwise
      // accumulates k-times-replicated parquet piles across rungs
      if (textIdxDir.nonEmpty) {
        def rm(p: java.nio.file.Path): Unit = {
          if (java.nio.file.Files.isDirectory(p)) {
            // Files.list holds the directory handle until CLOSED — an
            // unclosed stream leaks one fd per directory level
            val s = java.nio.file.Files.list(p)
            try s.forEach(rm(_)) finally s.close()
          }
          java.nio.file.Files.deleteIfExists(p); ()
        }
        rm(java.nio.file.Paths.get(textIdxDir))
      }
      Seq(archDir, archIngDir).filter(_.nonEmpty).foreach { dir =>
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try s.forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        finally s.close()
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(dir)); ()
      }
      out
    }

    measurements(1, runs = 1) // warm-up: compile shapes, ignore timings
    scales.foreach { k =>
      measurements(k, runs = 2).foreach { case (name, sec, rows) =>
        println(f"""{"op":"$name","scale":$k,"sec":$sec%.2f,"rows":$rows}""")
      }
    }
    spark.stop()
  }
}
