package graft.pipelines

import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming mirror of [[TrainingCorpusPipeline]]'s front half —
  * continuous corpus ingest with the same hygiene guarantees, built
  * from the verified streaming operators:
  *
  *   1. hygiene gate        (StreamOps.ingestGate: quality floor +
  *                           PII redaction, stateless)
  *   2. in-stream dedup     (dropDuplicatesWithinWatermark on the
  *                           content fingerprint — bounded state)
  *   3. index dedup         (StreamOps.dedupeAgainstIndex: stream-
  *                           static left_anti vs the historical
  *                           fingerprint index, zero streaming state)
  *
  * Batch/stream parity: stages 1 and 3 are the literal batch
  * operators (narrow expressions / a static join), and stage 2 is the
  * streaming analogue of [[graft.operators.Dedup.exact]] restricted
  * to the watermark horizon — so a batch backfill through
  * TrainingCorpusPipeline and live ingest through this pipeline admit
  * the same documents, except in-stream duplicates separated by more
  * than `lateness`, which only the periodic batch dedup can see (the
  * standard lambda-architecture division of labor).
  *
  * The fingerprint dedup keys on content (not id), so re-crawls of
  * the same text under new ids are dropped within the horizon. The
  * result still carries the redacted text: write it straight to the
  * corpus sink. Chunk/pack/split stay batch stages — they need the
  * whole corpus.
  */
object StreamingIngestPipeline {

  def run(docs: DataFrame, corpusIndex: DataFrame, tsCol: String,
          textCol: String, minQuality: Double = 0.3,
          lateness: String = "1 hour", fpCol: String = "fp"): DataFrame = {
    // Fingerprint the RAW text BEFORE the gate redacts it: the
    // historical index (built by the batch pipeline / Dedup.exact)
    // fingerprints raw content, so a redacted-side fingerprint would
    // re-admit every already-ingested PII-bearing document — and
    // collapse stream docs differing only in PII values, diverging
    // from the batch dedup in both directions. Computed ONCE here and
    // reused by both dedup stages.
    val withFp = docs.withColumn("__fp",
      graft.functions.TextFns.fingerprint(col(textCol)))
    val gated = StreamOps.ingestGate(withFp, textCol, minQuality)
    val inStreamDeduped = gated
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("__fp")
    inStreamDeduped
      .join(corpusIndex.select(col(fpCol).as("__fp")), Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** [[run]] with an opt-in stage 3b: the per-batch NEAR-dup gate
    * against a precomputed historical index
    * ([[graft.operators.Decontaminate.NearDupIndex]]) — drops the
    * reworded re-crawls the exact-fingerprint anti-join is blind to.
    * Because the near-dup gate runs per micro-batch (foreachBatch is a
    * sink, not a transform), this variant RETURNS a DataStreamWriter:
    * the caller's `sink` receives each fully-gated batch. `idCol` must
    * be integral (the LSH bucket aggregate's contract). */
  def runWithNearDupGate(docs: DataFrame, corpusIndex: DataFrame,
      nearDupIndex: graft.operators.Decontaminate.NearDupIndex,
      tsCol: String, idCol: String, textCol: String,
      minQuality: Double = 0.3, lateness: String = "1 hour",
      fpCol: String = "fp", nearDupThreshold: Double = 0.8,
      qualityModel: Option[(org.apache.spark.ml.classification.LogisticRegressionModel, Double)] = None)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // opt-in stage 2e (live): the FROZEN model-quality gate, seated
    // BEFORE the near-dup gate exactly as in the batch pipeline —
    // rows the model drops never pay band-hashing. (The frozen index
    // makes the output order-independent; the seating is a cost
    // choice, and this is the cheap order.)
    val preGate: DataFrame => DataFrame = qualityModel match {
      case Some((m, minP)) =>
        batch => graft.ml.QualityFilter.filter(m, batch, idCol, textCol, minP)
      case None => identity
    }
    StreamOps.nearDupGateEachBatch(
      run(docs, corpusIndex, tsCol, textCol, minQuality, lateness, fpCol),
      nearDupIndex, idCol, textCol, nearDupThreshold, preGate)(sink)
  }

  /** [[run]] with a per-batch NEAR-dup gate against the PERSISTED
    * MinHash band index ([[graft.operators.TextIndex]]) — the
    * continuous-ingest upgrade of [[runWithNearDupGate]]: where
    * [[graft.operators.Decontaminate.NearDupIndex]] is SESSION state
    * (cached relations; its gate join also shuffles the history
    * buckets), the TextIndex relations are PARQUET state loaded back
    * across runs, the judge streams history map-side (never
    * shuffled — the q206 plan contract), and each batch yields a
    * REPLAY-IDEMPOTENT index delta the sink appends — which is how
    * the gate REMEMBERS across batches and runs: a re-crawl of a
    * batch-1 survivor drops in batch 2. `textIndex` is a FUNCTION
    * re-evaluated per micro-batch (the runMediaIngest
    * append-visibility rule: a captured file-backed DataFrame
    * snapshots its listing and never sees appended rows). The sink
    * receives (survivors, (band-row delta, set-row delta), batchId).
    * Batch-INTERNAL near-dups are gated here too (the in-stream
    * fingerprint stage is exact-only): [[graft.operators.TextIndex
    * .ingestStep]] composes the within-batch election before the
    * history judge, so two REWORDED copies of one fresh doc arriving
    * in a single micro-batch admit one survivor and one set of index
    * rows — the [[runMediaIngestIndexed]] intra-batch rule for
    * text. */
  def runWithTextIndexGate(docs: DataFrame, corpusIndex: DataFrame,
      textIndex: () => (DataFrame, DataFrame), tsCol: String,
      idCol: String, textCol: String, minQuality: Double = 0.3,
      lateness: String = "1 hour", fpCol: String = "fp",
      shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
      nearDupThreshold: Double = 0.8, seed: Long = 42L,
      maxBucket: Int = 1000)(
      sink: (DataFrame, (DataFrame, DataFrame), Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val gated = run(docs, corpusIndex, tsCol, textCol, minQuality,
      lateness, fpCol)
    gated.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val pinned = batch.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val (hBands, hSets) = textIndex()
        // cacheSets=false: leak-free across unbounded micro-batches
        // (the ingestStep parameter doc); the batch itself is pinned
        // above, so the ~3 tokenization passes read pinned rows
        // (r17 A/B: an eager localCheckpoint of the set relation
        // instead measured a wash-to-slight-loss at micro-batch
        // sizes — 8.64 s vs 8.44 s on the 16× text_ingest rung —
        // confirming the re-tokenize trade; revisit only if batches
        // carry much longer documents)
        val (dups, delta) = graft.operators.TextIndex.ingestStep(
          pinned, idCol, textCol, hBands, hSets, shingleN, numHashes,
          bands, nearDupThreshold, seed, maxBucket, cacheSets = false)
        sink(pinned.join(dups.select(col("dup_id").as(idCol)),
          Seq(idCol), "left_anti"), delta, id)
      } finally { pinned.unpersist(); () }
    }
  }

  /** The MEDIA twin of [[run]]: continuous media ingest from a
    * binaryFile STREAM (path/modificationTime/content rows —
    * `spark.readStream.format("binaryFile")`), each file bridged to
    * the media shape ([[graft.multimodal.Multimodal.fromBinaryFiles]]
    * — id from the path hash, kind sniffed from payload magics) and
    * each micro-batch judged against the persisted perceptual hash
    * index ([[graft.multimodal.MediaIndex.incrementalMediaDups]] —
    * byte + image dual-hash + audio envelope + video frame-set, the
    * q204 semantics). `sink` receives each batch's SURVIVORS (full
    * media rows incl. path/mtime lineage) and the batch id, and must
    * CONSUME them within the call (the batch is pinned for the call
    * and released after — index builds re-reference their media ~5×,
    * so an unpinned batch would re-read every binary file per leg).
    * A production sink appends the survivors to the corpus AND their
    * [[graft.multimodal.MediaIndex.mediaHashIndex]] rows to the
    * index, which is how the gate remembers across batches —
    * foreachBatch on purpose (the election is a batch groupBy over
    * matched pairs; the INDEX carries the cross-batch state, so the
    * streaming side holds none). `historyIndex` is a FUNCTION
    * re-evaluated per micro-batch for exactly that reason: a captured
    * DataFrame over parquet snapshots its file listing at creation
    * and would never see the rows the sink appends — batch 2's
    * re-encode of a batch-1 survivor would sail through. Pass
    * `() => spark.read.parquet(indexPath)` (or a snapshot-refreshing
    * table); the overload below takes a static DataFrame for
    * fixed-index uses and documents that limitation. Within-batch
    * duplicates are gated HERE too ([[graft.multimodal.MediaIndex
    * .intraBatchDups]] composed before the history judge, the
    * MediaIndex composition rule): two fresh copies of the same new
    * image arriving in ONE micro-batch admit one survivor, not two. */
  def runMediaIngest(files: DataFrame, historyIndex: () => DataFrame,
      imageMaxDist: Int, audioMaxDist: Int,
      videoMaxDist: Int, videoMinOverlapBp: Int,
      maxBucket: Int)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    runMediaIngestIndexed(files, historyIndex, imageMaxDist, audioMaxDist,
      videoMaxDist, videoMinOverlapBp, maxBucket)(
      (survivors, _, id) => sink(survivors, id))

  /** [[runMediaIngest]] for the production APPEND loop: the sink
    * additionally receives the batch's REPLAY-IDEMPOTENT index delta
    * ([[graft.multimodal.MediaIndex.ingestStep]] — the surviving
    * index rows; on a foreachBatch redelivery the byte leg matches
    * every row against its own already-appended copy and the delta is
    * empty, so a failed-and-replayed batch cannot double-append rows
    * that would shadow future keeper elections). A production sink
    * appends the SURVIVORS to the corpus and the DELTA to the index
    * path the `historyIndex` function re-reads — no recomputation of
    * index rows in the sink.
    *
    * Redelivery contract: the SURVIVOR set replays identically too
    * (ingestStep excludes self-matches — a survivor matching its own
    * appended index row is not a duplicate), so a PARTIAL sink
    * failure (delta appended, corpus append lost, batch redelivered)
    * re-presents the same survivors instead of silently dropping
    * them; make the corpus append batchId-idempotent (the standard
    * foreachBatch discipline) and redelivery is loss- and
    * duplicate-free in every interleaving. */
  def runMediaIngestIndexed(files: DataFrame, historyIndex: () => DataFrame,
      imageMaxDist: Int = 6, audioMaxDist: Int = 3,
      videoMaxDist: Int = 3, videoMinOverlapBp: Int = 6000,
      maxBucket: Int = 1024)(
      sink: (DataFrame, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val media = graft.multimodal.Multimodal.fromBinaryFiles(files)
    media.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val pinned = batch.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val typed = pinned.select(col("media_id"), col("kind"),
            col("payload"))
          .as[graft.multimodal.Multimodal.Media]
        // the index relation is re-referenced by the intra-batch
        // election, the history judge, and the delta anti-join —
        // eager-pin the HASH rows so payloads decode exactly once
        val batchIdx = graft.multimodal.MediaIndex.mediaHashIndex(typed)
          .localCheckpoint(true)
        val (dups, delta) = graft.multimodal.MediaIndex.ingestStep(
          batchIdx, historyIndex(), imageMaxDist, audioMaxDist,
          videoMaxDist, videoMinOverlapBp, maxBucket)
        sink(pinned.join(dups.select(col("dup_id").as("media_id")),
          Seq("media_id"), "left_anti"), delta, id)
      } finally { pinned.unpersist(); () }
    }
  }

  /** [[runMediaIngest]] against a FIXED index relation — correct when
    * the index genuinely does not grow during the run (a frozen
    * historical snapshot); a file-backed DataFrame will NOT see rows
    * appended mid-run (its file listing is snapshotted at creation) —
    * use the function form for the append-as-you-ingest loop. */
  def runMediaIngest(files: DataFrame, historyIndex: DataFrame,
      imageMaxDist: Int = 6, audioMaxDist: Int = 3,
      videoMaxDist: Int = 3, videoMinOverlapBp: Int = 6000,
      maxBucket: Int = 1024)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    runMediaIngest(files, () => historyIndex, imageMaxDist, audioMaxDist,
      videoMaxDist, videoMinOverlapBp, maxBucket)(sink)

  /** The SEMANTIC twin of [[runMediaIngestIndexed]]: continuous
    * embedding-level dedup of a vector stream against the persisted
    * semantic cell index ([[graft.operators.SemanticIndex]] — the
    * third incremental family beside the text and media gates: the
    * paraphrase-level re-crawls shingle dedup cannot see). Per
    * micro-batch: batch-internal greedy election + history judge +
    * replay-idempotent delta ([[graft.operators.SemanticIndex
    * .ingestStep]]); the sink receives (survivor rows, delta,
    * batchId) and appends the delta to the path the `index` function
    * re-reads ([[graft.io.SemanticIndexArtifacts.append]] /
    * [[IngestSinks]]-style wiring) — cross-batch memory lives in the
    * appended parquet, zero streaming state, and `index` is a
    * FUNCTION re-evaluated per batch (the [[runMediaIngest]]
    * append-visibility rule). Centroids are FROZEN inside the
    * artifact: every batch assigns against the same cells, so
    * verdicts never drift with batch boundaries. Redelivery: both
    * elections exclude same-id matches and the delta excludes
    * already-present ids, so a failed-and-replayed batch re-presents
    * identical survivors and appends nothing (the family contract). */
  def runSemanticIngest(vectors: DataFrame,
      index: () => graft.io.SemanticIndexArtifacts.PersistedSemanticIndex,
      idCol: String, vecCol: String)(
      sink: (DataFrame, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    runSemanticIngestAudited(vectors, index, idCol, vecCol)(b =>
      sink(b.survivors, b.delta, b.batchId))

  /** One micro-batch's output from [[runSemanticIngestAudited]] — the
    * [[ArchiveIngestBatch]] carrier pattern for the semantic family:
    * survivors and the replay-idempotent delta (what the plain
    * [[runSemanticIngest]] sink receives), the PINNED batch relation
    * (read-only context, valid only within the sink call), and
    * `funnel` — the one-row per-batch monitoring report. The funnel
    * row reconciles BY CONSTRUCTION:
    * `vectors_in − dup_drops = survivors` and
    * `survivors − no_evidence = delta_rows + already_present`
    * (no-evidence rows — NULL/corrupt embeddings — are never judged
    * and never indexed; already-present ids are replays whose delta
    * append is suppressed). A THUNK: the counts re-run the judged
    * frames against the pinned batch, so only sinks that call it pay
    * for it (the [[ArchiveIngestBatch.funnel]] rule). */
  final case class SemanticIngestBatch(survivors: DataFrame,
      delta: DataFrame, batchId: Long, batch: DataFrame,
      funnel: () => DataFrame)

  /** [[runSemanticIngest]] with the audited carrier — drop-rate and
    * replay monitoring for the third family (survivors/vectors_in
    * collapsing, delta diverging from survivors, already_present
    * spiking on redelivery storms). */
  def runSemanticIngestAudited(vectors: DataFrame,
      index: () => graft.io.SemanticIndexArtifacts.PersistedSemanticIndex,
      idCol: String, vecCol: String)(
      sink: SemanticIngestBatch => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val pinned = batch.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val idx = index()
        val (dups, delta) = idx.ingest(pinned, idCol, vecCol)
        val survivors = pinned.join(
          dups.select(col("dup_id").cast("long").as("__d")),
          col(idCol).cast("long") === col("__d"), "left_anti")
        val funnel: () => DataFrame = () => {
          val spark = pinned.sparkSession
          import spark.implicits._
          val vecsIn = pinned.count()
          // the ingestStep no-evidence rule: NULL or element-NULL
          // embeddings are excluded from judging and from the delta
          val noEv = pinned.filter(col(vecCol).isNull ||
            exists(col(vecCol), x => x.isNull)).count()
          val surv = survivors.count()
          // replays: surviving CLEAN ids already in the index (their
          // delta append was suppressed — the redelivery contract)
          val present = idx.assigned.select(col("id"))
            .join(broadcast(survivors
                .filter(col(vecCol).isNotNull &&
                  !exists(col(vecCol), x => x.isNull))
                .select(col(idCol).cast("long").as("id")).distinct()),
              Seq("id"))
            .distinct().count()
          Seq((id, vecsIn, noEv, vecsIn - surv, surv, delta.count(),
            present))
            .toDF("batch_id", "vectors_in", "no_evidence", "dup_drops",
              "survivors", "delta_rows", "already_present")
        }
        sink(SemanticIngestBatch(survivors, delta, id, pinned, funnel))
      } finally { pinned.unpersist(); () }
    }

  /** One micro-batch's output from [[runArchiveIngest]] — everything
    * a production sink appends, in one carrier: surviving documents
    * (doc_id, url, mtime, text + the gate's quality/n_pii audit
    * columns), the replay-idempotent text-index delta (band rows, set
    * rows — [[graft.io.TextIndexArtifacts.append]]'s argument shape),
    * surviving media objects (media_id, kind, payload, url, mtime),
    * the replay-idempotent media-index delta
    * ([[graft.io.MediaIndexArtifacts.append]]'s argument), and the
    * PINNED routed input relation (read-only batch context — what
    * [[IngestSinks.archiveBatchSummary]] counts drop rates against;
    * valid only WITHIN the sink call: the wrapper unpersists it when
    * the sink returns, the standard foreachBatch consume-inside
    * rule), and `funnel` — the GATE-ATTRIBUTED per-batch curation
    * funnel (the q102 shape from the LIVE loop): a one-row frame of
    * drop counts per stage (blocklist → URL dedup → quality → exact →
    * gallery → text judge on the doc leg; blocklist → dup election
    * on the media leg). A THUNK on purpose: attribution re-counts
    * the step's intermediate frames (stages above the checkpointed
    * pre-judge frame re-run extraction against the routed pin), so
    * only sinks that call it pay for it — the cheap unattributed
    * in/out row is [[IngestSinks.archiveBatchSummary]]. */
  final case class ArchiveIngestBatch(docs: DataFrame,
      textDelta: (DataFrame, DataFrame), media: DataFrame,
      mediaDelta: DataFrame, batchId: Long, routed: DataFrame,
      funnel: () => DataFrame)

  /** The END-TO-END crawl-archive ingest: a binaryFile STREAM of
    * `.warc(.gz/.zst)` archives (the shape a crawler actually
    * delivers — `spark.readStream.format("binaryFile")` over the drop
    * directory), each micro-batch scanned ONCE
    * ([[graft.io.WarcRecords.toCrawlRecordsRouted]] — the shared
    * single-pass splitter: one archive inflate + record parse feeds
    * BOTH legs, where composing `toCrawlDocs` + `toCrawlMedia` would
    * decompress every archive twice, and at crawl scale decompression
    * dominates ingest cost), then routed by content:
    *
    *  - DOC leg: hygiene gate ([[StreamOps.ingestGate]] — quality
    *    floor + PII redaction on the raw-text fingerprint rule from
    *    [[run]]), batch-internal exact dedup (min-id keeper per
    *    normalized content fingerprint), then the persisted-text-index
    *    judge ([[graft.operators.TextIndex.ingestStep]] — batch-
    *    internal NEAR-dup election + history judge + replay-idempotent
    *    delta). No separate exact corpus index and NO watermark state:
    *    an exact re-crawl of an indexed doc is a Jaccard-1.0 match,
    *    so the text index subsumes [[run]]'s fingerprint anti-join,
    *    and cross-batch memory lives in the APPENDED DELTA, not a
    *    state store — the streaming side holds zero state.
    *  - MEDIA leg: hash-index build over the routed media rows
    *    (payloads decoded once — the relation is pinned), then
    *    [[graft.multimodal.MediaIndex.ingestStep]] (intra-batch
    *    election + history judge + replay-idempotent delta).
    *
    * Both indexes are FUNCTIONS re-evaluated per micro-batch (the
    * [[runMediaIngest]] append-visibility rule): pass
    * `() => spark.read.parquet(path)` forms — or the worked
    * [[IngestSinks.textIndex]]/[[IngestSinks.mediaIndex]] readers with
    * [[IngestSinks.archiveSink]] — so the deltas the sink appends are
    * visible to the next batch: a batch-2 re-crawl of a batch-1
    * survivor (text reworded, media re-encoded) drops through the
    * appended rows. Redelivery is loss- and duplicate-free under a
    * batchId-idempotent corpus sink: both ingest steps exclude
    * self-matches and return empty deltas on replay (their scaladoc
    * contracts). Event time: each record's own `WARC-Date` surfaces
    * as `mtime` on both legs.
    *
    * `extractHtml = true` seats HTML extraction
    * ([[graft.operators.HtmlExtract.extractText]] — script/style/
    * comment strip, block structure, entity decode) at the TOP of the
    * doc leg: real crawl doc bodies are HTML, and every downstream
    * text stage (fingerprint, quality score, shingles) wants PROSE —
    * a tag-soup fingerprint would treat a re-serialized page as fresh
    * content, and markup depresses quality scores of good pages. The
    * extracted text REPLACES the doc leg's text; the text index must
    * then also have been built over extracted prose.
    *
    * URL-level front gates (the [[TrainingCorpusPipeline]] seating,
    * cheapest first): `urlBlocklist` (suffix-semantics domain
    * blocking, [[graft.operators.UrlCuration.blocklistFilter]])
    * applies to BOTH legs before any byte of content is touched — a
    * condemned domain's pages AND its media never pay extraction,
    * hashing, or decode; `urlDedup = true` collapses batch-internal
    * tracker-variant re-crawls of one canonical URL
    * ([[graft.operators.UrlCuration.canonicalUrlDedup]], keep
    * smallest id) on the doc leg before extraction.
    *
    * `mediaGate = true` seats the DOC-LEVEL media originality gate
    * (the [[runMediaGatedDocs]] election) in the loop — see
    * [[archiveIngestStep]], which IS this writer's per-batch body. */
  def runArchiveIngest(archives: DataFrame,
      textIndex: () => (DataFrame, DataFrame),
      mediaIndex: () => DataFrame,
      extractHtml: Boolean = false,
      urlBlocklist: Option[DataFrame] = None,
      urlDedup: Boolean = false,
      mediaGate: Boolean = false,
      minQuality: Double = 0.3,
      shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
      nearDupThreshold: Double = 0.8, seed: Long = 42L,
      textMaxBucket: Int = 1000,
      imageMaxDist: Int = 6, audioMaxDist: Int = 3, videoMaxDist: Int = 3,
      videoMinOverlapBp: Int = 6000, mediaMaxBucket: Int = 1024)(
      sink: ArchiveIngestBatch => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    archives.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      // ONE scanner pass for both legs, pinned: the media index build
      // re-references payloads ~5× and the text judge re-tokenizes
      // its batch ~3× (cacheSets=false in the step) — every re-read
      // must hit the pinned routed rows, never re-inflate the archives
      val routed = graft.io.WarcRecords.toCrawlRecordsRouted(batch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val (hBands, hSets) = textIndex()
        sink(archiveIngestStep(routed, hBands, hSets, mediaIndex(),
          extractHtml, urlBlocklist, urlDedup, mediaGate, minQuality,
          shingleN, numHashes, bands, nearDupThreshold, seed,
          textMaxBucket, imageMaxDist, audioMaxDist, videoMaxDist,
          videoMinOverlapBp, mediaMaxBucket, id))
      } finally { routed.unpersist(); () }
    }
  }

  /** The per-micro-batch BODY of [[runArchiveIngest]] as a plain
    * BATCH function over a PINNED routed relation — the same code the
    * streaming writer runs, callable directly for backfill over a
    * directory of already-fetched archives, for oracle replay
    * (q212/q213), and for the weak-scale ladder. `routed` must be
    * [[graft.io.WarcRecords.toCrawlRecordsRouted]]'s shape and must
    * be pinned by the CALLER (persist or localCheckpoint — the
    * wrapper's re-read rule), released after the returned frames are
    * consumed.
    *
    * `mediaGate = true` runs the DOC-LEVEL media originality gate
    * inside the loop — the capability [[runMediaGatedDocs]] has that
    * the archive path lacked: in an archive, a page and its images
    * arrive as SEPARATE records, so ownership must be re-derived.
    * Media references are extracted from each doc's RAW body
    * ([[graft.operators.HtmlExtract.mediaRefs]] — `<img/src>` et al,
    * distinct per (doc, ref), read BEFORE extraction replaces markup
    * with prose), resolved against the fetch URL
    * ([[graft.operators.UrlCuration.resolveHref]]), and joined to the
    * MEDIA LEG's record URLs within the routed batch — a
    * batch-bounded equi-join (both sides are this batch's rows;
    * history is never involved, so the gate adds no scale risk). The
    * [[runMediaGatedDocs]] election then applies: a doc DROPS iff it
    * references ≥ 1 media object present in the batch AND every such
    * object judged DUPLICATE (batch-internal election + history
    * judge — [[graft.multimodal.MediaIndex.ingestStep]]'s dups);
    * docs whose refs match nothing in the batch (no media, relative
    * refs that resolve nowhere, objects the crawler never fetched)
    * carry no evidence and PASS — keep-the-unparseable, exactly the
    * q196/q199/q203 semantics.
    *
    * Seating: the gallery drop runs BEFORE the text judge, so a
    * dropped doc never enters the text index — an index entry for a
    * doc the corpus rejected would make every future re-crawl of
    * that content judge as a near-dup of a ghost and be suppressed
    * forever; gating first means a re-crawl re-enters and is
    * re-gated on its own (possibly changed) media evidence.
    * Verdict replay: the media judge's dups replay identically on
    * redelivery (ingestStep excludes self-matches), so the DOC
    * survivor set replays identically too — the sink contract is
    * unchanged by the gate. */
  def archiveIngestStep(routed: DataFrame,
      hBands: DataFrame, hSets: DataFrame, mediaHistoryIndex: DataFrame,
      extractHtml: Boolean = false,
      urlBlocklist: Option[DataFrame] = None,
      urlDedup: Boolean = false,
      mediaGate: Boolean = false,
      minQuality: Double = 0.3,
      shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
      nearDupThreshold: Double = 0.8, seed: Long = 42L,
      textMaxBucket: Int = 1000,
      imageMaxDist: Int = 6, audioMaxDist: Int = 3, videoMaxDist: Int = 3,
      videoMinOverlapBp: Int = 6000, mediaMaxBucket: Int = 1024,
      batchId: Long = 0L): ArchiveIngestBatch = {
    val spark = routed.sparkSession
    import spark.implicits._
    // ---- media leg (first: its verdicts feed the doc-level gate) ----
    // the domain blocklist gates media too: a condemned domain's
    // images never pay fingerprinting or decode
    val mediaRows0 = routed.filter(col("kind") =!= "doc")
    val mediaRows = urlBlocklist match {
      case Some(blocked) => graft.operators.UrlCuration
        .blocklistFilter(mediaRows0, "url", blocked)
      case None => mediaRows0
    }
    val typed = mediaRows
      .select(col("rec_id").as("media_id"), col("kind"), col("payload"))
      .as[graft.multimodal.Multimodal.Media]
    // eager-pin the HASH rows: re-referenced by the intra-batch
    // election, the history judge, the delta anti-join, and (gated)
    // the doc election — payloads decode exactly once (the
    // runMediaIngestIndexed rule). A THUNK so the gated path below
    // can OVERLAP this chain with the doc leg's evidence pins (guide
    // §2.6: independent jobs submitted from one thread serialize for
    // no reason — the media decode often has fewer tasks than cores,
    // and the evidence extraction back-fills the idle ones).
    def mediaChain(): (DataFrame, DataFrame) = {
      val batchIdx = graft.multimodal.MediaIndex.mediaHashIndex(typed)
        .localCheckpoint(true)
      graft.multimodal.MediaIndex.ingestStep(
        batchIdx, mediaHistoryIndex, imageMaxDist, audioMaxDist,
        videoMaxDist, videoMinOverlapBp, mediaMaxBucket)
    }
    // ---- doc leg ----------------------------------------------------
    // URL gates FIRST (cheapest evidence: no content read for a
    // condemned domain, no extraction for a tracker-variant
    // re-crawl — the batch pipeline's -3/-2.5 seating)
    val docsRaw0 = routed.filter(col("kind") === "doc")
      .select(col("rec_id").as("doc_id"), col("url"), col("mtime"),
        col("text"))
    val docsBlocked = urlBlocklist match {
      case Some(blocked) => graft.operators.UrlCuration
        .blocklistFilter(docsRaw0, "url", blocked)
      case None => docsRaw0
    }
    val docsRaw =
      if (!urlDedup) docsBlocked
      else graft.operators.UrlCuration.canonicalUrlDedup(
        docsBlocked, "url", "doc_id")
    // the doc-leg hygiene chain, DEFINED here (lazy) so the gated arm
    // below can pin it CONCURRENTLY with the media chain:
    // (opt-in) HTML extraction first — fingerprints, quality, and
    // shingles must see prose, not markup (scaladoc)
    val docsText =
      if (!extractHtml) docsRaw
      else graft.operators.HtmlExtract.extractText(
          docsRaw.withColumn("__k",
            struct(col("doc_id"), col("url"), col("mtime")))
            .withColumnRenamed("text", "__html"),
          "__k", "__html")
        .select(col("__k.doc_id").as("doc_id"),
          col("__k.url").as("url"), col("__k.mtime").as("mtime"),
          col("text"))
    // fingerprint the text before the gate redacts (the run() rule),
    // gate, then batch-internal exact dedup: min-id keeper per
    // normalized fingerprint — one batch-bounded shuffle
    // ([[graft.operators.Dedup.exactKeepSmallest]]; its NULL-
    // fingerprint singleton path is unreachable here by contract —
    // the quality gate floors NULL text at 0.0 and drops it first)
    val docs0 = docsText.withColumn("__fp",
      graft.functions.TextFns.fingerprint(col("text")))
    val gated = StreamOps.ingestGate(docs0, "text", minQuality)
    val exactDeduped = graft.operators.Dedup.exactKeepSmallest(
      gated, "doc_id", "__fp").drop("__fp")
    // doc→media ownership evidence comes off the RAW body (markup —
    // extraction strips the very tags the refs live in), resolved
    // and joined batch-to-batch; the drop set is applied below,
    // after the cheap text gates prune the frame it anti-joins.
    // `exactPinned` is the hygiene chain's materialization: in the
    // gated arm it is pinned INSIDE the overlap window (4th future) —
    // extraction + quality + the exact-dedup shuffle are independent
    // of the media verdicts, so they back-fill the media chain's idle
    // cores instead of running serially after it (guide §2.6; the
    // r17-verdict q212 item); ungated it stays lazy and the preJudge
    // checkpoint below materializes it once, as before.
    val ((mDups, mDelta), galleryDrops, exactPinned, pinnedSets) =
      if (!mediaGate) (mediaChain(), None, exactDeduped, None)
      else {
        // the ownership join keys on the CANONICAL form of both sides
        // (resolveMediaRef ∘ canonicalUrl on the refs — absolute,
        // protocol-/root-/PATH-relative all resolve, empty and
        // unresolvable forms go NULL and join nothing; canonicalUrl
        // on the media records' fetch URLs): real crawls carry
        // tracker-variant media URLs — `<img src="x.png?utm=feed">`
        // fetched as `x.png?utm=other` — and a verbatim equi-join
        // would silently drop the evidence edge (the q186 class
        // rules; q213 oracles the resolver)
        // the resolved+canonical key trees are LARGE expressions
        // (resolveMediaRef ∘ canonicalUrl ≈ 300 nodes); eager-pinning
        // both id-sized key relations CUTS them out of every
        // downstream plan — without the cut, the join/election
        // subtree re-plans the composed tree per consuming action
        // (measured: ~5.7 s of planning on the q212 fixture)
        def refsPin(): DataFrame = graft.operators.HtmlExtract.mediaRefs(
            docsRaw, "doc_id", "text")
          .join(docsRaw.select(col("doc_id"), col("url")), Seq("doc_id"))
          .select(col("doc_id"),
            graft.operators.UrlCuration.canonicalMediaRef(
              col("url"), col("ref")).as("murl"))
          .localCheckpoint(true)
        def keysPin(): DataFrame = mediaRows.select(
            graft.operators.UrlCuration.canonicalUrl(col("url"))
              .as("murl"),
            col("rec_id").as("media_id"))
          .localCheckpoint(true)
        // the media hash/judge chain, the two evidence-key pins, and
        // the doc-leg hygiene pin are mutually independent eager jobs
        // — overlap them (graft.JobOverlap, the archiveSink leg idiom);
        // all four are awaited, the first failure surfaces after every
        // job has come home (no job outlives its batch)
        var md: (DataFrame, DataFrame) = null
        var refs, mediaKeys, exactPin, setsPin: DataFrame = null
        graft.JobOverlap.all("archive-step-pin")(
          () => md = mediaChain(),
          () => refs = refsPin(),
          () => mediaKeys = keysPin(),
          // the doc-leg hygiene pin, then — ON THE SAME THREAD, still
          // inside the window — the text judge's one tokenization
          // pass: sets over the pre-gallery-gate superset are row-
          // filtered down to the judged population after the gate
          // lands (TextIndex.batchSets' per-row purity), so the
          // tokenization never waits on the media verdicts and
          // back-fills the media chain's idle cores (guide §2.6)
          // instead of re-running lazily inside each judge job
          () => {
            exactPin = exactDeduped.localCheckpoint(true)
            setsPin = graft.operators.TextIndex.batchSets(exactPin,
              "doc_id", "text", shingleN).localCheckpoint(true)
          })
        val evid = refs.join(mediaKeys, Seq("murl"))
          .select(col("doc_id"), col("media_id"))
        val ownerDocs = evid
          .join(md._1.select(col("dup_id").as("media_id")),
            Seq("media_id"), "left_anti")
          .select(col("doc_id")).distinct()
        (md, Some(evid.select(col("doc_id")).distinct()
          .join(ownerDocs, Seq("doc_id"), "left_anti")), exactPin,
          Some(setsPin))
      }
    val mediaSurvivors = mediaRows
      .select(col("rec_id").as("media_id"), col("kind"),
        col("payload"), col("url"), col("mtime"))
      .join(mDups.select(col("dup_id").as("media_id")),
        Seq("media_id"), "left_anti")
    // the gallery drop BEFORE the text judge (scaladoc: a dropped
    // doc must never enter the text index)
    val preJudge0 = galleryDrops match {
      case Some(drops) => exactPinned.join(drops, Seq("doc_id"),
        "left_anti")
      case None => exactPinned
    }
    // UNGATED arm: eager-pin the judged frame — the text judge
    // re-tokenizes its batch ~3× (cacheSets = false, the unbounded-
    // micro-batch leak rule), and each pass would otherwise re-run
    // EVERYTHING above against the routed pin: the HTML extraction
    // regex chain, the quality gate, and the exact-dedup SHUFFLE
    // (this checkpoint is their one materialization; measured 45 s →
    // judge-bound on the weak-scale flagship rung). Eager
    // localCheckpoint, not persist: blocks GC-release with the plan
    // (the q203 builder rule), no unpersist obligation on the sink.
    // GATED arm: the rows stay LAZY — every upstream stage already
    // materialized inside the overlap window (exact pin + SETS pin),
    // so re-deriving the judged rows is the pinned exact relation +
    // the id-sized gallery anti-join; the judge itself reads the
    // judged SETS (pinned sets ∖ gallery drops, one id-sized pin),
    // which is what the ~3 repeated judge passes actually consume —
    // the serial tokenization leg this pin ordering removes.
    val preJudge =
      if (pinnedSets.isDefined) preJudge0 else preJudge0.localCheckpoint(true)
    val (tDups, tDelta) = pinnedSets match {
      case Some(sp) =>
        val judgeSets = (galleryDrops match {
          case Some(drops) => sp.join(
            drops.select(col("doc_id").as("dup_id")), Seq("dup_id"),
            "left_anti")
          case None => sp
        }).localCheckpoint(true)
        graft.operators.TextIndex.ingestStepFromSets(judgeSets,
          exactPinned.schema("doc_id").dataType, hBands, hSets,
          numHashes, bands, nearDupThreshold, seed, textMaxBucket)
      case None =>
        graft.operators.TextIndex.ingestStep(
          preJudge, "doc_id", "text", hBands, hSets, shingleN,
          numHashes, bands, nearDupThreshold, seed, textMaxBucket,
          cacheSets = false)
    }
    val docSurvivors = preJudge.join(
      tDups.select(col("dup_id").as("doc_id")), Seq("doc_id"),
      "left_anti")
    // the gate-attributed funnel (lazy — see the carrier scaladoc):
    // stage counts are frame-count DIFFS, so the row reconciles by
    // construction (routed_docs − Σdrops = doc_survivors)
    val funnel: () => DataFrame = () => {
      val rd = docsRaw0.count(); val bl = docsBlocked.count()
      val ud = docsRaw.count(); val gq = gated.count()
      val ex = exactDeduped.count(); val pj = preJudge.count()
      val ds = docSurvivors.count()
      val rm = mediaRows0.count(); val mb = mediaRows.count()
      val ms = mediaSurvivors.count()
      Seq((batchId, rd, rd - bl, bl - ud, ud - gq, gq - ex, ex - pj,
          pj - ds, ds, rm, rm - mb, mb - ms, ms))
        .toDF("batch_id", "routed_docs", "doc_blocklist_drops",
          "doc_url_dup_drops", "doc_quality_drops", "doc_exact_drops",
          "doc_gallery_drops", "doc_text_dup_drops", "doc_survivors",
          "routed_media", "media_blocklist_drops", "media_dup_drops",
          "media_survivors")
    }
    ArchiveIngestBatch(docSurvivors, tDelta, mediaSurvivors, mDelta,
      batchId, routed, funnel)
  }

  /** The DOC-level continuous pipeline with the MEDIA originality
    * gate seated in it — the streaming twin of
    * [[TrainingCorpusPipeline]]'s `Config.mediaKindCol` stage: a
    * streamed crawl drops scraped-gallery DOCUMENTS (every owned
    * media object a duplicate), not just media objects. `docs` rows
    * carry their media inline as `mediaCol:
    * array<struct<media_id: long, payload: binary>>` (the natural
    * crawl shape — a page arrives with its fetched objects; kinds
    * are sniffed from payload magics, [[graft.multimodal.Multimodal
    * .kindOf]]). Stages: the full text hygiene chain ([[run]]:
    * quality floor + PII gate, watermark in-stream dedup, exact
    * corpus-index anti-join), then per micro-batch the media gate —
    * batch-internal election + judge vs the persisted media hash
    * index ([[graft.multimodal.MediaIndex.ingestStep]]) and the
    * dropAllDuplicateMediaDocs election rule: a doc survives iff it
    * owns ≥ 1 ORIGINAL media object; docs with no non-NULL media
    * carry no media evidence and PASS (keep-the-unparseable). The
    * sink receives (surviving docs, media-index delta, batch id);
    * the delta is replay-idempotent and the DOC verdicts replay
    * identically (ingestStep excludes self-matches, so a doc whose
    * media already reached the index through a partially-failed
    * earlier attempt still reads ORIGINAL on redelivery — make the
    * doc append batchId-idempotent and no interleaving loses docs);
    * `mediaHistoryIndex` is a FUNCTION re-read per batch for the
    * same append-visibility reason as [[runMediaIngest]]. */
  def runMediaGatedDocs(docs: DataFrame, corpusIndex: DataFrame,
      mediaHistoryIndex: () => DataFrame, tsCol: String, idCol: String,
      textCol: String, mediaCol: String, minQuality: Double = 0.3,
      lateness: String = "1 hour", fpCol: String = "fp",
      imageMaxDist: Int = 6, audioMaxDist: Int = 3,
      videoMaxDist: Int = 3, videoMinOverlapBp: Int = 6000,
      maxBucket: Int = 1024)(
      sink: (DataFrame, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val gated = run(docs, corpusIndex, tsCol, textCol, minQuality,
      lateness, fpCol)
    gated.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val pinned = batch.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // evidence rows: one per non-NULL media payload; pinned
        // eagerly — the index build re-references payloads ~5×, and
        // re-exploding the doc rows per leg would re-deserialize
        // every payload array each time
        val media = pinned
          .select(col(idCol).as("__did"), explode(col(mediaCol)).as("m"))
          .select(col("__did"), col("m.media_id").as("media_id"),
            col("m.payload").as("payload"))
          .filter(col("payload").isNotNull)
          .withColumn("kind",
            graft.multimodal.Multimodal.kindOf(col("payload")))
          .localCheckpoint(true)
        val typed = media.select(col("media_id"), col("kind"),
            col("payload"))
          .as[graft.multimodal.Multimodal.Media]
        val batchIdx = graft.multimodal.MediaIndex.mediaHashIndex(typed)
          .localCheckpoint(true)
        val (dups, delta) = graft.multimodal.MediaIndex.ingestStep(
          batchIdx, mediaHistoryIndex(), imageMaxDist, audioMaxDist,
          videoMaxDist, videoMinOverlapBp, maxBucket)
        // the dropAllDuplicateMediaDocs election tail: docs owning at
        // least one original survive; docs whose EVERY media object
        // is a duplicate drop; docs with no media evidence pass
        val evid = media.select(col("__did"), col("media_id"))
        val ownerDocs = evid
          .join(dups.select(col("dup_id").as("media_id")),
            Seq("media_id"), "left_anti")
          .select(col("__did")).distinct()
        val dropDocs = evid.select(col("__did")).distinct()
          .join(ownerDocs, Seq("__did"), "left_anti")
        sink(pinned.join(dropDocs, col(idCol) === col("__did"),
          "left_anti"), delta, id)
      } finally { pinned.unpersist(); () }
    }
  }
}
