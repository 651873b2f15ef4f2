package graft.pipelines

import graft.io.{IndexStore, MediaIndexArtifacts, SemanticIndexArtifacts,
  TextIndexArtifacts}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** WORKED production sinks for the streaming ingest pipelines — the
  * pipeline scaladocs ([[StreamingIngestPipeline.runWithTextIndexGate]],
  * [[StreamingIngestPipeline.runMediaIngestIndexed]],
  * [[StreamingIngestPipeline.runArchiveIngest]]) each ask their sink
  * for three disciplines: a batchId-IDEMPOTENT corpus append, an index
  * delta append to the path the index function re-reads, and periodic
  * compaction. The specs wire those by hand; this object is the
  * copy-paste-safe implementation, so every production loop gets the
  * redelivery guarantees the ingest steps were designed around instead
  * of re-inventing (and mis-inventing) the sink.
  *
  * Index layout: a VERSIONED root — `<root>/v<N>/…` artifact
  * directories with `<root>/CURRENT` (a one-line text file) naming the
  * live version. Appends go to the current version; compaction writes
  * `v<N+1>` (N parsed from CURRENT — never from the batchId, whose
  * restart-relative numbering could collide with an already-published
  * version and crash-loop the stream on a read-from-own-write) at full
  * integrity beside the live index, then swaps the pointer. The swap
  * is an ATOMIC overwriting rename where the filesystem supports it
  * (FileContext + Rename.OVERWRITE — HDFS and POSIX both do); on
  * filesystems that refuse, the delete+rename fallback's crash window
  * is closed by [[currentIndexPath]]'s recovery rule: no CURRENT →
  * the highest complete `v<N>` is the live version (compaction always
  * COMPLETES a version before any swap names it, so the highest
  * version on disk is always a complete one), and the pointer is
  * self-healed on first read.
  *
  * Concurrent readers: the swap RETAINS the newest `retainVersions`
  * versions (default 2 — the just-published one plus the one a
  * concurrent reader may still be holding; delete-on-NEXT-swap), so
  * an external job that resolved `v<N>` keeps a complete index for
  * `retainVersions − 1` full compaction cycles after `v<N+1>`
  * publishes. Size K to the slowest reader: a nightly report over an
  * hourly-compacting index needs K ≥ 25, not 2. Readers that may lag
  * by MORE than K−1 compactions need a catalog front instead of a
  * bigger K — the recipe: publish each swap as a metastore pointer
  * update (Hive: `ALTER TABLE idx SET LOCATION '<root>/v<N+1>'`;
  * Iceberg/Delta: commit the version directory as a new snapshot),
  * and let readers pin the SNAPSHOT they started on (time travel) —
  * the table format's reference counting then protects the old
  * version for exactly as long as something reads it, which no fixed
  * K can promise. The versioned-directory layout here is
  * deliberately catalog-agnostic: `v<N>` directories are immutable
  * once CURRENT names them, which is the property every catalog
  * front needs.
  *
  * Redelivery walkthrough (the contract the pieces add up to): a
  * failed-and-replayed batch re-runs the ingest step, whose verdicts
  * and survivors replay IDENTICALLY and whose delta appends nothing
  * (the TextIndex/MediaIndex ingestStep contracts); the corpus append
  * OVERWRITES its own `batch_id=<id>` partition rather than
  * duplicating; a replayed compaction whose first attempt already
  * swapped the pointer compacts the NEW current version into a fresh
  * `v<N+1>` — logically identical content (compaction is layout +
  * tombstone application and never changes verdicts), never a
  * read-from-own-path crash. Every interleaving of partial failure
  * therefore converges to the same corpus and the same index.
  * Retractions ([[TextIndexArtifacts.retract]] on the CURRENT version
  * path) are honored immediately — the per-batch index reads go
  * through `load`, which filters tombstones — and are applied
  * physically at the next compaction. Corpus-side removal of a
  * retracted doc's content is [[retractFromCorpus]] (the takedown
  * story's second half: the index forgets at retract time, the corpus
  * parquet forgets at sweep time). */
object IngestSinks {

  /** batchId-idempotent corpus append: each batch writes (overwrites)
    * its own `batch_id=<id>` partition directory, so redelivery
    * REPLACES rather than duplicates. Read the corpus back with
    * `spark.read.parquet(corpusPath)` — partition discovery surfaces
    * `batch_id` as a column (lineage for free). */
  def appendCorpusIdempotent(df: DataFrame, corpusPath: String,
                             batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$corpusPath/batch_id=$batchId")

  private def hfs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def versionNum(name: String): Long = name.stripPrefix("v").toLong

  /** The complete `v<N>` version directories under `indexRoot`,
    * highest first. */
  private def listVersions(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Array[String] =
    fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.matches("v\\d+"))
      .sortBy(versionNum).reverse

  /** The live index version's full path (`<root>/v<N>` per CURRENT).
    * Recovery rule (the non-atomic-swap crash window): when CURRENT is
    * absent, the highest `v<N>` directory IS the live version —
    * compaction completes a version before any swap names it, so the
    * highest on disk is always complete — and the pointer is
    * re-created (self-heal) so external readers recover too. */
  def currentIndexPath(spark: SparkSession, indexRoot: String): String = {
    val (fs, p) = hfs(spark, s"$indexRoot/CURRENT")
    if (fs.exists(p)) {
      val in = fs.open(p)
      val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      s"$indexRoot/$v"
    } else {
      val vs = listVersions(fs, new org.apache.hadoop.fs.Path(indexRoot))
      require(vs.nonEmpty,
        s"no CURRENT pointer and no v<N> version directories at $indexRoot")
      // BEST-EFFORT self-heal: re-creating the pointer makes this
      // reader a writer, and on filesystems without Rename.OVERWRITE
      // it can race the real writer's delete+rename fallback. The
      // resolved path is correct either way (highest complete
      // version), so a failed heal is swallowed — never surfaced to
      // the reader.
      try setCurrent(spark, indexRoot, vs.head)
      catch { case scala.util.control.NonFatal(_) => () }
      s"$indexRoot/${vs.head}"
    }
  }

  /** Swap the CURRENT pointer: write CURRENT.tmp, then rename over
    * CURRENT atomically (FileContext + Rename.OVERWRITE — supported
    * by HDFS and local POSIX). On filesystems without an overwriting
    * rename the delete+rename fallback runs; its crash window (no
    * CURRENT on disk) is recovered by [[currentIndexPath]]. */
  private def setCurrent(spark: SparkSession, indexRoot: String,
                         version: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val (fs, tmp0) = hfs(spark, s"$indexRoot/CURRENT.tmp")
    val tmp = fs.makeQualified(tmp0)
    val cur = fs.makeQualified(
      new org.apache.hadoop.fs.Path(s"$indexRoot/CURRENT"))
    val out = fs.create(tmp, true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
        .rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case scala.util.control.NonFatal(_) =>
        fs.delete(cur, false)
        if (!fs.rename(tmp, cur)) {
          // CURRENT reappeared between delete and rename — a reader's
          // best-effort self-heal raced the fallback. The reader can
          // only have named an already-complete version, so deleting
          // the resurrected pointer and retrying once converges on
          // this writer's (newer) version.
          fs.delete(cur, false)
          require(fs.rename(tmp, cur), s"pointer swap failed at $cur")
        }
    }
    ()
  }

  /** Delete version directories strictly OLDER than `keepFrom` — the
    * retain-K retention rule: after swapping v<N> → v<N+1> this runs
    * with keepFrom = N+2−K, keeping the newest K versions (K = 2, the
    * default, is delete-on-NEXT-swap: the new version AND the one a
    * concurrent reader may still be holding). */
  private def dropVersionsBelow(spark: SparkSession, indexRoot: String,
                                keepFrom: Long): Unit = {
    val (fs, root) = hfs(spark, indexRoot)
    listVersions(fs, root).filter(versionNum(_) < keepFrom)
      .foreach(v => fs.delete(
        new org.apache.hadoop.fs.Path(s"$indexRoot/$v"), true))
  }

  /** The shared compaction step: compact the current version into
    * `v<N+1>` (N from the pointer), swap, and apply the retain-K
    * rule (keep the newest `retainVersions`). `doCompact` is the
    * family-specific artifact compactor. */
  private def compactAndSwap(spark: SparkSession, indexRoot: String,
      cur: String, retainVersions: Int = 2)(
      doCompact: String => Unit): Unit = {
    require(retainVersions >= 1,
      s"retainVersions must be >= 1, got $retainVersions (2 is the " +
        "smallest value safe for concurrent readers — 1 deletes the " +
        "version a reader resolved the instant the swap lands)")
    val curV = versionNum(cur.substring(cur.lastIndexOf('/') + 1))
    val next = s"v${curV + 1}"
    doCompact(s"$indexRoot/$next")
    setCurrent(spark, indexRoot, next)
    dropVersionsBelow(spark, indexRoot, curV + 2 - retainVersions)
  }

  /** Initialize a versioned index root: `build` writes `v0` (over a
    * possibly empty corpus — a cold-start crawl), then CURRENT points
    * at it. */
  def initIndex(spark: SparkSession, indexRoot: String)(
      build: String => Unit): Unit = {
    build(s"$indexRoot/v0")
    setCurrent(spark, indexRoot, "v0")
  }

  /** [[initIndex]] with a TEXT index ([[TextIndexArtifacts.build]]). */
  def initTextIndex(spark: SparkSession, indexRoot: String,
                    corpus: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 3, numHashes: Int = 128,
                    bands: Int = 32, seed: Long = 42L,
                    threshold: Double = 0.8, maxBucket: Int = 1000): Unit =
    initIndex(spark, indexRoot)(TextIndexArtifacts.build(_, corpus, idCol,
      textCol, shingleN, numHashes, bands, seed, threshold, maxBucket))

  /** [[initIndex]] with a MEDIA index ([[MediaIndexArtifacts.build]]). */
  def initMediaIndex(spark: SparkSession, indexRoot: String,
                     corpus: org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.Media],
                     imageMaxDist: Int = 6, audioMaxDist: Int = 3,
                     videoMaxDist: Int = 3, videoMinOverlapBp: Int = 6000,
                     maxBucket: Int = 1024): Unit =
    initIndex(spark, indexRoot)(MediaIndexArtifacts.build(_, corpus,
      imageMaxDist, audioMaxDist, videoMaxDist, videoMinOverlapBp, maxBucket))

  /** The per-batch index reader — pass as a pipeline's index function.
    * Goes through the store's `load`, so tombstones are filtered, and
    * the version pointer is re-read every batch (appends AND
    * compactions become visible). */
  def indexReader(store: IndexStore[_], spark: SparkSession,
                  indexRoot: String): () => store.Index =
    () => store.load(spark, currentIndexPath(spark, indexRoot))

  /** [[indexReader]] over a TEXT root, in the (bands, sets) shape the
    * text-gated pipelines take. */
  def textIndex(spark: SparkSession,
                indexRoot: String): () => (DataFrame, DataFrame) = () => {
    val idx = indexReader(TextIndexArtifacts, spark, indexRoot)()
    (idx.bands, idx.sets)
  }

  /** [[indexReader]] over a MEDIA root, in the hash-relation shape the
    * media-gated pipelines take. */
  def mediaIndex(spark: SparkSession, indexRoot: String): () => DataFrame =
    () => indexReader(MediaIndexArtifacts, spark, indexRoot)().index

  /** The documented index sink (the shape of
    * [[StreamingIngestPipeline.runWithTextIndexGate]],
    * [[StreamingIngestPipeline.runMediaIngestIndexed]] and
    * [[StreamingIngestPipeline.runSemanticIngest]] with the matching
    * store): idempotent corpus append, delta append to the current
    * version, and — every `compactEvery` DATA batches (0 = never) —
    * compaction to `v<N+1>` with the pointer swap and the
    * delete-on-next-swap retention (object doc).
    *
    * Empty batches are SKIPPED outright: Structured Streaming fires
    * NO-DATA batches to advance watermarks (the upstream pipeline has
    * a watermarked dedup stage), and a sink keyed on raw batchId
    * would litter the corpus with empty partitions and compact an
    * unchanged index on idle ticks. An empty survivor frame implies
    * an empty delta (survivors ⊆ batch), so skipping loses nothing.
    * The compaction cadence therefore counts data batches in the
    * sink closure — after a restart the count restarts too, shifting
    * WHEN a compaction runs by at most `compactEvery` batches, which
    * is harmless: compaction is layout + tombstone application and
    * never changes verdicts. */
  def indexSink[D](store: IndexStore[D], spark: SparkSession,
                   corpusPath: String, indexRoot: String,
                   compactEvery: Int = 0, retainVersions: Int = 2)
      : (DataFrame, D, Long) => Unit = {
    val dataBatches = new java.util.concurrent.atomic.AtomicLong(0L)
    (batch, delta, id) =>
      if (!batch.isEmpty) {
        appendCorpusIdempotent(batch, corpusPath, id)
        val cur = currentIndexPath(spark, indexRoot)
        store.append(cur, delta)
        if (compactEvery > 0 &&
            dataBatches.incrementAndGet() % compactEvery == 0)
          compactAndSwap(spark, indexRoot, cur, retainVersions)(
            store.compact(spark, cur, _))
      }
  }

  /** The SEMANTIC [[indexSink]] with the occupancy alarm WIRED INTO
    * the sink cadence — the closed loop: every `recellCheckEvery` DATA
    * batches (0 = never), the sink runs
    * [[SemanticIndexArtifacts.PersistedSemanticIndex
    * .occupancyReport]] against the batch it just appended, and a
    * tripped alarm (capped_bp > alarmBp) triggers
    * [[recellSemanticIndex]] — the √n rebuild with the re-derived
    * guard, published as a versioned pointer swap. Runs from the
    * sink thread (the single-writer discipline compaction already
    * follows), AFTER the append, so the check sees the index state
    * the NEXT batch will be judged against. `idCol`/`vecCol` name
    * the batch's columns (the sink's survivor frame carries the
    * pipeline's original columns). Check cost: one batch assignment
    * + a batch-cell-restricted census — the r17 ladder measured the
    * report FLAT (~1.2 s) against 16× history, so a checking
    * cadence of every few batches is noise next to the appends. */
  def semanticSinkAutoRecell(spark: SparkSession, corpusPath: String,
      indexRoot: String, idCol: String, vecCol: String,
      compactEvery: Int = 0, retainVersions: Int = 2,
      recellCheckEvery: Int = 8, alarmBp: Long = 2500)
      : (DataFrame, DataFrame, Long) => Unit = {
    val inner = indexSink(SemanticIndexArtifacts, spark, corpusPath,
      indexRoot, compactEvery, retainVersions)
    val dataBatches = new java.util.concurrent.atomic.AtomicLong(0L)
    (batch, delta, id) =>
      if (!batch.isEmpty) {
        inner(batch, delta, id)
        if (recellCheckEvery > 0 &&
            dataBatches.incrementAndGet() % recellCheckEvery == 0) {
          val idx = SemanticIndexArtifacts.load(spark,
            currentIndexPath(spark, indexRoot))
          val fired = idx.occupancyReport(batch, idCol, vecCol, alarmBp)
            .collect().head.getAs[Boolean]("recell")
          if (fired) recellSemanticIndex(spark, indexRoot,
            retainVersions = retainVersions)
        }
      }
  }

  /** RE-CELL the live semantic index into `v<N+1>` and swap — the
    * occupancy alarm's consequence ([[SemanticIndexArtifacts
    * .recell]]: fresh √n centroid draw over the retained vectors;
    * nCells = 0 → auto √n). Same single-writer discipline as
    * compaction: run at compaction cadence, outside the streaming
    * query, when the per-batch
    * [[SemanticIndexArtifacts.PersistedSemanticIndex
    * .occupancyReport]] trips `recell`. */
  def recellSemanticIndex(spark: SparkSession, indexRoot: String,
      nCells: Int = 0, retainVersions: Int = 2): Unit = {
    val cur = currentIndexPath(spark, indexRoot)
    compactAndSwap(spark, indexRoot, cur, retainVersions)(
      SemanticIndexArtifacts.recell(spark, cur, _, nCells))
  }

  /** The documented ARCHIVE sink
    * ([[StreamingIngestPipeline.runArchiveIngest]]'s shape): the
    * [[indexSink]] discipline applied to the two legs of one routed
    * batch — doc survivors + text-index delta to the text root, media
    * survivors + media-index delta to the media root, each leg
    * skipping when its side of the batch is empty. Wire the
    * pipeline's index functions to the same roots
    * ([[textIndex]]/[[mediaIndex]]) and the continuous-crawl loop is
    * closed: archives in, both corpora and both indexes growing, all
    * four appends redelivery-safe.
    *
    * The two legs OVERLAP: their appends touch disjoint paths and
    * disjoint index roots — independent jobs submitted from one
    * thread serialize for no reason. Each leg runs on a thread created
    * per batch on the batch's own thread ([[graft.JobOverlap]]), so
    * the doc leg's shuffle stages overlap the media leg's write IO and
    * both legs' jobs carry that batch's job group and description.
    * The gain is unmeasured: the SCALE.md r17 sink rung quoted for it
    * ran the overlapped sink in both of its arms. Both legs have ended
    * before the sink returns — the foreachBatch checkpoint must not
    * commit ahead of either append — and BOTH failures surface (the
    * doc leg's first, the media leg's suppressed on it). */
  def archiveSink(spark: SparkSession, docCorpusPath: String,
                  mediaCorpusPath: String, textRoot: String,
                  mediaRoot: String, compactEvery: Int = 0,
                  retainVersions: Int = 2)
      : StreamingIngestPipeline.ArchiveIngestBatch => Unit = {
    val tSink = indexSink(TextIndexArtifacts, spark, docCorpusPath,
      textRoot, compactEvery, retainVersions)
    val mSink = indexSink(MediaIndexArtifacts, spark, mediaCorpusPath,
      mediaRoot, compactEvery, retainVersions)
    b => {
      graft.JobOverlap.all(s"archive-sink-leg-${b.batchId}")(
        () => tSink(b.docs, b.textDelta, b.batchId),
        () => mSink(b.media, b.mediaDelta, b.batchId))
      ()
    }
  }

  /** The binaryFile source schema (Spark requires it explicitly on
    * STREAMING reads — unlike the batch reader, readStream refuses to
    * infer it). */
  val BinaryFileSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")

  /** Turnkey CHUNKED BACKFILL over a directory of already-fetched
    * archives — the job a crawl team runs over an existing bucket
    * before the live loop starts. One call wires the full production
    * composition: a binaryFile stream capped at `maxFilesPerTrigger`
    * archives per micro-batch, Trigger.AvailableNow (process
    * everything currently present, then STOP — the documented
    * batch-with-streaming-guarantees shape), the
    * [[StreamingIngestPipeline.runArchiveIngest]] body per chunk, and
    * [[archiveSink]]'s redelivery-safe appends + compaction cadence.
    *
    * Why a stream and not one giant batch call: chunking BOUNDS the
    * working set (a 100 TB bucket cannot be one routed relation), the
    * CHECKPOINT makes the backfill resumable (kill it at archive
    * 40 000 of 80 000, rerun the same call, it continues — and a
    * rerun after completion processes nothing), and cross-chunk
    * memory rides the appended index deltas exactly as in live
    * ingest, so a re-crawl in chunk 2 of a chunk-1 survivor drops.
    * Blocks until the directory is drained; returns the number of
    * micro-batches this invocation ran. */
  def backfillArchives(spark: SparkSession, archiveDir: String,
      checkpointDir: String, docCorpusPath: String,
      mediaCorpusPath: String, textRoot: String, mediaRoot: String,
      maxFilesPerTrigger: Int = 64, compactEvery: Int = 8,
      extractHtml: Boolean = true,
      urlBlocklist: Option[DataFrame] = None,
      urlDedup: Boolean = true, mediaGate: Boolean = true,
      minQuality: Double = 0.3): Long = {
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val sink = archiveSink(spark, docCorpusPath, mediaCorpusPath,
      textRoot, mediaRoot, compactEvery)
    val q = StreamingIngestPipeline.runArchiveIngest(
        spark.readStream.format("binaryFile").schema(BinaryFileSchema)
          .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
          .load(archiveDir),
        textIndex(spark, textRoot), mediaIndex(spark, mediaRoot),
        extractHtml = extractHtml, urlBlocklist = urlBlocklist,
        urlDedup = urlDedup, mediaGate = mediaGate,
        minQuality = minQuality) { b =>
        batches.incrementAndGet(); sink(b)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    batches.get()
  }

  /** Resolve takedown KEYS to ids — the operational front of the
    * retraction story: takedowns arrive as URLs or content
    * fingerprints, while [[TextIndexArtifacts.retract]] and
    * [[retractFromCorpus]] consume ids. One corpus scan, keys
    * broadcast (takedown-sized), first column of `keys` matched
    * against `keyCol` — returns the DISTINCT `idCol` values to
    * retract. Tracker-noised takedown URLs should be canonicalized
    * to the corpus's URL convention BEFORE resolving (the corpus
    * stores fetch URLs verbatim; [[graft.operators.UrlCuration
    * .canonicalUrl]] both sides if the convention allows variants). */
  def retractionIdsFor(spark: SparkSession, corpusPath: String,
                       keys: DataFrame, keyCol: String,
                       idCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    spark.read.parquet(corpusPath)
      .join(broadcast(
        keys.select(col(keys.columns.head).as(keyCol)).distinct()),
        Seq(keyCol), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** One-row per-batch MONITORING summary for the archive loop — the
    * numbers an ops dashboard appends per micro-batch: routed record
    * counts per leg, both survivor counts, both delta sizes. Each
    * count is a Spark action over frames the sink is about to write
    * anyway (routed is pinned, the doc frame checkpointed) — call it
    * INSIDE the sink, append beside the corpus, and drop-rate alarms
    * (survivors/routed collapsing, deltas diverging from survivors)
    * come for free. Gate-ATTRIBUTED drop counts (quality vs exact vs
    * gallery vs judge) cost an intermediate-frame recount and live
    * on the carrier as the opt-in
    * [[StreamingIngestPipeline.ArchiveIngestBatch.funnel]] thunk. */
  def archiveBatchSummary(
      b: StreamingIngestPipeline.ArchiveIngestBatch): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = b.routed.sparkSession
    import spark.implicits._
    Seq((b.batchId,
      b.routed.filter(col("kind") === "doc").count(),
      b.routed.filter(col("kind") =!= "doc").count(),
      b.docs.count(), b.media.count(),
      b.textDelta._2.count(), b.mediaDelta.count()))
      .toDF("batch_id", "routed_docs", "routed_media", "doc_survivors",
        "media_survivors", "text_delta_docs", "media_delta_rows")
  }

  /** CORPUS-side retraction — the takedown story's second half: index
    * tombstones ([[TextIndexArtifacts.retract]]) stop a doc from
    * winning keeper elections, but the corpus parquet written by
    * [[appendCorpusIdempotent]] still carries its text/payload. This
    * sweep REMOVES the retracted rows physically, touching ONLY the
    * `batch_id=<id>` partitions that actually contain a retracted id
    * (the partition layout makes the rewrite targeted — at 100 TB a
    * takedown list of a few thousand ids rewrites a few partitions,
    * never the corpus).
    *
    * Crash discipline per partition: rewrite to a side directory
    * (`<corpus>/.retract_tmp/batch_id=<id>`), then delete the
    * original and rename the side copy in. A crash between delete and
    * rename leaves the side copy intact — the RECOVERY PREAMBLE here
    * completes any such orphaned rename on the next invocation, so
    * re-running the sweep (same or superset id list) always converges;
    * the sweep is idempotent. Run it at compaction cadence, outside
    * the streaming query (same single-writer discipline as the index
    * compaction).
    *
    * `ids` is the retraction list (first column, cast to long —
    * id-sized, broadcast); `idCol` names the corpus id column. */
  def retractFromCorpus(spark: SparkSession, corpusPath: String,
                        ids: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val (fs, root) = hfs(spark, corpusPath)
    val tmpRoot = new org.apache.hadoop.fs.Path(s"$corpusPath/.retract_tmp")
    // recovery preamble: complete any rename a prior crash orphaned.
    // Only a COMMITTED side copy (one carrying the _SUCCESS marker
    // Spark's file committer writes at job commit) is post-sweep
    // truth — a crash DURING the side-copy write leaves an
    // uncommitted partial dir (no _SUCCESS, a _temporary subtree)
    // while the ORIGINAL partition is still intact, and installing
    // the partial would silently drop the partition's non-retracted
    // rows. Partials are deleted instead; the re-run regenerates
    // them from the original.
    if (fs.exists(tmpRoot)) {
      fs.listStatus(tmpRoot).filter(_.isDirectory).foreach { st =>
        val committed = fs.exists(
          new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"))
        if (committed) {
          val dst = new org.apache.hadoop.fs.Path(root, st.getPath.getName)
          fs.delete(dst, true)
          require(fs.rename(st.getPath, dst),
            s"retraction recovery rename failed for ${st.getPath}")
        } else {
          fs.delete(st.getPath, true)
        }
      }
      fs.delete(tmpRoot, true)
    }
    val tomb = ids.select(
      col(ids.columns.head).cast("long").as(idCol)).distinct()
      .localCheckpoint(true)
    // the affected partitions: batch ids whose partition holds ≥ 1
    // retracted row — a semi join that prunes to the takedown list,
    // collected because the result is takedown-sized
    val affected = spark.read.parquet(corpusPath)
      .join(broadcast(tomb), Seq(idCol), "left_semi")
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0))
    affected.foreach { bid =>
      val part = s"batch_id=$bid"
      spark.read.parquet(s"$corpusPath/$part")
        .join(broadcast(tomb), Seq(idCol), "left_anti")
        .write.mode("overwrite").parquet(s"$corpusPath/.retract_tmp/$part")
      val dst = new org.apache.hadoop.fs.Path(root, part)
      fs.delete(dst, true)
      require(fs.rename(
        new org.apache.hadoop.fs.Path(tmpRoot, part), dst),
        s"retraction rename failed for $part")
    }
    if (fs.exists(tmpRoot)) { fs.delete(tmpRoot, true); () }
  }
}
