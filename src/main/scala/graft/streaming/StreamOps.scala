package graft.streaming

import graft.functions.ScalarFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured Streaming operators re-expressing the reference's streaming
  * surface (SURVEY.md §2.9 ST1–ST7) with correct-by-default semantics:
  *
  *  - Tumbling event-time windows ([[tumblingCommerceAgg]] = the agg
  *    module's revenue/visitors/purchases/AOV shape, agg/agg.scala:58-67).
  *  - Watermarks REQUIRED: the reference runs stateful aggs with no
  *    watermark, so state grows forever (SURVEY ST2). Here every stateful
  *    op takes a `lateness` and installs `withWatermark`; the reference's
  *    unbounded behavior is an explicit opt-in (`lateness = None` only on
  *    [[tumblingCommerceAggUnbounded]]).
  *  - Event split ([[splitByValue]] = filter/filter.scala's view/buy fork).
  *  - Streaming dedup with bounded state ([[dedupeEvents]]).
  *  - Declarative session windows ([[sessionAgg]]) plus an equivalent
  *    custom-state [[Sessionize.flatMapSessions]] — the
  *    `flatMapGroupsWithState` path for semantics the built-ins can't
  *    express.
  *
  * Every transform is source-agnostic: it takes the (possibly streaming)
  * DataFrame, so Kafka / file / rate / MemoryStream sources all work —
  * the environment has no broker, tests use MemoryStream (SURVEY §7).
  *
  * Scale notes: streaming aggregation state is per-key in the StateStore;
  * watermark eviction bounds it to (active windows × keys). The shuffle
  * for groupBy(window) is on the window struct — at 1000 executors state
  * partitioning follows `spark.sql.shuffle.partitions`, set at session
  * build time (GraftSession).
  */
object StreamOps {

  /** The agg module's 60-minute commerce aggregate with a watermark.
    * Columns: window_start/window_end/revenue/visitors/purchases/aov.
    *
    * `countDistinct` is unsupported on streams, so `visitors` is
    * `approx_count_distinct` (HLL++, mergeable per-window state) — the
    * scalable form of the reference's intent.
    */
  def tumblingCommerceAgg(events: DataFrame, tsCol: String = "ts",
                          typeCol: String = "event_type",
                          userCol: String = "user_id",
                          valueCol: String = "value",
                          windowDur: String = "60 minutes",
                          lateness: String = "1 hour"): DataFrame =
    tumblingAggImpl(events.withWatermark(tsCol, lateness),
      tsCol, typeCol, userCol, valueCol, windowDur)

  /** The reference's literal no-watermark behavior (agg/agg.scala): state
    * never expires, all late data accepted forever. Legal only in
    * update/complete output modes. Kept as a documented opt-out. */
  def tumblingCommerceAggUnbounded(events: DataFrame, tsCol: String = "ts",
                                   typeCol: String = "event_type",
                                   userCol: String = "user_id",
                                   valueCol: String = "value",
                                   windowDur: String = "60 minutes"): DataFrame =
    tumblingAggImpl(events, tsCol, typeCol, userCol, valueCol, windowDur)

  private def tumblingAggImpl(events: DataFrame, tsCol: String, typeCol: String,
                              userCol: String, valueCol: String,
                              windowDur: String): DataFrame = {
    val isPurchase = col(typeCol) === "purchase"
    val centsSum = sum(when(isPurchase, ScalarFns.cents(col(valueCol)))
      .otherwise(lit(0L)))
    events
      .groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(
        (centsSum.cast("double") / 100.0).as("revenue"),
        approx_count_distinct(col(userCol)).as("visitors"),
        ScalarFns.countIf(isPurchase).as("purchases"),
        ScalarFns.roundFrac(centsSum, ScalarFns.countIf(isPurchase) * 100L, 4)
          .as("aov"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("revenue"), col("visitors"), col("purchases"), col("aov"))
  }

  /** filter/filter.scala's event fork: one filtered branch per requested
    * value of `typeCol`, each with the partition-date tag the reference
    * adds before its partitioned write (filter.scala:53-54). Works
    * identically on batch and streaming frames. */
  def splitByValue(events: DataFrame, typeCol: String, tsCol: String,
                   types: Seq[String]): Map[String, DataFrame] =
    types.map { t =>
      t -> events.filter(col(typeCol) === t)
        .withColumn("p_date", ScalarFns.tsToDateTag(col(tsCol)))
    }.toMap

  /** Streaming exact dedup with bounded state: duplicates arriving within
    * the watermark horizon are dropped; state for keys older than the
    * watermark is evicted (dropDuplicatesWithinWatermark, Spark 3.5+). */
  def dedupeEvents(events: DataFrame, tsCol: String, keyCols: Seq[String],
                   lateness: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Dedup-on-ingest: drop streaming documents whose normalized-content
    * fingerprint already exists in a STATIC corpus index — the online
    * complement of [[graft.operators.Dedup.exact]] (batch) for a
    * continuously-fed training corpus. Stream-static left_anti join,
    * no streaming state at all; within-stream repeats are handled by
    * composing [[dedupeEvents]] upstream. NOTE: a plain file-based
    * static side snapshots its file LISTING at query start — files
    * appended to the index directory later are invisible until
    * restart; an index that must grow mid-query needs a transactional
    * table format (or periodic query restarts, the common batch-ingest
    * cadence). The index should be the fingerprint column alone — at
    * 100 TB the md5 index is ~3% of corpus bytes and
    * partition-prunable. */
  def dedupeAgainstIndex(docs: DataFrame, corpusIndex: DataFrame,
                         textCol: String = "text",
                         fpCol: String = "fp"): DataFrame =
    docs
      .withColumn("__fp", graft.functions.TextFns.fingerprint(col(textCol)))
      .join(corpusIndex.select(col(fpCol).as("__fp")), Seq("__fp"), "left_anti")
      .drop("__fp")

  /** Ingest hygiene gate for a continuously-fed training corpus: score
    * each streaming document ([[graft.functions.TextFns.qualityScore]],
    * the batch pipeline's exact rule), drop those below `minQuality`,
    * and emit the PII-REDACTED text plus the score and redaction
    * counts as audit columns. Entirely narrow expressions (regex +
    * arithmetic) — stateless, watermark-free, any output mode, and the
    * SAME columns a batch run produces, so batch backfill and live
    * ingest agree row for row. Compose [[dedupeEvents]] /
    * [[dedupeAgainstIndex]] downstream for the dedup stages. */
  def ingestGate(docs: DataFrame, textCol: String = "text",
                 minQuality: Double = 0.3): DataFrame = {
    import graft.functions.TextFns
    docs
      .withColumn("quality", TextFns.qualityScore(col(textCol)))
      .filter(col("quality") >= minQuality)
      .withColumn("n_pii",
        TextFns.piiCount(col(textCol), TextFns.emailRe)
          + TextFns.piiCount(col(textCol), TextFns.ipv4Re)
          + TextFns.piiCount(col(textCol), TextFns.phoneRe))
      .withColumn(textCol, TextFns.redactPii(col(textCol)))
  }

  /** Unigram-LM quality scoring for a document stream: applies the
    * batch operator ([[graft.operators.UnigramLm.scoreWithOov]] against
    * an offline-built LM) to each micro-batch via `foreachBatch` — the
    * production deployment shape: the LM trains offline on the
    * reference corpus, ingest scores against it live, and batch
    * backfill reproduces identical scores (same integer-quantized
    * arithmetic).
    *
    * Why foreachBatch and not a streaming groupBy: the score needs a
    * per-doc aggregate over exploded tokens, and a STREAMING groupBy
    * would accumulate doc_id state forever (unbounded state store —
    * exactly what the ingest pipeline's soak test forbids). Each doc
    * arrives in exactly one micro-batch of an append source, so
    * batch-local aggregation is semantically identical and stateless:
    * no watermark, no state store, any trigger. Per batch the LM join
    * is a plain broadcast/hash join that AQE sizes. `sink` receives
    * (scored-batch DataFrame, batchId) — write, upsert, or assert. */
  def lmScoreEachBatch(docs: DataFrame, lm: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       oovLpMicro: Long = -20000000L)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(graft.operators.UnigramLm.scoreWithOov(
        batch, idCol, textCol, lm, oovLpMicro), id)
    }

  /** Per-micro-batch FROZEN-tokenizer encoding: applies the batch
    * applier ([[graft.operators.UnigramTokenizer.encodeWith]]) to
    * every micro-batch — the live form of the q152 apply path. The
    * vocabulary is learned OFFLINE and never updated by the stream
    * (the production contract: a tokenizer is versioned with the
    * model, and ingest-time token streams must be bit-identical to a
    * backfill encode with the same artifact — a stream that relearned
    * per batch would drift with arrival order). Words the frozen
    * vocabulary cannot spell surface as NULL-id rows exactly as in
    * batch; route them to a review sink or map to `<unk>`.
    *
    * Stateless by the same argument as [[lmScoreEachBatch]]: the
    * word-count + Viterbi run INSIDE each batch (batch-sized
    * relations), the piece table broadcasts, no streaming state. */
  def tokenizeEachBatch(docs: DataFrame, vocab: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxPieceLen: Int = 4)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(graft.operators.UnigramTokenizer.encodeWith(
        batch, idCol, textCol, vocab, maxPieceLen), id)
    }

  /** [[tokenizeEachBatch]]'s BPE twin: encode every micro-batch under
    * a FROZEN merge list + alphabet ([[graft.operators.Vocabulary.bpeEncodeWith]]).
    * Same contract — the artifact is learned offline and versioned
    * with the model; unknown SYMBOLS surface as NULL ids (BPE is
    * open-vocabulary, so there are no unspellable words). Stateless:
    * the merge fold runs over each batch's own word relation. */
  def bpeTokenizeEachBatch(docs: DataFrame,
                           merges: Seq[(String, String)], vocab: DataFrame,
                           idCol: String = "doc_id", textCol: String = "text")(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(graft.operators.Vocabulary.bpeEncodeWith(
        batch, idCol, textCol, merges, vocab), id)
    }

  /** Per-micro-batch MODEL-BASED quality gate: the live form of the
    * TrainingCorpusPipeline stage 2e (q166/q167's
    * [[graft.ml.QualityFilter]]) — every micro-batch is scored under a
    * FROZEN trained classifier and only P(quality) ≥ minP rows reach
    * the sink. The model is trained OFFLINE on a labeled seed and
    * versioned like a tokenizer artifact: a stream that retrained on
    * arriving data would drift with arrival order, and quality is
    * judged against an external standard anyway (the DCLM contract).
    *
    * Stateless by the [[lmScoreEachBatch]] argument: the hashed-TF
    * features aggregate INSIDE each batch, the dim-sized weight
    * vector rides the broadcast model, no streaming state — so live
    * ≡ backfill row-for-row (spec-proven). */
  def qualityGateEachBatch(docs: DataFrame,
                           model: org.apache.spark.ml.classification.LogisticRegressionModel,
                           minP: Double, idCol: String = "doc_id",
                           textCol: String = "text")(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(graft.ml.QualityFilter.filter(model, batch, idCol, textCol, minP), id)
    }

  /** Per-micro-batch language identification: applies the batch
    * operator ([[graft.operators.LangId.predict]]) to every
    * micro-batch via `foreachBatch` and hands `sink` the batch rows
    * with (lang_pred, score, margin) attached — the live form of the
    * q129 curation gate (route/drop by language at ingest).
    *
    * Stateless by the same argument as [[lmScoreEachBatch]]: the
    * prediction is batch-local (its per-doc aggregations run INSIDE
    * the batch DataFrame, where they are plain batch aggs — no
    * streaming state, no watermark) and the profile table is a
    * compile-time constant broadcast, so live and backfill runs score
    * identically. */
  def langIdEachBatch(docs: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text")(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(batch.join(
        graft.operators.LangId.predict(batch, idCol, textCol), Seq(idCol)), id)
    }

  /** Per-micro-batch distribution-drift monitoring: applies the batch
    * operator ([[graft.operators.CorpusStats.distributionDrift]])
    * against an offline REFERENCE snapshot to every micro-batch via
    * `foreachBatch` — the live form of the q125 shape alarm. The
    * reference histogram is the stable yardstick (yesterday's corpus,
    * a golden sample); each arriving batch is compared to it and the
    * per-group TVD lands in `sink` for alerting.
    *
    * Stateless by the same argument as [[lmScoreEachBatch]]: the
    * comparison is batch-local (a streaming groupBy would accumulate
    * histogram state forever), so no watermark and no state store.
    * The REFERENCE histogram is built and persisted ONCE here
    * ([[graft.operators.CorpusStats.valueHistogram]]) — the reference
    * corpus is aggregated a single time for the whole query lifetime,
    * not per batch; each micro-batch's own histogram is persisted for
    * its two reads and unpersisted before the next batch, so a
    * long-running monitor holds exactly one cached relation in steady
    * state. A batch missing a reference group (or vice versa) reports
    * NULL for that group, exactly like the batch operator. `sink`
    * receives (drift DataFrame, batchId) and must consume it within
    * the call (the batch histogram is released when it returns). */
  def driftMonitorEachBatch(docs: DataFrame, reference: DataFrame,
                            groupCol: String, valueCol: String,
                            bucketWidth: Long)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val refHist = graft.operators.CorpusStats.valueHistogram(
        reference, groupCol, valueCol, bucketWidth)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val bh = graft.operators.CorpusStats.valueHistogram(
          batch, groupCol, valueCol, bucketWidth)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try sink(graft.operators.CorpusStats.driftFromHistograms(refHist, bh), id)
      finally bh.unpersist()
    }
  }

  /** Per-micro-batch NEAR-DUP gate against the historical corpus —
    * the missing middle between the streaming pipeline's exact
    * fingerprint anti-join (re-crawls of IDENTICAL text) and the
    * periodic batch near-dup pass: each arriving batch is checked with
    * the batch LSH decontaminator against a PRECOMPUTED
    * [[graft.operators.Decontaminate.NearDupIndex]] (the corpus's
    * shingle sets + capped band buckets, persisted once — per batch
    * only the fresh docs pay tokenize→signature work), and `sink`
    * receives the batch MINUS docs with a verified ≥ threshold
    * Jaccard neighbor in the index.
    *
    * Stateless by the lmScoreEachBatch argument: the gate is
    * batch-local (its joins run inside the batch DataFrame against a
    * static relation — no streaming state, no watermark), so live
    * gating and a batch backfill through
    * [[graft.operators.Decontaminate.nearDupLeaksLsh]] admit the same
    * documents (asserted live≡backfill in the spec). In-stream
    * near-dups (two fresh docs duplicating EACH OTHER in one batch)
    * are out of scope here, exactly as cross-horizon exact dups are
    * for dropDuplicatesWithinWatermark — the periodic batch dedup owns
    * both tails. */
  def nearDupGateEachBatch(docs: DataFrame,
                           index: graft.operators.Decontaminate.NearDupIndex,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           threshold: Double = 0.8,
                           preGate: DataFrame => DataFrame = identity)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      // preGate seats cheaper batch-local filters BEFORE the band-
      // hashing spend (the batch pipeline's stage-2e-before-3 order):
      // rows preGate drops never pay MinHash
      val pre = preGate(batch)
      val flagged = graft.operators.Decontaminate
        .nearDupLeaksAgainstIndex(index, pre, idCol, textCol, threshold)
        .select(col("eval_id").as(idCol))
      sink(pre.join(flagged, Seq(idCol), "left_anti"), id)
    }

  /** Per-micro-batch assign-only vector-index APPEND: each arriving
    * embedding batch is encoded against a FROZEN index
    * ([[graft.operators.ProductQuant.encode]] — rotation, nearest
    * frozen cell and residual PQ codes as the index has them, NO
    * retrain) and `sink` receives the (c_id, [cell,] codes) rows to
    * append to the stored index relation. Because encode is a pure
    * per-row function of the frozen index, append-then-search ≡
    * batch-rebuild-search (spec-proven for the residual two-level and
    * the rotated forms) — the streaming index stays byte-consistent
    * with a batch rebuild at every point. Stateless (batch-local narrow
    * pass + broadcast model joins); pair with
    * [[graft.operators.ProductQuant.driftReport]] on the appended
    * batches to decide when the frozen centroids have drifted enough
    * to retrain (q181's alarm, live). */
  def indexAppendEachBatch(vecs: DataFrame,
                           index: graft.operators.ProductQuant.Index,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           dim: Int = 64, superProbe: Int = 2)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(graft.operators.ProductQuant.encode(index, batch, idCol, vecCol,
        dim, superProbe), id)
    }

  /** Declarative gap-based session aggregation (session_window): sessions
    * close after `gap` of per-user inactivity; emits one row per closed
    * session in append mode. */
  def sessionAgg(events: DataFrame, tsCol: String = "ts",
                 userCol: String = "user_id", valueCol: String = "value",
                 gap: String = "30 minutes",
                 lateness: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(col(userCol), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 2).as("session_value"))
      .select(col(userCol), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("session_value"))
}
