package graft.io

import graft.multimodal.{MediaIndex, Multimodal}
import org.apache.spark.sql.{DataFrame, Dataset, Row}

/** Media-hash-index persistence — the [[IndexStore]] for the
  * incremental perceptual media family: the [[MediaIndex]] hash
  * relation IS parquet state between ingest runs, and the judge's
  * thresholds (per-kind max Hamming distances, the video overlap
  * floor, the census cap) must match across runs or verdicts drift
  * silently between batches. One appended relation (`<path>/index`,
  * the [[MediaIndex.mediaHashIndex]] rows, clustered by fingerprint so
  * parquet row-group stats support runtime-filter skipping of the byte
  * leg's probes at scale), the one-row `<path>/params`, and optionally
  * `<path>/tombstones` ((media_id)). Appends go to the index (the
  * [[MediaIndex.ingestStep]] delta). */
object MediaIndexArtifacts extends IndexStore[DataFrame]("media_id",
  Seq(IndexStore.Relation("index", Seq("fp"))), Seq("params")) {

  type Index = PersistedMediaIndex

  /** A loaded index: the hash relation plus the judge thresholds it
    * was operated with. */
  final case class PersistedMediaIndex(index: DataFrame,
      imageMaxDist: Int, audioMaxDist: Int, videoMaxDist: Int,
      videoMinOverlapBp: Int, maxBucket: Int) {
    /** Batch-internal election + history judge + replay-idempotent
      * delta over a PINNED batch index relation
      * ([[MediaIndex.ingestStep]] with the stored thresholds). */
    def ingest(batchIdx: DataFrame): (DataFrame, DataFrame) =
      MediaIndex.ingestStep(batchIdx, index, imageMaxDist, audioMaxDist,
        videoMaxDist, videoMinOverlapBp, maxBucket)

    /** The gate wrapper over raw media ([[MediaIndex
      * .dedupeAgainstHistory]] — batch pinned inside). */
    def dedupe(batch: Dataset[Multimodal.Media]): Dataset[Multimodal.Media] =
      MediaIndex.dedupeAgainstHistory(batch, index, imageMaxDist,
        audioMaxDist, videoMaxDist, videoMinOverlapBp, maxBucket)

    /** Band-occupancy drift report for this index against a batch
      * HASH relation ([[MediaIndex.bandOccupancyReport]] with the
      * stored cap): the per-leg probe-mass fraction the perceptual
      * judge silently refuses because history band buckets crossed
      * `maxBucket`. */
    def occupancyReport(batchIdx: DataFrame,
                        alarmBp: Long = 2500): DataFrame =
      MediaIndex.bandOccupancyReport(batchIdx, index, maxBucket, alarmBp)
  }

  /** Index `corpus` and write the artifact. Consumers LOAD (the
    * [[TextIndexArtifacts.build]] round-trip rule). The index relation
    * is hash-sized (~50 bytes a row) — payload bytes never reach disk
    * here. */
  def build(path: String, corpus: Dataset[Multimodal.Media],
            imageMaxDist: Int = 6, audioMaxDist: Int = 3,
            videoMaxDist: Int = 3, videoMinOverlapBp: Int = 6000,
            maxBucket: Int = 1024): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    writeRelations(path,
      Seq(MediaIndex.mediaHashIndex(corpus.localCheckpoint(true))),
      "overwrite")
    writeOnceRelation(path, "params",
      Seq((imageMaxDist, audioMaxDist, videoMaxDist, videoMinOverlapBp,
          maxBucket))
        .toDF("image_max_dist", "audio_max_dist", "video_max_dist",
          "video_min_overlap_bp", "max_bucket"))
  }

  protected def parts(delta: DataFrame): Seq[DataFrame] = Seq(delta)

  protected def open(r: Row, rel: String => DataFrame): PersistedMediaIndex =
    PersistedMediaIndex(rel("index"),
      r.getAs[Int]("image_max_dist"), r.getAs[Int]("audio_max_dist"),
      r.getAs[Int]("video_max_dist"), r.getAs[Int]("video_min_overlap_bp"),
      r.getAs[Int]("max_bucket"))
}
