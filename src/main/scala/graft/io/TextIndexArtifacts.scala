package graft.io

import graft.operators.TextIndex
import org.apache.spark.sql.{DataFrame, Row}

/** Text-dedup-index persistence — the [[IndexStore]] for the
  * incremental text near-dup family: the [[TextIndex]] relations ARE
  * parquet state between ingest runs, and the judge's parameters
  * (shingleN, numHashes, bands, seed, threshold, maxBucket) must match
  * the build's EXACTLY or verdicts silently change (different
  * signatures band differently; a different shingle width changes
  * every Jaccard). `Decontaminate.NearDupIndex` carries its parameters
  * on the case class for precisely that reason, but it is SESSION
  * state — this artifact writes them beside the relations.
  *
  * Layout: `<path>/bands` ((doc, band, sig) — the probe relation,
  * clustered by (band, sig)), `<path>/sets` ((doc, shs) — the
  * verification relation, compacted by doc), `<path>/params` (one
  * row), and optionally `<path>/tombstones` ((doc)). Appends go to
  * bands/sets (the [[TextIndex.ingestStep]] delta). */
object TextIndexArtifacts extends IndexStore[(DataFrame, DataFrame)]("doc",
  Seq(IndexStore.Relation("bands", Seq("band", "sig")),
    IndexStore.Relation("sets", Seq("doc"), sorted = false)),
  Seq("params")) {

  type Index = PersistedTextIndex

  /** A loaded index: the two relations plus the build parameters the
    * judge must reuse. The relations are plain parquet reads — no
    * caching is imposed here (the judge streams them map-side; see
    * TextIndex's plan contract). */
  final case class PersistedTextIndex(bands: DataFrame, sets: DataFrame,
      shingleN: Int, numHashes: Int, nBands: Int, seed: Long,
      threshold: Double, maxBucket: Int) {
    /** Batch docs that near-duplicate this index — the stored
      * parameters applied, no silent mismatch possible. `cacheSets =
      * false` for repeated bounded-batch loops (one cache entry per
      * call otherwise — the ingestStep leak note). */
    def dups(batch: DataFrame, idCol: String, textCol: String,
             cacheSets: Boolean = true): DataFrame =
      TextIndex.incrementalTextDups(batch, idCol, textCol, bands, sets,
        shingleN, numHashes, nBands, threshold, seed, maxBucket, cacheSets)

    /** The batch with every index near-duplicate dropped. */
    def dedupe(batch: DataFrame, idCol: String, textCol: String,
               cacheSets: Boolean = true): DataFrame =
      TextIndex.dedupeAgainstIndex(batch, idCol, textCol, bands, sets,
        shingleN, numHashes, nBands, threshold, seed, maxBucket, cacheSets)

    /** Judge + replay-idempotent delta ([[TextIndex.ingestStep]]) —
      * pass the delta to [[TextIndexArtifacts.append]]. */
    def ingest(batch: DataFrame, idCol: String, textCol: String,
               cacheSets: Boolean = true): (DataFrame, (DataFrame, DataFrame)) =
      TextIndex.ingestStep(batch, idCol, textCol, bands, sets, shingleN,
        numHashes, nBands, threshold, seed, maxBucket, cacheSets)

    /** Bucket-occupancy drift report for this index against a batch
      * ([[TextIndex.bucketOccupancyReport]] with the stored
      * parameters): the probe-mass fraction the judge silently
      * refuses because history band buckets crossed `maxBucket`.
      * `rebuild` true ⇒ rebuild with a larger maxBucket / more
      * bands at compaction cadence (no recell analog — bands are
      * hash-structural). */
    def occupancyReport(batch: DataFrame, idCol: String, textCol: String,
                        alarmBp: Long = 2500,
                        cacheSets: Boolean = true): DataFrame =
      TextIndex.bucketOccupancyReport(batch, idCol, textCol, bands,
        shingleN, numHashes, nBands, seed, maxBucket, alarmBp, cacheSets)
  }

  /** Build the index over `corpus` and write it (relations + params).
    * Returns nothing on purpose: consumers LOAD — reusing the
    * in-memory relations would keep the pre-write plan alive and skip
    * the round-trip this artifact exists to prove. */
  def build(path: String, corpus: DataFrame, idCol: String, textCol: String,
            shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
            seed: Long = 42L, threshold: Double = 0.8,
            maxBucket: Int = 1000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // cache=false: two tokenization passes for a write-once build
    // instead of a session-global cache entry — a library API must
    // never clearCache() (it would evict the CALLER's cached state)
    val (b, s) = TextIndex.buildIndex(corpus, idCol, textCol, shingleN,
      numHashes, bands, seed, cache = false)
    writeRelations(path, Seq(b, s), "overwrite")
    writeOnceRelation(path, "params",
      Seq((shingleN, numHashes, bands, seed, threshold, maxBucket))
        .toDF("shingle_n", "num_hashes", "bands", "seed", "threshold",
          "max_bucket"))
  }

  protected def parts(delta: (DataFrame, DataFrame)): Seq[DataFrame] =
    Seq(delta._1, delta._2)

  protected def open(r: Row, rel: String => DataFrame): PersistedTextIndex =
    PersistedTextIndex(rel("bands"), rel("sets"),
      r.getAs[Int]("shingle_n"), r.getAs[Int]("num_hashes"),
      r.getAs[Int]("bands"), r.getAs[Long]("seed"),
      r.getAs[Double]("threshold"), r.getAs[Int]("max_bucket"))
}
