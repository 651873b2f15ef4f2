package graft.io

import graft.operators.SemanticIndex
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Semantic-dedup-index persistence — the [[IndexStore]] for the
  * incremental embedding family: the [[SemanticIndex]] relations ARE
  * parquet state between ingest runs, and the judge's parameters
  * (threshold, nProbe, maxCell) must match across runs or verdicts
  * drift silently. The CENTROIDS ship inside the artifact — they are
  * frozen model state (assignment must be identical across batches;
  * the [[SemanticIndex]] frozen-cells rule), so a loaded index can
  * only be judged against the cells it was built with.
  *
  * Layout: `<path>/centroids` ((cell, cvec) — cell-count sized,
  * write-once), `<path>/assigned` ((id, cell, vec) — the admitted
  * vectors, cell-clustered so parquet row-group stats support cell
  * skipping), `<path>/params` (one row), and optionally
  * `<path>/tombstones` ((id)). Appends go to `assigned` (the
  * [[SemanticIndex.ingestStep]] delta).
  *
  * Honest retraction boundary: a tombstone removes the vector from
  * the ASSIGNED relation (it stops matching and stops winning
  * elections), but the CENTROIDS are frozen model state — a centroid
  * drawn from a later-retracted vector keeps defining its cell's
  * geometry, exactly as a trained LM or tokenizer keeps statistics
  * from retracted training text until retrained. A takedown policy
  * that extends to derived model state requires an index REBUILD over
  * the retained corpus ([[build]] or [[recell]]), not a tombstone. */
object SemanticIndexArtifacts extends IndexStore[DataFrame]("id",
  Seq(IndexStore.Relation("assigned", Seq("cell"))),
  Seq("centroids", "params")) {

  type Index = PersistedSemanticIndex

  /** A loaded index: relations plus the build/judge parameters. */
  final case class PersistedSemanticIndex(centroids: DataFrame,
      assigned: DataFrame, threshold: Double, nProbe: Int, maxCell: Int) {
    /** Batch vectors that near-duplicate this index (stored
      * parameters applied — no silent mismatch possible). */
    def dups(batch: DataFrame, idCol: String, vecCol: String): DataFrame =
      SemanticIndex.incrementalSemanticDups(batch, idCol, vecCol,
        centroids, assigned, threshold, nProbe, maxCell)

    /** The batch with every index near-duplicate dropped. */
    def dedupe(batch: DataFrame, idCol: String, vecCol: String): DataFrame =
      SemanticIndex.dedupeAgainstIndex(batch, idCol, vecCol, centroids,
        assigned, threshold, nProbe, maxCell)

    /** Judge + replay-idempotent delta ([[SemanticIndex.ingestStep]])
      * — pass the delta to [[SemanticIndexArtifacts.append]]. */
    def ingest(batch: DataFrame, idCol: String,
               vecCol: String): (DataFrame, DataFrame) =
      SemanticIndex.ingestStep(batch, idCol, vecCol, centroids, assigned,
        threshold, nProbe, maxCell)

    /** Cell-occupancy drift report for this index against a batch
      * ([[SemanticIndex.cellOccupancyReport]] with the stored
      * parameters): the fraction of the batch's probe mass landing
      * in cells the index can no longer judge. `recell` true ⇒
      * rebuild with √n cells ([[SemanticIndexArtifacts.recell]]). */
    def occupancyReport(batch: DataFrame, idCol: String, vecCol: String,
                        alarmBp: Long = 2500): DataFrame =
      SemanticIndex.cellOccupancyReport(batch, idCol, vecCol, centroids,
        assigned, nProbe, maxCell, alarmBp)
  }

  /** Build the index over `corpus` and write it. Consumers LOAD (the
    * TextIndexArtifacts round-trip rule).
    *
    * Sizing rule for `maxCell` (the degenerate-crowd guard, which
    * doubles as the occupancy alarm's yardstick): it must sit WELL
    * ABOVE the expected mean occupancy n/nCells at build time — a
    * 4–8× multiple — or ordinary cells read as capped and the index
    * silently stops matching ordinary content. At the √n-cells
    * sizing the mean IS √n, which grows with the corpus: an
    * absolute guard that was generous at build time is outgrown by
    * accumulated history, which is exactly the drift
    * [[SemanticIndex.cellOccupancyReport]] measures and [[recell]]
    * repairs (re-celling raises nCells AND re-derives the guard to
    * ≥ 4× the new mean, resetting the alarm). `maxCell = 0` applies
    * the rule FOR you: ⌈4·n/nCells⌉, floored at 64 (tiny corpora
    * must not degenerate to single-digit guards). */
  def build(path: String, corpus: DataFrame, idCol: String, vecCol: String,
            nCells: Int, threshold: Double, nProbe: Int = 2,
            maxCell: Int = 4096): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (centroids, assigned) = SemanticIndex.buildIndex(corpus, idCol,
      vecCol, nCells)
    writeOnceRelation(path, "centroids", centroids)
    writeRelations(path, Seq(assigned), "overwrite")
    // auto guard reads the row count off the just-written footers
    // (metadata-cheap) — deriving it BEFORE the write would re-run
    // the assignment pass
    val mc =
      if (maxCell > 0) maxCell
      else math.max(64, math.ceil(4.0 *
        spark.read.parquet(s"$path/assigned").count() / nCells).toInt)
    writeOnceRelation(path, "params", Seq((threshold, nProbe, mc, nCells))
      .toDF("threshold", "n_probe", "max_cell", "n_cells"))
  }

  /** RE-CELL rebuild — the occupancy alarm's consequence
    * ([[SemanticIndex.cellOccupancyReport]]): the retained vectors
    * (tombstones applied) get a FRESH portable centroid draw at
    * `nCells` (0 = auto: ⌈√n⌉, the sizing that keeps per-batch judge
    * work flat as history grows — the √k-cells ladder trade) and are
    * re-assigned. Written as a complete sibling version for the
    * pointer swap ([[graft.pipelines.IngestSinks
    * .recellSemanticIndex]]); threshold/nProbe/maxCell travel
    * unchanged. This is a VERDICT-CHANGING rebuild in one narrow
    * sense — cell boundaries move, so boundary pairs nProbe probing
    * recovered under the old draw may differ under the new — which
    * is exactly why it runs as an explicit versioned swap at
    * compaction cadence, never silently inside a batch. */
  def recell(spark: SparkSession, fromPath: String, toPath: String,
             nCells: Int = 0): Unit = {
    val p = params(spark, fromPath)
    val vecs = live(spark, fromPath)("assigned").select(col("id"), col("vec"))
    val n = vecs.count()
    val k =
      if (nCells > 0) nCells
      else math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
    // the GUARD is re-derived with the cells ([[build]]'s sizing
    // rule: a 4× multiple of the post-recell mean occupancy, never
    // below the stored absolute): a rebuild that kept an outgrown
    // guard would stay half-capped — the r17 ladder measured
    // √-resized cells under a frozen guard still reading
    // capped_bp ≈ 5300 — and the alarm that triggered the rebuild
    // would never reset
    val newMax = math.max(p.getAs[Int]("max_cell"),
      math.ceil(4.0 * n / k).toInt)
    build(toPath, vecs, "id", "vec", k, p.getAs[Double]("threshold"),
      p.getAs[Int]("n_probe"), newMax)
  }

  protected def parts(delta: DataFrame): Seq[DataFrame] = Seq(delta)

  protected def open(r: Row, rel: String => DataFrame): PersistedSemanticIndex =
    PersistedSemanticIndex(rel("centroids"), rel("assigned"),
      r.getAs[Double]("threshold"), r.getAs[Int]("n_probe"),
      r.getAs[Int]("max_cell"))
}
