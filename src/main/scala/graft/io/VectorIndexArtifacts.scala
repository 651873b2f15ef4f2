package graft.io

import graft.operators.{KMeans, ProductQuant, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-index artifact persistence — [[TokenizerArtifacts]]' twin
  * for the ANN stack: a production vector index is built ONCE
  * (rotation, coarse quantizer and codebooks trained offline) and then
  * SERVES every later query batch frozen; [[save]] snapshots a trained
  * [[ProductQuant.Index]] to parquet and [[load]] hands back exactly
  * that index, so index build and index serve are separate jobs with a
  * durable artifact between them — the FAISS write_index/read_index
  * lifecycle.
  *
  * Layout: one artifact directory with optional stage parts —
  *   `rotation`          (i, rvec array<long> micro), i = 1..dim
  *   `cells/centroids`   (cid, cvec) — a flat coarse quantizer, or
  *   `cells/super_model/centroids` (cid, cvec), `cells/sub`
  *                       (super, sub, cvec), `cells/meta` (n_sub) —
  *                       a two-level one
  *   `pq/slices`         (subspace, start, len)
  *   `pq/books`          (subspace, cid, cvec)
  * [[load]] also reads the two older layouts: codebooks at the
  * artifact root (`slices`, `books`), and the composed rotated index's
  * cells and codebooks under `inner/`.
  *
  * All parts are MODEL-sized (k·dim longs, dim² for the rotation),
  * coalesced to one file; loads are bounded driver collects, except
  * the two-level sub relation, which stays a relation. Loads validate
  * what they read (contiguous ids, square rotation, a codebook per
  * subspace) and fail loudly instead of serving a wrong index.
  * Byte-identical search results from saved vs in-memory indexes are
  * spec-proven. */
object VectorIndexArtifacts {

  /** Snapshot `index` to `path` (each present stage as its part). */
  def save(spark: SparkSession, path: String, index: ProductQuant.Index): Unit = {
    import spark.implicits._
    def one(part: String, df: DataFrame): Unit =
      ParquetSink(s"$path/$part", coalesceTo = Some(1)).write(df)
    def centroids(part: String, model: KMeans.Model): Unit =
      one(s"$part/centroids", model.toDF("cid", "cvec"))
    index.rotation.foreach(r => one("rotation",
      r.zipWithIndex.map { case (row, i) => (i + 1, row) }.toDF("i", "rvec")))
    index.cells.foreach {
      case Left(flat) => centroids("cells", flat)
      case Right(tl) =>
        centroids("cells/super_model", tl.superModel)
        one("cells/sub", tl.sub)
        one("cells/meta", Seq(tl.nSub).toDF("n_sub"))
    }
    one("pq/slices", index.pq.slices.zipWithIndex
      .map { case ((start, len), i) => (i, start, len) }
      .toDF("subspace", "start", "len"))
    one("pq/books", index.pq.books.zipWithIndex.flatMap { case (book, i) =>
      book.map { case (cid, v) => (i, cid, v) }
    }.toDF("subspace", "cid", "cvec"))
  }

  /** Read the index saved at `path` (any layout in the class doc). */
  def load(spark: SparkSession, path: String): ProductQuant.Index = {
    def exists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sessionState.newHadoopConf()).exists(hp)
    }
    // the vectors of a (key, vector) part in key order; keys run 1..n
    def keyed(p: String, what: String): Seq[Seq[Long]] = {
      val rows = spark.read.parquet(p).collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
      require(rows.map(_._1) == (1 to rows.size),
        s"loaded $what must be contiguous 1..${rows.size}, got ${rows.map(_._1)}")
      rows.map(_._2)
    }
    def centroids(part: String): KMeans.Model =
      keyed(s"$part/centroids", "centroid cids").zipWithIndex
        .map { case (v, i) => (i + 1, v) }
    val root = if (exists(s"$path/inner")) s"$path/inner" else path
    val rotation = Option.when(exists(s"$path/rotation")) {
      val rows = keyed(s"$path/rotation", "rotation rows")
      require(rows.forall(_.size == rows.size),
        s"loaded rotation must be square ${rows.size}×${rows.size}")
      rows
    }
    val cells: Option[ProductQuant.Cells] =
      if (exists(s"$root/cells/super_model")) {
        val nSub = spark.read.parquet(s"$root/cells/meta")
          .collect().head.getInt(0)
        require(nSub >= 1, s"loaded n_sub must be >= 1, got $nSub")
        Some(Right(Similarity.TwoLevelModel(
          centroids(s"$root/cells/super_model"),
          spark.read.parquet(s"$root/cells/sub")
            .select(col("super"), col("sub"), col("cvec")),
          nSub)))
      } else Option.when(exists(s"$root/cells"))(Left(centroids(s"$root/cells")))
    val pqDir = if (exists(s"$root/slices")) root else s"$root/pq"
    val slices = spark.read.parquet(s"$pqDir/slices")
      .orderBy(col("subspace"))
      .collect().map(r => (r.getInt(0), (r.getInt(1), r.getInt(2)))).toSeq
    require(slices.map(_._1) == slices.indices,
      "loaded PQ slices must cover subspaces 0..m-1 exactly")
    val books = spark.read.parquet(s"$pqDir/books")
      .orderBy(col("subspace"), col("cid"))
      .collect()
      .map(r => (r.getInt(0), (r.getInt(1), r.getSeq[Long](2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    require(books.keySet == slices.indices.toSet,
      "every PQ subspace needs a codebook")
    ProductQuant.Index(rotation, cells,
      ProductQuant.Model(slices.map(_._2), slices.indices.map(books)))
  }
}
