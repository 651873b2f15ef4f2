package graft.io

import graft.SparkSpec
import graft.operators.{KMeans, ProductQuant, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[VectorIndexArtifacts]] — a saved index must serve byte-identical
  * search results: the whole point of persisting is that the serve
  * job ranks exactly what the build job would have. */
class VectorIndexArtifactsSpec extends SparkSpec {

  private lazy val emb = graft.Tables.embeddings(spark, sfDir)
  private lazy val queries = emb.filter(col("vec_id") <= 10)

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def train(nCells: Int = 0, superProbe: Int = 2,
                    opqIters: Int = 0): ProductQuant.Index =
    ProductQuant.train(emb, "vec_id", "embedding", dim = 64, m = 2, k = 4,
      iters = 2, nCells = nCells, superProbe = superProbe,
      opqIters = opqIters)

  /** Codebooks for the cases that round-trip one stage. */
  private lazy val pq = train().pq

  private def saved(index: ProductQuant.Index): String = {
    val dir = tempDir("pq").toString + "/idx"
    VectorIndexArtifacts.save(spark, dir, index)
    dir
  }

  private def encode(index: ProductQuant.Index): DataFrame =
    ProductQuant.encode(index, emb, "vec_id", "embedding", 64)

  /** Save → load must return every stage as trained (the two-level sub
    * relation row for row), and the loaded index must serve
    * byte-identically: over a stored parquet code relation vs the
    * in-memory encode, with search-time cells when it has none of its
    * own, and with the drift alarm calibrated when it has. */
  private def roundTrip(index: ProductQuant.Index): Unit = {
    val loaded = VectorIndexArtifacts.load(spark, saved(index))
    loaded.rotation shouldBe index.rotation
    loaded.pq shouldBe index.pq
    (loaded.cells, index.cells) match {
      case (Some(Right(l)), Some(Right(t))) =>
        l.superModel shouldBe t.superModel
        l.nSub shouldBe t.nSub
        rowsOf(l.sub) shouldBe rowsOf(t.sub)
      case (l, t) => l shouldBe t
    }
    def serve(i: ProductQuant.Index, codes: DataFrame,
              cells: Option[DataFrame] = None) =
      rowsOf(ProductQuant.search(i, codes, queries, "vec_id", "embedding",
        64, k = 3, cells = cells))
    val stored = tempDir("pqcodes").toString + "/codes"
    ParquetSink(stored).write(encode(loaded))
    serve(loaded, spark.read.parquet(stored)) shouldBe serve(index, encode(index))
    if (index.cells.isEmpty) {
      val cells = Some(Similarity.ivfCellsTwoLevel(emb, "vec_id",
        "embedding", nCells = 4).localCheckpoint())
      serve(loaded, encode(loaded), cells) shouldBe
        serve(index, encode(index), cells)
    } else {
      val rep = ProductQuant.driftReport(loaded, emb, emb, "vec_id",
        "embedding", 64).collect().head
      rep.getAs[Long]("drift_bp") shouldBe 10000L
      rep.getAs[Boolean]("retrain") shouldBe false
    }
  }

  Seq(
    "PQ model round-trips exactly; ADC and IVF-PQ search are byte-identical" ->
      Seq(() => train()),
    "residual and residual∘two-level indexes round-trip: frozen search is byte-identical" ->
      Seq(() => train(nCells = 8, superProbe = 0), () => train(nCells = 4)),
    "OPQ and OPQ∘residual∘two-level indexes round-trip: frozen rotated search is byte-identical" ->
      Seq(() => train(opqIters = 2), () => train(nCells = 4, opqIters = 2))
  ).foreach { case (name, forms) =>
    test(name) { forms.foreach(form => roundTrip(form())) }
  }

  test("k-means model round-trips exactly, cid order preserved") {
    val model = KMeans.fit(emb, "vec_id", "embedding", k = 5, iters = 2)
    VectorIndexArtifacts.load(spark,
      saved(ProductQuant.Index(None, Some(Left(model)), pq)))
      .cells shouldBe Some(Left(model))
  }

  test("two-level model round-trips: saved index assigns byte-identically") {
    val model = Similarity.trainTwoLevelCells(emb, "vec_id", "embedding",
      nCells = 9, iters = 2)
    val loaded = VectorIndexArtifacts.load(spark,
        saved(ProductQuant.Index(None, Some(Right(model)), pq)))
      .cells.get.toOption.get
    loaded.superModel shouldBe model.superModel
    loaded.nSub shouldBe model.nSub
    rowsOf(loaded.sub) shouldBe rowsOf(model.sub)
    rowsOf(Similarity.assignTwoLevelCells(emb, "vec_id", "embedding",
      loaded, nProbe = 2, superProbe = 2)) shouldBe
      rowsOf(Similarity.assignTwoLevelCells(emb, "vec_id", "embedding",
        model, nProbe = 2, superProbe = 2))
    // and the train∘assign split IS ivfCellsTwoLevel (the q168 path)
    rowsOf(Similarity.assignTwoLevelCells(emb, "vec_id", "embedding",
      model, nProbe = 2, superProbe = 2)) shouldBe
      rowsOf(Similarity.ivfCellsTwoLevel(emb, "vec_id", "embedding",
        nCells = 9, nProbe = 2, superProbe = 2, iters = 2))
  }

  test("older layouts load: codebooks at the artifact root, composed index stages under inner/") {
    import java.nio.file.{Files, Paths}
    val flat = ProductQuant.Index(None, None, pq)
    val d1 = saved(flat)
    Files.move(Paths.get(s"$d1/pq/slices"), Paths.get(s"$d1/slices"))
    Files.move(Paths.get(s"$d1/pq/books"), Paths.get(s"$d1/books"))
    VectorIndexArtifacts.load(spark, d1) shouldBe flat
    val composed = ProductQuant.Index(
      Some(ProductQuant.identityRotation(64)),
      Some(Left(KMeans.fit(emb, "vec_id", "embedding", k = 3, iters = 1))),
      pq)
    val d2 = saved(composed)
    Files.createDirectories(Paths.get(s"$d2/inner"))
    Files.move(Paths.get(s"$d2/cells"), Paths.get(s"$d2/inner/cells"))
    Files.move(Paths.get(s"$d2/pq"), Paths.get(s"$d2/inner/pq"))
    VectorIndexArtifacts.load(spark, d2) shouldBe composed
  }

  /** A copy of the saved index at `dir` whose `part` is `replacement`. */
  private def corrupted(dir: String, part: String,
                        replacement: DataFrame): String = {
    val moved = tempDir("pqbad").toString + "/idx"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir),
      new java.io.File(moved))
    ParquetSink(s"$moved/$part", coalesceTo = Some(1)).write(replacement)
    moved
  }

  test("corrupted rotation artifacts fail loudly: missing row and ragged row both reject") {
    val rot = ProductQuant.identityRotation(4)
    val dir = saved(ProductQuant.Index(Some(rot), None, pq))
    VectorIndexArtifacts.load(spark, dir).rotation shouldBe Some(rot)
    // drop row i=2: contiguity check must reject
    val pruned = spark.read.parquet(s"$dir/rotation").filter(col("i") =!= 2)
    (the[IllegalArgumentException] thrownBy VectorIndexArtifacts.load(spark,
      corrupted(dir, "rotation", pruned))).getMessage should include(
      "rotation rows must be contiguous")
    // truncate row 2's vector: squareness check must reject
    val ragged = spark.read.parquet(s"$dir/rotation")
      .withColumn("rvec", when(col("i") === 2,
        slice(col("rvec"), 1, 3)).otherwise(col("rvec")))
    (the[IllegalArgumentException] thrownBy VectorIndexArtifacts.load(spark,
      corrupted(dir, "rotation", ragged))).getMessage should include(
      "rotation must be square")
  }

  test("corrupted artifacts fail loudly instead of serving a wrong index") {
    val model = KMeans.fit(emb, "vec_id", "embedding", k = 3, iters = 1)
    val dir = saved(ProductQuant.Index(None, Some(Left(model)), pq))
    // drop a centroid row: contiguity check must reject the load
    val pruned = spark.read.parquet(s"$dir/cells/centroids")
      .filter(col("cid") =!= 2)
    (the[IllegalArgumentException] thrownBy VectorIndexArtifacts.load(spark,
      corrupted(dir, "cells/centroids", pruned))).getMessage should include(
      "centroid cids must be contiguous")
  }
}
