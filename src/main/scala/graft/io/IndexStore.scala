package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The on-disk layout every persisted dedup index shares — the text
  * ([[TextIndexArtifacts]]), media ([[MediaIndexArtifacts]]) and
  * semantic ([[SemanticIndexArtifacts]]) families each extend this
  * store with their layout as constructor constants and keep only
  * what really differs: the loaded case class with its judge
  * parameters, `build`, and how the params row decodes. The judge's
  * parameters must match the build's EXACTLY or verdicts silently
  * change, so they travel with the relations as a one-row parquet
  * sidecar and a loaded index can only be judged with them.
  *
  * Layout under an index path:
  *  - `<path>/<rel>` for each APPENDED relation ([[IndexStore.Relation]]
  *    — ingest deltas append here, sorted within partitions by the
  *    relation's cluster keys so parquet row-group min/max stats
  *    support runtime-filter skipping at scale; correctness never
  *    depends on the layout);
  *  - `<path>/<name>` for each WRITE-ONCE relation (`params`, one row;
  *    the semantic `centroids`), written by `build`, copied by
  *    [[compact]];
  *  - optionally `<path>/tombstones` (`idCol` — RETRACTED ids, see
  *    [[retract]]).
  *
  * Ids are LONG on disk: the judges accept int OR long batches, and
  * without one stable on-disk type an int-id build followed by a
  * long-id append (or vice versa) leaves mixed INT32/INT64 files in
  * one directory — parquet schema inference then reads ONE footer and
  * mis-reads or fails on the others. Indexes written before that rule
  * still carry INT32 footers; every read goes through the legacy
  * bridge ([[readIdNormalized]]) and the next [[compact]] rewrites the
  * index at LONG throughout, retiring the bridge for that index.
  *
  * Retraction: a 100 TB pipeline eventually must REMOVE entries from
  * the index (takedowns, license changes, quality recalls), and an
  * append-only index keeps a removed keeper winning elections forever
  * — smallest-id precedence makes stale early ids especially sticky.
  * [[retract]] appends ids to an id-sized tombstone relation; [[load]]
  * serves the appended relations with tombstoned rows FILTERED (a
  * broadcast anti-join — tombstones broadcast, history still streams
  * map-side, so the judges' no-history-shuffle contract is
  * untouched); [[compact]] applies them physically and the compacted
  * copy carries no tombstone relation. Semantics after retracting id
  * X: X stops matching (a former dup of X now survives, or re-elects
  * the next-smallest matching keeper), and a RE-CRAWL of X's content
  * re-enters the corpus and the index under its new id — retraction
  * removes the INDEX ENTRY, not the content's right to exist; policy
  * blocking is a different gate (URL blocklists, hash denylists).
  *
  * `D` is the family's ingest delta (one frame per appended relation,
  * see [[parts]]), `Index` its loaded index. */
abstract class IndexStore[D](idCol: String,
    appended: Seq[IndexStore.Relation], writeOnce: Seq[String]) {

  type Index

  /** The delta's frames, one per appended relation in layout order. */
  protected def parts(delta: D): Seq[DataFrame]

  /** The loaded index from its params row and its relations by name
    * (appended ones tombstone-filtered and id-normalized). */
  protected def open(params: Row, rel: String => DataFrame): Index

  /** Write appended relations (`rels` in layout order): ids as LONG,
    * sorted within partitions by the relation's cluster keys. */
  protected def writeRelations(path: String, rels: Seq[DataFrame],
                               mode: String): Unit =
    appended.zip(rels).foreach { case (r, df) =>
      val long = df.withColumn(idCol, col(idCol).cast("long"))
      (if (r.sorted) long.sortWithinPartitions(r.keys.map(col): _*) else long)
        .write.mode(mode).parquet(s"$path/${r.name}")
    }

  /** Write a write-once relation (one file). */
  protected def writeOnceRelation(path: String, name: String,
                                  df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$path/$name")

  /** Append an ingest delta (the family's `ingestStep` second result —
    * replay-idempotent upstream, plain parquet appends here). */
  def append(path: String, delta: D): Unit =
    writeRelations(path, parts(delta), "append")

  /** RETRACT ids: appends the first column of `ids`, cast to long, to
    * the tombstone relation. O(|ids|) — no index rewrite; [[load]]
    * filters, [[compact]] applies physically. Retracting an id not in
    * the index is a harmless no-op row. */
  def retract(path: String, ids: DataFrame): Unit =
    ids.select(col(ids.columns.head).cast("long").as(idCol)).distinct()
      .coalesce(1).write.mode("append").parquet(s"$path/tombstones")

  /** The index at `path`. The relations are plain parquet reads — no
    * caching is imposed here (the judges stream them map-side). */
  def load(spark: SparkSession, path: String): Index = {
    val p = params(spark, path)
    val rel = live(spark, path)
    open(p, name =>
      if (writeOnce.contains(name)) spark.read.parquet(s"$path/$name")
      else rel(name))
  }

  /** COMPACTION: many ingest appends leave the appended relations as
    * piles of small files with interleaved key ranges — rewrite each
    * (one pass: index rows are per-id unique by construction, so
    * beyond APPLYING TOMBSTONES PHYSICALLY — the anti-join [[load]]
    * was paying per read — compaction is layout-only) into `files`
    * partitions clustered by its keys, and copy the write-once
    * relations. Write-to-side + swap-by-rename is the caller's
    * transactional discipline ([[graft.pipelines.IngestSinks]]'
    * versioned root); this produces the compacted copy at `toPath`. */
  def compact(spark: SparkSession, fromPath: String, toPath: String,
              files: Int = 32): Unit = {
    val rel = live(spark, fromPath)
    writeRelations(toPath, appended.map(r =>
      rel(r.name).repartition(files, r.keys.map(col): _*)), "overwrite")
    writeOnce.foreach(n =>
      writeOnceRelation(toPath, n, spark.read.parquet(s"$fromPath/$n")))
  }

  /** The one params row. */
  protected def params(spark: SparkSession, path: String): Row = {
    val p = spark.read.parquet(s"$path/params").collect()
    require(p.length == 1, s"expected one params row at $path, got ${p.length}")
    p.head
  }

  /** Appended relations by name, id-normalized and anti-joined
    * against the BROADCAST tombstone ids — tombstones are id-sized
    * (takedown lists, not corpora), so the index keeps streaming
    * map-side through the filter. */
  protected def live(spark: SparkSession, path: String): String => DataFrame = {
    val t = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val tombs =
      if (!t.getFileSystem(spark.sessionState.newHadoopConf()).exists(t)) None
      else Some(broadcast(spark.read.parquet(t.toString)
        .select(col(idCol)).distinct()))
    name => {
      val rel = readIdNormalized(spark, s"$path/$name")
      tombs.fold(rel)(rel.join(_, Seq(idCol), "left_anti"))
    }
  }

  /** Read a relation directory with `idCol` as LONG — the legacy-footer
    * bridge: an index BUILT before the LONG rule has INT32 footers, and
    * an upgraded append beside them leaves a MIXED directory. An
    * explicit schema with the id field widened reads BOTH generations
    * (parquet int32 → int64 widening, supported by the vectorized
    * reader), so such indexes keep loading, appending and compacting
    * without a manual migration. */
  private def readIdNormalized(spark: SparkSession, dir: String): DataFrame = {
    val inferred = spark.read.parquet(dir)
    if (inferred.schema(idCol).dataType == LongType) inferred
    else spark.read.schema(StructType(inferred.schema.map(f =>
        if (f.name == idCol) f.copy(dataType = LongType) else f)))
      .parquet(dir)
  }
}

object IndexStore {

  /** An appended relation and its cluster keys: the sort within
    * written partitions (when `sorted`) and the compaction
    * repartitioning. */
  final case class Relation(name: String, keys: Seq[String],
                            sorted: Boolean = true)
}
