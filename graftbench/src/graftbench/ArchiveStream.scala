package graftbench

import java.util.concurrent.ConcurrentHashMap

import graft.multimodal.Multimodal
import graft.pipelines.{IngestSinks, StreamingIngestPipeline}
import org.apache.spark.sql.streaming.Trigger

/** `archive_stream`: generated .warc.gz archives drained as a
  * binaryFile stream through `StreamingIngestPipeline.runArchiveIngest`
  * into `IngestSinks.archiveSink`; the sink appends to both indexes the
  * next batch would read.
  *
  * A round is one AvailableNow stream over the same archives, started
  * from a fresh copy of the seed indexes, so every round does the same
  * work. An operation is one micro-batch, timed from its trigger start
  * to the sink's return. The four archives form one micro-batch of
  * 312 records over seed indexes of 625 docs and 625 images: the
  * repo's recorded weak-scaling fixture (2 000 pages + 500 images per
  * batch over 5 000-doc indexes on 32 cores, SCALE.md round 16) scaled
  * to 4 cores. A micro-batch is about 160 Spark jobs, so a run affords
  * one. There is no separate warm-up: building the seed indexes runs
  * the same text and media index operators first. */
final class ArchiveStream(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  private val NArchives = 4
  private val PerTrigger = 4
  private val SeedDocs = 625
  private val SeedMedia = 625
  val opsPerRound: Int = NArchives / PerTrigger

  private val root = s"$scratch/archive"
  private val drop = s"$root/drop"
  private val template = s"$root/template"
  private var plan: Gen.Archives = _
  private var storeMb = Vector.empty[Double]
  private lazy val blocklist = Seq(Gen.BlockedDomain).toDF("domain")

  def setup(): Unit = {
    plan = Gen.archives(seed, NArchives, SeedDocs, SeedMedia)
    // the file source orders by modification time: pin it to the
    // generation order
    val t0 = System.currentTimeMillis() - 3600000L
    plan.archives.zipWithIndex.foreach { case (b, i) =>
      val p = f"$drop/a$i%03d.warc.gz"
      Files.write(p, b); new java.io.File(p).setLastModified(t0 + i * 1000L)
    }
    phase("inputs generated")
    IngestSinks.initTextIndex(spark, s"$template/tidx",
      plan.seedDocs.toDF("doc_id", "text"), "doc_id", "text")
    IngestSinks.initMediaIndex(spark, s"$template/midx",
      plan.seedMedia.zipWithIndex.map { case (b, i) =>
        Multimodal.Media(1000000L + i, "image", b) }.toDS())
    spark.catalog.clearCache()
    phase("seed indexes built")
  }

  /** Runs one stream to its end; returns its micro-batch operations. */
  private def stream(dir: String): Seq[Op] = {
    Files.copyTree(template, dir)
    val sinkReturn = new ConcurrentHashMap[Long, Long]()
    val tIdx = IngestSinks.textIndex(spark, s"$dir/tidx")
    val mIdx = IngestSinks.mediaIndex(spark, s"$dir/midx")
    val sink = IngestSinks.archiveSink(spark, s"$dir/dcorpus", s"$dir/mcorpus",
      s"$dir/tidx", s"$dir/midx")
    // the pipeline step runs from the media index load to the sink call
    @volatile var stepStart = (0L, 0L)
    val q = StreamingIngestPipeline.runArchiveIngest(
        spark.readStream.format("binaryFile").schema(IngestSinks.BinaryFileSchema)
          .option("maxFilesPerTrigger", PerTrigger.toString).load(drop),
        () => trace.span("io.index_load")(tIdx()),
        () => {
          val m = trace.span("io.index_load")(mIdx())
          stepStart = (System.currentTimeMillis(), System.nanoTime()); m
        },
        urlBlocklist = Some(blocklist), urlDedup = true) { b =>
        trace.record("pipelines.step", stepStart._1,
          (System.nanoTime() - stepStart._2) / 1e9)
        trace.span("io.sink")(sink(b))
        sinkReturn.put(b.batchId, System.currentTimeMillis()); ()
      }
      .option("checkpointLocation", s"$dir/checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    q.recentProgress.toSeq.filter(p => sinkReturn.containsKey(p.batchId)).map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      val e = sinkReturn.get(p.batchId)
      Op(s, e, (e - s) / 1000.0)
    }
  }

  def round(r: Int): RoundResult = {
    val dir = s"$root/round-$r"
    val cpu0 = Cpu.seconds; val t0 = System.nanoTime()
    val ops = stream(dir)
    val active = (System.nanoTime() - t0) / 1e9; val cpu = Cpu.seconds - cpu0
    require(ops.size == opsPerRound, s"${ops.size} micro-batches, expected $opsPerRound")
    val docs = spark.read.parquet(s"$dir/dcorpus").select("url", "text")
      .as[(String, String)].collect().toSeq
    val media = spark.read.parquet(s"$dir/mcorpus").select("url", "payload")
      .as[(String, Array[Byte])].collect().toSeq
    val tCur = IngestSinks.currentIndexPath(spark, s"$dir/tidx")
    val mCur = IngestSinks.currentIndexPath(spark, s"$dir/midx")
    val sets = spark.read.parquet(s"$tCur/sets").count()
    val mRows = spark.read.parquet(s"$mCur/index").count()
    val failures = Checks.archive(plan.expect, docs, media, sets, mRows)
    storeMb :+= Files.sizeMb(s"$dir/dcorpus", s"$dir/mcorpus", s"$dir/tidx", s"$dir/midx")
    Files.delete(dir)
    RoundResult(ops, active, cpu, plan.records, failures)
  }

  def layers(ops: Seq[Op]): Map[String, Double] = Map(
    "streaming.trigger_overhead_s" -> trace.triggerOverheadSeconds(ops),
    "io.index_load_s" -> trace.perOp("io.index_load", ops),
    "pipelines.step_s" -> trace.perOp("pipelines.step", ops),
    "io.sink_s" -> trace.perOp("io.sink", ops),
    "io.store_mb" -> Stats.median(storeMb))
}
