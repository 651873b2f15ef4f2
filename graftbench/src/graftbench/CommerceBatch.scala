package graftbench

import scala.util.Random

import graft.SparkEntry
import graft.io.{EventLogSplit, UsersItemsPipeline}
import graft.queries.MatrixPipelines.EventTypes
import graft.streaming.StreamOps
import org.apache.spark.sql.functions.{col, lit, timestamp_micros}

/** `commerce_batch`: the reference's own modules over a generated
  * e-commerce event log. An operation is one full pass: filter
  * (`EventLogSplit.run`), agg (`StreamOps.tumblingCommerceAgg`, written
  * out), users_items (`UsersItemsPipeline.run`: build over the first
  * day, then update with the second), features (`q24_hour_fractions`)
  * and data_mart (`q25_datamart`, written out). */
final class CommerceBatch(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  private val NEvents = 20000
  private val Users = 1000
  private val FilterTypes = Seq("view", "purchase")
  // one round outlasts the run length, so every run times the same
  // three passes
  val opsPerRound: Int = 3

  private val root = s"$scratch/commerce"
  private val sf = s"$root/sf"
  private val midMicros = Gen.EventStartMicros + 24L * 3600 * 1000000
  private var expect: Checks.CommerceExpect = _
  private var writtenMb = Vector.empty[Double]

  def setup(): Unit = {
    val rnd = new Random(seed)
    val ev = Gen.events(rnd, NEvents, Users)
    ev.map(e => (e.id, e.tsMicros, e.user, e.kind, e.cents / 100.0, "{}"))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .repartition(cores).write.parquet(s"$sf/events.parquet")
    (1 to Users).map(u => (u.toLong, f"Customer#$u%09d", rnd.nextInt(25),
        rnd.nextInt(11000) - 1000.0, Seq("AUTO", "BUILDING", "MACHINERY")(rnd.nextInt(3))))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.parquet(s"$sf/customer.parquet")
    (0 until 25).map(n => (n, s"NATION$n", n % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.parquet(s"$sf/nation.parquet")
    (0 until 5).map(r => (r, s"REGION$r")).toDF("r_regionkey", "r_name")
      .coalesce(1).write.parquet(s"$sf/region.parquet")
    phase("inputs generated")
    val hour = 3600L * 1000000
    expect = Checks.CommerceExpect(
      ev.groupBy(_.kind).map { case (k, es) => k -> es.size.toLong },
      ev.groupBy(e => e.tsMicros / hour * hour / 1000).map { case (h, es) =>
        val p = es.filter(_.kind == "purchase")
        h -> ((p.map(_.cents).sum, p.size.toLong))
      },
      ev.groupBy(_.user).map { case (u, es) =>
        u -> es.groupBy(_.kind).map { case (k, v) => k -> v.size.toLong } })
    // warm-up: two passes, checked, untimed; the first timed pass
    // after a single one still runs well above the steady pass time
    (1 to 2).foreach { _ =>
      val warm = pass()
      require(warm._4.isEmpty, s"warm-up pass: ${warm._4.mkString("; ")}")
    }
    phase("warmed up")
  }

  /** One pass; returns its op, CPU seconds, written MB and check
    * failures. */
  private def pass(): (Op, Double, Double, Seq[String]) = {
    val out = s"$root/out"
    Files.delete(out)
    val ms = System.currentTimeMillis()
    val cpu0 = Cpu.seconds; val t0 = System.nanoTime()
    trace.span("io.filter")(EventLogSplit.run(spark, sf, s"$out/filter", FilterTypes))
    trace.span("streaming.agg") {
      StreamOps.tumblingCommerceAgg(graft.Tables.events(spark, sf))
        .write.parquet(s"$out/agg")
    }
    spark.conf.set(s"${UsersItemsPipeline.Prefix}.update_mode", "false")
    trace.span("io.users_items_build") {
      UsersItemsPipeline.run(spark, sf, s"$out/users_items",
        _.filter(col("ts") < timestamp_micros(lit(midMicros))))
    }
    spark.conf.set(s"${UsersItemsPipeline.Prefix}.update_mode", "true")
    val snapshot = trace.span("io.users_items_update") {
      UsersItemsPipeline.run(spark, sf, s"$out/users_items",
        _.filter(col("ts") >= timestamp_micros(lit(midMicros))))
    }
    val features = trace.span("queries.features") {
      SparkEntry.queries("q24_hour_fractions")(spark, sf)
        .select("user_id", "n_events").as[(Long, Long)].collect().toMap
    }
    trace.span("queries.datamart") {
      SparkEntry.queries("q25_datamart")(spark, sf).write.parquet(s"$out/datamart")
    }
    val s = (System.nanoTime() - t0) / 1e9
    val op = Op(ms, System.currentTimeMillis(), s)
    val cpu = Cpu.seconds - cpu0
    val mb = Files.sizeMb(out)
    // output checks, outside the timed region
    val written = FilterTypes.map(t => t -> Files.lineCount(s"$out/filter/$t")).toMap
    val agg = spark.read.parquet(s"$out/agg")
      .select(col("window_start").cast("long") * 1000, col("revenue"), col("purchases"))
      .as[(Long, Double, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val matrix = snapshot.select((col("user_id") +: EventTypes.map(col)): _*)
      .collect().map(r => r.getLong(0) -> (1 to EventTypes.size).map(r.getLong)).toMap
    val mart = spark.read.parquet(s"$out/datamart")
      .select((col("c_custkey") +: EventTypes.map(t => col(s"ev_$t"))): _*)
      .collect().map(r => r.getLong(0) -> (1 to EventTypes.size).map(r.getLong)).toMap
    val failures = Checks.filter(expect, FilterTypes, written) ++
      Checks.agg(expect, agg) ++ Checks.matrix(expect, EventTypes, matrix) ++
      Checks.features(expect, features) ++ Checks.datamart(expect, mart)
    (op, cpu, mb, failures)
  }

  def round(r: Int): RoundResult = {
    val passes = (1 to opsPerRound).map(_ => pass())
    writtenMb ++= passes.map(_._3)
    RoundResult(passes.map(_._1), passes.map(_._1.seconds).sum,
      passes.map(_._2).sum, opsPerRound.toLong * NEvents, passes.flatMap(_._4))
  }

  def layers(ops: Seq[Op]): Map[String, Double] = Map(
    "io.filter_s" -> trace.perOp("io.filter", ops),
    "streaming.agg_s" -> trace.perOp("streaming.agg", ops),
    "io.users_items_build_s" -> trace.perOp("io.users_items_build", ops),
    "io.users_items_update_s" -> trace.perOp("io.users_items_update", ops),
    "queries.features_s" -> trace.perOp("queries.features", ops),
    "queries.datamart_s" -> trace.perOp("queries.datamart", ops),
    "io.written_mb" -> Stats.median(writtenMb))
}
