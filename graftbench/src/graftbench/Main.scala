package graftbench

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What every workload is handed: the session, the trace, its private
  * scratch directory and its seed. */
final case class Ctx(spark: SparkSession, trace: Trace, scratch: String,
                     seed: Long, cores: Int, jvmStartMs: Long) {
  /** Logs a set-up milestone, in seconds since the JVM started. */
  def phase(name: String): Unit = System.err.println(
    f"GRAFTBENCH_INFO $name at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
}

/** The outcome of one round of operations. `activeSeconds` and
  * `cpuSeconds` cover only the operations, never the output checks. */
final case class RoundResult(ops: Seq[Op], activeSeconds: Double,
                             cpuSeconds: Double, units: Long,
                             checkFailures: Seq[String])

trait Workload {
  /** Operations in one round; every round attempts exactly these. */
  def opsPerRound: Int
  /** Inputs, indexes or models, and any warm-up. */
  def setup(): Unit
  def round(r: Int): RoundResult
  /** This workload's layer metrics beyond the engine's. */
  def layers(ops: Seq[Op]): Map[String, Double]
}

object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds: Double = os.getProcessCpuTime / 1e9
}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --scratch <dir> --cores <n>`. Prints one line
  * `GRAFTBENCH_RESULT <json>` on stdout; everything else goes to
  * stderr. The metrics are a plain name-to-value map: their units, and
  * which of them a result reports, come from BENCHMARK.json, which
  * run.py reads. */
object Main {
  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val code = try run(opt) catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    System.out.flush(); System.err.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    Runtime.getRuntime.halt(code)
  }

  private def run(opt: Map[String, String]): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val spark = graft.GraftSession.build(s"local[$cores]", cores, "graftbench")
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(traced)
    trace.install(spark)
    val ctx = Ctx(spark, trace, opt("scratch"), seed, cores, jvmStartMs)
    ctx.phase("session started")
    val w: Workload = workload match {
      case "archive_stream" => new ArchiveStream(ctx)
      case "commerce_batch" => new CommerceBatch(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var attempted = 0; var failed = 0
    val checkFailures = Vector.newBuilder[String]
    val rounds = Vector.newBuilder[RoundResult]
    var setupOk = true
    try w.setup() catch {
      case NonFatal(e) =>
        e.printStackTrace(); setupOk = false
        attempted = 1; failed = 1
        checkFailures += s"set-up threw $e"
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val t0 = System.nanoTime()
    var r = 0
    // whole rounds only, so the failed share is the same in every run
    while (setupOk && (r == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      attempted += w.opsPerRound
      try {
        val rr = w.round(r)
        rounds += rr; checkFailures ++= rr.checkFailures
      } catch {
        case NonFatal(e) =>
          // its outputs were never checked
          e.printStackTrace(); failed += w.opsPerRound
          checkFailures += s"round $r threw $e"
      }
      r += 1
    }
    val rs = rounds.result()
    val ops = rs.flatMap(_.ops)
    val fails = checkFailures.result()
    fails.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    val endToEnd = Map(
      "setup_s" -> setupS,
      "rows_per_s" -> rs.map(_.units).sum / math.max(1e-9, rs.map(_.activeSeconds).sum),
      "op_p50_s" -> Stats.median(ops.map(_.seconds)),
      "cpu_per_op_s" -> rs.map(_.cpuSeconds).sum / math.max(1, ops.size),
      "peak_rss_mb" -> peakRssMb())
    def numbers(m: Map[String, Double]) =
      Json.obj(m.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })
    val metrics =
      if (!traced) endToEnd
      else {
        trace.drain(spark)
        // the traced run's own end-to-end figures: the tracing overhead
        System.err.println("GRAFTBENCH_TRACED_E2E " + numbers(endToEnd))
        trace.engine(ops) ++ (if (ops.isEmpty) Map.empty else w.layers(ops))
      }
    val json = Json.obj(Seq(
      "correct" -> Checks.correct(rs.size, fails).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> numbers(metrics)))
    println(s"GRAFTBENCH_RESULT $json")
    try spark.stop() catch { case NonFatal(e) => e.printStackTrace() }
    0
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
