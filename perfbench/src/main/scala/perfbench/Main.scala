package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per process:
  *
  * {{{
  * Main --workload corpus_prep|query_mix|egal_stream --seed N --seconds S
  *      --trace 0|1 --work DIR --expected FILE [--trace-out FILE] [--record 0|1]
  * }}}
  *
  * Prints one JSON object as its last stdout line: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  * Exits 1 when an output check fails. Everything it writes goes under
  * `--work`, which the caller deletes. */
object Main {
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, expected: String, traceOut: Option[String],
      record: Boolean)

  /** What one measurement gives: the end-to-end values, the operations
    * attempted and failed, and the failed output checks. */
  final class Outcome {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    var attempted, failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
  }

  val E2eUnits: Seq[(String, String)] = Seq("setup_s" -> "s", "job_s" -> "s",
    "lat_p50_ms" -> "ms", "lat_p99_ms" -> "ms")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Args(m("--workload"), m("--seed").toLong, m("--seconds").toInt,
      m("--trace") == "1", m("--work"), m("--expected"), m.get("--trace-out"),
      m.get("--record").contains("1"))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.sql.maxPlanStringLength", "32768")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/rdd-checkpoints")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val runId = s"${a.workload}-${a.seed}-${System.currentTimeMillis()}"
    val workload: Workload = a.workload match {
      case "corpus_prep" => new CorpusPrepWorkload(spark, a)
      case "query_mix" => new QueryMixWorkload(spark, a)
      case "egal_stream" => new EgalStreamWorkload(spark, a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val setupS = sessionS + workload.setup()
    val (untraced, measureS) =
      timed(workload.measure(new Tracer(spark, enabled = false, runId)))
    untraced.e2e("setup_s") = setupS
    val out =
      if (!a.trace) untraced
      else {
        // set-up is shared and never traced; the measurement repeats
        // with tracing on, and its difference to the untraced values
        // is the tracing overhead
        val t = new Tracer(spark, enabled = true, runId)
        val traced = workload.measure(t)
        traced.e2e("setup_s") = setupS
        t.close()
        Layers.engine(t, traced)
        E2eUnits.filter(_._1 != "setup_s").foreach { case (k, _) =>
          traced.layers(s"trace_overhead.$k") = traced.e2e(k) - untraced.e2e(k)
        }
        a.traceOut.foreach(p => t.write(p, Map(
          "workload" -> s""""${a.workload}"""", "seed" -> a.seed.toString,
          "e2e_untraced" -> Layers.json(untraced.e2e),
          "e2e_traced" -> Layers.json(traced.e2e),
          "layers" -> Layers.json(traced.layers))))
        traced.attempted += untraced.attempted
        traced.failed += untraced.failed
        traced.problems ++= untraced.problems
        traced
      }
    workload.cleanup()
    spark.catalog.clearCache()
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    out.check(cm.isEmpty, "the CacheManager still holds cached frames at exit")
    out.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val metrics =
      if (!a.trace) E2eUnits.map { case (k, u) => k -> (out.e2e(k), u) }
      else Layers.names.map(k => k -> (out.layers.getOrElse(k, 0.0), Layers.unit(k)))
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${jsonNumber(v)},"unit":"$u"}""" }.mkString(",")
    val stopS = timed(spark.stop())._2
    System.err.println(f"[perfbench] session $sessionS%.1f s, set-up ${setupS - sessionS}%.1f s, " +
      f"measure $measureS%.1f s, stop $stopS%.1f s, total ${(System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")
    println(s"""{"correct":${out.problems.isEmpty},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{$body}}""")
    System.out.flush()
    if (out.problems.nonEmpty) sys.exit(1)
  }

  /** One workload: set-up (input generation and warm-up, timed by the
    * workload) and a measurement that may run traced. */
  trait Workload {
    def setup(): Double
    def measure(t: Tracer): Outcome
    def cleanup(): Unit = ()
  }

  def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
