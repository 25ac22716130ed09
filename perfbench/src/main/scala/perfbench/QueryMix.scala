package perfbench

import org.apache.spark.sql.SparkSession

/** `query_mix`: queries called through `SparkEntry.queries` on
  * generated standard tables (fixed data seed 42). The workload seed only
  * sets the order the queries run in. */
object QueryMix {
  val DataSeed = 42L

  /** One query per library layer: relational (q01), `plans/` as-of
    * join (q31), trained-IVF ANN (q65), SimHash dedup on the native
    * kernels (q28) and a bounded-state streaming monitor (q118). Few
    * enough that the untimed pass and two timed passes fit a run; the
    * lake runs in `egal_stream`, the text pipeline in `corpus_prep`. */
  val Queries: Seq[String] = Seq("q01_pricing_summary", "q31_asof_join",
    "q65_ivf_trained", "q28_simhash_dedup", "q118_stream_quantiles")

  def order(seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(Queries)

  /** Expected digests, one `name rows hash` line per query. */
  def expected(path: String): Map[String, Digest] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, hash) = l.split("\\s+")
        n -> Digest(rows.toLong, hash.toLong)
      }.toMap
    finally src.close()
  }

  /** Runs one query to its digest; `None` when it throws. */
  def run(spark: SparkSession, dir: String, name: String): Option[Digest] =
    try Some(Digest.of(graft.SparkEntry.queries(name)(spark, dir)))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        None
    } finally spark.catalog.clearCache()
}
