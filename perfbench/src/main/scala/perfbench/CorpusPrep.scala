package perfbench

import java.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Balance, TrainingPipeline}
import graft.functions.{SignatureExpressions, TextFunctions, WindowHashes}
import graft.operators.{Dedup, HotBuckets, LanguageModel, Sampling, Similarity, Winnowing}

/** `corpus_prep`: `TrainingPipeline.prepare` in its full curated shape
  * (q151's held-out band and reweighted balance sharing one scoring,
  * plus semantic collapse over embeddings and 13-gram decontamination
  * against a benchmark set) on a near-duplicate-amplified corpus, with
  * the output written as parquet. */
object CorpusPrep {
  val Budget = 2048L
  val Threshold = 0.5
  val SpanWords = 10
  val ShingleSize = 3

  final case class Inputs(docs: String, embeddings: String, benchmark: String,
      cut: Long, nDocs: Long)

  /** 1000 documents: base documents amplified about 4x by
    * near-duplicate families, stopping at the fixed total. The
    * seed picks which documents get copies, the family-size skew, the
    * per-copy word-edit rate (Jaccard spread around the 0.5 threshold),
    * the embedding noise around the 0.97 cosine threshold and the size
    * of the eval/reference slice (ids below `cut`). */
  def inputs(spark: SparkSession, dir: String, seed: Long): Inputs = {
    val r = new Random(seed * 7919L + 17L)
    val nDocs = 1000
    val copyShare = 0.6 + 0.1 * r.nextDouble()
    val sigma = 0.6 + 0.3 * r.nextDouble()
    val editRate = 0.08 + 0.04 * r.nextDouble()
    val embNoise = 0.025 + 0.01 * r.nextDouble()
    val evalFrac = 0.09 + 0.02 * r.nextDouble()
    val meanCopies = 3.0 / copyShare
    val mu = math.log(meanCopies) - sigma * sigma / 2
    final case class Doc(words: Array[String], lang: String, source: String,
        emb: Array[Float])
    def unit(): Array[Float] = Array.fill(64)((r.nextGaussian() / 8).toFloat)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    while (docs.size < nDocs) {
      val base = Doc(Gen.words(r, 8 + r.nextInt(80)),
        Gen.Langs(r.nextInt(Gen.Langs.length)), s"src${r.nextInt(20)}", unit())
      docs += base
      if (r.nextDouble() < copyShare) {
        val copies = math.min(40,
          math.round(math.exp(mu + sigma * r.nextGaussian())).toInt)
        for (_ <- 0 until math.min(copies, nDocs - docs.size)) {
          val q = editRate * (0.5 + r.nextDouble())
          val w = base.words.map(x =>
            if (r.nextDouble() < q) Gen.Vocab(r.nextInt(Gen.Vocab.length)) else x)
          val e = base.emb.map(x => (x + r.nextGaussian() * embNoise).toFloat)
          docs += Doc(w, base.lang, s"src${r.nextInt(20)}", e)
        }
      }
    }
    // ids in shuffled order, so families straddle the eval cut
    val order = scala.util.Random.javaRandomToRandom(r).shuffle(docs.indices.toVector)
    val byId = order.map(docs)
    val n = byId.size.toLong
    val cut = math.max(1L, math.round(n * evalFrac))
    val rows = byId.zipWithIndex.map { case (d, i) =>
      Gen.documentRow(i.toLong, d.words.mkString(" "), d.lang, d.source)
    }
    val embeddings = byId.zipWithIndex.map { case (d, i) => Row(i.toLong, d.emb.toSeq) }
    // benchmark set: 13+-word spans lifted from training docs, padded
    // with fresh words, plus unrelated eval texts
    val bench = (0 until 60).map { i =>
      val src = byId((cut + r.nextInt((n - cut).toInt)).toInt).words
      val text =
        if (i % 2 == 0 && src.length >= 16) {
          val from = r.nextInt(src.length - 15)
          (Gen.words(r, 5) ++ src.slice(from, from + 15) ++ Gen.words(r, 5))
            .mkString(" ")
        } else Gen.words(r, 20 + r.nextInt(20)).mkString(" ")
      Row(i.toLong, text)
    }
    Gen.writeAll(spark, Seq(
      (rows, Gen.documentSchema, s"$dir/docs.parquet"),
      (embeddings, StructType(Seq(StructField("doc_id", LongType),
        StructField("embedding", ArrayType(FloatType)))), s"$dir/embeddings.parquet"),
      (bench, StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))), s"$dir/benchmark.parquet")))
    System.err.println(f"[perfbench] corpus_prep inputs: copy share $copyShare%.3f, " +
      f"family sigma $sigma%.3f, edit rate $editRate%.3f, embedding noise $embNoise%.4f, " +
      f"eval docs $cut")
    Inputs(s"$dir/docs.parquet", s"$dir/embeddings.parquet",
      s"$dir/benchmark.parquet", cut, n - cut)
  }

  final case class Frames(corpus: DataFrame, eval: DataFrame,
      embeddings: DataFrame, benchmark: DataFrame)

  def frames(spark: SparkSession, in: Inputs): Frames = {
    val docs = spark.read.parquet(in.docs)
    Frames(docs.filter(col("doc_id") >= in.cut), docs.filter(col("doc_id") < in.cut),
      spark.read.parquet(in.embeddings), spark.read.parquet(in.benchmark))
  }

  val Reweight: Balance.Reweighted =
    Balance.Reweighted("source", budget = 600L, maxQuota = 100)

  /** The measured call: `prepare`, then the output written as parquet. */
  def prepare(spark: SparkSession, in: Inputs, out: String): Unit = {
    val f = frames(spark, in)
    TrainingPipeline.prepare(f.corpus, budget = Budget,
        jaccardThreshold = Threshold, trainPct = 95,
        benchmark = Some(f.benchmark), spanWords = SpanWords,
        embeddings = Some(f.embeddings), balance = Some(Reweight),
        winnowEval = Some(f.eval), surprisalBand = Some((5, 95)),
        bandTrain = Some(f.eval), reweightTrain = Some(f.eval))
      .write.mode("overwrite").parquet(out)
  }

  /** Output invariants; returns the failed ones. */
  def check(spark: SparkSession, in: Inputs, out: String): Seq[String] = {
    val o = spark.read.parquet(out)
    val ids = spark.read.parquet(in.docs).filter(col("doc_id") >= in.cut)
    val problems = Seq.newBuilder[String]
    if (o.isEmpty) problems += "output is empty"
    if (!o.join(ids, Seq("doc_id"), "left_anti").isEmpty)
      problems += "output doc_ids are not a subset of the input corpus"
    // packSequences assigns pack_id = floor(tokens before the doc /
    // budget): every doc of a pack STARTS inside the pack's window, so a
    // pack's tokens minus its last doc's stay below the budget
    val w = org.apache.spark.sql.expressions.Window.partitionBy("pack_id")
      .orderBy(col("doc_id").desc)
    if (!o.withColumn("rn", row_number().over(w))
        .groupBy("pack_id").agg(sum(when(col("rn") > 1, col("n_tokens"))
          .otherwise(lit(0L))).as("before_last"))
        .filter(col("before_last") >= Budget).isEmpty)
      problems += s"a pack starts a document past its $Budget-token window"
    if (!o.filter(!col("split").isin("train", "test") || col("split").isNull).isEmpty)
      problems += "split outside {train, test}"
    if (o.groupBy("doc_id").count().filter(col("count") > 1).head(1).nonEmpty)
      problems += "a doc_id appears twice"
    problems.result()
  }

  private def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** `prepare`'s composition unrolled into its public operator calls,
    * one span each. Every span materializes its output, so its time is
    * the stage's own cost; rows in and out are counted after the span
    * closes. The result must equal `prepare`'s output row for row. */
  def unrolled(spark: SparkSession, in: Inputs, out: String, t: Tracer): Unit = {
    val f = frames(spark, in)
    def stage(name: String, input: DataFrame)(body: => DataFrame): DataFrame = {
      val rowsIn = input.count().toDouble
      val res = t.span(name)(pin(body))
      t.annotate(name, Map("rows_in" -> rowsIn, "rows_out" -> res.count().toDouble))
      res
    }
    val quality = TextFunctions.qualityMetrics(col("text")).toMap
    val nTok = TextFunctions.tokenCount(col("text"))
    val rep3 = lit(1.0) - size(TextFunctions.shingles(col("text"), 3))
      .cast("double") / (nTok - lit(2)).cast("double")
    val gated = stage("operators.quality_gate", f.corpus)(f.corpus
      .filter(nTok >= 5 && quality("uniq_ratio") > 0.2 &&
        quality("punct_ratio") < 0.5 && rep3 <= 0.6)
      .withColumn("text", TextFunctions.maskPii(col("text"))))
    val corpus = stage("operators.dedup_spans", gated)(
      Dedup.dedupSpans(gated, SpanWords)
        .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
        .filter(col("n_tokens") >= 5)
        .withColumn("lang_pred", TextFunctions.langIdHeuristic(col("text"))))
    val deduped = stage("operators.dedup_corpus", corpus)(
      Dedup.dedupCorpus(corpus, Threshold, maxBucket = HotBuckets.DefaultCap))
    val collapsed = stage("operators.semantic_collapse", deduped) {
      val sub = f.embeddings.join(deduped.select(col("doc_id")), Seq("doc_id"),
        "left_semi")
      val kept = Similarity.semanticCollapse(sub, 0.97, 64, idCol = "doc_id",
        maxBucket = HotBuckets.DefaultCap)
      val drop = sub.select(col("doc_id"))
        .join(kept.select(col("doc_id")), Seq("doc_id"), "left_anti")
      deduped.join(drop, Seq("doc_id"), "left_anti")
    }
    val cleaned = stage("operators.decontaminate", collapsed)(
      Dedup.decontaminate(collapsed, f.benchmark, 13))
    val winnowed = stage("operators.winnow_overlap", cleaned) {
      val flagged = Winnowing.evalOverlap(cleaned, f.eval, minShared = 2)
        .select(col("doc_id"))
      cleaned.join(flagged, Seq("doc_id"), "left_anti")
    }
    val scored = stage("operators.heldout_score", winnowed)(
      LanguageModel.bigramSurprisalHeldOut(f.eval, winnowed))
    val balanced = stage("operators.band_reweight", winnowed) {
      val kept = LanguageModel.bandFromScores(scored, winnowed,
        groupCol = "lang_pred", lowPct = 5, highPct = 95)
      val banded = pin(winnowed.join(kept.select(col("doc_id")), Seq("doc_id"),
        "left_semi"))
      val plan = LanguageModel.domainReweightFromScores(scored, banded,
        groupCol = Reweight.keyCol, budget = Reweight.budget,
        scale = Reweight.scale).select(col(Reweight.keyCol), col("quota"))
      val quotas = spark.createDataFrame(
        java.util.Arrays.asList(plan.collect(): _*), plan.schema)
      Sampling.quotaPerKeyFrom(banded, Reweight.keyCol, "doc_id", quotas,
        Reweight.maxQuota)
    }
    t.span("operators.pack") {
      Sampling.packSequences(balanced, "n_tokens", "doc_id", Budget)
        .withColumn("split", when(Sampling.portableBucket(col("doc_id"), 100) < 95,
          lit("train")).otherwise(lit("test")))
        .write.mode("overwrite").parquet(out)
    }
    t.annotate("operators.pack", Map("rows_in" -> balanced.count().toDouble,
      "rows_out" -> spark.read.parquet(out).count().toDouble))
  }

  /** LSH useful-work ratio on the exact-deduplicated corpus. */
  def lshCounts(spark: SparkSession, in: Inputs): Map[String, Double] = {
    val f = frames(spark, in)
    val keep = Dedup.exactByFingerprint(f.corpus).select(col("keep_id").as("doc_id"))
    val exactKept = f.corpus.join(keep, Seq("doc_id"), "left_semi")
    val (k, bands) = Dedup.lshParams(Threshold)
    val candidates = Dedup.lshCandidates(exactKept, "doc_id", "text", ShingleSize,
      k, bands).count().toDouble
    val verified = Dedup.minHashDupPairs(exactKept, Threshold).count().toDouble
    val degraded = HotBuckets.lastObservation("minhash_lsh", spark).map(_._1).getOrElse(0L)
    Map("operators.lsh_candidate_pairs" -> candidates,
      "operators.lsh_verified_pairs" -> verified,
      "operators.lsh_precision" -> (if (candidates > 0) verified / candidates else 0.0),
      "operators.hot_buckets_degraded" -> degraded.toDouble)
  }

  /** Native kernels as noop-write projections over the corpus text. */
  def functions(spark: SparkSession, in: Inputs, t: Tracer): Map[String, Double] = {
    val text = pin(frames(spark, in).corpus.select(col("text")))
    val sh = pin(text.select(TextFunctions.shingles(col("text"), ShingleSize).as("sh")))
    def noop(name: String, df: DataFrame): (String, Double) = {
      t.span(name)(df.write.format("noop").mode("overwrite").save())
      name + "_s" -> t.seconds(name)
    }
    Map(noop("functions.word_shingles",
        text.select(TextFunctions.shingles(col("text"), ShingleSize))),
      noop("functions.minhash_sig", sh.select(SignatureExpressions.minHashSig(col("sh"), 128))),
      noop("functions.window_hashes", text.select(WindowHashes.windowHashesNative(col("text"), 13))),
      noop("functions.simhash64", sh.select(SignatureExpressions.simHash64(col("sh")))),
      noop("functions.jaccard_sim", sh.select(
        SignatureExpressions.jaccardSim(col("sh"), reverse(col("sh"))))),
      "functions.text_bytes" ->
        text.agg(sum(octet_length(col("text")))).head().getLong(0).toDouble)
  }
}
