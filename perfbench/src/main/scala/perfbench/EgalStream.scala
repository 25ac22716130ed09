package perfbench

import java.sql.Timestamp
import java.util.Random
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.FaultLines
import graft.sources.{EsSink, Lake}
import graft.streaming.Jobs

/** ES bulk payloads captured in-process: the transport runs inside
  * tasks, which in local mode share this JVM. */
object EsCapture {
  val payloads = new ConcurrentLinkedQueue[String]()
  val transport: EsSink.Transport = (_, payload) => { payloads.add(payload); () }
}

/** `egal_stream`: the reference's own path, open loop. One generator
  * thread stamps AFAD-shaped JSON chunks when they are due and feeds a
  * `MemoryStream` on a fixed schedule. `Jobs.eventsToSink` parses,
  * enriches and deduplicates; its `foreachBatch` writes `EsSink` (to an
  * in-process capture) and then `Lake.upsertLatest` into a temp lake.
  * The `Jobs.rawToParquet` archiver reads the same source. */
object EgalStream {
  /** Offered rate of the latency phase, events per second, as one
    * chunk every `TickMs`. */
  val Rate = 500
  val TickMs = 10
  /** Events offered at once in each of the three drain measurements. */
  val Burst = 3000

  /** A Kafka message: one JSON array of events, or a malformed payload. */
  final case class Chunk(messages: Seq[String], keys: Seq[(Long, String)],
      events: Int)

  /** Seeded AFAD event source. The seed sets the re-poll duplicate share,
    * the update share, how far event time runs out of order, the
    * province skew and the malformed-payload share. */
  final class Source(seed: Long) {
    private val r = new Random(seed * 104729L + 3L)
    val dupShare: Double = 0.10 + 0.15 * r.nextDouble()
    val updateShare: Double = 0.05 + 0.10 * r.nextDouble()
    val outOfOrderShare: Double = 0.05 + 0.20 * r.nextDouble()
    val provinceSkew: Double = 0.8 + 0.6 * r.nextDouble()
    val badShare: Double = 0.01 + 0.03 * r.nextDouble()
    private val provinces = (FaultLines.east ++ FaultLines.north ++
      FaultLines.west ++ Seq("Nicosia", "Tabriz")).toVector
    private val cdf = {
      val w = provinces.indices.map(i => 1.0 / math.pow(i + 1, provinceSkew))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toVector
    }
    private val sent = mutable.ArrayBuffer.empty[String]
    /** Version count and event date of every event id sent so far. */
    private val versions = mutable.Map.empty[Long, (Int, String)]
    private var nextId = 600000L
    private var minute = 0L
    private val t0 = java.time.LocalDateTime.of(2023, 2, 6, 0, 0)
    private def iso(t: java.time.LocalDateTime) =
      t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    private def province(): String = {
      val u = r.nextDouble()
      provinces(math.min(provinces.size - 1, cdf.indexWhere(_ >= u)))
    }
    private def json(id: Long, date: String, update: Boolean, lud: String): String = {
      val p = province()
      f"""{"date":"$date","rms":"${r.nextDouble()}%.2f","eventID":"$id",""" +
        f""""location":"$p","latitude":"${36 + 6 * r.nextDouble()}%.3f",""" +
        f""""longitude":"${26 + 18 * r.nextDouble()}%.3f","depth":"${1 + 30 * r.nextDouble()}%.1f",""" +
        f""""type":"ML","magnitude":"${1 + 5 * r.nextDouble()}%.1f","country":"Türkiye",""" +
        s""""province":"$p","district":"D${r.nextInt(50)}","neighborhood":"N${r.nextInt(99)}",""" +
        s""""isEventUpdate":"$update","lastUpdateDate":"$lud"}"""
    }

    /** One event: a re-poll of an earlier one, an update, or a new event. */
    private def event(): (String, Option[(Long, String)]) = {
      val u = r.nextDouble()
      if (sent.nonEmpty && u < dupShare)
        (sent(sent.size - 1 - r.nextInt(math.min(sent.size, 2000))), None)
      else if (versions.nonEmpty && u < dupShare + updateShare) {
        val id = nextId - 1 - r.nextInt(math.min(versions.size, 2000))
        val (v, date) = versions(id)
        versions(id) = (v + 1, date)
        val lud = iso(t0.plusMinutes(minute).plusSeconds(v + 1L))
        // an update keeps its event's date: the lake merges per day
        val s = json(id, date, update = true, lud)
        sent += s
        (s, Some(id -> lud))
      } else {
        val id = nextId
        nextId += 1
        minute += 1
        val back = if (r.nextDouble() < outOfOrderShare) r.nextInt(2880) else 0
        val date = iso(t0.plusMinutes(id - 600000L - back))
        versions(id) = (0, date)
        val s = json(id, date, update = false, "")
        sent += s
        (s, Some(id -> ""))
      }
    }

    /** `n` events split into messages of up to 20 events. */
    def chunk(n: Int): Chunk = {
      val evs = Seq.fill(n)(event())
      val msgs = evs.map(_._1).grouped(20).map(_.mkString("[", ",", "]")).toSeq
      val bad = if (r.nextDouble() < badShare * math.max(1, n / 20))
        Seq("""[{"date":"2023-02-06T1""") else Nil
      Chunk(msgs ++ bad, evs.flatMap(_._2), n)
    }
  }

  /** What the run needs before the clock starts, generated from the
    * seed (the generator thread only stamps and feeds): a priming chunk
    * that takes the new queries through their first batch, the chunks
    * offered at [[Rate]] for 70% of `seconds`, and three bursts. */
  final case class Plan(prime: Chunk, paced: Seq[Chunk], bursts: Seq[Chunk]) {
    def chunks: Seq[Chunk] = (prime +: paced) ++ bursts
  }

  def plan(seed: Long, seconds: Int): Plan = {
    val src = new Source(seed)
    val ticks = seconds * 700 / TickMs
    Plan(src.chunk(100), Seq.fill(ticks)(src.chunk(Rate * TickMs / 1000)),
      Seq.fill(3)(src.chunk(Burst)))
  }

  /** One running pipeline: the source, the sink query, the archiver. */
  final class Pipeline(spark: SparkSession, dir: String, layered: Boolean) {
    import spark.implicits._
    implicit private val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    /** A MemoryStream serves one reader, so the generator feeds the sink
      * job and the archiver two identical streams, as two consumer
      * groups read one topic. Each has a fixed partition count, as a
      * topic does (by default every `addData` becomes its own partition,
      * so a batch's task count would follow the number of chunks). */
    private val inputs = Seq.fill(2)(MemoryStream[(String, Timestamp)](Main.Cores))
    val lake = s"$dir/lake"
    val archive = s"$dir/archive"
    /** Commit time and captured-payload count after each batch. */
    val commits = new ConcurrentLinkedQueue[(Long, Int)]()
    @volatile var esNs, lakeNs, lakeBytes = 0L
    private def raw(i: Int): DataFrame = inputs(i).toDF()
      .select(col("_1").cast("binary").as("value"), col("_2").as("timestamp"))

    private def dirBytes(p: String): Map[String, Long] = {
      val f = new java.io.File(p)
      if (!f.exists()) Map.empty
      else {
        val files = java.nio.file.Files.walk(f.toPath)
        try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(x => x.toString -> java.nio.file.Files.size(x)).toMap
        finally files.close()
      }
    }

    private def sink(batch: DataFrame, id: Long): Unit = {
      batch.persist()
      try {
        val t0 = System.nanoTime()
        EsSink.write(batch, "earthquakes", transport = EsCapture.transport)
        val t1 = System.nanoTime()
        val before = if (layered) dirBytes(lake) else Map.empty[String, Long]
        if (!batch.isEmpty)
          Lake.upsertLatest(spark, lake, batch, "eventID", "lastUpdateDate", "event_ts")
        val t2 = System.nanoTime()
        if (layered)
          lakeBytes += dirBytes(lake).filter { case (k, _) => !before.contains(k) }.values.sum
        esNs += t1 - t0
        lakeNs += t2 - t1
        commits.add((t2, EsCapture.payloads.size))
      } finally batch.unpersist()
    }

    val queries: Seq[StreamingQuery] = Seq(
      Jobs.eventsToSink(raw(0), s"$dir/ckpt-sink", sink).queryName("egal_sink").start(),
      Jobs.rawToParquet(raw(1), archive, s"$dir/ckpt-archive").queryName("egal_archive").start())

    def offer(c: Chunk, createdMs: Long): Unit = {
      val rows = c.messages.map(m => (m, new Timestamp(createdMs)))
      inputs.foreach(_.addData(rows))
    }

    def drain(): Unit = queries.foreach(_.processAllAvailable())
    def stop(): Unit = queries.foreach(_.stop())
  }

  /** Feeds chunks on a fixed schedule from one generator thread. Returns
    * each chunk's due time (ns) and the generator's worst lateness (ms). */
  def feed(p: Pipeline, chunks: Seq[Chunk], tickMs: Int): (Array[Long], Double) = {
    val due = new Array[Long](chunks.size)
    var lateMs = 0.0
    val t = new Thread(() => {
      val start = System.nanoTime()
      chunks.indices.foreach { i =>
        val d = start + i.toLong * tickMs * 1000000L
        val wait = d - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateMs = math.max(lateMs, (System.nanoTime() - d) / 1e6)
        due(i) = d
        p.offer(chunks(i), System.currentTimeMillis() - (System.nanoTime() - d) / 1000000L)
      }
    }, "perfbench-generator")
    t.start()
    t.join()
    (due, lateMs)
  }

  private val DocKey = """"eventID":(\d+).*"lastUpdateDate":"([^"]*)"""".r.unanchored

  /** (eventID, lastUpdateDate) of every captured ES document, in order. */
  def captured(from: Int, until: Int): Seq[(Long, String)] =
    EsCapture.payloads.asScala.slice(from, until).toSeq
      .flatMap(_.split('\n')).filterNot(_.startsWith("""{"index""""))
      .collect { case DocKey(id, lud) => (id.toLong, lud) }

  /** Latency of each chunk: from when it was due until the batch that
    * committed the last of its new events. Chunks holding only re-polls
    * or malformed payloads carry no new event and give no sample. */
  def latencies(chunks: Seq[Chunk], due: Array[Long],
      commits: Seq[(Long, Int)], payload0: Int): Seq[Double] = {
    val committedAt = mutable.Map.empty[(Long, String), Long]
    var prev = payload0
    commits.foreach { case (ns, n) =>
      captured(prev, n).foreach(k => committedAt.getOrElseUpdate(k, ns))
      prev = n
    }
    chunks.indices.flatMap { i =>
      val ks = chunks(i).keys
      if (ks.isEmpty) None
      else {
        val at = ks.flatMap(committedAt.get)
        if (at.size < ks.size) None else Some((at.max - due(i)) / 1e6)
      }
    }
  }
}
