package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator draws from its own
  * `java.util.Random`, builds its rows in memory and writes one parquet
  * file per table, so the same seed gives byte-identical inputs.
  *
  * The standard tables mirror the schema and value ranges of the library's
  * `Tables` loaders (TPC-H-like star plus `events`, `documents`,
  * `embeddings`) at about sf0.004 (documents and embeddings as sf0.001). */
object Gen {
  val Vocab: Array[String] = ("key agg row scan slow fast table value part " +
    "hash batch window spark order data column join small line customer " +
    "query filter sort merge stream group big vector the a").split(' ')
  val Langs: Array[String] = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val PartAdj = Array("blue", "cold", "large", "new", "red", "small",
    "green", "old")
  private val PartNoun = Array("anvil", "bolt", "gear", "gizmo", "plate",
    "ring", "rod", "widget")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val EventTypes = Array("click", "error", "purchase", "signup",
    "view")

  private def f(name: String, t: DataType) = StructField(name, t)
  private def round2(x: Double): Double = math.round(x * 100) / 100.0
  private def day(from: LocalDate, r: Random, span: Int): LocalDateTime =
    from.plusDays(r.nextInt(span).toLong).atStartOfDay()

  /** Writes `rows` as ONE parquet file at `path` (not a directory):
    * file-stream readers glob for `<table>.parquet` files. */
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit = {
    val staging = path + ".staging"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one part file under $staging")
    java.nio.file.Files.move(part.head.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
  }

  /** `n` words drawn from [[Vocab]]. */
  def words(r: Random, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length)))

  /** Writes several tables at once: the rows are already drawn, so the
    * order the writes finish in does not matter. */
  def writeAll(spark: SparkSession, tables: Seq[(Seq[Row], StructType, String)]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(tables.map { case (rows, schema, path) =>
      Future(write(spark, rows, schema, path)) }), scala.concurrent.duration.Duration.Inf)
  }

  /** The ten standard tables under `dir`, as `<dir>/<name>.parquet`. */
  def standardTables(spark: SparkSession, dir: String, seed: Long): Unit = {
    val r = new Random(seed)
    val tables = Seq.newBuilder[(Seq[Row], StructType, String)]
    def add(rows: Seq[Row], schema: StructType, path: String): Unit =
      tables += ((rows, schema, path))
    val nOrders = 6000
    val nCustomers = 600
    val nParts = 800
    add(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) },
      StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      s"$dir/region.parquet")
    add((0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), s"$dir/nation.parquet")
    add((0 until nCustomers).map(i => Row(i.toLong,
        f"Customer#$i%09d", r.nextInt(25),
        round2(-999.99 + r.nextDouble() * 10999.98),
        Segments(r.nextInt(Segments.length)))),
      StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))), s"$dir/customer.parquet")
    add((0 until 40).map(i => Row(i.toLong, f"Supplier#$i%09d",
        r.nextInt(25), round2(-999.99 + r.nextDouble() * 10999.98))),
      StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      s"$dir/supplier.parquet")
    add((0 until nParts).map(i => Row(i.toLong,
        PartAdj(r.nextInt(PartAdj.length)) + " " +
          PartNoun(r.nextInt(PartNoun.length)),
        s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.length)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)),
      StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType),
        f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      s"$dir/part.parquet")
    val d0 = LocalDate.of(1995, 1, 1)
    add((0 until nOrders).map(i => Row(i.toLong,
        r.nextInt(nCustomers).toLong, "FOP".charAt(r.nextInt(3)).toString,
        round2(1000 + r.nextDouble() * 499000), day(d0, r, 2404),
        Priorities(r.nextInt(Priorities.length)))),
      StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      s"$dir/orders.parquet")
    add((0 until 24000).map(_ => Row(r.nextInt(nOrders).toLong,
        r.nextInt(nParts).toLong, r.nextInt(40).toLong, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, round2(900 + r.nextDouble() * 104100),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        "ANR".charAt(r.nextInt(3)).toString, "FO".charAt(r.nextInt(2)).toString,
        day(d0.plusDays(1), r, 2499))),
      StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType),
        f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))), s"$dir/lineitem.parquet")
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val nEvents = 6000
    val stepMicros = 30L * 86400 * 1000000 / nEvents
    add((0 until nEvents).map(i => Row(i.toLong,
        t0.plusNanos((i * stepMicros + r.nextInt(stepMicros.toInt)) * 1000),
        r.nextInt(100).toLong, EventTypes(r.nextInt(EventTypes.length)),
        round2(0.01 + -60 * math.log(1 - r.nextDouble())),
        s"""{"k": ${r.nextInt(100)}}""")),
      StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType),
        f("value", DoubleType), f("props", StringType))),
      s"$dir/events.parquet")
    add(documentRows(r, 500), documentSchema, s"$dir/documents.parquet")
    add((0 until 500).map(i => Row(i.toLong,
        Array.fill(64)((r.nextGaussian() * 0.1).toFloat).toSeq, r.nextInt(10))),
      StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      s"$dir/embeddings.parquet")
    writeAll(spark, tables.result())
  }

  val documentSchema: StructType = StructType(Seq(f("doc_id", LongType),
    f("text", StringType), f("lang", StringType), f("source", StringType),
    f("n_chars", LongType)))

  def documentRow(id: Long, text: String, lang: String, source: String): Row =
    Row(id, text, lang, source, text.length.toLong)

  /** Random word bags; about one in twelve is a light edit of an
    * earlier document, so near-duplicate queries find pairs. */
  private def documentRows(r: Random, n: Int): Seq[Row] = {
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until n).map { i =>
      val w =
        if (i > 0 && r.nextInt(12) == 0)
          texts(r.nextInt(i)).map(x => if (r.nextInt(20) == 0) Vocab(r.nextInt(Vocab.length)) else x)
        else words(r, 8 + r.nextInt(80))
      texts += w
      documentRow(i.toLong, w.mkString(" "), Langs(r.nextInt(Langs.length)),
        s"src${r.nextInt(20)}")
    }
  }
}
