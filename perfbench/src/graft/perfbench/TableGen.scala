package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the ten parquet tables the `SparkEntry` queries
  * read (`graft.Tables.names`), at the shape and value domains of the
  * smallest testdata scale: 6k lineitem rows, 1k events, 500 documents,
  * 500 unit-norm 64-d embeddings. The same seed writes the same rows;
  * only values move between seeds, never row counts, so the work per
  * query stays the same shape across seeds.
  */
object TableGen {
  val NCustomer = 150
  val NSupplier = 10
  val NPart = 200
  val NOrders = 1500
  val NLineitem = 6000
  val NEvents = 1000
  val NDocuments = 500
  val NEmbeddings = 500
  val Dim = 64

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns = Seq("anvil", "bolt", "gear", "plate", "ring", "rod", "widget")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val langs = Seq("en", "en", "de", "es", "fr", "zh")
  private val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "line", "sort", "window", "spark", "order",
    "data", "column", "join", "small", "big", "customer", "query", "stream", "group",
    "filter", "vector", "dup")

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def midnight(d: LocalDate): Timestamp = Timestamp.valueOf(d.atStartOfDay())
  private def day(r: Random, from: LocalDate, to: LocalDate): LocalDate =
    from.plusDays(r.nextInt((to.toEpochDay - from.toEpochDay).toInt + 1).toLong)

  /** One table as ONE parquet file `<dir>/<name>.parquet`, as in the
    * testdata layout: the streaming scenarios read `events.parquet` by
    * file name out of the table directory.
    */
  private def writeTable(spark: SparkSession, dir: String, name: String,
                         schema: StructType, rows: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    val staging = Paths.get(dir, s".$name")
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(staging.toString)
    val part = Harness.listFiles(staging).filter { f =>
      val n = f.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }
    require(part.size == 1, s"$name: expected one part file, got ${part.size}")
    Files.move(part.head, Paths.get(dir, s"$name.parquet"))
    Disk.deleteTree(staging)
  }

  /** Writes every table under `dir`. */
  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    val r = new Random(seed)
    // rows are drawn in a fixed order; the tiny writes then run concurrently
    val tables = scala.collection.mutable.ArrayBuffer.empty[(String, StructType, Seq[Row])]
    def table(name: String, schema: StructType, rows: Seq[Row]): Unit =
      tables += ((name, schema, rows))
    val I = IntegerType; val L = LongType; val D = DoubleType; val S = StringType
    val TS = TimestampType
    def st(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })

    table("region", st("r_regionkey" -> I, "r_name" -> S),
      regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    table("nation", st("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    table("customer",
      st("c_custkey" -> L, "c_name" -> S, "c_nationkey" -> I, "c_acctbal" -> D,
        "c_mktsegment" -> S),
      (0 until NCustomer).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), segments(r.nextInt(segments.size)))))
    table("supplier",
      st("s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> I, "s_acctbal" -> D),
      (0 until NSupplier).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99))))
    table("part",
      st("p_partkey" -> L, "p_name" -> S, "p_brand" -> S, "p_type" -> S,
        "p_size" -> I, "p_retailprice" -> D),
      (0 until NPart).map(i => Row(i.toLong,
        adjectives(r.nextInt(adjectives.size)) + " " + nouns(r.nextInt(nouns.size)),
        s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(partTypes.size)),
        1 + r.nextInt(50), 900.0 + (i % 200) / 10.0)))
    val o0 = LocalDate.of(1995, 1, 1); val o1 = LocalDate.of(2001, 8, 1)
    table("orders",
      st("o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S, "o_totalprice" -> D,
        "o_orderdate" -> TS, "o_orderpriority" -> S),
      (0 until NOrders).map(i => Row(i.toLong, r.nextInt(NCustomer).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), money(r, 1000, 500000),
        midnight(day(r, o0, o1)), priorities(r.nextInt(priorities.size)))))
    val l0 = LocalDate.of(1995, 1, 2); val l1 = LocalDate.of(2001, 11, 4)
    table("lineitem",
      st("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L, "l_linenumber" -> I,
        "l_quantity" -> D, "l_extendedprice" -> D, "l_discount" -> D, "l_tax" -> D,
        "l_returnflag" -> S, "l_linestatus" -> S, "l_shipdate" -> TS),
      (0 until NLineitem).map { _ =>
        val qty = (1 + r.nextInt(50)).toDouble
        Row(r.nextInt(NOrders).toLong, r.nextInt(NPart).toLong, r.nextInt(NSupplier).toLong,
          1 + r.nextInt(7), qty, math.round(money(r, 900, 2100) * qty * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          midnight(day(r, l0, l1)))
      })
    // events: ascending timestamps over January 2024, microsecond precision
    val e0 = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
    val span = 30L * 86400L * 1000000L
    val eventTs = Seq.fill(NEvents)((r.nextDouble() * span).toLong).sorted
    table("events",
      st("event_id" -> L, "ts" -> TS, "user_id" -> L, "event_type" -> S, "value" -> D,
        "props" -> S),
      eventTs.zipWithIndex.map { case (us, i) =>
        val micros = e0 + us
        val t = new Timestamp(Math.floorDiv(micros, 1000L))
        t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        Row(i.toLong, t, r.nextInt(15).toLong, eventTypes(r.nextInt(eventTypes.size)),
          money(r, 0, 330), s"""{"k": ${r.nextInt(100)}}""")
      })
    table("documents",
      st("doc_id" -> L, "text" -> S, "lang" -> S, "source" -> S, "n_chars" -> L),
      (0 until NDocuments).map { i =>
        val text = Seq.fill(20 + r.nextInt(80))(vocab(r.nextInt(vocab.size))).mkString(" ")
        Row(i.toLong, text, langs(r.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
      })
    table("embeddings",
      StructType(Seq(StructField("vec_id", L),
        StructField("embedding", ArrayType(FloatType)), StructField("label", I))),
      (0 until NEmbeddings).map { i =>
        val v = Array.fill(Dim)(r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try tables.map { case (name, schema, rows) =>
      pool.submit(new Runnable { def run(): Unit = writeTable(spark, dir, name, schema, rows) })
    }.foreach(_.get())
    finally pool.shutdown()
  }
}
