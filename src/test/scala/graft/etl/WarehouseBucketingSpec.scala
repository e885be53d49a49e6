package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, Timestamp}
import graft.TestSpark
import graft.sources.BankSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bucketed dim layout, wired into the Warehouse (SURVEY §4 scale
  * note; the promise at Scd1.scala): the SCD1 merge plans with NO
  * dim-side Exchange, and the nightly overwrite rewrites ONLY the
  * buckets containing changed keys — untouched buckets' files carry
  * into the new immutable dir byte-identical.
  */
class WarehouseBucketingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val feb1 = Timestamp.valueOf("2021-02-01 00:00:00")
  private val mar1 = Timestamp.valueOf("2021-03-01 23:55:00")
  private val mar2 = Timestamp.valueOf("2021-03-02 23:55:00")

  private def clientRow(i: Int, phone: String = "+7 000") =
    (f"C$i%03d", s"Last$i", s"First$i", Some(s"Pat$i"), Date.valueOf("1980-01-01"),
      f"$i%04d 000000", Some(Date.valueOf("2030-01-01")), phone, feb1,
      None: Option[Timestamp])

  private def clientsDf(rows: Seq[(String, String, String, Option[String], Date,
    String, Option[Date], String, Timestamp, Option[Timestamp])]): DataFrame =
    ReplayFixtures.clientsDf(spark, rows)

  private def snapshotWithProcessed(df: DataFrame): DataFrame =
    df.withColumn("processed_dt", lit(mar2))

  private def parquetFiles(dir: String): Map[String, Path] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> p).toMap

  test("SCD1 merge against a bucketed dim plans with zero dim-side Exchange") {
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-bkt-plan").toString)
    val txn = wh.begin()
    txn.overwrite("dim_clients",
      snapshotWithProcessed(clientsDf((1 to 40).map(clientRow(_)))))
    txn.commit()

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // at scale neither side broadcasts — that is the case the layout
    // exists for (locally the tiny snapshot would broadcast and hide
    // the shuffle this gate checks)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val snap = snapshotWithProcessed(clientsDf(
        (1 to 40).map(i => clientRow(i, if (i == 7) "+7 999" else "+7 000"))))
      val merged = Scd1.mergeAudit(wh.read("dim_clients"), snap,
        Seq("client_id"), Schemas.dimCompareCols("dim_clients"), mar2)
      val plan = merged.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"dim side should be a bucketed scan:\n$plan")
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"expected exactly ONE exchange (snapshot side only):\n$plan")

      // aggregation on the merge key rides the same layout
      val agg = wh.read("dim_clients").groupBy("client_id").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        "groupBy on the bucket key should need no exchange")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compact repairs a pre-bucketSpec dir into the bucketed layout") {
    val root = Files.createTempDirectory("wh-bkt-migrate").toString
    // a warehouse written BEFORE the table had a bucketSpec: plain files
    val legacy = new Warehouse(spark, root, bucketSpec = Map.empty)
    val t0 = legacy.begin()
    t0.overwrite("dim_clients", snapshotWithProcessed(clientsDf((1 to 40).map(clientRow(_)))))
    t0.commit()
    val expected = legacy.read("dim_clients").collect().map(_.toSeq).toSet

    // reopened with today's bucketSpec: the documented repair route
    val wh = new Warehouse(spark, root)
    wh.compact("dim_clients")
    val got = wh.read("dim_clients")
    assert(got.collect().map(_.toSeq).toSet == expected, "repair must not change data")
    // the layout pays off where it matters: a bucket-key aggregation
    // plans with no Exchange (a bare scan "disables" bucketed reading
    // because nothing needs the partitioning — assert on the plan that
    // does)
    val agg = got.groupBy("client_id").count()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "post-repair bucket-key aggregation must need no exchange")
  }

  test("partial overwrite rewrites only touched buckets; the rest carry over byte-identical") {
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-bkt-part").toString)
    val seed = clientsDf((1 to 40).map(clientRow(_)))
    val t0 = wh.begin()
    t0.overwrite("dim_clients", snapshotWithProcessed(seed))
    t0.commit()
    val oldDir = wh.catalog()("dim_clients").head
    val oldFiles = parquetFiles(oldDir)
    val n = wh.bucketSpec("dim_clients")._2

    // day 2: update C007's phone, delete C013, insert C041
    val snap = clientsDf((1 to 41).filter(_ != 13)
      .map(i => clientRow(i, if (i == 7) "+7 999" else "+7 000")))
    val keys = Seq("client_id")
    val cmp = Schemas.dimCompareCols("dim_clients")
    val expected = Scd1.mergeAudit(wh.read("dim_clients"),
      snapshotWithProcessed(snap), keys, cmp, mar2)
      .collect().map(_.toSeq).toSet

    val txn = wh.begin()
    val touched = Scd1.changedKeyBuckets(txn.read("dim_clients"),
      snapshotWithProcessed(snap), keys, cmp, n, deletesVisible = true)
    assert(touched.nonEmpty && touched.length <= 3,
      s"3 changed keys must touch at most 3 of $n buckets, got ${touched.toSeq}")
    val inT = Scd1.inBuckets(keys, n, touched.toIndexedSeq)
    txn.overwriteBuckets("dim_clients",
      Scd1.mergeAudit(txn.read("dim_clients").filter(inT),
        snapshotWithProcessed(snap).filter(inT), keys, cmp, mar2),
      touched.toIndexedSeq)
    txn.commit()

    // content: identical to the full (unpruned) merge
    val newDir = wh.catalog()("dim_clients").head
    assert(newDir != oldDir, "overwrite must land in a fresh immutable dir")
    assert(wh.read("dim_clients").collect().map(_.toSeq).toSet == expected)

    // layout: every untouched bucket's file is the SAME file (name and
    // bytes); only touched buckets got new files
    val newFiles = parquetFiles(newDir)
    val bucketRe = """.*_(\d+)(?:\..*)?$""".r
    def bucketOf(name: String): Int = name match { case bucketRe(b) => b.toInt }
    val carried = newFiles.filter { case (name, _) => oldFiles.contains(name) }
    assert(carried.nonEmpty, "expected untouched bucket files to carry over")
    carried.foreach { case (name, p) =>
      assert(!touched.contains(bucketOf(name)), s"touched bucket $name was carried")
      assert(Files.mismatch(p, oldFiles(name)) == -1L, s"$name not byte-identical")
    }
    newFiles.keys.filterNot(oldFiles.contains).foreach { name =>
      assert(touched.contains(bucketOf(name)), s"untouched bucket $name was rewritten")
    }
    // every old untouched bucket is accounted for
    oldFiles.keys.filterNot(n => touched.contains(bucketOf(n))).foreach { name =>
      assert(newFiles.contains(name), s"untouched bucket file $name missing from new dir")
    }
  }

  test("a pipeline run with no dim changes writes nothing for that dim") {
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-bkt-skip").toString)
    val pipe = new Pipeline(spark, wh, Reports.Corrected)
    val bank = new BankSource {
      def clients(s: SparkSession): DataFrame = clientsDf((1 to 10).map(clientRow(_)))
      def accounts(s: SparkSession): DataFrame = ReplayFixtures.accountsDf(s,
        Seq(("A1", Date.valueOf("2030-01-01"), "C001", feb1, None: Option[Timestamp])))
      def cards(s: SparkSession): DataFrame = ReplayFixtures.cardsDf(s,
        Seq(("K1", "A1", feb1, None: Option[Timestamp])))
    }
    pipe.run(bank, None, mar1)
    val dirsAfter1 = wh.catalog()("dim_clients")
    pipe.run(bank, None, mar2) // identical snapshot: zero inserts/updates/deletes
    assert(wh.catalog()("dim_clients") == dirsAfter1,
      "an all-unchanged merge must not rewrite the dim")
    assert(wh.read("dim_clients").count() == 10)
    // the changed-bucket detection still catches the NEXT real change
    val bank3 = new BankSource {
      def clients(s: SparkSession): DataFrame =
        clientsDf((1 to 10).map(i => clientRow(i, if (i == 3) "+7 777" else "+7 000")))
      def accounts(s: SparkSession): DataFrame = bank.accounts(s)
      def cards(s: SparkSession): DataFrame = bank.cards(s)
    }
    pipe.run(bank3, None, Timestamp.valueOf("2021-03-03 23:55:00"))
    assert(wh.catalog()("dim_clients") != dirsAfter1)
    assert(wh.read("dim_clients").filter(col("client_id") === "C003")
      .head().getAs[String]("phone") == "+7 777")
  }

  test("a full nightly run registers nothing in the session catalog") {
    // bucketed dirs are written and read from their files alone: two
    // nights cover the initial load, the partial bucket rewrite and the
    // per-dir bucketed fact reads of the dedup cascade
    val root = Files.createTempDirectory("wh-bkt-catalog")
    val drop = Files.createTempDirectory("wh-bkt-catalog-drop")
    val wh = new Warehouse(spark, root.toString)
    try {
      val before = spark.catalog.listTables().collect().map(_.name).toSet
      val pipe = new Pipeline(spark, wh, Reports.Faithful)
      PipelineSpec.writeTransactions(drop, "transactions_01032021.txt", Seq(1, 2, 3))
      pipe.run(PipelineSpec.bank, Some(drop.toString), mar1)
      PipelineSpec.writeTransactions(drop, "transactions_02032021.txt", Seq(3, 4, 5))
      pipe.run(PipelineSpec.bank, Some(drop.toString), mar2)
      assert(wh.read("fact_transactions").count() == 5)
      val after = spark.catalog.listTables().collect().map(_.name).toSet
      assert(after == before, s"the run registered tables: ${after -- before}")
    } finally Seq(root, drop).foreach(wh.deleteRecursively)
  }

  test("fact compaction preserves the partitioned+bucketed layout") {
    // compact() routes through the same writeDataDir as appends, so the
    // merged dir must carry BOTH layout halves: date subdirs (pruning)
    // and bucket-id file names (the single-dir bucketed read path +
    // future co-located appends).
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-fact-compact").toString)
    import spark.implicits._
    def batch(ids: Range, day: Int): org.apache.spark.sql.DataFrame =
      ids.map(i => (s"T$i", Timestamp.valueOf(f"2021-03-0$day 10:00:00"),
          BigDecimal(i), s"K$i", "PAY", "OK", s"A$i"))
        .toDF("trans_id", "trans_date", "amt", "card_num", "oper_type",
          "oper_result", "terminal")
    val t1 = wh.begin(); t1.append("fact_transactions", batch(1 to 50, 1)); t1.commit()
    val t2 = wh.begin(); t2.append("fact_transactions", batch(51 to 90, 2)); t2.commit()
    assert(wh.catalog()("fact_transactions").length == 2)

    wh.compact("fact_transactions")
    val dirs = wh.catalog()("fact_transactions")
    assert(dirs.length == 1)

    // both layout halves present in the merged dir
    val partDirs = Files.list(Paths.get(dirs.head)).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq
    assert(partDirs.count(_.startsWith("trans_dt=")) == 2,
      s"expected two date partitions, got $partDirs")

    // single-dir steady state: the bucketed read satisfies a groupBy on
    // the dedup key with no Exchange, and rows survived intact
    assert(wh.read("fact_transactions").count() == 90)
    val agg = wh.read("fact_transactions").groupBy("trans_id").count()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
      "groupBy on the bucket key should need no exchange after compaction")
  }
}
