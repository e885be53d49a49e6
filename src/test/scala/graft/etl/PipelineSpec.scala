package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import graft.TestSpark
import graft.sources.BankSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Pipeline.run` as a stage DAG of concurrent steps: a night that
  * loads staging once per table and appends one report dir, and a
  * failing step that is rethrown with nothing committed and no step
  * thread left behind.
  */
class PipelineSpec extends AnyFunSuite {
  import PipelineSpec._
  lazy val spark: SparkSession = TestSpark.spark

  private def pipelineThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-pipeline-")).toSet

  /** A fresh warehouse and drop folder, both deleted after `body`. */
  private def withDirs(body: (Warehouse, Path) => Unit): Unit = {
    val wh = new Warehouse(spark, Files.createTempDirectory("pipe-wh").toString)
    val drop = Files.createTempDirectory("pipe-drop")
    try body(wh, drop)
    finally Seq(java.nio.file.Paths.get(wh.root), drop).foreach(wh.deleteRecursively)
  }

  test("a night loads each staging table once and appends one rep_fraud dir") {
    withDirs { (wh, drop) =>
      val pipe = new Pipeline(spark, wh, Reports.Faithful)
      // two transactions files in one drop: staging holds their union
      writeTransactions(drop, "transactions_01032021.txt", Seq(1, 2, 3))
      writeTransactions(drop, "transactions_02032021.txt", Seq(4))
      pipe.run(bank, Some(drop.toString), Timestamp.valueOf("2021-03-02 23:55:00"))

      val cat = wh.catalog()
      Seq("stg_clients", "stg_accounts", "stg_cards", "stg_terminals",
        "stg_transactions", "stg_blacklist").foreach { t =>
        assert(cat(t).length == 1, s"$t must be loaded by one write, got ${cat(t)}")
      }
      assert(wh.read("stg_transactions").count() == 4)
      assert(wh.read("fact_transactions").count() == 4)
      assert(cat("rep_fraud").length == 1, "one report append per night")
      // faithful report №1 flags every transaction; №2 the ones on the
      // expired contract (A2 ← K2 ← T1, T4); №3 finds no city hop
      // without terminals
      assert(wh.read("rep_fraud").groupBy("event_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("1" -> 4L, "2" -> 2L))
      assert(Files.exists(drop.resolve("archive")), "inputs archive after the commit")
    }
  }

  test("a failing step is rethrown after its siblings; nothing commits, no step thread survives") {
    withDirs { (wh, drop) =>
      val pipe = new Pipeline(spark, wh, Reports.Faithful)
      pipe.run(bank, None, Timestamp.valueOf("2021-03-01 23:55:00"))
      val before = wh.catalog()
      val versions = wh.versions()
      val broken = new BankSource {
        def clients(s: SparkSession): DataFrame = bank.clients(s)
        def accounts(s: SparkSession): DataFrame = bank.accounts(s)
        def cards(s: SparkSession): DataFrame = throw new IllegalStateException("cards source down")
      }
      writeTransactions(drop, "transactions_02032021.txt", Seq(7, 8))
      val e = intercept[IllegalStateException](
        pipe.run(broken, Some(drop.toString), Timestamp.valueOf("2021-03-02 23:55:00")))
      assert(e.getMessage == "cards source down")
      assert(wh.catalog() == before, "a failed run must commit nothing")
      assert(wh.versions() == versions)
      assert(Files.exists(drop.resolve("transactions_02032021.txt")),
        "a failed run must not archive its inputs")
      val left = pipelineThreads()
      left.foreach(_.join(10000))
      assert(left.forall(!_.isAlive), s"step threads still alive: ${left.map(_.getName)}")
    }
  }
}

object PipelineSpec {
  private val feb1 = Timestamp.valueOf("2021-02-01 00:00:00")

  /** Three clients, each with one account and one card; A2's contract
    * has expired.
    */
  val bank: BankSource = new BankSource {
    def clients(s: SparkSession): DataFrame = ReplayFixtures.clientsDf(s, (1 to 3).map(i =>
      (f"C$i%03d", s"Last$i", s"First$i", Some(s"Pat$i"), Date.valueOf("1980-01-01"),
        f"$i%04d 000000", Some(Date.valueOf("2030-01-01")), "+7 000", feb1,
        None: Option[Timestamp])))
    def accounts(s: SparkSession): DataFrame = ReplayFixtures.accountsDf(s, (1 to 3).map(i =>
      (s"A$i", Date.valueOf(if (i == 2) "2021-02-15" else "2030-01-01"), f"C$i%03d", feb1,
        None: Option[Timestamp])))
    def cards(s: SparkSession): DataFrame = ReplayFixtures.cardsDf(s, (1 to 3).map(i =>
      (s"K$i", s"A$i", feb1, None: Option[Timestamp])))
  }

  /** A drop-folder transactions file (`;`, decimal comma); transaction
    * `Ti` pays with card `K(i mod 3 + 1)` at 10:00 + i minutes on
    * 2021-03-01.
    */
  def writeTransactions(drop: Path, name: String, ids: Seq[Int]): Unit = {
    val lines = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal" +:
      ids.map(i => f"T$i;2021-03-01 ${10 + i / 60}%02d:${i % 60}%02d:00;${i * 10},50;K${i % 3 + 1};PAYMENT;SUCCESS;P$i")
    Files.write(drop.resolve(name), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }
}
