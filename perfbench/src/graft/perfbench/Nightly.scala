package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}
import org.apache.spark.storage.StorageLevel
import graft.etl.{Pipeline, Reports, Schemas, Scd1, Warehouse}
import graft.sources.{BankSource, DropFolder, FileSources}

/** The paper's nightly job: consecutive `Pipeline.run` nights on one
  * fresh `Warehouse` per pass, in `Reports.Faithful` mode. An op is one
  * night. The verifying pass checks each night's `rep_fraud` increment
  * against an independent SQL recomputation and, after the last night,
  * the dims, facts and blacklist against the generator's expected image;
  * later passes must reproduce the verified final state exactly.
  */
final class NightlyWorkload extends Workload {
  val name = "nightly"
  val warmsUp = false
  private var nights: Seq[Night] = Nil
  private var verifiedState: Map[String, (Long, BigDecimal)] = Map.empty

  def ops: Seq[String] = nights.map(n => f"night-${n.index}%02d")

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit =
    nights = NightGen.generate(dir, seed)

  private def bankSchema(s: StructType) = StructType(s.fields.filterNot(_.name == "processed_dt"))
  private def bank(n: Night): BankSource = new BankSource {
    def clients(spark: SparkSession): DataFrame =
      spark.createDataFrame(n.clients.asJava, bankSchema(Schemas.clients))
    def accounts(spark: SparkSession): DataFrame =
      spark.createDataFrame(n.accounts.asJava, bankSchema(Schemas.accounts))
    def cards(spark: SparkSession): DataFrame =
      spark.createDataFrame(n.cards.asJava, bankSchema(Schemas.cards))
  }

  private def stage(n: Night, drop: Path): Unit = {
    Files.createDirectories(drop)
    Harness.listFiles(n.dropDir).foreach(f =>
      Files.copy(f, drop.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }

  def pass(ctx: PassCtx, order: Seq[Int]): PassResult = {
    val spark = ctx.spark
    val whRoot = ctx.work.resolve("wh")
    val drop = ctx.work.resolve("drop")
    val wh = new Warehouse(spark, whRoot.toString)
    val pipe = new Pipeline(spark, wh, Reports.Faithful)
    val replay = if (ctx.traced) Some(new Replay(ctx, ctx.work)) else None
    var rep = (0L, BigDecimal(0))
    var finalState = Map.empty[String, (Long, BigDecimal)]
    val runs = mutable.ArrayBuffer.empty[OpRun]
    val it = nights.iterator
    while (it.hasNext && runs.forall(_.ok)) {
      val n = it.next()
      stage(n, drop)
      val run = Harness.runOp(ctx, n.index, f"night-${n.index}%02d", Seq(whRoot)) { _ =>
        pipe.run(bank(n), Some(drop.toString), n.runTs)
      }
      val checked =
        if (!run.ok) run
        else try {
          val errs = mutable.ArrayBuffer.empty[String]
          if (ctx.verify) {
            val now = Check.fingerprint(wh.read("rep_fraud"))
            val exp = Check.reportsIncrement(spark, wh)
            val got = (now._1 - rep._1, now._2 - rep._2)
            if (got != exp) errs += s"rep_fraud increment $got != recomputed $exp"
            rep = now
            if (!it.hasNext) errs ++= Check.image(wh, n)
          }
          if (!it.hasNext) {
            finalState = Check.state(wh)
            if (ctx.verify) verifiedState = finalState
            else if (finalState != verifiedState) errs += "final warehouse state differs from the verified pass"
          }
          if (errs.isEmpty) run else run.copy(error = Some(errs.mkString("; ")))
        } catch {
          case e: Throwable => run.copy(error = Some(s"output check: ${e.getMessage}".take(2000)))
        }
      // the layer spans are only worth reading while the replay still
      // does what Pipeline.run does: a diverged replay fails the last night
      val replayed = replay.filter(_ => checked.ok).fold(checked) { r =>
        try {
          r.night(n, bank(n))
          if (it.hasNext || r.state == finalState) checked
          else checked.copy(error = Some("replay diverged from Pipeline.run"))
        } catch {
          case e: Throwable => checked.copy(error = Some(s"replay: ${e.getMessage}".take(2000)))
        }
      }
      replayed.error.foreach(e => System.err.println(s"[perfbench] FAILED ${run.name}: $e"))
      runs += replayed
    }
    val done = nights.take(runs.size)
    val runS = runs.filter(_.ok).map(_.seconds).sum
    val rows = done.map(_.stagedRows).sum.toDouble
    val writeAmp = Disk.bytes(Seq(whRoot)).toDouble / done.map(_.inputBytes).sum
    val layer =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        Harness.layerMetrics(ctx, runs.toSeq) ++ replay.get.metrics(runS)
      }
    PassResult(runs.toVector, rows / math.max(runS, 1e-9), writeAmp, layer)
  }
}

/** Correctness checks for the nightly workload, written independently
  * of `graft.etl.Reports`: plain SQL text over the committed tables.
  */
object Check {
  /** Row count plus an order-independent hash (sum of row hashes). */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col): _*).cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  val tables: Seq[String] = Seq("dim_clients", "dim_accounts", "dim_cards", "dim_terminals",
    "fact_transactions", "fact_blacklist", "rep_fraud")

  def state(wh: Warehouse): Map[String, (Long, BigDecimal)] =
    tables.map(t => t -> fingerprint(wh.read(t))).toMap

  /** The three faithful reports over the committed state, recomputed. */
  def reportsIncrement(spark: SparkSession, wh: Warehouse): (Long, BigDecimal) = {
    val views = Seq("fact_transactions" -> "pb_ftx", "dim_cards" -> "pb_dc",
      "dim_accounts" -> "pb_da", "dim_clients" -> "pb_dcl", "dim_terminals" -> "pb_dt")
    views.foreach { case (t, v) => wh.read(t).createOrReplaceTempView(v) }
    try fingerprint(spark.sql(
      """WITH chain AS (
        |  SELECT ft.trans_id, ft.trans_date, dcl.passport_num, dcl.phone, da.valid_to,
        |         dcl.last_name || ' ' || dcl.first_name || ' ' || dcl.patronymic AS fio
        |  FROM pb_ftx ft
        |  LEFT JOIN pb_dc dc ON trim(ft.card_num) = trim(dc.card_num)
        |  LEFT JOIN pb_da da ON dc.account_num = da.account_num
        |  LEFT JOIN pb_dcl dcl ON da.client = dcl.client_id),
        |chain3 AS (
        |  SELECT ft.trans_id, ft.trans_date, dcl.passport_num, dcl.phone,
        |         dcl.last_name || ' ' || dcl.first_name || ' ' || dcl.patronymic AS fio
        |  FROM pb_ftx ft
        |  LEFT JOIN pb_dc dc ON replace(ft.card_num, ' ', '') = replace(dc.card_num, ' ', '')
        |  LEFT JOIN pb_da da ON dc.account_num = da.account_num
        |  LEFT JOIN pb_dcl dcl ON da.client = dcl.client_id),
        |pre AS (
        |  SELECT ft.trans_id, dt.terminal_city,
        |    lag(dt.terminal_city) OVER (PARTITION BY dc.card_num
        |      ORDER BY ft.trans_date, ft.trans_id) AS prev_city,
        |    (unix_timestamp(ft.trans_date) - lag(unix_timestamp(ft.trans_date))
        |      OVER (PARTITION BY dc.card_num ORDER BY ft.trans_date, ft.trans_id)) / 3600.0 AS hrs
        |  FROM pb_ftx ft
        |  LEFT JOIN pb_dc dc ON trim(ft.card_num) = trim(dc.card_num)
        |  LEFT JOIN pb_dt dt ON ft.terminal = dt.terminal_id),
        |flagged AS (SELECT trans_id FROM pre WHERE terminal_city <> prev_city AND hrs < 1.0)
        |SELECT trans_date AS event_dt, passport_num AS passport, fio, phone, '1' AS event_type,
        |       CAST(to_date(trans_date) AS TIMESTAMP) AS report_dt FROM chain
        |UNION ALL
        |SELECT trans_date, passport_num, fio, phone, '2', CAST(to_date(trans_date) AS TIMESTAMP)
        |FROM chain WHERE valid_to < trans_date
        |UNION ALL
        |SELECT trans_date, passport_num, fio, phone, '3', CAST(to_date(trans_date) AS TIMESTAMP)
        |FROM chain3 WHERE trans_id IN (SELECT trans_id FROM flagged)""".stripMargin))
    finally views.foreach { case (_, v) => spark.catalog.dropTempView(v) }
  }

  /** The warehouse after the last night against the generator's image:
    * each dim equals the last snapshot on key and attributes, the facts
    * hold every distinct id once, the blacklist every passport once.
    */
  def image(wh: Warehouse, last: Night): Seq[String] = {
    def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    def expected(rs: Seq[org.apache.spark.sql.Row], width: Int): Seq[String] =
      rs.map(r => (0 until width).map(r.get).mkString("|")).sorted
    val dims = Seq(
      ("dim_clients", last.clients), ("dim_accounts", last.accounts),
      ("dim_cards", last.cards), ("dim_terminals", last.terminals))
    val dimErrs = dims.flatMap { case (dim, snapshot) =>
      val cols = Schemas.dimKeys(dim) +: Schemas.dimCompareCols(dim)
      val got = rows(wh.read(dim), cols)
      val exp = expected(snapshot, cols.size)
      if (got == exp) None
      else Some(s"$dim: ${got.size} rows differ from the expected ${exp.size}-row SCD1 image")
    }
    val ids = rows(wh.read("fact_transactions"), Seq("trans_id"))
    val idErr =
      if (ids == last.txIds.sorted) None
      else Some(s"fact_transactions: ${ids.size} ids, expected ${last.txIds.size} distinct")
    val passports = rows(wh.read("fact_blacklist"), Seq("passport_num"))
    val blErr =
      if (passports == last.blacklist.sorted) None
      else Some(s"fact_blacklist: ${passports.size} rows, expected ${last.blacklist.size} passports")
    dimErrs ++ idErr ++ blErr
  }
}

/** The traced pass's layer attribution: the same night, replayed on a
  * second warehouse through each layer's public entry point, with each
  * layer's output forced before the next layer reads it so its time
  * lands in its own span. The sequence mirrors `Pipeline.run`; the
  * replayed warehouse must end in the same state as the pipeline's, or
  * the pass fails.
  */
final class Replay(ctx: PassCtx, work: Path) {
  private val spark = ctx.spark
  private val root = work.resolve("wh-replay")
  private val drop = work.resolve("drop-replay")
  private val wh = new Warehouse(spark, root.toString)
  private val spans = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var touched, buckets = 0L

  private def span[T](layer: String, night: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    try ctx.span(layer, f"replay-night-$night%02d", night.toString)(body)
    finally spans(layer) += (System.nanoTime() - t0) / 1e9
  }
  private def forced(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  def night(n: Night, bank: BankSource): Unit = {
    Files.createDirectories(drop)
    Harness.listFiles(n.dropDir).foreach(f =>
      Files.copy(f, drop.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    val k = n.index
    val ts = new Timestamp(n.runTs.getTime / 1000 * 1000)
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { val p = forced(df); held += p; p }
    val txn = wh.begin()

    val (files, parsed, bankDfs) = span("sources.parse_s", k) {
      val files = DropFolder.discover(drop.toString)
      val parsed = files.map { f =>
        val path = f.path.toString
        f -> keep(f.kind match {
          case DropFolder.Transactions => FileSources.transactionsCsv(spark, path)
          case DropFolder.Terminals => FileSources.terminalsXlsx(spark, path,
            Timestamp.valueOf(f.fileDate.atStartOfDay), ts)
          case DropFolder.Blacklist => FileSources.blacklistXlsx(spark, path)
        })
      }
      (files, parsed, Seq("clients" -> bank.clients(spark), "accounts" -> bank.accounts(spark),
        "cards" -> bank.cards(spark)))
    }
    span("warehouse.commit_s", k) {
      bankDfs.foreach { case (t, df) => txn.overwrite("stg_" + t, df.withColumn("processed_dt", lit(ts))) }
      Seq("stg_terminals", "stg_transactions", "stg_blacklist").foreach(t => txn.overwrite(t, wh.emptyDf(t)))
      parsed.foreach { case (f, df) =>
        val stg = f.kind match {
          case DropFolder.Transactions => "stg_transactions"
          case DropFolder.Terminals => "stg_terminals"
          case DropFolder.Blacklist => "stg_blacklist"
        }
        txn.append(stg, df)
      }
    }
    Schemas.dimKeys.keys.toSeq.sorted.foreach { dim =>
      val stgDf = txn.read("stg_" + dim.stripPrefix("dim_"))
      val dimDf = txn.read(dim)
      val keys = Seq(Schemas.dimKeys(dim))
      val cmp = Schemas.dimCompareCols(dim)
      wh.bucketSpec.get(dim) match {
        case Some((bucketKey, nb)) if keys == Seq(bucketKey) &&
            wh.catalog().getOrElse(dim, Nil).length == 1 =>
          val (hit, merged) = span("scd1.merge_s", k) {
            val hit = Scd1.changedKeyBuckets(dimDf, stgDf, keys, cmp, nb, deletesVisible = true)
            val inT = Scd1.inBuckets(keys, nb, hit.toIndexedSeq)
            (hit, if (hit.isEmpty) None
              else Some(keep(Scd1.mergeAudit(dimDf.filter(inT), stgDf.filter(inT), keys, cmp, ts))))
          }
          touched += hit.length; buckets += nb
          merged.foreach(m => span("warehouse.commit_s", k)(txn.overwriteBuckets(dim, m, hit.toIndexedSeq)))
        case other =>
          val merged = span("scd1.merge_s", k)(keep(Scd1.mergeAudit(dimDf, stgDf, keys, cmp, ts)))
          val nb = other.map(_._2).getOrElse(1)
          touched += nb; buckets += nb
          span("warehouse.commit_s", k)(txn.overwrite(dim, merged))
      }
    }
    span("warehouse.commit_s", k) {
      val metaNew = Schemas.dimKeys.keys.toSeq.sorted.map { dim =>
        val wm = txn.read("stg_" + dim.stripPrefix("dim_"))
          .agg(coalesce(max("update_dt"), max("create_dt"))).head().get(0)
        ("deaian", "lapp_dwh_" + dim, Option(wm).map(_.asInstanceOf[Timestamp]))
      }
      import spark.implicits._
      val fresh = metaNew.toDF("schema_name", "table_name", "max_update_dt")
      val kept = txn.read("meta").alias("m")
        .join(fresh.select(col("schema_name").as("s"), col("table_name").as("t")),
          col("m.schema_name") === col("s") && col("m.table_name") === col("t"), "left_anti")
      txn.overwrite("meta", kept.unionByName(fresh))
    }
    Seq(("fact_blacklist", "stg_blacklist", "passport_num"),
      ("fact_transactions", "stg_transactions", "trans_id")).foreach { case (fact, stg, id) =>
      // Bloom key filter over the staged ids, then the anti-join cascade
      val fresh = span("fact.dedup_s", k)(keep(Pipeline.freshAgainstTable(txn, fact, txn.read(stg), id)))
      span("warehouse.commit_s", k)(txn.append(fact, fresh))
    }
    val reports = span("reports.build_s", k) {
      val (fact, cards, accounts, clients, terminals, black) = (txn.read("fact_transactions"),
        txn.read("dim_cards"), txn.read("dim_accounts"), txn.read("dim_clients"),
        txn.read("dim_terminals"), txn.read("fact_blacklist"))
      Seq(
        Reports.fraudExpiredPassport(fact, cards, accounts, clients, black, Reports.Faithful),
        Reports.fraudInactiveAccount(fact, cards, accounts, clients),
        Reports.fraudCityHopping(fact, cards, terminals, accounts, clients)).map(keep)
    }
    span("warehouse.commit_s", k) {
      reports.foreach(txn.append("rep_fraud", _))
      txn.commit()
    }
    files.foreach(DropFolder.archive)
    held.foreach(_.unpersist())
  }

  /** The replayed warehouse, fingerprinted like the pipeline's. */
  def state: Map[String, (Long, BigDecimal)] = Check.state(wh)

  /** Layer spans and their sum against the pipeline's own time. */
  def metrics(pipelineRunS: Double): Map[String, Double] = {
    val layers = Seq("sources.parse_s", "scd1.merge_s", "fact.dedup_s", "reports.build_s",
      "warehouse.commit_s")
    val attributed = layers.map(spans).sum
    layers.map(l => l -> spans(l)).toMap ++ Map(
      "scd1.touched_bucket_ratio" -> touched.toDouble / math.max(1L, buckets),
      "pipeline.run_s" -> pipelineRunS,
      "pipeline.unattributed_s" -> (pipelineRunS - attributed),
      "pipeline.unattributed_share" -> (pipelineRunS - attributed) / math.max(pipelineRunS, 1e-9))
  }
}
