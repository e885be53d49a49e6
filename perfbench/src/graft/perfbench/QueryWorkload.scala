package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** A workload made of `SparkEntry` queries over seeded tables: each op
  * is one query, built (the function call; eager for scenario queries)
  * and forced with `count()`. The seed sets the order. The verifying
  * pass writes every output for the DuckDB oracle check; later passes
  * must reproduce the verified row counts.
  */
final class QueryWorkload(val name: String, val ops: Seq[String]) extends Workload {
  val warmsUp = true
  private var dataDir: String = _
  private val verifiedCounts = mutable.Map.empty[String, Long]

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    TableGen.write(spark, dir.toString, seed)
    dataDir = dir.toString
  }

  def dataPath: String = dataDir

  def pass(ctx: PassCtx, order: Seq[Int]): PassResult = {
    val spark = ctx.spark
    val queries = SparkEntry.queries
    val verifyDir = ctx.work.getParent.resolve("verify")
    val runs = order.map(ops).zipWithIndex.map { case (q, i) =>
      val fn = queries(q)
      var out: DataFrame = null
      var n = -1L
      val outDir = verifyDir.resolve(q).toString
      // the verifying pass is the warm-up, timed into set-up: it forces each op by
      // writing its output for the oracle instead of counting, so the
      // plan runs once, not twice
      val run = Harness.runOp(ctx, i, q, Seq(ctx.tmp)) { ph =>
        Harness.timed(ph, "build") { out = fn(spark, dataDir) }
        if (ctx.traced) Harness.timed(ph, "plan") { out.queryExecution.executedPlan }
        Harness.timed(ph, "exec") {
          if (ctx.verify) out.write.mode("overwrite").parquet(outDir) else n = out.count()
        }
      }
      // outside the timed op: hold later executions to the verified count
      val checked =
        if (!run.ok) run
        else try {
          if (ctx.verify) {
            verifiedCounts(q) = spark.read.parquet(outDir).count()
            run
          } else if (verifiedCounts.get(q).exists(_ != n))
            run.copy(error = Some(s"row count $n differs from the verified ${verifiedCounts(q)}"))
          else run
        } catch {
          case e: Throwable => run.copy(error = Some(s"output check: ${e.getMessage}".take(2000)))
        }
      checked
    }.toVector
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val t = Harness.totals(ctx, runs)
    val runS = runs.filter(_.ok).map(_.seconds).sum
    val rows = if (name == "stream") t.streamRows.toDouble else t.inputRecords.toDouble
    val writeAmp = (t.outputBytes + t.shuffleWrite).toDouble / math.max(1L, t.inputBytes)
    val layer =
      if (!ctx.traced) Map.empty[String, Double]
      else Harness.layerMetrics(ctx, runs) ++ Seq("ann", "dedup", "text", "mm").map { f =>
        s"ops.${f}_s" -> runs.filter(r => r.ok && r.name.startsWith(f + "_")).map(_.seconds).sum
      }
    PassResult(runs, rows / math.max(runS, 1e-9), writeAmp, layer)
  }

  /** The oracle SQL of every op, for the DuckDB check after the run. */
  def oracles: Map[String, String] = ops.map(q => q -> SparkEntry.oracleSql(q)).toMap
}

object QueryWorkload {
  /** The streaming/CDC scenario queries: stateful and stateless drains,
    * the fact-ingest and change-feed commits, and the census store,
    * chosen so one warm pass stays under ten seconds on four cores.
    */
  val streamOps: Seq[String] = Seq(
    "q_stream_window", "q_stream_dedup", "q_stream_enrich", "q_stream_funnel",
    "q_stream_anomaly", "q_stream_ingest", "q_stream_cdf", "q_stream_census",
    "q_cdf_apply", "q_cdf_compact")

  /** The read-only curation operators, spread over the four families and
    * sized like [[streamOps]].
    */
  val curationOps: Seq[String] = Seq(
    "ann_brute", "ann_ivf", "ann_ivfpq", "ann_search_stored",
    "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_embed_lsh",
    "text_bm25", "text_langid", "text_quality",
    "mm_dedup", "mm_imagehash")

  def apply(name: String): QueryWorkload = {
    val ops = name match {
      case "stream" => streamOps
      case "curation" => curationOps
      case _ => sys.error(s"unknown query workload $name")
    }
    val missing = ops.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry: ${missing.mkString(", ")}")
    new QueryWorkload(name, ops)
  }
}
