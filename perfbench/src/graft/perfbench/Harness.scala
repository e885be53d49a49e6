package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one pass needs: the session, the listener rollups, where its
  * scratch lives, and whether it traces (disk walks, catalog listing,
  * spans) or verifies (keeps outputs for the oracle check).
  */
final class PassCtx(val spark: SparkSession, val rec: Recorder, val index: Int,
                    val traced: Boolean, val verify: Boolean, val tmp: Path,
                    val work: Path, val spans: mutable.ArrayBuffer[Span]) {
  def span[T](name: String, parent: String, op: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally spans += Span(name, t0, System.nanoTime(), parent, op)
  }
}

/** One op execution. `phases` holds the sub-timings the op reports
  * (build/plan/exec for a query); `written` is (bytes, files, commits)
  * from the traced disk walk.
  */
final case class OpRun(name: String, index: Int, seconds: Double, startMs: Long, endMs: Long,
                       error: Option[String], phases: Map[String, Double],
                       written: (Long, Long, Long), tablesLeft: Int) {
  def ok: Boolean = error.isEmpty
}

/** One pass: its op runs, rows per second of run time, write
  * amplification and (traced) per-layer metrics; the harness adds what
  * the pass left behind and the heap after it.
  */
final case class PassResult(runs: Vector[OpRun], rows: Double, writeAmp: Double,
                            layer: Map[String, Double], leaked: Int = 0,
                            tablesLeft: Int = 0, heapMb: Double = 0.0) {
  def runS: Double = runs.filter(_.ok).map(_.seconds).sum
  def traced: Boolean = layer.nonEmpty
}

object Harness {
  /** One session configuration: the repo bench's settings, with every
    * scratch location pinned under the run's root.
    */
  def session(cores: Int, root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("spark-warehouse").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` as op `index`: its Spark jobs and streaming queries
    * roll up under the index, failures are caught and never timed, and
    * a traced pass walks `roots` before and after.
    */
  def runOp(ctx: PassCtx, index: Int, name: String, roots: Seq[Path])
           (body: mutable.Map[String, Double] => Unit): OpRun = {
    val sc = ctx.spark.sparkContext
    ctx.spark.catalog.clearCache()
    val before = if (ctx.traced) Disk.snap(roots) else Map.empty[String, Disk.Entry]
    val phases = mutable.Map.empty[String, Double]
    ctx.rec.currentOp = index
    sc.setLocalProperty(Recorder.OpProp, index.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val error =
      try { body(phases); None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(2000)) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    sc.setLocalProperty(Recorder.OpProp, null)
    ctx.rec.currentOp = -1
    if (ctx.traced) ctx.spans += Span(name, t0, t0 + (seconds * 1e9).toLong, s"pass-${ctx.index}",
      index.toString)
    val (written, tables) =
      if (!ctx.traced) ((0L, 0L, 0L), 0)
      else (Disk.written(before, Disk.snap(roots)), ctx.spark.catalog.listTables().count().toInt)
    error.foreach(e => System.err.println(s"[perfbench] FAILED $name: $e"))
    OpRun(name, index, seconds, startMs, endMs, error, phases.toMap, written, tables)
  }

  def timed(phases: mutable.Map[String, Double], name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** End-of-pass hygiene, shared by every workload: count and delete
    * what the pass left in the temp root, drop the catalog entries it
    * left behind (stale ones would point at deleted dirs), and read the
    * heap after a forced GC when the pass reports it.
    */
  def endPass(ctx: PassCtx, tmpBefore: Set[Path], readHeap: Boolean): (Int, Int, Double) = {
    val spark = ctx.spark
    spark.streams.active.foreach(_.stop())
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val left = Disk.entries(ctx.tmp) -- tmpBefore
    left.foreach(Disk.deleteTree)
    Disk.deleteTree(ctx.work)
    val tables = spark.catalog.listTables().collect().toSeq
    tables.foreach { t =>
      if (t.isTemporary) spark.catalog.dropTempView(t.name)
      else spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }
    spark.catalog.clearCache()
    (left.size, tables.size, if (readHeap) retainedHeapMb() else 0.0)
  }

  /** Heap in use after a forced GC, once it stops moving: Spark's
    * ContextCleaner frees broadcast and shuffle blocks on its own thread
    * only after a GC has collected their handles, so a single reading
    * lands before or after that cleanup at random.
    */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def read(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    var prev = read()
    var cur = prev
    var i = 0
    do { Thread.sleep(200); prev = cur; cur = read(); i += 1 }
    while (math.abs(cur - prev) > 1.0 && i < 10)
    cur
  }

  /** Per-layer rollups every workload shares, from a traced pass. Spark
    * counts are per-op means; streaming and warehouse figures are pass
    * totals.
    */
  def layerMetrics(ctx: PassCtx, runs: Seq[OpRun]): Map[String, Double] = {
    val ok = runs.filter(_.ok)
    val n = math.max(1, ok.size).toDouble
    val st = ok.map(r => r -> ctx.rec.stats(r.index))
    def mean(f: OpStats => Double): Double = st.map { case (_, s) => f(s) }.sum / n
    val gap = st.map { case (r, s) =>
      math.max(0L, (r.endMs - r.startMs) - s.jobCoveredMs(r.startMs, r.endMs)) / 1e3
    }.sum / n
    def phase(k: String): Double = st.map(_._2.phasesMs(k)).sum / 1e3
    val batchS = phase("triggerExecution")
    // driver time of the streaming ops around their micro-batches
    val outsideS = st.filter(_._2.batches > 0).map { case (r, s) =>
      r.phases.getOrElse("build", 0.0) - s.phasesMs("triggerExecution") / 1e3
    }.sum
    Map(
      "spark.jobs" -> mean(_.jobs.toDouble),
      "spark.stages" -> mean(_.stages.toDouble),
      "spark.tasks" -> mean(_.tasks.toDouble),
      "spark.task_s" -> mean(_.taskMs / 1e3),
      "spark.gc_s" -> mean(_.gcMs / 1e3),
      "spark.shuffle_read_bytes" -> mean(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" -> mean(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> mean(_.spill.toDouble),
      "spark.input_bytes" -> mean(_.inputBytes.toDouble),
      "spark.output_bytes" -> mean(_.outputBytes.toDouble),
      "spark.driver_gap_s" -> gap,
      "queries.build_s" -> ok.flatMap(_.phases.get("build")).sum / n,
      "queries.plan_s" -> ok.flatMap(_.phases.get("plan")).sum / n,
      "queries.exec_s" -> ok.flatMap(_.phases.get("exec")).sum / n,
      "streaming.batches" -> st.map(_._2.batches).sum.toDouble,
      "streaming.input_rows" -> st.map(_._2.streamRows).sum.toDouble,
      "streaming.batch_s" -> batchS,
      "streaming.addBatch_s" -> phase("addBatch"),
      "streaming.queryPlanning_s" -> phase("queryPlanning"),
      "streaming.walCommit_s" -> phase("walCommit"),
      "streaming.commitOffsets_s" -> phase("commitOffsets"),
      "streaming.latestOffset_s" -> phase("latestOffset"),
      "streaming.outside_batch_s" -> outsideS,
      "warehouse.bytes_written" -> ok.map(_.written._1).sum.toDouble,
      "warehouse.files_written" -> ok.map(_.written._2).sum.toDouble,
      "warehouse.commits" -> ok.map(_.written._3).sum.toDouble,
      "warehouse.session_tables_left" -> runs.lastOption.map(_.tablesLeft.toDouble).getOrElse(0.0))
  }

  /** Task-level totals of a pass's ops (harness jobs excluded). */
  def totals(ctx: PassCtx, runs: Seq[OpRun]): OpStats = {
    val t = new OpStats
    runs.filter(_.ok).map(r => ctx.rec.stats(r.index)).foreach { s =>
      t.inputBytes += s.inputBytes; t.inputRecords += s.inputRecords
      t.outputBytes += s.outputBytes; t.shuffleWrite += s.shuffleWrite
      t.streamRows += s.streamRows
    }
    t
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least 10 samples above it;
    * below 20 samples no percentile past the median qualifies and the
    * tail falls back to the maximum (stated as p100).
    */
  def tailPercentile(n: Int): Int =
    if (n < 20) 100 else math.floor(100.0 * (1.0 - 10.0 / n)).toInt

  def listFiles(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally st.close()
  }
}
