package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

trait Workload {
  def name: String
  def ops: Seq[String]
  /** Writes the seeded inputs under `dir`; the last call's inputs are used. */
  def generate(spark: SparkSession, dir: Path, seed: Long): Unit
  /** Runs every op once, in `order` (indices into `ops`). */
  def pass(ctx: PassCtx, order: Seq[Int]): PassResult
  /** Whether the verifying pass is a warm-up, left out of the timings
    * and counted in set-up instead. Query workloads run in a
    * seed-shuffled order, so a cold pass would load JIT warm-up onto
    * different ops for each seed; nightly nights always run in the same
    * order, and the real job is a cold nightly process.
    */
  def warmsUp: Boolean
}

/** One benchmark run: set up, calibrate, run untraced passes in a closed
  * loop for the requested seconds (or, traced, the passes described at
  * the loop below), then write the run artifact as JSON.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <root> <artifact>
  */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6, "usage: Main <workload> <seed> <seconds> <trace> <root> <artifact>")
    val Array(workload, seedS, secondsS, traceS, rootS, artifact) = argv
    val (seed, seconds, traced) = (seedS.toLong, secondsS.toInt, traceS == "1")
    val root = Paths.get(rootS).toAbsolutePath
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    Files.createDirectories(tmp)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = Harness.session(cores, root)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.streams.addListener(rec.streaming)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val wl: Workload = workload match {
      case "nightly" => new NightlyWorkload
      case "stream" | "curation" => QueryWorkload(workload)
      case other => sys.error(s"unknown workload $other (nightly, stream, curation)")
    }
    // set-up: input generation repeated, median taken; the last copy is used
    val genS = (0 until SetupReps).map { i =>
      val dir = root.resolve(s"input-$i")
      val t0 = System.nanoTime()
      wl.generate(spark, dir, seed)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetupReps - 1) Disk.deleteTree(dir)
      s
    }
    // one small job, before set-up ends and again before every pass, so
    // no pass's first op pays for the harness work that preceded it
    def warmJob(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 16, 1L, cores).selectExpr("sum(xxhash64(id) % 1000)").head()
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = warmJob()
    val beforeS = sessionS + Harness.median(genS) + warmS

    val calibCpu = Calib.cpu(spark, cores)
    val calibIo = Calib.io(spark, root.getParent.resolve("calib_io_v1"))

    val order = new Random(seed).shuffle(wl.ops.indices.toVector)
    val spans = mutable.ArrayBuffer.empty[Span]
    val passes = mutable.ArrayBuffer.empty[PassResult]
    def onePass(i: Int, tracedPass: Boolean, warmup: Boolean): Unit = {
      val work = root.resolve(s"pass-$i")
      Files.createDirectories(work)
      val ctx = new PassCtx(spark, rec, i, tracedPass, verify = i == 0, tmp, work, spans)
      val tmpBefore = Disk.entries(tmp)
      warmJob()
      rec.reset()
      val t0 = System.nanoTime()
      val res = wl.pass(ctx, order)
      val wall = (System.nanoTime() - t0) / 1e9
      val (leaked, tablesLeft, heapMb) = Harness.endPass(ctx, tmpBefore, readHeap = !warmup)
      passes += res.copy(leaked = leaked, tablesLeft = tablesLeft, heapMb = heapMb)
      System.err.println(f"[perfbench] $workload pass $i${if (tracedPass) " (traced)" else ""}: " +
        f"run ${res.runS}%.3fs wall $wall%.3fs, ${res.runs.count(!_.ok)} failed, $leaked leaked")
    }
    // traced: a verifying warm-up pass, then a traced and an untraced
    // pass; the tracing overhead compares the two, and since the traced
    // pass runs on a slightly colder JIT it is an upper bound
    val loopT0 = System.nanoTime()
    val warmsUp = traced || wl.warmsUp
    if (warmsUp) onePass(0, tracedPass = false, warmup = true)
    if (traced) {
      onePass(1, tracedPass = true, warmup = false)
      onePass(2, tracedPass = false, warmup = false)
    } else {
      val measureT0 = System.nanoTime()
      do onePass(passes.size, tracedPass = false, warmup = false)
      while ((System.nanoTime() - measureT0) / 1e9 < seconds)
    }
    val warmup = if (warmsUp) passes.take(1) else Nil
    val setupS = beforeS + warmup.map(_.runS).sum

    val untraced = passes.drop(warmup.size).filterNot(_.traced)
    val runs = passes.flatMap(_.runs)
    val samples = untraced.flatMap(_.runs).filter(_.ok).map(_.seconds).toSeq
    val failed = runs.filterNot(_.ok)
    val tailPct = Harness.tailPercentile(samples.size)
    def med(f: PassResult => Double) = Harness.median(untraced.map(f).toSeq)
    // metric values only; their units are fixed in BENCHMARK.json
    val endToEnd: Map[String, Double] =
      if (samples.isEmpty) Map.empty
      else Map(
        "setup_s" -> setupS,
        "run_s" -> med(_.runS),
        "op_p50_s" -> Harness.median(samples),
        "op_tail_s" -> Harness.quantile(samples, tailPct / 100.0),
        "rows_per_s" -> med(_.rows),
        "write_amp" -> med(_.writeAmp),
        "retained_heap_mb" -> med(_.heapMb))
    val perLayer: Map[String, Double] = passes.find(_.traced).map { res =>
      val overhead = res.runS / (untraced.map(_.runS).sum / untraced.size) - 1.0
      res.layer ++ Map(
        "leaked_files" -> res.leaked.toDouble,
        "failed_ratio" -> failed.size.toDouble / math.max(1, runs.size),
        "calib_cpu_s" -> calibCpu,
        "calib_io_s" -> calibIo,
        "cores" -> cores.toDouble,
        "tracing_overhead_ratio" -> overhead)
    }.getOrElse(Map.empty)

    val out = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "ops" -> order.map(wl.ops),
      "cores" -> cores, "master" -> s"local[$cores]",
      "spark_version" -> spark.version, "jvm_version" -> System.getProperty("java.version"),
      "calib_cpu_s" -> calibCpu, "calib_io_s" -> calibIo,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS, "warmup_job_s" -> warmS,
        "warmup_pass_s" -> warmup.map(_.runS).sum, "setup_s" -> setupS),
      "attempted" -> runs.size, "failed" -> failed.map(r => Map("op" -> r.name, "error" -> r.error)),
      "op_samples" -> samples.size, "op_tail_percentile" -> tailPct,
      "end_to_end" -> endToEnd, "per_layer" -> perLayer,
      "passes" -> passes.map { res =>
        Map("traced" -> res.traced, "run_s" -> res.runS, "rows_per_s" -> res.rows,
          "write_amp" -> res.writeAmp, "leaked_files" -> res.leaked,
          "catalog_tables_left" -> res.tablesLeft, "retained_heap_mb" -> res.heapMb,
          "ops" -> res.runs.map(r => Map("op" -> r.name, "s" -> r.seconds, "ok" -> r.ok,
            "phases" -> r.phases, "bytes_written" -> r.written._1, "files_written" -> r.written._2,
            "commits" -> r.written._3, "tables_left" -> r.tablesLeft) ++
            (if (!res.traced) Map.empty else {
              val s = rec.stats(r.index)
              Map("jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
                "task_s" -> s.taskMs / 1e3, "batches" -> s.batches)
            })))
      },
      "spans" -> spans.map(s => Map("name" -> s.name, "start_s" -> (s.startNs - loopT0) / 1e9,
        "end_s" -> (s.endNs - loopT0) / 1e9, "parent" -> s.parent, "op" -> s.op)))
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    // the query workloads' oracles, in the layout scripts/check.py reads
    // next to the per-op outputs of the verifying pass
    val extra = wl match {
      case q: QueryWorkload =>
        Files.createDirectories(root.resolve("verify"))
        json.writeValue(root.resolve("verify").resolve("oracle_sql.json").toFile, q.oracles)
        Map("data" -> q.dataPath)
      case _ => Map.empty
    }
    json.writeValue(Paths.get(artifact).toFile, out ++ extra)
    spark.stop()
  }
}

/** The repo bench's machine yardsticks, same shapes: a fixed CPU-bound
  * hash chain, and a scan of a pinned ~190 MB incompressible parquet
  * that is written once per build directory and reused.
  */
object Calib {
  def cpu(spark: SparkSession, partitions: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 27, 1L, partitions)
      .selectExpr("xxhash64(id, id + 1) % 1000000 as h").selectExpr("sum(h)").head()
    (System.nanoTime() - t0) / 1e9
  }

  def io(spark: SparkSession, path: Path): Double = {
    if (!Files.isRegularFile(path.resolve("_SUCCESS")))
      spark.range(0L, 8L << 20, 1L, 8)
        .selectExpr("xxhash64(id) as a", "xxhash64(id, id) as b", "xxhash64(id, id, id) as c")
        .write.mode("overwrite").parquet(path.toString)
    val t0 = System.nanoTime()
    spark.read.parquet(path.toString).selectExpr("sum(xxhash64(a, b, c) % 1000000)").head()
    (System.nanoTime() - t0) / 1e9
  }
}
