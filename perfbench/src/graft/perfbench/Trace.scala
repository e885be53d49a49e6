package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work one op did, as the public listener APIs report it. */
final class OpStats {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  var batches, streamRows = 0L
  val phasesMs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)

  /** Milliseconds of [from, to] covered by at least one running job. */
  def jobCoveredMs(from: Long, to: Long): Long = {
    var covered = 0L
    var end = from
    for ((s, e) <- jobSpans.sortBy(_._1)) {
      val a = math.max(s, end); val b = math.min(e, to)
      if (b > a) { covered += b - a; end = b }
    }
    covered
  }
}

/** Rolls Spark task/job events and streaming progress up per op. An op
  * is named by the `perfbench.op` local property the harness sets on
  * the calling thread; Spark copies local properties into the threads a
  * streaming query starts, so micro-batch jobs land on their op too.
  * Work with no op property rolls up under op -1.
  */
final class Recorder extends SparkListener {
  @volatile var currentOp: Int = -1
  private val ops = mutable.Map.empty[Int, OpStats]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, (Int, Long)]
  private val runOp = new java.util.concurrent.ConcurrentHashMap[UUID, Integer]()

  def stats(op: Int): OpStats = synchronized(ops.getOrElseUpdate(op, new OpStats))
  def reset(): Unit = synchronized { ops.clear(); stageOp.clear(); jobOp.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.OpProp)))
      .map(_.toInt).getOrElse(-1)
    jobOp(e.jobId) = (op, e.time)
    e.stageIds.foreach(stageOp(_) = op)
    stats(op).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) => stats(op).jobSpans += ((t0, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stats(stageOp.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageOp.getOrElse(e.stageId, -1))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** The streaming half: `onQueryStarted` runs before `start()` returns,
    * on the op's own call path, so `currentOp` names the op that started
    * the query; later progress events find it by run id.
    */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runOp.put(e.runId, currentOp)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val op = Option(runOp.get(p.runId)).map(_.intValue).getOrElse(-1)
      Recorder.this.synchronized {
        val s = stats(op)
        s.batches += 1
        s.streamRows += p.numInputRows
        p.durationMs.asScala.foreach { case (k, v) => s.phasesMs(k) += v.longValue }
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Recorder {
  val OpProp = "perfbench.op"
}

/** A named interval of the traced pass; kept in memory, written at exit. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, op: String)

/** On-disk accounting: a snapshot maps each regular file to
  * (size, mtime, inode). Hard links share an inode, so a bucket carried
  * over by linking counts as zero bytes written.
  */
object Disk {
  final case class Entry(size: Long, mtime: Long, inode: Any)
  type Snap = Map[String, Entry]

  def snap(roots: Seq[Path]): Snap = {
    val out = Map.newBuilder[String, Entry]
    roots.filter(Files.isDirectory(_)).foreach { root =>
      val st = Files.walk(root)
      try st.iterator().asScala.foreach { p =>
        try {
          val a = Files.readAttributes(p, "unix:size,lastModifiedTime,ino,isRegularFile")
          if (a.get("isRegularFile") == java.lang.Boolean.TRUE)
            out += p.toString -> Entry(a.get("size").asInstanceOf[Long],
              a.get("lastModifiedTime").asInstanceOf[java.nio.file.attribute.FileTime].toMillis,
              a.get("ino"))
        } catch { case _: java.io.IOException => () }
      } finally st.close()
    }
    out.result()
  }

  /** (bytes, files, commits) written between two snapshots. A commit is
    * a new `_versions/vNNNNNNNN.json` entry of a warehouse.
    */
  def written(before: Snap, after: Snap): (Long, Long, Long) = {
    val oldInodes = before.values.map(_.inode).toSet
    val fresh = after.filter { case (p, e) => !before.get(p).contains(e) }
    val seen = mutable.Set.empty[Any]
    var bytes, files, commits = 0L
    fresh.foreach { case (p, e) =>
      if (!oldInodes.contains(e.inode) && seen.add(e.inode)) { bytes += e.size; files += 1 }
      if (!before.contains(p) && p.matches(".*/_versions/v\\d{8}\\.json")) commits += 1
    }
    (bytes, files, commits)
  }

  /** Bytes held under the roots, each inode counted once. */
  def bytes(roots: Seq[Path]): Long =
    snap(roots).values.groupBy(_.inode).values.map(_.head.size).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val st = Files.list(p)
      try st.iterator().asScala.toList.foreach(deleteTree) finally st.close()
    }
    Files.deleteIfExists(p)
  }

  def entries(dir: Path): Set[Path] =
    if (!Files.isDirectory(dir)) Set.empty
    else { val st = Files.list(dir); try st.iterator().asScala.toSet finally st.close() }
}
