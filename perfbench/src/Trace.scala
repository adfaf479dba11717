package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One micro-batch as reported by the progress listener. `startMs` is the
  * trigger start; the batch's offsets are committed by `endMs`. */
final case class Batch(run: String, batchId: Long, startMs: Long, durMs: Map[String, Long],
    rows: Long, stateRowsTotal: Long, stateRowsUpdated: Long, stateMemBytes: Long,
    stateCommitMs: Long, observed: Option[(Long, Long)]) {
  def endMs: Long = startMs + durMs.getOrElse("triggerExecution", 0L)
}

/** Collects every micro-batch's progress through a StreamingQueryListener.
  * `query.recentProgress` keeps only the last
  * spark.sql.streaming.numRecentProgressUpdates (100) updates, so a long
  * drain read from it silently loses batches; the listener sees them all. */
final class ProgressLog extends StreamingQueryListener {
  private val byRun = scala.collection.mutable.Map[String, ArrayBuffer[Batch]]()
  private val errors = ArrayBuffer[String]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(x => synchronized { errors += x })
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val obs = Option(p.observedMetrics.get("digest"))
      .map(r => (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
    val b = Batch(p.runId.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.numRowsUpdated).sum,
      ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum, obs)
    synchronized { byRun.getOrElseUpdate(b.run, ArrayBuffer()) += b }
  }

  def batches(runId: String): Seq[Batch] =
    synchronized { byRun.getOrElse(runId, ArrayBuffer()).toSeq.sortBy(_.batchId) }
  def failures: Seq[String] = synchronized { errors.toSeq }
}

/** A span: one timed call at a layer boundary. Spans of one key or one
  * micro-batch share `id`. */
final case class Span(id: String, name: String, startNs: Long, endNs: Long, parent: String)

/** In-memory span store, written out when the run ends. Disabled (every
  * call a plain pass-through) for untraced runs. */
final class Spans(val on: Boolean) {
  private val buf = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[String]] { override def initialValue = Nil }
  private val (epoch0, nano0) = (System.currentTimeMillis() * 1000000L, System.nanoTime())
  /** Wall-clock nanoseconds, so harness spans and the progress listener's
    * micro-batch spans share one time base. */
  def now: Long = epoch0 + (System.nanoTime() - nano0)

  def apply[T](id: String, name: String)(f: => T): T =
    if (!on) f else {
      val parent = stack.get.headOption.getOrElse("")
      val key = s"$id/$name"
      stack.set(key :: stack.get)
      val t0 = now
      try f finally {
        val t1 = now
        stack.set(stack.get.tail)
        add(Span(id, name, t0, t1, parent))
      }
    }
  def add(s: Span): Unit = if (on) synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toSeq }
  /** Innermost open span on this thread, as `id/name`. */
  def current: String = stack.get.headOption.getOrElse("")

  /** Self time per span name: duration minus the part of it covered by
    * the span's children. */
  def selfNs: Map[String, Long] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        (s.endNs - s.startNs) - Spans.coveredNs(kids.getOrElse(s"${s.id}/${s.name}", Nil), s.startNs, s.endNs)
      }.sum
    }
  }

  /** Wall time in [from, to) during which at least one span of `name` was open. */
  def coveredNs(name: String, from: Long, to: Long): Long = Spans.coveredNs(all.filter(_.name == name), from, to)
}

object Spans {
  /** Length of the union of the spans' intervals, clipped to [from, to). */
  def coveredNs(spans: Seq[Span], from: Long, to: Long): Long = {
    val ivs = spans.map(c => (math.max(c.startNs, from), math.min(c.endNs, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

/** Spark execution counters from listener events, plus job spans
  * parented to whichever harness span was open when the job started. */
final class ExecCounters(spans: Spans) extends SparkListener {
  @volatile var jobs, stages, tasks = 0L
  @volatile var taskBusyNs, shuffleWrite, shuffleRead, spill = 0L
  @volatile var builderJobs = 0L
  @volatile var inBuilder = false
  private val jobStart = scala.collection.concurrent.TrieMap[Int, (Long, String, String)]()
  private val rddBlocks = scala.collection.mutable.Map[String, Long]()
  private var rddBytes = 0L
  /** Peak bytes of RDD blocks (cached or checkpointed) held at once. */
  @volatile var rddBytesPeak = 0L

  /** The execution counters under their per-layer metric names. */
  def counts: Map[String, Double] = synchronized {
    Map("exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble, "exec.tasks" -> tasks.toDouble,
      "exec.task_busy_s" -> taskBusyNs / 1e9, "exec.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "exec.shuffle_read_bytes" -> shuffleRead.toDouble, "exec.spill_bytes" -> spill.toDouble)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (inBuilder) builderJobs += 1
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span"))).getOrElse("")
    val id = parent.takeWhile(_ != '/')
    jobStart(e.jobId) = (spans.now, id, parent)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (t0, id, parent) =>
      spans.add(Span(id, "spark.job", t0, spans.now, parent)) }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val bytes = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      rddBytes += bytes - rddBlocks.getOrElse(i.blockId.name, 0L)
      if (bytes > 0) rddBlocks(i.blockId.name) = bytes else rddBlocks.remove(i.blockId.name)
      rddBytesPeak = math.max(rddBytesPeak, rddBytes)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskBusyNs += m.executorRunTime * 1000000L
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** JVM-wide probes: collector time and heap peak since the last reset. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/** Waits until every posted listener event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.BusAccess.drain(sc)
}
