package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the client thread. Wall-clock `startMs`/`endMs`
  * line spans up with listener event times; `nanos` is the monotonic
  * duration used for latency. `counters` holds the deltas of the global
  * counters ([[Counters.snapshot]]) across the span, when traced.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, round: Int,
    startMs: Long, endMs: Long, nanos: Long, ok: Boolean, error: String,
    counters: Array[Long])

/** Closed-loop op recorder: every call comes from the single client
  * thread, so a stack of open spans gives each span its parent. Spans are
  * kept in memory and written out once, at the end of the run.
  */
final class Recorder {
  val spans = ArrayBuffer.empty[Span]
  var traced = false
  var round = -1
  private var stack: List[(Int, Int)] = Nil // (span id, op id)
  private var nextSpan = 0
  private var nextOp = 0

  private def timed[T](name: String, opId: Int)(body: => T): (Span, Either[Throwable, T]) = {
    val id = nextSpan
    nextSpan += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val c0 = if (traced) Counters.snapshot() else null
    stack = (id, opId) :: stack
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    stack = stack.tail
    val delta = if (c0 == null) Array.empty[Long]
      else Counters.snapshot().zip(c0).map { case (a, b) => a - b }
    val s = Span(id, name, parent, opId, round, ms0, ms1, t1 - t0, r.isRight,
      r.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").orNull, delta)
    spans += s
    (s, r)
  }

  /** A top-level op. A failure is recorded against the op and swallowed,
    * so the loop goes on and the failure counts in `failed`.
    */
  def op[T](name: String)(body: => T): Option[T] = {
    val opId = nextOp
    nextOp += 1
    val (s, r) = timed(name, opId)(body)
    r match {
      case Right(v) => Some(v)
      case Left(e) =>
        System.err.println(s"[bench] op $name failed: ${s.error}")
        e.printStackTrace()
        None
    }
  }

  /** A call nested in the current op (or a round); rethrows. */
  def span[T](name: String)(body: => T): T = {
    val opId = stack.headOption.map(_._2).getOrElse(-1)
    timed(name, opId)(body)._2.fold(e => throw e, identity)
  }

  /** An op timed by the engine itself (a streaming micro-batch), under the
    * span that is open now.
    */
  def external(name: String, startMs: Long, ms: Long): Unit = {
    spans += Span(nextSpan, name, stack.headOption.map(_._1).getOrElse(-1), nextOp, round,
      startMs, startMs + ms, ms * 1000000L, ok = true, null, Array.empty)
    nextSpan += 1
    nextOp += 1
  }

  def nextOpId: Int = nextOp

  /** Ops whose output failed a check made inside the JVM, with the reason. */
  val failed = scala.collection.mutable.Map.empty[Int, String]
}

/** Global counters read at span boundaries in a traced run. Order is
  * fixed by [[Counters.names]].
  */
object Counters {
  val names: Seq[String] = Seq("fs.list_calls", "fs.status_calls", "fs.opens", "fs.creates",
    "fs.renames", "fs.deletes", "fs.bytes_read", "fs.bytes_written",
    "plans.codegen_compiles", "plans.codegen_ns", "jvm.gc_ms", "jvm.jit_ms")

  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  def snapshot(): Array[Long] = Array(
    CountingFs.list.sum, CountingFs.status.sum, CountingFs.opens.sum, CountingFs.creates.sum,
    CountingFs.renames.sum, CountingFs.deletes.sum, CountingFs.bytesRead, CountingFs.bytesWritten,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    gcs.map(_.getCollectionTime).sum,
    jit.getTotalCompilationTime)

  def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0
}

/** Hadoop `file:` file system that counts the calls the engine makes at
  * the FS boundary. Installed only in a traced run, through
  * `spark.hadoop.fs.file.impl`; bytes are counted by the raw file system
  * underneath (data and checksum files both).
  */
object CountingFs {
  val list, status, opens, creates, renames, deletes = new LongAdder
  // the raw file system's statistics see data and checksum bytes alike;
  // the checksummed layer above it reports data bytes a second time
  private def raw = FileSystem.getStatistics("file", classOf[RawLocalFileSystem])
  def bytesRead: Long = raw.getBytesRead
  def bytesWritten: Long = raw.getBytesWritten
}

class CountingLocalFs extends LocalFileSystem {
  import CountingFs._
  override def listStatus(f: Path): Array[FileStatus] = { list.increment(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    list.increment(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = { status.increment(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.increment(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    creates.increment()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { renames.increment(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.increment(); super.delete(f, recursive)
  }
}

/** Job, stage and task events, kept with their wall-clock times so they
  * can be attributed afterwards to the op whose interval holds them.
  */
final class LayerListener extends SparkListener {
  final case class Task(launchMs: Long, runMs: Long, cpuNs: Long, deserMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, failed: Boolean)
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]
  val stages = new ConcurrentLinkedQueue[java.lang.Long]
  val tasks = new ConcurrentLinkedQueue[Task]
  private val open = new ConcurrentHashMap[Int, java.lang.Long]

  def pending: Int = open.size

  override def onJobStart(e: SparkListenerJobStart): Unit = open.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(s => jobs.add((s.longValue, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()): Long)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime,
      m.executorDeserializeTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      !e.taskInfo.successful))
  }
}

/** Catalyst phase times (`QueryExecution.tracker`) of every action. */
final class PhaseListener extends QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[(Long, String, Long)] // (start ms, phase, ms)
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) => phases.add((p.startTimeMs, name, p.durationMs)) }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The traced run's listeners, attached around traced rounds only. */
final class Tracer(spark: SparkSession) {
  val layer = new LayerListener
  val phases = new PhaseListener
  val stream = new ProgressListener

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(layer)
    spark.listenerManager.register(phases)
    spark.streams.addListener(stream)
  }

  /** The listener bus is private to Spark: wait until every job that
    * started has reported its end, then for a quiet spell, before the
    * counters are read.
    */
  def detach(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (layer.pending > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(layer)
    spark.listenerManager.unregister(phases)
    spark.streams.removeListener(stream)
  }
}

/** Per-layer metrics from a traced run: listener events are attributed to
  * the attribution windows they start in (op spans, or a whole streaming
  * query run), then divided by the number of ops in those windows.
  */
object Layers {
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  def compute(t: Tracer, windows: Seq[Span], ops: Int, cores: Int): Map[String, Double] = {
    def inside(ms: Long): Option[Span] = windows.find(w => ms >= w.startMs && ms <= w.endMs)
    val jobs = t.layer.jobs.asScala.toSeq.flatMap(j => inside(j._1).map(w => (w, j)))
    val tasks = t.layer.tasks.asScala.toSeq.filter(x => inside(x.launchMs).isDefined)
    val stages = t.layer.stages.asScala.count(s => inside(s).isDefined)
    val phases = t.phases.phases.asScala.toSeq.filter(p => inside(p._1).isDefined)
    val wallMs = windows.map(w => w.nanos / 1e6).sum
    val driverOnly = windows.map { w =>
      val iv = jobs.filter(_._1 eq w).map { case (_, (s, e)) => (math.max(s, w.startMs), math.min(e, w.endMs)) }
      math.max(0.0, w.nanos / 1e6 - union(iv))
    }.sum
    val counters = Counters.names.indices.map(i => windows.map(w =>
      if (w.counters.length > i) w.counters(i) else 0L).sum)
    val c = Counters.names.zip(counters).toMap
    val n = math.max(ops, 1).toDouble
    val taskMs = tasks.map(_.runMs).sum.toDouble
    def phase(name: String) = phases.filter(_._2 == name).map(_._3).sum / n
    Map(
      "driver.jobs" -> jobs.size / n,
      "driver.stages" -> stages / n,
      "driver.only_ms" -> driverOnly / n,
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimization_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"),
      "plans.codegen_compiles" -> c("plans.codegen_compiles") / n,
      "plans.codegen_ms" -> c("plans.codegen_ns") / 1e6 / n,
      "operators.tasks" -> tasks.size / n,
      "operators.task_ms" -> taskMs / n,
      "operators.cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6 / n,
      "operators.deser_ms" -> tasks.map(_.deserMs).sum / n,
      "operators.core_util" -> (if (wallMs > 0) taskMs / (wallMs * cores) else 0.0),
      "operators.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum / n,
      "operators.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum / n,
      "operators.spill_bytes" -> tasks.map(_.spill).sum / n,
      "operators.failed_tasks" -> tasks.count(_.failed) / n,
      "fs.list_calls" -> c("fs.list_calls") / n,
      "fs.status_calls" -> c("fs.status_calls") / n,
      "fs.opens" -> c("fs.opens") / n,
      "fs.creates" -> c("fs.creates") / n,
      "fs.renames" -> c("fs.renames") / n,
      "fs.deletes" -> c("fs.deletes") / n,
      "fs.bytes_read" -> c("fs.bytes_read") / n,
      "fs.bytes_written" -> c("fs.bytes_written") / n,
      "jvm.gc_ms" -> c("jvm.gc_ms") / n,
      "jvm.jit_ms" -> c("jvm.jit_ms") / n,
      "jvm.code_cache_mb" -> Counters.codeCacheMb)
  }
}
