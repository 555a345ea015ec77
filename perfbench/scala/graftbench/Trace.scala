package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the raw record file (maps, sequences,
  * strings, numbers, booleans). Non-finite doubles become null.
  */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String =>
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: collection.Map[_, _] =>
      sb += '{'
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        write(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case a: Array[_] => write(sb, a.toSeq)
    case it: Iterable[_] =>
      sb += '['
      it.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(sb, x) }
      sb += ']'
    case p: Product => write(sb, p.productElementNames.zip(p.productIterator).toMap)
    case other => write(sb, other.toString)
  }
}

/** One timed operation: wall interval on both clocks, outcome, and the
  * input rows it processed. `phase` is "timed" or "traced".
  */
final case class OpRec(id: Int, name: String, phase: String, start_ms: Double, end_ms: Double,
                       ok: Boolean, rows: Long, err: String)

/** One span of a traced operation; parent -1 is the operation itself. */
final case class SpanRec(op: Int, id: Int, parent: Int, name: String,
                         start_ms: Double, end_ms: Double)

/** The benchmark's own recorder: operations, spans, and the Spark
  * counters its listeners collect. Every timestamp is epoch
  * milliseconds on the JVM's wall clock (fractional for the benchmark's
  * own nanoTime readings), so operations, spans and listener events
  * can be intersected directly.
  */
final class Recorder(spark: SparkSession) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  var tracing = false
  private var curOp = -1
  private var nextSpan = 0
  private val stack = mutable.Stack.empty[Int]

  /** Run one operation under its own job group. `body` returns
    * (output check passed, input rows); a throw counts as a failure.
    */
  def op(name: String, phase: String)(body: => (Boolean, Long)): OpRec = {
    val id = ops.size
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    curOp = id
    stack.clear()
    val t0 = nowMs()
    val (ok, rows, err) =
      try { val (o, r) = body; (o, r, if (o) "" else "output check failed") }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        (false, 0L, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val rec = OpRec(id, name, phase, t0, nowMs(), ok, rows, err)
    sc.clearJobGroup()
    curOp = -1
    ops += rec
    rec
  }

  /** A span around one public call; recorded only while tracing. */
  def span[A](name: String)(body: => A): A =
    if (!tracing || curOp < 0) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = if (stack.isEmpty) -1 else stack.top
      stack.push(id)
      val t0 = nowMs()
      try body
      finally {
        stack.pop()
        spans += SpanRec(curOp, id, parent, name, t0, nowMs())
      }
    }

  /** A span whose interval was measured elsewhere (streaming trigger
    * phases reported by the progress listener).
    */
  def addSpan(op: Int, parent: Int, name: String, startMs: Double, endMs: Double): Unit = {
    spans += SpanRec(op, nextSpan, parent, name, startMs, endMs)
    nextSpan += 1
  }

  val listener = new Counters
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(listener.sql)

  /** Block until the listener bus has delivered everything posted so
    * far: run a marker job and wait for its end event (one queue,
    * delivered in order).
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("drain", "drain", interruptOnCancel = false)
    spark.range(1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 20000
    while (!listener.jobs.asScala.exists(j => j.group == "drain" && j.end_ms > 0) &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(50)
  }
}

final class JobRec(val id: Int, val group: String, val start_ms: Long, val stages: Seq[Int]) {
  @volatile var end_ms: Long = 0L
}

/** Task counters summed per stage, plus each task's run time (for the
  * skew ratio).
  */
final class StageRec(val id: Int) {
  var tasks = 0
  val runMs = mutable.ArrayBuffer.empty[Long]
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
}

final case class SqlRec(start_ms: Long, plan_ms: Long)

final case class ProgressRec(batch: Long, start_ms: Long, rows: Long, durations: Map[String, Long])

/** The benchmark's listeners: a SparkListener for jobs, stages and
  * tasks, a QueryExecutionListener for planning phases, and (through
  * [[StreamProgress]]) trigger progress.
  */
final class Counters extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val sqls = new ConcurrentLinkedQueue[SqlRec]()
  def progress: ConcurrentLinkedQueue[ProgressRec] = StreamProgress.events

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val j = new JobRec(e.jobId, group, e.time, e.stageIds)
    jobById.put(e.jobId, j)
    jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.end_ms = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stages.computeIfAbsent(e.stageId, id => new StageRec(id))
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.recordsRead += m.inputMetrics.recordsRead
        s.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) sqls.add(SqlRec(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  def snapshot(): Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq.map(j => Map("id" -> j.id, "group" -> j.group,
      "start_ms" -> j.start_ms, "end_ms" -> j.end_ms, "stages" -> j.stages)),
    "stages" -> stages.values.asScala.toSeq.sortBy(_.id).map(s => s.synchronized(Map(
      "id" -> s.id, "tasks" -> s.tasks, "run_ms" -> s.runMs.toSeq, "cpu_ns" -> s.cpuNs,
      "gc_ms" -> s.gcMs, "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
      "spill" -> s.spill, "records_read" -> s.recordsRead, "bytes_written" -> s.bytesWritten))),
    "sql" -> sqls.asScala.toSeq,
    "progress" -> progress.asScala.toSeq)
}

/** Trigger progress of every streaming query in the process. Spark
  * instantiates it per session from
  * `spark.sql.streaming.streamingQueryListeners`, so the sessions graft
  * clones for its streams report here too.
  */
final class StreamProgress extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    StreamProgress.events.add(ProgressRec(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

object StreamProgress {
  val events = new ConcurrentLinkedQueue[ProgressRec]()
}
