package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The traced run's in-memory record: spans the benchmark opens around
  * each call it makes into a layer, Spark jobs seen by a listener, and
  * filesystem calls seen by [[CountingLocalFileSystem]]. Everything is
  * timed on one clock (`System.nanoTime`) and written out once, at exit.
  * With tracing off every hook is a no-op.
  */
object Trace {
  @volatile var on: Boolean = false
  @volatile private var sc: SparkContext = _

  /** Listener timestamps are epoch millis; this maps them onto nanoTime. */
  private val epochOffsetNs: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  final case class Span(id: Long, parent: Long, op: Long, name: String,
      start: Long, end: Long)
  final case class FsCall(kind: String, path: String, start: Long, end: Long,
      parent: Long, op: Long, stage: Int)

  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  val fsCalls = new ConcurrentLinkedQueue[FsCall]()
  /** Innermost open span and its op, on the single benchmark thread. */
  @volatile var currentSpan: Long = 0L
  @volatile var currentOp: Long = 0L

  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"

  def start(context: SparkContext): JobRecorder = {
    sc = context
    on = true
    val rec = new JobRecorder
    context.addSparkListener(rec)
    rec
  }

  /** Run `f` inside a span named `name`; `op` > 0 opens a new op (a root
    * span), otherwise the span is a child of the innermost open one.
    * Spark jobs submitted inside carry the span id as a local property.
    */
  def span[T](name: String, op: Long = 0L)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val (parent, prevOp) = (currentSpan, currentOp)
      val thisOp = if (op > 0) op else prevOp
      currentSpan = id; currentOp = thisOp
      sc.setLocalProperty(SpanProp, id.toString)
      sc.setLocalProperty(OpProp, thisOp.toString)
      val s = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, if (op > 0) 0L else parent, thisOp, name, s, System.nanoTime()))
        currentSpan = parent; currentOp = prevOp
        sc.setLocalProperty(SpanProp, if (parent == 0L) null else parent.toString)
        sc.setLocalProperty(OpProp, if (prevOp == 0L) null else prevOp.toString)
      }
    }

  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Time one filesystem call; nested calls (a checksummed create opening
    * its raw file) count once, as the outermost.
    */
  def fs[T](kind: String, p: Path)(f: => T): T =
    if (!on || depth.get > 0) f
    else {
      depth.set(1)
      val s = System.nanoTime()
      try f
      finally {
        depth.set(0)
        val tc = org.apache.spark.TaskContext.get()
        fsCalls.add(FsCall(kind, p.toUri.getPath, s, System.nanoTime(),
          if (tc == null) currentSpan else 0L, currentOp,
          if (tc == null) -1 else tc.stageId()))
      }
    }
}

/** Jobs with their call site, owning span, span times and summed stage
  * metrics. Events arrive on the listener bus; drain it before reading.
  */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val parent: Long, val op: Long,
      val site: String, val name: String, val execution: Long, val start: Long,
      val stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final class StageTotals(var tasks: Int = 0, var taskMs: Long = 0L,
      var inBytes: Long = 0L, var outBytes: Long = 0L, var shuffleBytes: Long = 0L)

  val jobs = new ConcurrentLinkedQueue[Job]()
  private val byId = mutable.Map.empty[Int, Job]
  /** SQL execution id -> the program frame that started it. */
  val executions: mutable.Map[Long, String] = mutable.Map.empty

  private def programFrame(callSite: String): String =
    callSite.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench.")).getOrElse("")
  val stages: mutable.Map[Int, StageTotals] = mutable.Map.empty

  private def prop(e: SparkListenerJobStart, k: String): Long =
    Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = e.stageInfos.maxBy(_.stageId)
    // the first program frame of the long call site names the code that
    // submitted the job, e.g. `graft.sources.OrcSink$.write(OrcSink.scala:23)`;
    // jobs an adaptive plan submits from its own threads have none, and are
    // attributed through their SQL execution id instead
    val site = programFrame(result.details)
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val j = new Job(e.jobId, prop(e, Trace.SpanProp), prop(e, Trace.OpProp),
      site, result.name, execution, Trace.msToNs(e.time), e.stageIds)
    byId(e.jobId) = j
    jobs.add(j)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executions(x.executionId) = programFrame(x.details) }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = Trace.msToNs(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val t = stages.getOrElseUpdate(i.stageId, new StageTotals)
    t.tasks += i.numTasks
    if (m != null) {
      t.taskMs += m.executorRunTime
      t.inBytes += m.inputMetrics.bytesRead
      t.outBytes += m.outputMetrics.bytesWritten
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

/** The local filesystem with every metadata and open call counted and
  * timed into [[Trace]]. Installed as `fs.file.impl` in traced runs only,
  * so it also backs `FileSystem.newInstance` callers.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    Trace.fs("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    Trace.fs("create", f)(super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))
  override def open(f: Path, bufferSize: Int) =
    Trace.fs("open", f)(super.open(f, bufferSize))
  override def rename(src: Path, dst: Path): Boolean =
    Trace.fs("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    Trace.fs("delete", f)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    Trace.fs("mkdirs", f)(super.mkdirs(f, permission))
  override def mkdirs(f: Path): Boolean =
    Trace.fs("mkdirs", f)(super.mkdirs(f))
  override def listStatus(f: Path): Array[FileStatus] =
    Trace.fs("list", f)(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    Trace.fs("list", f)(super.listLocatedStatus(f))
  override def getFileStatus(f: Path): FileStatus =
    Trace.fs("stat", f)(super.getFileStatus(f))
  override def exists(f: Path): Boolean =
    Trace.fs("stat", f)(super.exists(f))
}

/** Writes the trace as JSON lines: spans, jobs, filesystem calls. */
object TraceWriter {
  def write(path: String, rec: JobRecorder): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    def line(kv: (String, Any)*): Unit = out.println(Main.json.writeValueAsString(kv.toMap))
    try {
      Trace.spans.asScala.foreach { s =>
        line("t" -> "span", "id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "name" -> s.name, "start" -> s.start, "end" -> s.end)
      }
      rec.synchronized {
        rec.jobs.asScala.foreach { j =>
          val st = j.stages.flatMap(rec.stages.get)
          line("t" -> "job", "id" -> j.id, "parent" -> j.parent,
            "op" -> j.op, "site" -> j.site, "name" -> j.name,
            "execution" -> j.execution, "start" -> j.start,
            "end" -> j.end, "tasks" -> st.map(_.tasks).sum,
            "task_ms" -> st.map(_.taskMs).sum, "in_bytes" -> st.map(_.inBytes).sum,
            "out_bytes" -> st.map(_.outBytes).sum,
            "shuffle_bytes" -> st.map(_.shuffleBytes).sum,
            "stages" -> j.stages)
        }
        rec.executions.foreach { case (id, site) =>
          line("t" -> "exec", "id" -> id, "site" -> site)
        }
      }
      Trace.fsCalls.asScala.foreach { c =>
        line("t" -> "fs", "kind" -> c.kind, "path" -> c.path,
          "start" -> c.start, "end" -> c.end, "parent" -> c.parent, "op" -> c.op,
          "stage" -> c.stage)
      }
    } finally out.close()
  }
}
