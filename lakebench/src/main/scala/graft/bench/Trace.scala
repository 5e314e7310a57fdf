package graft.bench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a layer (`sources.upsert`), or an op's
  * root (`op:append`). Spans of one op share `op`; `parent` is 0 at the root.
  */
final case class Span(op: Long, id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  def layer: String = if (name.startsWith("op:")) "bench" else name.takeWhile(_ != '.')
}

/** What the Spark listeners saw of one op. */
final class OpCounters {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val jobSpans: mutable.Map[Int, (Long, Long)] = mutable.Map.empty
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var filesScanned = 0L
  var queries = 0L

  /** Wall time covered by at least one running job (overlaps merged). */
  def jobMs: Long = {
    val iv = jobSpans.values.filter(_._2 >= 0).toSeq.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Counts the lake's metadata FileSystem calls. Installed through
  * `LakeTable.fsDecoratorForTest`, so it sees the commit protocol's own
  * calls (log listing, claims, renames, deletes), not Spark's data I/O.
  */
final class CountingFs(inner: FileSystem, n: AtomicLong) extends FilterFileSystem(inner) {
  override def listStatus(p: Path): Array[FileStatus] = { n.incrementAndGet(); super.listStatus(p) }
  override def listStatus(p: Path, f: PathFilter): Array[FileStatus] = {
    n.incrementAndGet(); super.listStatus(p, f)
  }
  override def globStatus(p: Path): Array[FileStatus] = { n.incrementAndGet(); super.globStatus(p) }
  override def exists(p: Path): Boolean = { n.incrementAndGet(); super.exists(p) }
  override def rename(s: Path, d: Path): Boolean = { n.incrementAndGet(); super.rename(s, d) }
  override def delete(p: Path, r: Boolean): Boolean = { n.incrementAndGet(); super.delete(p, r) }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = {
    n.incrementAndGet(); super.mkdirs(p, perm)
  }
  override def open(p: Path, b: Int): org.apache.hadoop.fs.FSDataInputStream = {
    n.incrementAndGet(); super.open(p, b)
  }
}

/** Span recorder plus the listeners that attribute Spark work to ops. Every
  * op runs under a job group the tracer sets (`lakebench-op-<id>`); the
  * SparkListener keys jobs, stages and tasks by it, and a
  * QueryExecutionListener adds each materialized query's Catalyst phase
  * times. All of it stays in memory until the run writes it out.
  */
final class Tracer(spark: SparkSession) {
  private val GroupPrefix = "lakebench-op-"
  private val GroupKey = "spark.jobGroup.id"
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 0L
  @volatile private var currentOp = 0L
  val fsCalls = new AtomicLong
  private val counters = new java.util.concurrent.ConcurrentHashMap[Long, OpCounters]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private def countersOf(op: Long): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      g.filter(_.startsWith(GroupPrefix)).foreach { s =>
        val op = s.stripPrefix(GroupPrefix).toLong
        jobOp.put(e.jobId, op)
        e.stageIds.foreach(stageOp.put(_, op))
        val c = countersOf(op)
        c.synchronized { c.jobs += 1; c.jobSpans(e.jobId) = (e.time, -1L) }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.get(e.jobId)).foreach { op =>
        val c = countersOf(op)
        c.synchronized {
          c.jobSpans.get(e.jobId).foreach { case (s, _) => c.jobSpans(e.jobId) = (s, e.time) }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        val c = countersOf(op)
        val m = e.taskMetrics
        val info = e.taskInfo
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.taskRunMs += m.executorRunTime
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            val dur = info.finishTime - info.launchTime
            c.schedDelayMs += math.max(0L, dur - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val op = currentOp
      if (op != 0L) {
        val c = countersOf(op)
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val files = scans(qe.executedPlan).map(s =>
          s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
        c.synchronized {
          c.queries += 1
          c.analysisMs += ms("analysis")
          c.optimizationMs += ms("optimization")
          c.planningMs += ms("planning")
          c.filesScanned += files
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    graft.sources.LakeTable.fsDecoratorForTest = fs => new CountingFs(fs, fsCalls)
  }

  def uninstall(): Unit = {
    graft.sources.LakeTable.fsDecoratorForTest = identity(_)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `body` as op `name`'s root span under a fresh job group; returns
    * the result, the op id and its listener counters (complete: the bus is
    * drained before returning).
    */
  def op[T](name: String)(body: => T): (T, Long, OpCounters) = {
    nextId += 1
    val id = nextId
    currentOp = id
    spark.sparkContext.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    val res =
      try span(s"op:$name", id)(body)
      finally {
        spark.sparkContext.clearJobGroup()
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        currentOp = 0L
      }
    (res, id, Option(counters.remove(id)).getOrElse(new OpCounters))
  }

  def span[T](name: String, opId: Long = currentOp)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0L)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      spans += Span(opId, id, parent, name, t0, t1)
    }
  }
}
