package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

final case class Config(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    smoke: Boolean,
    work: Path,
    out: Path,
    setups: Int)

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val smoke = kv.get("size").contains("smoke")
    Config(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toInt,
      trace = kv.get("trace").contains("1"),
      smoke = smoke,
      work = Paths.get(get("work")).toAbsolutePath,
      out = Paths.get(kv.getOrElse("out", get("work"))).toAbsolutePath,
      // the first set-up in a fresh JVM pays Spark's warm-up; the median of
      // two is what the run-time budget allows (see README)
      setups = if (smoke) 1 else 2)
  }
}

/** A check of the program's output failed: the run is not correct. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** An operation threw: it counts as failed, and the run stops there. */
final class OpFailed(kind: String, cause: Throwable)
    extends RuntimeException(s"$kind: $cause", cause)

/** One timed operation: its wall time and the CPU time of the JVM's Java
  * threads while it ran (see [[Stats.cpuNs]]).
  */
final case class OpSample(
    kind: String,
    layer: String,
    write: Boolean,
    seconds: Double,
    cpuSeconds: Double,
    rows: Long,
    trace: Option[OpTrace])

/** What a traced op did, beyond its wall time. */
final case class OpTrace(
    id: Long,
    c: OpCounters,
    fsCalls: Long,
    commits: Long,
    filesAdded: Long,
    filesRemoved: Long)

/** The context a workload runs in: op timing, tracing, checks, and the
  * sizes and counters that become the run's metrics.
  */
final class Bench(val spark: SparkSession, val cfg: Config) {
  val tracer: Option[Tracer] = if (cfg.trace) Some(new Tracer(spark)) else None
  val samples: mutable.ArrayBuffer[OpSample] = mutable.ArrayBuffer.empty
  /** Set-up phase timings by name, one entry per set-up repetition. */
  val setupParts: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  /** Extra per-layer figures a workload measures itself (recall, pruning). */
  val extra: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  /** Lake table dirs whose commits and data files a traced write op counts. */
  var tables: Seq[String] = Nil
  var recording = false
  /** Ops that threw instead of returning; each ends the run. */
  var failed = 0L
  var inputBytes = 0L
  var lakeRoot: Path = cfg.work

  def rng(stream: String): scala.util.Random = Gen.rng(cfg.seed, stream)

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  def check(what: String)(ok: Boolean, detail: => String = ""): Unit =
    if (!ok) throw new CheckFailed(s"$what${if (detail.isEmpty) "" else ": " + detail}")

  def setupPart[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    val dt = (System.nanoTime() - t0) / 1e9
    setupParts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
    System.err.println(f"[lakebench] ${cfg.workload} $name: $dt%.3f s")
    r
  }

  def note(name: String, v: Double): Unit =
    extra.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private lazy val hfs =
    new HPath(cfg.work.toString).getFileSystem(spark.sessionState.newHadoopConf())

  private def dataFiles(dir: String): Set[String] = {
    val p = new HPath(dir)
    if (!hfs.exists(p)) Set.empty
    else hfs.listStatus(p).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).toSet
  }

  def liveFiles: Long = tables.map(t => dataFiles(t).size.toLong).sum

  private def versions: Seq[Long] =
    tables.map(t => if (hfs.exists(new HPath(t))) graft.sources.LakeTable(spark, t).currentVersion
      else -1L)

  /** Runs one operation of the workload. Its wall time counts when the run
    * is recording; under tracing it also gets a root span, a job group and,
    * for a write, the commits and data files it added and removed. An op
    * that throws is counted in `failed` and rethrown as [[OpFailed]]: the
    * model no longer matches the lake, so the run cannot go on.
    */
  def op[T](kind: String, layer: String, write: Boolean, rows: Long = 0L)(body: => T): T =
    try timedOp(kind, layer, write, rows)(body)
    catch {
      case e @ (_: CheckFailed | _: OpFailed) => throw e
      case scala.util.control.NonFatal(e) =>
        failed += 1
        throw new OpFailed(kind, e)
    }

  private def timedOp[T](kind: String, layer: String, write: Boolean, rows: Long)(body: => T): T =
    tracer match {
      case None =>
        val c0 = Stats.cpuNs
        val t0 = System.nanoTime()
        val r = body
        val dt = (System.nanoTime() - t0) / 1e9
        val cpu = (Stats.cpuNs - c0) / 1e9
        if (recording) samples += OpSample(kind, layer, write, dt, cpu, rows, None)
        r
      case Some(t) =>
        val (v0, f0) = if (write) (versions, tables.map(dataFiles)) else (Nil, Nil)
        val fs0 = t.fsCalls.get()
        val c0 = Stats.cpuNs
        val (r, id, c) = t.op(kind)(body)
        val cpu = (Stats.cpuNs - c0) / 1e9
        val fsN = t.fsCalls.get() - fs0
        val root = t.spans.last
        val (commits, added, removed) =
          if (!write) (0L, 0L, 0L)
          else {
            val f1 = tables.map(dataFiles)
            val v1 = versions
            ((v1 zip v0).map { case (a, b) => math.max(0L, a - b) }.sum,
              (f1 zip f0).map { case (a, b) => (a -- b).size.toLong }.sum,
              (f1 zip f0).map { case (a, b) => (b -- a).size.toLong }.sum)
          }
        if (recording) samples += OpSample(kind, layer, write, root.durNs / 1e9, cpu, rows,
          Some(OpTrace(id, c, fsN, commits, added, removed)))
        r
    }

  /** Sets the workload up `cfg.setups` times, each timed as `setup`, and
    * runs the timed rounds (numbered from 1) on the last set-up. Right
    * after the first set-up, an untimed warm-up with its checks runs on it,
    * so that the timed rounds find Spark's generated code and the JIT warm
    * for the round's queries instead of paying for them inside the timed
    * round; a later set-up starts again from fresh state.
    */
  def setUpAndRun[S](setup: Int => S, root: S => Path, tables: S => Seq[String])(
      warmUp: S => Unit)(round: (S, Int) => Unit): Unit = {
    def fresh(i: Int): S = {
      inputBytes = 0L
      val st = setupPart("setup")(setup(i))
      lakeRoot = root(st).resolve("lake")
      this.tables = tables(st)
      st
    }
    var st = fresh(1)
    // the smoke size checks, it does not measure: no warm-up
    if (!cfg.smoke) {
      warmUp(st)
      System.err.println(s"[lakebench] ${cfg.workload} warm-up done")
    }
    (2 to cfg.setups).foreach { i =>
      Workloads.deleteDir(root(st))
      st = fresh(i)
    }
    val s = st
    rounds(r => round(s, r))
  }

  /** Runs whole rounds, numbered from 1, until `seconds` have passed (at
    * least one). A full collection first leaves no set-up garbage for the
    * timed ops to collect.
    */
  def rounds(round: Int => Unit): Int = {
    System.gc()
    recording = true
    val gc0 = gcMs
    val t0 = System.nanoTime()
    var n = 0
    try while (n == 0 || (System.nanoTime() - t0) / 1e9 < cfg.seconds) {
      val before = samples.size
      round(n + 1)
      n += 1
      val ops = samples.drop(before).map(o => f"${o.kind}=${o.seconds}%.3f/${o.cpuSeconds}%.3f").mkString(" ")
      System.err.println(f"[lakebench] ${cfg.workload} round $n done at ${(System.nanoTime() - t0) / 1e9}%.3f s (op=wall/cpu s): $ops")
    }
    finally {
      recording = false
      gcSeconds = (gcMs - gc0) / 1e3
    }
    n
  }

  var gcSeconds = 0.0
  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}

object Stats {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of the JVM's live Java threads: the driver, Spark's task and
    * RPC threads and the benchmark's own. The JIT compiler and GC threads
    * are not Java threads and are left out; a thread that ends between two
    * readings takes its time with it (Spark's threads are pooled).
    */
  def cpuNs: Long =
    threads.getAllThreadIds.iterator.map(threads.getThreadCpuTime).filter(_ > 0).sum

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}
