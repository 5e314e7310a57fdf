package graft.bench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

object Workloads {
  val All: Seq[(String, Bench => Unit)] = Seq(
    "lake_maintenance" -> LakeMaintenance.run,
    "rwe_dashboard" -> RweDashboard.run,
    "note_search" -> NoteSearch.run)

  def deleteDir(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally st.close()
  }
}

/** Runs one workload (or `all`, one after another) and prints, as its last
  * line, one JSON object: whether every output check passed, the ops
  * attempted and failed, and the metrics by name with their units — the
  * end-to-end ones untraced, the per-layer ones with `--trace 1`.
  *
  * Usage: graft.bench.Main --workload <name[,name...]|all> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--out <dir>] [--size full|smoke]
  */
object Main {

  def runOne(spark: SparkSession, cfg: Config, name: String): (Boolean, String) = {
    val body = Workloads.All.toMap.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val b = new Bench(spark, cfg.copy(workload = name))
    b.tracer.foreach(_.install())
    // a failed check makes the run incorrect; a failed op ends it early,
    // with the checks that ran before it still standing
    val correct =
      try { body(b); true }
      catch {
        case e: CheckFailed =>
          System.err.println(s"[lakebench] $name: CHECK FAILED: ${e.getMessage}")
          false
        case e: OpFailed =>
          System.err.println(s"[lakebench] $name: OP FAILED: ${e.getMessage}")
          e.getCause.printStackTrace()
          true
      }
      finally b.tracer.foreach(_.uninstall())
    val attempted = b.samples.size.toLong + b.failed
    val result =
      if (cfg.trace) {
        val table = Report.layerTable(b)
        System.err.println(s"[lakebench] $name per-op-type attribution:\n$table")
        Files.createDirectories(cfg.out)
        Files.writeString(cfg.out.resolve(s"$name-seed${cfg.seed}-layers.tsv"), table)
        Report.writeSpans(b, cfg.out.resolve(s"$name-seed${cfg.seed}-spans.jsonl"))
        Report.json(correct, attempted, b.failed, Report.perLayerFor(name), Report.perLayer(b))
      } else {
        System.err.println(s"[lakebench] $name wall clock: ${Report.wall(b)}")
        val lakeBytes = Stats.dirBytes(b.lakeRoot)
        Report.json(correct, attempted, b.failed, Report.EndToEnd, Report.endToEnd(b, lakeBytes))
      }
    Workloads.deleteDir(cfg.work)
    (correct, result)
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    Files.createDirectories(cfg.work)
    System.setProperty("spark.local.dir", cfg.work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (cfg.workload == "all") Workloads.All.map(_._1) else cfg.workload.split(',').toSeq
    val results = names.map { n =>
      val (ok, line) = runOne(spark, cfg.copy(work = cfg.work.resolve(n)), n)
      if (names.size > 1) println(s"$n $line") else println(line)
      ok
    }
    spark.stop()
    if (!results.forall(identity)) sys.exit(1)
  }
}
