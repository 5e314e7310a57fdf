package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.sources.LakeTable
import graft.streaming.LakeSink

/** Twin-attempt output-race probe (not part of the driver contract;
  * BASELINE.md records its numbers).
  *
  * Spark's speculation scheduler is hard-disabled in local mode
  * (TaskRetryProbe.scala documents the `!isLocal` gate), so the daily
  * cluster event this lake's promotion/manifest machinery exists to
  * survive — TWO ATTEMPTS of one logical write alive simultaneously,
  * both mutating the filesystem for the same output — has never
  * executed here. This probe emulates the race AT THE PROTOCOL LAYER:
  * the second attempt is the recovery path (the component that, on a
  * real cluster, IS the twin — a sink cold start or vacuumDebris
  * completing a marked stage while its writer still lives), released
  * deterministically at the writer's point of no return via the
  * onStageMarkedForTest / onSwapMarkedForTest seams and also hammered
  * free-running. Three shapes:
  *
  *   A. one appendViaStage promotion set — writer promotions racing
  *      recoverAppendStages() on the SAME marked stage;
  *   B. one staged swap (full rewrite upsert + selective delete with
  *      change feed) — the writer's completeSwap racing vacuumDebris's;
  *   C. one sink batch — a live writeBatch racing a cold-started
  *      replay of the same (appId, batchId) from a "fresh process".
  *
  * Both attempts are PROVEN to reach the filesystem: LakeTable's
  * metadata fs is wrapped in a per-thread mutation counter
  * (fsDecoratorForTest), and each twin iteration asserts both the
  * writer's and the recovery's threads performed mutations. Exactness
  * asserted per iteration: row set EXACT (no loss, no duplication),
  * single effective attribution (at most the documented one spurious
  * RECOVERED history entry for appends; exactly one commit for swaps),
  * selective-delete change sets PUBLISHED (not aged out), and zero
  * stage dirs or tmp debris after vacuumDebris.
  *
  * Usage: sbt "runMain graft.TwinAttemptProbe [iterations]"
  */
object TwinAttemptProbe {

  /** Per-thread fs mutation counter — the "attempt reached the fs"
    * proof. Wraps only LakeTable's metadata fs handle, so counts are
    * protocol-layer mutations (promotion renames, marker publishes,
    * deletes), not Spark's data I/O.
    */
  private final class CountingFs(inner: FileSystem) extends FilterFileSystem(inner) {
    override def rename(src: Path, dst: Path): Boolean = {
      CountingFs.bump(); super.rename(src, dst)
    }
    override def delete(p: Path, recursive: Boolean): Boolean = {
      CountingFs.bump(); super.delete(p, recursive)
    }
    override def mkdirs(p: Path): Boolean = { CountingFs.bump(); super.mkdirs(p) }
  }
  private object CountingFs {
    val byThread = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    def bump(): Unit =
      byThread.computeIfAbsent(Thread.currentThread().getName,
        _ => new AtomicInteger).incrementAndGet(): Unit
    def count(thread: String): Int =
      Option(byThread.get(thread)).map(_.get).getOrElse(0)
    def reset(): Unit = byThread.clear()
  }

  private var failures = 0
  private def check(name: String)(cond: Boolean, msg: => String): Unit =
    if (!cond) { failures += 1; println(s"FAIL [$name] $msg") }

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_twin_$tag").toString + "/t"

  private def rows(spark: SparkSession, dir: String): Seq[(Long, String)] = {
    import spark.implicits._
    LakeTable(spark, dir).read.select(col("id"), col("v"))
      .as[(Long, String)].collect().sorted.toSeq
  }

  /** No stage dirs beside the table, no tmp debris in its log. */
  private def assertNoDebris(spark: SparkSession, dir: String, tag: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val parent = new Path(dir).getParent
    val stages = fs.listStatus(parent).map(_.getPath.getName)
      .filter(n => n.contains(LakeTable.StageSuffix) ||
        n.contains(LakeTable.PartStageSuffix))
    check(tag)(stages.isEmpty, s"stage debris survived vacuum: ${stages.mkString(",")}")
    val logDir = new Path(dir, LakeTable.LogDirName)
    if (fs.exists(logDir)) {
      val tmps = fs.listStatus(logDir).map(_.getPath.getName)
        .filter(_.startsWith(graft.sources.LakeIo.TmpPrefix))
      check(tag)(tmps.isEmpty, s"tmp debris survived vacuum: ${tmps.mkString(",")}")
    }
  }

  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(6)
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    LakeTable.fsDecoratorForTest = fs => new CountingFs(fs)
    var twinsProvenA, twinsProvenB, doubleEntries = 0
    try {
      // ---------------- A: append promotion twin ----------------
      for (i <- 1 to iters) {
        val dir = freshDir("append")
        val lake = LakeTable(spark, dir)
        val seed = Seq((0L, "seed"), (1L, "seed"))
        lake.write(seed.toDF("id", "v").coalesce(1))
        val batch = spark.range(100, 120).select(col("id"),
          lit("batch").as("v")).repartition(4) // multi-file promotion set
        val marked = new CountDownLatch(1)
        val recDone = new CountDownLatch(1)
        val recovered = new AtomicInteger
        var recThreadName = ""
        val writerThread = Thread.currentThread().getName
        lake.onStageMarkedForTest = () => {
          marked.countDown()
          // even iterations: the recovery twin finishes FIRST (writer
          // resumes against a fully-recovered stage); odd: free overlap
          if (i % 2 == 0) recDone.await(60, TimeUnit.SECONDS): Unit
        }
        val rec = new Thread(() => {
          recThreadName = Thread.currentThread().getName
          marked.await(60, TimeUnit.SECONDS): Unit
          recovered.addAndGet(LakeTable(spark, dir).recoverAppendStages()): Unit
          recDone.countDown()
        }, s"twin-recovery-A$i")
        rec.start()
        // drop counts from the seed write (and prior iterations): the
        // writer-fs assertion below must prove THIS append's attempt
        // reached the fs, not the accumulated history of the main thread
        CountingFs.reset()
        lake.write(batch, SaveMode.Append)
        rec.join(60000)
        lake.onStageMarkedForTest = () => ()

        val expect = (seed ++ (100L until 120L).map(_ -> "batch")).sorted
        check(s"A$i rows")(rows(spark, dir) == expect,
          s"row set drifted: ${rows(spark, dir).size} vs ${expect.size}")
        val attrs = LakeTable(spark, dir).history
          .select("operation").as[String].collect()
          .count(o => o == "WRITE APPEND" || o == "RECOVERED WRITE APPEND")
        check(s"A$i attribution")(attrs >= 1 && attrs <= 2,
          s"append attributed $attrs times")
        if (attrs == 2) doubleEntries += 1
        if (recovered.get > 0) {
          twinsProvenA += 1
          check(s"A$i twin-fs")(CountingFs.count(recThreadName) > 0,
            "recovery twin recovered a stage without fs mutations?")
          check(s"A$i writer-fs")(CountingFs.count(writerThread) > 0,
            "writer attempt made no fs mutations?")
        }
        LakeTable(spark, dir).vacuumDebris(): Unit
        check(s"A$i post-vacuum")(rows(spark, dir) == expect, "vacuum changed data")
        assertNoDebris(spark, dir, s"A$i")
      }
      check("A twins")(twinsProvenA >= iters / 2,
        s"recovery twin completed a marked stage in only $twinsProvenA/$iters runs")

      // ---------------- B: staged swap twin ----------------
      for (i <- 1 to iters) {
        val dir = freshDir("swap")
        val lake = LakeTable(spark, dir)
        lake.write(Seq((0L, "a"), (1L, "a"), (2L, "a"))
          .toDF("id", "v").coalesce(1))
        val marked = new CountDownLatch(1)
        val vacDone = new CountDownLatch(1)
        var vacThreadName = ""
        val writerThread = Thread.currentThread().getName
        lake.onSwapMarkedForTest = () => {
          marked.countDown()
          if (i % 2 == 0) vacDone.await(60, TimeUnit.SECONDS): Unit
        }
        val vac = new Thread(() => {
          vacThreadName = Thread.currentThread().getName
          marked.await(60, TimeUnit.SECONDS): Unit
          LakeTable(spark, dir).vacuumDebris(): Unit
          vacDone.countDown()
        }, s"twin-vacuum-B$i")
        vac.start()
        CountingFs.reset() // per-iteration counters (see section A)
        lake.upsert(Seq((1L, "U"), (5L, "n")).toDF("id", "v"), Seq("id"))
        vac.join(60000)
        lake.onSwapMarkedForTest = () => ()

        val expect = Seq((0L, "a"), (1L, "U"), (2L, "a"), (5L, "n"))
        check(s"B$i rows")(rows(spark, dir) == expect,
          s"upsert result drifted: ${rows(spark, dir)}")
        // swaps must attribute EXACTLY once — the uuid-keyed adoption
        val merges = LakeTable(spark, dir).history
          .select("operation").as[String].collect()
          .count(o => o == "MERGE" || o == "RECOVERED MERGE")
        check(s"B$i attribution")(merges == 1, s"swap attributed $merges times")
        if (CountingFs.count(vacThreadName) > 0) {
          twinsProvenB += 1
          check(s"B$i writer-fs")(CountingFs.count(writerThread) > 0,
            "writer attempt made no fs mutations?")
        }
        // the table must remain fully usable
        LakeTable(spark, dir).write(
          Seq((9L, "z")).toDF("id", "v").coalesce(1), SaveMode.Append): Unit
        LakeTable(spark, dir).vacuumDebris(): Unit
        check(s"B$i follow-up")(rows(spark, dir) == (expect :+ (9L -> "z")).sorted,
          "follow-up append broke the twinned table")
        assertNoDebris(spark, dir, s"B$i")
      }
      check("B twins")(twinsProvenB >= iters / 2,
        s"vacuum twin reached the fs in only $twinsProvenB/$iters runs")

      // ---- B2: selective delete + change feed, recovered by the twin ----
      locally {
        val dir = freshDir("seldel")
        val lake = LakeTable(spark, dir)
        // range-clustered files so the stats pruner keeps most of them —
        // the swap's SELECTIVE shape (kept files ride the manifest) under
        // the twin
        lake.write(spark.range(0, 40).select(col("id"),
          lit("a").as("v")).repartitionByRange(4, col("id")))
        lake.collectStats(Seq("id")): Unit
        val marked = new CountDownLatch(1)
        val vacDone = new CountDownLatch(1)
        lake.onSwapMarkedForTest = () => {
          marked.countDown()
          vacDone.await(60, TimeUnit.SECONDS): Unit // twin ALWAYS completes first
        }
        val vac = new Thread(() => {
          marked.await(60, TimeUnit.SECONDS): Unit
          LakeTable(spark, dir).vacuumDebris(): Unit
          vacDone.countDown()
        }, "twin-vacuum-B2")
        vac.start()
        lake.delete(col("id") < 10, changeFeed = true)
        vac.join(60000)
        lake.onSwapMarkedForTest = () => ()
        check("B2 rows")(LakeTable(spark, dir).read.count() == 30,
          "selective delete row count drifted under the twin")
        val dels = LakeTable(spark, dir).readChanges()
          .where(col("_change_type") === "delete").count()
        check("B2 change feed")(dels == 10,
          s"twin-recovered delete published $dels change rows (want 10) — " +
            "the pending op must carry the change-stage claim")
        val deletes = LakeTable(spark, dir).history
          .select("operation").as[String].collect()
          .count(o => o == "DELETE" || o == "RECOVERED DELETE")
        check("B2 attribution")(deletes == 1, s"delete attributed $deletes times")
        assertNoDebris(spark, dir, "B2")
      }

      // ---------------- C: sink batch twin ----------------
      for (i <- 1 to iters) {
        val dir = freshDir("sink")
        val app = s"twin-app-$i"
        val lake = LakeTable(spark, dir)
        LakeSink.writeBatch(lake,
          Seq((0L, "b0")).toDF("id", "v").coalesce(1), 0L, app)
        val marked = new CountDownLatch(1)
        val replayDone = new CountDownLatch(1)
        lake.onStageMarkedForTest = () => {
          marked.countDown()
          // the replaying "fresh process" always completes before the
          // original attempt resumes — the zombie-writer shape
          replayDone.await(60, TimeUnit.SECONDS): Unit
        }
        val original = new Thread(() =>
          LakeSink.writeBatch(lake,
            Seq((1L, "b1"), (2L, "b1")).toDF("id", "v").coalesce(1), 1L, app),
          s"twin-sink-C$i")
        original.start()
        marked.await(60, TimeUnit.SECONDS): Unit
        // fresh process: cold cache, fresh table handle, same batch
        LakeSink.resetReplayCacheForTest()
        LakeSink.writeBatch(LakeTable(spark, dir),
          Seq((1L, "b1"), (2L, "b1")).toDF("id", "v").coalesce(1), 1L, app)
        replayDone.countDown()
        original.join(60000)
        lake.onStageMarkedForTest = () => ()

        val expect = Seq((0L, "b0"), (1L, "b1"), (2L, "b1"))
        check(s"C$i rows")(rows(spark, dir) == expect,
          s"sink twin duplicated or lost the batch: ${rows(spark, dir)}")
        check(s"C$i high-water")(
          LakeTable(spark, dir).maxCommitParamLong(LakeSink.TxnKeyPrefix + app) == 1L,
          "batch tag high-water drifted")
        LakeTable(spark, dir).vacuumDebris(): Unit
        check(s"C$i post-vacuum")(rows(spark, dir) == expect, "vacuum changed data")
        assertNoDebris(spark, dir, s"C$i")
      }
    } finally {
      LakeTable.fsDecoratorForTest = identity(_)
      LakeSink.resetReplayCacheForTest()
    }

    println(s"""{"probe":"twin_attempt","iterations":$iters,""" +
      s""""twins_proven_append":$twinsProvenA,"twins_proven_swap":$twinsProvenB,""" +
      s""""double_history_entries":$doubleEntries,"failures":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
