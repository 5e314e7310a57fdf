package graft.sources

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Gate shared between the driver-side test and the executor-side UDF
  * (same JVM in local mode; object fields resolve statically, so nothing
  * here needs to serialize). `armed` makes exactly one task block.
  */
object OccGate {
  val armed = new AtomicBoolean(false)
  @volatile var entered: CountDownLatch = _
  @volatile var release: CountDownLatch = _
}

/** Optimistic concurrency on staged rewrites: a writer whose stage was
  * built against a version another commit has since superseded must
  * FAIL (Delta's ConcurrentModificationException contract), not swap in
  * and silently undo the other commit.
  */
class OccSpec extends SparkSpec {
  import spark.implicits._

  test("a rewrite staged against a stale version fails instead of losing the concurrent commit") {
    val root = Files.createTempDirectory("graft_occ").toString
    val lake = LakeTable(spark, s"$root/t")
      .write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    OccGate.entered = new CountDownLatch(1)
    OccGate.release = new CountDownLatch(1)
    OccGate.armed.set(true)
    val gate = udf { (id: Long) =>
      if (OccGate.armed.getAndSet(false)) {
        OccGate.entered.countDown()
        OccGate.release.await(60, TimeUnit.SECONDS): Unit
      }
      id
    }
    // the DELETE's staging write evaluates the predicate — the gate UDF
    // parks it mid-stage, after the rewrite captured its base version
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val deleting = Future {
      lake.delete(gate(col("id")) === 999L)
    }
    assert(OccGate.entered.await(60, TimeUnit.SECONDS),
      "staging write never reached the gate")
    // a concurrent writer lands a commit while the delete is staged
    LakeTable(spark, s"$root/t")
      .write(Seq((3L, 30.0)).toDF("id", "x"), SaveMode.Append)
    OccGate.release.countDown()
    val e = intercept[java.util.ConcurrentModificationException] {
      Await.result(deleting, 120.seconds)
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the LATER writer lost: the append survives, the table is whole,
    // and the failed stage left no debris
    assert(lake.read.count() === 3)
    assert(!new java.io.File(s"$root/t${LakeTable.StageSuffix}").exists)
    // the failed delete retries cleanly against the new state
    lake.delete(col("id") === 3L)
    assert(lake.read.orderBy("id").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.0), (2L, 20.0)))
  }

  test("a commit landing during the change-feed job conflicts too") {
    // the OCC base is captured BEFORE the snapshot read, so a commit
    // landing while the change-feed materialization job runs (which
    // happens before the staging write even starts) must also fail the
    // delete — this window predates rewrite() entry
    val root = Files.createTempDirectory("graft_occ_feed").toString
    val lake = LakeTable(spark, s"$root/t")
      .write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    OccGate.entered = new CountDownLatch(1)
    OccGate.release = new CountDownLatch(1)
    OccGate.armed.set(true)
    val gate = udf { (id: Long) =>
      if (OccGate.armed.getAndSet(false)) {
        OccGate.entered.countDown()
        OccGate.release.await(60, TimeUnit.SECONDS): Unit
      }
      id
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // changeFeed = true: the FIRST job evaluating the gated predicate is
    // the change-set materialization, well before rewrite() runs
    val deleting = Future {
      lake.delete(gate(col("id")) === 1L, changeFeed = true)
    }
    assert(OccGate.entered.await(60, TimeUnit.SECONDS))
    LakeTable(spark, s"$root/t")
      .write(Seq((3L, 30.0)).toDF("id", "x"), SaveMode.Append)
    OccGate.release.countDown()
    intercept[java.util.ConcurrentModificationException] {
      Await.result(deleting, 120.seconds)
    }
    // nothing deleted, append intact, and the aborted change set is gone
    assert(lake.read.count() === 3)
    assert(!new java.io.File(s"$root/t/${LakeTable.ChangesDirName}").exists ||
      new java.io.File(s"$root/t/${LakeTable.ChangesDirName}").list().isEmpty)
  }

  test("a maintenance rewrite REBASES over a concurrent append — both commits land") {
    val root = Files.createTempDirectory("graft_occ_rebase").toString
    val path = s"$root/t"
    val lake = LakeTable(spark, path)
      .write(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x").repartition(2))
    // land a pure append while the compaction's stage is already built —
    // Delta VLDB'20 §3.2: logically disjoint, so BOTH must commit
    lake.onStagedForTest = () => {
      lake.onStagedForTest = () => ()
      LakeTable(spark, path).write(Seq((3L, 3.0)).toDF("id", "x"), SaveMode.Append)
    }
    lake.compact()
    assert(lake.read.orderBy("id").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    val ops = lake.history.select("operation").as[String].collect().toSeq
    assert(ops.count(_ == "WRITE APPEND") === 1)
    assert(ops.count(_ == "COMPACT") === 1)
    // the compact commit records the rebase
    val rebased = lake.history
      .where(col("operation") === "COMPACT")
      .select(col("operationParameters.filesRebased")).as[String].collect()
    assert(rebased.toSeq.exists(_ != null), "COMPACT commit should record filesRebased")
    assert(!new java.io.File(s"$path${LakeTable.StageSuffix}").exists)
  }

  test("a non-append interloper still fails the maintenance rewrite") {
    val root = Files.createTempDirectory("graft_occ_strict").toString
    val path = s"$root/t"
    val lake = LakeTable(spark, path)
      .write(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x").repartition(2))
    // a vectored delete takes no stage claim, so it can commit while the
    // compaction's stage is built — and it removes rows, so no rebase
    lake.onStagedForTest = () => {
      lake.onStagedForTest = () => ()
      LakeTable(spark, path).deleteVectored(col("id") === 1L): Unit
    }
    val e = intercept[java.util.ConcurrentModificationException] { lake.compact() }
    assert(e.getMessage.contains("concurrent commit"))
    // the delete (the commit that won) is intact; the stage is gone
    assert(lake.read.as[(Long, Double)].collect().toSeq === Seq((2L, 2.0)))
    assert(!new java.io.File(s"$path${LakeTable.StageSuffix}").exists)
  }

  test("an overwrite while a compaction holds the stage claim is refused, and the compaction lands") {
    val root = Files.createTempDirectory("graft_occ_claim").toString
    val path = s"$root/t"
    val lake = LakeTable(spark, path)
      .write(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x").repartition(2))
    var refused: Option[java.util.ConcurrentModificationException] = None
    lake.onStagedForTest = () => {
      lake.onStagedForTest = () => ()
      refused = Some(intercept[java.util.ConcurrentModificationException] {
        LakeTable(spark, path).write(Seq((9L, 9.0)).toDF("id", "x"), SaveMode.Overwrite)
      })
    }
    lake.compact()
    assert(refused.exists(_.getMessage.contains("stage claim")), refused)
    assert(lake.read.orderBy("id").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.0), (2L, 2.0)))
    val ops = lake.history.select("operation").as[String].collect().toSeq
    assert(ops === Seq("COMPACT", "WRITE OVERWRITE")) // newest first
    assert(!new java.io.File(s"$path${LakeTable.StageSuffix}").exists)
    assert(!new java.io.File(s"$path${LakeTable.StageClaimSuffix}").exists)
    // the refused overwrite retried after the compaction lands
    LakeTable(spark, path).write(Seq((9L, 9.0)).toDF("id", "x"), SaveMode.Overwrite)
    assert(lake.read.as[(Long, Double)].collect().toSeq === Seq((9L, 9.0)))
  }

  test("dynamic partition overwrites on DISJOINT partitions both land") {
    val root = Files.createTempDirectory("graft_occ_part").toString
    val path = s"$root/t"
    val lake = LakeTable(spark, path).writePartitioned(
      Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("p", "id", "x"), Seq("p"))
    OccGate.entered = new CountDownLatch(1)
    OccGate.release = new CountDownLatch(1)
    OccGate.armed.set(true)
    // the gate rides the PARTITION column, so writer A parks inside its
    // touched-partitions job — after its OCC base, before its pre-check
    val gatedP = udf { (p: String) =>
      if (OccGate.armed.getAndSet(false)) {
        OccGate.entered.countDown()
        OccGate.release.await(60, TimeUnit.SECONDS): Unit
      }
      p
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val a = Future {
      lake.overwritePartitions(
        Seq(("a", 1L, 10.0)).toDF("p", "id", "x").withColumn("p", gatedP(col("p"))),
        Seq("p"))
    }
    assert(OccGate.entered.await(60, TimeUnit.SECONDS), "writer A never parked")
    // writer B replaces a DIFFERENT partition while A is parked
    LakeTable(spark, path).overwritePartitions(
      Seq(("b", 2L, 20.0)).toDF("p", "id", "x"), Seq("p"))
    OccGate.release.countDown()
    Await.result(a, 120.seconds): Unit
    // both overwrites landed
    assert(lake.read.select("p", "id", "x").orderBy("id")
      .as[(String, Long, Double)].collect().toSeq ===
      Seq(("a", 1L, 10.0), ("b", 2L, 20.0)))
    val parts = lake.history
      .where(col("operation") === "OVERWRITE PARTITIONS")
      .select(col("operationParameters.occPartitions")).as[String].collect().toSeq
    assert(parts.sorted === Seq("p=a", "p=b"))
  }

  test("dynamic partition overwrites on the SAME partition conflict before mutating") {
    val root = Files.createTempDirectory("graft_occ_part_conflict").toString
    val path = s"$root/t"
    val lake = LakeTable(spark, path).writePartitioned(
      Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("p", "id", "x"), Seq("p"))
    OccGate.entered = new CountDownLatch(1)
    OccGate.release = new CountDownLatch(1)
    OccGate.armed.set(true)
    val gatedP = udf { (p: String) =>
      if (OccGate.armed.getAndSet(false)) {
        OccGate.entered.countDown()
        OccGate.release.await(60, TimeUnit.SECONDS): Unit
      }
      p
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val a = Future {
      lake.overwritePartitions(
        Seq(("a", 1L, 99.0)).toDF("p", "id", "x").withColumn("p", gatedP(col("p"))),
        Seq("p"))
    }
    assert(OccGate.entered.await(60, TimeUnit.SECONDS), "writer A never parked")
    // writer B replaces the SAME partition while A is parked
    LakeTable(spark, path).overwritePartitions(
      Seq(("a", 1L, 50.0)).toDF("p", "id", "x"), Seq("p"))
    OccGate.release.countDown()
    val e = intercept[java.util.ConcurrentModificationException] {
      Await.result(a, 120.seconds)
    }
    assert(e.getMessage.contains("aborted before any data was written"), e.getMessage)
    // B's overwrite (the winner) is intact — A mutated nothing
    assert(lake.read.select("p", "id", "x").orderBy("id")
      .as[(String, Long, Double)].collect().toSeq ===
      Seq(("a", 1L, 50.0), ("b", 2L, 2.0)))
  }

  test("a same-partition commit landing AFTER the pre-check still aborts cleanly") {
    val root = Files.createTempDirectory("graft_occ_part_late").toString
    val path = s"$root/t"
    val lake = LakeTable(spark, path).writePartitioned(
      Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("p", "id", "x"), Seq("p"))
    // land the interloper in the window between writer A's pre-check and
    // its staging write — the post-staging check must catch it, and
    // because the overwrite stages in a private dir and swaps only after
    // that check, the abort is CLEAN: the interloper (the winner) keeps
    // the partition
    lake.onPartitionsPreCheckedForTest = () => {
      lake.onPartitionsPreCheckedForTest = () => ()
      LakeTable(spark, path).overwritePartitions(
        Seq(("a", 1L, 50.0)).toDF("p", "id", "x"), Seq("p"))
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      lake.overwritePartitions(Seq(("a", 1L, 99.0)).toDF("p", "id", "x"), Seq("p"))
    }
    assert(e.getMessage.contains("aborted before any data was written"), e.getMessage)
    // the interloper's overwrite (the winner) is intact — the loser
    // mutated nothing in the table
    assert(lake.read.select("p", "id", "x").orderBy("id")
      .as[(String, Long, Double)].collect().toSeq ===
      Seq(("a", 1L, 50.0), ("b", 2L, 2.0)))
  }

  test("an append landing AFTER the rebase listing SWEEPS through a maintenance swap") {
    // the window the rebase can't see: the interloper commits after
    // occResolve listed the disk but before the table dir is replaced.
    // The late-append sweep must carry its data through the swap, and a
    // MAINTENANCE rewrite (content-preserving) must still commit —
    // composing with pure appends exactly like the pre-listing rebase.
    val root = Files.createTempDirectory("graft_occ_sweep").toString
    val path = s"$root/t"
    val lake = LakeTable(spark, path)
    // several small files so compactSmall has real work
    (0 until 4).foreach(b =>
      lake.write(Seq((b.toLong, b * 1.0)).toDF("id", "x").coalesce(1),
        if (b == 0) SaveMode.Overwrite else SaveMode.Append))
    lake.onResolvedForTest = () => {
      lake.onResolvedForTest = () => ()
      LakeTable(spark, path)
        .write(Seq((99L, 99.0)).toDF("id", "x").coalesce(1), SaveMode.Append)
    }
    lake.compactSmall(minFileBytes = 64L * 1024 * 1024)
    // nothing lost: the four compacted rows AND the late append
    assert(lake.read.orderBy("id").as[(Long, Double)].collect().toSeq ===
      Seq((0L, 0.0), (1L, 1.0), (2L, 2.0), (3L, 3.0), (99L, 99.0)))
    // the compaction committed (as COMPACT — with every file small,
    // compactSmall delegates to the full compaction) and recorded the sweep
    val rec = lake.history.where(col("operation").startsWith("COMPACT"))
      .select("operationParameters.filesSweptLate").collect()
    assert(rec.length === 1 && rec.head.getString(0) === "1",
      s"expected filesSweptLate=1, got ${rec.map(_.getString(0)).toSeq}")
  }

  test("concurrent optimizeWhere on disjoint partitions both land") {
    val root = Files.createTempDirectory("graft_occ_optwhere").toString
    val path = s"$root/t"
    val lake = LakeTable(spark, path).writePartitioned(
      (1L to 40L).map(i => (if (i % 2 == 0) "a" else "b", i, i * 1.0))
        .toDF("p", "id", "x").repartition(8), Seq("p"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val a = Future { LakeTable(spark, path).optimizeWhere(col("p") === "a") }
    val b = Future { LakeTable(spark, path).optimizeWhere(col("p") === "b") }
    Await.result(a, 120.seconds): Unit
    Await.result(b, 120.seconds): Unit
    // every interleaving is compatible (disjoint write sets): both commit
    // and no row is lost or duplicated
    assert(lake.read.count() === 40)
    assert(lake.read.agg(sum(col("x"))).as[Double].head() === (1L to 40L).sum.toDouble)
    assert(lake.history.where(col("operation") === "OPTIMIZE WHERE").count() === 2)
  }

  test("a full replacement racing an append keeps the appended file and refuses its own commit") {
    val root = Files.createTempDirectory("graft_occ_known").toString
    val path = s"$root/t"
    val lake = LakeTable(spark, path)
      .write(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x").coalesce(1))
    // the append lands after the overwrite's OCC check, once its stage
    // is marked: the known-file set tells the swap it is not one of the
    // files the overwrite replaces
    lake.onSwapMarkedForTest = () => {
      lake.onSwapMarkedForTest = () => ()
      LakeTable(spark, path)
        .write(Seq((3L, 3.0)).toDF("id", "x").coalesce(1), SaveMode.Append): Unit
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      lake.write(Seq((9L, 9.0)).toDF("id", "x").coalesce(1), SaveMode.Overwrite)
    }
    assert(e.getMessage.contains("NOT recorded"), e.getMessage)
    assert(lake.read.orderBy("id").as[(Long, Double)].collect().toSeq ===
      Seq((3L, 3.0), (9L, 9.0)))
    val ops = lake.history.select("operation").as[String].collect().toSeq
    assert(ops === Seq("WRITE APPEND", "WRITE OVERWRITE")) // newest first
    assert(!new java.io.File(s"$path${LakeTable.StageSuffix}").exists)
    assert(!new java.io.File(s"$path${LakeTable.StageClaimSuffix}").exists)
  }

  test("a failed stage release is suppressed onto the operation's own error") {
    val root = Files.createTempDirectory("graft_occ_release").toString
    val path = s"$root/t"
    val lake = LakeTable(spark, path).write(Seq((1L, 1.0)).toDF("id", "x").coalesce(1))
    lake.addConstraint("x_pos", "x > 0"): Unit
    // the release probes the stage for a manifest before it drops the
    // claim: make that metadata call fail under an overwrite that fails
    val conf = spark.sessionState.newHadoopConf()
    LakeTable.fsDecoratorForTest = _ => {
      val raw = new org.apache.hadoop.fs.RawLocalFileSystem {
        override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus =
          if (p.getName == LakeTable.SwapManifestName)
            throw new java.io.IOException("release probe failed")
          else super.getFileStatus(p)
      }
      raw.initialize(java.net.URI.create("file:///"), conf)
      val f = new org.apache.hadoop.fs.LocalFileSystem(raw)
      f.initialize(java.net.URI.create("file:///"), conf)
      f
    }
    val e =
      try intercept[IllegalArgumentException] {
        lake.write(Seq((2L, -1.0)).toDF("id", "x").coalesce(1), SaveMode.Overwrite)
      } finally LakeTable.fsDecoratorForTest = identity(_)
    assert(e.getMessage.contains("x_pos"), e.getMessage)
    assert(e.getSuppressed.exists(_.getMessage == "release probe failed"),
      e.getSuppressed.map(_.toString).toSeq)
    // the claim the failed release kept is freed by vacuumDebris
    LakeTable(spark, path).vacuumDebris(): Unit
    LakeTable(spark, path).write(Seq((3L, 3.0)).toDF("id", "x").coalesce(1))
    assert(lake.read.as[(Long, Double)].collect().toSeq === Seq((3L, 3.0)))
  }

  test("sequential rewrites never trip the check") {
    val root = Files.createTempDirectory("graft_occ_seq").toString
    val lake = LakeTable(spark, s"$root/t")
      .write(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "x"))
    lake.update(Map("x" -> lit(9.0)), col("id") === 1L)
    lake.delete(col("id") === 2L)
    lake.compact()
    assert(lake.read.count() === 2)
  }
}
