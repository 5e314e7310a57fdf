package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The ADD CONSTRAINT vs concurrent-writer race, pinned with
  * deterministic interleaves (the onResolvedForTest seam pattern).
  *
  * The hazard has two symmetric halves:
  *   - DDL half: `addConstraint` validates the table at version V, and a
  *     writer commits VIOLATING rows before the constraint file
  *     publishes — the published constraint then lies about the data.
  *     Closure: validation re-runs whenever the log moved during it
  *     (version re-check before publication).
  *   - writer half: a write validates its batch against the pre-DDL
  *     constraint set, the DDL publishes (its own validation never saw
  *     the in-flight batch), and the writer's commit lands violating
  *     rows. Closure: the writer re-reads the constraint set just before
  *     its point of no return and validates the batch against any
  *     late-arriving checks (Delta surfaces this interleave as
  *     MetadataChangedException; validating is strictly stronger).
  */
class ConstraintRaceSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String) =
    Files.createTempDirectory(s"graft_consrace_$name").toString + "/t"

  test("DDL half: a violating append landing mid-validation fails the ADD CONSTRAINT") {
    val dir = fresh("ddl")
    val lake = LakeTable(spark, dir)
    lake.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x").coalesce(1))
    // between validation and the movement re-check, a concurrent writer
    // (fresh handle — no shared state) lands a row violating the
    // about-to-publish constraint; with no constraint saved yet, that
    // append is legal
    var fired = 0
    lake.onConstraintValidatedForTest = () => {
      if (fired == 0) {
        fired += 1
        LakeTable(spark, dir).write(
          Seq((3L, -5.0)).toDF("id", "x").coalesce(1), SaveMode.Append): Unit
      }
    }
    try {
      val e = intercept[IllegalArgumentException] {
        lake.addConstraint("x_pos", "x > 0")
      }
      assert(e.getMessage.contains("x_pos"), e.getMessage)
      assert(fired == 1, "interleaved append never ran")
    } finally lake.onConstraintValidatedForTest = () => ()
    // the constraint did NOT publish over data that violates it
    assert(!LakeTable(spark, dir).constraints.contains("x_pos"))
    assert(LakeTable(spark, dir).read.count() === 3L)
  }

  test("DDL half: benign movement mid-validation re-validates and publishes") {
    val dir = fresh("benign")
    val lake = LakeTable(spark, dir)
    lake.write(Seq((1L, 10.0)).toDF("id", "x").coalesce(1))
    var fired = 0
    lake.onConstraintValidatedForTest = () => {
      if (fired == 0) {
        fired += 1
        LakeTable(spark, dir).write(
          Seq((2L, 99.0)).toDF("id", "x").coalesce(1), SaveMode.Append): Unit
      }
    }
    try lake.addConstraint("x_pos", "x > 0")
    finally lake.onConstraintValidatedForTest = () => ()
    assert(fired == 1)
    assert(LakeTable(spark, dir).constraints.contains("x_pos"))
  }

  test("writer half: a constraint published mid-append re-validates the in-flight batch") {
    val dir = fresh("writer")
    val lake = LakeTable(spark, dir)
    lake.write(Seq((1L, 10.0)).toDF("id", "x").coalesce(1))
    // the DDL lands AFTER the append validated its batch (against the
    // then-empty constraint set) and BEFORE its point of no return; its
    // own validation sees only committed data, so it publishes cleanly
    var fired = 0
    lake.onBatchValidatedForTest = () => {
      if (fired == 0) {
        fired += 1
        LakeTable(spark, dir).addConstraint("x_pos", "x > 0"): Unit
      }
    }
    try {
      val e = intercept[IllegalArgumentException] {
        lake.write(Seq((2L, -1.0)).toDF("id", "x").coalesce(1), SaveMode.Append)
      }
      assert(e.getMessage.contains("x_pos"), e.getMessage)
      assert(fired == 1, "interleaved DDL never ran")
    } finally lake.onBatchValidatedForTest = () => ()
    // no partial state: the violating batch never landed, the constraint
    // stands, and the table satisfies it
    val fresh2 = LakeTable(spark, dir)
    assert(fresh2.constraints.contains("x_pos"))
    assert(fresh2.read.count() === 1L)
    fresh2.addConstraint("x_pos2", "x > 0"): Unit // full-table re-validation passes
  }

  test("generated-column backfill refuses a concurrent append (no silent null rows)") {
    // the backfill's snapshot read cannot see an append landing during
    // it; without the OCC gate those rows would carry NULL for a column
    // declared GENERATED ALWAYS AS — the same DDL-vs-writer shape as
    // constraints, closed by refusing instead of validating (a rebase
    // could not compute the column for the missed rows)
    val dir = fresh("genback")
    val lake = LakeTable(spark, dir)
    lake.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x").coalesce(1))
    var fired = 0
    lake.onResolvedForTest = () => {
      if (fired == 0) {
        fired += 1
        LakeTable(spark, dir).write(
          Seq((3L, 30.0)).toDF("id", "x").coalesce(1), SaveMode.Append): Unit
      }
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        lake.addGeneratedColumn("x2",
          org.apache.spark.sql.types.DoubleType, "x * 2")
      }
      assert(fired == 1, "interleaved append never ran")
    } finally lake.onResolvedForTest = () => ()
    // clean refusal: no declaration, no schema change, append intact
    val fresh2 = LakeTable(spark, dir)
    assert(!fresh2.generatedColumns.contains("x2"))
    assert(!fresh2.read.columns.contains("x2"))
    assert(fresh2.read.count() === 3L)
    // the retry against the settled table computes EVERY row
    fresh2.addGeneratedColumn("x2", org.apache.spark.sql.types.DoubleType, "x * 2"): Unit
    assert(fresh2.read.where(col("x2") =!= col("x") * 2).count() === 0L)
    assert(fresh2.read.where(col("x2").isNull).count() === 0L)
  }

  test("identity backfill refuses a concurrent append (no silent null ids)") {
    val dir = fresh("idback")
    val lake = LakeTable(spark, dir)
    lake.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    var fired = 0
    lake.onResolvedForTest = () => {
      if (fired == 0) {
        fired += 1
        LakeTable(spark, dir).write(
          Seq((3L, "c")).toDF("k", "v").coalesce(1), SaveMode.Append): Unit
      }
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        lake.addIdentityColumn("rid")
      }
      assert(fired == 1)
    } finally lake.onResolvedForTest = () => ()
    val fresh2 = LakeTable(spark, dir)
    assert(!fresh2.read.columns.contains("rid"))
    fresh2.addIdentityColumn("rid"): Unit
    assert(fresh2.read.where(col("rid").isNull).count() === 0L)
    assert(fresh2.read.select(countDistinct(col("rid"))).head().getLong(0) === 3L)
  }

  test("ε-window: a constraint saved between the gate's final read and the mark raises post-commit") {
    // the one crossing the pre-mark gate cannot see: the DDL's audit runs
    // while the writer's stage is still UNMARKED (publishes cleanly), and
    // the save lands after the gate's final clean read. The writer's
    // post-mark read — after the atomic publish, so it sees the save with
    // certainty — must detect it and fail LOUDLY after its commit instead
    // of silently admitting rows the constraint never validated.
    val dir = fresh("eps")
    val lake = LakeTable(spark, dir)
    lake.write(Seq((1L, 10.0)).toDF("id", "x").coalesce(1))
    var fired = 0
    lake.onStagePreMarkForTest = () => {
      if (fired == 0) {
        fired += 1
        LakeTable(spark, dir).addConstraint("x_pos", "x > 0"): Unit
      }
    }
    try {
      val e = intercept[IllegalStateException] {
        lake.write(Seq((2L, -1.0)).toDF("id", "x").coalesce(1), SaveMode.Append)
      }
      assert(e.getMessage.contains("COMMITTED"), e.getMessage)
      assert(e.getMessage.contains("x_pos"), e.getMessage)
      assert(fired == 1, "interleaved DDL never ran")
    } finally lake.onStagePreMarkForTest = () => ()
    // exactly-once data, attributed; the error told the operator to decide
    val fresh2 = LakeTable(spark, dir)
    assert(fresh2.read.count() === 2L)
    assert(fresh2.constraints.contains("x_pos"))
  }

  /** An ADD CONSTRAINT that validates the OLD data and commits while an
    * overwrite is staged, just before the swap's OCC check (the
    * onResolvedForTest seam). The overwrite is a staged rewrite, so the
    * DDL's commit refuses it before its point of no return.
    */
  private def overwriteRacingDdl(dir: String, batch: Double): Unit = {
    val lake = LakeTable(spark, dir)
    lake.write(Seq((1L, 10.0)).toDF("id", "x").coalesce(1))
    var fired = 0
    lake.onResolvedForTest = () => {
      if (fired == 0) {
        fired += 1
        LakeTable(spark, dir).addConstraint("x_pos", "x > 0"): Unit
      }
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        lake.write(Seq((2L, batch)).toDF("id", "x").coalesce(1), SaveMode.Overwrite)
      }
      assert(fired == 1, "interleaved DDL never ran")
    } finally lake.onResolvedForTest = () => ()
    // refused cleanly: old row, constraint kept, no stage left behind
    val fresh2 = LakeTable(spark, dir)
    assert(fresh2.read.as[(Long, Double)].collect().toSeq === Seq((1L, 10.0)))
    assert(fresh2.constraints.get("x_pos").contains("x > 0"))
    assert(!new java.io.File(s"$dir${LakeTable.StageSuffix}").exists)
    assert(!new java.io.File(s"$dir${LakeTable.StageClaimSuffix}").exists)
  }

  test("overwrite window: a DDL committing mid-overwrite refuses it, and the retry is gated") {
    val dir = fresh("ovw")
    overwriteRacingDdl(dir, -1.0)
    // the retry sees the constraint and refuses the violating batch
    val e = intercept[IllegalArgumentException] {
      LakeTable(spark, dir).write(Seq((2L, -1.0)).toDF("id", "x").coalesce(1), SaveMode.Overwrite)
    }
    assert(e.getMessage.contains("x_pos"), e.getMessage)
    assert(LakeTable(spark, dir).read.as[(Long, Double)].collect().toSeq === Seq((1L, 10.0)))
  }

  test("overwrite window: a CLEAN overwrite refused by a mid-overwrite DDL lands on retry") {
    val dir = fresh("ovwclean")
    overwriteRacingDdl(dir, 5.0)
    LakeTable(spark, dir).write(Seq((2L, 5.0)).toDF("id", "x").coalesce(1), SaveMode.Overwrite)
    val fresh2 = LakeTable(spark, dir)
    assert(fresh2.read.as[(Long, Double)].collect().toSeq === Seq((2L, 5.0)))
    assert(fresh2.constraints.contains("x_pos"))
  }

  test("ε-window: a CLEAN batch passes the post-mark read silently") {
    val dir = fresh("epsclean")
    val lake = LakeTable(spark, dir)
    lake.write(Seq((1L, 10.0)).toDF("id", "x").coalesce(1))
    var fired = 0
    lake.onStagePreMarkForTest = () => {
      if (fired == 0) {
        fired += 1
        LakeTable(spark, dir).addConstraint("x_pos", "x > 0"): Unit
      }
    }
    try lake.write(Seq((2L, 5.0)).toDF("id", "x").coalesce(1), SaveMode.Append)
    finally lake.onStagePreMarkForTest = () => ()
    assert(fired == 1)
    assert(LakeTable(spark, dir).read.count() === 2L)
  }

  test("DDL half: a pre-existing MARKED append stage is absorbed before validation") {
    // the stage was marked BEFORE addConstraint started, so it is not
    // "movement" — but its rows WILL land (recovery completes marked
    // stages even if the writer died). Validation must cover them:
    // addConstraint recovers marked append stages first, then validates.
    val dir = fresh("premark")
    val lake = LakeTable(spark, dir)
    lake.write(Seq((1L, 10.0)).toDF("id", "x").coalesce(1))
    val marked = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    lake.onStageMarkedForTest = () => {
      marked.countDown()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
    }
    val writer = new Thread(() =>
      try lake.write(Seq((2L, -7.0)).toDF("id", "x").coalesce(1), SaveMode.Append): Unit
      catch { case _: Throwable => () })
    writer.start()
    marked.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
    try {
      val e = intercept[IllegalArgumentException] {
        LakeTable(spark, dir).addConstraint("x_pos", "x > 0")
      }
      assert(e.getMessage.contains("x_pos"), e.getMessage)
    } finally {
      release.countDown()
      writer.join(60000)
      lake.onStageMarkedForTest = () => ()
    }
    // the DDL's recovery absorbed the marked rows (the parked writer's own
    // completion is the tolerated twin) and correctly refused to publish
    val fresh2 = LakeTable(spark, dir)
    assert(!fresh2.constraints.contains("x_pos"))
    assert(fresh2.read.count() === 2L)
    assert(fresh2.read.where(col("x") === -7.0).count() === 1L)
  }

  test("writer half: a clean in-flight batch passes the late re-validation and lands") {
    val dir = fresh("clean")
    val lake = LakeTable(spark, dir)
    lake.write(Seq((1L, 10.0)).toDF("id", "x").coalesce(1))
    var fired = 0
    lake.onBatchValidatedForTest = () => {
      if (fired == 0) {
        fired += 1
        LakeTable(spark, dir).addConstraint("x_pos", "x > 0"): Unit
      }
    }
    try lake.write(Seq((2L, 5.0)).toDF("id", "x").coalesce(1), SaveMode.Append)
    finally lake.onBatchValidatedForTest = () => ()
    assert(fired == 1)
    assert(LakeTable(spark, dir).read.count() === 2L)
    assert(LakeTable(spark, dir).constraints.contains("x_pos"))
  }
}
