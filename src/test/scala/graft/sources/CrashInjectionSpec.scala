package graft.sources

import java.net.URI
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The fuse every gated filesystem op consults. `arm(n)` allows exactly
  * `n` MUTATIONS (create/rename/delete/mkdirs) and then simulates a
  * crash: the nth+1 mutation throws [[FsFuse.InjectedCrash]] and the fs
  * goes FROZEN — every subsequent op (reads included) fails like a dead
  * process's would, so in-JVM cleanup paths cannot mutate state a real
  * crash would have left behind.
  */
object FsFuse {
  final class InjectedCrash extends Error("injected crash: fs fuse fired")
  private var remaining: Int = -1
  @volatile var frozen: Boolean = false
  @volatile var fired: Boolean = false
  def arm(n: Int): Unit = synchronized { remaining = n; frozen = false; fired = false }
  def disarm(): Unit = synchronized { remaining = -1; frozen = false }
  def mutation(): Unit = synchronized {
    if (frozen) throw new java.io.IOException("injected: fs frozen (process dead)")
    if (remaining == 0) { frozen = true; fired = true; throw new InjectedCrash }
    if (remaining > 0) remaining -= 1
  }
  def read(): Unit =
    if (frozen) throw new java.io.IOException("injected: fs frozen (process dead)")
}

/** RawLocalFileSystem with every mutation (and, once frozen, every
  * read) gated through [[FsFuse]].
  */
final class GatedRawFs extends RawLocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = {
    FsFuse.mutation(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FsFuse.mutation(); super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = { FsFuse.mutation(); super.mkdirs(p) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    FsFuse.mutation(); super.mkdirs(p, permission)
  }
  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsFuse.mutation()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsFuse.read(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsFuse.read(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    FsFuse.read(); super.getFileStatus(f)
  }
}

/** Systematic crash injection over the swap/publish/commit sequence.
  *
  * Round 13 proved the need: targeted crash specs (OccSpec's seams, the
  * quarantine-ordering pin) each cover ONE hand-picked window, and the
  * round's self-review still found an unpinned one (the
  * committed-but-unpublished change-set window). This spec enumerates
  * windows MECHANICALLY instead: for each lake operation it walks fuse
  * positions 0, 1, 2, … — crash at the 1st metadata mutation, the 2nd,
  * every one until the op completes — and after every simulated crash
  * asserts the full convergence contract:
  *
  *   1. `vacuumDebris()` (the documented recovery) succeeds;
  *   2. the table reads EXACTLY the pre-state or the post-state — never
  *      a partial mix, never duplicates;
  *   3. if the op's commit record landed (directly or as RECOVERED),
  *      the data IS the post-state — a commit never lies;
  *   4. retrying the op (the crashed client's documented contract)
  *      lands the post-state exactly;
  *   5. the table is not bricked: a follow-up append commits and reads
  *      back, and no stage/claim debris survives recovery;
  *   6. the table's metadata survives: every pre-crash commit record is
  *      still in `history`, `constraints` is unchanged, and the change
  *      feed still returns every row it had recorded.
  *
  * The gated fs is the METADATA fs (LakeTable.fsDecoratorForTest):
  * driver-side swap phases, LakeIo publications, commit claims, DV/
  * ledger gating. Executor-side data writes keep the real fs — data
  * files land whole, which matches any real crash at task granularity
  * (a torn task file is the committer's problem and never promoted).
  */
object CrashInjectionSpec {

  /** What a crash must never take from a table besides its rows. */
  final case class Metadata(
      history: Set[(Long, String)],
      constraints: Map[String, String],
      changes: Set[String])
}

class CrashInjectionSpec extends SparkSpec {
  import spark.implicits._

  private val MaxFusePositions = 150

  private def newFaultFs(): LocalFileSystem = {
    val conf = spark.sessionState.newHadoopConf()
    val raw = new GatedRawFs()
    raw.initialize(URI.create("file:///"), conf)
    val fault = new LocalFileSystem(raw)
    fault.initialize(URI.create("file:///"), conf)
    fault
  }

  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src); val d = java.nio.file.Paths.get(dst)
    val walk = Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t): Unit
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES): Unit
    } finally walk.close()
  }

  private def rows(dir: String): Seq[(Long, String)] =
    LakeTable(spark, dir).read.select(col("id"), col("v"))
      .as[(Long, String)].collect().sorted.toSeq

  /** Walk every fuse position for `op` against a fresh copy of the
    * `template` table; returns the number of crash points exercised.
    * `at` runs every position at that one path instead (its parent dir
    * emptied and the template copied back each time), for table state
    * that records absolute file paths: file stats. `onCompleted`
    * inspects the table the uncrashed (completing) run left.
    */
  private def crashWalk(
      name: String, template: String,
      op: LakeTable => Unit,
      post: Seq[(Long, String)],
      replayConverges: Boolean,
      at: Option[String] = None,
      onCompleted: LakeTable => Unit = _ => ()): Int = {
    val pre = rows(template)
    val preCommits = LakeTable(spark, template).history.count()
    val preMeta = metadata(template)
    var fuse = 0
    var completed = false
    while (!completed && fuse < MaxFusePositions) {
      val dir = at.getOrElse(Files.createTempDirectory(s"graft_crash_$name").toString + "/t")
      if (at.isDefined)
        org.apache.commons.io.FileUtils.cleanDirectory(new java.io.File(dir).getParentFile)
      copyDir(template, dir)
      val lake = LakeTable(spark, dir)
      LakeTable.fsDecoratorForTest = _ => newFaultFs()
      FsFuse.arm(fuse)
      val outcome = try { op(lake); None }
      catch { case t: Throwable => Some(t) }
      val fired = FsFuse.fired
      FsFuse.disarm()
      LakeTable.fsDecoratorForTest = identity(_)
      if (outcome.isEmpty && !fired) {
        completed = true
        onCompleted(LakeTable(spark, dir))
      } else {
        assert(fired,
          s"$name fuse=$fuse: op failed without the fuse firing: ${outcome.get}")
        // ---- convergence contract after the simulated crash ----
        val fresh = LakeTable(spark, dir)
        fresh.vacuumDebris(): Unit
        val got = rows(dir)
        assert(got == pre || got == post,
          s"$name fuse=$fuse: recovered state is neither pre nor post: $got")
        val opsAfter = fresh.history
          .select("version", "operation").as[(Long, String)].collect()
          .filter(r => r._1 >= preCommits && r._2 != "VACUUM DEBRIS")
        if (opsAfter.nonEmpty)
          assert(got == post,
            s"$name fuse=$fuse: commit recorded (${opsAfter.mkString(",")}) " +
              s"but data is not the post-state")
        val meta = metadata(dir, withFeed = preMeta.changes.nonEmpty)
        assert(preMeta.history.subsetOf(meta.history),
          s"$name fuse=$fuse: commit records lost: " +
            s"${(preMeta.history -- meta.history).toSeq.sorted.mkString(",")}")
        assert(meta.constraints == preMeta.constraints,
          s"$name fuse=$fuse: constraints ${preMeta.constraints} became ${meta.constraints}")
        assert(preMeta.changes.subsetOf(meta.changes),
          s"$name fuse=$fuse: change-feed rows lost: ${preMeta.changes -- meta.changes}")
        if (replayConverges) {
          op(LakeTable(spark, dir))
          assert(rows(dir) == post,
            s"$name fuse=$fuse: replay did not converge to the post-state")
        }
        // not bricked: stage slot free, follow-up append lands
        val fsReal = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        assert(!fsReal.exists(new org.apache.hadoop.fs.Path(s"$dir${LakeTable.StageSuffix}")),
          s"$name fuse=$fuse: stage survived recovery")
        assert(!fsReal.exists(new org.apache.hadoop.fs.Path(s"$dir${LakeTable.StageClaimSuffix}")),
          s"$name fuse=$fuse: stage claim survived recovery")
        val after = if (replayConverges) post else rows(dir)
        // probe row cast to the table's CURRENT id type: a widening walk's
        // pre-crash states still hold the narrow type, and a wider probe
        // would be a (correctly) gated evolution, not a plain append
        val idType = LakeTable(spark, dir).read.schema("id").dataType
        val probe = Seq((999L, "z")).toDF("id", "v")
          .select(col("id").cast(idType).as("id"), col("v")).coalesce(1)
        // a Hive-partitioned recovered state takes a partitioned append
        val parts = LakeTable(spark, dir).partitionColumns()
        if (parts.isEmpty) LakeTable(spark, dir).write(probe, SaveMode.Append): Unit
        else LakeTable(spark, dir).writePartitioned(probe, parts, SaveMode.Append): Unit
        assert(rows(dir) == (after :+ (999L -> "z")).sorted,
          s"$name fuse=$fuse: follow-up append broke the table")
      }
      fuse += 1
    }
    assert(completed, s"$name: op still crashing after $MaxFusePositions fuse positions")
    fuse - 1 // positions exercised = last fuse value that fired
  }

  /** `withFeed = false` skips the change feed: a table whose template
    * recorded none may hold only an op's unpublished change set.
    */
  private def metadata(dir: String, withFeed: Boolean = true): CrashInjectionSpec.Metadata = {
    val lake = LakeTable(spark, dir)
    val hasFeed = withFeed && new java.io.File(dir, LakeTable.ChangesDirName).exists
    CrashInjectionSpec.Metadata(
      lake.history.select("version", "operation").as[(Long, String)].collect().toSet,
      lake.constraints,
      if (!hasFeed) Set.empty
      else lake.readChanges().collect().map(_.toString).toSet)
  }

  private def freshTemplate(name: String, smallAppends: Int = 0): String = {
    val dir = Files.createTempDirectory(s"graft_crashtpl_$name").toString + "/t"
    val lake = LakeTable(spark, dir)
    lake.write(Seq((0L, "a"), (1L, "a"), (2L, "a")).toDF("id", "v").coalesce(1))
    (0 until smallAppends).foreach { i =>
      lake.write(Seq((3L + i, "s")).toDF("id", "v").coalesce(1), SaveMode.Append): Unit
    }
    dir
  }

  test("append converges from a crash at every metadata fs operation") {
    val tpl = freshTemplate("append")
    val pre = rows(tpl)
    val n = crashWalk("append", tpl,
      l => l.write(Seq((10L, "x"), (11L, "x")).toDF("id", "v").coalesce(1),
        SaveMode.Append): Unit,
      post = (pre ++ Seq((10L, "x"), (11L, "x"))).sorted,
      // an append replay without a sink tag would double rows when the
      // data landed pre-crash — at-least-once appenders arbitrate by
      // commit tag (LakeSink), so the blind replay is NOT the contract
      replayConverges = false)
    assert(n >= 3, s"append walk exercised only $n crash points")
  }

  test("CDC upsert (staged swap + publication) converges from a crash at every metadata fs operation") {
    val tpl = freshTemplate("upsert")
    val pre = rows(tpl)
    val n = crashWalk("upsert", tpl,
      l => l.upsert(Seq((1L, "u"), (5L, "n")).toDF("id", "v"),
        Seq("id"), changeFeed = true): Unit,
      post = (pre.filterNot(_._1 == 1L) ++ Seq((1L, "u"), (5L, "n"))).sorted,
      replayConverges = true)
    assert(n >= 8, s"upsert walk exercised only $n crash points")
  }

  /** Appends, a change-feed upsert and a CHECK constraint: the metadata
    * a whole-table replacement must carry through its swap.
    */
  private def overwriteTemplate(name: String): String = {
    val tpl = freshTemplate(name, smallAppends = 2)
    val lake = LakeTable(spark, tpl)
    lake.upsert(Seq((1L, "u")).toDF("id", "v"), Seq("id"), changeFeed = true): Unit
    lake.addConstraint("id_nonneg", "id >= 0"): Unit
    tpl
  }

  private val overwriteRows = Seq((20L, "o"), (21L, "o"), (22L, "p"))

  test("overwrite keeps history, constraints and change feed from a crash at every metadata fs operation") {
    val tpl = overwriteTemplate("overwrite")
    val n = crashWalk("overwrite", tpl,
      l => l.write(overwriteRows.toDF("id", "v").coalesce(1), SaveMode.Overwrite): Unit,
      post = overwriteRows.sorted,
      replayConverges = true)
    assert(n >= 8, s"overwrite walk exercised only $n crash points")
  }

  test("partitioned overwrite keeps history, constraints and change feed from a crash at every metadata fs operation") {
    val tpl = overwriteTemplate("partoverwrite")
    val n = crashWalk("partoverwrite", tpl,
      l => l.writePartitioned(overwriteRows.toDF("id", "v").coalesce(1), Seq("v"),
        SaveMode.Overwrite): Unit,
      post = overwriteRows.sorted,
      replayConverges = true)
    assert(n >= 8, s"partitioned overwrite walk exercised only $n crash points")
  }

  test("selective CDC delete (kept files ride the manifest) converges from a crash at every metadata fs operation") {
    // three files with stats on id: the delete rewrites the one file
    // whose range admits id = 1 while the other two move through the
    // swap untouched, and its change set publishes at the commit. The
    // stats name files by absolute path, so the walk runs at the path
    // they were collected at, restored from a pristine copy
    val home = freshTemplate("seldelete", smallAppends = 2)
    LakeTable(spark, home).collectStats(Seq("id")): Unit
    val tpl = Files.createTempDirectory("graft_crashtpl_seldelete_copy").toString + "/t"
    copyDir(home, tpl)
    val pre = rows(tpl)
    val n = crashWalk("seldelete", tpl,
      l => l.delete(col("id") === 1L, changeFeed = true): Unit,
      post = pre.filterNot(_._1 == 1L),
      replayConverges = true,
      at = Some(home),
      onCompleted = done => {
        val kept = done.history.where(col("operation") === "DELETE")
          .select("operationParameters.filesKept").as[String].collect().toSeq
        assert(kept.nonEmpty && kept.forall(k => k != null && k.toInt > 0),
          s"the delete took the full replacement (filesKept = $kept), not the selective swap")
      })
    assert(n >= 8, s"selective delete walk exercised only $n crash points")
  }

  test("compactSmall (maintenance swap) converges from a crash at every metadata fs operation") {
    val tpl = freshTemplate("compact", smallAppends = 3)
    val pre = rows(tpl)
    val n = crashWalk("compact", tpl,
      l => l.compactSmall(minFileBytes = 1L << 30,
        targetFileBytes = 1L << 30): Unit,
      post = pre,
      replayConverges = false)
    assert(n >= 8, s"compact walk exercised only $n crash points")
  }

  test("expectations append (quarantine-before-ledger ordering) converges from a crash at every metadata fs operation") {
    // the window the r13 verdict enumerated by name ("between quarantine
    // and ledger claim"): appendExpecting commits the QUARANTINE before
    // the tag-carrying clean append, so no crash point may ever reach
    // "clean batch committed (tag present) but the violation audit lost"
    val tpl = freshTemplate("expect")
    LakeTable(spark, tpl).addConstraint("vok", "v <> 'bad'"): Unit
    val pre = rows(tpl)
    val post = (pre :+ (20L -> "x")).sorted
    val tagK = "graft.crashwalk.batch"; val tagV = "b1"
    def quarantineViolations(dir: String): Long = {
      val q = LakeTable(spark, s"${dir}__quarantine")
      if (!q.exists) 0L else q.read.where(col("id") === 21L).count()
    }
    var fuse = 0
    var completed = false
    while (!completed && fuse < MaxFusePositions) {
      val dir = Files.createTempDirectory("graft_crash_expect").toString + "/t"
      copyDir(tpl, dir)
      val batch = Seq((20L, "x"), (21L, "bad")).toDF("id", "v").coalesce(1)
      LakeTable.fsDecoratorForTest = _ => newFaultFs()
      FsFuse.arm(fuse)
      val outcome = try {
        LakeTable(spark, dir).appendExpecting(batch, Map(tagK -> tagV)): Unit
        None
      } catch { case t: Throwable => Some(t) }
      val fired = FsFuse.fired
      FsFuse.disarm()
      LakeTable.fsDecoratorForTest = identity(_)
      if (outcome.isEmpty && !fired) completed = true
      else {
        assert(fired, s"expect fuse=$fuse: op failed without the fuse firing: ${outcome.get}")
        val fresh = LakeTable(spark, dir)
        fresh.vacuumDebris(): Unit
        val got = rows(dir)
        assert(got == pre || got == post,
          s"expect fuse=$fuse: recovered state is neither pre nor post: $got")
        if (fresh.hasCommitParam(tagK, tagV)) {
          // the ordering contract itself: a committed (replay-skippable)
          // clean batch implies its violations are already durable
          assert(got == post, s"expect fuse=$fuse: tag committed but clean rows missing")
          assert(quarantineViolations(dir) >= 1L,
            s"expect fuse=$fuse: clean append committed but the violation " +
              "audit is lost — quarantine-before-ledger ordering broke")
        }
        // the streaming caller's replay contract: re-run iff untagged.
        // (When the clean DATA landed but the tag did not, a blind replay
        // duplicates clean rows — the documented data-before-commit
        // residue append sinks arbitrate by tag, so the replay here only
        // fires when the data never landed either.)
        if (!LakeTable(spark, dir).hasCommitParam(tagK, tagV) && got == pre) {
          LakeTable(spark, dir).appendExpecting(
            Seq((20L, "x"), (21L, "bad")).toDF("id", "v").coalesce(1),
            Map(tagK -> tagV)): Unit
          assert(rows(dir) == post,
            s"expect fuse=$fuse: replay did not converge to post")
          assert(quarantineViolations(dir) >= 1L,
            s"expect fuse=$fuse: replay lost the violation audit")
        }
      }
      fuse += 1
    }
    assert(completed, s"expect: op still crashing after $MaxFusePositions fuse positions")
  }

  test("vectored delete (DV publication) converges from a crash at every metadata fs operation") {
    val tpl = freshTemplate("deletedv")
    val pre = rows(tpl)
    val n = crashWalk("deletedv", tpl,
      l => l.deleteVectored(col("id") === 1L, changeFeed = true): Unit,
      post = pre.filterNot(_._1 == 1L),
      replayConverges = true)
    assert(n >= 2, s"delete walk exercised only $n crash points")
  }

  test("tagged MULTI-FILE append (LakeSink replay) is exactly-once from a crash at every metadata fs operation") {
    // The two windows KillProbe motivated, walked deterministically:
    //  - a multi-file promotion crash must never leave a partial batch
    //    after recovery (pre-or-post covers it: the batch is 3 task
    //    files, so any partially-promoted state is neither);
    //  - a crash between full promotion and the tagged commit must NOT
    //    duplicate on replay — cold-start recovery attributes the
    //    marked stage (RECOVERED commit carries the tag), and the
    //    replayed batch is skipped. resetReplayCacheForTest makes each
    //    replay behave like a fresh process (re-seed from the log).
    import graft.streaming.LakeSink
    val tpl = freshTemplate("sinkappend")
    val pre = rows(tpl)
    val batch = Seq((10L, "x"), (11L, "x"), (12L, "x"))
    val post = (pre ++ batch).sorted
    def op(l: LakeTable): Unit = {
      LakeSink.resetReplayCacheForTest()
      LakeSink.writeBatch(l, batch.toDF("id", "v").repartition(3), 7L, "crashwalk")
    }
    val n = crashWalk("sinkappend", tpl, op, post, replayConverges = true)
    assert(n >= 5, s"tagged append walk exercised only $n crash points")
  }

  test("type-WIDENING append (int->long, mergeSchema) converges from a crash at every metadata fs operation") {
    // the widening-specific window: promotion done, saveSchema not — the
    // promoted files physically hold int64, and a recovery that restored
    // only name-missing columns would leave an int32 stored schema that
    // cannot read them (parquet promotes upward only). completeAppendStage
    // must adopt the marker's WIDER type.
    val dir0 = Files.createTempDirectory("graft_crashtpl_widen").toString + "/t"
    LakeTable(spark, dir0).write(
      Seq((0, "a"), (1, "a"), (2, "a")).toDF("id", "v").coalesce(1))
    val pre = rows(dir0)
    val wide = Seq((5000000000L, "w"), (6000000000L, "w"))
    val n = crashWalk("widen", dir0,
      l => l.write(wide.toDF("id", "v").coalesce(1), SaveMode.Append,
        mergeSchema = true): Unit,
      post = (pre ++ wide).sorted,
      replayConverges = false)
    assert(n >= 3, s"widening append walk exercised only $n crash points")
  }

  test("WARM same-process retry of a failed sink batch is exactly-once at every crash point") {
    // The window the forked-process probes structurally miss: a
    // foreachBatch attempt fails mid-append (possibly past its marked
    // point of no return) and the SAME process retries the batch — no
    // process death, so no fresh cold start. The sink must evict its
    // warm high-water cache on failure, or the retry trusts the stale
    // mark, re-appends, and the failed attempt's marked stage is later
    // completed by recovery: the batch lands twice.
    import graft.streaming.LakeSink
    val tpl = freshTemplate("sinkwarm")
    val pre = rows(tpl)
    val batch = Seq((30L, "w"), (31L, "w"), (32L, "w"))
    val post = (pre ++ batch).sorted
    var fuse = 0
    var completed = false
    var crashes = 0
    while (!completed && fuse < MaxFusePositions) {
      val dir = Files.createTempDirectory("graft_crash_warm").toString + "/t"
      copyDir(tpl, dir)
      LakeSink.resetReplayCacheForTest() // a fresh process picks up the table…
      LakeTable.fsDecoratorForTest = _ => newFaultFs()
      FsFuse.arm(fuse)
      val outcome = try {
        LakeSink.writeBatch(LakeTable(spark, dir),
          batch.toDF("id", "v").repartition(3), 7L, "warmwalk")
        None
      } catch { case t: Throwable => Some(t) }
      val fired = FsFuse.fired
      FsFuse.disarm()
      LakeTable.fsDecoratorForTest = identity(_)
      if (outcome.isEmpty && !fired) completed = true
      else {
        assert(fired, s"warm fuse=$fuse: op failed without the fuse firing: ${outcome.get}")
        crashes += 1
        // …then retries IN PLACE: replay cache deliberately NOT reset
        LakeSink.writeBatch(LakeTable(spark, dir),
          batch.toDF("id", "v").repartition(3), 7L, "warmwalk")
        assert(rows(dir) == post,
          s"warm fuse=$fuse: same-process retry did not converge to post")
        // recovery completing whatever stage the failed attempt left
        // must find it already attributed — never a second landing
        LakeTable(spark, dir).vacuumDebris(): Unit
        assert(rows(dir) == post,
          s"warm fuse=$fuse: batch duplicated after debris recovery")
      }
      fuse += 1
    }
    assert(completed, s"warm: op still crashing after $MaxFusePositions fuse positions")
    assert(crashes >= 5, s"warm walk exercised only $crashes crash points")
  }

  test("a table's very FIRST tagged append converges from a crash at every metadata fs operation") {
    // the create path KillProbe's first run broke: a kill during the
    // first-ever operation must leave either NO table, an empty-but-
    // readable one (schema landed, data didn't), or the full batch —
    // and the replaying sink must converge to exactly one copy
    import graft.streaming.LakeSink
    val batch = Seq((0L, "a"), (1L, "a"), (2L, "a"))
    val post = batch.sorted
    var fuse = 0
    var completed = false
    while (!completed && fuse < MaxFusePositions) {
      val dir = Files.createTempDirectory("graft_crash_first").toString + "/t"
      LakeTable.fsDecoratorForTest = _ => newFaultFs()
      FsFuse.arm(fuse)
      val outcome = try {
        LakeSink.resetReplayCacheForTest()
        LakeSink.writeBatch(LakeTable(spark, dir),
          batch.toDF("id", "v").repartition(3), 0L, "firstwalk")
        None
      } catch { case t: Throwable => Some(t) }
      val fired = FsFuse.fired
      FsFuse.disarm()
      LakeTable.fsDecoratorForTest = identity(_)
      if (outcome.isEmpty && !fired) completed = true
      else {
        assert(fired, s"first fuse=$fuse: op failed without the fuse firing: ${outcome.get}")
        val fresh = LakeTable(spark, dir)
        fresh.vacuumDebris(): Unit
        val got =
          if (!fresh.exists) Seq.empty
          else try rows(dir)
          catch {
            // the named crashed-first-write state counts as "no table"
            // (vacuumDebris deliberately retains the young dir — the age
            // horizon protects a live first writer — and readers get
            // this explicit error, never Spark's opaque schema failure)
            case e: IllegalStateException
              if e.getMessage.contains("not a lake table yet") => Seq.empty
            case e: org.apache.spark.sql.AnalysisException =>
              fail(s"first fuse=$fuse: table exists but is unreadable: ${e.getMessage}")
          }
        assert(got == Seq.empty || got == post,
          s"first fuse=$fuse: recovered state is neither empty nor post: $got")
        LakeSink.resetReplayCacheForTest()
        LakeSink.writeBatch(LakeTable(spark, dir),
          batch.toDF("id", "v").repartition(3), 0L, "firstwalk")
        assert(rows(dir) == post,
          s"first fuse=$fuse: replay did not converge to exactly one copy")
      }
      fuse += 1
    }
    assert(completed, s"first: op still crashing after $MaxFusePositions fuse positions")
  }

  test("dynamic partition overwrite converges from a crash at every metadata fs operation") {
    // the one staged path the original four walks missed; its markers
    // (swap manifest + pending op) now publish atomically, and recovery
    // must complete a mid-swap crash to exactly the post state
    val tplRoot = Files.createTempDirectory("graft_crashtpl_dyno").toString
    val tpl = tplRoot + "/t"
    LakeTable(spark, tpl).writePartitioned(
      Seq((0L, "a"), (1L, "a"), (2L, "b"), (3L, "b")).toDF("id", "v")
        .coalesce(1), Seq("v")): Unit
    val pre = rows(tpl)
    val post = Seq((2L, "b"), (3L, "b"), (10L, "a"), (11L, "a")).sorted
    var fuse = 0
    var completed = false
    while (!completed && fuse < MaxFusePositions) {
      val dir = Files.createTempDirectory("graft_crash_dyno").toString + "/t"
      copyDir(tpl, dir)
      LakeTable.fsDecoratorForTest = _ => newFaultFs()
      FsFuse.arm(fuse)
      val outcome = try {
        LakeTable(spark, dir).overwritePartitions(
          Seq((10L, "a"), (11L, "a")).toDF("id", "v").coalesce(1), Seq("v")): Unit
        None
      } catch { case t: Throwable => Some(t) }
      val fired = FsFuse.fired
      FsFuse.disarm()
      LakeTable.fsDecoratorForTest = identity(_)
      if (outcome.isEmpty && !fired) completed = true
      else {
        assert(fired, s"dyno fuse=$fuse: op failed without the fuse firing: ${outcome.get}")
        val fresh = LakeTable(spark, dir)
        // the part-stage reaper is age-gated to protect live writers; no
        // writer is alive here, so recovery may act immediately
        val saved = LakeTable.PartStageRetentionMs
        LakeTable.PartStageRetentionMs = 0L
        try fresh.vacuumDebris(): Unit
        finally LakeTable.PartStageRetentionMs = saved
        val got = rows(dir)
        assert(got == pre || got == post,
          s"dyno fuse=$fuse: recovered state is neither pre nor post: $got")
        // replay (the idempotent daily-backfill contract): same partition
        // replaced again must land exactly post
        LakeTable(spark, dir).overwritePartitions(
          Seq((10L, "a"), (11L, "a")).toDF("id", "v").coalesce(1), Seq("v")): Unit
        assert(rows(dir) == post,
          s"dyno fuse=$fuse: replay did not converge to the post state")
      }
      fuse += 1
    }
    assert(completed, s"dyno: op still crashing after $MaxFusePositions fuse positions")
  }

  test("mergeSchema append recovers its evolved column from a crash at every metadata fs operation") {
    // the schema rides the append marker: a writer killed after promotion
    // but before its own saveSchema must still yield a table whose
    // recovered rows read WITH the evolved column (merged from the
    // marker), and a merely-FAILED append must never commit the evolved
    // schema (data-before-schema order)
    val tpl = freshTemplate("msappend")
    val tagK = "graft.crashwalk.msbatch"; val tagV = "b1"
    val preCols = LakeTable(spark, tpl).read.columns.toSet
    assert(!preCols.contains("extra"))
    var fuse = 0
    var completed = false
    while (!completed && fuse < MaxFusePositions) {
      val dir = Files.createTempDirectory("graft_crash_ms").toString + "/t"
      copyDir(tpl, dir)
      def batch = Seq((10L, "x", "e1"), (11L, "x", "e2"))
        .toDF("id", "v", "extra").repartition(2)
      LakeTable.fsDecoratorForTest = _ => newFaultFs()
      FsFuse.arm(fuse)
      val outcome = try {
        LakeTable(spark, dir).write(batch, SaveMode.Append,
          mergeSchema = true, extraParams = Map(tagK -> tagV)): Unit
        None
      } catch { case t: Throwable => Some(t) }
      val fired = FsFuse.fired
      FsFuse.disarm()
      LakeTable.fsDecoratorForTest = identity(_)
      if (outcome.isEmpty && !fired) completed = true
      else {
        assert(fired, s"ms fuse=$fuse: op failed without the fuse firing: ${outcome.get}")
        val fresh = LakeTable(spark, dir)
        fresh.vacuumDebris(): Unit
        val df = fresh.read
        if (fresh.hasCommitParam(tagK, tagV)) {
          // attributed (directly or RECOVERED) => rows AND column present
          assert(df.columns.contains("extra"),
            s"ms fuse=$fuse: append attributed but the evolved column is lost")
          val vals = df.where(col("id") >= 10L)
            .select("extra").as[String].collect().sorted.toSeq
          assert(vals == Seq("e1", "e2"),
            s"ms fuse=$fuse: evolved column lost its values: $vals")
        } else {
          // unattributed => the evolved schema must NOT have committed
          // (a failed append leaves no schema residue) and no new rows
          assert(!df.columns.contains("extra"),
            s"ms fuse=$fuse: append not attributed but schema evolved anyway")
          assert(df.where(col("id") >= 10L).isEmpty,
            s"ms fuse=$fuse: rows visible without attribution or recovery")
          // the sink replay contract: re-run converges
          LakeTable(spark, dir).write(batch, SaveMode.Append,
            mergeSchema = true, extraParams = Map(tagK -> tagV)): Unit
        }
        val after = LakeTable(spark, dir).read
        assert(after.columns.contains("extra") &&
          after.where(col("id") >= 10L).count() == 2L,
          s"ms fuse=$fuse: final state wrong")
      }
      fuse += 1
    }
    assert(completed, s"ms: op still crashing after $MaxFusePositions fuse positions")
  }

  test("BM25 index fold converges from a crash at every metadata fs operation") {
    // the standing index's maintenance fold mutates FOUR lakes in
    // sequence (postings removals, postings append, terms df merge,
    // stats scalars) and stamps LAST — a crash (or an in-process retry
    // after a torn read) between any two must make the REFOLD converge,
    // never double-apply. Ground truth: a fresh rebuild of the same
    // corpus must be content-identical after recovery + refold.
    import graft.text.InvertedIndex
    // IndexMeta pins the base path, so each fuse iteration gets a FRESH
    // docs+index pair (a copied template would fail the identity check)
    def setup(): String = {
      val root = Files.createTempDirectory("graft_crash_idx").toString
      val docs = LakeTable(spark, s"$root/docs")
      docs.write((0L until 12L).map(i =>
        (i, s"seed doc $i tok${i % 5} tok${(i + 2) % 7}"))
        .toDF("doc_id", "text").coalesce(1)): Unit
      InvertedIndex.build(docs, "doc_id", "text", s"$root/idx")
      // the delta under fold: 4 fresh inserts (pure-append path) + 2
      // updates (removal + re-add path), one change-feed commit
      docs.upsert(
        (Seq((12L, "fresh tok1 tok9"), (13L, "fresh tok2 tok9"),
          (14L, "fresh tok3"), (15L, "fresh tok4 tok9")) ++
          Seq((3L, "updated tok5"), (7L, "updated tok5 tok1")))
          .toDF("doc_id", "text").coalesce(1),
        Seq("doc_id"), changeFeed = true): Unit
      root
    }

    def subTables(root: String) = Seq("postings", "terms", "stats")
      .map(s => LakeTable(spark, s"$root/idx/$s"))
    def assertMatchesRebuild(root: String, what: String): Unit = {
      InvertedIndex.build(LakeTable(spark, s"$root/docs"),
        "doc_id", "text", s"$root/idx_rebuilt")
      def diff(sub: String, cols: Seq[String]): String = {
        val a = LakeTable(spark, s"$root/idx/$sub").read.select(cols.map(col): _*)
        val b = LakeTable(spark, s"$root/idx_rebuilt/$sub").read.select(cols.map(col): _*)
        val extra = a.exceptAll(b).collect().map(_.toString).sorted
        val missing = b.exceptAll(a).collect().map(_.toString).sorted
        if (extra.isEmpty && missing.isEmpty) ""
        else s"extra=${extra.take(20).mkString(",")} missing=${missing.take(20).mkString(",")}"
      }
      val pd = diff("postings", Seq("term", "doc_id", "tf", "dl"))
      assert(pd.isEmpty, s"$what: postings diverge from a fresh rebuild: $pd")
      val td = diff("terms", Seq("term", "df"))
      assert(td.isEmpty, s"$what: vocabulary diverges from a fresh rebuild: $td")
      val m = LakeTable(spark, s"$root/idx/stats").read
        .select("n_docs", "avgdl").head()
      val r = LakeTable(spark, s"$root/idx_rebuilt/stats").read
        .select("n_docs", "avgdl").head()
      assert(m.getDouble(0) == r.getDouble(0) &&
        math.abs(m.getDouble(1) - r.getDouble(1)) < 1e-9,
        s"$what: corpus scalars diverge ($m vs $r)")
    }

    var fuse = 0
    var completed = false
    while (!completed && fuse < MaxFusePositions) {
      val root = setup()
      val docs = LakeTable(spark, s"$root/docs")
      LakeTable.fsDecoratorForTest = _ => newFaultFs()
      FsFuse.arm(fuse)
      val outcome = try {
        InvertedIndex.applyChanges(docs, "doc_id", "text", s"$root/idx")
        None
      } catch { case t: Throwable => Some(t) }
      val fired = FsFuse.fired
      FsFuse.disarm()
      LakeTable.fsDecoratorForTest = identity(_)
      if (outcome.isEmpty && !fired) {
        completed = true
        // the uninterrupted fold is exact too
        assertMatchesRebuild(root, "idxfold clean")
      } else {
        assert(fired, s"idxfold fuse=$fuse: op failed without the fuse firing: ${outcome.get}")
        // documented restart: release any stranded stage claim, refold
        subTables(root).foreach(t => if (t.exists) t.vacuumDebris(): Unit)
        InvertedIndex.applyChanges(docs, "doc_id", "text", s"$root/idx")
        assertMatchesRebuild(root, s"idxfold fuse=$fuse")
      }
      fuse += 1
    }
    assert(completed, s"idxfold: op still crashing after $MaxFusePositions fuse positions")
  }

  test("IVF index fold converges from a crash at every metadata fs operation") {
    // the ANN twin of the BM25 fold walk. A rebuild compare does not
    // apply (a refit moves cells), so the invariants are the fold's own:
    // after recovery + refold, every corpus vector is posted EXACTLY
    // once (a double-applied refold duplicates pure inserts; a skipped
    // removal leaves the superseded image) and the stamp serves fresh.
    import graft.text.IvfIndex
    def setup(): String = {
      val root = Files.createTempDirectory("graft_crash_ivf").toString
      val vecs = LakeTable(spark, s"$root/vecs")
      vecs.write((0L until 24L).map(i =>
        (i, Array(i.toFloat % 5, (i % 3).toFloat, 1f)))
        .toDF("vec_id", "embedding").coalesce(1)): Unit
      IvfIndex.build(vecs, "vec_id", "embedding", s"$root/idx",
        nCells = 4, seed = 7L, sampleFraction = 1.0)
      vecs.upsert(
        ((24L until 30L).map(i => (i, Array(i.toFloat % 5, 2f, 1f))) ++
          Seq((3L, Array(9f, 9f, 9f)), (7L, Array(8f, 8f, 8f))))
          .toDF("vec_id", "embedding").coalesce(1),
        Seq("vec_id"), changeFeed = true): Unit
      root
    }
    def auditExact(root: String, what: String): Unit = {
      val p = LakeTable(spark, s"$root/idx/postings").read
      val n = LakeTable(spark, s"$root/vecs").read.count()
      assert(p.select("vec_id").distinct().count() == n,
        s"$what: posted vector set diverges from the corpus")
      val dups = p.groupBy("vec_id").count().where(col("count") > 1).count()
      assert(dups == 0, s"$what: $dups vectors posted more than once")
    }
    var fuse = 0
    var completed = false
    while (!completed && fuse < MaxFusePositions) {
      val root = setup()
      val vecs = LakeTable(spark, s"$root/vecs")
      LakeTable.fsDecoratorForTest = _ => newFaultFs()
      FsFuse.arm(fuse)
      val outcome = try {
        IvfIndex.applyChanges(vecs, "vec_id", "embedding", s"$root/idx")
        None
      } catch { case t: Throwable => Some(t) }
      val fired = FsFuse.fired
      FsFuse.disarm()
      LakeTable.fsDecoratorForTest = identity(_)
      if (outcome.isEmpty && !fired) {
        completed = true
        auditExact(root, "ivffold clean")
      } else {
        assert(fired, s"ivffold fuse=$fuse: op failed without the fuse firing: ${outcome.get}")
        Seq("postings", "centers").foreach { s =>
          val t = LakeTable(spark, s"$root/idx/$s")
          if (t.exists) t.vacuumDebris(): Unit
        }
        IvfIndex.applyChanges(vecs, "vec_id", "embedding", s"$root/idx")
        auditExact(root, s"ivffold fuse=$fuse")
      }
      fuse += 1
    }
    assert(completed, s"ivffold: op still crashing after $MaxFusePositions fuse positions")
  }

  test("vacuumDebris on a never-committed table mints no phantom log") {
    // KillProbe's first run: kills during a table's very first operation
    // left nothing but debris; the parent's vacuumDebris then committed
    // VACUUM DEBRIS records into a fresh log, and the next writer saw a
    // table that "exists" (log, versions) but has no schema and no data
    // — unreadable, unreplayable. A vacuum must never mint existence.
    val dir = Files.createTempDirectory("graft_crash_novacuum").toString + "/t"
    val lake = LakeTable(spark, dir)
    lake.vacuumDebris(): Unit
    assert(lake.currentVersion == -1L,
      "vacuumDebris committed on a table that never existed")
    // and once the table DOES exist, the vacuum record returns
    lake.write(Seq((0L, "a")).toDF("id", "v").coalesce(1)): Unit
    lake.vacuumDebris(): Unit
    assert(lake.history.select("operation").as[String].collect()
      .contains("VACUUM DEBRIS"))
  }
}
