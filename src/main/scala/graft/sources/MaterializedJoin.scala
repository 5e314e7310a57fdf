package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incrementally-maintained equi-JOIN view (delta-join maintenance —
  * the IVM sibling of [[MaterializedAgg]]'s self-maintainable
  * aggregate): `V = fact ⋈_joinKey dim`, keyed by the fact table's
  * primary key, refreshed from BOTH tables' change data feeds.
  *
  * The classic result: for an insert/update/delete delta on either leg,
  * `V' = (fact' ⋈ dim')` differs from `V` only on rows whose fact pk
  * changed or whose join key was touched on the dim side. A refresh
  * therefore touches
  *   - the fact change rows themselves (their postimages carry the
  *     whole fact side — NO fact re-scan when only the fact changed),
  *   - plus, ONLY when the dim changed, the fact rows holding a changed
  *     join key (one semi-joined fact scan, file-skippable on the join
  *     key at scale),
  * re-joins that bounded set against the CURRENT dim, and merges by pk:
  * present rows upsert, vanished rows delete (inner-join semantics — a
  * dim delete cascades, a dim insert materializes previously-unmatched
  * fact rows). Cost is `O(changes) + O(view-touch)` when the dim is
  * quiet — never a full recompute.
  *
  * Change feeds fold to ONE final state per key before use (latest
  * commit wins; within a commit a postimage outranks the paired
  * preimage/delete, because no single commit deletes a row it just
  * wrote), so out-of-order multi-version backlogs apply exactly once.
  * Same single-writer assumption as the rest of the lake layer.
  */
final class MaterializedJoin(
    spark: SparkSession,
    fact: LakeTable,
    dim: LakeTable,
    val viewPath: String,
    factKey: String,
    joinKey: String,
    emitChangeFeed: Boolean = false) {

  private val view = LakeTable(spark, viewPath)
  private val stateFile =
    new Path(new Path(viewPath, LakeTable.LogDirName), "_mvj_watermarks")

  private def fs =
    stateFile.getFileSystem(spark.sessionState.newHadoopConf())

  def read: DataFrame = view.read

  /** The from-scratch join — initialize uses it; tests compare refresh
    * output against it directly. Dim's join key rides once (fact side).
    */
  def recompute(): DataFrame =
    fact.read.join(dim.read, Seq(joinKey))

  /** Materialize the view. `clusterBy` picks which refresh stays
    * file-local — the central LAYOUT CHOICE for this view (both are
    * measured in BASELINE.md's incremental join view table):
    *   - `factKey` (the usual default): fact-delta merges prune to the
    *     files holding the touched pks; a dim delta's cascade scatters
    *     across the pk-clustering and rewrites most files;
    *   - `joinKey`: the cascade of a dim delta lands in the few files
    *     holding the touched join keys — refresh merges then prune on
    *     the join key (sound here: a dim delta never changes a fact
    *     row's join key, so pk → joinKey agrees between the merge
    *     source and the view); fact deltas with scattered pks pay more.
    * Choose by which leg churns. Stats are collected on BOTH keys so
    * whichever bound is useful engages.
    */
  def initialize(
      clusterBy: Option[String] = None,
      numFiles: Option[Int] = None): MaterializedJoin = {
    val (vf, vd) = (latestVersion(fact), latestVersion(dim))
    view.write(recompute())
    clusterBy.foreach { c =>
      require(c == factKey || c == joinKey,
        s"clusterBy must be the fact pk ($factKey) or the join key ($joinKey), got $c")
      view.optimize(Seq(c), numFiles)
      view.collectStats(Seq(factKey, joinKey).distinct)
    }
    saveWatermarks(vf, vd)
    this
  }

  /** Apply every change-feed version in `(watermark, latest-committed]`
    * on both legs (the same committed-upper-bound discipline as
    * [[MaterializedAgg.refresh]] — in-flight change sets defer to the
    * next refresh). No-op when neither table moved.
    */
  def refresh(): MaterializedJoin = {
    val (wmF, wmD) = watermarks()
    // bounded by each leg's PUBLISHED frontier, not its committed
    // latest — a committed-but-unpublished change set must not be
    // watermarked past (see LakeTable.publishedFrontier)
    val (latestF, latestD) =
      (fact.publishedFrontier(wmF), dim.publishedFrontier(wmD))
    if (latestF <= wmF && latestD <= wmD) return this
    val dF = changesSince(fact, wmF, latestF, factKey)
    val dD = changesSince(dim, wmD, latestD, joinKey)

    val factCols = fact.read.columns.toSeq
    // fact rows needing re-join: changed-fact postimages (no scan —
    // the feed carries the rows) ∪ fact rows on a changed dim key
    // (the one fact scan, and only when the dim actually moved)
    val fromFactFeed = dF
      .map(_.where(col("_change_type").isin("insert", "update_postimage"))
        .select(factCols.map(col): _*))
    val fromDimTouch = dD.map { d =>
      fact.read.join(d.select(col(joinKey)).distinct(), Seq(joinKey), "left_semi")
        .select(factCols.map(col): _*)
    }
    val candidates = (fromFactFeed.toSeq ++ fromDimTouch.toSeq)
      .reduceOption(_.unionByName(_))
      .map(_.dropDuplicates(factKey))
    candidates.foreach { cand0 =>
      // delta-sized frames, but each merge below re-evaluates its source
      // plan several times (key-condition stats, the rewrite itself) —
      // materialize ONCE so the change-feed fold and the fact semi-scan
      // never replay
      // lazy cuts: the isEmpty gates + merges below materialize them
      // (each exactly once — doCheckpoint pins all partitions after the
      // first action), without eager's dedicated pass per frame
      val cand = cand0.localCheckpoint(false)
      val newState = cand.join(dim.read, Seq(joinKey)).localCheckpoint(false)
      // a PURE dim delta never changes a fact row's join key, so pk →
      // joinKey agrees between every merge source below and the view —
      // the functional dependency that makes joinKey a SOUND extra
      // prune column (merge's pruneCols contract). On a joinKey-
      // clustered view this is what keeps a dim-delta refresh touching
      // O(delta) files; with fact changes in the same batch the pk may
      // have MOVED join keys, so pruning stays keys-only.
      val pureDimDelta = dF.isEmpty
      val prune = if (pureDimDelta) Seq(joinKey) else Seq.empty
      // every pk whose row may have changed; those with no row in the
      // fresh join state (fact delete, dim delete, still-unmatched fk)
      // must not survive in the view
      val goneCols =
        if (pureDimDelta) Seq(col(factKey), col(joinKey)) else Seq(col(factKey))
      val affected = (dF.map(_.select(col(factKey))).toSeq :+
        cand.select(goneCols: _*))
        .reduce(_.unionByName(_)).distinct()
        // materialized once: the shared key-condition jobs below AND the
        // gone anti-join both read it
        .localCheckpoint(false)
      // BOTH refresh merges' sources draw their keys from `affected`
      // (newState's pks come from cand ⊆ affected; gone ⊆ affected; on a
      // pure dim delta their join keys come from cand's too) — so derive
      // the selective-rewrite key condition ONCE here and hand it to
      // each merge, instead of every merge re-running distinct/bounds
      // jobs over its own delta frame (2-4 actions per merge saved; at
      // scale each was a full pass over the delta).
      // (only worth deriving when the view has stats — without them the
      // merges take the full rewrite and never consult the condition)
      val sharedCond =
        if (!view.hasStats) None
        else view.sourceKeyCondition(affected, Seq(factKey)).map { kc =>
          if (pureDimDelta)
            view.sourceKeyCondition(affected, Seq(joinKey)).map(kc && _).getOrElse(kc)
          else kc
        }
      val gone = affected
        .join(newState.select(col(factKey)), Seq(factKey), "left_anti")
        .localCheckpoint(false)
      // skip empty merges: an empty source defeats the stats-pruned
      // selective path (no key bounds) and would pay a FULL staged
      // rewrite of the view for nothing
      if (!newState.isEmpty) view.merge(
        newState, Seq(factKey),
        whenMatched = Seq(MergeClause.UpdateWhen(
          newState.columns.filterNot(_ == factKey).map(c => c -> col(s"s.$c")).toMap)),
        insertUnmatched = true,
        changeFeed = emitChangeFeed,
        pruneCols = prune,
        sourceKeyCond = sharedCond)
      if (!gone.isEmpty) view.merge(gone, Seq(factKey),
        whenMatched = Seq(MergeClause.DeleteWhen(None)),
        insertUnmatched = false,
        changeFeed = emitChangeFeed,
        pruneCols = prune,
        sourceKeyCond = sharedCond)
    }
    saveWatermarks(latestF, latestD)
    this
  }

  /** CONTINUOUS maintenance: one streaming query tailing BOTH change
    * feeds (unioned — a single stream, so refreshes never race each
    * other on the view; the lake layer's single-writer assumption
    * holds by construction). The batch content is only a notification,
    * exactly as in [[MaterializedAgg.startStream]]: refresh derives its
    * work from the watermarks bounded to committed versions, so
    * replayed triggers are no-ops. Change sets publish AFTER their
    * commit record lands (the lake layer's visible-implies-committed
    * contract), so a notification always finds its commits — no wait,
    * no defer. Requires at least one recorded change set on each leg
    * (the change-feed streaming-source precondition).
    */
  def startStream(
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val notifications = fact.readChangesStream
      .select(lit("fact").as("leg"), col("_commit_version"))
      .unionByName(dim.readChangesStream
        .select(lit("dim").as("leg"), col("_commit_version")))
    notifications.writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        // refresh scans the LIVE fact and dim tables (the dim-touch
        // semi-join and the re-join), so a concurrent writer's staged
        // swap can tear the scan — retry re-plans against the new
        // snapshot; watermark-derived work + atomic merges make the
        // retry convergent (see LakeTable.retryTornRead)
        LakeTable.retryTornRead("join-view refresh")(refresh()): Unit
      }
      .trigger(trigger)
      .start()
  }

  /** Change rows folded to the FINAL state per key across the version
    * range: latest commit wins; within one commit the postimage/insert
    * outranks the delete/preimage half of the same logical change.
    * None when the range is empty or recorded no change sets.
    */
  private def changesSince(
      t: LakeTable, wm: Long, latest: Long, key: String): Option[DataFrame] = {
    if (latest <= wm) return None
    val raw =
      try t.readChanges(fromVersion = wm + 1, toVersion = latest)
      catch { case _: IllegalArgumentException => return None }
    val w = Window.partitionBy(col(key)).orderBy(
      col("_commit_version").desc,
      when(col("_change_type").isin("insert", "update_postimage"), 0)
        .otherwise(1).asc)
    Some(raw
      .where(col("_change_type").isin("insert", "update_postimage", "delete"))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .drop("__rk"))
  }

  private def latestVersion(t: LakeTable): Long =
    CommitLog.nextVersion(fs, new Path(t.path, LakeTable.LogDirName)) - 1L

  private def watermarks(): (Long, Long) = {
    val f = fs
    if (!f.exists(stateFile)) (-1L, -1L)
    else {
      val in = f.open(stateFile)
      val s =
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8).trim
        finally in.close()
      s.split(",") match {
        case Array(a, b) => (a.toLong, b.toLong)
        case _ => throw new IllegalStateException(
          s"unreadable MV watermark file at $stateFile — re-initialize the view")
      }
    }
  }

  /** Same placement discipline as [[MaterializedAgg]]'s watermark: the
    * view's log dir, no `.json` suffix, survives view rewrites. Unlike
    * the agg view, a FILE-ONLY watermark is crash-sound here: both
    * merges write ABSOLUTE row contents (never deltas), so a crash
    * between a merge and this save makes the restarted refresh re-apply
    * the same rows — content-idempotent, converging, never a double
    * count.
    */
  private def saveWatermarks(vf: Long, vd: Long): Unit = {
    val f = fs
    if (!f.exists(stateFile.getParent)) f.mkdirs(stateFile.getParent)
    LakeIo.atomicOverwrite(f, stateFile, s"$vf,$vd")
  }
}

object MaterializedJoin {
  /** `emitChangeFeed = true` makes every refresh record the view's own
    * CDC — the composition hook: a [[MaterializedAgg]] (or a second
    * MaterializedJoin) stacked on the VIEW then maintains a join+agg
    * pipeline incrementally end-to-end, fact/dim deltas flowing through
    * two O(changes) refreshes with no full recompute anywhere. The
    * trade: a change-feed-recording merge must read pre-merge state
    * over the whole view, so the stats-pruned selective rewrite bails —
    * the refresh stays O(changes) in what it READS from the legs but
    * pays a full view rewrite per merge. Choose per view: cheap refresh
    * (default) or composable CDC.
    */
  def apply(
      spark: SparkSession,
      fact: LakeTable,
      dim: LakeTable,
      viewPath: String,
      factKey: String,
      joinKey: String,
      emitChangeFeed: Boolean = false): MaterializedJoin =
    new MaterializedJoin(spark, fact, dim, viewPath, factKey, joinKey, emitChangeFeed)
}
