package graft.text

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{LakeTable, MergeClause}

/** Standing BM25 inverted index — the lexical twin of the ANN standing
  * indexes ([[Ivf]]/[[Pq]]): the corpus is tokenized, scored, and laid
  * out ONCE; every retrieval after that touches only the (much smaller)
  * index tables and never re-scans the corpus. This is the shape a
  * recurring 100 TB retrieval workload needs — [[TfIdf.bm25]] recomputes
  * tf/df/avgdl per query batch, which is the right call exactly once.
  *
  * Layout (three lake tables under one directory):
  *   - `postings`: (term, doc_id, tf, dl) — sort-clustered by term with
  *     file stats, so a query's terms prune to a handful of files via the
  *     lake's stats-based file skipping instead of scanning all postings;
  *   - `terms`: (term, df) — the vocabulary-sized document frequencies;
  *   - `stats`: one row (n_docs, avgdl) — the corpus scalars.
  *
  * Serving joins the pruned postings to the query terms and scores the
  * standard Okapi form; the only shuffle is the per-(query, doc) sum,
  * keyed far below corpus size. Scores round(…, 6) BEFORE ranking so an
  * ulp of sum-order drift can never flip a rank across engines.
  *
  * ==Freshness==
  * Built from a versioned [[LakeTable]] base, the index stamps the base's
  * commit version ([[IndexMeta]]) and [[serveBm25]] REFUSES to serve once
  * the base has moved — a stale index silently returns ghost hits for
  * deleted documents and misses new ones. [[applyChanges]] folds the
  * base's change feed in INCREMENTALLY: superseded postings leave through
  * a (term, doc_id)-keyed merge whose rewrite prunes to the files holding
  * those terms (the change rows carry the old images, so the deleted
  * documents' terms are known without scanning the index), new images
  * append, df/stats adjust arithmetically, and the stamp advances. Built
  * from a raw DataFrame, the index is unstamped and freshness is the
  * caller's problem (nothing to compare against).
  */
object InvertedIndex {

  /** Test seam (TaskRetryProbe): decorate the fold's addition-postings
    * frame so a failure-injection probe can plant a one-time TASK fault
    * inside the fold's own jobs. Identity in production — the same
    * pattern as [[graft.sources.LakeTable.fsDecoratorForTest]].
    */
  @volatile private[graft] var foldSourceDecoratorForTest:
    DataFrame => DataFrame = identity(_)

  private def sub(dir: String, name: String) = new Path(dir, name).toString

  /** Commit-param key tagging each fold sub-op with its target version —
    * the refold-idempotence guard (see [[applyChanges]]); shared with
    * [[IvfIndex]], whose fold has the same multi-table crash shape.
    */
  private[text] val FoldKey = "graftIndexFold"

  /** (term, doc_id, tf, dl) rows for a batch of documents — the unit of
    * both the initial build and every incremental delta.
    */
  private def tokenPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))

  /** Build (or rebuild) the index at `dir` from `docs`. One corpus scan
    * feeds the postings aggregate; the df and stats tables derive from
    * the WRITTEN postings lake, so the corpus is never read twice.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String): Unit = {
    val spark = docs.sparkSession
    val p = LakeTable(spark, sub(dir, "postings"))
    // write CLUSTERED directly — the same range-repartition + in-file
    // sort OPTIMIZE would apply, minus OPTIMIZE's full read-rewrite-swap
    // pass over the just-written postings (one whole write of the index
    // saved per build; single-dimension clustering: a linear sort IS the
    // optimal curve — a 1-D Z-order degenerates to the same ordering).
    // The lazy checkpoint keeps the range sampler and the write reading
    // ONE materialized postings aggregate instead of recomputing it.
    val rows = tokenPostings(docs, idCol, textCol).localCheckpoint(false)
    p.write(rows.repartitionByRange(8, col("term")).sortWithinPartitions(col("term")))
    // term min/max stats per file are what turn a serve's term IN-list
    // (and a maintenance merge's key bounds) into file-level skips
    p.collectStats(Seq("term"))
    // postings rows are distinct (doc, term), so df is a plain rollup
    LakeTable(spark, sub(dir, "terms"))
      .write(p.read.groupBy(col("term")).agg(count(lit(1)).as("df")))
    // k + folded_version: the constant upsert key and the IN-ROW fold
    // watermark maintenance writes through (see appendPostings — the
    // row-level watermark is what survives the swap's unattributed-
    // commit window, where a commit-param tag is lost with the record)
    LakeTable(spark, sub(dir, "stats")).write(
      p.read.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
        .select(lit(1L).as("k"), col("n_docs"), col("avgdl"),
          lit(-1L).as("folded_version")),
      // a rebuild over a pre-watermark standing index replaces the old
      // two-column layout — the widening is THE point, not an accident
      overwriteSchema = true)
  }

  /** [[build]] from a versioned lake base: same layout, plus the base
    * version stamp that arms the freshness check in [[serveBm25]] and
    * the resume point for [[applyChanges]].
    */
  def build(base: LakeTable, idCol: String, textCol: String, dir: String): Unit = {
    val spark = base.read.sparkSession
    // capture the version BEFORE reading: a commit racing the build makes
    // the index look stale (applyChanges reconciles), never silently fresh
    val v = base.currentVersion
    build(base.read, idCol, textCol, dir)
    IndexMeta.stamp(spark, dir, base.path, v)
  }

  def exists(spark: SparkSession, dir: String): Boolean =
    LakeTable(spark, sub(dir, "stats")).exists

  /** No-refit incremental append of NEW documents (ids not yet indexed —
    * the caller's contract, same as [[IvfIndex.append]]): postings rows
    * append to the term-clustered lake, per-term df increments merge into
    * the vocabulary table, and the two corpus scalars update
    * arithmetically. No existing posting is read or rewritten. Refused on
    * a version-stamped index — there the base's change feed is the one
    * source of truth and [[applyChanges]] is the maintenance path (a raw
    * append would advance the index without advancing the stamp).
    */
  def append(docs: DataFrame, idCol: String, textCol: String, dir: String): Unit = {
    val spark = docs.sparkSession
    require(IndexMeta.read(spark, dir).isEmpty,
      s"BM25 index at $dir is stamped against a versioned base — " +
        "maintain it with applyChanges(base, ...), not raw append")
    appendPostings(spark, tokenPostings(docs, idCol, textCol), dir)
  }

  /** Max removed-doc count for which [[applyChanges]] takes the
    * TOMBSTONE path (deletion vectors keyed on a driver-side doc-id
    * IN-list) instead of a keyed merge. The tombstone path is the
    * Lucene/segment model on the lake's own merge-on-read machinery and
    * is what keeps maintenance O(delta): the removal set is exactly
    * "every posting of a superseded doc", and a superseded doc's TERMS
    * are scattered over the vocabulary, so a (term, doc_id)-keyed merge's
    * range pruning degrades to a full postings rewrite for any realistic
    * text delta (apply ≈ rebuild before this path existed: the round-12
    * index-maintenance figures in BASELINE.md). A DV write costs one
    * postings scan plus a KB-scale vector file — no data rewritten; the
    * next OPTIMIZE on the maintenance cadence materializes the
    * tombstones. Above the threshold (a backfill-scale delta, not a CDC batch) the keyed merge
    * remains — a rewrite of most files is then honest work.
    */
  private[text] val DvRemovalThreshold = 65536

  /** Fold the base table's change feed since the stamped version into the
    * index, then advance the stamp. Deletes and the pre-images of updates
    * leave via a (term, doc_id)-keyed merge — the feed carries the OLD
    * text, so the superseded postings' terms (the merge's prune keys) are
    * known without touching the index; inserts and post-images append.
    * Requires every content-changing commit in the range to have recorded
    * a change set (`changeFeed = true`) — a mutation the feed never saw
    * cannot be folded in, and silently skipping it would re-stamp a wrong
    * index as fresh, so that case throws instead.
    */
  def applyChanges(base: LakeTable, idCol: String, textCol: String, dir: String): Unit = {
    val spark = base.read.sparkSession
    val meta = IndexMeta.forMaintenance(spark, dir, base, "BM25 index")
    // fold to the PUBLISHED frontier, not the committed latest: a
    // committed-but-unpublished set would otherwise fail the silent-
    // commit audit (killing the stream) or be stamped past and lost
    val target = base.publishedFrontier(meta.version)
    // <= not ==: a watermark must never move backwards, whatever a torn
    // frontier read reports (publishedFrontier clamps, this re-asserts)
    if (target <= meta.version) return
    val (removals, additions) =
      IndexMeta.resolveImages(base, meta.version, target, idCol, Seq(textCol))
    val remPost = tokenPostings(removals, "doc_id", textCol).localCheckpoint(true)
    val addPost = foldSourceDecoratorForTest(
      tokenPostings(additions, "doc_id", textCol)).localCheckpoint(true)

    val p = LakeTable(spark, sub(dir, "postings"))
    // CRASH/RETRY EXACTNESS: the fold mutates three lakes and stamps
    // LAST, so a REFOLD of the same (version, target] range — after a
    // process death, or retryTornRead re-running this very call — must
    // skip the sub-ops that already landed. Each mutating commit below
    // carries FoldKey -> target, and each sub-op is guarded by its own
    // table's recorded high-water mark. The removal pair-guards on the
    // APPEND's tag (append-committed implies the removal before it ran;
    // a removal alone is doc_id-keyed and idempotent to re-run), which
    // also prevents the inverse corruption: a refold re-deleting the
    // crashed fold's just-appended postings for updated docs and then
    // skipping their re-append. (CrashInjectionSpec's fold walk caught
    // the unguarded version double-appending pure inserts at fuse 3.)
    val postingsDone = p.exists && p.maxCommitParamLong(FoldKey) >= target
    // superseded images out — tombstones for CDC-sized deltas, keyed
    // merge beyond the threshold (see DvRemovalThreshold)
    if (!postingsDone && !remPost.isEmpty) {
      val remIds = remPost.select(col("doc_id")).distinct()
        .limit(DvRemovalThreshold + 1).collect().map(_.get(0))
      if (remIds.length <= DvRemovalThreshold)
        p.deleteVectored(col("doc_id").isin(remIds: _*)): Unit
      else
        p.merge(remPost.select(col("term"), col("doc_id")), Seq("term", "doc_id"),
          whenMatched = Seq(MergeClause.DeleteWhen(None)), insertUnmatched = false): Unit
    }
    appendPostings(spark, addPost, dir, removedPostings = Some(remPost),
      foldTarget = Some(target))
    IndexMeta.stamp(spark, dir, base.path, target)
  }

  /** CONTINUOUS maintenance: one streaming query tailing the base's
    * change feed and folding [[applyChanges]] per micro-batch — the
    * [[graft.sources.MaterializedJoin.startStream]] pattern applied to
    * the retrieval index, and the operational complement of the
    * freshness guard: serves THROW on staleness, this keeps them from
    * ever seeing it on a CDC-fed corpus, no external orchestrator. The
    * batch content is only a notification; applyChanges derives its
    * work from the version stamp vs the base's committed head, so a
    * REPLAYED trigger is a no-op (stamp already advanced) and a trigger
    * racing an in-flight commit defers that commit's change set to the
    * next trigger — exactly-once index effects over an at-least-once
    * stream, with no txn tags needed because the stamp IS the
    * idempotence watermark. Single writer per index by construction
    * (one streaming query, serialized foreachBatch). Change sets
    * publish only AFTER their commit record lands (and never move once
    * visible), so a notification batch always finds its commits and
    * the stream can never list a change file that a staged rewrite
    * later unlinks — the two hazards that once needed a bounded wait.
    */
  /** @param autoOptimizeEvery re-cluster + re-stat the postings every N
    *        applied batches (the index twin of `LakeSink.autoCompactEvery`):
    *        a long-running stream of deltas accrues tombstone vectors and
    *        small appended files, and this is the maintenance cadence that
    *        materializes the former and folds the latter — without it the
    *        caller owns the OPTIMIZE schedule. Maintenance, not data: a
    *        crash between fold and optimize loses nothing.
    */
  def startMaintenanceStream(
      base: LakeTable, idCol: String, textCol: String, dir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      autoOptimizeEvery: Option[Int] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    base.readChangesStream
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the delta derives from immutable change sets and the index's
        // own single-writer lakes, but the base's history/log reads can
        // still race a log checkpoint — the retry (convergent: the
        // stamp is the watermark) keeps the stream alive either way
        LakeTable.retryTornRead("BM25 index maintenance") {
          applyChanges(base, idCol, textCol, dir)
        }
        autoOptimizeEvery.foreach { every =>
          if (every > 0 && applied.incrementAndGet() % every == 0)
            optimizePostings(batch.sparkSession, dir)
        }
      }
      .trigger(trigger)
      .start()
  }

  /** The index's maintenance compaction: re-cluster the postings by term
    * (materializing any tombstone vectors, folding small appended files)
    * and re-stat so serving's file skips stay sharp. Safe under the
    * single-writer-per-index contract the maintenance stream provides.
    */
  def optimizePostings(spark: SparkSession, dir: String, numFiles: Int = 8): Unit = {
    val p = LakeTable(spark, sub(dir, "postings"))
    p.optimize(Seq("term"), numFiles = Some(numFiles))
    p.collectStats(Seq("term"))
  }

  /** Shared incremental update of the three tables: postings append
    * (nothing existing rewritten), df merge (delta per term, delete at
    * zero), stats arithmetic. `removedPostings` carries the superseded
    * images' postings when called from [[applyChanges]] — their df and
    * length contributions subtract.
    */
  private def appendPostings(
      spark: SparkSession, addPost: DataFrame, dir: String,
      removedPostings: Option[DataFrame] = None,
      foldTarget: Option[Long] = None): Unit = {
    // fold-guarded path (see applyChanges): each of the three mutating
    // sub-ops tags its commit with FoldKey -> target and skips when its
    // own table already recorded this fold. Build-time callers pass no
    // target and run unguarded (a fresh build has nothing to refold).
    val tag = foldTarget.map(t => Map(FoldKey -> t.toString)).getOrElse(Map.empty)
    def done(l: LakeTable): Boolean =
      foldTarget.exists(t => l.exists && l.maxCommitParamLong(FoldKey) >= t)
    val p = LakeTable(spark, sub(dir, "postings"))
    val add = addPost.localCheckpoint(true)
    if (!add.isEmpty && !done(p)) {
      p.write(add, SaveMode.Append, extraParams = tag)
      // new files pick up their term stats so they skip like the rest.
      // A removal merge whose term set touched EVERY postings file took
      // the full-rewrite path, which drops the stats dir with the old
      // table dir — re-seed instead of refreshing into a void (caught
      // at 100k docs by the round-12 index-maintenance run, BASELINE.md)
      if (p.hasStats) p.refreshStats() else p.collectStats(Seq("term"))
    }
    // removal-only delta with a full-rewrite merge: nothing appended,
    // but the stats (and the serve pruning they power) must still come back
    if (add.isEmpty && removedPostings.nonEmpty && !p.hasStats)
      p.collectStats(Seq("term"))
    val rem = removedPostings.getOrElse(add.where(lit(false)))
    // df for the AFFECTED terms, recomputed ABSOLUTELY from the postings
    // (final for this fold by the time this runs — the postings phase
    // precedes it and is refold-skipped by its commit tag). Absolute
    // values make the vocabulary update VALUE-IDEMPOTENT, which a
    // commit-tag guard alone cannot: the staged swap's one residual
    // window (data swapped in, commit record lost — "the unattributed
    // commit window") leaves no tag to see, and re-merging a +/-delta
    // there double-applies (the fold crash walk caught exactly that at
    // fuse 30). Re-merging an absolute df converges at any crash point.
    val terms = LakeTable(spark, sub(dir, "terms"))
    val affectedCap = 10000
    val affected = add.select(col("term"))
      .union(rem.select(col("term"))).distinct()
      .limit(affectedCap + 1).collect().map(_.getString(0))
    if (affected.nonEmpty) {
      import spark.implicits._
      if (affected.length <= affectedCap) {
        // delta-sized term set: the IN-list prunes the postings read to
        // the affected terms' files (the same stats-skipping a serve uses)
        val absDf = p.read.where(col("term").isin(affected.toIndexedSeq: _*))
          .groupBy(col("term")).agg(count(lit(1)).as("df"))
        val full = affected.toSeq.toDF("term")
          .join(absDf, Seq("term"), "left_outer")
          .select(col("term"), coalesce(col("df"), lit(0L)).as("df"))
        terms.merge(full, Seq("term"),
          whenMatched = Seq(
            // a term whose last document left drops out of the
            // vocabulary, exactly as a rebuild would have it
            MergeClause.DeleteWhen(Some(col("s.df") <= 0L)),
            MergeClause.UpdateWhen(Map("df" -> col("s.df")))),
          insertUnmatched = true, insertCond = Some(col("df") > 0L))
      } else {
        // backfill-scale delta touching most of the vocabulary: stay
        // relational — full recompute merged in, source-absent terms
        // deleted (still value-idempotent, honest work at this size)
        val absDf = p.read.groupBy(col("term")).agg(count(lit(1)).as("df"))
        terms.merge(absDf, Seq("term"),
          whenMatched = Seq(MergeClause.UpdateWhen(Map("df" -> col("s.df")))),
          insertUnmatched = true,
          whenNotMatchedBySource = Seq(MergeClause.DeleteWhen(None)))
      }
    }
    // corpus scalars: counts and length sums move by the doc-level deltas
    // (docs are (doc_id, dl)-distinct inside each side's postings). The
    // fold watermark rides IN THE ROW (folded_version) and the update is
    // an upsert (staged, pre-or-post exact): a refold reads the
    // watermark from the DATA, so even the unattributed-commit window
    // cannot double-apply the arithmetic.
    def docStats(posts: DataFrame): (Long, Double) = {
      val r = posts.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
      (r.getLong(0), r.getLong(1).toDouble)
    }
    val (nAdd, dlAdd) = docStats(add)
    val (nRem, dlRem) = docStats(rem)
    if (nAdd != 0 || nRem != 0) {
      val st = LakeTable(spark, sub(dir, "stats"))
      val cur = st.read
      val curRow = cur.select(col("n_docs"), col("avgdl"),
        (if (cur.columns.contains("folded_version")) col("folded_version")
         else lit(-1L)).as("folded_version")).head()
      val alreadyFolded =
        foldTarget.exists(t => curRow.getLong(2) >= t)
      if (!alreadyFolded) {
        val n1 = curRow.getDouble(0) + nAdd - nRem
        val sum1 = curRow.getDouble(0) * curRow.getDouble(1) + dlAdd - dlRem
        import spark.implicits._
        val row = Seq((1L, n1, if (n1 == 0.0) 0.0 else sum1 / n1,
          foldTarget.getOrElse(-1L)))
          .toDF("k", "n_docs", "avgdl", "folded_version")
        // legacy (pre-watermark) 2-column stats layout: adopting the
        // 4-column frame in place CHANGES the column set, which
        // enforceSchema rejects on Overwrite unless told the rewrite is
        // deliberate — without the flag the first fold over an old index
        // threw here AFTER postings and terms were already mutated
        if (cur.columns.contains("k")) st.upsert(row, Seq("k")): Unit
        else st.write(row, overwriteSchema = true): Unit
      }
    }
  }

  /** Top-k BM25 retrieval against the standing index. `queries` is
    * (query_id, term) rows — a query WORKLOAD, bounded by construction,
    * so collecting its distinct terms into a literal IN-list (the same
    * bounded-payload idiom the merge key prune uses) is what lets the
    * term-clustered postings lake skip files instead of scanning.
    * Refuses to serve a stale stamped index (see class doc).
    */
  /** Okapi defaults (Robertson's standard parameterization) — shared by
    * both serve overloads and the SQL TVF so every entry point scores
    * identically.
    */
  val DefaultK1 = 1.2
  val DefaultB = 0.75

  def serveBm25(
      spark: SparkSession, dir: String, queries: DataFrame, k: Int,
      k1: Double = DefaultK1, b: Double = DefaultB): DataFrame = {
    val workload = queries.select(col("query_id"), col("term"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    serveBm25(spark, dir, workload, k, k1, b)
  }

  /** [[serveBm25]] with the workload as plain rows — the point-serving
    * shape: the SQL TVF (and any driver that already holds its query
    * terms as literals) skips the Spark job a DataFrame workload pays
    * just to `collect()` the terms back out. One job per serve (the
    * postings read), not two.
    */
  def serveBm25(
      spark: SparkSession, dir: String, queries: Seq[(Long, String)], k: Int,
      k1: Double, b: Double): DataFrame = {
    IndexMeta.requireFresh(spark, dir, "BM25 index")
    val qterms = queries.map(_._2).distinct
    require(qterms.nonEmpty, "serveBm25 needs a non-empty query workload")
    import spark.implicits._
    val queriesDf = queries.toDF("query_id", "term")
    val postings = LakeTable(spark, sub(dir, "postings")).read
      .where(col("term").isin(qterms: _*))
    val dfT = LakeTable(spark, sub(dir, "terms")).read
      .where(col("term").isin(qterms: _*))
    val stats = LakeTable(spark, sub(dir, "stats")).read
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    postings
      .join(broadcast(queriesDf), Seq("term"))
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("s",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("s")), 6).as("score"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }
}
