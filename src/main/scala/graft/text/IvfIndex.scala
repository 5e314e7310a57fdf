package graft.text

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.{LakeTable, MergeClause}

/** MATERIALIZED IVF serving index — the I/O layer under [[Ivf.ivfTopK]]:
  * that path prunes logically (only probed cells join) but still SCANS
  * the whole corpus to assign cells per run. Here the assignment is laid
  * down once as a postings lake CLUSTERED BY CELL with file stats, so a
  * probe's `cell IN (…)` read prunes at the FILE level — a serve touches
  * ~nProbe/nCells of the bytes, which is the difference that matters
  * when the corpus is 100 TB and the query batch is small.
  *
  * Incremental maintenance ([[append]]) assigns NEW vectors against the
  * standing quantizer and appends — no refit, no rewrite of existing
  * postings; compact the cell clustering on your maintenance cadence
  * (`optimizeWhere`, same as any hot lake table). The trade every IVF
  * system makes: drifted data degrades cell balance until the next
  * refit, it never breaks correctness (assignment stays nearest-center).
  *
  * Layout: `centers` (cell, center) and `postings` (cell, vec_id, vec),
  * both ordinary lake tables with history.
  */
object IvfIndex {

  private def sub(dir: String, name: String) = new Path(dir, name).toString

  def build(
      corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      nCells: Int = 16, seed: Long = 42L, sampleFraction: Double = 1.0): Unit = {
    val spark = corpus.sparkSession
    val centers = Ivf.fitCentroids(corpus, vecCol, nCells, seed, sampleFraction)
    LakeTable(spark, sub(dir, "centers")).write(centers)
    val p = LakeTable(spark, sub(dir, "postings"))
    // write CLUSTERED BY CELL directly (the InvertedIndex.build shape):
    // same layout OPTIMIZE produced, minus its full read-rewrite-swap
    // pass over the just-written postings. Lazy checkpoint so the range
    // sampler and the write share one materialized assignment pass.
    val rows = assigned(corpus, centers, idCol, vecCol).localCheckpoint(false)
    val n = math.max(nCells / 2, 4)
    p.write(rows.repartitionByRange(n, col("cell")).sortWithinPartitions(col("cell")))
    p.collectStats(Seq("cell"))
  }

  /** [[build]] from a versioned lake base: same layout, plus the base
    * version stamp that arms the freshness check in [[serveTopK]] and
    * the resume point for [[applyChanges]].
    */
  def build(
      base: LakeTable, idCol: String, vecCol: String, dir: String,
      nCells: Int, seed: Long, sampleFraction: Double): Unit = {
    val spark = base.read.sparkSession
    // version BEFORE the read: a racing commit leaves the index stale
    // (applyChanges reconciles), never silently fresh
    val v = base.currentVersion
    build(base.read, idCol, vecCol, dir, nCells, seed, sampleFraction)
    IndexMeta.stamp(spark, dir, base.path, v)
  }

  /** Add vectors to a standing index without refitting: map-only
    * assignment against the saved quantizer, one append commit. New
    * files carry their own cell stats once [[LakeTable.refreshStats]] /
    * the next optimize pass runs; until then they are read unpruned —
    * correct, just not yet skipped. Refused on a version-stamped index —
    * there the base's change feed is the one source of truth and
    * [[applyChanges]] is the maintenance path.
    */
  def append(df: DataFrame, idCol: String, vecCol: String, dir: String): Unit = {
    val spark = df.sparkSession
    require(IndexMeta.read(spark, dir).isEmpty,
      s"IVF index at $dir is stamped against a versioned base — " +
        "maintain it with applyChanges(base, ...), not raw append")
    appendAssigned(spark, df, idCol, vecCol, dir)
  }

  private def appendAssigned(
      spark: SparkSession, df: DataFrame, idCol: String, vecCol: String,
      dir: String, extraParams: Map[String, String] = Map.empty): Unit = {
    val centers = LakeTable(spark, sub(dir, "centers")).read
    val p = LakeTable(spark, sub(dir, "postings"))
    p.write(assigned(df, centers, idCol, vecCol), SaveMode.Append,
      extraParams = extraParams)
    // same full-rewrite contingency as the BM25 twin: a delete merge
    // that touched every cell file dropped the stats dir — re-seed
    if (p.hasStats) p.refreshStats() else p.collectStats(Seq("cell"))
  }

  /** Fold the base table's change feed since the stamped version into the
    * index, then advance the stamp. The feed's pre-images carry the OLD
    * vectors, so the superseded postings' CELLS are recomputed map-only
    * against the standing quantizer — the (cell, vec_id)-keyed delete
    * merge then prunes its rewrite to exactly those cells' files, never
    * touching the rest of the postings. Inserts and post-images take the
    * same no-refit assignment path as [[append]]. Same completeness
    * contract as the BM25 twin: a content-changing commit with no
    * recorded change set throws rather than re-stamping a wrong index.
    */
  def applyChanges(base: LakeTable, idCol: String, vecCol: String, dir: String): Unit = {
    val spark = base.read.sparkSession
    val meta = IndexMeta.forMaintenance(spark, dir, base, "IVF index")
    // published frontier, same argument as the BM25 twin
    val target = base.publishedFrontier(meta.version)
    // <= not ==: a watermark must never move backwards, whatever a torn
    // frontier read reports (publishedFrontier clamps, this re-asserts)
    if (target <= meta.version) return
    val (removals, additions) =
      IndexMeta.resolveImages(base, meta.version, target, idCol, Seq(vecCol))
    val p = LakeTable(spark, sub(dir, "postings"))
    // tombstones for CDC-sized deltas (the Lucene model on the lake's
    // merge-on-read machinery — one scan + a KB-scale vector, no files
    // rewritten; OPTIMIZE on the maintenance cadence materializes), the
    // cell-keyed merge beyond the threshold; see the BM25 twin's
    // DvRemovalThreshold doc for the measured rationale. The tombstone
    // branch needs only the removed ids — the nearest-centroid
    // assignment (whose cells are the merge's prune keys) is deferred to
    // the merge branch so the maintenance stream's hot loop never pays it
    // CRASH/RETRY EXACTNESS, the BM25 twin's contract: a refold of the
    // same range (process death, or retryTornRead re-running this call
    // mid-fold) must skip what already landed — the append tags its
    // commit with FoldKey -> target, and the removal pair-guards on that
    // tag (append-committed implies the removal before it ran; a removal
    // alone is vec_id-keyed and idempotent to re-run)
    val postingsDone =
      p.exists && p.maxCommitParamLong(InvertedIndex.FoldKey) >= target
    val remIds = removals.select(col("doc_id")).distinct()
      .limit(InvertedIndex.DvRemovalThreshold + 1).collect().map(_.get(0))
    if (!postingsDone && remIds.nonEmpty) {
      if (remIds.length <= InvertedIndex.DvRemovalThreshold)
        p.deleteVectored(col("vec_id").isin(remIds: _*)): Unit
      else {
        val centers = LakeTable(spark, sub(dir, "centers")).read
        val remKeys = assigned(
          removals.select(col("doc_id").as("vec_id"), col(vecCol)),
          centers, "vec_id", vecCol)
          .select(col("cell"), col("vec_id"))
        p.merge(remKeys, Seq("cell", "vec_id"),
          whenMatched = Seq(MergeClause.DeleteWhen(None)), insertUnmatched = false): Unit
      }
    }
    if (!additions.isEmpty && !postingsDone)
      appendAssigned(spark, additions.select(col("doc_id"), col(vecCol)),
        "doc_id", vecCol, dir,
        extraParams = Map(InvertedIndex.FoldKey -> target.toString))
    // removal-only delta with a full-rewrite merge: re-seed the pruning
    // stats the swap dropped (see the BM25 twin)
    else if (remIds.nonEmpty && !p.hasStats) p.collectStats(Seq("cell"))
    IndexMeta.stamp(spark, dir, base.path, target)
  }

  /** CONTINUOUS maintenance: tail the base's change feed and fold
    * [[applyChanges]] per micro-batch — the exact twin of
    * [[InvertedIndex.startMaintenanceStream]] (see its doc for the
    * idempotence argument: the version stamp is the watermark, so
    * replayed triggers no-op and racing commits defer one trigger).
    */
  def startMaintenanceStream(
      base: LakeTable, idCol: String, vecCol: String, dir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      autoOptimizeEvery: Option[Int] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    base.readChangesStream
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // same retry contract as the BM25 twin (LakeTable.retryTornRead)
        LakeTable.retryTornRead("IVF index maintenance") {
          applyChanges(base, idCol, vecCol, dir)
        }
        autoOptimizeEvery.foreach { every =>
          if (every > 0 && applied.incrementAndGet() % every == 0)
            optimizePostings(batch.sparkSession, dir)
        }
      }
      .trigger(trigger)
      .start()
  }

  /** Maintenance compaction: re-cluster by cell (materializing tombstone
    * vectors, folding small appends) + re-stat — the IVF twin of
    * [[InvertedIndex.optimizePostings]].
    */
  def optimizePostings(spark: SparkSession, dir: String, numFiles: Int = 8): Unit = {
    val p = LakeTable(spark, sub(dir, "postings"))
    p.optimize(Seq("cell"), numFiles = Some(numFiles))
    p.collectStats(Seq("cell"))
  }

  private def assigned(
      df: DataFrame, centers: DataFrame, idCol: String, vecCol: String): DataFrame =
    Ivf.assignCells(
      df.select(col(idCol).as("vec_id"), col(vecCol).as("vec")), centers, "vec")
      .select(col("cell"), col("vec_id"), col("vec"))

  /** Top-k cosine retrieval: per query the `nProbe` nearest cells, then
    * ONE stats-skipped postings read for the probed-cell union (the
    * bounded IN-list — |queries|·nProbe cells at most), exact cosine
    * inside candidates, rank on pre-rounded scores.
    */
  def serveTopK(
      spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    IndexMeta.requireFresh(spark, dir, "IVF index")
    val centers = LakeTable(spark, sub(dir, "centers")).read
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cdist").asc, col("cell").asc)
    val probes = q.crossJoin(broadcast(centers))
      .withColumn("cdist", -VectorFunctions.cosineSim(col("q_vec"), col("center")))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("cell"))
      // lazy: the cell-list collect below materializes it; reused for
      // the cell list AND the join
      .localCheckpoint(false)
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    require(cells.nonEmpty, "serveTopK needs a non-empty query batch")
    val candidates = LakeTable(spark, sub(dir, "postings"))
      .readWhere(col("cell").isin(cells: _*))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    candidates
      .join(broadcast(probes), Seq("cell"))
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        round(VectorFunctions.cosineSim(col("q_vec"), col("vec")), 6).as("cos"))
      .withColumn("rank", row_number().over(wTop).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }
}
