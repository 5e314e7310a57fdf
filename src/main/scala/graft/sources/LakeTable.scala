package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Delta-style MERGE clause forms (`WHEN MATCHED [AND cond] THEN ...`).
  * Conditions and SET expressions reference the target row as `t.<col>`
  * and the source row as `s.<col>`; merge-key columns are unqualified
  * (they are equal on matched rows by definition). Clauses are evaluated
  * in order and the FIRST whose condition holds wins — Delta's rule.
  */
sealed trait MergeClause
object MergeClause {

  /** `WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, ...` —
    * columns absent from `set` keep their target value.
    */
  final case class UpdateWhen(
      set: Map[String, Column], cond: Option[Column] = None) extends MergeClause

  /** `WHEN MATCHED [AND cond] THEN DELETE` */
  final case class DeleteWhen(cond: Option[Column] = None) extends MergeClause
}

/** Parquet-backed lake table with a minimal JSON commit log.
  *
  * Replaces the reference's Delta Lake usage (no Delta jars in this
  * environment): `write.format('delta').save(path)` (reference:
  * 00-etl-rwd.py:94-141), `OPTIMIZE ... ZORDER BY` (00-etl-rwd.py:213,217),
  * and `DESCRIBE HISTORY` (03-work with ML models.py:63-65). The commit-log
  * design follows the Delta Lake paper (VLDB'20): an ordered directory of
  * JSON actions beside the data; we keep only the metadata needed for a
  * `history` DataFrame — full ACID/time-travel is explicitly out of scope.
  *
  * Scale notes:
  *   - [[optimize]] clusters with `repartitionByRange(cols) +
  *     sortWithinPartitions(cols)`: range partitioning gives disjoint key
  *     ranges per file and the local sort tightens parquet row-group min/max
  *     stats, so predicate pushdown skips files AND row groups — the same
  *     data-skipping effect ZORDER provides for Delta. One shuffle, fully
  *     distributed, no driver bottleneck.
  *   - the log directory holds one tiny JSON per commit — listing it is
  *     O(commits), independent of data size.
  */
final class LakeTable(spark: SparkSession, val path: String) {

  private val logDir = new Path(path, LakeTable.LogDirName)
  private val schemaFile = new Path(logDir, LakeTable.SchemaFileName)
  private val constraintsFile = new Path(logDir, LakeTable.ConstraintsFileName)

  private def fs: FileSystem =
    LakeTable.fsDecoratorForTest(logDir.getFileSystem(spark.sessionState.newHadoopConf()))

  /** Whether the table directory exists yet (no data has to). */
  def exists: Boolean = fs.exists(new Path(path))

  /** Read the current table data. The log-recorded schema (when present)
    * is authoritative — like Delta, the reader never depends on which
    * parquet footer file-listing order happens to surface first, and
    * columns added by evolution read as null from pre-evolution files.
    * Rows named by live deletion vectors (see [[deleteVectored]]) are
    * filtered out.
    */
  def read: DataFrame = applyDeletionVectors(readRaw)

  /** The physical file contents, ignoring deletion vectors. Internal
    * consumers that must see the scan directly (stats collection's
    * `input_file_name()`, DV capture itself) read this; every
    * user-facing path goes through [[read]].
    */
  private def readRaw: DataFrame =
    if (isShallowClone) {
      // a shallow clone reads its manifest-referenced SOURCE files plus
      // any files appended locally since the clone (see [[cloneTo]])
      val s = storedSchema.getOrElse(throw new IllegalStateException(
        s"shallow clone at $path has no recorded schema"))
      val paths = cloneManifestFiles ++ listDataFiles().map(_._3)
      if (paths.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      else readMapped(s, paths)
    } else storedSchema match {
      case Some(s) => readMapped(s, Seq(path))
      case None =>
        try spark.read.parquet(path)
        catch {
          // an existing dir with NO committed state (no schema, no
          // commits, no parquet anywhere) is a crashed first write, not
          // a table — name the state and the recovery instead of
          // surfacing Spark's opaque UNABLE_TO_INFER_SCHEMA. Diagnosis
          // runs only on the failure path, so adopted plain-parquet
          // dirs (schema-less but with data) pay nothing extra.
          case e: org.apache.spark.sql.AnalysisException
            if fs.exists(new Path(path)) &&
              CommitLog.nextVersion(fs, logDir) == 0 &&
              listDataFiles().isEmpty =>
            throw new IllegalStateException(
              s"$path is not a lake table yet: its first write crashed " +
                "before any commit. Replay the write (it creates the " +
                "table fresh); vacuumDebris() reclaims the remains past " +
                "the retention horizon.", e)
        }
    }

  /** Write (overwrite or append) and record a commit.
    *
    * Append lands through a private stage ([[appendViaStage]]). Every
    * other mode replaces the table through the one staged swap
    * ([[stagedSwap]]): the batch is written and validated beside the table,
    * then swapped in with the commit log, side files and change feed
    * carried through — the live table directory is never deleted in
    * place, so a crash leaves the old table or a marked stage that
    * [[vacuumDebris]] completes, and history survives like Delta's. A
    * commit landing while the overwrite is in flight refuses it (Delta's
    * ConcurrentModificationException contract); so does another staged
    * rewrite holding the stage claim.
    */
  def write(
      df: DataFrame,
      mode: SaveMode = SaveMode.Overwrite,
      mergeSchema: Boolean = false,
      overwriteSchema: Boolean = false,
      extraParams: Map[String, String] = Map.empty): LakeTable =
    writeBody(df, None, mode, mergeSchema, overwriteSchema, extraParams)

  /** The one body of [[write]] and [[writePartitioned]] (`partitionBy`
    * is `None` for the plain write, which labels history by mode).
    */
  private def writeBody(
      df: DataFrame,
      partitionBy: Option[Seq[String]],
      mode: SaveMode,
      mergeSchema: Boolean,
      overwriteSchema: Boolean,
      extraParams: Map[String, String]): LakeTable = {
    // Ignore on an existing table is a no-op for the data files, so it
    // must be a no-op for the log too — replacing the authoritative
    // schema while leaving the old files behind would corrupt reads
    if (mode == SaveMode.Ignore && fs.exists(new Path(path))) return this
    if (mode == SaveMode.ErrorIfExists && fs.exists(new Path(path)))
      throw new org.apache.spark.sql.AnalysisException("PATH_ALREADY_EXISTS",
        Map("outputPath" -> fs.makeQualified(new Path(path)).toString))
    val partitionCols = partitionBy.getOrElse(Seq.empty)
    require(partitionCols.isEmpty || mode == SaveMode.Overwrite || !isShallowClone,
      s"partitioned append to a flat-layout shallow clone would mix layouts — " +
        "materialize() first (a full Overwrite replaces the clone and is fine)")
    // substrate honesty BEFORE the data job: an object-store path with
    // no opted-in commit mode must refuse here, not after the parquet
    // write burned a cluster-scale job (LakeIo raises the same refusal
    // at the first metadata publication either way)
    LakeIo.requireCommitCapable(fs, new Path(path), "lake write")
    val append = mode == SaveMode.Append
    // a replacing write's OCC base, taken before its schema read: any
    // commit (data or DDL) landing from here on refuses the swap
    val occBase = Option.when(!append)(CommitLog.nextVersion(fs, logDir))
    val ic = idCols
    requireNoIdentityProvided(df,
      if (partitionBy.isDefined) "writePartitioned" else "write", ic)
    val beforeNames = storedSchema.map(_.fieldNames.toSet).getOrElse(Set.empty)
    val (withGen, genChecks) = applyGenerated(withNullIdentity(df, ic))
    val (aligned, schema) =
      enforceSchema(withGen, appendLike = append, mergeSchema, overwriteSchema)
    // evolution-added columns must not rebind a retired/renamed physical
    mapNewColumns(schema.fieldNames.filterNot(beforeNames).toSeq)
    val (assigned, idParams) = applyIdentityIngest(aligned, ic)
    val op = if (partitionBy.isDefined) "WRITE PARTITIONED" else writeOp(mode)
    val params = Map("mode" -> mode.toString) ++
      partitionBy.map(cols => "partitionBy" -> cols.mkString(",")) ++
      extraParams ++ idParams
    if (append) {
      // late-constraint re-validation runs INSIDE appendViaStage, at the
      // mark — not here, where the staging job would re-open the window
      val (toWrite, consSeen) = constrainedBatch(assigned, genChecks)
      val (staged, tagged, poisoned) = appendViaStage(toPhysical(toWrite),
        partitionCols.map(physicalOf), op, params, schema, consSeen)
      saveSchema(schema)
      commitStagedAppend(staged, op, tagged)
      raisePoisoned(op, poisoned)
      this
    } else
      // constraints (and generated-column checks) validate the staged
      // files, read after the staging job — nothing upstream runs twice
      stagedSwap(Some(assigned), op, params, occBase.get,
        partitionCols = Some(partitionCols.map(physicalOf)),
        replaceSchema = overwriteSchema, extraChecks = genChecks)
  }

  /** Land an append through a PRIVATE uuid-suffixed stage, then promote
    * the produced parquet files into the table dir with per-file
    * metadata renames — the same fix [[overwritePartitionsOp]] documents
    * for dynamic overwrites: concurrent appenders (threads OR separate
    * processes) writing one directory share the root's single
    * `_temporary` committer scratch dir, and one job's cleanup deletes
    * the other's in-flight task files (witnessed by CrossProcessProbe
    * phase A). A private stage gives every appender its own scratch
    * space; promotion is the same per-file rename count the committer's
    * own job-commit pays, and part-file names embed the job UUID so
    * destination collisions cannot happen.
    *
    * The stage is MARKED before the first promotion rename (an append
    * manifest listing the promotion set + the pending op carrying the
    * final commit params, both published atomically): promotion is a
    * point of no return, and a crash anywhere inside it must leave a
    * stage that recovery COMPLETES AND ATTRIBUTES — otherwise a killed
    * multi-file append stays a partial batch forever (all-or-nothing
    * broken for every reader), and a killed tagged append whose files
    * all landed but whose commit didn't replays as a full duplicate
    * (the exactly-once window LakeSink used to document away; KillProbe
    * observed both for real). Recovery runs agelessly in
    * [[vacuumDebris]] and at sink cold-start ([[recoverAppendStages]]);
    * the pending op's stage uuid doubles as the idempotence key, so a
    * recovery racing the writer's own commit costs at most one spurious
    * RECOVERED history entry, never duplicate rows.
    *
    * Returns the stage path (the caller deletes it AFTER its commit —
    * the marked stage is the recovery record and must outlive the data
    * change until attributed) and the final commit params.
    */
  private def appendViaStage(
      physical: DataFrame, partitionCols: Seq[String],
      op: String, commitParams: Map[String, String],
      schema: StructType,
      validatedCons: Map[String, String]): (Path, Map[String, String], Option[String]) = {
    val stageId = java.util.UUID.randomUUID().toString.take(12)
    val staged = new Path(s"$path${LakeTable.PartStageSuffix}$stageId")
    val params = commitParams + (LakeTable.AppendStageParam -> stageId)
    val manifest = new Path(staged, LakeTable.AppendManifestName)
    var seenCons: Set[String] = validatedCons.keySet
    val rels =
      try {
        val w = physical.write.mode(SaveMode.Overwrite)
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(staged.toString)
        // late-constraint gate AT the mark, not before the staging job:
        // a DDL published during the (possibly long) parquet job above
        // is validated against the staged files here, and a violation
        // rolls the unmarked stage back like any pre-mark failure
        seenCons = lateConstraintGate(staged, validatedCons)
        onStagePreMarkForTest()
        val rs = stagedFilesRel(staged, "")
        // ONE atomically-published marker carrying op + params +
        // promotion set (appends are the hottest lake path — a separate
        // pending-op file would double the marker cost for no recovery
        // benefit). The batch's schema rides in a MARKER-ONLY param so
        // recovery can attribute a mergeSchema-evolved append whose
        // writer died before its own saveSchema — and the writer's
        // saveSchema stays AFTER the data, so a merely-FAILED append
        // never commits an evolved schema.
        val markerParams = params +
          (LakeTable.AppendSchemaParam -> schema.json)
        val body = (CommitLog.esc(op) +:
          markerParams.toSeq.sortBy(_._1).map { case (k, v) =>
            s"${CommitLog.esc(k)}\t${CommitLog.esc(v)}"
          }) ++ ("" +: rs)
        LakeIo.atomicOverwrite(fs, manifest, body.mkString("\n"))
        rs
      } catch {
        // rollback is legal ONLY before the mark (nothing promoted yet);
        // past it, recovery completes instead
        case e: Throwable =>
          if (!fs.exists(manifest)) {
            try fs.delete(staged, true): Unit
            catch { case r: Throwable => e.addSuppressed(r) }
          }
          throw e
      }
    onStageMarkedForTest()
    val poisoned = postMarkConstraintCheck(staged, seenCons,
      promotedFallback = rels.map(rel => new Path(path, rel)))
    rels.foreach(rel => promoteFile(new Path(staged, rel), new Path(path, rel)))
    (staged, params, poisoned)
  }

  /** Test seam: fires after the staged parquet job + late-constraint
    * gate, immediately before the manifest mark — the writer's last
    * abortable instant (ConstraintRaceSpec's ε-window interleaves).
    */
  private[graft] var onStagePreMarkForTest: () => Unit = () => ()

  /** Test seam: fires immediately AFTER the append manifest publishes
    * (point of no return) and before the writer's own promotions —
    * TwinAttemptProbe releases a concurrent recovery here so both
    * attempts run the promotion of ONE marked stage simultaneously.
    */
  private[graft] var onStageMarkedForTest: () => Unit = () => ()

  /** Test seam: the staged-SWAP analogue of [[onStageMarkedForTest]] —
    * fires immediately after the swap manifest publishes (point of no
    * return), before the writer's own completeSwap.
    */
  private[graft] var onSwapMarkedForTest: () => Unit = () => ()

  /** Test seam: fires in [[vacuumDebris]] between its completeSwap of a
    * live marked stage and its RECOVERED attribution — the exact window
    * where a check-then-act adoption double-commits (TwinRaceSpec pins
    * that [[commitIfAbsent]] closes it in both interleave directions).
    */
  private[graft] var onVacuumPreAttributeForTest: () => Unit = () => ()

  /** The writer-side commit of an [[appendViaStage]] append, then stage
    * teardown. An ageless recovery (a peer's cold start, [[vacuumDebris]])
    * may have raced the live promotion and already attributed this stage
    * with a RECOVERED commit; the recovery deletes the stage only AFTER
    * its commit, so a vanished manifest is the cheap tell — probe the log
    * for the stage uuid only then, and skip the second commit that would
    * attribute one data change twice. (The recovery side adopts through
    * [[commitIfAbsent]] and is exact; THIS side keeps the cheap
    * manifest-presence fast path, so the writer committing inside the
    * tiny manifest-still-present window remains possible and harmless:
    * same tag value, no duplicate rows — history gains one spurious
    * entry.)
    */
  private def commitStagedAppend(
      staged: Path, op: String, params: Map[String, String]): Unit = {
    val attributed =
      !fs.exists(new Path(staged, LakeTable.AppendManifestName)) &&
        hasCommitParam(LakeTable.AppendStageParam,
          params(LakeTable.AppendStageParam))
    if (!attributed) commit(op, params): Unit
    fs.delete(staged, true): Unit
  }

  /** Parse [[appendViaStage]]'s marker: (op, params, promotion set). */
  private def readAppendManifest(mf: Path): (String, Map[String, String], Seq[String]) = {
    val in = fs.open(mf)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      finally in.close()
    val lines = text.split("\n", -1).toSeq
    val (header, files) = lines.span(_.nonEmpty)
    val (op, params) = LakeTable.parseOpHeader(header)
    (op, params, files.drop(1).filter(_.nonEmpty))
  }

  /** Relative paths (Hive `k=v` dirs preserved) of every parquet file
    * under `dir` — the promotion set an append stages.
    */
  private def stagedFilesRel(dir: Path, prefix: String): Seq[String] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.contains("="))
        stagedFilesRel(st.getPath,
          if (prefix.isEmpty) name else s"$prefix/$name")
      else if (st.isFile && name.endsWith(".parquet"))
        Seq(if (prefix.isEmpty) name else s"$prefix/$name")
      else Seq.empty
    }

  /** One promotion rename, tolerant of a concurrent recovery having done
    * it first: a refusal counts as success iff the file now lives at
    * `dest` and is gone from the stage (uuid-embedded names make any
    * other collision impossible).
    */
  private def promoteFile(src: Path, dest: Path): Unit = {
    val parent = dest.getParent
    if (!fs.exists(parent)) fs.mkdirs(parent): Unit
    if (!fs.rename(src, dest)) {
      // completed-copy tolerance: an object store's rename is copy-then-
      // delete-src and REFUSES an existing destination, so a crash after
      // the copy leaves src+dest BOTH present and every retried rename
      // returns false — without this branch the marked stage could never
      // complete (recovery wedged forever). The uuid-embedded file name
      // makes any same-name dest THIS file's copy; same length confirms
      // the copy finished (object PUTs are whole-or-nothing), so finish
      // the crashed rename's second half: drop the stage copy.
      // check-then-stat is TOCTOU-racy against a CONCURRENT recovery of
      // the same marked stage: between exists(src)=true and
      // getFileStatus(src), the racer can finish the promotion (src
      // vanishes) — that is a completed promotion, not an IO failure, so
      // a FileNotFoundException here re-evaluates instead of surfacing
      def copiedOnce(): Boolean = fs.exists(dest) && (!fs.exists(src) ||
        fs.getFileStatus(dest).getLen == fs.getFileStatus(src).getLen)
      val copied =
        try copiedOnce()
        catch {
          case _: java.io.FileNotFoundException =>
            try copiedOnce()
            catch {
              case _: java.io.FileNotFoundException =>
                // still racing: settle on the only stable question — did
                // the file reach dest and leave the stage?
                fs.exists(dest) && !fs.exists(src)
            }
        }
      if (copied) {
        // the stage copy may have been dropped by the racer already
        try { if (fs.exists(src)) fs.delete(src, false): Unit }
        catch { case _: java.io.FileNotFoundException => () }
      } else throw new java.io.IOException(
        s"append promotion: could not move $src into $dest — " +
          "the stage is marked, vacuumDebris() completes the promotion")
    }
  }

  /** Complete a MARKED append stage: promote whatever is still staged,
    * attribute the op (once — the stage uuid in the pending params is
    * the idempotence key), drop the stage. Safe at any age: the manifest
    * only exists once the writer passed its point of no return, and
    * every step is idempotent.
    */
  private def completeAppendStage(staged: Path): Unit = {
    val mf = new Path(staged, LakeTable.AppendManifestName)
    if (!fs.exists(mf)) return
    // exists→open is TOCTOU-racy against the LIVE writer's post-commit
    // teardown (it deletes the stage after attributing): a vanished
    // manifest here means the twin attempt finished the work — done
    val (op, psAll, rels) =
      try readAppendManifest(mf)
      catch { case _: java.io.FileNotFoundException => return }
    val ps = psAll - LakeTable.AppendSchemaParam
    // schema FIRST: the crashed writer may have died before its own
    // saveSchema, and the promoted rows can carry mergeSchema-evolved
    // columns the stored schema predates — merge the marker's
    // writer-side-missing fields in (never overwrite: evolution that
    // legitimately happened after the crash must survive the recovery)
    psAll.get(LakeTable.AppendSchemaParam).foreach { js =>
      val marker = org.apache.spark.sql.types.DataType.fromJson(js)
        .asInstanceOf[StructType]
      val merged = storedSchema match {
        case None => marker
        case Some(st) =>
          // name-missing fields join; and a field the writer TYPE-WIDENED
          // adopts the marker's wider type — the promoted files physically
          // hold the wide encoding, and a narrow stored schema cannot read
          // them (the parquet reader only promotes upward). Taking the
          // wider of the two is monotone, so evolution that legitimately
          // happened after the crash still survives the recovery
          LakeTable.widerOf(st, marker, appendMissing = true)
      }
      if (!storedSchema.contains(merged)) saveSchema(merged)
    }
    rels.foreach { rel =>
      val src = new Path(staged, rel)
      if (fs.exists(src)) promoteFile(src, new Path(path, rel))
    }
    if (op.nonEmpty) ps.get(LakeTable.AppendStageParam) match {
      case Some(u) =>
        // adopt-or-commit through the log (commitIfAbsent): closes the
        // recovery half of the dual-commit overlap — a live writer's
        // commit landing between a plain "already attributed?" read and
        // the RECOVERED commit is seen inside the claim loop instead.
        // (The writer half keeps its cheap manifest-presence fast path;
        // its residual remains the documented spurious entry.)
        commitIfAbsent(s"RECOVERED $op", ps,
          LakeTable.AppendStageParam, u, 0L): Unit
      case None =>
        commit(s"RECOVERED $op", ps): Unit
    }
    fs.delete(staged, true): Unit
  }

  /** Complete every marked append stage of this table — the crashed-
    * client recovery for the append path, run by [[vacuumDebris]] and by
    * replaying sinks BEFORE they read their commit-tag high-water mark
    * (so a batch whose promotion crashed is recovered-and-tagged, then
    * SKIPPED, instead of re-appended as a duplicate). Returns how many
    * stages were completed.
    */
  private[graft] def recoverAppendStages(): Int = {
    val parent = new Path(path).getParent
    if (parent == null || !fs.exists(parent)) return 0
    val prefix = new Path(path).getName + LakeTable.PartStageSuffix
    val marked = fs.listStatus(parent)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .filter(st => fs.exists(new Path(st.getPath, LakeTable.AppendManifestName)))
    marked.foreach(st => completeAppendStage(st.getPath))
    marked.length
  }

  /** True iff some commit recorded `key -> value` in its
    * operationParameters — the idempotent-writer probe (Delta's
    * txnAppId/txnVersion analogue): a replaying at-least-once sink tags
    * each batch write via `extraParams` and checks here before
    * re-applying it. One checkpointed-log read ([[CommitLog.records]] —
    * O(1 + commits-since-checkpoint) files), searched newest-first
    * since a replayed batch is almost always the most recent commit.
    * Long-running sinks should still track their high-water mark via
    * [[maxCommitParamLong]] instead of probing per batch.
    */
  def hasCommitParam(key: String, value: String): Boolean =
    commitParamsNewestFirst(key).contains(value)

  /** The MAX long value any commit recorded under `key` in its
    * operationParameters, -1 if none — the Delta txnAppId/txnVersion
    * contract for streaming sinks: tag each batch commit with
    * `key = <per-app id>, value = <batch id>` and skip batches at or
    * below the max recorded version. One checkpointed-log read
    * ([[CommitLog.records]]); callers cache the result and track it in
    * memory afterwards.
    */
  def maxCommitParamLong(key: String): Long =
    commitParamsNewestFirst(key).map(_.toLongOption.getOrElse(-1L)).foldLeft(-1L)(math.max)

  /** Highest change-set version ever removed by a [[vacuumChanges]]
    * commit, or -1 if the feed was never vacuumed — the resume floor for
    * [[readChanges]] with an explicit `fromVersion`.
    */
  private def changesVacuumHorizon: Long = {
    val removed = commitParamValues(LakeTable.VacuumChangesRemovedParam)
      .flatMap(_.split(',')).filter(_.nonEmpty).map(_.toLong)
    if (removed.isEmpty) -1L else removed.max
  }

  /** Every value any commit recorded under `key` in its
    * operationParameters — one checkpointed-log read. Deletion-vector
    * gating ([[liveDvDirs]]), COPY INTO ledger claims ([[copiedFiles]])
    * and debris cleanup ([[vacuumDebris]]) consume this to decide which
    * side files a commit actually claimed.
    */
  private def commitParamValues(key: String): Set[String] =
    commitParamsNewestFirst(key).toSet

  /** The values commits recorded under `key`, newest commit first, as
    * [[CommitLog.parseRecord]] reads them — the one reader behind
    * [[hasCommitParam]], [[maxCommitParamLong]] and [[commitParamValues]].
    * Only records whose text holds the quoted key are parsed: every read
    * of a table with deletion vectors runs this ([[liveDvDirs]]).
    */
  private def commitParamsNewestFirst(key: String): Iterator[String] = {
    val quotedKey = s""""${CommitLog.esc(key)}":"""
    CommitLog.records(fs, logDir).reverseIterator
      .filter(_.contains(quotedKey))
      .flatMap(r => CommitLog.parseRecord(r).params.get(key))
  }

  private def readLogFile(p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** History label by actual effect: Ignore/ErrorIfExists only reach the
    * commit when they CREATED a fresh table — labeling them OVERWRITE
    * would invent a replacement that never happened for history readers.
    */
  private def writeOp(mode: SaveMode): String = mode match {
    case SaveMode.Append    => "WRITE APPEND"
    case SaveMode.Overwrite => "WRITE OVERWRITE"
    case _                  => "WRITE CREATE"
  }

  /** Hive-style partitioned write: one directory per partition value, so
    * partition-key predicates prune DIRECTORIES at planning time
    * (`PartitionFilters` in the scan) — at 100 TB the difference between
    * listing one day and listing the table. Partition by low-cardinality
    * operational keys (date, status, source); cluster WITHIN partitions
    * via [[optimize]]/[[optimizeZorder]] for the high-cardinality rest.
    */
  def writePartitioned(
      df: DataFrame,
      partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite,
      mergeSchema: Boolean = false,
      overwriteSchema: Boolean = false): LakeTable =
    writeBody(df, Some(partitionCols), mode, mergeSchema, overwriteSchema, Map.empty)

  /** Dynamic partition overwrite: replaces ONLY the partitions present in
    * `df`, leaving sibling partitions (and the commit log) untouched —
    * the idempotent daily-backfill primitive. Plain Overwrite would drop
    * the whole table.
    */
  def overwritePartitions(df: DataFrame, partitionCols: Seq[String]): LakeTable =
    overwritePartitionsOp(df, partitionCols, "OVERWRITE PARTITIONS",
      Map("mode" -> "dynamic", "partitionBy" -> partitionCols.mkString(",")))

  private def overwritePartitionsOp(
      df: DataFrame, partitionCols: Seq[String],
      op: String, params: Map[String, String],
      occBase: Option[Long] = None): LakeTable = {
    require(partitionCols.nonEmpty,
      "dynamic partition overwrite needs at least one partition column — " +
        "for a full-table replacement use write(df) with Overwrite")
    require(!isShallowClone,
      s"dynamic partition overwrite on a flat-layout shallow clone would mix " +
        "layouts — materialize() first")
    // dynamic overwrite leaves sibling partitions in place, so like Append
    // it must match the standing table schema exactly — a drifted schema
    // here would fracture the table across partition directories
    val ic = idCols
    requireNoIdentityProvided(df, "overwritePartitions", ic)
    val (withGen, genChecks) = applyGenerated(withNullIdentity(df, ic))
    val (aligned, schema) =
      enforceSchema(withGen, appendLike = true, mergeSchema = false, overwriteSchema = false)
    val (assigned, idParams) = applyIdentityIngest(aligned, ic)
    val (toWrite, consSeen) = constrainedBatch(assigned, genChecks)
    // partition-scoped OCC: the batch's partition values ARE this op's
    // logical write set — record them in the commit and check interlopers
    // for overlap before staging (cheap early abort) and again after
    // (still a clean abort: nothing in the table has moved yet)
    val occExpected = occBase.getOrElse(CommitLog.nextVersion(fs, logDir))
    val touched = touchedPartitions(toWrite, partitionCols)
    occCheckPartitions(occExpected, touched, op)
    onPartitionsPreCheckedForTest()
    // stage the replacement partitions in a PRIVATE sibling dir, then
    // swap per partition AFTER the final conflict check — the in-place
    // dynamic overwrite this replaces had two failure shapes: a conflict
    // surfacing after the write left partitions replaced with no commit
    // recorded (table content attributed to no version), and concurrent
    // disjoint-partition writers shared the table root's one _temporary
    // dir, so one job's committer cleanup could clobber the other's
    // in-flight task output. A uuid-suffixed stage gives every writer
    // its own committer scratch space and defers all table mutation to
    // metadata renames behind the check.
    val staged = new Path(
      s"$path${LakeTable.PartStageSuffix}${java.util.UUID.randomUUID().toString.take(12)}")
    var seenCons: Set[String] = consSeen.keySet
    try {
      toPhysical(toWrite).write
        .mode(SaveMode.Overwrite)
        .partitionBy(partitionCols.map(physicalOf): _*)
        .parquet(staged.toString)
      // final check against everything that landed while staging ran;
      // the residual window from here to the commit is the same
      // metadata-only window occResolve documents
      occCheckPartitions(occExpected, touched, op)
      // late-constraint gate at the mark (see lateConstraintCheck's
      // placement contract): a DDL published during the staging job is
      // validated against the staged partitions before the swap begins —
      // a violation aborts here, table untouched. An empty batch stages
      // nothing (no files to read, nothing to violate) — skip.
      if (touched.nonEmpty) seenCons = lateConstraintGate(staged, consSeen)
    } catch {
      case e: Throwable =>
        try fs.delete(staged, true): Unit
        catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    }
    // swap: the staged layout holds EXACTLY the partitions the batch
    // touched (dynamic-overwrite semantics), so walking its k=v chain to
    // the partition depth enumerates the swap set with Spark's own
    // physical names and value escaping — no re-rendering of `touched`,
    // which is a logical (conflict-check) rendering
    def stagedParts(dir: Path, depth: Int, rel: String): Seq[(Path, String)] =
      if (depth == 0) Seq((dir, rel))
      else fs.listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap(st => stagedParts(st.getPath, depth - 1,
          if (rel.isEmpty) st.getPath.getName else s"$rel/${st.getPath.getName}"))
    val swapSet = stagedParts(staged, partitionCols.length, "")
    // the swap uuid makes the attribution exactly-once against an aged
    // recovery of this stage (crash between the commit and the stage
    // delete below: the re-walked marked stage ADOPTS the commit by uuid
    // instead of re-recording a spurious RECOVERED entry)
    val swapId = java.util.UUID.randomUUID().toString.take(12)
    val commitParams = params ++ idParams +
      (LakeTable.SwapStageParam -> swapId) +
      ("occPartitions" -> touched.toSeq.sorted.mkString("\u0001"))
    // point of no return: the first rename leaves the table part old /
    // part new, so mark the stage with the swap set and the pending op
    // BEFORE touching the table — a crash mid-swap then leaves a MARKED
    // stage that vacuumDebris completes and attributes, instead of a
    // half-swapped table whose remaining replacements age out and get
    // silently reclaimed as debris
    if (swapSet.nonEmpty) writeManifest(staged, swapSet.map(_._2), op, commitParams)
    // post-mark detection BEFORE the swaps consume the staged dirs (the
    // fallback covers a recovery twin swapping them in first)
    val poisoned =
      if (swapSet.isEmpty) None
      else postMarkConstraintCheck(staged, seenCons,
        promotedFallback = swapSet.map { case (_, rel) => new Path(path, rel) })
    swapSet.foreach { case (src, rel) => swapPartitionIn(src, rel) }
    saveSchema(schema)
    // commit BEFORE dropping the stage: the marked stage is the recovery
    // record for the swap and must outlive the data change until the
    // change is attributed. A crash between the commit and the delete
    // below leaves a marked stage an aged recovery re-walks — the swap
    // uuid makes that walk adopt this commit instead of re-recording.
    commitIfAbsent(op, commitParams, LakeTable.SwapStageParam, swapId,
      occExpected): Unit
    fs.delete(staged, true): Unit // marker + _SUCCESS + drained parents
    raisePoisoned(op, poisoned)
    this
  }

  /** One partition-directory swap of the dynamic-overwrite commit path:
    * drop the table's current partition dir and rename the staged
    * replacement into its place — metadata-only renames on a real FS.
    */
  private def swapPartitionIn(src: Path, rel: String): Unit = {
    val dest = new Path(path, rel)
    if (fs.exists(dest)) fs.delete(dest, true): Unit
    val parent = dest.getParent
    if (!fs.exists(parent)) fs.mkdirs(parent): Unit
    if (!fs.rename(src, dest))
      throw new java.io.IOException(
        s"dynamic partition overwrite: could not swap $src into $dest — " +
          "the stage is marked, vacuumDebris() completes the remaining swaps")
  }

  /** Hive-style rendering of the partition values present in `df` — the
    * logical write set of a dynamic partition overwrite, recorded in the
    * commit (`occPartitions`) and intersected for conflict. One
    * column-pruned distinct over the batch, bounded by the partition
    * count (for [[optimizeWhere]] the input is already checkpointed, so
    * this costs a metadata-sized job).
    */
  private def touchedPartitions(
      df: DataFrame, partitionCols: Seq[String]): Set[String] =
    df.select(partitionCols.map(c => col(c).cast("string")).toIndexedSeq: _*)
      .distinct().collect()
      .map(r => partitionCols.indices.map(i =>
        s"${partitionCols(i)}=${if (r.isNullAt(i)) "__null__" else r.getString(i)}")
        .mkString("/"))
      .toSet

  /** Partition-scoped OCC for the dynamic-overwrite path (Delta VLDB'20
    * §3.2 applied per partition): an interloper that recorded a DISJOINT
    * `occPartitions` write set is logically compatible — two
    * `optimizeWhere` jobs on different days' partitions both land.
    * Anything else (overlap, or an op with no recorded write set — an
    * append, a full rewrite) conflicts. Checked BEFORE the staging write
    * (cheap early abort) and again after it — both are CLEAN aborts,
    * because the staged overwrite mutates nothing in the table until the
    * per-partition swap behind the second check; the residual window
    * from that check to the commit is the same metadata-only window
    * [[occResolve]] documents.
    */
  private def occCheckPartitions(
      expected: Long, touched: Set[String], op: String): Unit = {
    // an empty batch replaces nothing — no write set, no conflict
    if (touched.isEmpty) return
    val conflicting = CommitLog.recordsSince(fs, logDir, expected).filterNot { rec =>
      rec.params.get("occPartitions").exists(ps =>
        ps.split('\u0001').filter(_.nonEmpty).toSet.intersect(touched).isEmpty)
    }
    if (conflicting.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"$op at $path conflicts with concurrent commit(s) " +
          conflicting.map(r => s"v${r.version} ${r.operation}").mkString(", ") +
          s" on partitions of ${touched.mkString(", ")}" +
          " — aborted before any data was written; retry against the " +
          "current table state")
  }

  /** Partition columns of a Hive-layout table, detected from the
    * directory chain (`k=v` dirs nest in partition order). Empty for an
    * unpartitioned layout. One driver listing per level — O(depth).
    */
  def partitionColumns(): Seq[String] = {
    if (!fs.exists(new Path(path))) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = new Path(path)
    var descend = true
    while (descend) {
      fs.listStatus(cur).find(st =>
          st.isDirectory && st.getPath.getName.contains("=")) match {
        case Some(st) =>
          out += st.getPath.getName.split("=", 2)(0)
          cur = st.getPath
        case None => descend = false
      }
    }
    out.toSeq
  }

  /** Partition-scoped compaction — the Delta `OPTIMIZE t WHERE
    * <partition predicate>` shape, and the compaction path [[compact]]
    * refuses for partitioned layouts. Rows of the matching partitions
    * are read (partition-pruned scan), re-clustered to one file per
    * partition value, and swapped in via dynamic partition overwrite —
    * sibling partitions keep their files byte-for-byte. At 100 TB this
    * is the only sane compaction cadence: optimize yesterday's
    * partition after the daily load, never the table.
    *
    * The predicate must reference ONLY partition columns (whole
    * partitions move in or out — a row-level predicate here would
    * silently drop the non-matching rows of a rewritten partition).
    */
  def optimizeWhere(partitionCond: Column): LakeTable = {
    val partCols = partitionColumns()
    require(partCols.nonEmpty,
      s"$path is not Hive-partitioned; use optimize/compact for flat layouts")
    // resolve the predicate against the table to surface its column
    // references (the raw Column AST is lazily converted; resolution
    // also catches misspelled columns with Spark's native error)
    val refs = FileStats.resolvedPredicate(read, partitionCond)
      .map(_.references.map(_.name).toSet)
      .getOrElse(Set.empty[String])
    require(refs.nonEmpty && refs.forall(n => partCols.exists(_.equalsIgnoreCase(n))),
      s"OPTIMIZE WHERE predicate may reference only partition columns " +
        s"${partCols.mkString(", ")} (got ${refs.mkString(", ")})")
    // OCC base BEFORE the snapshot read below: a commit landing during
    // the checkpoint must be seen as an interloper by the partition check
    val occBase = Some(CommitLog.nextVersion(fs, logDir))
    // localCheckpoint cuts the lineage to the files being replaced (the
    // writer refuses to overwrite a path its plan still reads); the
    // materialized set is only the affected partitions
    val compacted = read.where(partitionCond)
      .repartition(partCols.map(col): _*)
      .localCheckpoint(true)
    overwritePartitionsOp(compacted, partCols, "OPTIMIZE WHERE",
      Map("partitionBy" -> partCols.mkString(","),
        "predicate" -> partitionCond.toString), occBase)
  }

  /** The merge target under optional schema evolution (Delta's `MERGE
    * WITH SCHEMA EVOLUTION` / autoMerge): source-only columns join the
    * target schema null-filled, so existing rows read NULL for them and
    * UPDATE SET / INSERT can reference them; the staged rewrite then
    * persists the widened schema. Column identity is case-insensitive,
    * matching [[enforceSchema]]'s append contract. With the flag off the
    * target is returned untouched and source-only columns stay an error.
    */
  private def evolveTarget(
      cur: DataFrame, source: DataFrame, enabled: Boolean): DataFrame = {
    if (!enabled) return cur
    val srcByKey = source.schema.fields
      .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
    val sourceOnly = source.schema.fields.filterNot(f =>
      cur.columns.exists(_.equalsIgnoreCase(f.name)))
    // shared columns whose SOURCE type widens the target's evolve the
    // target column in place (numeric type widening — same lattice and
    // gate as enforceSchema's mergeSchema appends): existing rows cast
    // up, the staged rewrite persists the widened schema, and old files
    // read through the parquet reader's native promotion
    val widenedAny = cur.schema.fields.exists { tf =>
      srcByKey.get(tf.name.toLowerCase(java.util.Locale.ROOT))
        .exists(sf => LakeTable.widens(tf.dataType, sf.dataType))
    }
    if (sourceOnly.isEmpty && !widenedAny) cur
    else cur.select((cur.schema.fields.map { tf =>
      srcByKey.get(tf.name.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(sf) if LakeTable.widens(tf.dataType, sf.dataType) =>
          col(tf.name).cast(sf.dataType).as(tf.name)
        case _ => col(tf.name)
      }
    }.toSeq ++
      sourceOnly.map(f => lit(null).cast(f.dataType).as(f.name))).toIndexedSeq: _*)
  }

  /** Upsert (Delta `MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED
    * INSERT` with whole-row semantics): rows in `updates` replace
    * current rows sharing the key; everything else is kept. One
    * left_anti join (current minus touched keys) + a union, staged to a
    * sibling dir and swapped — the table is never read and overwritten
    * in the same job. At scale the anti join is the cost: updates
    * broadcast when small (AQE), else a key shuffle. A Hive-partitioned
    * table keeps its layout; [[overwritePartitions]] rewrites only the
    * touched partitions when the batch holds whole partitions.
    */
  def upsert(
      updates: DataFrame, keys: Seq[String], changeFeed: Boolean = false,
      schemaEvolution: Boolean = false,
      extraParams: Map[String, String] = Map.empty): LakeTable = {
    val cur = evolveTarget(read, updates, schemaEvolution)
    // OCC base after evolveTarget's (metadata-only) commit — see merge()
    val occBase = CommitLog.nextVersion(fs, logDir)
    val gc = genCols
    require(keys.nonEmpty && keys.forall(cur.columns.contains),
      s"merge keys $keys must exist in the table")
    if (changeFeed) {
      // whole-row upsert == UPDATE SET every non-key column; routing via
      // merge() keeps the change-feed derivation in one place. Generated
      // and identity columns are excluded from the synthesized SET —
      // merge() rejects assigning either (generated recompute; identity
      // values are preserved on matched rows and assigned on inserts).
      val idNames = identityColumns.keys.toSeq
      val set = cur.columns.filterNot(c => keys.contains(c) ||
          gc.exprs.exists(_._1.equalsIgnoreCase(c)) ||
          idNames.exists(_.equalsIgnoreCase(c)))
        .map(c => c -> col("s." + c)).toMap
      return merge(updates, keys, Seq(MergeClause.UpdateWhen(set)),
        changeFeed = true, schemaEvolution = schemaEvolution,
        extraParams = extraParams)
    }
    // generated columns: compute when the source batch lacks them,
    // validate when it provides them — same contract as write()
    val ic = idCols
    requireNoIdentityProvided(updates, "upsert", ic)
    requireNotIdentityAssigned(keys, "upsert merge keys", ic)
    val (withGen, genChecks) = applyGenerated(withNullIdentity(updates, ic))
    // materialize once: the plan feeds BOTH the anti-join key side and
    // the union, and a derived updates source would otherwise run twice.
    // Cast to the table's column types (Delta MERGE casts source to
    // target) so the later union can't silently widen the table schema
    val alignedRaw = withGen.select(cur.schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      // lazy: the identity restore / requireUniqueKeys full scan below
      // materializes the cut in its own job (merge() has the rationale)
      .localCheckpoint(false)
    // identity columns: a whole-row upsert replaces matched rows from the
    // source, which never carries identity values — RESTORE them by key
    // from the target (matched rows must keep their ids), then assign
    // fresh values to the remaining (inserted) rows. Checkpointed: the
    // batch-sized result feeds several join branches, and zipWithIndex
    // assignment must not re-run against a moving plan.
    val (aligned, idParams) =
      if (ic.isEmpty) (alignedRaw, Map.empty[String, String])
      else {
        val renames = ic.names.map(n => n -> s"__graft_oldid_$n").toMap
        val existing = renames.foldLeft(
          cur.select((keys ++ ic.names).map(col): _*)) {
          case (d, (from, to)) => d.withColumnRenamed(from, to)
        }
        val restored = alignedRaw.join(existing, keys.toIndexedSeq, "left_outer")
          .select(cur.schema.fields.map { f =>
            if (ic.names.exists(_.equalsIgnoreCase(f.name)))
              col(renames(f.name)).as(f.name)
            else col(f.name)
          }.toIndexedSeq: _*)
        val bases = ic.specs.map { case (nm, st, _) =>
          nm -> nextIdentityBase(nm, st) }.toMap
        val (assignedRaw, counts) = assignIdentityRows(restored, ic.specs, bases)
        (assignedRaw.localCheckpoint(false), ic.specs.map { case (nm, _, step) =>
          (LakeTable.IdentityHwmParamPrefix + nm) ->
            (bases(nm) + step * counts(nm)).toString
        }.toMap)
      }
    requireUniqueKeys(aligned, keys, "updates")
    if (genChecks.nonEmpty) enforceConstraints(aligned, genChecks)
    val params = Map("keys" -> keys.mkString(",")) ++ extraParams ++ idParams
    // stats-pruned selective MERGE (the Delta data-skipping merge path):
    // only files whose recorded min/max or bloom stats ADMIT a source
    // key are rewritten; every other file moves through the swap
    // untouched. The batch-to-table contract makes this exact, not
    // heuristic: a file pruned by the key condition cannot contain a
    // matching target row, so matching AND insert detection against the
    // affected subset equals detection against the whole table. This is
    // what keeps a point-upsert stream viable at 100 TB — each batch
    // rewrites the handful of files holding its keys, not the table.
    // schema evolution widens `cur` beyond the on-disk files; the
    // affected-file read would come back with the OLD schema, so the
    // widened merge must take the full rewrite
    val widened = storedSchema.exists(s =>
      !s.fieldNames.sameElements(cur.schema.fieldNames))
    def upserted(target: DataFrame): DataFrame = aligned.unionByName(
      target.join(aligned.select(keys.map(col): _*), keys, "left_anti"))
    val selective =
      if (widened || !selectiveEligible) None
      else sourceKeyCondition(aligned, keys).flatMap { keyCond =>
        rewriteSelective(keyCond, "MERGE", params + ("selective" -> "true"),
          changeStage = None, occBase)(a => Some(a.fold(aligned)(upserted)))
      }
    selective.getOrElse(stagedSwap(Some(upserted(cur)), "MERGE", params, occBase))
  }

  /** Cheap eligibility gate for the selective-rewrite path: without
    * recorded stats (or on a shallow clone) [[rewriteSelective]] always
    * falls back to the full rewrite — so the source-side key-bounds
    * jobs below would be computed and thrown away, one to two wasted
    * passes over the source batch per DML on stats-less tables.
    */
  private def selectiveEligible: Boolean =
    !isShallowClone && fs.exists(new Path(statsDir))

  /** A predicate over the TARGET key columns that every row matching a
    * source key satisfies — the file-pruning condition for a selective
    * MERGE. Small single-key batches produce an exact IN-list (engages
    * bloom stats for point lookups); larger or composite-key batches
    * produce per-key min/max ranges. None when the source is empty or a
    * key bound is null (fall back to the full rewrite).
    */
  private[sources] def sourceKeyCondition(
      aligned: DataFrame, keys: Seq[String]): Option[Column] = {
    val inListMax = spark.conf
      .get(LakeTable.MergeInListThresholdKey, LakeTable.MergeInListThresholdDefault).toInt
    if (keys.length == 1) {
      // ONE distinct+limit action decides both the emptiness check and
      // the IN-list: <= inListMax distinct values gives the exact list;
      // the (inListMax+1)-th row's existence alone means "too many"
      // (fall through to bounds). The previous shape paid a dedicated
      // count() first — one extra pass over the source per selective
      // DML. Gating on DISTINCT count (not row count, as before) also
      // keeps batches with many duplicate keys on the sharper IN-list
      // path; the list stays bounded by inListMax either way.
      val k = keys.head
      val vals = aligned.select(col(k)).distinct().limit(inListMax + 1)
        .collect().map(_.get(0))
      if (vals.isEmpty) return None
      if (vals.length <= inListMax) {
        val nn = vals.filter(_ != null)
        return if (nn.isEmpty) None
        else Some(col(k).isInCollection(nn.toIndexedSeq))
      }
      // too many distinct keys — fall through to the min/max bounds
    }
    // count rides the SAME aggregate as the bounds (no separate pass)
    val aggs = count(lit(1)).as("__graft_n") +: keys.flatMap(k =>
      Seq(min(col(k)).as(s"__graft_lo_$k"), max(col(k)).as(s"__graft_hi_$k")))
    val r = aligned.agg(aggs.head, aggs.tail: _*).head()
    if (r.getLong(0) == 0L) return None
    val bounds = keys.zipWithIndex.map { case (k, i) =>
      (k, r.get(2 * i + 1), r.get(2 * i + 2))
    }
    if (bounds.exists(b => b._2 == null || b._3 == null)) None
    else Some(bounds.map { case (k, lo, hi) =>
      col(k) >= lit(lo) && col(k) <= lit(hi)
    }.reduce(_ && _))
  }

  /** Conditional MERGE (the general Delta `MERGE INTO` shape —
    * [[upsert]] is the whole-row special case): matched rows walk the
    * `whenMatched` clauses in order and the first condition that holds
    * decides UPDATE SET / DELETE; rows matching no clause are kept
    * unchanged; unmatched source rows are inserted (`WHEN NOT MATCHED
    * [AND insertCond] THEN INSERT *`).
    *
    * Compiled to the same join shapes as [[upsert]]: one inner key-join
    * (matched rows — source broadcasts when small via AQE), one
    * left_anti (untouched target rows), one left_anti (inserts), a
    * union, and a staged rewrite. Clause conditions and SET expressions
    * become `CASE WHEN` projections over the matched join — no per-clause
    * pass over the table, however many clauses there are.
    *
    * @param insertCond   optional predicate over the (unqualified) source
    *                     columns gating WHEN NOT MATCHED inserts
    * @param whenNotMatchedBySource Delta's target-only arm (`WHEN NOT
    *                     MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE`):
    *                     clauses walked in order over target rows WITHOUT a
    *                     source match; conditions and SET expressions must
    *                     reference only target columns (s.* is null there)
    * @param changeFeed   also record the row-level change set (Delta
    *                     Change Data Feed analogue) readable via
    *                     [[readChanges]]: `_change_type` in
    *                     insert / update_preimage / update_postimage /
    *                     delete, stored per commit version. The change
    *                     set is materialized BEFORE the table swap (it
    *                     reads the pre-merge table), costing extra scans
    *                     of the join — that is why it is opt-in.
    * @param schemaEvolution Delta `MERGE WITH SCHEMA EVOLUTION`: source
    *                     columns absent from the target are added to the
    *                     table schema (existing rows null-filled) rather
    *                     than rejected, and INSERT * null-fills target
    *                     columns the source lacks. Explicitly opt-in —
    *                     the default keeps schema drift an error.
    * @param pruneCols    extra columns (present in source and target) used
    *                     ONLY to bound the selective rewrite's affected-file
    *                     set, on top of the merge keys — the lever when the
    *                     target is CLUSTERED on a non-key column (e.g. a
    *                     join-key-clustered MV merged by pk). SOUND only
    *                     under a functional dependency the CALLER asserts:
    *                     every merge key maps to the same pruneCols values
    *                     in the source and in the target — otherwise a
    *                     matching target row could hide in a pruned file
    *                     and resurface as a duplicate insert.
    */
  def merge(
      source: DataFrame,
      keys: Seq[String],
      whenMatched: Seq[MergeClause],
      insertUnmatched: Boolean = true,
      insertCond: Option[Column] = None,
      changeFeed: Boolean = false,
      whenNotMatchedBySource: Seq[MergeClause] = Seq.empty,
      schemaEvolution: Boolean = false,
      extraParams: Map[String, String] = Map.empty,
      pruneCols: Seq[String] = Seq.empty,
      sourceKeyCond: Option[Column] = None): LakeTable = {
    val cur = evolveTarget(read, source, schemaEvolution)
    // OCC base AFTER evolveTarget (its ADD COLUMNS commit is our own,
    // metadata-only — data files are unchanged) but before every data
    // job below derives from the snapshot
    val occBase = CommitLog.nextVersion(fs, logDir)
    val gc = genCols
    val ic = idCols
    requireNoIdentityProvided(source, "MERGE source", ic)
    requireNotIdentityAssigned(keys, "MERGE keys", ic)
    require(keys.nonEmpty && keys.forall(cur.columns.contains),
      s"merge keys $keys must exist in the table")
    (whenMatched ++ whenNotMatchedBySource).foreach {
      case MergeClause.UpdateWhen(set, _) =>
        val bad = set.keys.filterNot(cur.columns.contains)
        require(bad.isEmpty, s"UPDATE SET references unknown columns: ${bad.mkString(", ")}")
        require(!set.keys.exists(keys.contains),
          "UPDATE SET must not touch merge keys (it would change row identity)")
        requireNotGenerated(set.keys, "MERGE UPDATE SET", gc)
        requireNotIdentityAssigned(set.keys, "MERGE UPDATE SET", ic)
      case _ =>
    }
    // BY SOURCE clauses evaluate over target rows with NO source match —
    // s.* is null there. Resolving their expressions against the TARGET
    // SCHEMA (not just rejecting the `s.` qualifier) matters because an
    // UNQUALIFIED source-only column would otherwise resolve through the
    // join and silently evaluate three-valued to null instead of erroring
    // the way Delta does.
    whenNotMatchedBySource.foreach { clause =>
      val exprs = clause match {
        case MergeClause.UpdateWhen(set, c) => set.values.toSeq ++ c.toSeq
        case MergeClause.DeleteWhen(c)      => c.toSeq
      }
      exprs.foreach(c => org.apache.spark.sql.GraftBridge.expression(c).foreach {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          val targetQualified = a.nameParts.length == 1 ||
            (a.nameParts.length == 2 && a.nameParts.head.equalsIgnoreCase("t"))
          require(targetQualified &&
            cur.columns.exists(_.equalsIgnoreCase(a.nameParts.last)),
            s"WHEN NOT MATCHED BY SOURCE references `${a.name}`, which is not a " +
              "column of the target table — no source row exists for an " +
              "unmatched target row")
        case _ =>
      })
    }
    val fields = cur.schema.fields
    // cast the target-schema columns to target types (same contract as
    // upsert) but KEEP extra source columns: clause conditions and SET
    // expressions may reference them (Delta allows e.g. a source-only
    // `s.is_deleted` flag driving WHEN MATCHED ... DELETE); they are
    // projected away before anything reaches the table. Materialize once —
    // the source feeds three join branches
    val fieldByName = fields.map(f => f.name -> f).toMap
    // a source LACKING a generated column gets it computed (INSERT *
    // needs the full table schema; the value is recomputed downstream
    // anyway, this keeps the plan resolvable) — matching write()'s
    // compute-when-absent contract
    // identity columns ride as typed nulls on the source (INSERT * needs
    // the full target schema to resolve); real values are assigned to the
    // hoisted insert frame below, matched rows keep their target values
    val sourceG = withNullIdentity(
      gc.exprs.foldLeft(source) { case (d, (n, ex)) =>
        if (d.columns.exists(_.equalsIgnoreCase(n))) d
        else d.withColumn(n, expr(ex).cast(gc.typeOf(path, n)))
      }, ic)
    val src = sourceG.select(sourceG.columns.map { c =>
        fieldByName.get(c).fold(col(c))(f => col(c).cast(f.dataType).as(c))
      }.toIndexedSeq: _*)
      // lazy: requireUniqueKeys' full-scan aggregate right below
      // materializes (and persists) the cut in the same job — eager paid
      // a dedicated extra pass over the source batch
      .localCheckpoint(false)
    requireUniqueKeys(src, keys, "source")

    // ONE left_outer scan of the target covers matched AND untouched rows
    // (a separate inner + left_anti pair would read the full table twice);
    // the insert branch adds only a keys-only (column-pruned) second pass
    val marked = src.withColumn("__graft_m", lit(true))
    // first-matching-clause-wins, as one CASE, over a SINGLE clause index
    // space: matched clauses take 0..m-1, NOT-MATCHED-BY-SOURCE clauses
    // (Delta's target-only arm: no source row joined, __m null) take
    // m..m+b-1; rows matching no applicable clause keep as-is (-1)
    def firstMatch(clauses: Seq[MergeClause], offset: Int): Column =
      clauses.map {
        case MergeClause.UpdateWhen(_, c) => c.getOrElse(lit(true))
        case MergeClause.DeleteWhen(c)    => c.getOrElse(lit(true))
      }.zipWithIndex.foldRight(lit(-1): Column) {
        case ((c, i), els) => when(c, lit(offset + i)).otherwise(els)
      }
    val allClauses = whenMatched ++ whenNotMatchedBySource
    val deleteIdx = allClauses.zipWithIndex.collect {
      case (MergeClause.DeleteWhen(_), i) => i
    }
    // post-update value of a field under the winning clause — shared by
    // the rows written to the table AND the update_postimage change rows,
    // so clause evaluation can never diverge between the two. BY SOURCE
    // update sets see only target values (s.* is null on those rows).
    def updatedValue(f: org.apache.spark.sql.types.StructField): Column =
      if (keys.contains(f.name)) col(f.name)
      else allClauses.zipWithIndex.foldRight(col("t." + f.name)) {
        case ((MergeClause.UpdateWhen(set, _), i), els) if set.contains(f.name) =>
          when(col("__graft_action") === i, set(f.name).cast(f.dataType)).otherwise(els)
        case (_, els) => els
      }.as(f.name)
    // the whole merge computation as a function of the TARGET FRAME, so
    // the selective path below can evaluate it over the affected files
    // only — by the stats contract a pruned file holds no source key, so
    // matching, clause evaluation, and insert detection over the subset
    // equal the full-table evaluation
    def actedOver(curDf: DataFrame): DataFrame = curDf.alias("t")
      .join(marked.alias("s"), keys.toIndexedSeq, "left_outer")
      .withColumn("__graft_action",
        when(col("__graft_m").isNull,
          firstMatch(whenNotMatchedBySource, whenMatched.length))
          .otherwise(firstMatch(whenMatched, 0)))
    def keptOver(acted: DataFrame): DataFrame = {
      val surviving =
        if (deleteIdx.isEmpty) acted
        else acted.where(!col("__graft_action").isInCollection(deleteIdx))
      surviving.select(fields.map(updatedValue).toIndexedSeq: _*)
    }
    def insertsOver(curDf: DataFrame): Option[DataFrame] =
      if (!insertUnmatched) None
      else {
        val unmatched = src.join(curDf.select(keys.map(col): _*), keys, "left_anti")
        // insert condition sees the FULL source row (extras included);
        // the row written is the target-schema projection (INSERT *).
        // Under schema evolution, target columns the source lacks
        // null-fill (Delta's documented INSERT * behavior with
        // autoMerge); without it a missing column stays an error
        val srcHas = src.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        Some(insertCond.map(unmatched.where).getOrElse(unmatched)
          .select(fields.map { f =>
            if (!schemaEvolution || srcHas(f.name.toLowerCase(java.util.Locale.ROOT)))
              col(f.name).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }.toIndexedSeq: _*))
      }
    // identity assignment happens ONCE, eagerly, against the FULL target
    // (sound for the selective path too: by the stats contract, unmatched
    // detection against the affected subset equals detection against the
    // whole table), and the assigned frame is checkpointed so the ids the
    // table stores and the ids the change feed records are the same
    // materialized values — never two runs of a nondeterministic plan
    val (insertsFinal, idParams) =
      if (ic.isEmpty) (None, Map.empty[String, String])
      else insertsOver(cur) match {
        case None => (None, Map.empty[String, String])
        case Some(ins) =>
          val bases = ic.specs.map { case (nm, st, _) =>
            nm -> nextIdentityBase(nm, st) }.toMap
          val (assignedIns, counts) = assignIdentityRows(ins, ic.specs, bases)
          (Some(assignedIns.localCheckpoint(false)),
            ic.specs.map { case (nm, _, step) =>
              (LakeTable.IdentityHwmParamPrefix + nm) ->
                (bases(nm) + step * counts(nm)).toString
            }.toMap)
      }
    def insertsFor(curDf: DataFrame): Option[DataFrame] =
      if (ic.isEmpty) insertsOver(curDf) else insertsFinal
    def resultOver(curDf: DataFrame): DataFrame = {
      val kept = keptOver(actedOver(curDf))
      // generated columns recompute after the clauses apply (SET on them
      // is rejected above; dependency changes propagate here)
      recomputeGenerated(insertsFor(curDf).fold(kept)(kept.unionByName(_)), gc)
    }

    // stats-pruned selective path (see upsert): sound only when every
    // clause's scope is keyed — BY SOURCE clauses act on target rows in
    // PRUNED files too, and the change feed must read pre-merge plans
    // over the whole table, so both force the full rewrite. A
    // schema-evolution-widened target also bails: the affected-file
    // read returns the OLD on-disk schema (same for a TYPE-widened
    // column — the subset read would come back narrow)
    val widened = storedSchema.exists(s =>
      !s.fieldNames.sameElements(cur.schema.fieldNames) ||
        s.fields.exists(tf => cur.schema.fields.exists(cf =>
          cf.name.equalsIgnoreCase(tf.name) && cf.dataType != tf.dataType)))
    if (whenNotMatchedBySource.isEmpty && !changeFeed && !widened) {
      val mergeParams = Map("keys" -> keys.mkString(","),
        "clauses" -> whenMatched.length.toString,
        "changeFeed" -> "false") ++ extraParams ++ idParams
      // a caller-supplied key condition (sourceKeyCond) skips the
      // source-side bounds jobs entirely — callers issuing SEVERAL
      // merges from one delta frame (e.g. MaterializedJoin.refresh)
      // derive the condition once and pass it to each. CONTRACT: every
      // source row's keys (and pruneCols values) must satisfy it — a
      // wider condition only costs extra rewritten files, never rows.
      val keyCondOpt =
        if (!selectiveEligible) None
        else sourceKeyCond.orElse(
        sourceKeyCondition(src, keys).map { keyCond =>
          // pruneCols tighten the affected-file bound (see param doc for
          // the functional-dependency soundness contract); a null-bounded
          // prune column simply contributes nothing
          pruneCols.filter(cur.columns.contains) match {
            case Seq() => keyCond
            case ps    => sourceKeyCondition(src, ps).map(keyCond && _).getOrElse(keyCond)
          }
        })
      // no affected file: an insert-only merge stages its inserts alone
      val selective = keyCondOpt.flatMap { cond =>
        rewriteSelective(cond, "MERGE", mergeParams + ("selective" -> "true"),
          changeStage = None, occBase)(
          _.orElse(Option.when(insertUnmatched)(readFiles(Nil))).map(resultOver))
      }
      selective match {
        case Some(t) => return t
        case None    => // no stats / partitioned / nothing saved: fall through
      }
    }

    val acted = actedOver(cur)
    val keptOut = keptOver(acted)
    val inserts = insertsFor(cur)
    val result = recomputeGenerated(inserts.fold(keptOut)(keptOut.unionByName(_)), gc)

    val changeStage: Option[String] =
      if (!changeFeed) None
      else {
        val updateIdx = allClauses.zipWithIndex.collect {
          case (MergeClause.UpdateWhen(_, _), i) => i
        }
        val pre = fields.map { f =>
          if (keys.contains(f.name)) col(f.name) else col("t." + f.name).as(f.name)
        }.toIndexedSeq
        val post = fields.map(updatedValue).toIndexedSeq
        def typed(df: DataFrame, cols: IndexedSeq[Column], t: String) =
          df.select(cols: _*).withColumn("_change_type", lit(t))
        val updated = acted.where(col("__graft_action").isInCollection(updateIdx))
        val deleted = acted.where(col("__graft_action").isInCollection(deleteIdx))
        val changes = Seq(
          Some(typed(updated, pre, "update_preimage")),
          // post-images carry the RECOMPUTED generated values the table
          // will actually hold (pre-images already hold valid ones)
          Some(recomputeGenerated(updated.select(post: _*), gc)
            .withColumn("_change_type", lit("update_postimage"))),
          Some(typed(deleted, pre, "delete")),
          inserts.map(i => recomputeGenerated(i, gc)
            .withColumn("_change_type", lit("insert")))
        ).flatten.reduce(_ unionByName _)
        Some(writeChanges(changes))
      }
    stagedSwap(Some(result), "MERGE",
      Map("keys" -> keys.mkString(","), "clauses" -> whenMatched.length.toString,
        "changeFeed" -> changeFeed.toString) ++ extraParams ++ idParams,
      occBase, changeStage = changeStage)
  }

  /** Delta `DELETE FROM table WHERE cond`: removes rows where `cond`
    * evaluates TRUE; rows where it is false OR NULL are kept (SQL
    * three-valued semantics, same as Delta). Compiled to one staged
    * rewrite of the survivors: with file stats only the files whose
    * min/max admit `cond` are rewritten ([[rewriteSelective]]), else
    * every survivor is. A Hive-partitioned table keeps its layout.
    *
    * @param changeFeed record the deleted rows (`_change_type = delete`)
    *                   under this commit's version, like merge's CDF
    */
  def delete(cond: Column, changeFeed: Boolean = false): LakeTable = {
    // OCC base before the snapshot read — see update()
    val occBase = CommitLog.nextVersion(fs, logDir)
    val cur = read
    val hit = coalesce(cond, lit(false))
    val changeStage =
      if (!changeFeed) None
      else Some(writeChanges(
        cur.where(hit).withColumn("_change_type", lit("delete"))))
    val params = Map("predicate" -> cond.toString, "changeFeed" -> changeFeed.toString)
    rewriteSelective(cond, "DELETE", params, changeStage, occBase)(_.map(_.where(!hit)))
      .getOrElse(stagedSwap(Some(cur.where(!hit)), "DELETE", params, occBase,
        changeStage = changeStage))
  }

  /** Predicate-scoped atomic overwrite (Delta's `replaceWhere` — the
    * idempotent backfill primitive when the boundary is NOT a partition
    * column): rows matching `cond` are deleted and `df` inserted in ONE
    * staged commit, so a re-run converges instead of duplicating.
    * Every incoming row must satisfy `cond` — otherwise the "replace"
    * would silently leak rows into the untouched region (Delta errors
    * identically). Selective when stats allow: only files whose min/max
    * admit a `cond` match are rewritten (the inserts land with them);
    * every other file moves through the swap untouched. The incoming
    * batch takes the full append contract — schema enforcement,
    * generated-column compute, identity assignment, CHECK constraints.
    *
    * @param changeFeed record the replaced region as `delete` change rows
    *                   and the batch as `insert` rows under this commit's
    *                   version — without it, a replaceWhere silently
    *                   diverges every change-feed consumer (incremental
    *                   MVs, CDC replicas) because data changed with no
    *                   change records
    */
  def replaceWhere(
      df: DataFrame, cond: Column, changeFeed: Boolean = false): LakeTable = {
    // OCC base before the snapshot read — see update()
    val occBase = CommitLog.nextVersion(fs, logDir)
    val cur = read
    val ic = idCols
    requireNoIdentityProvided(df, "replaceWhere", ic)
    val (withGen, genChecks) = applyGenerated(withNullIdentity(df, ic))
    val (aligned0, _) = enforceSchema(withGen, appendLike = true,
      mergeSchema = false, overwriteSchema = false)
    val (assigned, idParams) = applyIdentityIngest(aligned0, ic)
    // materialized once: the violation count below and the staged write
    // both consume it, and identity values must not be re-drawn
    val (toInsertRaw, consSeen) = constrainedBatch(assigned, genChecks)
    val toInsert = toInsertRaw.localCheckpoint(false) // violating count below materializes
    lateConstraintCheck(toInsert, consSeen)
    val violating = toInsert.where(!coalesce(cond, lit(false))).count()
    require(violating == 0L,
      s"replaceWhere: $violating incoming row(s) do not satisfy $cond — " +
        "the batch may only hold rows inside the replaced region")
    val keep = (d: DataFrame) => d.where(!coalesce(cond, lit(false)))
    // CDF: the replaced region leaves as deletes, the batch arrives as
    // inserts — one change set, same commit (delete()'s feed contract)
    val changeStage =
      if (!changeFeed) None
      else Some(writeChanges(
        cur.where(coalesce(cond, lit(false)))
          .withColumn("_change_type", lit("delete"))
          .unionByName(toInsert.withColumn("_change_type", lit("insert")))))
    val params = Map("predicate" -> cond.toString,
      "mode" -> "replaceWhere", "changeFeed" -> changeFeed.toString) ++ idParams
    rewriteSelective(cond, "REPLACE WHERE", params, changeStage, occBase)(a =>
        Some(a.fold(toInsert)(keep(_).unionByName(toInsert))))
      .getOrElse(stagedSwap(Some(keep(cur).unionByName(toInsert)),
        "REPLACE WHERE", params, occBase, changeStage = changeStage))
  }

  /** Idempotent file ingest (Databricks/Delta `COPY INTO` analogue):
    * load every data file under `source` that has NOT already been
    * loaded into this table, append, and remember the loaded set — so
    * re-running the same COPY INTO (a scheduled ingest job, a retried
    * pipeline) is a no-op instead of a duplication. Loaded-file
    * tracking uses the same commit-gating as deletion vectors: the file
    * list lands in a `_copied_<uuid>` ledger inside the log dir FIRST,
    * and the append's commit claims it (`copyLedger` param) — a crash
    * before the commit leaves an unclaimed ledger no reader consults,
    * so those files load again on retry (at-least-once becomes
    * exactly-once at the commit boundary). Ledger files ride the log
    * through overwrites and rewrites like every other log file.
    *
    * Scale: listing is one recursive driver pass over the SOURCE dir
    * (ingest-batch scale, not table scale); the loaded-set check reads
    * only the tiny ledgers; the data scan reads only NEW files.
    */
  def copyInto(
      source: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      mergeSchema: Boolean = false): LakeTable = {
    // COPY INTO appends at the table root, which a versioned (_v{N}
    // snapshot) layout never reads — without this guard the rows would
    // be invisible to every read while the ledger still marks the files
    // loaded (silent, permanent data loss)
    require(!VersionedLakeTable.isVersioned(spark, path),
      s"$path uses the versioned snapshot layout; COPY INTO targets plain " +
        "lake tables (write a new snapshot via VersionedLakeTable instead)")
    val srcPath = new Path(source)
    val srcFs = srcPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(srcFs.exists(srcPath), s"COPY INTO source not found: $source")
    val found = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = srcFs.listFiles(srcPath, true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) found += st.getPath.toString
    }
    val already = copiedFiles
    val todo = found.filterNot(already.contains).sorted.toSeq
    if (todo.isEmpty) return this
    val raw = spark.read.options(options).format(format).load(todo: _*)
    // Delta COPY INTO's implicit store-assignment cast: source columns
    // matching a table column by name cast to ITS type (a JSON source
    // infers bigint where the table holds int); name drift still errors
    // in enforceSchema below
    val df = tableSchema match {
      case Some(s) if !mergeSchema =>
        val types = s.fields
          .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
        raw.select(raw.columns.map(c =>
          types.get(c.toLowerCase(java.util.Locale.ROOT))
            .map(t => col(c).cast(t).as(c)).getOrElse(col(c))).toIndexedSeq: _*)
      case _ => raw
    }
    val ledger = "_copied_" + java.util.UUID.randomUUID().toString.replace("-", "")
    if (!fs.exists(logDir)) fs.mkdirs(logDir): Unit
    val out = fs.create(new Path(logDir, ledger), false)
    try out.write(todo.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    write(df, SaveMode.Append, mergeSchema = mergeSchema,
      extraParams = Map(
        LakeTable.CopyLedgerParam -> ledger,
        "copySource" -> source,
        "filesLoaded" -> todo.size.toString))
    this
  }

  /** COPY INTO with the JSONL quarantine split (`COPY INTO … FILEFORMAT
    * = JSONL WITH QUARANTINE` in SQL): the exactly-once-per-file ledger
    * of [[copyInto]] around [[JsonlIngest.readWithQuarantine]] — each
    * not-yet-loaded landing file parses once, clean rows append here,
    * unparseable/contract-violating LINES land verbatim (with their
    * source file) in the `<path>__quarantine` sibling. The ledger claim
    * rides the CLEAN append's commit, and the quarantine leg writes
    * FIRST (the appendExpecting ordering): a crash between the two
    * leaves the files unclaimed, so the re-run re-processes them —
    * re-quarantining is at-least-once, losing violations is impossible.
    */
  def copyIntoJsonlQuarantine(
      source: String, schema: org.apache.spark.sql.types.StructType): LakeTable = {
    require(!VersionedLakeTable.isVersioned(spark, path),
      s"$path uses the versioned snapshot layout; COPY INTO targets plain " +
        "lake tables (write a new snapshot via VersionedLakeTable instead)")
    val srcPath = new Path(source)
    val srcFs = srcPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(srcFs.exists(srcPath), s"COPY INTO source not found: $source")
    val found = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = srcFs.listFiles(srcPath, true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) found += st.getPath.toString
    }
    val todo = found.filterNot(copiedFiles.contains).sorted.toSeq
    if (todo.isEmpty) return this
    val (good, bad) = JsonlIngest.readWithQuarantine(spark, todo, schema)
    val badPinned = bad.localCheckpoint(false)
    if (!badPinned.isEmpty) quarantine.write(badPinned, SaveMode.Append)
    val ledger = "_copied_" + java.util.UUID.randomUUID().toString.replace("-", "")
    if (!fs.exists(logDir)) fs.mkdirs(logDir): Unit
    val out = fs.create(new Path(logDir, ledger), false)
    try out.write(todo.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    write(good, SaveMode.Append,
      extraParams = Map(
        LakeTable.CopyLedgerParam -> ledger,
        "copySource" -> source,
        "fileFormat" -> "jsonl+quarantine",
        "filesLoaded" -> todo.size.toString))
    this
  }

  /** Source files already loaded by [[copyInto]]: the union of every
    * ledger a commit claims. Unclaimed ledgers (pre-commit crash
    * debris) are invisible here and removed by [[vacuumDebris]].
    */
  def copiedFiles: Set[String] = {
    if (!fs.exists(logDir)) return Set.empty
    val claimed = commitParamValues(LakeTable.CopyLedgerParam)
    if (claimed.isEmpty) Set.empty
    else fs.listStatus(logDir)
      .filter(st => st.isFile && claimed.contains(st.getPath.getName))
      .flatMap(st => readLogFile(st.getPath).split('\n'))
      .filter(_.nonEmpty).toSet
  }

  private def dvRoot = new Path(path, LakeTable.DvDirName)

  /** Whether any live deletion vectors exist (diagnostics / DESCRIBE
    * DETAIL; [[compact]] or any full rewrite materializes and drops them).
    */
  def hasDeletionVectors: Boolean = liveDvDirs.nonEmpty

  /** Deletion-vector dirs that are LIVE: present under `_graft_dv/` AND
    * claimed by some commit's `dvDir` parameter. The claim check makes
    * DV visibility commit-gated — a crash between the DV write and its
    * commit leaves an unclaimed dir that no reader applies (and
    * [[vacuumDebris]] deletes); without the gate, the phantom would
    * silently delete live rows. Cost: one log scan when dirs are present
    * at all (they exist only between a [[deleteVectored]] and the next
    * full rewrite), zero FS reads otherwise.
    */
  private def liveDvDirs: Seq[String] = {
    if (!fs.exists(dvRoot)) return Nil
    val present = fs.listStatus(dvRoot).map(_.getPath)
      .filter(_.getName.startsWith("d"))
    if (present.isEmpty) Nil
    else {
      val claimed = commitParamValues(LakeTable.DvDirParam)
      present.filter(p => claimed.contains(p.getName)).map(_.toString).toSeq
    }
  }

  /** Anti-join `df` (a parquet file-source frame over this table's
    * files) against the live deletion vectors. Identity is
    * (scheme-less file path, row index) from the file source's
    * `_metadata` struct — stable because parquet files are immutable
    * and rewrites always produce fresh UUID-suffixed names, so an
    * orphaned vector can never resurrect onto a new file. The DV side
    * is a plain parquet relation Catalyst sizes like any other: small
    * vectors broadcast automatically, pathological ones fall back to a
    * shuffled anti-join — never a wrong answer, never a driver
    * collect. No-op (zero plan change) when no vectors are live.
    */
  private[sources] def applyDeletionVectors(df: DataFrame): DataFrame = {
    val dirs = liveDvDirs
    if (dirs.isEmpty) df
    else {
      val fileCol = "__graft_dv_file"
      val rowCol = "__graft_dv_row"
      require(!df.columns.contains(fileCol) && !df.columns.contains(rowCol),
        s"table columns collide with deletion-vector helper names $fileCol/$rowCol")
      val dv = spark.read.parquet(dirs: _*)
        .select(col(LakeTable.DvFileCol).as("__dv_f"), col(LakeTable.DvRowCol).as("__dv_r"))
      df.withColumn(fileCol, FileStats.schemelessFile(col("_metadata.file_path")))
        .withColumn(rowCol, col("_metadata.row_index"))
        .join(dv, col(fileCol) === col("__dv_f") && col(rowCol) === col("__dv_r"),
          "left_anti")
        .drop(fileCol, rowCol)
    }
  }

  /** Merge-on-read DELETE (Delta deletion vectors, Iceberg position
    * deletes): instead of rewriting every file containing a matched row,
    * record the matched (file, row-index) positions under `_graft_dv/`
    * and let every read path anti-join them away. The write cost is
    * proportional to the DELETED rows, not to the files they live in —
    * the point-delete shape (`DELETE WHERE id = x` on a 100 TB table)
    * goes from a multi-GB file rewrite to a KB-scale vector write.
    * Reads pay a (usually broadcast) anti-join until the next full
    * rewrite ([[compact]] / [[optimize]] / MERGE) materializes the
    * deletes and drops the vectors.
    *
    * Crash safety: the vector dir is written FIRST, then the commit
    * claims it by name (`dvDir` param). Readers apply only claimed dirs,
    * so a crash before the commit deletes nothing ([[vacuumDebris]]
    * removes the unclaimed debris). Already-deleted rows are excluded
    * from the match, so re-deleting is a no-op and the change feed
    * never reports a row twice.
    *
    * Two properties COW deletes lack: (1) works on PARTITIONED layouts
    * — where the selective rewrite must bail and a COW delete pays a
    * full-table rewrite, the vector write costs only the matched rows,
    * and partition pruning composes with the anti-join; (2) CONCURRENT
    * deletes compose — each writer claims its own dir and the read-side
    * union applies both, where concurrent COW rewrites race
    * last-swap-wins (both pinned in DeletionVectorSpec).
    */
  def deleteVectored(cond: Column, changeFeed: Boolean = false): LakeTable = {
    require(exists, s"no lake table at $path")
    // Delta's own incompatibility, enforced in the same direction: the
    // auto-manifest property refuses to ENABLE on a DV table, so creating
    // a DV under the property must refuse too — BEFORE mutating (a
    // post-commit manifest failure would leave external readers the exact
    // stale file list the property exists to prevent)
    require(!symlinkAutoEnabled,
      s"deleteVectored on $path conflicts with " +
        s"${LakeTable.SymlinkAutoProperty}: a symlink manifest cannot " +
        "express deletion vectors — unset the property, or use the " +
        "copy-on-write delete")
    val fileCol = "__graft_dv_file"
    val rowCol = "__graft_dv_row"
    val raw = readRaw
    require(!raw.columns.contains(fileCol) && !raw.columns.contains(rowCol),
      s"table columns collide with deletion-vector helper names $fileCol/$rowCol")
    val withId = raw
      .withColumn(fileCol, FileStats.schemelessFile(col("_metadata.file_path")))
      .withColumn(rowCol, col("_metadata.row_index"))
    val live = {
      val dirs = liveDvDirs
      if (dirs.isEmpty) withId
      else {
        val dv = spark.read.parquet(dirs: _*)
          .select(col(LakeTable.DvFileCol).as("__dv_f"), col(LakeTable.DvRowCol).as("__dv_r"))
        withId.join(dv,
          col(fileCol) === col("__dv_f") && col(rowCol) === col("__dv_r"), "left_anti")
      }
    }
    val hit = coalesce(cond, lit(false))
    val hits = live.where(hit)
    val changeStage =
      if (!changeFeed) None
      else Some(writeChanges(hits.drop(fileCol, rowCol)
        .withColumn("_change_type", lit("delete"))))
    val name = "d" + java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val dir = new Path(dvRoot, name)
    try
      hits.select(col(fileCol).as(LakeTable.DvFileCol), col(rowCol).as(LakeTable.DvRowCol))
        .write.mode(SaveMode.Overwrite).parquet(dir.toString)
    catch {
      case e: Throwable =>
        try {
          fs.delete(dir, true): Unit
          changeStage.foreach(discardChanges)
        } catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    }
    val actual = commit("DELETE", Map(
      "predicate" -> cond.toString, "mode" -> "merge-on-read",
      LakeTable.DvDirParam -> name, "changeFeed" -> changeFeed.toString) ++
      changeStage.map(LakeTable.ChangeStageParam -> _))
    changeStage.foreach(publishChanges(_, actual))
    this
  }

  /** Delta `UPDATE table SET col = expr, ... WHERE cond`: rows where
    * `cond` is TRUE get every SET column replaced (expressions evaluate
    * against the PRE-update row — `SET a = b, b = a` swaps); false/NULL
    * rows are untouched. One staged rewrite, one projection — no join,
    * no shuffle beyond the write itself.
    */
  def update(
      set: Map[String, Column], cond: Column, changeFeed: Boolean = false): LakeTable = {
    // OCC base captured BEFORE the snapshot read: every job below (the
    // change-feed materialization included) derives from this version,
    // so a commit landing during any of them must trip occResolve
    val occBase = CommitLog.nextVersion(fs, logDir)
    val cur = read
    val gc = genCols
    val bad = set.keys.filterNot(cur.columns.contains)
    require(set.nonEmpty && bad.isEmpty,
      s"UPDATE SET references unknown columns: ${bad.mkString(", ")}")
    requireNotGenerated(set.keys, "UPDATE SET", gc)
    requireNotIdentityAssigned(set.keys, "UPDATE SET", idCols)
    val fields = cur.schema.fields
    val hit = coalesce(cond, lit(false))
    // post-update value, cast to the table's type (Delta casts SET
    // expressions to the target column type rather than retyping)
    def post(f: org.apache.spark.sql.types.StructField): Column =
      set.get(f.name).map(_.cast(f.dataType)).getOrElse(col(f.name)).as(f.name)
    // generated columns recompute AFTER the SET applies, so dependency
    // changes propagate (on untouched rows the recomputation is
    // value-identical — the deterministic-expression contract)
    def updated(target: DataFrame): DataFrame =
      recomputeGenerated(target.select(fields.map { f =>
        if (set.contains(f.name)) when(hit, post(f)).otherwise(col(f.name)).as(f.name)
        else col(f.name)
      }.toIndexedSeq: _*), gc)
    val changeStage =
      if (!changeFeed) None
      else {
        val touched = cur.where(hit)
        val pre = touched.withColumn("_change_type", lit("update_preimage"))
        val after = recomputeGenerated(
            touched.select(fields.map(post).toIndexedSeq: _*), gc)
          .withColumn("_change_type", lit("update_postimage"))
        Some(writeChanges(pre.unionByName(after)))
      }
    val params = Map("predicate" -> cond.toString,
      "set" -> set.keys.toSeq.sorted.mkString(","),
      "changeFeed" -> changeFeed.toString)
    rewriteSelective(cond, "UPDATE", params, changeStage, occBase)(_.map(updated))
      .getOrElse(stagedSwap(Some(updated(cur)), "UPDATE", params, occBase,
        changeStage = changeStage))
  }

  /** Selective DML — the Delta-style file-level path: only the files
    * whose recorded min/max stats admit a `cond` match are read
    * (deletion vectors applied) and handed to `transform`; every other
    * file MOVES through the staged swap untouched (a metadata rename,
    * zero data I/O). At 100 TB with a clustered predicate column this
    * turns a full-table rewrite into a rewrite of the handful of files
    * actually holding matching rows. `transform` gets None when pruning
    * leaves no file to read: an insert-only MERGE still stages its
    * inserts, a DELETE or UPDATE stages nothing.
    *
    * Returns None (the caller runs the full replacement) when: no stats
    * are recorded; the table is a shallow clone (its files live in the
    * source dir, which the local listing can't see); the layout is
    * Hive-partitioned (untouched files would ride the manifest inside
    * partition dirs the swap's gather does not create); or pruning keeps
    * nothing (every file may match, so the full replacement is the same
    * work).
    *
    * The stats and DV dirs ride [[stagedSwap]] beside the untouched
    * files, whose rows in them stay valid; only the rewritten files lose
    * skipping until the next [[collectStats]].
    */
  private def rewriteSelective(
      cond: Column, op: String, params: Map[String, String],
      changeStage: Option[String], occBase: Long)(
      transform: Option[DataFrame] => Option[DataFrame]): Option[LakeTable] = {
    if (!selectiveEligible) return None
    val all = listDataFiles()
    if (all.exists(_._1.contains("/"))) return None // partitioned layout
    val mightMatch = prunedFiles(cond).toSet
    val (affected, untouched) = all.partition(t => mightMatch.contains(t._3))
    if (untouched.isEmpty) return None // nothing saved: full rewrite is equal
    Some(stagedSwap(transform(Option.when(affected.nonEmpty)(readFiles(affected))),
      op, params, occBase, replaced = Some(affected), untouched = untouched,
      changeStage = changeStage, partitionCols = Some(Nil)))
  }

  /** The rows of listed `files` under the stored schema, deletion
    * vectors applied: untouched files keep their (still-valid) vectors
    * through a swap, so rows a merge-on-read DELETE removed must not
    * resurrect in the rewritten ones. No files: an empty frame.
    */
  private def readFiles(files: Seq[(String, String, String)]): DataFrame = {
    val schema = storedSchema.getOrElse(read.schema)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else applyDeletionVectors(readMapped(schema, files.map(_._3)))
  }

  /** The one staged swap behind every non-append replacement of the
    * table's files: full replacements (every non-append
    * [[write]]/[[writePartitioned]], MERGE, DELETE and UPDATE without
    * stats, SCD2, the generated/identity backfills, [[materialize]],
    * [[reorgPurge]]), stats-pruned DML ([[rewriteSelective]]) and
    * maintenance ([[maintenanceRewrite]], [[compactSmall]]). It never
    * reads and overwrites one location in a job and never deletes the
    * live table in place:
    *
    *   1. claim the table's single stage slot ([[claimStage]]);
    *   2. write `staged` (the caller's frame; None stages nothing) to the
    *      stage, in the table's current Hive layout unless
    *      `partitionCols` names one, and validate the constraints and
    *      `extraChecks` against the staged files;
    *   3. resolve OCC against `occBase`, the version the caller took
    *      BEFORE its snapshot read ([[occResolve]]);
    *   4. publish the known-file set, the pending op and the manifest —
    *      the point of no return: from here a crash is COMPLETED by
    *      [[vacuumDebris]], never discarded;
    *   5. [[completeSwap]]: gather the untouched and rebased files (and
    *      the stats and DV dirs when untouched files ride, since their
    *      rows stay valid) and the log into the stage, clear the old
    *      children, place the stage's;
    *   6. audit the commits that landed while the swap ran, then commit
    *      exactly once ([[commitIfAbsent]], keyed by the swap uuid); a
    *      staged change set publishes at the version won, so
    *      readChanges' `_commit_version` is truthful by construction.
    *
    * A pre-swap failure deletes the stage and discards `changeStage`
    * (it was never visible); the table is untouched. A failure to
    * release the claim is suppressed onto the operation's own error.
    *
    * @param replaced      listed files `staged` replaces (default: every
    *                      data file, listed at entry)
    * @param untouched     listed files that ride the manifest unchanged
    * @param rebase        `staged` is a content-preserving function of
    *                      exactly `replaced ++ untouched`: concurrent
    *                      pure appends compose instead of refusing
    * @param plainNames    write `staged`'s column names verbatim (no
    *                      logical-to-physical mapping)
    * @param onStagedLog   metadata edit applied to the moved log after
    *                      the point of no return, so it flips atomically
    *                      with the data (the log then moves before the
    *                      gather instead of last)
    * @param partitionCols physical columns the staged files are
    *                      Hive-partitioned by (default: the table's
    *                      current layout)
    * @param replaceSchema take `staged`'s schema verbatim instead of
    *                      merging it with the stored one (overwriteSchema)
    * @param extraChecks   checks validated with the table's constraints
    *                      against the staged files (generated columns)
    */
  private[sources] def stagedSwap(
      staged: Option[DataFrame], op: String, params: Map[String, String],
      occBase: Long,
      replaced: Option[Seq[(String, String, String)]] = None,
      untouched: Seq[(String, String, String)] = Nil,
      changeStage: Option[String] = None,
      rebase: Boolean = false,
      plainNames: Boolean = false,
      onStagedLog: Option[Path => Unit] = None,
      partitionCols: Option[Seq[String]] = None,
      replaceSchema: Boolean = false,
      extraChecks: Map[String, String] = Map.empty): LakeTable = {
    claimStage(op)
    try {
      val stage = new Path(s"$path${LakeTable.StageSuffix}")
      val replacedFiles = replaced.getOrElse(
        if (fs.exists(new Path(path))) listDataFiles() else Nil)
      val base = (replacedFiles ++ untouched).map(_._1)
      // Spark part-file names embed the job UUID, so a staged file is not
      // expected to share a name with a file riding the manifest — but a
      // clash would silently drop one in the swap, so check loudly
      lazy val stagedNames = fs.listStatus(stage)
        .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
      def requireNoClash(riders: Seq[String], what: String): Unit = {
        val clash = riders.filter(n => stagedNames.contains(n))
        require(clash.isEmpty, s"staged rewrite collides with $what: ${clash.mkString(", ")}")
      }
      val (rebased, resolvedNext) =
        try {
          staged match {
            case Some(frame) =>
              val layout = partitionCols.getOrElse {
                val dirs = partitionColumns() // directory names: physical
                val inv = if (plainNames) columnMapping._1.map(_.swap) else Map.empty[String, String]
                dirs.map(d => inv.getOrElse(d, d))
              }
              val written = if (plainNames) frame else toPhysical(frame)
              val w = written.write.mode(SaveMode.Overwrite)
              (if (layout.isEmpty) w else w.partitionBy(layout: _*)).parquet(stage.toString)
              // constraints validate the STAGED files (nothing recomputed;
              // untouched files were validated when written). Read with the
              // written schema: an empty output stages no parquet file to
              // infer one from (TRUNCATE of a constrained table)
              val cons = constraints ++ extraChecks
              if (cons.nonEmpty) {
                val raw = spark.read.schema(written.schema).parquet(stage.toString)
                enforceConstraints(if (plainNames) raw else logicalView(raw), cons)
              }
            case None => fs.mkdirs(stage): Unit // a dir untouched files move through
          }
          requireNoClash(untouched.map(_._1), "kept files")
          onStagedForTest()
          val resolved = occResolve(occBase, op, Option.when(rebase)(base.toSet))
          requireNoClash(resolved._1, "concurrently appended files")
          resolved
        } catch {
          case e: Throwable =>
            try { fs.delete(stage, true): Unit; changeStage.foreach(discardChanges) }
            catch { case r: Throwable => e.addSuppressed(r) }
            throw e
        }
      // the pending op carries the change-stage claim and a swap uuid: a
      // recovery completing this stage then attributes the op WITH its
      // change set (the set publishes at the recovered version instead of
      // aging out unclaimed — silent CDC starvation), and the live writer
      // racing that recovery adopts the attribution by uuid
      val swapId = java.util.UUID.randomUUID().toString.take(12)
      val taggedParams = params ++ changeStage.map(LakeTable.ChangeStageParam -> _) +
        (LakeTable.SwapStageParam -> swapId)
      // the snapshot's complete file accounting, published before the
      // manifest so a marked stage is always sweep-capable: replaced
      // files die with the old children, everything else rides the
      // manifest, and any table-dir file NOT listed here is a concurrent
      // append completeSwap carries through instead of deleting
      LakeIo.atomicOverwrite(fs, new Path(stage, LakeTable.KnownFilesName),
        (base ++ rebased).mkString("\n"))
      writeManifest(stage, untouched.map(_._1) ++ rebased ++
        (if (untouched.isEmpty) Nil else Seq(LakeTable.StatsDirName, LakeTable.DvDirName)),
        op, taggedParams)
      onSwapMarkedForTest()
      onStagedLog.foreach { edit =>
        val stagedLog = new Path(stage, LakeTable.LogDirName)
        if (fs.exists(logDir)) fs.rename(logDir, stagedLog)
        edit(stagedLog)
      }
      // same-process completion: commit inline below
      val (_, sweptLate) = completeSwap(stage)
      // post-swap audit (closing the window after occResolve's reads): a
      // commit landing after them rode the moved log (completeSwap moves
      // the log LAST, so it is visible here) and its top-level data files
      // survived the swap as unaccounted files. A rebasing swap composes
      // with pure appends exactly as occResolve does — proceed and record
      // the sweep. Anything else (a non-append interloper, or an op whose
      // result derives from the content and cannot absorb unseen commits)
      // refuses to stack its commit on top of the interleaving. A
      // RECOVERED commit carrying THIS swap's uuid is a concurrent
      // recovery attributing this very op (commitIfAbsent adopts it); a
      // VACUUM DEBRIS commit is metadata-only (the recovery twin's own
      // bookkeeping). (A commit racing the log's own move is the
      // residual, metadata-only window occResolve documents.)
      val postSwapNext = CommitLog.nextVersion(fs, logDir)
      if (postSwapNext != resolvedNext) {
        val foreign = CommitLog.recordsSince(fs, logDir, resolvedNext)
          .filterNot(_.params.get(LakeTable.SwapStageParam).contains(swapId))
          .filterNot(_.operation == "VACUUM DEBRIS")
        if (foreign.exists(r => !rebase || !isPureAppend(r)))
          throw new java.util.ConcurrentModificationException(
            s"$op at $path: commit(s) v$resolvedNext..v${postSwapNext - 1} landed " +
              "while the swap was in flight (their data files were carried " +
              "through it where present). This operation's commit was NOT " +
              "recorded — reconcile from history or RESTORE a pre-swap version.")
      }
      // a full replacement's frame IS the table now: keep the stored
      // schema in lockstep with the new files. A swap keeping untouched
      // files never narrows it (their rows are written in it)
      if (untouched.isEmpty) staged.foreach(f => saveSchema(f.schema, replace = replaceSchema))
      // adopt-or-commit is exactly-once THROUGH the log, not check-then-
      // act: a recovery twin between its completeSwap and its RECOVERED
      // commit is invisible to any snapshot read here, so the decision is
      // made by commitIfAbsent's scan-then-claim-exactly-v loop instead
      val actual = commitIfAbsent(
        op, taggedParams ++
          Map("filesRewritten" -> replacedFiles.size.toString,
            "filesKept" -> untouched.size.toString) ++
          (if (rebased.nonEmpty) Map("filesRebased" -> rebased.size.toString)
           else Map.empty) ++
          (if (sweptLate > 0) Map("filesSweptLate" -> sweptLate.toString)
           else Map.empty),
        LakeTable.SwapStageParam, swapId, resolvedNext)
      changeStage.foreach(publishChanges(_, actual))
    } catch {
      case e: Throwable =>
        try releaseStage() catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    }
    releaseStage()
    this
  }

  /** Compact only the SMALL files — Delta OPTIMIZE's actual behavior
    * (`minFileSize`/`maxFileSize`): files below `minFileBytes` are read,
    * consolidated into ~`targetFileBytes` outputs, and swapped in; every
    * already-well-sized file moves through untouched (a metadata rename,
    * zero data I/O, stats and deletion vectors stay valid). This is the
    * steady-state answer to streaming small files at 100 TB: the
    * periodic compaction's cost tracks the RECENT small-file volume, not
    * the table — [[compact]] rewrites everything, every time.
    *
    * Sizing reads only filesystem metadata. No-op (no commit) when
    * fewer than two small files exist. Refused on a Hive-partitioned
    * layout (the kept files would ride the swap inside partition dirs) —
    * compact those whole with [[compact]] or per partition with
    * [[optimizeWhere]].
    */
  def compactSmall(
      minFileBytes: Long = 32L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024): LakeTable = {
    require(minFileBytes > 0 && targetFileBytes >= minFileBytes,
      "need 0 < minFileBytes <= targetFileBytes")
    // a shallow clone's referenced files aren't locally listable — the
    // full compact reads through the manifest and detaches the clone
    if (isShallowClone) return compact(targetFileBytes)
    // base version before the listing — see maintenanceRewrite
    val occBase = CommitLog.nextVersion(fs, logDir)
    val all = listDataFiles()
    require(!all.exists(_._1.contains("/")),
      s"$path has a partitioned layout; compact per partition via optimizeWhere")
    val f = fs
    val sized = all.map(t => t -> f.getFileStatus(new Path(t._3)).getLen)
    val affected = sized.collect { case (t, len) if len < minFileBytes => t }
    if (affected.size < 2) return this // nothing to consolidate
    val untouched = sized.collect { case (t, len) if len >= minFileBytes => t }
    val smallBytes = sized.collect { case (_, len) if len < minFileBytes => len }.sum
    val n = math.max(1, math.ceil(smallBytes.toDouble / targetFileBytes).toInt)
    if (untouched.isEmpty)
      // every file is small: the full compact is the same work and
      // refreshes stats bookkeeping the standard way
      compact(targetFileBytes)
    else
      stagedSwap(Some(readFiles(affected).repartition(n)), "COMPACT SMALL",
        Map("minFileBytes" -> minFileBytes.toString,
          "targetFileBytes" -> targetFileBytes.toString),
        occBase, replaced = Some(affected), untouched = untouched,
        rebase = true, partitionCols = Some(Nil))
  }

  /** Materialize a change set in a STAGING dir under `_graft_changes/`
    * — dot-prefixed, so the `v*` glob [[readChanges]] uses and the file
    * stream behind [[readChangesStream]] can never list it. The set
    * becomes visible only when the commit it describes lands: the
    * committing operation records the stage name in its params
    * ([[LakeTable.ChangeStageParam]]) and [[publishChanges]] renames it
    * to `v<actual>` AFTER the commit record exists. Change sets are
    * therefore IMMUTABLE ONCE VISIBLE — nothing ever renames, deletes,
    * or moves a published set (retention-driven [[vacuumChanges]]
    * aside), which is what keeps a live CDC file stream from dying on a
    * listed-then-vanished file. Must still run BEFORE the table swap,
    * while the plans read the pre-mutation table.
    */
  private def writeChanges(changes: DataFrame): String = {
    val name = LakeTable.ChangeStagePrefix +
      java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val dir = s"$path/${LakeTable.ChangesDirName}/$name"
    try changes.write.mode(SaveMode.Overwrite).parquet(dir)
    catch {
      case e: Throwable =>
        fs.delete(new Path(dir), true)
        throw e
    }
    name
  }

  /** Publish a staged change set at the version its commit won — the
    * one rename that makes it visible to feed readers, run AFTER the
    * commit record exists (so a visible change set always has its
    * commit, and consumers never need to wait one out). Loud on
    * failure: a committed mutation whose change set silently vanished
    * would diverge every CDC consumer. Idempotent when a crash-recovery
    * pass already published this stage.
    */
  private def publishChanges(stage: String, version: Long): Unit = {
    val from = new Path(s"$path/${LakeTable.ChangesDirName}/$stage")
    val to = new Path(s"$path/${LakeTable.ChangesDirName}/v$version")
    if (fs.exists(from)) {
      // both attribution twins publish at the SAME version (the swap
      // uuid's commitIfAbsent picks one commit) — a refused rename whose
      // set meanwhile lives at the destination is the twin's completed
      // publication, not a failure
      if (!fs.rename(from, to) && !(fs.exists(to) && !fs.exists(from)))
        throw new java.io.IOException(
          s"could not publish change set $from at version v$version")
    } else require(fs.exists(to),
      s"change set stage $stage vanished before publication at v$version")
  }

  /** Drop a staged change set whose operation aborted pre-commit — it
    * was never visible, so this is pure hygiene, not a reader-facing
    * mutation.
    */
  private def discardChanges(stage: String): Unit =
    fs.delete(new Path(s"$path/${LakeTable.ChangesDirName}/$stage"), true): Unit

  /** Delta `table_changes` analogue: every change row recorded by
    * change-feed-enabled commits in `[fromVersion, toVersion]`, with
    * `_change_type` and `_commit_version`. Versions without a recorded
    * change set simply contribute nothing (like Delta tables that had
    * CDF off for part of their history).
    */
  def readChanges(fromVersion: Long = 0L, toVersion: Long = Long.MaxValue): DataFrame = {
    // an EXPLICIT resume point at or below the vacuum horizon means the
    // caller needs history that no longer exists — returning only the
    // surviving sets would silently drop changes (an incremental MV
    // would diverge without a trace). Fail loudly, like Delta's CDC
    // beyond-retention error. IllegalSTATE, not IllegalArgument: callers
    // treat IllegalArgument as the benign "no change sets in range"
    // (MaterializedAgg.refresh) and must not confuse the two.
    // fromVersion = 0 stays best-effort "whatever the feed retains".
    if (fromVersion > 0L) {
      val horizon = changesVacuumHorizon
      if (fromVersion <= horizon) throw new IllegalStateException(
        s"change feed at $path was vacuumed through version $horizon " +
          s"(VACUUM CHANGES) — cannot resume from version $fromVersion; " +
          "rebuild the consumer from the current table state")
    }
    val dir = new Path(path, LakeTable.ChangesDirName)
    val f = fs
    val versions =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .filter(_.matches("v\\d+"))
        .map(_.stripPrefix("v").toLong)
        .filter(v => v >= fromVersion && v <= toVersion)
        .sorted
    require(versions.nonEmpty,
      s"no change feed recorded in versions [$fromVersion, $toVersion] at $path")
    versions.map { v =>
      spark.read.parquet(s"$path/${LakeTable.ChangesDirName}/v$v")
        .withColumn("_commit_version", lit(v))
    // allowMissingColumns: change sets recorded before a schema evolution
    // lack the added columns — they read as null, like Delta's CDF
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** [[readChanges]] with a TIMESTAMP resume point — Delta's
    * `table_changes(t, start_timestamp)` form. The timestamp resolves
    * through the commit log to the FIRST commit at or after it (commit
    * stamps, not change-file mtimes, so the mapping survives file moves
    * and restores), then delegates to the version form — including its
    * vacuum-horizon guard: a resume point whose history was trimmed
    * fails loudly instead of silently returning a partial feed.
    * A timestamp beyond the last commit is an error, like Delta's
    * "timestamp after latest commit" — an incremental consumer asking
    * for the future has a clock or orchestration bug it should hear
    * about, not an empty batch it would mistake for "caught up".
    */
  def readChanges(from: java.time.Instant): DataFrame = {
    val fromV = versionAtOrAfter(from, commitVersionTimes)
    assertAboveChangesHorizon(fromV)
    readChanges(fromV, Long.MaxValue)
  }

  /** [[readChanges]] over a closed timestamp interval: changes recorded
    * by commits in `[from, to]` (first commit at/after `from` through
    * the last commit at/before `to`).
    */
  def readChanges(from: java.time.Instant, to: java.time.Instant): DataFrame = {
    require(!to.isBefore(from), s"empty CDC interval: $from > $to")
    val times = commitVersionTimes // ONE checkpointed-log read for both bounds
    val toV = times.filter(!_._2.isAfter(to)).map(_._1)
    if (toV.isEmpty) throw new IllegalStateException(
      s"no commit at or before $to at $path — the interval ends before the table began")
    val fromV = versionAtOrAfter(from, times)
    assertAboveChangesHorizon(fromV)
    readChanges(fromV, toV.max)
  }

  /** First commit version stamped at or after `ts`. IllegalSTATE on a
    * beyond-history stamp — IllegalArgument is this API's documented
    * benign "no change sets in range" signal (MaterializedAgg.refresh
    * swallows it), and a consumer asking for the future must hear about
    * its clock bug, not see a silent "caught up".
    */
  private def versionAtOrAfter(
      ts: java.time.Instant, times: Seq[(Long, java.time.Instant)]): Long = {
    val vs = times.filter(!_._2.isBefore(ts)).map(_._1)
    if (vs.isEmpty) throw new IllegalStateException(
      s"no commit at or after $ts at $path — the timestamp is beyond the " +
        "table's history (use a version resume point, or rebuild from current state)")
    vs.min
  }

  /** An EXPLICIT timestamp resume point carries the same complete-feed
    * promise as an explicit version — including one that maps to
    * version 0 (a stamp from before the table began): the version form
    * treats 0 as best-effort, but a timestamp caller asked for the full
    * history SINCE that instant, which a vacuumed feed cannot serve.
    */
  private def assertAboveChangesHorizon(fromV: Long): Unit = {
    val horizon = changesVacuumHorizon
    if (fromV <= horizon) throw new IllegalStateException(
      s"change feed at $path was vacuumed through version $horizon " +
        s"(VACUUM CHANGES) — cannot resume from version $fromV; " +
        "rebuild the consumer from the current table state")
  }

  /** (version, commit timestamp) for every commit — one checkpointed-log
    * read. Min/max over a filter rather than a binary search: commit
    * stamps come from writer clocks, so a skewed writer must not hide
    * later commits behind an out-of-order stamp.
    */
  private def commitVersionTimes: Seq[(Long, java.time.Instant)] = {
    val V = """"version":(\d+)""".r
    val T = """"timestamp":"([^"]+)"""".r
    CommitLog.records(fs, logDir).flatMap { r =>
      for {
        v <- V.findFirstMatchIn(r)
        t <- T.findFirstMatchIn(r)
        i <- scala.util.Try(java.time.Instant.parse(t.group(1))).toOption
      } yield (v.group(1).toLong, i)
    }
  }

  /** The table DATA as a STREAMING source for APPEND-ONLY pipelines: each
    * appended batch's files land atomically at job commit and the file
    * stream discovers them incrementally, so a downstream consumer with a
    * checkpoint sees every appended row exactly once across restarts —
    * the "stream out of the lake" half of the [[graft.streaming.LakeSink]]
    * pattern. The stored schema is authoritative, like [[read]].
    *
    * CONTRACT: append-only. Rewriting operations (delete/update/merge/
    * optimize/overwrite) REPLACE data files, and a file-based stream
    * would re-deliver their rows as if new — consume
    * [[readChangesStream]] (the CDC feed) for tables that rewrite.
    */
  def readStream: DataFrame = readStream(None)

  /** [[readStream]] with a batch-size bound — same `maxFilesPerTrigger`
    * rationale as [[readChangesStream]]: a consumer starting against an
    * existing multi-TB table must replay the backlog as right-sized
    * micro-batches, not one.
    */
  def readStream(maxFilesPerTrigger: Option[Int]): DataFrame = {
    require(!isShallowClone,
      s"readStream on a shallow clone would see only locally-appended files, " +
        "not the manifest-referenced source data — materialize() first")
    val s = storedSchema.getOrElse(read.schema)
    val reader = spark.readStream.schema(s)
    maxFilesPerTrigger.foreach { n =>
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      reader.option("maxFilesPerTrigger", n.toString): Unit
    }
    // deletion vectors live at stream START apply via a stream-static
    // left-anti join (static right side — supported shape); vectors
    // added AFTER the stream starts are not re-read, the same
    // append-only contract Delta imposes on streaming reads
    applyDeletionVectors(reader.parquet(path))
  }

  /** The change feed as a STREAMING source: each change-feed-enabled
    * commit PUBLISHES its change set under `_graft_changes/v<N>/` (one
    * rename, after the commit record lands — see [[publishChanges]]),
    * which a file stream discovers incrementally — so downstream CDC
    * consumers tail `readChangesStream` with a checkpoint and see every
    * change exactly once across restarts (StreamingSpec drives this).
    * Two structural guarantees keep a LIVE stream safe against
    * concurrent writers: a listed change file always has its commit
    * record (visible-implies-committed), and it NEVER moves — staged
    * rewrites swap the table's other children around the feed dir
    * (completeSwap), and only [[vacuumChanges]] retention ever removes
    * published sets (ChangeFeedPublicationSpec's race loop pins this).
    * Requires at least
    * one recorded change set. The stream schema is the mergeSchema UNION
    * of every change set present at start (so a feed whose table evolved
    * mid-history exposes all columns, null-filled where a version lacks
    * them) — but it is then FIXED for the stream's lifetime: columns
    * added by commits after the stream starts require a restart with a
    * fresh checkpoint to appear.
    */
  def readChangesStream: DataFrame = readChangesStream(None)

  /** [[readChangesStream]] with a batch-size bound: `maxFilesPerTrigger`
    * caps how many change files each micro-batch admits (Spark's file
    * source option, same name Delta uses). The 100 TB concern it
    * answers: a NEW consumer starting against a long-lived feed — or one
    * restarting after a long outage — otherwise gets the whole backlog
    * as ONE micro-batch, whose shuffle/state footprint the executors
    * were never sized for. Bounded batches replay the backlog as many
    * right-sized batches with the same exactly-once checkpoint contract.
    */
  def readChangesStream(maxFilesPerTrigger: Option[Int]): DataFrame = {
    val dir = s"$path/${LakeTable.ChangesDirName}"
    require(fs.exists(new Path(dir)),
      s"no change feed at $path — run a merge/upsert with changeFeed = true first")
    // glob the version dirs: the underscore-prefixed changes root itself
    // is hidden from Spark's listing even when named explicitly
    val schema = spark.read.option("mergeSchema", "true").parquet(s"$dir/v*").schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach { n =>
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      reader.option("maxFilesPerTrigger", n.toString): Unit
    }
    reader.parquet(s"$dir/v*")
      .withColumn("_commit_version",
        // anchored to the feed dir: a table path like /data/v2/events
        // contains its own /v<digits>/ segment and must not match
        regexp_extract(input_file_name(),
          s"/${LakeTable.ChangesDirName}/v(\\d+)/", 1).cast("long"))
  }

  /** Trim the change feed to its newest `retainLast` change sets
    * (Delta's CDC+VACUUM retention, spelled in change sets like
    * [[VersionedLakeTable.vacuum]] is spelled in snapshots). Without
    * retention a CDC feed is the
    * one part of the table that grows forever — every rewrite appends
    * change files and nothing ever removes them, so at 100 TB the feed
    * eventually dwarfs the data it describes. Checkpointed consumers that
    * already read the removed files are unaffected (the file source's own
    * log remembers them); a NEW stream sees only the retained window, and
    * a consumer resuming from before the cutoff re-reads nothing that no
    * longer exists — the same contract Delta documents for expired CDC.
    */
  def vacuumChanges(retainLast: Int): LakeTable = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val dir = new Path(s"$path/${LakeTable.ChangesDirName}")
    // retain counts CHANGE SETS, not commit versions: commits without a
    // change set (maintenance, appends with the feed off — including the
    // VACUUM CHANGES commit below) must not erode the window, or
    // repeated vacuums would drain the feed to nothing
    val removed =
      if (!fs.exists(dir)) Seq.empty[Long]
      else fs.listStatus(dir).map(_.getPath)
        .flatMap { p =>
          val n = p.getName
          if (n.matches("v\\d+")) Some(n.drop(1).toLong -> p) else None
        }
        .sortBy(_._1)
        .dropRight(retainLast)
        .map { case (v, p) => fs.delete(p, true); v }
        .toSeq
    commit("VACUUM CHANGES", Map(
      "retainLast" -> retainLast.toString,
      LakeTable.VacuumChangesRemovedParam -> removed.mkString(","))): Unit
    this
  }

  // ------------------------------------------------------------- cloning

  /** True iff this table is a SHALLOW CLONE still reading its source's
    * data files through the clone manifest (see [[cloneTo]]).
    */
  def isShallowClone: Boolean = fs.exists(cloneManifestPath)

  private def cloneDir = new Path(path, LakeTable.CloneDirName)
  private def cloneManifestPath = new Path(cloneDir, LakeTable.CloneManifestName)

  /** Absolute source-file paths a shallow clone references. */
  private def cloneManifestFiles: Seq[String] =
    if (!fs.exists(cloneManifestPath)) Seq.empty
    else {
      val in = fs.open(cloneManifestPath)
      val text =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
        finally in.close()
      text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    }

  /** Clone this table to `destPath` — Delta's `CREATE TABLE … CLONE`.
    *
    * SHALLOW (`shallow = true`): zero data copy. The clone records the
    * source's current data files in a manifest (`_graft_clone/`) plus
    * the source's schema and constraints; reads resolve the manifest,
    * so a 100 TB table clones in milliseconds — the dev/test-branch
    * idiom. The clone is PINNED to the files listed at clone time:
    * source appends/updates after the clone never leak in. Appends to
    * the clone stay zero-copy (local files read alongside the
    * manifest); any REWRITING operation (delete/update/merge/optimize/
    * compact) first runs [[materialize]] implicitly via the full-rewrite
    * path, detaching the clone. Delta's documented hazard applies
    * identically here: a REWRITE or VACUUM on the SOURCE deletes files
    * the clone still references — materialize the clone before
    * rewriting its source.
    *
    * DEEP (`shallow = false`): a full independent copy (data rewritten
    * through the normal write path, schema + constraints carried over)
    * — partition layout preserved.
    *
    * Either way the clone starts a FRESH history: one CLONE commit
    * recording the source path and version, like Delta.
    */
  /** Preconditions [[cloneTo]] enforces on THIS table as a clone
    * source. Exposed separately so SQL `CREATE OR REPLACE … CLONE` can
    * validate the source BEFORE destroying the replace target — a typo'd
    * source path must fail the statement with the destination intact.
    */
  private[graft] def validateCloneSource(shallow: Boolean): Unit = {
    require(exists, s"cannot clone $path: table does not exist")
    require(!VersionedLakeTable.isVersioned(spark, path),
      s"cloneTo targets plain lake tables; $path is a versioned snapshot " +
        "layout (read a snapshot and write it where you need it)")
    if (shallow) {
      require(partitionColumns().isEmpty,
        s"shallow clone supports flat-layout tables; $path is Hive-partitioned " +
          "(deep-clone it, or clone per partition)")
      require(!hasDeletionVectors,
        s"shallow clone of a table with live deletion vectors is not supported — " +
          "compact() the source first to bake the deletes into its files")
    }
  }

  def cloneTo(destPath: String, shallow: Boolean = true): LakeTable = {
    validateCloneSource(shallow)
    val destP = new Path(destPath)
    require(!fs.exists(destP) || fs.listStatus(destP).isEmpty,
      s"clone destination $destPath already exists and is not empty")
    val dest = new LakeTable(spark, destPath)
    val srcVersion = CommitLog.nextVersion(fs, logDir) - 1
    val params = Map(
      "source" -> path,
      "sourceVersion" -> srcVersion.toString,
      "shallow" -> shallow.toString)
    // generated/identity columns and the column mapping are table
    // metadata and ride every clone — an append to the clone must keep
    // computing/validating/allocating them. The identity high-water mark
    // is stamped on the CLONE commit so the clone's allocations continue
    // where the source's stopped instead of reusing ids from `start`.
    val gens = generatedColumns
    val cons = constraints
    val ids = identityColumns
    val idHwms = ids.map { case (n, (s, _)) =>
      (LakeTable.IdentityHwmParamPrefix + n) -> nextIdentityBase(n, s).toString
    }
    if (shallow) {
      // a clone OF a shallow clone references the ORIGINAL files — the
      // middle clone's manifest is flattened, never chained
      val files = cloneManifestFiles ++ listDataFiles().map(_._3)
      fs.mkdirs(destP)
      dest.saveSchema(storedSchema.getOrElse(read.schema))
      if (cons.nonEmpty) dest.saveConstraints(cons)
      if (gens.nonEmpty) dest.saveGenerated(gens)
      if (ids.nonEmpty) dest.saveIdentity(ids)
      // a shallow clone reads the source's PHYSICAL files — the mapping
      // must travel or renamed columns would read as null
      val (cmap, retired) = columnMapping
      if (cmap.nonEmpty || retired.nonEmpty) dest.saveColMap(cmap, retired)
      fs.mkdirs(dest.cloneDir)
      val out = fs.create(dest.cloneManifestPath, false)
      try out.write(files.mkString("\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
      dest.commit("CLONE", params ++ idHwms): Unit
    } else {
      // a deep clone's files are written fresh through the logical view,
      // so no column mapping travels (physical == logical again)
      val parts = partitionColumns()
      if (parts.nonEmpty) dest.writePartitioned(read, parts)
      else dest.write(read)
      if (cons.nonEmpty) dest.saveConstraints(cons)
      if (gens.nonEmpty) dest.saveGenerated(gens)
      if (ids.nonEmpty) dest.saveIdentity(ids)
      dest.commit("CLONE", params ++ idHwms): Unit
    }
    dest
  }

  /** Detach a shallow clone from its source: rewrite the clone's full
    * content (manifest-referenced source files plus any local appends,
    * deletion vectors applied) into its own directory through the
    * crash-safe staged-swap protocol, dropping the manifest with the
    * old directory. No-op on a non-clone. After this, source rewrites
    * and vacuums can no longer break the clone.
    */
  def materialize(): LakeTable = {
    if (!isShallowClone) return this
    val occBase = CommitLog.nextVersion(fs, logDir)
    stagedSwap(Some(read), "MATERIALIZE",
      Map("sourceFiles" -> cloneManifestFiles.size.toString), occBase)
  }

  /** Delta MERGE rejects multiple source rows per key; writing them would
    * silently break the table's key invariant.
    */
  private def requireUniqueKeys(df: DataFrame, keys: Seq[String], what: String): Unit = {
    val dup = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") > 1).limit(1).count()
    require(dup == 0, s"$what contains duplicate merge keys $keys")
  }

  /** The authoritative table schema when the table exists: the stored
    * (log-recorded) schema when present, else derived from the files.
    */
  def tableSchema: Option[StructType] =
    if (!exists) None else Some(storedSchema.getOrElse(read.schema))

  /** Metadata-only ADD COLUMNS (Delta's `ALTER TABLE … ADD COLUMNS`):
    * appends nullable columns to the authoritative stored schema and
    * commits — NO data rewrite. Existing files simply lack the columns
    * and read as null (the same mechanism schema-merge appends use);
    * later writes may populate them. Columns are forced nullable:
    * a non-null column with no values in existing files is a
    * contradiction.
    */
  def addColumns(cols: StructType): LakeTable = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    val cur = storedSchema.getOrElse(read.schema)
    def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val clash = cols.fieldNames.filter(n => cur.fieldNames.exists(e => key(e) == key(n)))
    require(clash.isEmpty, s"columns already exist: ${clash.mkString(", ")}")
    saveSchema(StructType(cur.fields ++ cols.fields.map(_.copy(nullable = true))))
    mapNewColumns(cols.fieldNames.toSeq)
    commit("ADD COLUMNS", Map("columns" ->
      cols.fields.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ")))
    this
  }

  /** Delta-style CHECK constraint: `expr` (a boolean SQL expression over
    * the table's columns) must hold for every row. Adding a constraint
    * validates the EXISTING data first, like `ALTER TABLE ADD
    * CONSTRAINT`; every subsequent write/append/merge/optimize is then
    * gated on it ([[enforceConstraints]]) — all constraints check in ONE
    * aggregate pass, and rewrites validate the staged files directly so
    * nothing is recomputed.
    */
  def addConstraint(name: String, expr: String): LakeTable = {
    require(name.nonEmpty && !constraints.contains(name),
      s"constraint '$name' already exists")
    // DDL-vs-writer race closure, the DDL half: validation reads the
    // table at one version, but a concurrent writer can land rows the
    // validation never saw before the constraint file publishes — the
    // published constraint would then LIE about the data. Movement is
    // detected on BOTH channels a writer becomes irreversible through:
    // the commit log (committed data) and MARKED stages (data past its
    // writer's point of no return, commit still pending) — re-validate
    // whenever either moved during validation (bounded retries). The
    // symmetric closure is on the writer (lateConstraintGate at its
    // mark); the crossing of the two ε-windows — a writer whose final
    // constraints read AND mark both land inside our scan→save gap — is
    // caught by the POST-SAVE audit below: the mark is visible by then,
    // so roll the constraint back and retry over the landed rows. The
    // DDL side can always retract; a writer past its mark cannot.
    // An OVERWRITE is a staged rewrite like MERGE: its swap manifest is
    // a marked stage, and this DDL's commit refuses its swap (OCC).
    var attempts = 0
    while (true) {
      // marked APPEND stages existing NOW hold rows `read` cannot see
      // but that WILL land — complete them first so validation covers
      // them (recovery is idempotent; a live writer racing it tolerates
      // the twin completion by design)
      recoverAppendStages(): Unit
      val base = CommitLog.nextVersion(fs, logDir)
      val stages0 = markedStageIds()
      // a marked SWAP stage cannot be absorbed inline (mid-swap reads
      // are torn) — wait for its writer to finish, then validate
      if (stages0.isEmpty) {
        enforceConstraints(read, Map(name -> expr))
        onConstraintValidatedForTest()
        if (CommitLog.nextVersion(fs, logDir) == base && markedStageIds().isEmpty) {
          saveConstraints(constraints + (name -> expr))
          if (CommitLog.nextVersion(fs, logDir) == base && markedStageIds().isEmpty) {
            commit("ADD CONSTRAINT", Map("name" -> name, "expr" -> expr))
            return this
          }
          // post-save audit tripped: retract, absorb the in-flight data,
          // re-validate from scratch (writers that already validated
          // against the retracted constraint merely over-enforced)
          saveConstraints(constraints - name)
        }
      }
      attempts += 1
      require(attempts < 8,
        s"addConstraint $name at $path: the table kept moving during " +
          "validation (8 attempts) — quiesce writers or retry")
      Thread.sleep(25L * attempts)
    }
    this
  }

  /** Identities of every MARKED stage of this table — append stages,
    * dynamic-overwrite part-stages, and the staged-rewrite slot, counted
    * only once their manifest (the point-of-no-return marker) exists.
    * A marked stage is data that WILL reach the table (recovery
    * completes it even if its writer died), so the constraint DDL must
    * treat it as movement exactly like a committed version.
    */
  private def markedStageIds(): Set[String] = {
    val out = Set.newBuilder[String]
    val parent = new Path(path).getParent
    val prefix = new Path(path).getName + LakeTable.PartStageSuffix
    if (parent != null && fs.exists(parent))
      fs.listStatus(parent).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith(prefix) &&
          (fs.exists(new Path(st.getPath, LakeTable.AppendManifestName)) ||
            fs.exists(new Path(st.getPath, LakeTable.SwapManifestName))))
          out += n
      }
    val staged = new Path(s"$path${LakeTable.StageSuffix}")
    if (fs.exists(new Path(staged, LakeTable.SwapManifestName)))
      out += staged.getName
    out.result()
  }

  /** Test seam (ConstraintRaceSpec): runs between addConstraint's
    * validation pass and its movement re-check, so a spec can land a
    * violating append deterministically inside the race window.
    */
  private[sources] var onConstraintValidatedForTest: () => Unit = () => ()

  /** Delta 4.0 `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — METADATA-
    * ONLY numeric type widening: the stored schema's column moves up the
    * lossless lattice ([[LakeTable.widens]] — int→long, float→double,
    * decimal growth, …), NO data file is rewritten (existing files read
    * through the parquet reader's native type promotion, exactly like a
    * mergeSchema append that arrived wider), and narrowing or lossy
    * changes are rejected naming the contract. The explicit-DDL face of
    * the implicit widening the write paths do.
    */
  def alterColumnType(name: String, newType: DataType): LakeTable = {
    val schema = storedSchema.getOrElse(throw new IllegalStateException(
      s"no stored schema at $path — write the table before altering types"))
    val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"alterColumnType: no column '$name' at $path"))
    if (field.dataType == newType) return this
    require(LakeTable.widens(field.dataType, newType),
      s"alterColumnType $name: ${field.dataType.simpleString} -> " +
        s"${newType.simpleString} is not a lossless widening (allowed: " +
        "byte->short->int->long, float->double, int->double, decimal " +
        "precision growth, integral->decimal) — narrowing or lossy " +
        "changes need a full rewrite the caller must do explicitly")
    saveSchema(StructType(schema.fields.map(f =>
      if (f.name.equalsIgnoreCase(name)) f.copy(dataType = newType) else f)))
    commit("ALTER COLUMN TYPE", Map("column" -> name,
      "from" -> field.dataType.simpleString, "to" -> newType.simpleString)): Unit
    this
  }

  def dropConstraint(name: String): LakeTable = {
    require(constraints.contains(name), s"no constraint '$name'")
    saveConstraints(constraints - name)
    commit("DROP CONSTRAINT", Map("name" -> name))
    this
  }

  /** Expectations-style append (the DLT `expect_or_drop` idiom, vs the
    * hard write-path gate): rows violating ANY of the table's CHECK
    * constraints are diverted to the table's quarantine SIBLING
    * (`<path>__quarantine`, a lake table of its own) — original columns
    * plus a `_violated` list of the constraint names each row failed —
    * and only the clean remainder lands (through the normal gated
    * write, so a racing addConstraint still can't be bypassed). Returns
    * the per-constraint violation report; a row violating two
    * constraints counts in both.
    *
    * The quarantine lives OUTSIDE the table directory, like the staging
    * dir: every staged swap (MERGE, DELETE, OPTIMIZE, replaceWhere, full
    * rewrite) replaces the table dir wholesale and carries through only
    * manifest-listed entries, so an audit trail stored inside the table
    * would be silently erased by the first subsequent DML. A sibling
    * survives all of it (DROP TABLE keeps data files by design, so it
    * keeps the audit trail too). The batch is materialized once and all
    * constraints flag in a single projection — the split cannot diverge
    * between the clean and quarantine passes, and violation counting
    * shares that same pass.
    */
  def appendExpecting(
      df: DataFrame,
      extraParams: Map[String, String] = Map.empty): DataFrame = {
    val cons = constraints.toSeq.sortBy(_._1)
    require(cons.nonEmpty,
      s"appendExpecting at $path needs at least one CHECK constraint")
    // flag columns keyed by SORTED INDEX, not constraint name — a name
    // holding a dot (legal in addConstraint) would otherwise parse as a
    // struct access when the flag is read back
    def flag(i: Int) = s"__viol_$i"
    val idx = cons.indices
    // lazy cuts: report.head() below is the materializing full scan
    val pinned = df.localCheckpoint(false)
    val flagged = pinned.select(
      pinned.columns.map(col).toSeq ++ idx.map { i =>
        (!coalesce(expr(cons(i)._2), lit(false))).as(flag(i))
      }: _*).localCheckpoint(false)
    val anyViol = idx.map(i => col(flag(i))).reduce(_ || _)
    val report = flagged.agg(
      sum(when(anyViol, 1L).otherwise(0L)).as("__n_bad"),
      idx.map { i =>
        sum(when(col(flag(i)), 1L).otherwise(0L)).as(flag(i))
      }: _*)
    val counts = report.head()
    // quarantine BEFORE the tagged clean commit: streaming callers key
    // replay-skip on the clean commit's (appId, batchId) tag, so a crash
    // between the two writes must leave the tag UNcommitted — the replay
    // then re-runs the whole batch and re-quarantines (at-least-once on
    // the audit trail), instead of skipping it and losing the violations
    // forever (at-most-once, the opposite contract).
    // sum over an empty batch is NULL; getAs unboxes it to the right 0
    if (counts.getAs[Long]("__n_bad") > 0L) {
      val quarantined = flagged.where(anyViol)
        .withColumn("_violated", concat_ws(",",
          idx.map { i => when(col(flag(i)), lit(cons(i)._1)) }: _*))
        .drop(idx.map(flag): _*)
      quarantine.write(quarantined, SaveMode.Append)
    }
    write(flagged.where(!anyViol).drop(idx.map(flag): _*),
      SaveMode.Append, extraParams = extraParams)
    import spark.implicits._
    idx.map { i => (cons(i)._1, counts.getAs[Long](flag(i))) }
      .toDF("constraint_name", "n_quarantined")
  }

  /** The quarantine sibling [[appendExpecting]] diverts violating rows
    * to — a normal lake table (read it, time-travel its commits, vacuum
    * it) rooted at `<path>__quarantine`, deliberately outside the table
    * dir so staged swaps never destroy the audit trail.
    */
  def quarantine: LakeTable =
    LakeTable(spark, s"$path${LakeTable.QuarantineSuffix}")

  /** Current constraints (name -> boolean SQL expression). Stored as
    * URL-encoded `name\texpr` lines — parsed driver-side in microseconds
    * (a JSON-reader Spark job for a one-line file was measured on every
    * gated write before this). Re-read per call, NOT cached: two live
    * instances of the same path must see each other's addConstraint, or
    * one of them writes unenforced — the file is a few bytes, and the FS
    * open is noise next to the write it gates. Lines without a tab are
    * rejected loudly instead of pattern-match-crashing.
    */
  def constraints: Map[String, String] =
    readPairs(constraintsFile, "constraints", "re-add constraints via addConstraint")

  private[sources] def saveConstraints(cons: Map[String, String]): Unit =
    savePairs(constraintsFile, cons)

  /** A side file of `name\tvalue` rows ([[LakeIo.readRows]]). */
  private def readPairs(file: Path, what: String, remedy: String = ""): Map[String, String] =
    LakeIo.readRows(fs, file, what, remedy) { case Seq(k, v) => k -> v }.toMap

  private def savePairs(file: Path, pairs: Map[String, String]): Unit =
    LakeIo.writeRows(fs, file, pairs.toSeq.sortBy(_._1).map { case (k, v) => Seq(k, v) })

  /** Table properties (`SET TBLPROPERTIES` analogue): free-form
    * name -> value pairs stored constraints-style (URL-encoded
    * `name\tvalue` lines under the log dir) — re-read per use, never
    * cached, so two live instances of one path see each other's
    * changes. Behavior-bearing properties so far:
    * [[LakeTable.SymlinkAutoProperty]].
    */
  def tableProperties: Map[String, String] =
    readPairs(propertiesFile, "properties", "re-set properties via setTableProperty")

  /** Set (or overwrite) a table property. Enabling
    * [[LakeTable.SymlinkAutoProperty]] validates the table is
    * manifest-capable FIRST (same refusals as
    * [[generateSymlinkManifest]]) and generates the initial manifest via
    * the property's own commit — external readers are live from the
    * moment the enable lands.
    */
  def setTableProperty(name: String, value: String): LakeTable =
    setTableProperties(Seq(name -> value))

  /** Multi-property SET as ONE atomic statement: every pair validates
    * first, then a single save + a single commit — a failing pair leaves
    * nothing half-applied (the SQL spelling routes here).
    */
  def setTableProperties(kvs: Seq[(String, String)]): LakeTable = {
    require(kvs.nonEmpty, "SET TBLPROPERTIES needs at least one pair")
    kvs.foreach { case (name, value) =>
      require(name.nonEmpty, "property name must be non-empty")
      if (name == LakeTable.SymlinkAutoProperty && value.trim.equalsIgnoreCase("true")) {
        // versioned layouts are manifest-capable (head-snapshot view);
        // clones and DV tables still are not
        require(!isShallowClone && !hasDeletionVectors,
          s"cannot enable ${LakeTable.SymlinkAutoProperty}: the table is " +
            "a shallow clone or carries deletion vectors — neither of " +
            "which a symlink manifest can express")
      }
    }
    saveProperties(tableProperties ++ kvs)
    commit("SET TBLPROPERTIES", Map(
      "properties" -> kvs.map { case (k, v) => s"$k=$v" }.mkString(", ")))
    this
  }

  def unsetTableProperty(name: String): LakeTable =
    unsetTableProperties(Seq(name))

  def unsetTableProperties(names: Seq[String]): LakeTable = {
    val cur = tableProperties
    val missing = names.filterNot(cur.contains)
    require(missing.isEmpty, s"no propert${
      if (missing.sizeIs > 1) "ies" else "y"} '${missing.mkString("', '")}'")
    saveProperties(cur -- names)
    commit("UNSET TBLPROPERTIES", Map("properties" -> names.mkString(", ")))
    this
  }

  private val propertiesFile = new Path(logDir, LakeTable.PropertiesFileName)

  // atomic publication (LakeIo): commit() reads this file on EVERY
  // commit (symlinkAutoEnabled), so a torn write would brick the whole
  // write path, not just the property feature — a concurrent reader
  // sees the old properties or the new ones, never none
  private[sources] def saveProperties(props: Map[String, String]): Unit =
    savePairs(propertiesFile, props)

  /** Gate an incoming batch on the table's constraints. The batch is
    * materialized first: checking the raw plan would run the caller's
    * whole upstream pipeline twice (once for the check, once for the
    * write), and a non-deterministic input could even pass the check yet
    * write violating rows on the second evaluation.
    */
  private def constrainedBatch(
      aligned: DataFrame,
      extraChecks: Map[String, String] = Map.empty): (DataFrame, Map[String, String]) = {
    val cons = constraints ++ extraChecks
    if (cons.isEmpty) (aligned, cons)
    else {
      // lazy: enforceConstraints' full-scan aggregate materializes the
      // cut in the same job (the batch is still pinned exactly once,
      // before anything writes)
      val pinned = aligned.localCheckpoint(false)
      enforceConstraints(pinned, cons)
      (pinned, cons)
    }
  }

  /** The write-side half of the ADD CONSTRAINT race closure: a
    * constraint published AFTER this operation validated its batch but
    * BEFORE its point of no return would otherwise admit rows nobody
    * ever checked (the DDL validated the pre-write table, the writer
    * validated against the pre-DDL constraint set — Delta surfaces the
    * same interleave as a MetadataChangedException on the writer).
    * Re-read the constraint file and validate against any LATE-ARRIVING
    * checks, looping until a re-read shows nothing new arrived DURING
    * the validation itself — the caller then reaches its point of no
    * return one fs round-trip after the final clean read. One cheap
    * metadata read per write on the no-race path; the extra data pass
    * runs only when a DDL actually raced. Throws the ordinary violation
    * error, which aborts BEFORE the point of no return.
    *
    * Placement contract: the staged-append and dynamic-overwrite paths
    * run this IMMEDIATELY BEFORE their manifest mark via
    * [[lateConstraintGate]] (validating the staged files — exactly what
    * will promote, no upstream recompute), not before their staging job
    * — a cluster-scale staging job is minutes of window; the final
    * read→mark gap is microseconds. The residual (a save landing inside
    * that gap) is detected from the DDL side: [[addConstraint]]'s
    * post-save audit sees the mark, rolls the constraint back, and
    * re-validates over the landed rows. The full staged rewrite (every
    * non-append [[write]], MERGE, maintenance fallbacks) needs no loop:
    * it reads the constraint set after its staging job and validates the
    * staged files, and a DDL committing after that read refuses its swap
    * through the OCC check. [[replaceWhere]] runs this batch form before
    * its staged rewrite re-validates.
    */
  private def lateConstraintCheck(
      batch: DataFrame, validated: Map[String, String]): Set[String] =
    lateConstraintLoop(validated)(late => enforceConstraints(batch, late))

  /** [[lateConstraintCheck]] over a STAGED directory (pre-promotion):
    * validates the staged files themselves through the logical-name
    * mapping, so nothing upstream of the staging job re-executes.
    * Returns the full set of constraint names validated against this
    * batch (for [[postMarkConstraintCheck]]).
    */
  private def lateConstraintGate(
      staged: Path, validated: Map[String, String]): Set[String] =
    lateConstraintLoop(validated)(late =>
      enforceConstraints(stagedLogical(staged.toString), late))

  private def lateConstraintLoop(
      validated: Map[String, String])(check: Map[String, String] => Unit): Set[String] = {
    onBatchValidatedForTest()
    var seen = validated.keySet
    var late = constraints.filter(kv => !seen.contains(kv._1))
    while (late.nonEmpty) {
      check(late)
      seen = seen ++ late.keys
      // re-read: a DDL landing DURING the validation pass must be seen
      // before the caller's mark, or its checks never ran on this batch
      late = constraints.filter(kv => !seen.contains(kv._1))
    }
    seen
  }

  /** Post-mark detection — the writer's closure of the ε-crossing the
    * pre-mark gate cannot cover: a constraint SAVED between the gate's
    * final clean read and the mark is, by publish atomicity, visible to
    * any read AFTER the mark, so this one extra read catches it with
    * certainty. Past the point of no return a violation cannot abort;
    * the caller throws the returned message AFTER its commit — the
    * table stays consistent (data landed, attributed exactly once) and
    * the operator hears about the unvalidated admission loudly instead
    * of never. Usually moot: the DDL's own post-save audit sees the
    * mark first and retracts the constraint, in which case this read
    * finds nothing late. The callers are the mark-then-promote paths
    * (staged append, dynamic partition overwrite). Full staged-SWAP
    * paths, overwrite included, need no analogue — their post-swap audit
    * refuses to commit over ANY interloping commit, and ADD CONSTRAINT
    * commits, so the crossing fails loudly there already.
    */
  private def postMarkConstraintCheck(
      staged: Path, seen: Set[String],
      promotedFallback: Seq[Path]): Option[String] = {
    val late = constraints.filter(kv => !seen.contains(kv._1))
    if (late.isEmpty) None
    else {
      def violation(df: DataFrame): Option[String] =
        try { enforceConstraints(df, late); None }
        catch { case e: IllegalArgumentException => Some(e.getMessage) }
      try violation(stagedLogical(staged.toString))
      catch {
        case scala.util.control.NonFatal(_) if promotedFallback.nonEmpty =>
          // the staged dir can vanish mid-check: an AGELESS recovery
          // twin (a peer's recoverAppendStages, vacuumDebris) completes
          // a marked stage — promotes its files into the table and
          // deletes it. The batch's rows then live at the promoted
          // names; validate those instead of failing a write whose data
          // already landed. Files a concurrent compaction has since
          // consumed are skipped — that rewrite re-validated the table.
          val present = promotedFallback.filter(fs.exists)
          if (present.isEmpty) None
          else violation(logicalView(
            spark.read.option("basePath", path)
              .parquet(present.map(_.toString): _*)))
      }
    }
  }

  /** Raise the deferred [[postMarkConstraintCheck]] violation — called by
    * append-family writers AFTER their commit.
    */
  private def raisePoisoned(op: String, poisoned: Option[String]): Unit =
    poisoned.foreach(msg => throw new IllegalStateException(
      s"$op at $path COMMITTED (exactly once, data consistent), but a CHECK " +
        "constraint published concurrently inside the mark window is violated " +
        s"by the batch: $msg. The constraint admitted rows it never validated " +
        "— drop it or delete this batch. (addConstraint's post-save audit " +
        "normally retracts such a constraint itself; re-check constraints.)"))

  /** Test seam (ConstraintRaceSpec): runs after a write validated its
    * batch and before the late-constraint re-read, so a spec can publish
    * a constraint deterministically inside the writer's race window.
    */
  private[sources] var onBatchValidatedForTest: () => Unit = () => ()

  // --------------------------------------------------- generated columns

  private def generatedFile = new Path(logDir, LakeTable.GeneratedFileName)

  /** Generated columns (Delta `GENERATED ALWAYS AS`): name → SQL
    * expression over the table's other columns. On the ingest surface
    * (write/writePartitioned/overwritePartitions/copyInto) an ABSENT
    * generated column is computed; a PROVIDED one is validated against
    * its expression in the same fused pass as the CHECK constraints
    * (Delta's contract — a writer may not smuggle in a divergent
    * value). UPDATE and MERGE refuse direct SET on a generated column
    * and RECOMPUTE every generated column after applying their clauses,
    * so dependency changes propagate (Delta recomputes the same way).
    */
  def generatedColumns: Map[String, String] =
    readPairs(generatedFile, "generated-columns")

  private[sources] def saveGenerated(gens: Map[String, String]): Unit =
    saveGeneratedAt(logDir, gens)

  private def saveGeneratedAt(dir: Path, gens: Map[String, String]): Unit =
    savePairs(new Path(dir, LakeTable.GeneratedFileName), gens)

  /** Declare `name` as GENERATED ALWAYS AS (`exprSql`) of type
    * `dataType`. Unlike Delta (create-time only), an existing table may
    * add one: rows already present are BACKFILLED through one staged
    * rewrite; an empty table just evolves its schema. The expression
    * must reference only existing non-generated columns (no chains) and
    * should be deterministic — it is re-evaluated on recomputation.
    */
  def addGeneratedColumn(
      name: String, dataType: DataType, exprSql: String): LakeTable = {
    require(!VersionedLakeTable.isVersioned(spark, path),
      s"generated columns target plain lake tables; $path is a versioned layout")
    val schema = storedSchema.getOrElse(throw new IllegalArgumentException(
      s"no schema at $path yet — write the table first, then declare " +
        "generated columns"))
    def k(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column $name already exists at $path")
    val gens = generatedColumns
    require(!gens.keys.exists(_.equalsIgnoreCase(name)),
      s"generated column $name already declared at $path")
    // analyze against the table to fail fast on unknown references;
    // reject references to OTHER generated columns (no chains — the
    // recomputation pass is single-level by design)
    val parsed = spark.sessionState.sqlParser.parseExpression(exprSql)
    val refs = parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
    }
    val genKeys = gens.keys.map(k).toSet
    val chained = refs.filter(r => genKeys.contains(k(r)))
    require(chained.isEmpty,
      s"generated column $name may not reference generated columns: " +
        chained.mkString(", "))
    // OCC base BEFORE the snapshot read below: the reference-check job
    // and the backfill's own staging take real time, and an append
    // landing inside either would silently miss the backfill (its rows
    // would read the "ALWAYS generated" column as null). The version-
    // gated rewrite refuses instead — the DDL-vs-writer contract
    // ConstraintRaceSpec pins for constraints, applied to backfills.
    val occBase = CommitLog.nextVersion(fs, logDir)
    read.limit(0).select(expr(exprSql)).collect(): Unit // reference check
    val computed = expr(exprSql).cast(dataType).as(name)
    if (listDataFiles().nonEmpty || isShallowClone) {
      // BACKFILL existing rows; the rewrite persists the widened schema.
      // The DECLARATION rides the staged log (the reorgPurge pattern):
      // it becomes visible atomically with the backfilled data, so no
      // writer can ever observe the column in the schema without the
      // declaration (it would silently null-fill instead of computing),
      // and a crash on either side of the swap stays consistent.
      stagedSwap(Some(read.withColumn(name, computed)), "ADD GENERATED COLUMN",
        Map("column" -> name, "expr" -> exprSql), occBase,
        onStagedLog = Some((log: Path) => saveGeneratedAt(log, gens + (name -> exprSql)))): Unit
    } else {
      saveSchema(StructType(schema.fields :+
        StructField(name, dataType, nullable = true)))
      commit("ADD GENERATED COLUMN",
        Map("column" -> name, "expr" -> exprSql)): Unit
      saveGenerated(gens + (name -> exprSql))
    }
    this
  }

  /** Generated-column context for ONE operation: declarations + target
    * types, fetched with a single metadata read and threaded through —
    * an UPDATE touches the recompute path three times and must not pay
    * three filesystem reads for it.
    */
  private[sources] final case class GenCols(
      exprs: Seq[(String, String)], types: Map[String, DataType]) {
    def isEmpty: Boolean = exprs.isEmpty
    def typeOf(path: String, n: String): DataType =
      types.getOrElse(n.toLowerCase(java.util.Locale.ROOT),
        throw new IllegalStateException(
          s"generated column $n missing from the stored schema at $path"))
  }

  private def genCols: GenCols = {
    val g = generatedColumns.toSeq.sortBy(_._1)
    if (g.isEmpty) GenCols(Nil, Map.empty)
    else GenCols(g, storedSchema.map(_.fields.map(f =>
      f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap)
      .getOrElse(Map.empty))
  }

  /** Compute ABSENT generated columns on an incoming batch; PROVIDED
    * ones become equality checks fused into the constraint pass.
    */
  private def applyGenerated(df: DataFrame): (DataFrame, Map[String, String]) = {
    val gc = genCols
    if (gc.isEmpty) return (df, Map.empty)
    var out = df
    val checks = Map.newBuilder[String, String]
    gc.exprs.foreach { case (n, ex) =>
      val t = gc.typeOf(path, n)
      if (df.columns.exists(_.equalsIgnoreCase(n)))
        checks += s"generated_$n" -> s"`$n` <=> CAST(($ex) AS ${t.sql})"
      else out = out.withColumn(n, expr(ex).cast(t))
    }
    (out, checks.result())
  }

  /** Re-evaluate every generated column over `df` (table-schema-aligned
    * frames only) — the post-UPDATE/MERGE recomputation pass.
    */
  private def recomputeGenerated(df: DataFrame, gc: GenCols): DataFrame =
    gc.exprs.foldLeft(df) { case (d, (n, ex)) =>
      d.withColumn(n, expr(ex).cast(gc.typeOf(path, n)))
    }

  private def requireNotGenerated(
      cols: Iterable[String], ctx: String, gc: GenCols): Unit = {
    val hit = cols.filter(c => gc.exprs.exists(_._1.equalsIgnoreCase(c)))
    require(hit.isEmpty,
      s"$ctx may not assign generated column(s) ${hit.mkString(", ")} — " +
        "they recompute from their expressions")
  }

  // ---------------- identity columns (Delta GENERATED ALWAYS AS IDENTITY) --

  private def identityFile = new Path(logDir, LakeTable.IdentityFileName)

  /** Identity-column declarations: name -> (start, step). Values are
    * engine-assigned BIGINTs, unique and increasing by multiples of
    * `step` from `start`, with GAPS permitted (Delta's documented
    * contract — consecutive values are explicitly not promised). Callers
    * may never supply or SET one; ingest writes assign fresh values,
    * MERGE/upsert assign them to inserted rows and preserve them on
    * matched rows, UPDATE rejects SET on them.
    */
  def identityColumns: Map[String, (Long, Long)] =
    LakeIo.readRows(fs, identityFile, "identity-columns") {
      case Seq(k, s, st) => k -> (s.toLong, st.toLong)
    }.toMap

  private[sources] def saveIdentity(specs: Map[String, (Long, Long)]): Unit =
    saveIdentityAt(logDir, specs)

  private def saveIdentityAt(dir: Path, specs: Map[String, (Long, Long)]): Unit =
    LakeIo.writeRows(fs, new Path(dir, LakeTable.IdentityFileName),
      specs.toSeq.sortBy(_._1).map { case (k, (s, st)) => Seq(k, s.toString, st.toString) })

  /** Identity context for ONE operation (same single-metadata-read
    * discipline as [[GenCols]]).
    */
  private[sources] final case class IdCols(specs: Seq[(String, Long, Long)]) {
    def isEmpty: Boolean = specs.isEmpty
    def names: Seq[String] = specs.map(_._1)
  }

  private def idCols: IdCols =
    IdCols(identityColumns.toSeq.sortBy(_._1).map { case (n, (s, st)) => (n, s, st) })

  /** Next free value for an identity column: the max committed high-water
    * mark, or the declared start before any allocation. One
    * checkpointed-log read; crash-safe because the mark rides in the
    * allocating operation's own commit record.
    */
  private def nextIdentityBase(name: String, start: Long): Long = {
    val hwm = maxCommitParamLong(LakeTable.IdentityHwmParamPrefix + name)
    if (hwm < 0) start else math.max(hwm, start)
  }

  /** Declare `name` as GENERATED ALWAYS AS IDENTITY (START WITH `start`
    * INCREMENT BY `step`). Like [[addGeneratedColumn]] (and unlike
    * Delta's create-time-only identity), an existing table may add one:
    * current rows BACKFILL dense values from `start` through one staged
    * rewrite. `start >= 0` and `step >= 1` keep the committed high-water
    * mark monotone under the max-over-commits read.
    */
  def addIdentityColumn(
      name: String, start: Long = 1L, step: Long = 1L): LakeTable = {
    require(!VersionedLakeTable.isVersioned(spark, path),
      s"identity columns target plain lake tables; $path is a versioned layout")
    require(start >= 0 && step >= 1,
      "identity requires start >= 0 and step >= 1 (the high-water mark is " +
        "read as a max over commit records)")
    val schema = storedSchema.getOrElse(throw new IllegalArgumentException(
      s"no schema at $path yet — write the table first, then declare " +
        "identity columns"))
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column $name already exists at $path")
    val specs = identityColumns
    require(!specs.keys.exists(_.equalsIgnoreCase(name)),
      s"identity column $name already declared at $path")
    require(!generatedColumns.keys.exists(_.equalsIgnoreCase(name)),
      s"$name is already a generated column at $path")
    val longT = org.apache.spark.sql.types.LongType
    if (listDataFiles().nonEmpty || isShallowClone) {
      // same DDL-vs-writer discipline as addGeneratedColumn: OCC base
      // captured before the snapshot read (an append landing during the
      // backfill would keep NULL identity forever), and the declaration
      // rides the staged log so column-in-schema and identity-spec flip
      // atomically with the backfilled values
      val occBase = CommitLog.nextVersion(fs, logDir)
      val withNull = read.withColumn(name, lit(null).cast(longT))
      val (backfilled, counts) =
        assignIdentityRows(withNull, Seq((name, start, step)), Map(name -> start))
      stagedSwap(Some(backfilled), "ADD IDENTITY COLUMN",
        Map("column" -> name, "start" -> start.toString, "step" -> step.toString,
          LakeTable.IdentityHwmParamPrefix + name ->
            (start + step * counts(name)).toString), occBase,
        onStagedLog = Some((log: Path) => saveIdentityAt(log, specs + (name -> (start, step))))): Unit
    } else {
      saveSchema(StructType(schema.fields :+
        StructField(name, longT, nullable = true)))
      commit("ADD IDENTITY COLUMN",
        Map("column" -> name, "start" -> start.toString,
          "step" -> step.toString)): Unit
      saveIdentity(specs + (name -> (start, step)))
    }
    this
  }

  /** Fill NULL identity slots with DENSE consecutive values
    * `base, base+step, …` per column (rows carrying values keep them).
    * The zipWithIndex shape, but counting only the rows that NEED a
    * value: one count-per-partition job over null slots, a driver-side
    * running-offset scan (one tiny array per partition), then a
    * deterministic per-partition assignment pass — fully distributed, no
    * global sort, no driver state beyond the offsets. Returns the
    * assigned frame plus the per-column assigned counts (the caller's
    * high-water-mark advance), so no separate `count()` job is needed.
    * This is the one RDD round-trip in the engine; it lives at a write
    * boundary where the frame is materialized anyway. Callers that feed
    * the result to more than one downstream job must checkpoint it when
    * the input plan is not order-deterministic (joins).
    */
  private def assignIdentityRows(
      df: DataFrame,
      specs: Seq[(String, Long, Long)],
      bases: Map[String, Long]): (DataFrame, Map[String, Long]) = {
    if (specs.isEmpty) return (df, Map.empty)
    val schema = df.schema
    val slots = specs.map { case (n, _, step) =>
      (schema.fieldIndex(schema.fieldNames.find(_.equalsIgnoreCase(n)).getOrElse(n)),
        bases(n), step)
    }.toArray
    val rdd = df.rdd
    val perPartition: Array[Array[Long]] = rdd
      .mapPartitionsWithIndex { (pi, it) =>
        val c = new Array[Long](slots.length)
        it.foreach { r =>
          var si = 0
          while (si < slots.length) {
            if (r.isNullAt(slots(si)._1)) c(si) += 1
            si += 1
          }
        }
        Iterator((pi, c))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = perPartition.scanLeft(new Array[Long](slots.length)) {
      (acc, c) => acc.zip(c).map { case (a, b) => a + b }
    } // offsets(pi)(si) = nulls before partition pi for column si
    val assigned = rdd.mapPartitionsWithIndex { (pi, it) =>
      val k = offsets(pi).clone()
      it.map { r =>
        var needs = false
        var si = 0
        while (si < slots.length && !needs) {
          needs = r.isNullAt(slots(si)._1); si += 1
        }
        if (!needs) r
        else {
          val vals = r.toSeq.toArray
          slots.zipWithIndex.foreach { case ((fi, base, step), i) =>
            if (r.isNullAt(fi)) { vals(fi) = base + step * k(i); k(i) += 1 }
          }
          org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq)
        }
      }
    }
    val totals = specs.indices.map(si =>
      specs(si)._1 -> perPartition.map(_(si)).sum).toMap
    (df.sparkSession.createDataFrame(assigned, schema), totals)
  }

  private def requireNotIdentityAssigned(
      cols: Iterable[String], ctx: String, ic: IdCols): Unit = {
    val hit = cols.filter(c => ic.names.exists(_.equalsIgnoreCase(c)))
    require(hit.isEmpty,
      s"$ctx may not assign identity column(s) ${hit.mkString(", ")} — " +
        "they are GENERATED ALWAYS (engine-assigned)")
  }

  /** GENERATED ALWAYS enforcement: a caller-supplied frame may never
    * carry an identity column (matching Delta, which rejects explicit
    * inserts into GENERATED ALWAYS AS IDENTITY).
    */
  private def requireNoIdentityProvided(
      df: DataFrame, ctx: String, ic: IdCols): Unit = {
    val hit = df.columns.filter(c => ic.names.exists(_.equalsIgnoreCase(c)))
    require(hit.isEmpty,
      s"$ctx may not supply identity column(s) ${hit.mkString(", ")} — " +
        "they are GENERATED ALWAYS (engine-assigned)")
  }

  /** Add absent identity columns as typed nulls so schema alignment and
    * INSERT-* projections resolve; assignment happens downstream.
    */
  private def withNullIdentity(df: DataFrame, ic: IdCols): DataFrame =
    ic.names.foldLeft(df)((d, n) =>
      if (d.columns.exists(_.equalsIgnoreCase(n))) d
      else d.withColumn(n, lit(null).cast(org.apache.spark.sql.types.LongType)))

  /** Ingest-side assignment: fresh values for every row of the aligned
    * batch. Returns the assigned frame plus the high-water-mark commit
    * params (base + step * batchRows per column). The extra `count()` is
    * one scan of the INCOMING BATCH, not the table.
    */
  private def applyIdentityIngest(
      aligned: DataFrame, ic: IdCols): (DataFrame, Map[String, String]) = {
    if (ic.isEmpty) return (aligned, Map.empty)
    val bases = ic.specs.map { case (nm, st, _) => nm -> nextIdentityBase(nm, st) }.toMap
    val (out, counts) = assignIdentityRows(aligned, ic.specs, bases)
    (out, ic.specs.map { case (nm, _, step) =>
      (LakeTable.IdentityHwmParamPrefix + nm) ->
        (bases(nm) + step * counts(nm)).toString
    }.toMap)
  }

  // ------------- column mapping (Delta name-mode: metadata-only DDL) -------

  private def colMapFile = new Path(logDir, LakeTable.ColMapFileName)

  /** Logical -> physical column-name mapping plus the set of RETIRED
    * physical names (physical names of dropped/renamed-away columns,
    * still present in old data files).
    *
    * The mapping is what makes [[renameColumn]] and [[dropColumn]]
    * METADATA-ONLY at any table size — the 100 TB difference between an
    * instant log write and a full-table rewrite. Data files keep their
    * original (physical) column names forever; the stored schema speaks
    * logical names; reads bridge with one projection; writes bridge in
    * reverse. Retired names exist to close the REUSE hazard: a new
    * column whose logical name matches a retired physical name would
    * otherwise bind to the dropped column's bytes in old files, so such
    * adds get a fresh unique physical name instead (Delta solves the
    * same hazard with column ids).
    */
  def columnMapping: (Map[String, String], Set[String]) = {
    val (mapped, retired) = LakeIo.readRows(fs, colMapFile, "column-mapping") {
      case Seq("m", l, p) => Left(l -> p)
      case Seq("r", p)    => Right(p)
    }.partitionMap(identity)
    (mapped.toMap, retired.toSet)
  }

  private[sources] def saveColMap(mapping: Map[String, String], retired: Set[String]): Unit =
    // trivial (logical == physical) entries carry no information
    LakeIo.writeRows(fs, colMapFile,
      mapping.filter { case (l, p) => l != p }.toSeq.sortBy(_._1)
        .map { case (l, p) => Seq("m", l, p) } ++
        retired.toSeq.sorted.map(p => Seq("r", p)))

  /** Physical (on-disk) twin of a logical schema. */
  private def physicalSchema(s: StructType, mapping: Map[String, String]): StructType =
    StructType(s.fields.map(f => f.copy(name = mapping.getOrElse(f.name, f.name))))

  /** Read parquet `paths` that hold PHYSICAL column names, surfacing the
    * LOGICAL schema — one projection, pruned like any other.
    */
  private def readMapped(
      schema: StructType, paths: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    val (mapping, _) = columnMapping
    var r = spark.read
    basePath.foreach(b => r = r.option("basePath", b))
    if (mapping.isEmpty) r.schema(schema).parquet(paths: _*)
    else r.schema(physicalSchema(schema, mapping)).parquet(paths: _*)
      .select(schema.fields.map(f =>
        col(mapping.getOrElse(f.name, f.name)).as(f.name)).toIndexedSeq: _*)
  }

  /** Rename a LOGICAL frame's columns to their physical names for a data
    * write. Alignment to the table schema has already happened upstream.
    */
  private def toPhysical(df: DataFrame): DataFrame = {
    val (mapping, _) = columnMapping
    if (mapping.isEmpty) df
    else df.select(df.columns.map(c =>
      col(c).as(mapping.getOrElse(c, c))).toIndexedSeq: _*)
  }

  /** Physical name of one logical column (identity when unmapped). */
  private def physicalOf(logical: String): String =
    columnMapping._1.getOrElse(logical, logical)

  /** Read staged (physical-named) files back as the logical view, for
    * constraint validation of a rewrite's output.
    */
  private def stagedLogical(staged: String): DataFrame =
    logicalView(spark.read.parquet(staged))

  /** `df` with physical column names mapped back to their logical names
    * (column mapping inverse) — shared by staged-dir reads and the
    * promoted-file fallback in [[postMarkConstraintCheck]].
    */
  private def logicalView(df: DataFrame): DataFrame = {
    val (mapping, _) = columnMapping
    if (mapping.isEmpty) df
    else {
      val inv = mapping.map(_.swap)
      df.select(df.columns.map(c => col(c).as(inv.getOrElse(c, c))).toIndexedSeq: _*)
    }
  }

  /** Reject DDL on a column that a CHECK constraint or generated-column
    * expression references (Delta raises the same analysis error — the
    * stored expression strings would silently dangle).
    */
  private def requireUnreferenced(name: String, op: String): Unit = {
    def refs(exprSql: String): Seq[String] =
      spark.sessionState.sqlParser.parseExpression(exprSql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
      }
    val hits =
      constraints.toSeq.collect {
        case (n, e) if refs(e).exists(_.equalsIgnoreCase(name)) => s"constraint $n"
      } ++
        generatedColumns.toSeq.collect {
          case (g, e) if refs(e).exists(_.equalsIgnoreCase(name)) =>
            s"generated column $g"
        }
    require(hits.isEmpty,
      s"$op $name is referenced by ${hits.mkString(", ")} — drop the " +
        "referencing declaration first")
  }

  /** Rewrite the (tiny, O(files)-row) stats table's per-column names:
    * `rename` maps base column names, None drops that column's stats.
    * Without this, a re-added column with a dropped column's logical
    * name would inherit its stale bounds and prune WRONGLY.
    */
  private def remapStatsColumns(rename: String => Option[Option[String]]): Unit = {
    if (!fs.exists(new Path(statsDir))) return
    val suffixes =
      Seq("__graft_min", "__graft_max", "__graft_nulls", "__graft_bloom")
    val stats = spark.read.parquet(statsDir)
    var changed = false
    val kept = stats.columns.flatMap { c =>
      suffixes.find(c.endsWith) match {
        case None => Some(col(c)) // __graft_file / __graft_rows
        case Some(sfx) =>
          val base = c.stripSuffix(sfx)
          rename(base) match {
            case None            => Some(col(c)) // untouched column
            case Some(None)      => changed = true; None // dropped
            case Some(Some(nb))  => changed = true; Some(col(c).as(nb + sfx))
          }
      }
    }
    if (!changed) return
    val staged = s"$statsDir${LakeTable.StageSuffix}"
    stats.select(kept.toIndexedSeq: _*)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(staged)
    fs.delete(new Path(statsDir), true)
    if (!fs.rename(new Path(staged), new Path(statsDir)))
      throw new java.io.IOException(s"could not swap remapped stats into $statsDir")
  }

  /** METADATA-ONLY column rename (Delta RENAME COLUMN under name-mode
    * column mapping): no data file is touched at any table size. The
    * stored schema adopts the new logical name; the mapping pins the old
    * physical name; stats columns and the identity/generated registries
    * follow; referencing constraints/generated expressions reject.
    */
  def renameColumn(oldName: String, newName: String): LakeTable = {
    require(!VersionedLakeTable.isVersioned(spark, path),
      s"renameColumn targets plain lake tables; $path is a versioned layout")
    require(!isShallowClone,
      s"renameColumn on a shallow clone at $path — materialize() first")
    require(partitionColumns().isEmpty,
      "renameColumn is not supported on a Hive-partitioned layout (the " +
        "directory names ARE the column)")
    val schema = storedSchema.getOrElse(throw new IllegalArgumentException(
      s"no schema at $path yet"))
    val field = schema.fields.find(_.name.equalsIgnoreCase(oldName))
      .getOrElse(throw new IllegalArgumentException(
        s"no column $oldName at $path"))
    require(!schema.fields.exists(_.name.equalsIgnoreCase(newName)),
      s"column $newName already exists at $path")
    requireUnreferenced(field.name, "RENAME COLUMN")
    val (mapping, retired) = columnMapping
    val phys = mapping.getOrElse(field.name, field.name)
    val gens = generatedColumns
    gens.keys.find(_.equalsIgnoreCase(field.name)).foreach { g =>
      saveGenerated(gens - g + (newName -> gens(g)))
    }
    val ids = identityColumns
    ids.keys.find(_.equalsIgnoreCase(field.name)).foreach { k =>
      saveIdentity(ids - k + (newName -> ids(k)))
    }
    saveSchema(StructType(schema.fields.map(f =>
      if (f.name == field.name) f.copy(name = newName) else f)))
    saveColMap(mapping - field.name + (newName -> phys), retired)
    remapStatsColumns(b =>
      if (b.equalsIgnoreCase(field.name)) Some(Some(newName)) else None)
    commit("RENAME COLUMN", Map("from" -> field.name, "to" -> newName))
    // keep refreshStats alive: its recorded column spec must speak the
    // new name (the stats file already does)
    if (fs.exists(new Path(statsDir))) lastStatsSpec.foreach {
      case (all, bloomFor, items, bits)
          if (all ++ bloomFor).exists(_.equalsIgnoreCase(field.name)) =>
        def ren(s: Seq[String]) =
          s.map(c => if (c.equalsIgnoreCase(field.name)) newName else c)
        commit("COLLECT STATS",
          statsParams(ren(all), ren(bloomFor), items, bits) +
            ("renamedFrom" -> field.name)): Unit
      case _ =>
    }
    this
  }

  /** METADATA-ONLY column drop (Delta DROP COLUMN under column mapping):
    * the field leaves the schema, its physical name is retired (old
    * files keep the bytes; reads never project them), its stats are
    * removed so a future same-named column cannot inherit them.
    */
  def dropColumn(name: String): LakeTable = {
    require(!VersionedLakeTable.isVersioned(spark, path),
      s"dropColumn targets plain lake tables; $path is a versioned layout")
    require(!isShallowClone,
      s"dropColumn on a shallow clone at $path — materialize() first")
    require(partitionColumns().isEmpty,
      "dropColumn is not supported on a Hive-partitioned layout")
    val schema = storedSchema.getOrElse(throw new IllegalArgumentException(
      s"no schema at $path yet"))
    val field = schema.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(s"no column $name at $path"))
    require(schema.fields.length > 1, s"cannot drop the only column of $path")
    requireUnreferenced(field.name, "DROP COLUMN")
    val (mapping, retired) = columnMapping
    val phys = mapping.getOrElse(field.name, field.name)
    val gens = generatedColumns
    gens.keys.find(_.equalsIgnoreCase(field.name)).foreach(g => saveGenerated(gens - g))
    val ids = identityColumns
    ids.keys.find(_.equalsIgnoreCase(field.name)).foreach(k => saveIdentity(ids - k))
    saveSchema(StructType(schema.fields.filterNot(_.name == field.name)))
    saveColMap(mapping - field.name, retired + phys)
    remapStatsColumns(b =>
      if (b.equalsIgnoreCase(field.name)) Some(None) else None)
    commit("DROP COLUMN", Map("column" -> field.name))
    if (fs.exists(new Path(statsDir))) lastStatsSpec.foreach {
      case (all, bloomFor, items, bits)
          if (all ++ bloomFor).exists(_.equalsIgnoreCase(field.name)) =>
        val keep = all.filterNot(_.equalsIgnoreCase(field.name))
        val keepBloom = bloomFor.filterNot(_.equalsIgnoreCase(field.name))
        if (keep.isEmpty)
          // no statted columns remain: the stats table is pure overhead
          fs.delete(new Path(statsDir), true): Unit
        else
          commit("COLLECT STATS",
            statsParams(keep, keepBloom, items, bits) +
              ("droppedColumn" -> field.name)): Unit
      case _ =>
    }
    this
  }

  /** Delta `REORG TABLE … APPLY (PURGE)`: one staged rewrite that
    * physically drops retired columns' bytes and normalizes every file
    * to the logical names, then resets the mapping — the explicit,
    * chargeable moment column-mapping debt is paid (rename/drop
    * themselves stay metadata-only). Also materializes deletion vectors
    * like any rewrite. No-op when no mapping exists.
    */
  def reorgPurge(): LakeTable = {
    val (mapping, retired) = columnMapping
    if (mapping.isEmpty && retired.isEmpty) return this
    // plainNames writes the staged files under the LOGICAL names, and
    // the mapping reset rides the atomic swap itself (the colmap file is
    // deleted inside the STAGED log dir after the point of no return):
    // data files and mapping metadata flip together — a crash on either
    // side of the swap leaves a consistent table
    val occBase = CommitLog.nextVersion(fs, logDir)
    stagedSwap(Some(read), "REORG PURGE",
      Map("droppedPhysicals" -> retired.toSeq.sorted.mkString(",")), occBase,
      plainNames = true,
      onStagedLog = Some((log: Path) =>
        fs.delete(new Path(log, LakeTable.ColMapFileName), false): Unit))
  }

  /** Fresh unique physical name for a NEW logical column whose name
    * collides with a retired physical name (see [[columnMapping]]).
    */
  private def freshPhysical(logical: String, usedLower: Set[String]): String = {
    var i = 1
    var cand = s"${logical}__graft_p$i"
    while (usedLower.contains(cand.toLowerCase(java.util.Locale.ROOT))) {
      i += 1; cand = s"${logical}__graft_p$i"
    }
    cand
  }

  /** Register mappings for newly added logical columns that collide with
    * retired physical names — called by every schema-evolving path after
    * it knows the added names.
    */
  private def mapNewColumns(added: Seq[String]): Unit = {
    if (added.isEmpty) return
    val (mapping, retired) = columnMapping
    if (mapping.isEmpty && retired.isEmpty) return
    // a new column collides when its default physical name is already a
    // RETIRED physical (dropped column's bytes) or a LIVE mapped physical
    // (a renamed column's on-disk name) — either rebind would read the
    // wrong column's data from old files. Case-INSENSITIVE, matching
    // Spark's default parquet field resolution.
    def k(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val used = (retired ++ mapping.values).map(k)
    val collisions = added.filter(a => !mapping.contains(a) && used.contains(k(a)))
    if (collisions.isEmpty) return
    val newMapping = collisions.foldLeft(mapping)((m, a) =>
      m + (a -> freshPhysical(a, used)))
    saveColMap(newMapping, retired)
  }

  /** One aggregate pass counting violations of EVERY constraint; null
    * results count as violations (a CHECK must affirmatively hold).
    */
  private def enforceConstraints(
      df: DataFrame, cons: Map[String, String]): Unit = {
    if (cons.isEmpty) return
    val exprs = cons.toSeq.sortBy(_._1).map { case (n, e) =>
      sum(when(coalesce(expr(e), lit(false)), 0L).otherwise(1L)).as(n)
    }
    val counts = df.agg(exprs.head, exprs.tail: _*).head()
    // sum over zero rows is SQL NULL; getAs[Long] unboxes that to 0,
    // which is the right answer (an empty batch violates nothing)
    val bad = cons.keys.toSeq.sorted.map(n => n -> counts.getAs[Long](n))
      .filter(_._2 > 0)
    require(bad.isEmpty,
      s"CHECK constraint violation at $path: " +
        bad.map { case (n, c) => s"$n ($c rows: ${cons(n)})" }.mkString("; "))
  }

  /** Schema-on-write enforcement (Delta parity — the reference leans on
    * Delta's implicit check on every write, 00-etl-rwd.py:94-141).
    *
    * Overwrite replaces the table, so the incoming schema simply becomes
    * the new table schema. Append-like writes (Append, dynamic partition
    * overwrite) must match the standing schema:
    *   - type drift on a shared column is ALWAYS rejected;
    *   - new columns are rejected unless `mergeSchema = true`, which
    *     evolves the table by appending them as nullable (pre-evolution
    *     files read them as null via the stored-schema read path);
    *   - absent columns are filled with typed nulls (Delta allows
    *     subset-column appends);
    *   - columns are aligned to the table's order, so positional parquet
    *     readers can never mis-bind a reordered DataFrame;
    *   - nullability widens with the data: a nullable (or absent → null
    *     fill) incoming column makes the persisted field nullable, so the
    *     stored schema never claims non-null over files that hold nulls.
    * Overwrite with a standing schema is checked too (Delta parity): a
    * changed column set or drifted type is rejected unless
    * `overwriteSchema = true` explicitly replaces the table schema.
    * Name matching is case-insensitive, matching Spark's default
    * resolution, but alignment selects by the INCOMING field's own name
    * so it also resolves under spark.sql.caseSensitive=true. Returns the
    * aligned frame and the (possibly evolved) schema to persist.
    */
  private def enforceSchema(
      df: DataFrame,
      appendLike: Boolean,
      mergeSchema: Boolean,
      overwriteSchema: Boolean = false): (DataFrame, StructType) = {
    def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val stored = storedSchema
    if (!appendLike) {
      // Overwrite: the incoming schema becomes the table schema, but a
      // SILENT retype of a standing table is rejected like Delta does —
      // names+types are compared order-insensitively, nullability ignored
      stored.foreach { table =>
        val same = table.fields.length == df.schema.fields.length && {
          val inTypes = df.schema.fields.map(f => key(f.name) -> f.dataType).toMap
          table.fields.forall(tf => inTypes.get(key(tf.name)).contains(tf.dataType))
        }
        require(same || overwriteSchema,
          s"schema mismatch overwriting $path — table ${table.simpleString} vs " +
            s"incoming ${df.schema.simpleString} (pass overwriteSchema = true to replace)")
      }
      (df, df.schema)
    } else stored match {
      case None => (df, df.schema)
      case Some(table) =>
        val inByName = df.schema.fields.map(f => key(f.name) -> f).toMap
        val tableNames = table.fields.map(f => key(f.name)).toSet
        // three kinds of type difference on a shared column:
        //  - incoming NARROWER than stored: up-cast the batch silently
        //    (value-safe — Delta's implicit cast on write);
        //  - incoming WIDER along the [[LakeTable.widens]] lattice: the
        //    stored schema itself widens, gated on mergeSchema exactly
        //    like an added column (old files read through the parquet
        //    reader's native type promotion);
        //  - anything else is drift and stays an error.
        val drifted = table.fields.flatMap { tf =>
          inByName.get(key(tf.name)).filter(_.dataType != tf.dataType).flatMap { inf =>
            val diff =
              s"${tf.name}: table ${tf.dataType.simpleString} vs incoming ${inf.dataType.simpleString}"
            if (LakeTable.widens(inf.dataType, tf.dataType)) None
            else if (LakeTable.widens(tf.dataType, inf.dataType))
              if (mergeSchema) None
              else Some(s"$diff (a widening append — pass mergeSchema = true to evolve the type)")
            else Some(diff)
          }
        }
        require(drifted.isEmpty,
          s"schema mismatch appending to $path — type drift on: ${drifted.mkString("; ")}")
        val added = df.schema.fields.filterNot(f => tableNames.contains(key(f.name)))
        require(mergeSchema || added.isEmpty,
          s"schema mismatch appending to $path — incoming columns not in table: " +
            s"${added.map(_.name).mkString(", ")} (pass mergeSchema = true to evolve)")
        val evolved = StructType(table.fields.map { tf =>
          // widen, never narrow: once any file may hold nulls the stored
          // schema must say nullable, or stored-schema reads misbehave —
          // and the same monotonicity governs types (the widening above)
          val in = inByName.get(key(tf.name))
          val wider = in.map(_.dataType)
            .filter(t => mergeSchema && LakeTable.widens(tf.dataType, t))
            .getOrElse(tf.dataType)
          val nowNullable = in.forall(_.nullable)
          tf.copy(dataType = wider, nullable = tf.nullable || nowNullable)
        } ++ added.map(_.copy(nullable = true)))
        val alignedCols = evolved.fields.map { f =>
          inByName.get(key(f.name)) match {
            case Some(inf) if inf.dataType != f.dataType =>
              col(inf.name).cast(f.dataType).as(f.name)
            case Some(inf) => col(inf.name).as(f.name)
            case None      => lit(null).cast(f.dataType).as(f.name)
          }
        }
        (df.select(alignedCols.toIndexedSeq: _*), evolved)
    }
  }

  /** The authoritative table schema persisted beside the commit log, if
    * one has been recorded. Named WITHOUT a `.json` suffix so
    * [[CommitLog.history]]'s `*.json` glob and `currentCount`'s filter
    * never mistake it for a commit record.
    */
  private[sources] def storedSchema: Option[StructType] =
    LakeIo.resilientRead(fs, schemaFile)
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Persist the authoritative schema. MONOTONE by default: for every
    * field the new schema shares with the stored one, the WIDER numeric
    * type wins ([[LakeTable.widens]]) — a writer that aligned its batch
    * against a pre-`ALTER COLUMN TYPE` read can then never save the
    * narrow type back over a concurrent widening (which would leave the
    * stored schema narrower than on-disk data and break every read;
    * last-writer-wins was the witnessed hazard). Widening is the one
    * schema edit with no commit-log OCC on the append path, and
    * wider-of-two is commutative + idempotent, so concurrent widenings
    * compose in any order. `replace = true` (explicit overwriteSchema:
    * the data files are replaced wholesale, so there is no on-disk wide
    * encoding left to protect) skips the merge and takes the schema
    * verbatim — intentional re-narrowing stays possible.
    */
  private def saveSchema(schema: StructType, replace: Boolean = false): Unit = {
    val f = fs
    if (!f.exists(logDir)) f.mkdirs(logDir)
    val toSave =
      if (replace) schema
      else storedSchema match {
        case None => schema
        case Some(st) => LakeTable.widerOf(schema, st, appendMissing = false)
      }
    val json = toSave.json
    // skip-if-unchanged: every commit saves the schema but almost none
    // change it — one small read beats the tmp+rename publish, and
    // skipping also keeps concurrent disjoint-partition writers (who
    // share one schema) from racing each other's identical overwrite
    val unchanged =
      try LakeIo.resilientRead(f, schemaFile).contains(json)
      catch { case scala.util.control.NonFatal(_) => false }
    if (unchanged) return
    // atomic (LakeIo): EVERY reader loads this file — a torn window
    // here would fail (or mis-schema) any read racing a commit
    LakeIo.atomicOverwrite(f, schemaFile, json)
  }

  /** Crash-debris GC (`VACUUM`-adjacent): resolve an orphaned
    * staged-rewrite dir — COMPLETING the swap when the stage carries a
    * swap manifest (the rewrite had passed its point of no return: new
    * data validated, log moved aside — deleting it would lose the commit
    * log and, for a selective rewrite, any untouched files already pulled
    * in), or deleting it when no manifest exists (pre-swap crash: the
    * table was never touched and the stage is dead bytes). Run when no
    * writer is active on the table; readers are unaffected either way
    * because the stage is not part of the live table path.
    */
  def vacuumDebris(): LakeTable = {
    // marked APPEND stages first, agelessly: the manifest only exists
    // once the writer passed its point of no return, completion is
    // idempotent renames + an uuid-guarded attribution, and leaving one
    // behind means a partial batch stays reader-visible until the age
    // horizon — hours of broken all-or-nothing for a sub-second window
    recoverAppendStages(): Unit
    // unclaimed deletion-vector dirs are pre-commit crash debris: the
    // commit gate means no reader ever applied them, so removal is safe
    if (fs.exists(dvRoot)) {
      val claimed = commitParamValues(LakeTable.DvDirParam)
      fs.listStatus(dvRoot).map(_.getPath)
        .filterNot(p => claimed.contains(p.getName))
        .foreach(p => fs.delete(p, true): Unit)
    }
    // same for unclaimed COPY INTO ledgers: their files never counted as
    // loaded, so the retry that re-loads them must not see stale lists
    if (fs.exists(logDir)) {
      val claimedLedgers = commitParamValues(LakeTable.CopyLedgerParam)
      fs.listStatus(logDir)
        .filter(st => st.isFile && st.getPath.getName.startsWith("_copied_"))
        .filterNot(st => claimedLedgers.contains(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, false): Unit)
    }
    // metadata publications that crashed between tmp-write and rename
    // (LakeIo): dot-prefixed, invisible to every glob — pure debris
    if (fs.exists(logDir))
      fs.listStatus(logDir)
        .filter(st => st.isFile && st.getPath.getName.startsWith(LakeIo.TmpPrefix))
        .foreach(st => fs.delete(st.getPath, false): Unit)
    // coordinated-claim refs (object-store Coordinated mode) are NOT
    // ageless debris: a crashed claim winner's ref is the recovery record
    // for its claimed-but-unpublished commit — reclaim only past the
    // stage-retention horizon (recovery normally runs at the next lost
    // claim, long before; past the horizon the loud completeClaim error
    // names the unrecoverable state)
    locally {
      val horizon = System.currentTimeMillis() - LakeTable.PartStageRetentionMs
      Seq(logDir, new Path(path).getParent).filter(d => d != null && fs.exists(d))
        .foreach(d => fs.listStatus(d)
          .filter(st => st.isFile &&
            st.getPath.getName.startsWith(LakeIo.ClaimRefPrefix) &&
            st.getModificationTime < horizon)
          .foreach(st => fs.delete(st.getPath, false): Unit))
    }
    // a crashed stats refresh leaves its nested stage behind; it is not
    // data (listDataFiles skips _-prefixed dirs) but it is garbage, and
    // the next refresh's Overwrite should not inherit it
    val statsStage = new Path(s"$statsDir${LakeTable.StageSuffix}")
    if (fs.exists(statsStage)) fs.delete(statsStage, true): Unit
    // orphaned dynamic-overwrite part-stages: UNMARKED means pre-swap
    // (the writer crashed before its point of no return — the table was
    // never touched, the stage is dead bytes, reclaim); MARKED means the
    // per-partition swap had begun — the table may be part old / part
    // new and the stage holds the not-yet-swapped replacements, so
    // COMPLETE the swap and attribute it, never delete. Either way only
    // past an age horizon keyed on the NEWEST mtime anywhere in the
    // stage: a live staging write keeps producing fresh task files, so
    // the root's creation-time mtime alone would age out a long write
    // mid-flight.
    locally {
      val parent = new Path(path).getParent
      val prefix = new Path(path).getName + LakeTable.PartStageSuffix
      val horizon = System.currentTimeMillis() - LakeTable.PartStageRetentionMs
      if (parent != null && fs.exists(parent))
        fs.listStatus(parent)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
          .filter(st => newestMtime(st.getPath) < horizon)
          .foreach { st =>
            val stage = st.getPath
            if (fs.exists(new Path(stage, LakeTable.AppendManifestName))) {
              // append-marked stages are completed AGELESSLY above; one
              // still here raced that pass — complete, never reclaim (a
              // marked stage's files may already be partially promoted)
              completeAppendStage(stage)
            } else if (fs.exists(new Path(stage, LakeTable.SwapManifestName))) {
              val pending = readPendingOp(stage)
              readManifest(new Path(stage, LakeTable.SwapManifestName)).foreach { rel =>
                val src = new Path(stage, rel)
                // already-swapped partitions were renamed OUT of the
                // stage, so presence == still pending; each swap is the
                // same idempotent rename the writer would have done
                if (fs.exists(src)) swapPartitionIn(src, rel)
              }
              pending.foreach { case (op, ps) => recoveredSwapCommit(op, ps) }
            }
            fs.delete(stage, true): Unit
          }
    }
    val staged = new Path(s"$path${LakeTable.StageSuffix}")
    val action =
      if (!fs.exists(staged)) "none"
      else if (fs.exists(new Path(staged, LakeTable.SwapManifestName))) {
        // commit the interrupted operation UNDER ITS OWN NAME first: it
        // is what changed the data — and its params carry the staged
        // change set's name (ChangeStageParam), so the reconciliation
        // below publishes that set at exactly this commit's version.
        // The swap uuid is the attribution idempotence key: a LIVE
        // writer racing this vacuum may have committed already (or will
        // adopt OUR commit by uuid) — never attribute one change twice.
        val (pending, _) = completeSwap(staged)
        onVacuumPreAttributeForTest()
        pending.foreach { case (op, params) =>
          recoveredSwapCommit(op, params)
        }
        "completedSwap"
      } else { fs.delete(staged, true); "removedStage" }
    // the stage slot is resolved either way — release its claim so the
    // next rewrite can proceed (a crashed writer's claim would otherwise
    // refuse rewrites forever; a LIVE writer racing this vacuum loses its
    // stage under the pre-existing vacuum contract, so dropping its claim
    // adds no new hazard)
    LakeIo.releasePublished(fs, new Path(s"$path${LakeTable.StageClaimSuffix}"))
    // staged change sets: a crash between a commit and its publication
    // rename leaves a committed mutation's change set invisible under
    // its stage name — publish it at the version its commit claims
    // (including a RECOVERED commit made just above). A stage NO commit
    // claims is pre-commit debris: the op aborted or never committed,
    // no reader ever saw it, delete.
    locally {
      val changesRoot = new Path(path, LakeTable.ChangesDirName)
      if (fs.exists(changesRoot)) {
        val stages = fs.listStatus(changesRoot).map(_.getPath.getName)
          .filter(_.startsWith(LakeTable.ChangeStagePrefix))
        if (stages.nonEmpty) {
          val claims: Map[String, Long] =
            CommitLog.recordsSince(fs, logDir, 0L)
              .flatMap(r => r.params.get(LakeTable.ChangeStageParam)
                .map(_ -> r.version))
              .toMap
          // unclaimed stages are reclaimed only past the same age
          // horizon the part-stages use: a LIVE writer materializes its
          // change set pre-commit and may spend minutes in the rewrite
          // before its commit claims the stage — reaping it mid-flight
          // would make the writer's post-commit publication fail AFTER
          // the mutation committed, silently starving every CDC consumer
          // of that commit's change set
          val horizon = System.currentTimeMillis() - LakeTable.PartStageRetentionMs
          stages.foreach { n =>
            claims.get(n) match {
              case Some(v) => publishChanges(n, v)
              case None =>
                val st = fs.getFileStatus(new Path(changesRoot, n))
                if (newestMtime(st.getPath) < horizon) discardChanges(n)
            }
          }
        }
      }
    }
    // a vacuum that finds a table with NO committed existence must not
    // mint one: committing here would create a phantom log under a path
    // whose first real writer then sees a table that "exists" but has no
    // schema and no data (KillProbe: kills during a table's very first
    // operation left log-only dirs the replaying client could not read)
    if (CommitLog.nextVersion(fs, logDir) > 0 || storedSchema.isDefined)
      commit("VACUUM DEBRIS", Map("stage" -> action)): Unit
    else if (fs.exists(new Path(path)) && listDataFiles().isEmpty &&
      !fs.exists(new Path(path, LakeTable.ChangesDirName)) &&
      newestMtime(new Path(path)) <
        System.currentTimeMillis() - LakeTable.PartStageRetentionMs) {
      // the inverse phantom: a crash during the very first operation
      // (e.g. mid-saveSchema) can leave a dir with no schema, no
      // commits, no data and no feed. Restore the no-table state so the
      // replaying first writer creates it fresh — but only past the same
      // age horizon every other reclaim honors: a LIVE first writer is
      // mid-mkdirs/mid-job in exactly this state, and an ageless delete
      // here would destroy it (readers meanwhile get the explicit
      // not-a-table-yet error from readRaw, never a silent empty).
      // The delete is check-then-act against a concurrent first writer
      // promoting inside the gap, and it is DESTRUCTIVE of live data if
      // it loses that race — so re-run the cheap guards at the last
      // possible moment to shrink the window from "everything since the
      // top of vacuumDebris" to one fs round-trip (a full close needs a
      // claim protocol the 4h age horizon does not justify)
      if (CommitLog.nextVersion(fs, logDir) == 0 && storedSchema.isEmpty &&
        listDataFiles().isEmpty)
        fs.delete(new Path(path), true): Unit
    }
    this
  }

  /** Claim the table's single staged-rewrite slot — `__staging` is one
    * physical directory, so two concurrent rewrites (threads OR
    * separate processes) would otherwise cross inside it: the later
    * `SaveMode.Overwrite` deletes the earlier writer's staged files
    * mid-flight, before OCC ever gets to arbitrate versions. The claim
    * is an atomic first-writer-wins publication ([[LakeIo.renamePublish]]
    * — hard-link on local fs, rename-refuse on HDFS), so the loser gets
    * this clean refusal instead of silent stage corruption; retry the
    * whole operation (re-reading the table — Delta's
    * ConcurrentModificationException contract) after the winner
    * finishes.
    */
  private def claimStage(op: String): Unit = {
    val claim = new Path(s"$path${LakeTable.StageClaimSuffix}")
    val body = s"""{"op":"${CommitLog.esc(op)}","ts":"${java.time.Instant.now()}"}"""
    if (!LakeIo.renamePublish(fs, claim, body))
      throw new java.util.ConcurrentModificationException(
        s"$op at $path: another staged rewrite holds this table's stage " +
          "claim. Retry after it finishes; if its writer crashed, " +
          "vacuumDebris() completes or discards the stage and releases " +
          "the claim.")
  }

  /** Release the stage claim — UNLESS a completable (manifest-marked)
    * stage still exists: that stage holds the table's moved log, and a
    * successor rewrite's stage Overwrite would destroy it. Keeping the
    * claim turns that into a clean refusal until [[vacuumDebris]]
    * resolves the stage (which releases the claim itself).
    */
  private def releaseStage(): Unit = {
    val staged = new Path(s"$path${LakeTable.StageSuffix}")
    if (!fs.exists(new Path(staged, LakeTable.SwapManifestName)))
      // releasePublished, not a bare delete: under Coordinated mode the
      // claim's coordinator record must drop too, or the NEXT rewrite's
      // claim loses forever against a record with no object behind it
      LakeIo.releasePublished(fs, new Path(s"$path${LakeTable.StageClaimSuffix}"))
  }

  /** Finish a staged swap (manifest present) — shared by the live
    * rewrite paths and crash recovery, and CHILD-WISE by design: the
    * old table dir's children are deleted and the stage's children
    * renamed into place one by one, so `_graft_changes` NEVER MOVES.
    * A live CDC file stream ([[readChangesStream]]) that listed change
    * files before the swap reads them mid- and post-swap at the same
    * paths — the whole-dir delete+rename this replaced unlinked every
    * feed file for the duration of the swap and killed any stream whose
    * poll interleaved it.
    *
    * Crash-safe by phase, not by a single rename: (1) GATHER — move the
    * manifest-listed untouched files and the log into the stage, sweep
    * unaccounted late-append files through (all idempotent moves);
    * (2) CLEAR — persist the list of old children to delete in the
    * stage FIRST ([[LakeTable.SwapClearName]]), then delete them; a
    * resumed swap that finds the clear list skips re-gathering (new
    * files already placed in the table dir must not be re-classified as
    * old) and re-deletes exactly the recorded set (idempotent, and
    * structurally unable to touch a placed new file); (3) PLACE — move
    * stage children into the table dir, skipping any a prior attempt
    * placed; the log dir MERGES file-by-file if a concurrent commit
    * recreated it mid-swap (commit records are version-named, so both
    * sides survive and the post-swap audit sees the interloper);
    * (4) markers are deleted from the stage, MANIFEST FIRST — it is the
    * resume trigger, and a stage must stop being "completable" before
    * any marker a resumed completion would need (the clear list) goes
    * away; a crash mid-phase-4 then leaves dead bytes vacuum reclaims,
    * never a re-completable stage that would re-classify placed files
    * as old children (the empty-table window CrashInjectionSpec caught).
    *
    * Scale note: the swap pays O(top-level children) renames instead of
    * the old single dir rename. A full rewrite that produced those
    * children just paid O(data) to WRITE them, so the metadata-op count
    * is noise at any size (10k children ≈ seconds of namenode RPCs vs
    * hours of data write); the common selective-rewrite path touches
    * few files by construction (the local-fs cost measured ~10% of a
    * compact, zero spread-aware bench flags: the reliability-layer cost
    * section of BASELINE.md).
    */
  private def completeSwap(staged: Path): (Option[(String, Map[String, String])], Int) =
    // TWIN-ATTEMPT serialization: vacuumDebris completes the main staged
    // swap AGELESSLY, so it can race the live writer's own completeSwap
    // on one stage — unserialized, the later entrant re-runs phase 1's
    // gather against a table the earlier one already mutated and phase
    // 2a can classify just-placed files as old children (the empty-table
    // shape CrashInjectionSpec caught for crash-RESUMED swaps). One JVM
    // lock per stage path serializes them; the second entrant then sees
    // the manifest gone and returns. Cross-PROCESS vacuum racing a live
    // writer remains outside the contract (vacuum is a maintenance op to
    // run while writers are quiesced or crashed — the stage-claim doc).
    LakeTable.swapLocks.computeIfAbsent(
      fs.makeQualified(staged).toString, _ => new Object).synchronized {
      completeSwapLocked(staged)
    }

  private def completeSwapLocked(staged: Path): (Option[(String, Map[String, String])], Int) = {
    val f = fs
    // the twin attempt (or a crash-resumed completion) may have finished
    // while we waited on the lock: no manifest and no clear list means
    // the swap is fully placed and the stage is dead bytes — report
    // "nothing pending" so the caller consults the log for attribution
    if (!f.exists(new Path(staged, LakeTable.SwapManifestName)) &&
      !f.exists(new Path(staged, LakeTable.SwapClearName)))
      return (None, 0)
    def moveIn(from: Path, name: String): Unit = {
      val dest = new Path(staged, name)
      if (f.exists(from) && !f.exists(dest) && !f.rename(from, dest))
        throw new java.io.IOException(s"swap recovery: could not move $from to $dest")
    }
    val pending = readPendingOp(staged)
    val p = new Path(path)
    val clearFile = new Path(staged, LakeTable.SwapClearName)
    var swept = 0
    if (!f.exists(clearFile)) {
      // ---- phase 1: gather ----
      val manifest = new Path(staged, LakeTable.SwapManifestName)
      readManifest(manifest).foreach(n => moveIn(new Path(path, n), n))
      // the log moves LAST among the gathered dirs: every commit that
      // lands while the (possibly long) data-file moves above run still
      // reaches the REAL log dir and rides into the stage — stagedSwap's
      // post-swap audit can then see it and refuse to commit on top of a
      // lost append (a swap with an onStagedLog edit moved it already).
      moveIn(logDir, LakeTable.LogDirName)
      // late-append sweep: any table-dir parquet file the snapshot did
      // NOT account for (absent from the known-set) landed concurrently
      // — a streaming-sink batch racing this swap. Carry it through like
      // a rebased file instead of deleting it with the old children; its
      // commit either already rode the moved log (the audit sees it and
      // knows the data survived) or will land in the live log after the
      // swap. A stage without a known set (left on disk by a build that
      // wrote none for full replacements) deletes unaccounted files with
      // the clear phase — its audit refused any interleaving either way.
      val knownFile = new Path(staged, LakeTable.KnownFilesName)
      val knownSet: Option[Set[String]] =
        if (f.exists(knownFile)) Some(readManifest(knownFile).toSet) else None
      if (knownSet.isDefined && f.exists(p)) {
        val known = knownSet.get
        f.listStatus(p).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.getName)
          .filterNot(known.contains)
          .foreach { n =>
            if (f.exists(new Path(staged, n)))
              throw new java.io.IOException(
                s"late-append sweep: staged rewrite collides with concurrent file $n")
            moveIn(new Path(path, n), n)
            swept += 1
          }
      }
      // ---- phase 2a: persist the clear list ----
      // every remaining old child except the change feed dies; a child
      // whose NAME the stage will also place (e.g. _SUCCESS) is deleted
      // NOW and kept OFF the list, so a resumed clear can never delete
      // the placed replacement
      val children =
        if (!f.exists(p)) Seq.empty[String]
        else f.listStatus(p).toSeq.map(_.getPath.getName)
          // the feed never moves; the LOG is never deleted here either —
          // a concurrent commit may have RECREATED the live log dir
          // after the gather moved it into the stage, and deleting it as
          // a colliding old child would destroy the interloper's commit
          // record undetectably. placeLog's merge branch reunites the
          // two logs file-by-file so the post-swap audit can SEE the
          // interloper and refuse.
          .filterNot(n =>
            n == LakeTable.ChangesDirName || n == LakeTable.LogDirName)
          // when the snapshot carries a known-file set, the clear phase
          // must never delete a parquet file the snapshot did NOT
          // account for: a concurrent appender promotes its task files
          // one rename at a time, and a file landing AFTER the
          // late-append sweep's listing but BEFORE this one was
          // recorded as an "old child" and deleted — a silent
          // cross-process lost update (50 of 6,001 rows in
          // CrossProcessProbe phase B's first run, one task file of a
          // four-file append batch). Unaccounted files simply stay in
          // the table dir through the swap — place() only ADDS files
          // (uuid part names cannot collide), so surviving in place is
          // equivalent to being swept through. A stage with no known set
          // (an older build's full replacement) keeps the
          // delete-everything contract.
          .filterNot { n =>
            knownSet.isDefined && n.endsWith(".parquet") &&
              !knownSet.get.contains(n)
          }
      val (colliding, plain) =
        children.partition(n => f.exists(new Path(staged, n)))
      colliding.foreach(n => f.delete(new Path(p, n), true): Unit)
      // atomic publication (LakeIo): this list is the crash-resume
      // discriminator — a torn write here would make a resumed swap
      // skip re-gathering and clear only a PARTIAL old-child set,
      // leaving old parquet files beside the placed new ones
      LakeIo.atomicOverwrite(f, clearFile, plain.mkString("\n"))
    }
    // ---- phase 2b: clear the recorded old children (idempotent) ----
    readManifest(clearFile).foreach(n => f.delete(new Path(p, n), true): Unit)
    if (!f.exists(p)) f.mkdirs(p)
    // ---- phase 3: place the stage's children ----
    val markers = Set(LakeTable.SwapManifestName, LakeTable.PendingOpFileName,
      LakeTable.KnownFilesName, LakeTable.SwapClearName)
    def place(name: String): Unit = {
      val src = new Path(staged, name)
      val dest = new Path(p, name)
      if (f.exists(src) && !f.exists(dest) && !f.rename(src, dest))
        throw new java.io.IOException(s"staged swap: could not move $src to $dest")
    }
    def placeLog(): Unit = {
      val src = new Path(staged, LakeTable.LogDirName)
      if (!f.exists(src)) return
      val dest = new Path(p, LakeTable.LogDirName)
      if (!f.exists(dest)) {
        if (!f.rename(src, dest))
          throw new java.io.IOException(s"staged swap: could not move $src to $dest")
      } else {
        // a commit landed while the log sat in the stage and recreated
        // the live log dir — merge the staged records in file-by-file
        // (version-named, so both sides survive); the post-swap audit
        // then SEES the interloper and refuses, instead of the old
        // whole-dir delete losing its record undetectably
        f.listStatus(src).foreach { st =>
          val d = new Path(dest, st.getPath.getName)
          if (!f.exists(d) && !f.rename(st.getPath, d))
            throw new java.io.IOException(
              s"staged swap: could not merge log file ${st.getPath} into $d")
        }
        f.delete(src, true): Unit
      }
    }
    f.listStatus(staged).map(_.getPath.getName)
      .filterNot(n => markers.contains(n) || n == LakeTable.LogDirName ||
        // a marker publication killed between tmp-write and rename
        // (LakeIo) leaves a .tmp_ sibling in the stage — debris, not a
        // child to place; the stage delete below reclaims it
        n.startsWith(LakeIo.TmpPrefix))
      .foreach(place)
    placeLog()
    // ---- phase 4: drop markers, MANIFEST FIRST — it is the resume
    // trigger, and ending resumability must be the first (atomic) step.
    // The previous order (manifest LAST) opened a real window: with the
    // clear list already deleted, a crash before the manifest delete
    // left a "completable" stage whose RE-completion re-gathered,
    // re-classified the just-placed files as old children, and deleted
    // them — recovery read an EMPTY table (CrashInjectionSpec caught it
    // at upsert fuse 26 / compact fuse 37 on its first run). With the
    // manifest gone first, a crash mid-phase-4 leaves a manifest-less
    // stage that vacuumDebris reclaims as dead bytes without touching
    // the placed data; the only residue is the already-documented
    // unattributed-commit window the client replay converges over.
    Seq(LakeTable.SwapManifestName, LakeTable.SwapClearName,
      LakeTable.KnownFilesName, LakeTable.PendingOpFileName)
      .foreach(n => f.delete(new Path(staged, n), false): Unit)
    f.delete(staged, true)
    (pending, swept)
  }

  /** Delta `GENERATE symlink_format_manifest` equivalent: write
    * `_symlink_format_manifest/[<k=v>/…]manifest` files listing the
    * table's CURRENT data files as absolute URIs, one per line — the
    * interop handshake that lets external engines (Presto/Trino/Hive/
    * Athena-style symlink readers) query the lake table without
    * understanding its commit log. Partitioned layouts get one manifest
    * per partition directory (the layout those readers require); flat
    * layouts get a single root manifest. Returns the manifest paths.
    *
    * Refused where the file list alone would LIE about content:
    * deletion vectors (a symlink reader would resurrect deleted rows —
    * materialize them with a rewrite first, Delta's own restriction)
    * and shallow clones (the files live in the source table;
    * `materialize()` first). A VERSIONED layout generates a
    * HEAD-SNAPSHOT manifest — the current `_v{N}` dir's files — which
    * tracks RESTOREs under the auto property (every snapshot commit
    * regenerates). A regenerate builds the whole manifest dir in a
    * staging sibling and swaps it in (delete + rename — external readers
    * see the old manifest or the new one, never a half-written mix), and
    * like Delta the manifest is a point-in-time snapshot — writes after
    * GENERATE are invisible to external readers until the next GENERATE
    * (or continuously, under the
    * [[LakeTable.SymlinkAutoProperty]] table property). Driver cost: one
    * recursive listing (the same ceiling every log/manifest operation
    * has) + one metadata-sized file write per partition.
    */
  def generateSymlinkManifest(): Seq[String] = {
    require(!isShallowClone,
      "symlink manifests for a shallow clone would point into the source " +
        "table — materialize() first")
    require(!hasDeletionVectors,
      "symlink manifests cannot express deletion vectors (an external " +
        "reader would resurrect deleted rows) — rewrite to materialize " +
        "deletes first")
    // versioned layout: the manifest is a HEAD-SNAPSHOT view — the
    // current `_v{N}` dir's files, which is exactly what an external
    // reader of a versioned table wants (and regenerates on every
    // commit under the auto property, RESTORE included, so "current"
    // tracks restores). Listing one snapshot dir, not the recursive
    // walk: older snapshots are history, not the table.
    val headSnapshot: Option[Seq[String]] =
      if (!VersionedLakeTable.isVersioned(spark, path)) None
      else {
        val head = VersionedLakeTable(spark, path).latestVersion
        Some(fs.listStatus(new Path(s"$path/_v$head")).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString))
      }
    val root = new Path(path, LakeTable.SymlinkManifestDirName)
    // opportunistic sweep of tmp dirs a crashed earlier publish leaked
    // (underscore-prefixed, so invisible to scans either way)
    fs.globStatus(new Path(path, LakeTable.SymlinkManifestDirName + "__tmp_*"))
      .foreach(st => fs.delete(st.getPath, true): Unit)
    fs.globStatus(new Path(path, LakeTable.SymlinkManifestDirName + "__old_*"))
      .foreach(st => fs.delete(st.getPath, true): Unit)
    val tmp = new Path(path, LakeTable.SymlinkManifestDirName + "__tmp_" +
      java.util.UUID.randomUUID().toString.replace("-", ""))
    // created up front: an EMPTY table publishes an empty manifest dir
    // (zero per-partition manifests = zero files = empty table, the
    // honest external view), rather than deleting the old manifest and
    // failing the rename of a never-created tmp
    fs.mkdirs(tmp): Unit
    // (partition-relative dir, absolute file URIs): snapshots are flat
    // by construction, the plain layout groups by k=v dirs
    val groups: Seq[(String, Seq[String])] = headSnapshot match {
      case Some(files) => Seq("" -> files)
      case None => listDataFiles()
        .groupBy { case (rel, _, _) =>
          rel.split("/").dropRight(1).takeWhile(_.contains("=")).mkString("/")
        }
        .view.mapValues(_.map(_._3)).toSeq.sortBy(_._1)
    }
    val rels = groups.map { case (partRel, files) =>
      val dir = if (partRel.isEmpty) tmp else new Path(tmp, partRel)
      if (!fs.exists(dir)) fs.mkdirs(dir): Unit
      val manifest = new Path(dir, "manifest")
      val out = fs.create(manifest, true)
      try out.write(files.sorted.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      partRel
    }
    // publish: move the OLD root aside (one rename), move the new one
    // in (one rename), then delete the old — the unavailable window is
    // two back-to-back metadata renames, not a recursive delete; an
    // external reader racing the swap sees the old manifest, the new
    // one, or (across exactly that rename pair) a transient absence a
    // retry resolves — never a half-written mix, and a crash between
    // the renames leaves the old manifest recoverable in the __old dir
    // rather than destroyed
    val old = new Path(path, LakeTable.SymlinkManifestDirName + "__old_" +
      java.util.UUID.randomUUID().toString.replace("-", ""))
    val hadOld = fs.exists(root)
    if (hadOld && !fs.rename(root, old))
      throw new java.io.IOException(
        s"could not publish symlink manifest: move-aside $root -> $old failed")
    if (!fs.rename(tmp, root)) {
      // restore the old manifest before failing: readers keep a view
      if (hadOld) fs.rename(old, root): Unit
      throw new java.io.IOException(
        s"could not publish symlink manifest: rename $tmp -> $root failed")
    }
    if (hadOld) fs.delete(old, true): Unit
    rels.map { partRel =>
      val dir = if (partRel.isEmpty) root else new Path(root, partRel)
      new Path(dir, "manifest").toString
    }
  }

  /** Whether [[LakeTable.SymlinkAutoProperty]] is set true — every
    * file-set-changing commit then regenerates the symlink manifest, so
    * external symlink readers track the table continuously (Delta's
    * `delta.compatibility.symlinkFormatManifest.enabled` analogue).
    */
  def symlinkAutoEnabled: Boolean =
    tableProperties.get(LakeTable.SymlinkAutoProperty)
      .exists(_.trim.equalsIgnoreCase("true"))

  /** Post-commit manifest maintenance: regenerate when the auto property
    * is on. Runs AFTER the commit lands (data first, interop mirror
    * second — a crash between the two leaves a stale manifest, which the
    * next commit repairs, never a manifest pointing at uncommitted
    * data). A DV delete or clone under the property fails HERE, loudly:
    * a silent skip would hand external readers exactly the stale-forever
    * manifest the property exists to prevent.
    */
  private[sources] def maintainSymlinkManifest(): Unit =
    if (symlinkAutoEnabled) generateSymlinkManifest(): Unit

  private def writeManifest(
      staged: Path, untouched: Seq[String],
      op: String, params: Map[String, String]): Unit = {
    // Every marker is published ATOMICALLY (tmp + windowless rename,
    // LakeIo): a real SIGKILL can land between a plain create and its
    // flush/close, leaving a marker that EXISTS but is empty — recovery
    // would then read "nothing staged", attribute the op, and delete the
    // stage with its data (KillProbe's torn-content hazard; the in-JVM
    // fuse cannot model it because it throws at call boundaries).
    //
    // pending-op record FIRST: once the manifest (the point-of-no-return
    // marker) exists, recovery must be able to attribute the data change
    // to the operation that staged it, not to the vacuum that finishes it
    val lines = CommitLog.esc(op) +:
      params.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${CommitLog.esc(k)}\t${CommitLog.esc(v)}"
      }
    LakeIo.atomicOverwrite(fs, new Path(staged, LakeTable.PendingOpFileName),
      lines.mkString("\n"))
    LakeIo.atomicOverwrite(fs, new Path(staged, LakeTable.SwapManifestName),
      untouched.mkString("\n"))
  }

  /** The (op, params) recorded by [[writeManifest]], if the stage carries
    * one (pre-pending-record stages recover as before, unattributed).
    */
  private def readPendingOp(staged: Path): Option[(String, Map[String, String])] = {
    val f = new Path(staged, LakeTable.PendingOpFileName)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      val text =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
        finally in.close()
      val lines = text.split("\n", -1).toSeq
      lines.headOption.filter(_.nonEmpty)
        .map(_ => LakeTable.parseOpHeader(lines.filter(_.nonEmpty)))
    }
  }

  /** Newest modification time anywhere under `p` — the liveness signal
    * for part-stage reclaim. A stage dir's own mtime is set at creation
    * and only moves on direct-child churn, so a staging write whose task
    * phase outlives the retention window would look aged by the root
    * mtime alone; the freshest task file tells the truth. Bounded: part
    * stages hold one file tree per touched partition, and this runs only
    * in the vacuum path.
    */
  private def newestMtime(p: Path): Long = {
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) st.getModificationTime
    else (st.getModificationTime +:
      fs.listStatus(p).toSeq.map(c => newestMtime(c.getPath))).max
  }

  private def readManifest(manifest: Path): Seq[String] = {
    val in = fs.open(manifest)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      finally in.close()
    text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Compaction + multi-column clustering — the ZORDER substitute.
    *
    * @param zorderBy cluster columns, highest-selectivity first
    * @param numFiles target file count (compaction); defaults to the
    *                 session shuffle parallelism
    */
  def optimize(zorderBy: Seq[String], numFiles: Option[Int] = None): LakeTable = {
    val n = numFiles.getOrElse(spark.sessionState.conf.numShufflePartitions)
    val cols = zorderBy.map(col)
    maintenanceRewrite(
      "OPTIMIZE", Map("zOrderBy" -> zorderBy.mkString(","), "numFiles" -> n.toString),
      _.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*))
  }

  /** Shared shape of every content-preserving reorganization (compact /
    * the three optimize curves): one [[stagedSwap]] of the file list
    * captured at entry, in the table's own layout. On a flat layout the
    * staged input is pinned to exactly those files (the rewrite is a
    * pure function of them), so a version race lost only to pure appends
    * REBASES (the appended files ride the manifest through untouched,
    * see [[occResolve]]) instead of failing. A shallow clone (its
    * referenced files aren't locally listable) or a Hive-partitioned
    * layout (rebased files would ride inside partition dirs) reads the
    * whole table and refuses any interloper.
    */
  private def maintenanceRewrite(
      op: String, params: Map[String, String],
      transform: DataFrame => DataFrame): LakeTable = {
    val parts = partitionColumns()
    val rebase = parts.isEmpty && !isShallowClone
    // base version BEFORE the listing: a commit landing between the two
    // shows up as an interloper AND its files as rebase candidates —
    // never silently dropped, never double-counted (the staged input
    // reads exactly the listed files, not a re-listing)
    val occBase = CommitLog.nextVersion(fs, logDir)
    val base = listDataFiles()
    stagedSwap(Some(transform(if (rebase) readFiles(base) else read)), op, params,
      occBase, replaced = Some(base), rebase = rebase, partitionCols = Some(parts))
  }

  /** Size-targeted compaction: pick the output file count from the
    * table's CURRENT on-disk bytes so files land near `targetFileBytes`
    * (default 128 MiB — one HDFS/scan-split per file). This is the
    * small-files fix: a streaming sink or many tiny appends leave
    * thousands of KB-files whose per-file open/footer cost dominates a
    * scan; compaction to split-sized files restores full scan throughput.
    * Sizing reads only filesystem METADATA (O(files) driver-side listing,
    * no data read) before the one distributed rewrite. A Hive-partitioned
    * table keeps its layout (the rewrite goes through
    * [[maintenanceRewrite]], like [[optimize]]).
    */
  def compact(
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Seq.empty): LakeTable = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val f = fs
    // sizing walk: recurse only into DATA children (e.g. a versioned
    // layout's _v* snapshot dirs), never the metadata dirs — the log and
    // changes dirs hold another writer's churning `.tmp_*` publications,
    // and a recursive listFiles stats every entry it enumerated
    // (LocatedFileStatus loads permissions eagerly on local fs), so a
    // tmp vanishing mid-walk threw from a listing that never needed it
    // (witnessed by CrossProcessProbe phase B)
    var bytes = 0L
    def sizeWalk(dir: Path): Unit = f.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) {
        if (!name.startsWith("_") && !name.startsWith(".")) sizeWalk(st.getPath)
        else if (name.startsWith("_v") && name.drop(2).forall(_.isDigit))
          sizeWalk(st.getPath)
      } else if (name.endsWith(".parquet")) bytes += st.getLen
    }
    sizeWalk(new Path(path))
    // a shallow clone's bytes live in the source dir — count the
    // manifest-referenced files so the target file count is right
    cloneManifestFiles.foreach(m => bytes += f.getFileStatus(new Path(m)).getLen)
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    if (zorderBy.nonEmpty) optimize(zorderBy, Some(n))
    else {
      // no cluster keys: plain coalesce-style rewrite, no shuffle order
      // requirements — repartition for even file sizes
      maintenanceRewrite("COMPACT",
        Map("targetFileBytes" -> targetFileBytes.toString, "numFiles" -> n.toString),
        _.repartition(n))
    }
  }

  /** True Morton-curve clustering (numeric columns): rows are tiled by
    * interleaved bit rank ([[ZOrder.withZValue]]), so min/max skipping
    * works on EVERY clustered dimension — linear [[optimize]] clustering
    * only prunes on the leading column. Same cost shape: one stats pass
    * (1-row broadcast agg) + one range shuffle + local sort.
    */
  def optimizeZorder(zorderBy: Seq[String], numFiles: Option[Int] = None): LakeTable = {
    val n = numFiles.getOrElse(spark.sessionState.conf.numShufflePartitions)
    val zCol = "__graft_z"
    // per-dimension resolution shrinks with the column count so the
    // interleaved value always fits a long (Delta ZORDER commonly takes
    // 3-5 columns; 63/4 = 15 bits is still ample for file tiling)
    val bits = math.min(16, 63 / zorderBy.length)
    maintenanceRewrite(
      "OPTIMIZE ZORDER", Map("zOrderBy" -> zorderBy.mkString(","), "numFiles" -> n.toString),
      d => ZOrder.withZValue(d, zorderBy, bits = bits, zCol = zCol)
        .repartitionByRange(n, col(zCol))
        .sortWithinPartitions(col(zCol))
        .drop(zCol))
  }

  /** Hilbert-curve clustering (the liquid-clustering curve): same stats
    * pass + range shuffle + local sort as [[optimizeZorder]], but rows
    * are ordered by [[ZOrder.withHilbertValue]] — consecutive curve
    * positions are grid-adjacent, so each file's span is a compact tile
    * rather than Z-order's diagonal-jump staircase, tightening per-file
    * min/max boxes and improving skipping on every clustered dimension.
    */
  def optimizeHilbert(clusterBy: Seq[String], numFiles: Option[Int] = None): LakeTable = {
    val n = numFiles.getOrElse(spark.sessionState.conf.numShufflePartitions)
    val hCol = "__graft_h"
    val bits = math.min(16, 63 / clusterBy.length)
    maintenanceRewrite(
      "OPTIMIZE HILBERT",
      Map("clusterBy" -> clusterBy.mkString(","), "numFiles" -> n.toString),
      d => ZOrder.withHilbertValue(d, clusterBy, bits = bits, hCol = hCol)
        .repartitionByRange(n, col(hCol))
        .sortWithinPartitions(col(hCol))
        .drop(hCol))
  }

  /** A commit that only ADDED files — existing files (and the rows in
    * them) are untouched, so it cannot logically conflict with a
    * content-preserving reorganization of the pre-existing files.
    * Streaming-sink batches and COPY INTO both land as WRITE APPEND;
    * "RECOVERED WRITE APPEND" is the SAME files-only operation, attributed
    * by crash recovery (completeAppendStage) instead of its writer — a
    * recovery racing a maintenance rewrite must compose like the append
    * it recovers, not refuse as a foreign interloper.
    */
  private def isPureAppend(rec: CommitLog.CommitRecord): Boolean =
    rec.operation == "WRITE APPEND" || rec.operation == "RECOVERED WRITE APPEND"

  /** Test seam: runs after the stage is built, immediately before the
    * OCC decision — OccSpec parks here to land a deterministic
    * interloping commit. No-op in production.
    */
  private[sources] var onStagedForTest: () => Unit = () => ()

  /** Test seam firing AFTER occResolve's interloper listing and before
    * the swap — a commit landed here is invisible to the rebase and
    * exercises the late-append sweep + post-swap audit path.
    */
  private[sources] var onResolvedForTest: () => Unit = () => ()

  /** Test seam: runs after the dynamic-overwrite pre-check, before the
    * data write — OccSpec lands an interloper here to drive the
    * post-mutation conflict branch deterministically. No-op in
    * production.
    */
  private[sources] var onPartitionsPreCheckedForTest: () => Unit = () => ()

  /** Optimistic concurrency with logical conflict RESOLUTION (Delta's
    * ConcurrentModificationException contract, VLDB'20 §3.2): a staged
    * replacement derives its output from the version `expected` its
    * caller read; if another writer committed since, swapping it in
    * could silently UNDO that commit (lost update). Called immediately
    * before the swap's point of no return.
    *
    * When the caller declared its staged output a content-preserving
    * function of exactly `baseFiles` (compaction / clustering — never
    * DML, whose read set is the whole table) and every interloper is a
    * pure append, the commits are logically disjoint: the appended files
    * (current listing minus base) are returned for the caller to pass
    * through the swap manifest untouched, and both operations land. At
    * 100 TB this is what lets a compaction cadence coexist with
    * streaming sinks instead of retry-storming against them. Anything
    * else — a DML interloper, or an op that declared no base — fails the
    * LATER writer, whose caller retries against the new state.
    *
    * The version is read AFTER the rebase listing, as late as possible:
    * an append landing between the two is accounted by the swap's
    * late-append sweep. Returns (rebase set, log version at that read) —
    * the caller re-reads the version after its swap and refuses to
    * commit on top of anything that landed in between (the residual,
    * metadata-only window Delta closes with its atomic log commit).
    */
  private def occResolve(
      expected: Long, op: String, baseFiles: Option[Set[String]]): (Seq[String], Long) = {
    // the rebase set: files on disk that the stage did not derive from.
    // Pure appends never remove files, so base - current = empty and
    // current - base = exactly the concurrent additions
    val rebased = baseFiles match {
      case Some(base) if CommitLog.nextVersion(fs, logDir) != expected =>
        listDataFiles().map(_._1).filterNot(base.contains).sorted
      case _ => Nil
    }
    // deterministic-interleave seam: a commit landed here is seen by the
    // version check below, but not by the rebase listing above
    onResolvedForTest()
    val now = CommitLog.nextVersion(fs, logDir)
    val compatible = now == expected || baseFiles.isDefined && {
      val interlopers = CommitLog.recordsSince(fs, logDir, expected)
      interlopers.nonEmpty && interlopers.forall(isPureAppend)
    }
    if (!compatible)
      throw new java.util.ConcurrentModificationException(
        s"$op at $path conflicts with a concurrent commit: staged against " +
          s"version ${expected - 1}, table is now at ${now - 1} — retry the " +
          "operation against the current table state")
    (rebased, now)
  }

  /** Record per-file min/max/null-count stats for `cols` under
    * `_graft_stats` — the Delta data-skipping analogue ([[readWhere]]
    * consumes them). One column-pruned pass over the table, grouped by
    * `input_file_name()`: the shuffle carries one tiny row per file, and
    * only the statted columns are read from disk.
    *
    * Staleness is handled structurally, not by invalidation bookkeeping:
    * stats are keyed by file path and parquet files are immutable, so a
    * stats row is valid exactly as long as its file exists. A swap that
    * replaces every file (an Overwrite, stats-less DML, maintenance)
    * drops the stats dir with the old files, BY DESIGN: the files it
    * described are gone. A selective swap carries it through beside the
    * untouched files, whose rows stay valid; rewritten and appended
    * files simply have no stats row and are never pruned until the next
    * [[collectStats]] or (cheaper) [[refreshStats]].
    *
    * @param bloomFor  columns additionally getting a PER-FILE bloom
    *                  filter — Delta's bloom filter index analogue,
    *                  decisive for point lookups on high-cardinality
    *                  columns where range-clustering can't help and
    *                  every file's min/max overlaps. Sized by
    *                  `bloomNumBits` (default 2^20 bits =
    *                  128 KB/file/column, ~1% fpp at 100k distinct
    *                  values per file) — size to expected rows per file.
    */
  def collectStats(
      cols: Seq[String],
      bloomFor: Seq[String] = Seq.empty,
      bloomNumItems: Long = 100000L,
      bloomNumBits: Long = 1L << 20): LakeTable = {
    require(!isShallowClone,
      s"collectStats on a shallow clone would record source-file paths the " +
        "pruner cannot serve — materialize() first")
    // RAW rows, not the DV-filtered view: `input_file_name()` must see
    // the scan directly (a join would blank it), and stats that include
    // deleted rows are merely conservative — min/max can only widen, so
    // pruning keeps a file it could have skipped, never skips one it
    // needed. The predicate re-applies row-level either way.
    val data = readRaw
    val all = (cols ++ bloomFor).distinct
    val missing = all.filterNot(data.columns.contains)
    require(all.nonEmpty && missing.isEmpty,
      s"collectStats columns not in table: ${missing.mkString(", ")}")
    val aggs = statsAggs(all, bloomFor, bloomNumItems, bloomNumBits)
    val stats = data
      .groupBy(input_file_name().as(FileStats.FileCol))
      .agg(aggs.head, aggs.tail: _*)
    // one parquet file: stats are O(files) rows — list-scale, not data-scale
    stats.coalesce(1).write.mode(SaveMode.Overwrite).parquet(statsDir)
    commit("COLLECT STATS", statsParams(all, bloomFor, bloomNumItems, bloomNumBits))
    this
  }

  private def statsAggs(
      all: Seq[String], bloomFor: Seq[String],
      bloomNumItems: Long, bloomNumBits: Long): Seq[Column] =
    all.flatMap { c =>
      Seq(
        min(col(c)).as(FileStats.minCol(c)),
        max(col(c)).as(FileStats.maxCol(c)),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(FileStats.nullsCol(c)))
    } ++ bloomFor.map(c =>
      FileStats.bloomAgg(col(c), bloomNumItems, bloomNumBits).as(FileStats.bloomCol(c))
    ) :+ count(lit(1)).as(FileStats.RowsCol)

  private def statsParams(
      all: Seq[String], bloomFor: Seq[String],
      bloomNumItems: Long, bloomNumBits: Long): Map[String, String] =
    Map("columns" -> all.mkString(",")) ++
      (if (bloomFor.isEmpty) Map.empty
       else Map(
         "bloomColumns" -> bloomFor.mkString(","),
         "bloomNumItems" -> bloomNumItems.toString,
         "bloomNumBits" -> bloomNumBits.toString))

  /** Incrementally extend the stats table to files appended since the
    * last [[collectStats]]: scan ONLY the unstatted files, reusing the
    * last collection's column + bloom spec from its commit record, and
    * drop orphaned rows for files a selective rewrite replaced. At
    * 100 TB this makes stats maintenance O(new data) per ingest cycle
    * instead of a full-table rescan — the same reason Delta computes
    * stats at write time. No-op (no commit) when every live file
    * already has a stats row and no orphans exist.
    */
  def refreshStats(): LakeTable = {
    require(!isShallowClone,
      s"refreshStats on a shallow clone would record source-file paths the " +
        "pruner cannot serve — materialize() first")
    require(fs.exists(new Path(statsDir)),
      s"no stats to refresh at $path — run collectStats first")
    val spec = lastStatsSpec.getOrElse(
      throw new IllegalStateException(s"no COLLECT STATS commit found at $path"))
    val (all, bloomFor, items, bits) = spec
    val live = listDataFiles()
    val liveRel = live.map(_._2).toSet
    val oldByRel = spark.read.parquet(statsDir).withColumn("__graft_rel",
      FileStats.schemelessFile(col(FileStats.FileCol)))
    // orphan cleanup joins relationally (no giant IN list at millions of
    // files); the statted-path set collect is O(files) driver rows, the
    // same ceiling listDataFiles already has
    val liveDf = spark.createDataFrame(liveRel.toSeq.map(Tuple1(_))).toDF("__graft_rel")
    val keptOld = oldByRel.join(liveDf, Seq("__graft_rel"), "left_semi")
      .drop("__graft_rel")
    val stattedRel = oldByRel.select("__graft_rel")
      .collect().map(_.getString(0)).toSet
    val newFiles = live.filterNot(t => stattedRel.contains(t._2)).map(_._3)
    val orphans = stattedRel.count(r => !liveRel.contains(r))
    if (newFiles.isEmpty && orphans == 0) return this
    val merged =
      if (newFiles.isEmpty) keptOld
      else {
        val schema = storedSchema.getOrElse(read.schema)
        val aggs = statsAggs(all, bloomFor, items, bits)
        val fresh = readMapped(schema, newFiles)
          .groupBy(input_file_name().as(FileStats.FileCol))
          .agg(aggs.head, aggs.tail: _*)
        keptOld.unionByName(fresh)
      }
    // stage-then-swap: overwriting the dir we are reading from would
    // race the plan's own input
    val staged = s"$statsDir${LakeTable.StageSuffix}"
    merged.coalesce(1).write.mode(SaveMode.Overwrite).parquet(staged)
    fs.delete(new Path(statsDir), true)
    if (!fs.rename(new Path(staged), new Path(statsDir)))
      throw new java.io.IOException(s"could not swap refreshed stats into $statsDir")
    commit("COLLECT STATS", statsParams(all, bloomFor, items, bits) ++ Map(
      "incremental" -> "true",
      "filesScanned" -> newFiles.size.toString,
      "orphansDropped" -> orphans.toString))
    this
  }

  /** The (columns, bloomColumns, bloomNumItems, bloomNumBits) of the most
    * recent COLLECT STATS commit — the spec [[refreshStats]] re-applies.
    */
  private def lastStatsSpec: Option[(Seq[String], Seq[String], Long, Long)] = {
    CommitLog.records(fs, logDir).reverseIterator.collectFirst {
      case text if text.contains(""""operation":"COLLECT STATS"""") =>
        def param(k: String): Option[String] = {
          val prefix = s""""$k":""""
          val i = text.indexOf(prefix)
          if (i < 0) None
          else {
            val start = i + prefix.length
            val end = text.indexOf('"', start)
            if (end > start) Some(text.substring(start, end)) else Some("")
          }
        }
        (param("columns").toSeq.flatMap(_.split(",").filter(_.nonEmpty)),
          param("bloomColumns").toSeq.flatMap(_.split(",").filter(_.nonEmpty)),
          param("bloomNumItems").map(_.toLong).getOrElse(100000L),
          param("bloomNumBits").map(_.toLong).getOrElse(1L << 20))
    }
  }

  /** Read with file-level data skipping: plan the scan over ONLY the
    * files whose recorded stats admit a `cond` match (see
    * [[FileStats.canMatch]]), keeping files with no stats row (e.g.
    * appended after the last [[collectStats]]) unpruned. The predicate
    * is re-applied row-level, so the result ALWAYS equals
    * `read.where(cond)` — stats only shrink the file list. Falls back
    * to a plain filtered read when no stats exist.
    */
  /** Derive predicates over GENERATED columns from a predicate over
    * their SOURCE columns — Delta's generated-column partition pruning.
    * For a recognized MONOTONE generation expression g = f(src)
    * (to_date, cast-to-date, date_trunc, year), a range or equality
    * conjunct on src implies the corresponding bound on g: every row
    * with `src >= lo` has `g = f(src) >= f(lo)`. So `WHERE ts BETWEEN a
    * AND b` prunes a to_date(ts)-partitioned table's directories (and
    * its file stats) without the user ever mentioning the partition
    * column. Unrecognized generation expressions and non-range
    * conjuncts derive nothing — the sound default. (month/day alone are
    * deliberately NOT recognized: month(ts) is not monotone across
    * years, and a derived bound from it would be wrong.)
    */
  private[graft] def derivedGeneratedFilters(cond: Column): Seq[Column] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    val gens = generatedColumns
    if (gens.isEmpty) return Seq.empty
    val dtPat = "^date_trunc\\(\\s*'(year|quarter|month|week|day|hour)'\\s*,\\s*`?(\\w+)`?\\s*\\)$".r
    val tdPat = "^to_date\\(\\s*`?(\\w+)`?\\s*\\)$".r
    val castPat = "^cast\\(\\s*`?(\\w+)`?\\s+as\\s+date\\s*\\)$".r
    val yrPat = "^year\\(\\s*`?(\\w+)`?\\s*\\)$".r
    val maps: Seq[(String, String, Column => Column)] = gens.toSeq.flatMap {
      case (g, e) => e.trim.toLowerCase match {
        case tdPat(src)       => Some((src, g, (c: Column) => to_date(c)))
        case castPat(src)     => Some((src, g, (c: Column) => c.cast("date")))
        case dtPat(unit, src) => Some((src, g, (c: Column) => date_trunc(unit, c)))
        case yrPat(src)       => Some((src, g, (c: Column) => year(c)))
        case _                => None
      }
    }
    if (maps.isEmpty) return Seq.empty
    // Spark 4 user Columns are opaque ColumnNode wrappers, not Catalyst
    // trees — ANALYZE the filter against the table to get a resolved
    // condition (with the analyzer's implicit casts on the literals),
    // then pattern-match that. Analysis is driver-only, no jobs.
    val conds = read.where(cond).queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def name(a: Expression): Option[String] = a match {
      case ar: AttributeReference => Some(ar.name)
      case ua: UnresolvedAttribute => Some(ua.nameParts.last)
      case _ => None
    }
    // the comparison's value side after analysis: a literal, usually
    // wrapped in the analyzer's implicit cast — any foldable tree with
    // no column references transplants safely into a fresh filter
    def bound(e: Expression): Option[Column] =
      if (e.foldable) Some(org.apache.spark.sql.GraftBridge.column(e)) else None
    conds.flatMap(conjuncts).flatMap { c =>
      maps.flatMap { case (src, g, f) =>
        def hits(a: Expression) = name(a).exists(_.equalsIgnoreCase(src))
        val d: Option[Column] = c match {
          // f monotone nondecreasing: strict bounds weaken to inclusive
          // ones on g (f(x) > f(lo) does NOT follow from x > lo, but
          // f(x) >= f(lo) always does)
          case GreaterThanOrEqual(a, v) if hits(a) => bound(v).map(b => col(g) >= f(b))
          case GreaterThan(a, v) if hits(a)        => bound(v).map(b => col(g) >= f(b))
          case LessThanOrEqual(a, v) if hits(a)    => bound(v).map(b => col(g) <= f(b))
          case LessThan(a, v) if hits(a)           => bound(v).map(b => col(g) <= f(b))
          case EqualTo(a, v) if hits(a)            => bound(v).map(b => col(g) === f(b))
          case GreaterThanOrEqual(v, a) if hits(a) => bound(v).map(b => col(g) <= f(b))
          case GreaterThan(v, a) if hits(a)        => bound(v).map(b => col(g) <= f(b))
          case LessThanOrEqual(v, a) if hits(a)    => bound(v).map(b => col(g) >= f(b))
          case LessThan(v, a) if hits(a)           => bound(v).map(b => col(g) >= f(b))
          case EqualTo(v, a) if hits(a)            => bound(v).map(b => col(g) === f(b))
          case _ => None
        }
        d
      }
    }
  }

  def readWhere(cond: Column): DataFrame = {
    // strengthen with implied generated-column bounds BEFORE pruning:
    // they drive both Hive partition-dir pruning (planning-time, via
    // the scan filter) and the file-stats prune below
    val full = derivedGeneratedFilters(cond).foldLeft(cond)(_ && _)
    // a shallow clone has no usable stats (see prunedFiles) — correct,
    // just unpruned; parquet row-group min/max still applies in-scan
    if (isShallowClone) return read.where(full)
    val files = prunedFiles(full)
    if (files.isEmpty) read.where(full).where(lit(false))
    else {
      // basePath keeps Hive-partition columns derivable from the dirs
      // even though the scan names leaf files explicitly
      val scan = storedSchema match {
        case Some(s) => readMapped(s, files, basePath = Some(path))
        case None => spark.read.option("basePath", path).parquet(files: _*)
      }
      applyDeletionVectors(scan).where(full)
    }
  }

  /** Every live data file as (name relative to the table dir,
    * scheme-less path, full path). Side dirs (log/changes/stats) and
    * non-parquet files are excluded.
    */
  private def listDataFiles(): Seq[(String, String, String)] = {
    // a concurrent writer's committer creates and removes _temporary
    // entries between the recursive walk's readdir and its stat — the
    // walk then throws mid-iteration (FileNotFound on most stores; on
    // the local FS a RuntimeException from the permission shell-out).
    // The listing is merely STALE, not wrong: take it again, bounded.
    var attempt = 0
    var last: Throwable = null
    while (attempt < 6) {
      try return listDataFilesOnce()
      catch {
        case e: java.io.FileNotFoundException =>
          last = e; attempt += 1; Thread.sleep(20L * attempt)
        case e: RuntimeException
            if e.getMessage != null && e.getMessage.contains("file permissions") =>
          last = e; attempt += 1; Thread.sleep(20L * attempt)
      }
    }
    throw last
  }

  private def listDataFilesOnce(): Seq[(String, String, String)] = {
    val f = fs
    val rootUri = new Path(path).toUri.getPath
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val it = f.listFiles(new Path(path), true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val rel = p.toUri.getPath
      val relToTable = rel.stripPrefix(rootUri).stripPrefix("/")
      // any underscore-prefixed segment is metadata, not data: the named
      // side dirs, their `__staging` swap dirs (a crashed stats refresh
      // must not leave phantom "data" files), and parquet's own _-files
      val inSide = relToTable.split("/").exists(_.startsWith("_"))
      if (!inSide && p.getName.endsWith(".parquet"))
        out += ((relToTable, rel, p.toString))
    }
    out.toSeq
  }

  /** The file list [[readWhere]] would scan — exposed so tests and
    * probes can measure skipping directly.
    *
    * Two collection strategies, same result: below
    * [[LakeTable.PruneDriverThresholdKey]] files the stats verdicts are
    * collected into one driver map (cheapest at dashboard scale); above
    * it the file list JOINS the stats table and only the SURVIVING
    * paths come back to the driver — at millions of files with a
    * selective predicate, the driver materializes thousands of rows,
    * not millions. (The initial FS listing is still driver-side — the
    * same log-replay ceiling Delta has — but the per-file prune verdict
    * no longer is.) A stats row whose path fails to join (exotic
    * URI encoding) is simply never pruned — wrong answers are
    * impossible, only missed skipping.
    */
  def prunedFiles(cond: Column): Seq[String] = {
    require(!isShallowClone,
      s"prunedFiles on a shallow clone cannot see the manifest-referenced " +
        "source files — materialize() first (readWhere falls back to an " +
        "unpruned read)")
    val all = listDataFiles().map(t => (t._2, t._3))
    if (!fs.exists(new Path(statsDir))) return all.map(_._2).toSeq
    FileStats.resolvedPredicate(read, cond) match {
      case None => all.map(_._2).toSeq // filter dissolved: nothing to prune on
      case Some(resolved) => prunedFilesResolved(resolved, all)
    }
  }

  /** [[prunedFiles]] for an ALREADY-RESOLVED predicate — the entry point
    * for [[graft.plans.LakeSkippingRule]], which holds the optimizer's
    * resolved filter condition rather than a user Column.
    */
  private[graft] def prunedFilesResolved(
      resolvedIn: org.apache.spark.sql.catalyst.expressions.Expression,
      allIn: Seq[(String, String)] = null): Seq[String] = {
    val all = Option(allIn).getOrElse(listDataFiles().map(t => (t._2, t._3)))
    if (!fs.exists(new Path(statsDir))) return all.map(_._2).toSeq
    // under column mapping, predicate pushdown rewrites filters through
    // the logical->physical alias projection, so resolved attributes
    // carry PHYSICAL names — while the stats table speaks LOGICAL names.
    // Map them back or every mapped column silently stops pruning.
    val resolved = {
      val inv = columnMapping._1.map(_.swap)
      if (inv.isEmpty) resolvedIn
      else resolvedIn.transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if inv.contains(a.name) => a.withName(inv(a.name))
      }
    }
    // verdict per STATTED file; files with no stats row are kept by
    // both strategies (missing map key / missing join partner)
    def keepCols(columns: Seq[String]): Seq[Column] = {
      val statted = columns
        .filter(_.endsWith("__graft_min")).map(_.stripSuffix("__graft_min")).toSet
      val bloomed = columns
        .filter(_.endsWith("__graft_bloom")).map(_.stripSuffix("__graft_bloom")).toSet
      Seq(
        FileStats.schemelessFile(col(FileStats.FileCol)).as("__graft_rel"),
        coalesce(FileStats.canMatch(resolved, statted, bloomed), lit(false))
          .as("__graft_keep"))
    }
    val threshold = spark.conf
      .get(LakeTable.PruneDriverThresholdKey, LakeTable.PruneDriverThresholdDefault)
      .toInt
    if (all.size <= threshold) {
      // driver-side verdict, NO Spark action and no Dataset: the
      // (signature-keyed) snapshot holds the stats rows as a
      // LocalRelation, and the verdict projection is evaluated directly
      // over its rows
      val stats = LakeTable.statsSnapshot(spark, fs, statsDir)
      val decided = LakeTable
        .evalLocal(spark, stats, keepCols(stats.output.map(_.name)))
        .map(r => Option(r(0)).map(_.toString).orNull -> (r(1) == true))
        .toMap
      all.collect { case (rel, full) if decided.getOrElse(rel, true) => full }.toSeq
    } else {
      // the dir, not a part* glob: parquet skips _-prefixed files
      // itself, and the glob makes FileStreamSink's metadata probe
      // log a spurious FileNotFoundException warn per read
      val stats = spark.read.parquet(statsDir)
      val keep = stats.select(keepCols(stats.columns.toSeq): _*)
      val filesDf = spark.createDataFrame(all).toDF("__graft_rel", "__graft_full")
      filesDf.join(keep, Seq("__graft_rel"), "left")
        .where(coalesce(col("__graft_keep"), lit(true)))
        .select("__graft_full")
        .collect().map(_.getString(0)).toSeq
    }
  }

  private def statsDir: String = s"$path/${LakeTable.StatsDirName}"

  /** Whether the table currently carries file stats. A FULL staged
    * rewrite (a merge whose key set touches every file, compact without
    * selective scope) drops the stats dir with the old table dir — the
    * maintenance callers that keep pruning alive incrementally
    * ([[refreshStats]]) must re-seed with [[collectStats]] in that case
    * rather than assume the dir survived.
    */
  def hasStats: Boolean = fs.exists(new Path(statsDir))

  /** Commit history as a DataFrame (DESCRIBE HISTORY substitute).
    *
    * Stable columns: version (long), operation (string), timestamp
    * (string). `operationParameters` is a struct whose fields depend on
    * the operations present, so it only exists once the table has commits
    * — code touching it must handle a fresh table.
    */
  def history: DataFrame = CommitLog.history(spark, fs, path, logDir)

  /** The table's latest committed version (-1 for an empty log) — the
    * watermark a derived artifact (standing index, materialized view)
    * stamps at build time so serving can detect base drift.
    */
  def currentVersion: Long = CommitLog.nextVersion(fs, logDir) - 1

  /** The highest committed version a change-feed consumer may fold up
    * to. Change sets publish AFTER their commit record
    * (immutable-once-visible), so a consumer that bounds its work by
    * the committed latest can race the publication rename: the set's
    * commit is in the log, its `v{n}` dir is not yet listable, and a
    * fold that advances its watermark past that version skips the delta
    * FOREVER — the set's later publication triggers a no-op batch below
    * the watermark. The frontier stops just below the first
    * claimed-but-unpublished change set; every version at or below it
    * is final and listable. A crashed writer's claimed-unpublished
    * stage stalls the frontier — consumers correctly wait rather than
    * diverge — until [[vacuumDebris]] publishes the claimed stage.
    * Commits that claim no change set (appends without the feed,
    * OPTIMIZE, stats) never gate the frontier.
    */
  def publishedFrontier(fromExclusive: Long): Long = {
    val latest = currentVersion
    // MONOTONE by contract: the caller's watermark proves commits up to
    // `fromExclusive` exist, so a listing that sees fewer (the log dir
    // is briefly ABSENT while a staged swap's gather holds it — a torn
    // currentVersion reads -1) must report "nothing new", never a
    // regressed frontier. Before this clamp, a maintenance trigger
    // landing in that window folded nothing and RE-STAMPED its index at
    // -1, and the next trigger audited v0 ("recorded no change feed")
    // and killed the stream — caught live by CrossProcessProbe phase C.
    if (latest <= fromExclusive) return fromExclusive
    val changesDir = new Path(path, LakeTable.ChangesDirName)
    val records = CommitLog.recordsSince(fs, logDir, fromExclusive + 1)
    // a set VACUUMED by retention is published-then-removed, not
    // pending — it must not gate the frontier, or a consumer whose
    // watermark fell behind retention would silently stall forever
    // instead of reaching readChanges' loud vacuum-horizon failure
    val vacuumed: Set[Long] = records
      .flatMap(_.params.get(LakeTable.VacuumChangesRemovedParam))
      .flatMap(_.split(',').iterator.filter(_.nonEmpty).map(_.toLong))
      .toSet
    records
      .filter(r => r.version <= latest && !vacuumed.contains(r.version) &&
        r.params.contains(LakeTable.ChangeStageParam))
      .map(_.version).sorted
      .find(v => !fs.exists(new Path(changesDir, s"v$v"))) match {
      case Some(unpublished) => unpublished - 1
      case None              => latest
    }
  }

  /** Atomic commit (see [[CommitLog.append]]); returns the version won.
    * Every `spark.graft.lake.checkpointInterval`-th commit (default 100)
    * folds the log into one checkpoint file, so log reads stay O(1 +
    * commits-since-checkpoint) over a table's whole life — a streaming
    * sink committing per batch would otherwise grow every log consumer
    * linearly and forever.
    */
  private def commit(op: String, params: Map[String, String]): Long = {
    val v = CommitLog.append(fs, logDir, op, params,
      spark.conf.get(LakeTable.CheckpointIntervalKey,
        LakeTable.CheckpointIntervalDefault).toInt)
    // interop mirror AFTER the commit: the manifest reflects only
    // committed state, and a metadata-only commit just rewrites the
    // identical listing (the cost is one recursive list, paid only when
    // the table opted in)
    maintainSymlinkManifest()
    v
  }

  /** Exactly-once twin-safe commit ([[CommitLog.appendIfAbsent]]): the
    * attribution of a marked stage both a live writer and a concurrent
    * recovery hold. Commits `(op, params)` unless a commit at or after
    * `base` already carries `keyParam -> keyValue` — then adopts it.
    * Returns the attributing commit's version either way.
    */
  private def commitIfAbsent(
      op: String, params: Map[String, String],
      keyParam: String, keyValue: String, base: Long): Long = {
    val (v, byUs) = CommitLog.appendIfAbsent(fs, logDir, op, params,
      keyParam, keyValue, base,
      spark.conf.get(LakeTable.CheckpointIntervalKey,
        LakeTable.CheckpointIntervalDefault).toInt)
    if (byUs) maintainSymlinkManifest()
    v
  }

  /** The recovery twin's attribution of a completed swap stage. A swap
    * uuid in the pending params keys a [[commitIfAbsent]] (exactly-once
    * against the live writer AND against a crash that died between the
    * writer's own commit and its stage teardown — the re-walked marked
    * stage adopts instead of re-recording); a pre-uuid marker keeps the
    * old unconditional behavior (at worst one spurious RECOVERED entry,
    * metadata-only, as always documented).
    */
  private def recoveredSwapCommit(op: String, params: Map[String, String]): Unit =
    params.get(LakeTable.SwapStageParam) match {
      case Some(id) =>
        commitIfAbsent(s"RECOVERED $op", params,
          LakeTable.SwapStageParam, id, 0L): Unit
      case None => commit(s"RECOVERED $op", params): Unit
    }
}

object LakeTable {

  /** True iff a value of `from` converts to `to` losslessly — the
    * numeric TYPE-WIDENING lattice (Delta 3.x/4.x type widening parity):
    * integral up-casts along byte→short→int→long, float→double,
    * integral→double, decimal precision growth that keeps both the
    * integer digits and the scale non-shrinking, and integral→decimal
    * wide enough to hold every value of the source type. Appends whose
    * column is NARROWER than the stored type up-cast silently (value-
    * safe, Delta's implicit cast); a WIDER incoming type evolves the
    * stored schema under `mergeSchema`/`schemaEvolution`, and old data
    * files read through the parquet reader's native widening
    * (SPARK-40876 line — verified on this Spark: int32 files read as
    * LONG/DOUBLE/DECIMAL, float as DOUBLE, decimals rescale).
    * Everything else — including every narrowing — stays a schema error.
    */
  private[sources] def widens(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intDigits(dt: DataType): Int = dt match {
      case ByteType => 3; case ShortType => 5; case IntegerType => 10
      case LongType => 19; case _ => Int.MaxValue
    }
    (from, to) match {
      case (f, t) if f == t => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      // double's 53-bit mantissa holds every int exactly; NOT long
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case (f @ (ByteType | ShortType | IntegerType | LongType), t: DecimalType) =>
        t.precision - t.scale >= intDigits(f)
      case _ => false
    }
  }

  /** `primary` with each field's type replaced by `other`'s when the
    * other's is strictly wider on the [[widens]] lattice — the shared
    * monotone merge both the write path ([[LakeTable.saveSchema]]: a
    * narrow writer must not un-widen the stored schema) and the append
    * crash recovery (the marker merge: promoted files physically hold
    * the wide encoding) apply, so a lattice change lands in ONE place.
    * `appendMissing` additionally appends `other`-only fields (the
    * recovery merge's union shape; the write path keeps the caller's
    * exact field set).
    */
  private[sources] def widerOf(
      primary: StructType, other: StructType, appendMissing: Boolean): StructType = {
    val byKey = other.fields
      .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
    val widened = primary.fields.map { pf =>
      byKey.get(pf.name.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(of) if widens(pf.dataType, of.dataType) =>
          pf.copy(dataType = of.dataType)
        case _ => pf
      }
    }
    val missing =
      if (!appendMissing) Array.empty[StructField]
      else other.fields.filterNot(f =>
        primary.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    StructType(widened ++ missing)
  }

  val LogDirName = "_graft_log"
  val ChangesDirName = "_graft_changes"
  val StatsDirName = "_graft_stats"
  // merge-on-read deletion vectors: one `d<uuid>` dir per DELETE, each
  // claimed by its commit's DvDirParam — unclaimed dirs are invisible
  val DvDirName = "_graft_dv"
  val DvDirParam = "dvDir"
  val DvFileCol = "_dv_file"
  val DvRowCol = "_dv_row"
  // COPY INTO loaded-file ledgers: `_copied_<uuid>` files in the log dir,
  // each claimed by its append-commit's CopyLedgerParam
  val CopyLedgerParam = "copyLedger"

  /** Commit param listing the change-set versions a VACUUM CHANGES
    * removed — [[LakeTable.readChanges]] derives its resume floor from it.
    */
  val VacuumChangesRemovedParam = "removedVersions"

  // shallow-clone manifest: `_graft_clone/manifest` lists the absolute
  // source data files the clone reads (see LakeTable.cloneTo)
  val CloneDirName = "_graft_clone"
  val CloneManifestName = "manifest"
  val StageSuffix = "__staging"
  /** Sibling file claiming the single staged-rewrite slot of a table —
    * see [[LakeTable.claimStage]].
    */
  val StageClaimSuffix = "__staging_claim"

  /** Test seam: decorate the METADATA FileSystem every lake operation
    * (swap phases, commit claims, LakeIo publications, DV/stats/ledger
    * gating) runs through — the crash-injection harness
    * (CrashInjectionSpec) substitutes a fused fs that dies at the Nth
    * mutation and stays dead, walking every filesystem operation of the
    * swap/publish/commit sequence mechanically instead of relying on
    * hand-picked interleavings. Spark's executor-side data writes keep
    * their real fs: data files land whole; the sequence under test is
    * the driver-side metadata protocol.
    */
  @volatile private[graft] var fsDecoratorForTest: FileSystem => FileSystem =
    identity(_)
  // dynamic-partition-overwrite stages: uuid-suffixed so concurrent
  // disjoint-partition writers never share a committer _temporary dir
  val PartStageSuffix = "__staging_part_"
  // appendExpecting's quarantine sibling: OUTSIDE the table dir so the
  // staged-swap protocol (which replaces the table dir wholesale) can
  // never erase the audit trail
  val QuarantineSuffix = "__quarantine"
  // how old an orphaned part-stage must be before vacuumDebris reclaims
  // it — a live concurrent writer's in-flight stage must survive the
  // vacuum (mutable only for tests)
  private[graft] var PartStageRetentionMs: Long = 4L * 3600 * 1000
  // swap point-of-no-return marker inside a staged dir; lists the
  // untouched data files a selective rewrite pulls through the swap
  val SwapManifestName = "__graft_swap_manifest"

  /** Commit param carrying a staged swap's uuid — the attribution
    * idempotence key (the swap analogue of [[AppendStageParam]]): a
    * recovery that completes a marked swap commits RECOVERED with the
    * pending op's params including this id, and the live writer racing
    * that recovery sees the id in the log and adopts the attribution
    * instead of double-committing or refusing its own recovery as a
    * foreign interloper.
    */
  val SwapStageParam = "swapStage"

  /** In-JVM serialization of [[completeSwap]] per stage path — see the
    * twin-attempt note there. Keyed by stage path (one live entry per
    * table; stages are fixed-name slots, so the map is bounded by table
    * count like [[LakeIo]]'s publish locks).
    */
  private[sources] val swapLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // append promotion set: marks a private append stage as past its point
  // of no return (see appendViaStage / completeAppendStage); the stage
  // uuid rides in the pending op under AppendStageParam as the
  // recovery-attribution idempotence key
  val AppendManifestName = "__graft_append_manifest"
  val AppendStageParam = "appendStage"
  // marker-only param carrying the batch's schema json (stripped before
  // any commit): recovery saves it so an evolved append whose writer died
  // pre-saveSchema still reads with its new columns
  val AppendSchemaParam = "appendSchemaJson"

  /** Shared parse of the esc'd op+params header the pending-op file and
    * the append manifest both carry: line 0 = esc(op), then
    * esc(k)\tesc(v) lines. One parser, so an escaping change can never
    * drift between the two marker kinds.
    */
  private[sources] def parseOpHeader(header: Seq[String]): (String, Map[String, String]) = {
    val params = header.drop(1).filter(_.nonEmpty).flatMap { l =>
      l.split("\t", 2) match {
        case Array(k, v) => Some(CommitLog.unesc(k) -> CommitLog.unesc(v))
        case _           => None
      }
    }.toMap
    (CommitLog.unesc(header.headOption.getOrElse("")), params)
  }
  // underscore prefix keeps it out of listDataFiles and every scan
  val SymlinkManifestDirName = "_symlink_format_manifest"
  // op name + params of the rewrite that staged the swap, so crash
  // recovery can commit "RECOVERED <op>" instead of attributing the
  // data change to the vacuum that merely finished it
  val PendingOpFileName = "__graft_pending_op"
  // every data-file name the staged op's snapshot accounted for — the
  // complement completeSwap's late-append sweep preserves
  val KnownFilesName = "__graft_known_files"
  // the old table-dir children the swap's clear phase will delete,
  // persisted in the stage BEFORE any deletion so a crashed swap's
  // resume re-deletes exactly the same set and can never mistake an
  // already-placed new file for old debris
  val SwapClearName = "__graft_swap_clear"
  // change-set staging dirs under _graft_changes: dot-prefixed so the
  // `v*` glob and Spark's listing never see a set before its commit
  // publishes it (rename to v<actual> AFTER the commit record lands)
  val ChangeStagePrefix = ".stage_"
  // commit param naming the staged change set a commit publishes —
  // vacuumDebris publishes claimed-but-unrenamed stages (crash between
  // commit and publication) and deletes unclaimed ones
  val ChangeStageParam = "changeStage"
  // no .json suffix: CommitLog treats only *.json under the log dir as commits
  val SchemaFileName = "_schema"
  val ConstraintsFileName = "_constraints"
  // table properties (SET TBLPROPERTIES), constraints-style storage
  val PropertiesFileName = "_properties"

  /** Table property: when "true", every commit regenerates the symlink
    * manifest (Delta's `delta.compatibility.symlinkFormatManifest
    * .enabled` analogue) so external symlink readers never read a stale
    * file list.
    */
  val SymlinkAutoProperty = "graft.compatibility.symlinkFormatManifest.enabled"

  /** Run `body`, retrying when a file vanishes mid-scan because a
    * concurrent staged rewrite swapped the table underneath the plan.
    *
    * A lake read is a DIRECTORY scan (one listing at plan time), so a
    * writer's swap — which must delete superseded files immediately, or
    * fresh listings would double-read old+new — can unlink a file an
    * in-flight plan already listed. Spark then fails the task
    * (`FAILED_READ_FILE.FILE_NOT_EXIST`) rather than silently dropping
    * rows, which makes the failure RETRYABLE by construction: a re-run
    * re-lists and sees a consistent post-swap snapshot, never a torn
    * mix. Every continuous CDC consumer (view refresh streams, index
    * maintenance, replica apply) routes its per-trigger work through
    * this — their refreshes derive all work from committed watermarks
    * and mutate only via atomic staged commits, so a retried attempt
    * either no-ops or converges on newer state. Bounded: a genuinely
    * missing file (not a swap race) still surfaces after `attempts`.
    */
  def retryTornRead[T](what: String, attempts: Int = 8, backoffMs: Long = 250L)(
      body: => T): T = {
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: Throwable if isTornRead(e) && attempt < attempts =>
          // a swap won the race — re-plan against the new snapshot
          attempt += 1
          Thread.sleep(backoffMs)
      }
    }
    throw new IllegalStateException(s"unreachable: $what")
  }

  /** The retryable-by-construction failure family [[retryTornRead]]
    * absorbs — public so one-shot clients (and the probes) can classify
    * a caught failure the same way.
    */
  def isTornRead(e: Throwable): Boolean = {
    var c: Throwable = e
    while (c != null) {
      // ChecksumException: the local ChecksumFs renames a file and its
      // .crc sidecar as TWO ops, so a read racing an atomic overwrite
      // can briefly pair new bytes with the old checksum — transient
      // by the same argument as the vanished-file case
      if (c.isInstanceOf[java.io.FileNotFoundException] ||
          c.isInstanceOf[org.apache.hadoop.fs.ChecksumException] ||
          (c.getMessage != null && (c.getMessage.contains("FAILED_READ_FILE") ||
            // local-fs listing race: a directory entry (e.g. another
            // writer's .tmp_ publication) vanished between readdir and
            // the eager permission stat LocatedFileStatus performs — a
            // re-list converges exactly like the vanished-file case
            c.getMessage.contains("Error while running command to get file permissions"))))
        return true
      c = if (c.getCause != c) c.getCause else null
    }
    false
  }
  // generated-column declarations (name -> SQL expr), constraints-style
  val GeneratedFileName = "_generated"
  // identity-column declarations (name -> start/step), constraints-style
  val IdentityFileName = "_identity"
  // column-mapping declarations (logical -> physical + retired physicals)
  val ColMapFileName = "_colmap"
  // commit-param prefix recording each identity column's next free value
  // after an allocating commit — the crash-safe high-water mark (an
  // allocation is visible iff its commit landed)
  val IdentityHwmParamPrefix = "identityHwm_"

  /** Above this many data files, [[LakeTable.prunedFiles]] switches from
    * collecting every stats verdict to a join that returns only the
    * surviving paths. Session conf so tests and giant tables can move it.
    */
  val PruneDriverThresholdKey = "spark.graft.lake.pruneDriverThreshold"
  val PruneDriverThresholdDefault = "1000"

  /** Max SINGLE-KEY source DISTINCT keys for which a selective MERGE
    * prunes with an exact IN-list (bloom-filter-engaging point lookups)
    * instead of a min/max range — the IN-list is collected to the
    * driver, so it stays bounded. Streaming CDC batches are typically
    * far below this.
    */
  val MergeInListThresholdKey = "spark.graft.lake.mergeInListThreshold"
  val MergeInListThresholdDefault = "256"

  /** Stats rows the snapshot cache retains across all tables (one row
    * per statted data file); least recently used tables go first.
    */
  private val StatsCacheMaxRows = 65536L

  /** Driver-side snapshot cache for SMALL stats tables (the
    * under-[[PruneDriverThresholdKey]] prune path): the stats rows as a
    * LocalRelation, keyed by the stats dir's exact file signature — name,
    * length, mtime of every parquet file — so any rewrite, including one
    * by ANOTHER process, invalidates on the next call's listing. This is
    * METADATA caching (the same class as Spark's file-listing cache),
    * never query results: the prune verdict is recomputed from the rows
    * per call. Payoff: repeat prunes against an unchanged stats version
    * skip the per-call `spark.read.parquet(stats).collect()` — one
    * distributed action per selective DML/readWhere saved, at any scale.
    */
  private val statsCache = new StatsSnapshotCache(StatsCacheMaxRows)

  private[sources] def statsSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      statsDir: String): LocalRelation = {
    val sig = fs.listStatus(new org.apache.hadoop.fs.Path(statsDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .mkString("|")
    statsCache.get(statsDir, sig).getOrElse {
      val df = spark.read.parquet(statsDir)
      val rel = LocalRelation.fromExternalRows(
        DataTypeUtils.toAttributes(df.schema), df.collect().toSeq)
      statsCache.put(statsDir, sig, rel)
      rel
    }
  }

  /** Evaluate `cols` over the rows of `rel` on the driver, one output
    * array per row: the projection is analyzed once, runtime-replaceable
    * expressions are swapped for their replacements (the optimizer's
    * `ReplaceExpressions`, without which they cannot evaluate), and the
    * bound expressions are evaluated row by row — the same interpreted
    * evaluation `ConvertToLocalRelation` would run, minus the Dataset
    * encoder, the optimizer pass and the physical `collect`.
    */
  private[sources] def evalLocal(
      spark: SparkSession, rel: LocalRelation, cols: Seq[Column]): Seq[Array[Any]] = {
    val plan = Project(cols.map(GraftBridge.namedExpression(spark, _)), rel)
    val analyzed = spark.sessionState.analyzer
      .executeAndCheck(plan, new QueryPlanningTracker)
    val exprs = ReplaceExpressions(analyzed) match {
      case Project(list, child: LocalRelation) =>
        list.map(BindReferences.bindReference(_: Expression, child.output))
      case other =>
        throw new IllegalStateException(s"unexpected analyzed stats projection:\n$other")
    }
    rel.data.map(r => exprs.map(_.eval(r)).toArray)
  }

  /** Fold the commit log into a checkpoint every N commits (see
    * [[CommitLog.records]]); `<= 0` disables. Session conf so streaming
    * tests can tighten it and exotic deployments can turn it off.
    */
  val CheckpointIntervalKey = "spark.graft.lake.checkpointInterval"
  val CheckpointIntervalDefault = "100"

  def apply(spark: SparkSession, path: String): LakeTable =
    new LakeTable(spark, path)
}
