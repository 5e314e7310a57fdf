package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type 2 maintenance (SURVEY §2 A3 depth).
  *
  * The reference's ETL rebuilds dimension snapshots per load
  * (/root/reference/00-etl-rwd.py:158-200 re-creates `rwd_hls` dims from
  * the latest extract, losing prior attribute values); a warehouse at
  * scale keeps the HISTORY instead — Kimball Type 2: each attribute
  * change closes the open row (`valid_to` = change date) and opens a new
  * one, so as-of joins against the dimension reconstruct any past state.
  *
  * [[applyType2]] is the pure batch core: one update batch against the
  * current dimension state. The plan is two key-joins, both
  * shuffle-partitioned on the dimension key and AQE-broadcastable when
  * the update batch is small — the common case at scale, where a daily
  * batch touches a tiny fraction of a billion-row dimension:
  *
  *   - target side: ONE left_outer join of the OPEN rows against the
  *     updates; carried rows (no match / no tracked change) and closed
  *     rows (a tracked change: `valid_to` stamped, flag dropped) are a
  *     single conditional projection — never two passes over the
  *     dimension.
  *   - source side: one left_outer from the updates against a
  *     keys+tracked column-pruned slice of the open rows; rows that are
  *     brand-new keys or tracked changes become the new open versions.
  *   - closed history passes through untouched (filter, no join).
  *
  * Guarantees mirrored from warehouse MERGE contracts: at most one
  * update per key per batch (enforced — two updates for one key in one
  * batch is ambiguous Type 2), tracked-change detection is null-safe
  * (`<=>`), and an update identical to the open row is a no-op rather
  * than a spurious new version.
  */
object Scd {

  /** Apply one batch of updates to a Type-2 dimension.
    *
    * @param current   dimension state: key + attribute columns plus
    *                  `validFrom`, `validTo` (null = open) and
    *                  `currentFlag` (true = open row)
    * @param updates   one row per changed/new key: key + attribute
    *                  columns plus `effectiveCol` (the change date that
    *                  stamps closed rows' `validTo` and new rows'
    *                  `validFrom`)
    * @param keys      dimension natural key
    * @param tracked   attribute columns whose change opens a new version;
    *                  non-listed attributes ride along (new versions take
    *                  the update's values, carried rows keep the old)
    */
  def applyType2(
      current: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      tracked: Seq[String],
      effectiveCol: String = "effective_date",
      validFrom: String = "valid_from",
      validTo: String = "valid_to",
      currentFlag: String = "is_current"): DataFrame = {
    val meta = Seq(validFrom, validTo, currentFlag)
    val attrs = current.columns.filterNot(c => keys.contains(c) || meta.contains(c)).toSeq
    require(keys.nonEmpty && keys.forall(current.columns.contains),
      s"keys $keys must exist in the dimension")
    require(tracked.nonEmpty && tracked.forall(attrs.contains),
      s"tracked columns $tracked must be non-key attribute columns")
    require(meta.forall(current.columns.contains),
      s"dimension must carry $meta columns")
    require((keys ++ attrs :+ effectiveCol).forall(updates.columns.contains),
      s"updates must carry ${keys ++ attrs :+ effectiveCol}")

    // one update per key per batch: two versions opening on the same
    // effective batch is ambiguous Type 2 — fail loudly, like MERGE's
    // duplicate-source-key contract
    val dupes = updates.groupBy(keys.map(col): _*).count().filter(col("count") > 1)
    require(dupes.isEmpty, s"updates contain duplicate keys on $keys")

    val open = current.filter(col(currentFlag))
    val closedHistory = current.filter(!col(currentFlag))

    // explicit match markers (merge()'s __graft_m idiom): a nullable key
    // or a legitimately-null tracked column must not be mistaken for
    // "no join partner"
    val sMark = "__graft_s"
    val tMark = "__graft_t"

    def changed: Column = col(sMark).isNotNull &&
      tracked.map(c => !(col(s"t.$c") <=> col(s"s.$c"))).reduce(_ || _)

    // target side: carried AND closed-out rows in ONE projection over one
    // left_outer scan of the open rows (old attribute values stay on the
    // closed row — only validity metadata changes)
    val targetOut = open.alias("t")
      .join(updates.withColumn(sMark, lit(true)).alias("s"), keys.toIndexedSeq, "left_outer")
      .select(
        keys.map(col) ++ attrs.map(c => col(s"t.$c").as(c)) ++ Seq(
          col(s"t.$validFrom").as(validFrom),
          when(changed, col(s"s.$effectiveCol")).otherwise(col(s"t.$validTo")).as(validTo),
          (col(s"t.$currentFlag") && !changed).as(currentFlag)
        ): _*)

    // source side: new open versions for tracked changes and brand-new
    // keys. Only keys + tracked columns of the open rows are read here —
    // the scan is column-pruned to the comparison set
    val openSlice = open.select((keys ++ tracked).map(col): _*).withColumn(tMark, lit(true))
    val newOpen = updates.alias("s")
      .join(openSlice.alias("t"), keys.toIndexedSeq, "left_outer")
      .filter(col(tMark).isNull ||
        tracked.map(c => !(col(s"t.$c") <=> col(s"s.$c"))).reduce(_ || _))
      .select(
        keys.map(col) ++ attrs.map(c => col(s"s.$c").as(c)) ++ Seq(
          col(s"s.$effectiveCol").as(validFrom),
          lit(null).cast(current.schema(validTo).dataType).as(validTo),
          lit(true).as(currentFlag)
        ): _*)

    closedHistory.unionByName(targetOut).unionByName(newOpen)
  }

  /** The dimension AS OF an instant: the one version per key whose
    * validity interval covers `at` (open rows cover everything from
    * their `validFrom`). A filter, not a join — partition pruning and
    * predicate pushdown apply as usual.
    */
  def asOf(
      dim: DataFrame, at: Column,
      validFrom: String = "valid_from",
      validTo: String = "valid_to"): DataFrame =
    dim.where(col(validFrom) <= at &&
      (col(validTo).isNull || at < col(validTo)))

  /** Point-in-time join — the payoff operation for Type-2 history: each
    * fact row joins the dimension version that was valid AT ITS OWN
    * time, so historical facts carry historical attributes instead of
    * today's. One equi-join on the dimension key with the validity
    * interval as a post-condition; Spark plans the usual key-shuffled
    * (or broadcast, for small dims) hash join, and each fact row matches
    * exactly one version because Type-2 intervals partition the
    * timeline ([[applyType2]] guarantees non-overlap).
    */
  def pointInTimeJoin(
      fact: DataFrame, dim: DataFrame,
      keys: Seq[String], factTimeCol: String,
      validFrom: String = "valid_from",
      validTo: String = "valid_to"): DataFrame = {
    val cond = keys.map(k => fact(k) === dim(k)).reduce(_ && _) &&
      dim(validFrom) <= fact(factTimeCol) &&
      (dim(validTo).isNull || fact(factTimeCol) < dim(validTo))
    keys.foldLeft(fact.join(dim, cond, "inner"))((df, k) => df.drop(dim(k)))
  }

  /** CDC APPLY (the `APPLY CHANGES INTO` idiom Databricks DLT popularized,
    * Type 1): fold an out-of-order, possibly-redundant change feed into
    * the target. Per key only the row with the HIGHEST `sequenceCol`
    * value wins (late-arriving older events are discarded, exact
    * re-deliveries are idempotent); a winning `opCol = 'delete'` removes
    * the key, anything else upserts the payload. One window (top-1 per
    * key by sequence) + ONE keyed [[LakeTable.merge]] — at 100 TB the
    * feed batch shuffles once on the key and the merge rewrites only
    * stats-admissible files.
    *
    * EXACT re-deliveries (bit-identical rows — at-least-once transport)
    * dedupe away first and are therefore idempotent; remaining ties on
    * (key, sequence) carry DIFFERENT content, are ambiguous CDC (which
    * op won?), and are REJECTED — feed a tiebreaking sequence (e.g.
    * LSN, struct of (ts, offset)) instead.
    */
  def applyChanges(
      lake: LakeTable,
      changes: DataFrame,
      keys: Seq[String],
      sequenceCol: String,
      opCol: String = "_op",
      changeFeed: Boolean = false): LakeTable = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(sequenceCol).desc)
    val ranked = changes.dropDuplicates()
      .withColumn("__rn", row_number().over(w))
      .withColumn("__rk", rank().over(w))
    // rank != row_number at the top marks a (key, sequence) tie
    val ties = ranked.where(col("__rn") === 2 && col("__rk") === 1).limit(1).count()
    require(ties == 0L,
      s"applyChanges: tied $sequenceCol values within a key — the winning " +
        "operation is ambiguous; supply a tiebreaking sequence")
    val latest = ranked.where(col("__rn") === 1).drop("__rn", "__rk")
    val payload = lake.read.columns.filterNot(keys.contains)
    lake.merge(
      latest, keys,
      whenMatched = Seq(
        MergeClause.DeleteWhen(Some(col("s." + opCol) === "delete")),
        MergeClause.UpdateWhen(
          payload.map(c => c -> col("s." + c)).toMap)),
      insertUnmatched = true,
      insertCond = Some(col(opCol) =!= "delete"),
      changeFeed = changeFeed,
      extraParams = Map("applyChanges" -> "true", "sequenceBy" -> sequenceCol))
  }

  /** Continuous CDC replication (the downstream-replica pattern): tail
    * `source`'s change data feed and fold every delivered batch into
    * `target` through [[applyChanges]]. The sequence is
    * (commit version, postimage-beats-preimage): an UPDATE's preimage
    * and postimage share a commit version, so the priority bit makes
    * the postimage win deterministically instead of tripping the tie
    * guard. Restart safety: a replayed batch re-applies the identical
    * fold and converges (exact re-deliveries dedupe away inside
    * applyChanges); cross-batch ordering rides the change-feed source's
    * monotone version delivery.
    */
  def applyChangesStream(
      source: LakeTable,
      target: LakeTable,
      keys: Seq[String],
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()
  ): org.apache.spark.sql.streaming.StreamingQuery =
    source.readChangesStream.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val feed = b
          .withColumn("_op",
            when(col("_change_type").isin("insert", "update_postimage"),
              "upsert").otherwise("delete"))
          .withColumn("_seq", struct(col("_commit_version").as("v"),
            when(col("_change_type").isin("insert", "update_postimage"), 1)
              .otherwise(0).as("pri")))
          .drop("_change_type", "_commit_version")
        // the feed rows are immutable change sets, but the merge into
        // the target lists the target dir and reads its schema — the
        // retry (one atomic merge, idempotent by content) survives a
        // torn scan under concurrent maintenance on the target
        if (!b.isEmpty)
          LakeTable.retryTornRead("replica apply") {
            applyChanges(target, feed, keys, "_seq")
          }: Unit
      }
      .trigger(trigger)
      .start()

  /** [[applyType2]] against a [[LakeTable]]: reads the dimension, applies
    * the batch, commits the new state as one `SCD2` log entry — history,
    * time travel and the change feed come from the lake layer for free.
    */
  def applyToLake(
      lake: LakeTable,
      updates: DataFrame,
      keys: Seq[String],
      tracked: Seq[String],
      effectiveCol: String = "effective_date",
      extraParams: Map[String, String] = Map.empty): LakeTable = {
    // OCC base before the read: a commit landing meanwhile refuses the swap
    val occBase = lake.currentVersion + 1
    val next = applyType2(lake.read, updates, keys, tracked, effectiveCol)
    // staged swap, not write(Overwrite): the plan READS the table it
    // replaces, so the new state must land beside the old and swap in
    lake.stagedSwap(Some(next), "SCD2",
      Map("keys" -> keys.mkString(",")) ++ extraParams, occBase)
  }
}
